"""Sinks (SURVEY.md 2.1, S5/S6/S8/S9/S15).

Parquet (columnar + snappy) replaces the reference's ORC staging tables
(FDProcBatch.txt:204-241) and keyed-Parquet overwrite replaces the HBase
tables (the reference's KV store exists only to serve point lookups; in a
one-engine design the lookup table is an ordinary keyed columnar table that
joins get broadcast against).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def overwrite_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """INSERT OVERWRITE materialization (S5/S6, FDProcBatch.txt:123,262,...).

    `partition_by` maps to hive-style directory partitioning -- at 100 TB
    the partition column choice (e.g. date) is what makes downstream
    partition pruning possible.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def append_parquet(df: DataFrame, path: str) -> None:
    """KV append-put equivalent (S8, HBaseTransLink.java:58-73): append
    scored transactions to the master table. No per-record RPCs -- one
    columnar write per (micro-)batch."""
    df.write.mode("append").parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: co-locates rows by hash(key) at WRITE time so
    later equi-joins/aggregations on `key` between same-bucketed tables run
    with NO shuffle exchange -- the 100 TB answer to 'this join runs every
    hour on the same key'. (Directory-partitioning splits by VALUE for
    pruning; bucketing splits by HASH for join co-location.)
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, key)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def overwrite_keyed_table(df: DataFrame, path: str, key: str, num_buckets: int | None = None) -> None:
    """Keyed-table overwrite (S9/S15): replaces the HBase lookup table
    (FDProcBatch.txt:158-169). The table is small relative to the fact
    tables (one row per card), so consumers broadcast it; repartitioning by
    key keeps file sizes even when it grows.
    """
    out = df.repartition(num_buckets, key) if num_buckets else df.coalesce(1)
    out.write.mode("overwrite").parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    driver: str | None = None,
    mode: str = "append",
    batchsize: int = 10_000,
) -> None:
    """Sqoop-export equivalent: push results back to an RDBMS. One JDBC
    batch insert per partition (batchsize rows per round trip) -- at
    scale, `df.coalesce(n)` first so the database sees a bounded number
    of concurrent writers; the RDBMS, not Spark, is the bottleneck."""
    w = df.write.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        w = w.option("driver", driver)
    w.option("batchsize", str(batchsize)).mode(mode).save()


def compact_table(
    spark,
    path: str,
    target_file_mb: int = 128,
    token: str = "compact",
) -> int:
    """Small-file compaction: rewrite a parquet directory into files
    sized for scan efficiency (the operational chore every streaming
    sink needs -- micro-batch appends accumulate files whose per-file
    open/footer cost eventually dominates scans). Sizing is derived
    from the CURRENT on-disk bytes (compressed), so the rewrite aims at
    target_file_mb regardless of row width. The swap reuses the
    crash-safe rename protocol (operators/merge.py) -- readers never
    see a partial table. Returns the number of output files."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
        atomic_overwrite,
        hadoop_fs,
    )

    fs, jvm = hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    total_bytes = fs.getContentSummary(P(path)).getLength()
    n_files = max(1, int(total_bytes / (target_file_mb * 1024 * 1024)) or 1)
    df = spark.read.parquet(path)
    atomic_overwrite(df.repartition(n_files), path, token)
    return n_files


def audited_overwrite(
    df: DataFrame,
    path: str,
    checks: "list",
    token: str = "wap",
) -> dict:
    """Write-Audit-Publish: stage the new table version, run audit
    checks against the STAGED data, and only then swap it in (the
    crash-safe rename protocol). A failing audit leaves the current
    table untouched and the staging dir on disk for inspection.

    `checks` is a list of (name, fn) where fn(staged_df) -> bool.
    Returns {check_name: passed}; raises ValueError (after writing
    nothing to the live path) if any check fails.

    This is the pattern that stops a bad upstream batch from replacing
    a good table at 100 TB: the audit cost is bounded by the checks
    (usually aggregates -- one scan of the staged version), and the
    publish is two metadata renames.
    """
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
        publish_staged,
        write_staged,
    )

    spark = df.sparkSession
    staging = write_staged(df, path, token)
    staged = spark.read.parquet(staging)
    results = {name: bool(fn(staged)) for name, fn in checks}
    if not all(results.values()):
        failed = [n for n, ok in results.items() if not ok]
        raise ValueError(
            f"write audit failed ({failed}); staging kept at {staging}, "
            f"live table untouched"
        )
    publish_staged(spark, staging, path)
    return results
