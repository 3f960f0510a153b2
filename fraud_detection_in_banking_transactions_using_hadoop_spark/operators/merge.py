"""MERGE INTO (upsert) emulation for keyed Parquet tables.

Without a transactional table format (Delta/Iceberg jars are not in this
environment), upsert = anti-join the target against the updates, union,
rewrite -- the same write-then-swap shape the streaming lookup merge uses.
On a real deployment this maps 1:1 onto `MERGE INTO` of a lakehouse
format; the operator keeps the engine's semantics identical either way.

Scale: one shuffle on the key for the anti-join (or zero if both sides
are bucketed on the key); the rewrite is sized by the target table --
partition the target (e.g. by key range or date) and merge only touched
partitions to avoid full rewrites at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Rows of `updates` win on key collision; target rows without a
    matching update survive. Returns the merged frame (caller writes it).
    `updates` must have one row per key (enforce upstream with argmax)."""
    surviving = target.join(updates.select(key), key, "left_anti")
    return surviving.unionByName(updates.select(*target.columns))


def hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem serving `path`, plus the py4j JVM handle."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _rename_or_raise(fs, src, dst) -> None:
    """HDFS-style FileSystem.rename reports failure by returning false
    (permissions, missing parent, concurrent writer) rather than raising.
    A silently-failed swap would leave the target missing/stale while the
    checkpoint marks the batch committed -- so raise, let foreachBatch
    fail, and let the checkpoint replay + recover_table heal on restart."""
    if not fs.rename(src, dst):
        raise IOError(f"FileSystem.rename failed: {src} -> {dst}")


def _sweep_stale_stages(fs, jvm, target: str) -> None:
    """Delete leftover `__stage_*` dirs from crashed earlier swaps.
    Tokens are batch-unique, so a crash between the staging write and the
    first rename orphans a full table copy that no later call touches.
    Callers invoke this only when no swap is in flight (right after a
    successful swap, or at recovery when the target is healthy) -- the
    single-writer-per-table model the streaming merge already assumes."""
    P = jvm.org.apache.hadoop.fs.Path
    for s in fs.globStatus(P(target + "__stage_*")) or []:
        fs.delete(s.getPath(), True)


def write_staged(df: DataFrame, target_path: str, token: str) -> str:
    """Write `df` to the token-unique staging dir beside `target_path`
    (two concurrent callers or a leftover dir can't collide) and return
    that dir. Nothing is visible at the target until `publish_staged`."""
    staging = f"{target_path.rstrip('/')}__stage_{token}"
    df.write.mode("overwrite").parquet(staging)
    return staging


def publish_staged(spark: SparkSession, staging: str, target_path: str) -> None:
    """Swap a completely written staging dir in as the target: move the
    current table aside, rename staging into place, drop the old copy,
    sweep stale stages. Both renames are metadata-only, so the
    no-current-table window is one rename; `recover_table` heals it."""
    target = target_path.rstrip("/")
    fs, jvm = hadoop_fs(spark, target)
    P = jvm.org.apache.hadoop.fs.Path
    old = P(target + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(P(target)):
        _rename_or_raise(fs, P(target), old)
    _rename_or_raise(fs, P(staging), P(target))
    fs.delete(old, True)
    _sweep_stale_stages(fs, jvm, target)


def atomic_overwrite(df: DataFrame, target_path: str, token: str) -> None:
    """Crash-safe overwrite of a Parquet directory.

    The naive `read staging -> mode('overwrite') target` deletes the target
    and then spends the whole rewrite window with no table on disk -- a
    crash there loses the table and a checkpoint replay reruns against
    nothing. Instead: `write_staged` then `publish_staged`.
    """
    publish_staged(df.sparkSession, write_staged(df, target_path, token), target_path)


def recover_table(spark: SparkSession, target_path: str) -> bool:
    """Heal an interrupted `atomic_overwrite` swap. If the target exists,
    no-op. Otherwise promote the newest COMPLETE staging dir (_SUCCESS
    marker present -- it finished writing before the swap began), else the
    `__old` backup. Returns True if a recovery action was taken."""
    target = target_path.rstrip("/")
    fs, jvm = hadoop_fs(spark, target)
    P = jvm.org.apache.hadoop.fs.Path
    if fs.exists(P(target)):
        # healthy table; a crash after staging but before the first rename
        # can still have orphaned a full-size __stage_* copy -- sweep it
        _sweep_stale_stages(fs, jvm, target)
        return False
    stages = fs.globStatus(P(target + "__stage_*")) or []
    complete = [s for s in stages if fs.exists(P(str(s.getPath()) + "/_SUCCESS"))]
    if complete:
        best = max(complete, key=lambda s: s.getModificationTime())
        _rename_or_raise(fs, best.getPath(), P(target))
        # the backup is superseded; a stale __old would corrupt the next
        # swap's rename-aside
        if fs.exists(P(target + "__old")):
            fs.delete(P(target + "__old"), True)
    elif fs.exists(P(target + "__old")):
        _rename_or_raise(fs, P(target + "__old"), P(target))
    else:
        raise FileNotFoundError(f"no table, staging, or backup at {target}")
    return True


def merge_upsert_path(
    spark: SparkSession, target_path: str, updates: DataFrame, key: str,
    token: str = "merge",
) -> None:
    """Upsert into a keyed Parquet table in place (parquet cannot be
    overwritten while being read) via the crash-safe rename swap."""
    recover_table(spark, target_path)
    target = spark.read.parquet(target_path)
    merged = merge_upsert(target, updates, key)
    atomic_overwrite(merged, target_path, token)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    change_ts_col: str,
    tracked_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current rows whose
    tracked attributes changed (set valid_to), append the new versions
    (valid_from = change ts, valid_to = NULL).

    dim schema: key, *tracked_cols, valid_from, valid_to (NULL = current).
    changes schema: key, *tracked_cols, change_ts_col.
    """
    cur = dim.filter(F.col("valid_to").isNull())
    hist = dim.filter(F.col("valid_to").isNotNull())

    chg = changes.select(
        key, *tracked_cols, F.col(change_ts_col).alias("_chg_ts")
    )
    joined = cur.alias("c").join(chg.alias("n"), key, "left")
    changed_pred = F.lit(False)
    for c in tracked_cols:
        changed_pred = changed_pred | ~F.col(f"n.{c}").eqNullSafe(F.col(f"c.{c}"))
    has_change = F.col("n._chg_ts").isNotNull() & changed_pred

    closed = joined.select(
        F.col(f"c.{key}").alias(key),
        *[F.col(f"c.{c}").alias(c) for c in tracked_cols],
        F.col("c.valid_from").alias("valid_from"),
        F.when(has_change, F.col("n._chg_ts")).otherwise(F.col("c.valid_to")).alias("valid_to"),
    )
    fresh = (
        joined.filter(has_change)
        .select(
            F.col(f"c.{key}").alias(key),
            *[F.col(f"n.{c}").alias(c) for c in tracked_cols],
            F.col("n._chg_ts").alias("valid_from"),
            F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
        )
    )
    new_keys = chg.join(cur, key, "left_anti").select(
        key, *tracked_cols, F.col("_chg_ts").alias("valid_from"),
        F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
    )
    return hist.unionByName(closed).unionByName(fresh).unionByName(new_keys)


def delete_keys_cascade(
    spark: SparkSession,
    tables: dict[str, str],
    keys: DataFrame,
    token: str = "delete",
) -> dict[str, int]:
    """Right-to-be-forgotten propagation: remove every row matching the
    key set from each keyed Parquet table, atomically per table.

    `tables` maps path -> key column; `keys` is a one-column DataFrame
    of ids to purge. Each table is rewritten as an anti-join behind the
    crash-safe rename swap (readers never see a partial purge; a crash
    mid-table heals via recover_table on next access). Returns
    {path: rows_deleted}.

    Scale: one broadcast anti-join per table (the key set is small --
    deletion requests, not data), and the rewrite cost is the table
    itself: partition the table on something correlated with the key
    (user bucketing) and rewrite only touched partitions to avoid full
    rewrites at 100 TB. On a lakehouse format this maps to DELETE WHERE
    with file-level skipping; the semantics here are identical.
    """
    deleted: dict[str, int] = {}
    for path, key in tables.items():
        recover_table(spark, path)
        current = spark.read.parquet(path)
        key_df = keys.toDF(key)
        n_before = current.count()
        remaining = current.join(F.broadcast(key_df), key, "left_anti")
        atomic_overwrite(remaining, path, f"{token}_{abs(hash(path)) % 10**8}")
        deleted[path] = n_before - spark.read.parquet(path).count()
    return deleted
