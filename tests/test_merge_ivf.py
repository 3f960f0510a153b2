"""Tests: keyed upsert/SCD2 merge, IVF ANN recall, checkpoint restart,
ORC round-trip, format_string."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
    merge_upsert,
    merge_upsert_path,
    scd2_apply,
)


# ------------------------------------------------------------------ merge --
def test_merge_upsert(spark):
    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "card_id long, ucl double"
    )
    updates = spark.createDataFrame([(2, 99.0), (4, 40.0)], "card_id long, ucl double")
    got = {r.card_id: r.ucl for r in merge_upsert(target, updates, "card_id").collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_merge_upsert_path_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.createDataFrame([(1, 10.0)], "card_id long, ucl double").write.parquet(p)
    merge_upsert_path(
        spark, p, spark.createDataFrame([(1, 11.0), (2, 22.0)], "card_id long, ucl double"),
        "card_id",
    )
    got = {r.card_id: r.ucl for r in spark.read.parquet(p).collect()}
    assert got == {1: 11.0, 2: 22.0}


def test_scd2_apply(spark):
    dim = spark.createDataFrame(
        [Row(card_id=1, city="NYC", valid_from="2020-01-01", valid_to=None),
         Row(card_id=2, city="LA", valid_from="2020-01-01", valid_to=None),
         Row(card_id=1, city="BOS", valid_from="2019-01-01", valid_to="2020-01-01")]
    )
    changes = spark.createDataFrame(
        [Row(card_id=1, city="SF", change_ts="2024-06-01"),   # changed
         Row(card_id=2, city="LA", change_ts="2024-06-01"),   # unchanged
         Row(card_id=3, city="CHI", change_ts="2024-06-01")]  # brand new
    )
    out = scd2_apply(dim, changes, "card_id", "change_ts", ["city"]).collect()
    rows = {(r.card_id, r.city, r.valid_from): r.valid_to for r in out}
    assert rows[(1, "NYC", "2020-01-01")] == "2024-06-01"   # closed out
    assert rows[(1, "SF", "2024-06-01")] is None            # new current
    assert rows[(2, "LA", "2020-01-01")] is None            # untouched
    assert rows[(3, "CHI", "2024-06-01")] is None           # inserted
    assert rows[(1, "BOS", "2019-01-01")] == "2020-01-01"   # history kept
    assert len(out) == 5


# -------------------------------------------------------------------- ivf --
def test_ivf_recall_against_bruteforce(spark, sf_dir):
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = vecs.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(vecs, queries, k=3).collect()}
    # full probe == exact search
    full = ivf_cosine_topk(vecs, queries, k=3, n_cells=4, n_probe=4)
    assert {(r.query_id, r.neighbor_id) for r in full.collect()} == exact
    # partial probe: a valid subset with decent recall
    part = {
        (r.query_id, r.neighbor_id)
        for r in ivf_cosine_topk(vecs, queries, k=3, n_cells=4, n_probe=2).collect()
    }
    assert len(part & exact) / len(exact) >= 0.5


# ------------------------------------------------------- checkpoint restart --
def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """T5: restarting from the checkpoint must not rescore batch-1 files
    (exactly-once bookkeeping over the at-least-once Kafka default)."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.scorer import (
        read_payload_file_stream,
        run_scorer,
    )

    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    lookup_dir, master_dir, ckpt = (
        str(tmp_path / "lookup"), str(tmp_path / "master"), str(tmp_path / "ckpt")
    )
    spark.createDataFrame(
        [Row(card_id=1, ucl=100.0, postcode=100, transaction_dt="2024-01-01 10:00:00", score=500)]
    ).write.parquet(lookup_dir)
    zip_geo = spark.createDataFrame(
        [Row(zip="100", lat=40.7, lon=-74.0, city="NYC", state="NY", pos_id="1")]
    )

    def payload(ts):
        return json.dumps(
            {"card_id": 1, "member_id": 1, "amount": 50.0, "pos_id": 1,
             "postcode": 100, "transaction_dt": ts}
        )

    (stream_dir / "b1.json").write_text(payload("2024-01-01 12:00:00"))
    q = run_scorer(read_payload_file_stream(spark, str(stream_dir)), lookup_dir, zip_geo,
                   master_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(master_dir).count() == 1

    # restart with one NEW file; the old file must not be re-ingested
    (stream_dir / "b2.json").write_text(payload("2024-01-01 13:00:00"))
    q2 = run_scorer(read_payload_file_stream(spark, str(stream_dir)), lookup_dir, zip_geo,
                    master_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    rows = spark.read.parquet(master_dir).collect()
    assert len(rows) == 2  # 1 old + 1 new, no duplicates
    assert {r.transaction_dt for r in rows} == {"2024-01-01 12:00:00", "2024-01-01 13:00:00"}

    # full REPLAY (checkpoint wiped, master kept): batches rerun with the
    # same ids and overwrite their own partitions -- master must not grow
    # (idempotent sink, not plain append)
    import shutil

    shutil.rmtree(ckpt)
    q3 = run_scorer(read_payload_file_stream(spark, str(stream_dir)), lookup_dir, zip_geo,
                    master_dir, ckpt)
    q3.processAllAvailable()
    q3.stop()
    assert spark.read.parquet(master_dir).count() == 2


# ---------------------------------------------------------------- orc/fmt --
def test_orc_roundtrip(spark, tmp_path):
    # S5: the reference stages via ORC+Snappy; engine supports both formats.
    p = str(tmp_path / "orc")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    df.write.mode("overwrite").orc(p)
    assert {tuple(r) for r in spark.read.orc(p).collect()} == {(1, "a"), (2, "b")}


def test_format_string_csv_record(spark):
    # F9: "%d,%.2f,%d,%d,%d,%s" record formatting (TransFraudModel.java:56-59)
    df = spark.createDataFrame(
        [(1, 10.5, 100, 2, 3, "GENUINE")],
        "card_id long, amount double, postcode long, pos_id long, member_id long, status string",
    )
    got = df.select(
        F.format_string(
            "%d,%.2f,%d,%d,%d,%s",
            "card_id", "amount", "postcode", "pos_id", "member_id", "status",
        ).alias("rec")
    ).collect()[0]
    assert got.rec == "1,10.50,100,2,3,GENUINE"


# ------------------------------------------- rename failure / stage sweep --
def test_atomic_overwrite_raises_on_failed_rename(spark, tmp_path):
    """Hadoop FileSystem.rename reports failure by returning false; the
    swap must raise so foreachBatch fails and the checkpoint replays,
    instead of silently committing a missing table."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
        _rename_or_raise,
        hadoop_fs,
    )

    fs, jvm = hadoop_fs(spark, str(tmp_path))
    P = jvm.org.apache.hadoop.fs.Path
    # existing destination: rename returns false, not raise (missing-src
    # throws and missing-dest-parent is healed by the local FS copy
    # fallback, so existing-dest is the portable returns-false case)
    (tmp_path / "src").mkdir()
    (tmp_path / "dst").write_text("occupied")
    with pytest.raises(IOError):
        _rename_or_raise(fs, P(str(tmp_path / "src")), P(str(tmp_path / "dst")))


def test_stale_staging_dirs_swept(spark, tmp_path):
    """A crash between staging write and first rename orphans a
    __stage_* dir; the next successful swap (and recovery on a healthy
    table) must delete it instead of accumulating table copies."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
        atomic_overwrite,
        recover_table,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "k")
    df.write.parquet(target)
    # simulate a crashed earlier swap: orphan staging dir with data
    df.write.parquet(target + "__stage_crashed")

    recover_table(spark, target)  # healthy target -> sweep
    assert not (tmp_path / "tbl__stage_crashed").exists()

    df.write.parquet(target + "__stage_crashed2")
    atomic_overwrite(spark.range(3).withColumnRenamed("id", "k"), target, "tok9")
    assert not (tmp_path / "tbl__stage_crashed2").exists()
    assert not (tmp_path / "tbl__stage_tok9").exists()  # own staging renamed away
    assert spark.read.parquet(target).count() == 3


def test_delete_keys_cascade(spark, tmp_path):
    """GDPR-style purge: keys vanish from every table, other rows
    survive, tables stay readable (atomic swap), counts reported."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import delete_keys_cascade

    t1, t2 = str(tmp_path / "master"), str(tmp_path / "lookup")
    spark.range(100).selectExpr("id AS user_id", "id * 2 AS v").write.parquet(t1)
    spark.range(50).selectExpr("id AS user_id", "'x' AS s").write.parquet(t2)
    keys = spark.createDataFrame([(3,), (7,), (999,)], ["user_id"])

    deleted = delete_keys_cascade(spark, {t1: "user_id", t2: "user_id"}, keys)
    assert deleted == {t1: 2, t2: 2}
    for path, n_expected in ((t1, 98), (t2, 48)):
        df = spark.read.parquet(path)
        assert df.count() == n_expected
        assert df.filter(F.col("user_id").isin(3, 7)).count() == 0
