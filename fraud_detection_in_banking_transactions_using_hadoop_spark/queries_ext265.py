"""Extension batch 265 (round 13): streaming MDCT -- the 37th live
replay, and the first with OVERLAP-WINDOW carried state.

A transform codec over a stream cannot emit a block until the block's
full 2N-sample window has arrived, and 50% overlap means the last
(up to 2N) samples of every batch belong to blocks the NEXT batch
completes. The carried state per media is therefore

  (n_seen, buf_start, buf, coeffs)

where `buf` holds ONLY the samples the next unemitted block still
needs (bounded by 2N + batch granularity regardless of stream length
-- the boundedness contract the pytest asserts), and `coeffs` is the
append-only quantized output. Each micro-batch appends its samples,
emits every block whose window is now complete, and drops the buffer
prefix below the next block's start. End-of-stream flushes the
zero-padded tail blocks.

Exactness: the emitted coefficient sequence must equal the ONE-SHOT
encode_mdct of the full signal (same integer table, same rdiv), so
the final stats are byte-identical to the batch query -- the DuckDB
oracle IS ext262's _mdct_sql() replay, making an early emit, a lost
buffer prefix, or an off-by-one window boundary a hash mismatch.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401 (plan-gate imports)

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
    MDCT_BITS,
    MDCT_N,
    MDCT_QUANT,
    mdct_frame_count,
    mdct_rdiv,
    mdct_table,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext172 import _md5_media
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext262 import _mdct_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_N_SAMPLES = 30


def mdct_stream_step(state: dict, arrivals: list[tuple[int, int]]) -> dict:
    """Fold one batch of (k, sample) arrivals (in k order, contiguous
    from state['n_seen']) into the carried MDCT state. Emits every
    block whose 2N window is complete; keeps only the suffix of
    samples the next block needs. Shared by the replay and its
    batch-cut pytest."""
    T = mdct_table()
    N = MDCT_N
    n_seen, buf_start = state["n_seen"], state["buf_start"]
    buf = list(state["buf"])
    coeffs = list(state["coeffs"])
    for k, s in arrivals:
        assert k == n_seen, (k, n_seen)
        buf.append(int(s))
        n_seen += 1
    next_f = len(coeffs) // N
    while next_f * N + N <= n_seen:
        start = next_f * N - N
        for kk in range(N):
            acc = 0
            for n in range(2 * N):
                m = start + n
                if 0 <= m < n_seen:
                    acc += T[kk][n] * buf[m - buf_start]
            coeffs.append(mdct_rdiv(acc, MDCT_QUANT[kk] << MDCT_BITS))
        next_f += 1
        keep_from = max(next_f * N - N, 0)
        if keep_from > buf_start:
            buf = buf[keep_from - buf_start :]
            buf_start = keep_from
    return {
        "n_seen": n_seen,
        "buf_start": buf_start,
        "buf": buf,
        "coeffs": coeffs,
    }


def mdct_stream_flush(state: dict, total_len: int) -> list[int]:
    """End-of-stream: emit the remaining zero-padded tail blocks so the
    coefficient list equals encode_mdct(full signal)."""
    T = mdct_table()
    N = MDCT_N
    buf, buf_start = state["buf"], state["buf_start"]
    coeffs = list(state["coeffs"])
    nb = mdct_frame_count(total_len)
    for f in range(len(coeffs) // N, nb):
        start = f * N - N
        for kk in range(N):
            acc = 0
            for n in range(2 * N):
                m = start + n
                if 0 <= m < total_len:
                    acc += T[kk][n] * buf[m - buf_start]
            coeffs.append(mdct_rdiv(acc, MDCT_QUANT[kk] << MDCT_BITS))
    return coeffs


@register(
    "streaming_mdct_replay",
    _mdct_sql(),
    tags=("streaming", "multimodal", "codec", "stateful", "replay"),
)
def q_streaming_mdct_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live MDCT over three in-order micro-batches of 10 samples per
    media (module docstring): the carried per-media state holds only
    the next block's window suffix plus the emitted coefficients;
    batch cuts land mid-block, so an eager emit or dropped overlap
    mismatches the one-shot codec -- and the oracle is the BATCH
    query's SQL replay, so the hash gate proves streamed == one-shot
    end to end."""
    import tempfile
    from pathlib import Path

    import numpy as np

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        fold_state,
        replay_files,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_mdct,
    )

    base = Path(tempfile.mkdtemp(prefix="mdct_stream_"))
    src, state_dir = base / "src", base / "state"

    # r14 negative A/B: spread() on this scan measured 10.3 s warm vs
    # 9.2 s unspread -- the replay is trigger/IO-bound (3 parquet
    # writes + 3 micro-batches), not explode-bound; kept unspread.
    raw = _md5_media(read_table(spark, sf_dir, "documents"))

    import pandas as pd
    from pyspark.sql import types as T

    feed_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("k", T.LongType()),
            T.StructField("s", T.LongType()),
        ]
    )

    def to_samples(batches):
        for pdf in batches:
            out = {"media_id": [], "k": [], "s": []}
            for row in pdf.itertuples():
                smp = np.frombuffer(bytes(row.content), dtype="<i2")
                for k, s in enumerate(smp):
                    out["media_id"].append(row.media_id)
                    out["k"].append(k)
                    out["s"].append(int(s))
            yield pd.DataFrame(out)

    feed = raw.mapInPandas(to_samples, feed_schema).localCheckpoint(eager=True)
    for p, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30)], start=1):
        feed.where((F.col("k") >= lo) & (F.col("k") < hi)).coalesce(
            1
        ).write.parquet(str(src / f"part{p}"))

    def fold(batch_df, batch_id):
        # Arrow transfer, not .collect(): 50k Row objects per batch cost
        # ~10x the raw ints (the r11 CRC-replay lesson)
        pdf = batch_df.orderBy("media_id", "k").toPandas()
        per: dict = {}
        for mid, k, sv in zip(pdf["media_id"], pdf["k"], pdf["s"]):
            per.setdefault(int(mid), []).append((int(k), int(sv)))

        def advance(prev):
            states = {} if prev is None else {
                int(m): st
                for m, st in json.loads(prev.first()["payload"]).items()
            }
            for mid, arr in per.items():
                st = states.get(
                    mid,
                    {"n_seen": 0, "buf_start": 0, "buf": [], "coeffs": []},
                )
                states[mid] = mdct_stream_step(st, arr)
            # ONE payload row per batch (the elo pattern): 5k per-media rows
            # through py4j cost ~1 s/batch; a single JSON blob is one row
            payload = json.dumps({str(m): st for m, st in states.items()})
            return spark.createDataFrame([(payload,)], "payload string")

        fold_state(spark, str(state_dir), advance, f"mdct{batch_id}")

    replay_files(spark, str(src / "part*"), feed.schema, fold)

    import math

    states = {
        int(m): st
        for m, st in json.loads(
            spark.read.parquet(str(state_dir)).first()["payload"]
        ).items()
    }
    fpdf = feed.toPandas().sort_values(["media_id", "k"])
    mids = fpdf["media_id"].to_numpy()
    svals = fpdf["s"].to_numpy()
    order = sorted(states)
    smat = svals.reshape(len(order), _N_SAMPLES)
    samples = {int(m): smat[i] for i, m in enumerate(sorted(set(mids)))}
    out_rows = []
    for mid in sorted(states):
        coeffs = mdct_stream_flush(states[mid], _N_SAMPLES)
        s64 = np.array(
            [samples[mid][k] for k in range(_N_SAMPLES)], dtype=np.int64
        )
        shat = decode_mdct(coeffs, _N_SAMPLES).astype(np.int64)
        ss = int((s64 * s64).sum())
        se = int(((s64 - shat) ** 2).sum())
        out_rows.append(
            (
                mid,
                _N_SAMPLES,
                len(coeffs),
                sum(1 for c in coeffs if c != 0),
                None if se == 0 else round(10.0 * math.log10(ss / se), 4),
                int(np.abs(s64 - shat).max()),
            )
        )
    return spark.createDataFrame(
        out_rows,
        "media_id long, n_samples long, n_coeffs long,"
        " nonzero_coeffs long, snr_db double, max_abs_error long",
    )
