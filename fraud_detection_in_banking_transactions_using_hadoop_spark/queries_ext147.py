"""Extension batch 147 (round 6): two more REAL multimodal codecs --
24-bit BI_RGB BMP (BGR order, bottom-up rows, 4-byte padding: the
quirks that break naive readers) and RIFF/WAVE PCM16 audio (proper
chunk-walk decode) -- both lossless pure-stdlib containers like the
round-5 PNG and round-6 GIF, narrowing the "no real audio container"
note in COVERAGE.md; plus the Rousseeuw-Croux Qn robust scale
estimator (50% breakdown WITHOUT a location estimate -- the scale
companion mad_outliers can't give when the center itself is suspect).

Oracle strategy (multimodal): as with PNG/GIF, the oracle never sees
container bytes -- it recomputes the channel/sample statistics from
the SAME deterministic md5 bytes by hex arithmetic, while the Spark
side must survive a REAL encode -> decode roundtrip (asserted in-op)
to produce matching numbers. Container sizes are format-determined
constants (BMP 118 B for 5x4x24; WAV 104 B for 30 samples), so the
oracle checks them literally.

Scale notes: codec work is Arrow-batched mapInPandas (one pass, no
shuffle); qn_scale_daily's pair table is the CALENDAR-bounded
|days|^2/2 join (hodges_lehmann precedent) with the k-th order
statistic taken by cumulative counts on the |diff| value spine --
never a global sort of pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext172 import _md5_media
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_QN_D = 2.21914  # Qn consistency constant for the normal


_MD5_HEX_SQL = """
    h AS (
      SELECT doc_id AS media_id,
             md5(CAST(doc_id AS VARCHAR) || 'a')
               || md5(CAST(doc_id AS VARCHAR) || 'b')
               || md5(CAST(doc_id AS VARCHAR) || 'c')
               || md5(CAST(doc_id AS VARCHAR) || 'd') AS hex
      FROM documents),
    b AS (
      SELECT media_id, i,
             ('0x' || substr(hex, i * 2 + 1, 2))::BIGINT AS v
      FROM h, (SELECT unnest(range(0, 60)) AS i) idx)
"""


@register(
    "multimodal_bmp_stats",
    f"""
    WITH {_MD5_HEX_SQL},
    px AS (
      SELECT media_id, i // 3 AS p,
             max(CASE WHEN i % 3 = 0 THEN CAST(v AS DOUBLE) END) AS r,
             max(CASE WHEN i % 3 = 1 THEN CAST(v AS DOUBLE) END) AS g,
             max(CASE WHEN i % 3 = 2 THEN CAST(v AS DOUBLE) END) AS bl
      FROM b GROUP BY media_id, i // 3)
    SELECT media_id,
           CAST(118 AS BIGINT) AS n_bytes,
           round(avg(r), 6) AS mean_r,
           round(avg(g), 6) AS mean_g,
           round(avg(bl), 6) AS mean_b,
           round(stddev_pop((r + g + bl) / 3.0), 6) AS std_gray,
           TRUE AS roundtrip_exact
    FROM px GROUP BY media_id
    """,
    tags=("multimodal", "arrow", "codec"),
)
def q_multimodal_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP tier: 60 deterministic md5 bytes become a 4x5 RGB image,
    encode_bmp writes a REAL 24-bit BI_RGB file (bottom-up BGR rows,
    4-byte padding -> the 118-byte size the oracle checks literally),
    decode_bmp reads it back, and the stats come from the DECODED
    pixels with a byte-exact re-encode asserted in-op. The oracle
    recomputes the channel stats from the same md5 bytes by hex
    arithmetic -- a padding/row-order bug would shuffle channels and
    mismatch instantly."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )
    from pyspark.sql import types as T

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("std_gray", T.DoubleType()),
            T.StructField("roundtrip_exact", T.BooleanType()),
        ]
    )

    def op(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for row in pdf.itertuples():
                img = np.frombuffer(bytes(row.content), np.uint8).reshape(4, 5, 3)
                bmp = encode_bmp(img)
                dec = decode_bmp(bmp)
                rgb = dec.astype(np.float64)
                out["media_id"].append(row.media_id)
                out["n_bytes"].append(len(bmp))
                out["mean_r"].append(round(float(rgb[..., 0].mean()), 6))
                out["mean_g"].append(round(float(rgb[..., 1].mean()), 6))
                out["mean_b"].append(round(float(rgb[..., 2].mean()), 6))
                out["std_gray"].append(round(float(rgb.mean(axis=2).std()), 6))
                out["roundtrip_exact"].append(
                    bool((dec == img).all() and encode_bmp(dec) == bmp)
                )
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)


@register(
    "multimodal_wav_stats",
    f"""
    WITH {_MD5_HEX_SQL},
    smp AS (
      SELECT media_id, i // 2 AS k,
             max(CASE WHEN i % 2 = 0 THEN v END)
               + 256 * max(CASE WHEN i % 2 = 1 THEN v END)
               - CASE WHEN max(CASE WHEN i % 2 = 1 THEN v END) >= 128
                      THEN 65536 ELSE 0 END AS s
      FROM b GROUP BY media_id, i // 2),
    zc AS (
      SELECT media_id, s,
             lead(s) OVER (PARTITION BY media_id ORDER BY k) AS s_next
      FROM smp),
    agg AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s * s) AS BIGINT) AS ss,
             CAST(max(abs(s)) AS BIGINT) AS peak,
             CAST(sum(CASE WHEN s * s_next < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zc
      FROM zc GROUP BY media_id)
    SELECT media_id,
           CAST(104 AS BIGINT) AS n_bytes,
           n AS n_samples,
           round(sqrt(CAST(ss AS DOUBLE) / n), 6) AS rms,
           peak AS peak_abs,
           zc AS zero_crossings,
           TRUE AS roundtrip_exact
    FROM agg
    """,
    tags=("multimodal", "arrow", "codec", "audio"),
)
def q_multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV tier -- the first REAL audio container in the multimodal
    surface: 60 md5 bytes become 30 little-endian int16 samples,
    encode_wav writes a canonical RIFF/WAVE PCM16 file (the 104-byte
    size checked literally), decode_wav chunk-walks it back, and RMS /
    peak / zero-crossing stats come from the DECODED samples with the
    roundtrip asserted in-op. RMS folds the exact integer sum of
    squares, so the oracle's hex-arithmetic twin matches to the
    shared double sqrt."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )
    from pyspark.sql import types as T

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("peak_abs", T.LongType()),
            T.StructField("zero_crossings", T.LongType()),
            T.StructField("roundtrip_exact", T.BooleanType()),
        ]
    )

    def op(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for row in pdf.itertuples():
                s = np.frombuffer(bytes(row.content), dtype="<i2")
                wav = encode_wav(s, 8000)
                dec, rate = decode_wav(wav)
                d = dec.astype(np.int64)
                ss = int((d * d).sum())
                out["media_id"].append(row.media_id)
                out["n_bytes"].append(len(wav))
                out["n_samples"].append(int(d.size))
                out["rms"].append(round(float(np.sqrt(ss / d.size)), 6))
                out["peak_abs"].append(int(np.abs(d).max()))
                out["zero_crossings"].append(
                    int(((d[:-1] * d[1:]) < 0).sum())
                )
                out["roundtrip_exact"].append(
                    bool((dec == s).all() and rate == 8000
                         and encode_wav(dec, rate) == wav)
                )
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)


@register(
    "qn_scale_daily",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, cents
      FROM daily),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST((count(*) // 2 + 1) * (count(*) // 2)
                  // 2 AS BIGINT) AS k
      FROM s),
    diffs AS (
      SELECT abs(a.cents - b.cents) AS dv, CAST(count(*) AS BIGINT) AS c
      FROM s a JOIN s b ON a.rn < b.rn
      GROUP BY abs(a.cents - b.cents)),
    ranked AS (
      SELECT dv, sum(c) OVER (ORDER BY dv
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM diffs),
    pick AS (
      SELECT min(r.dv) AS qn_raw
      FROM ranked r CROSS JOIN nn t WHERE r.cc >= t.k)
    SELECT t.n AS n_days, t.k AS order_stat_k,
           round(p.qn_raw / 100.0, 2) AS qn_raw_dollars,
           round({_QN_D!r} * p.qn_raw / 100.0, 2) AS qn_scaled_dollars
    FROM pick p CROSS JOIN nn t
    """,
    tags=("stats", "robust", "scale"),
)
def q_qn_scale_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rousseeuw-Croux Qn scale of daily revenue: the k-th order
    statistic of the C(n,2) pairwise absolute differences, k =
    C(h, 2) with h = n//2 + 1, scaled by 2.21914 for normal
    consistency. 50% breakdown and ~82% efficiency WITHOUT ever
    estimating a center (MAD needs the median first). The pair join
    is calendar-bounded; the selection is exact cumulative counts on
    the |diff| value spine -- integers end to end until the final
    scale multiply."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # r14 (the hodges_lehmann fold class): the C(n,2) |diff| pair join
    # + unpartitioned cumulative-count window cost ~4 s at sf0.1 for a
    # CALENDAR-BOUNDED day spine (2,405 rows). Collect the daily cents
    # once and select the k-th order statistic exactly in Python:
    # binary search on the integer diff value, two-pointer count of
    # pairs (i < j) with c_j - c_i <= probe over the sorted cents. The
    # smallest x with count_le(x) >= k IS min(dv | cumulative count >=
    # k) of the old spine. qn_raw/n/k re-enter as exact literals; the
    # final dollar rounding stays IN-ENGINE on the same expressions, so
    # the emitted doubles are bit-identical. Oracle SQL untouched.
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import (
        collect_nonempty,
    )

    cs = sorted(
        int(row["cents"])
        for row in collect_nonempty(daily.select("cents"), "qn daily cents")
    )
    nd = len(cs)
    k = (nd // 2 + 1) * (nd // 2) // 2

    def count_le(x: int) -> int:
        cnt = 0
        i = 0
        for j in range(nd):
            while cs[j] - cs[i] > x:
                i += 1
            cnt += j - i
        return cnt

    if nd < 2:
        # no pairs: the old pick aggregate (and the oracle) yield NULL
        qn_raw = F.lit(None).cast("bigint")
    else:
        lo, hi = 0, cs[-1] - cs[0]
        while lo < hi:
            mid = (lo + hi) // 2
            if count_le(mid) >= k:
                hi = mid
            else:
                lo = mid + 1
        qn_raw = F.lit(lo).cast("bigint")
    return spark.range(1).select(
        F.lit(nd).cast("bigint").alias("n_days"),
        F.lit(k).cast("bigint").alias("order_stat_k"),
        F.round(qn_raw / 100.0, 2).alias("qn_raw_dollars"),
        F.round(F.lit(_QN_D) * qn_raw / 100.0, 2).alias(
            "qn_scaled_dollars"
        ),
    )
