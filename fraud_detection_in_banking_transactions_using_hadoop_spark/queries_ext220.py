"""Extension batch 220 (round 9): the QOI image codec -- the ninth
REAL codec in the multimodal tier (PNG, GIF, BMP, WAV, netpbm P6,
G.711 mu-law, baseline JPEG, IMA ADPCM, now QOI).

QOI (qoiformat.org, public spec) compresses with a 64-slot running
color index + run/diff/luma ops -- a STATEFUL encoder whose canonical
op choice (run > index > diff > luma > rgb) makes the byte stream
unique. operators/multimodal.encode_qoi/decode_qoi implement the
3-channel subset; the query encodes a 4x5 image of quantized md5
bytes per document, decodes it back, asserts BYTE-EXACT re-encode
in-op, and emits the compressed size plus the op census. The oracle
replays the ENCODER ITSELF as a recursive CTE carrying (prev pixel,
the 64-slot index LIST, the run counter) -- the DGIM/Misra-Gries
carried-list pattern -- so a wrong hash position, a mis-ordered op
preference, or an off-by-one run flush mismatches the op counts and
byte size instantly. Wrapped channel diffs share the formula
((x - p + 128) % 256) - 128 on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import _MD5_HEX_SQL
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext172 import _md5_media
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_W, _H = 4, 5  # 20 pixels from the 60 deterministic md5 bytes

# pixel synthesis chosen so EVERY op family fires: each byte triple t
# paints TWO consecutive pixels (p = 2t, 2t+1 -> RUN ops), channels
# live in tight ranges 64+(v%4) / 64+(v%8) / 64+(v%4) (128 possible
# colors -> INDEX hits; small wrapped diffs -> DIFF and LUMA; the
# occasional out-of-window jump -> RGB)
_PX_SQL = """
    b3 AS (
      SELECT media_id, i // 3 AS t,
             max(CASE WHEN i % 3 = 0 THEN v END) AS v0,
             max(CASE WHEN i % 3 = 1 THEN v END) AS v1,
             max(CASE WHEN i % 3 = 2 THEN v END) AS v2
      FROM b WHERE i < 30 GROUP BY media_id, i // 3),
    px AS (
      SELECT media_id, pp.p,
             64 + (v0 % 4) AS r, 64 + (v1 % 8) AS g, 64 + (v2 % 4) AS bl
      FROM b3 JOIN (SELECT CAST(unnest(range(0, 20)) AS BIGINT) AS p) pp
        ON b3.t = pp.p // 2)
"""

_WRAP = "((({x}) - ({p}) + 128) % 256 + 256) % 256 - 128"


def _qoi_oracle() -> str:
    wrap_r = _WRAP.format(x="e.r", p="f.prev.r")
    wrap_g = _WRAP.format(x="e.g", p="f.prev.g")
    wrap_b = _WRAP.format(x="e.bl", p="f.prev.b")
    # wrapped second-order luma terms
    wrap_rg = _WRAP.format(x=f"({wrap_r})", p=f"({wrap_g})")
    wrap_bg = _WRAP.format(x=f"({wrap_b})", p=f"({wrap_g})")
    return f"""
    WITH RECURSIVE {_MD5_HEX_SQL},
    {_PX_SQL},
    fold AS (
      SELECT media_id, CAST(0 AS BIGINT) AS i,
             struct_pack(r := CAST(0 AS BIGINT), g := CAST(0 AS BIGINT),
                         b := CAST(0 AS BIGINT)) AS prev,
             list_transform(range(0, 64), z -> struct_pack(
               r := CAST(0 AS BIGINT), g := CAST(0 AS BIGINT),
               b := CAST(0 AS BIGINT))) AS idx,
             CAST(0 AS BIGINT) AS run,
             CAST(0 AS BIGINT) AS nb,
             CAST(0 AS BIGINT) AS n_run, CAST(0 AS BIGINT) AS n_index,
             CAST(0 AS BIGINT) AS n_diff, CAST(0 AS BIGINT) AS n_luma,
             CAST(0 AS BIGINT) AS n_rgb
      FROM (SELECT DISTINCT media_id FROM px)
      UNION ALL
      SELECT f.media_id, f.i + 1,
        CASE WHEN same THEN f.prev
             ELSE struct_pack(r := f.r, g := f.g, b := f.bl) END,
        CASE WHEN same OR hit THEN f.idx
             ELSE list_transform(range(0, 64), z ->
                    CASE WHEN z = pos
                         THEN struct_pack(r := f.r, g := f.g, b := f.bl)
                         ELSE f.idx[z + 1] END) END,
        CASE WHEN same THEN CASE WHEN f.run + 1 = 62 THEN 0
                                 ELSE f.run + 1 END
             ELSE 0 END,
        f.nb
          + CASE WHEN same THEN CASE WHEN f.run + 1 = 62 THEN 1 ELSE 0 END
                 ELSE CASE WHEN f.run > 0 THEN 1 ELSE 0 END
                      + CASE WHEN hit THEN 1
                             WHEN is_diff THEN 1
                             WHEN is_luma THEN 2
                             ELSE 4 END
            END,
        f.n_run
          + CASE WHEN same AND f.run + 1 = 62 THEN 1
                 WHEN NOT same AND f.run > 0 THEN 1 ELSE 0 END,
        f.n_index + CASE WHEN NOT same AND hit THEN 1 ELSE 0 END,
        f.n_diff + CASE WHEN NOT same AND NOT hit AND is_diff
                        THEN 1 ELSE 0 END,
        f.n_luma + CASE WHEN NOT same AND NOT hit AND NOT is_diff
                        AND is_luma THEN 1 ELSE 0 END,
        f.n_rgb + CASE WHEN NOT same AND NOT hit AND NOT is_diff
                       AND NOT is_luma THEN 1 ELSE 0 END
      FROM (
        SELECT f.*, e.r, e.g, e.bl,
               (e.r = f.prev.r AND e.g = f.prev.g AND e.bl = f.prev.b)
                 AS same,
               (e.r * 3 + e.g * 5 + e.bl * 7 + 2805) % 64 AS pos,
               (f.idx[(e.r * 3 + e.g * 5 + e.bl * 7 + 2805) % 64 + 1].r
                  = e.r
                AND f.idx[(e.r * 3 + e.g * 5 + e.bl * 7 + 2805) % 64
                          + 1].g = e.g
                AND f.idx[(e.r * 3 + e.g * 5 + e.bl * 7 + 2805) % 64
                          + 1].b = e.bl) AS hit,
               ({wrap_r}) BETWEEN -2 AND 1
                 AND ({wrap_g}) BETWEEN -2 AND 1
                 AND ({wrap_b}) BETWEEN -2 AND 1 AS is_diff,
               ({wrap_g}) BETWEEN -32 AND 31
                 AND ({wrap_rg}) BETWEEN -8 AND 7
                 AND ({wrap_bg}) BETWEEN -8 AND 7 AS is_luma
        FROM fold f JOIN px e ON e.media_id = f.media_id AND e.p = f.i
        WHERE f.i < {_W * _H}) f),
    fin AS (
      SELECT media_id,
             nb + CASE WHEN run > 0 THEN 1 ELSE 0 END AS body_bytes,
             n_run + CASE WHEN run > 0 THEN 1 ELSE 0 END AS n_run,
             n_index, n_diff, n_luma, n_rgb
      FROM fold WHERE i = {_W * _H}),
    gray AS (
      SELECT media_id, CAST(sum(r + g + bl) AS BIGINT) AS srgb
      FROM px GROUP BY media_id)
    SELECT f.media_id,
           14 + f.body_bytes + 8 AS n_bytes,
           f.n_run AS n_run_ops, f.n_index AS n_index_ops,
           f.n_diff AS n_diff_ops, f.n_luma AS n_luma_ops,
           f.n_rgb AS n_rgb_ops,
           round(CAST(g.srgb AS DOUBLE) / 60.0, 6) AS mean_gray,
           TRUE AS roundtrip_exact
    FROM fin f JOIN gray g ON g.media_id = f.media_id
    """


def _qoi_census(data: bytes):
    """Walk a 3-channel QOI byte stream counting ops -- an independent
    parse path from both the encoder and the decoder."""
    body = data[14:-8]
    counts = {"run": 0, "index": 0, "diff": 0, "luma": 0, "rgb": 0}
    i = 0
    while i < len(body):
        byte = body[i]
        i += 1
        if byte == 0xFE:
            counts["rgb"] += 1
            i += 3
        elif byte >> 6 == 3:
            counts["run"] += 1
        elif byte >> 6 == 0:
            counts["index"] += 1
        elif byte >> 6 == 1:
            counts["diff"] += 1
        else:
            counts["luma"] += 1
            i += 1
    return counts


@register(
    "multimodal_qoi_stats",
    _qoi_oracle(),
    tags=("multimodal", "arrow", "codec", "stateful"),
)
def q_multimodal_qoi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QOI tier: 60 deterministic md5 bytes quantize to a 4x5 image
    (4 levels/channel so the index and run ops fire), encode_qoi
    writes the REAL format, decode_qoi reads it back, and a byte-exact
    re-encode is asserted in-op. The emitted op census comes from a
    THIRD code path (a raw byte-stream walk), and the oracle replays
    the encoder's stateful op choice as a recursive CTE carrying the
    64-slot index list -- four independent derivations must agree for
    the hash gate to pass."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_qoi,
        encode_qoi,
    )
    from pyspark.sql import types as T

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_run_ops", T.LongType()),
            T.StructField("n_index_ops", T.LongType()),
            T.StructField("n_diff_ops", T.LongType()),
            T.StructField("n_luma_ops", T.LongType()),
            T.StructField("n_rgb_ops", T.LongType()),
            T.StructField("mean_gray", T.DoubleType()),
            T.StructField("roundtrip_exact", T.BooleanType()),
        ]
    )

    def op(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                pix = [
                    (
                        64 + content[3 * (p // 2)] % 4,
                        64 + content[3 * (p // 2) + 1] % 8,
                        64 + content[3 * (p // 2) + 2] % 4,
                    )
                    for p in range(_W * _H)
                ]
                enc = encode_qoi(pix, _W, _H)
                dec, w, h = decode_qoi(enc)
                ok = (
                    dec == pix
                    and (w, h) == (_W, _H)
                    and encode_qoi(dec, w, h) == enc
                )
                census = _qoi_census(enc)
                srgb = sum(r + g + b for r, g, b in pix)
                out["media_id"].append(int(row["media_id"]))
                out["n_bytes"].append(len(enc))
                out["n_run_ops"].append(census["run"])
                out["n_index_ops"].append(census["index"])
                out["n_diff_ops"].append(census["diff"])
                out["n_luma_ops"].append(census["luma"])
                out["n_rgb_ops"].append(census["rgb"])
                out["mean_gray"].append(round(srgb / 60.0, 6))
                out["roundtrip_exact"].append(bool(ok))
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)
