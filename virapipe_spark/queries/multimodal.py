"""Multimodal catalog entries (rows-only: binary payload transforms are
not expressible in DuckDB SQL; golden-tested in tests/test_multimodal.py).

Synthetic media is derived deterministically from ``documents`` (text
bytes as payload), so the entries run at any scale factor without extra
fixture tables.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from virapipe_spark.catalog import query, table
from virapipe_spark.scale import spread_scan, truncate_lineage


def _synthetic_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> fake video containers (VPMM, multimodal.pack_media):
    payload = utf-8 text bytes, duration scaled from n_chars."""
    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents")

    # Arrow-batched (pandas_udf), never a row UDF: the payload packer is
    # the only Python in this path and it crosses the boundary once per
    # batch (asserted in tests/test_scale_plans.py — no BatchEvalPython).
    @F.pandas_udf("binary")
    def pack(text: pd.Series, n_chars: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.pack_media(
                    "v", t.encode(), width=64, height=48, duration_ms=int(n) * 10
                )
                for t, n in zip(text, n_chars)
            ]
        )

    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        pack("text", "n_chars").alias("data"),
        F.lit(64).alias("width"),
        F.lit(48).alias("height"),
        F.lit(0).alias("sample_rate"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )


@query("multimodal_frame_sample")  # rows-only check
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling + per-media rollup: sample a frame per
    second of fake video, then aggregate (explode is immediately
    re-aggregated — the §4.3 rule). Exercises the full multimodal
    path: binary column -> metadata filter -> mapInPandas decode ->
    explode -> aggregate.

    Self-validating output (the driver's rows-only check can't hash a
    no-oracle entry): ``frames_ok`` certifies the sampled frame count
    against the container's declared duration via an independent
    broadcast join back to the metadata, and ``frame_crc`` checksums
    the deterministic frame hashes; both pinned in
    tests/test_multimodal.py."""
    from virapipe_spark import multimodal as mm

    media = _synthetic_media(spark, sf_dir)
    frames = mm.sample_frames(media, every_ms=1000)
    agg = frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("frame_hash").alias("n_distinct_frames"),
        F.sum(F.crc32(F.col("frame_hash"))).cast("long").alias("frame_crc"),
    )
    durations = media.filter(F.col("kind") == "video").select(
        "media_id", "duration_ms"
    )
    return (
        durations.join(F.broadcast(agg), "media_id", "left")
        .select(
            "media_id",
            F.coalesce("n_frames", F.lit(0)).alias("n_frames"),
            F.coalesce("n_distinct_frames", F.lit(0)).alias("n_distinct_frames"),
            F.coalesce("frame_crc", F.lit(0)).alias("frame_crc"),
            (
                F.coalesce("n_frames", F.lit(0))
                == F.greatest(F.floor(F.col("duration_ms") / 1000), F.lit(0))
            ).alias("frames_ok"),
        )
    )


@query(
    "multimodal_image_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 48) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 48)) AS i, p FROM s),
    v AS (SELECT doc_id, ascii(substr(p, i, 1)) AS code FROM c)
    SELECT doc_id AS media_id,
           CAST(4 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(48 AS INTEGER) AS n_bytes,
           round(avg(code), 4) AS mean_intensity,
           round(stddev_pop(code), 4) AS std_intensity
    FROM v GROUP BY doc_id
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED multimodal decode: deterministic 4x4 RGB BMPs are
    built from md5-hex bytes of each document (pure ASCII, so DuckDB can
    reproduce the pixel values), encoded as REAL 24-bit BMP files
    (multimodal.encode_bmp), decoded back through the real BMP parser in
    decode_image_features, and the per-image intensity stats compared
    against DuckDB computing the same statistics relationally. A header,
    stride-padding, or channel-order bug breaks the hash."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            48,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_bmp(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_bmp(
                    np.frombuffer(s.encode(), dtype=np.uint8).reshape(4, 4, 3)
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("image").alias("kind"),
        to_bmp("p").alias("data"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(0).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.decode_image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round("mean_intensity", 4).alias("mean_intensity"),
        F.round("std_intensity", 4).alias("std_intensity"),
    )


@query(
    "multimodal_audio_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 48) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 48)) AS i, p FROM s),
    v AS (SELECT doc_id, CAST((i - 1) // 16 AS INTEGER) AS w,
                 ascii(substr(p, i, 1)) AS code
          FROM c)
    SELECT doc_id AS media_id,
           CAST(22050 AS INTEGER) AS sample_rate,
           CAST(w AS INTEGER) AS window_idx,
           round(sqrt(avg(CAST(code AS DOUBLE) * code)), 4) AS rms
    FROM v GROUP BY doc_id, w
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED audio decode: md5-hex byte codes become int16 PCM
    samples, encoded as REAL 16-bit WAV (multimodal.encode_wav), decoded
    through the real RIFF parser in audio_features, per-window RMS
    compared against DuckDB. The sample rate in the result comes from
    the WAV fmt chunk — a chunk-walk bug breaks the hash.

    Output is one scalar row per (media, window) — posexploded from the
    operator's array column, because the driver's value normalizer is
    only known-good on scalar cells (round-2 HUGEINT lesson)."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            48,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_wav(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_wav(
                    22050, np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int16)
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("audio").alias("kind"),
        to_wav("p").alias("data"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
        F.lit(22050).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.audio_features(media, window=16)
    return feats.select(
        "media_id",
        "sample_rate",
        F.posexplode("rms_energy").alias("window_idx", "rms"),
    )


@query(
    "multimodal_png_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 48) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 48)) AS i, p FROM s),
    v AS (SELECT doc_id, ascii(substr(p, i, 1)) AS code FROM c)
    SELECT doc_id AS media_id,
           CAST(4 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(48 AS INTEGER) AS n_bytes,
           round(avg(code), 4) AS mean_intensity,
           round(stddev_pop(code), 4) AS std_intensity
    FROM v GROUP BY doc_id
    """,
)
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED PNG decode (round 6 — the codec is REAL now, pure
    stdlib zlib + numpy): the same deterministic 4x4 RGB pixel grids as
    ``multimodal_image_features``, but encoded as actual PNG files
    (multimodal.encode_png — IHDR/IDAT/IEND chunks, CRCs, DEFLATE) and
    decoded back through the real parser (decode_image_features sniffs
    the PNG signature -> decode_png: inflate + scanline unfiltering).
    The DuckDB oracle computes the identical statistics relationally —
    a chunk-walk, DEFLATE, filter, or channel-layout bug breaks the
    hash. Same scale shape as the BMP twin: metadata-first filter, one
    Arrow boundary."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            48,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_png(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_png(
                    np.frombuffer(s.encode(), dtype=np.uint8).reshape(4, 4, 3)
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("image").alias("kind"),
        to_png("p").alias("data"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(0).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.decode_image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round("mean_intensity", 4).alias("mean_intensity"),
        F.round("std_intensity", 4).alias("std_intensity"),
    )


@query(
    "multimodal_gif_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text), 1, 16) AS p FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 16)) AS i, p FROM s),
    v AS (SELECT doc_id, ascii(substr(p, i, 1)) AS code FROM c)
    SELECT doc_id AS media_id,
           CAST(4 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(48 AS INTEGER) AS n_bytes,
           round(avg(code), 4) AS mean_intensity,
           round(stddev_pop(code), 4) AS std_intensity
    FROM v GROUP BY doc_id
    """,
)
def multimodal_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED GIF decode (round 6 — real LZW, pure stdlib):
    deterministic 4x4 grayscale index grids (md5-hex byte codes) are
    encoded as actual GIF89a files (multimodal.encode_gif — 256-entry
    palette, real LZW compression) and decoded back through the full
    parser (decode_image_features sniffs the GIF magic -> decode_gif:
    sub-block reassembly, variable-width LZW, palette resolution).
    Each index resolves to a grayscale RGB triple, so the intensity
    stats equal the stats of the 16 codes — which the DuckDB oracle
    computes relationally. A bit-packing, dictionary-growth, or
    palette bug breaks the hash."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(F.md5("text"), 1, 16).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_gif(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_gif(
                    np.frombuffer(s.encode(), dtype=np.uint8).reshape(4, 4)
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("image").alias("kind"),
        to_gif("p").alias("data"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(0).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.decode_image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round("mean_intensity", 4).alias("mean_intensity"),
        F.round("std_intensity", 4).alias("std_intensity"),
    )


@query(
    "multimodal_ulaw_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 32) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 32)) AS i, p FROM s),
    u AS (SELECT doc_id, CAST((i - 1) // 16 AS INTEGER) AS w,
                 255 - ascii(substr(p, i, 1)) AS ub
          FROM c),
    v AS (SELECT doc_id, w,
                 CASE WHEN ub >= 128 THEN -1 ELSE 1 END
                 * (((ub % 16) * 8 + 132) * power(2, (ub // 16) % 8) - 132)
                   AS val
          FROM u)
    SELECT doc_id AS media_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(w AS INTEGER) AS window_idx,
           round(sqrt(avg(val * val)), 4) AS rms
    FROM v GROUP BY doc_id, w
    """,
)
def multimodal_ulaw_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED lossy-codec decode (round 6): G.711 mu-law through
    the Sun AU container (multimodal.encode_au(ulaw=True) ->
    audio_features -> decode_au -> _ulaw_expand). The fixture samples
    are chosen ON THE CODEC'S CODOMAIN — each is the mu-law expansion
    of an md5-derived byte — so the lossy compress->expand round-trip
    is value-exact and the DuckDB oracle can reproduce every sample
    with the ITU expansion formula in integer SQL (complement, 3-bit
    exponent, 4-bit mantissa, bias 132). A bias, sign, or big-endian
    header bug breaks the hash; the sample rate comes from the AU
    header, not metadata."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            32,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_au(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_au(
                    8000,
                    mm._ulaw_expand(np.frombuffer(s.encode(), dtype=np.uint8)),
                    ulaw=True,
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("audio").alias("kind"),
        to_au("p").alias("data"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
        F.lit(8000).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.audio_features(media, window=16)
    return feats.select(
        "media_id",
        "sample_rate",
        F.posexplode("rms_energy").alias("window_idx", "rms"),
    )


@query(
    "multimodal_resize_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text), 1, 16) AS p FROM documents
    ),
    c AS (SELECT doc_id, unnest([1, 3, 9, 11]) AS i, p FROM s),
    v AS (SELECT doc_id, ascii(substr(p, i, 1)) AS code FROM c)
    SELECT doc_id AS media_id,
           CAST(2 AS INTEGER) AS width,
           CAST(2 AS INTEGER) AS height,
           round(avg(code), 4) AS mean_intensity,
           round(stddev_pop(code), 4) AS std_intensity
    FROM v GROUP BY doc_id
    """,
)
def multimodal_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED image resize (round 6): 4x4 grayscale PNGs run
    through the REAL pipeline — decode_png -> 2-D nearest-neighbor
    resample to 2x2 (multimodal.resize_images) -> encode_bmp -> decode
    through decode_image_features — and the per-image stats compare
    against DuckDB selecting exactly the pixels nearest-neighbor keeps:
    out[y][x] = in[2y][2x], i.e. row-major positions {1, 3, 9, 11} of
    the md5 grid. An index-mapping, stride, or re-encode bug moves the
    selected pixel set and breaks the hash. Two chained Arrow stages
    (resize, then feature extraction), each one batch-level boundary —
    the composed multimodal dataflow."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(F.md5("text"), 1, 16).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_png(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_png(
                    np.repeat(
                        np.frombuffer(s.encode(), dtype=np.uint8).reshape(
                            4, 4, 1
                        ),
                        3,
                        axis=2,
                    )
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("image").alias("kind"),
        to_png("p").alias("data"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(0).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    small = mm.resize_images(media, 2, 2).select(
        "media_id", F.lit("image").alias("kind"), "data",
        "width", "height",
        F.lit(0).alias("sample_rate"), F.lit(0).alias("duration_ms"),
    )
    feats = mm.decode_image_features(small)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_intensity", 4).alias("mean_intensity"),
        F.round("std_intensity", 4).alias("std_intensity"),
    )


@query(
    "multimodal_tiff_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 48) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 48)) AS i, p FROM s),
    v AS (SELECT doc_id, ascii(substr(p, i, 1)) AS code FROM c)
    SELECT doc_id AS media_id,
           CAST(6 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(48 AS INTEGER) AS n_bytes,
           round(avg(code), 4) AS mean_intensity,
           round(stddev_pop(code), 4) AS std_intensity
    FROM v GROUP BY doc_id
    """,
    since=7,
)
def multimodal_tiff_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED baseline-TIFF decode — the codec family's
    endianness member (TIFF is the one format here where byte order is
    DATA: the file declares II or MM and the IFD walk must honor it).
    The same deterministic md5 pixel bytes as the PNG/GIF twins, laid
    out as 8x6 GRAYSCALE and encoded BIG-endian (multimodal.encode_tiff
    with 'MM') so the decoder proves the non-native order end-to-end:
    header magic, IFD entry unpacking, inline-vs-offset tag values, and
    strip reassembly all flow through the declared byte order, and any
    slip breaks the hash against the oracle's relational recomputation.
    Same scale shape as the other codec entries: metadata-first filter,
    one Arrow boundary."""
    import numpy as np
    import pandas as pd

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            48,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_tiff(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_tiff(
                    np.frombuffer(s.encode(), dtype=np.uint8).reshape(8, 6),
                    byte_order="MM",
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("image").alias("kind"),
        to_tiff("p").alias("data"),
        F.lit(6).alias("width"),
        F.lit(8).alias("height"),
        F.lit(0).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.decode_image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round("mean_intensity", 4).alias("mean_intensity"),
        F.round("std_intensity", 4).alias("std_intensity"),
    )


@query(
    "multimodal_audio_resample",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 48) AS p
      FROM documents
    ),
    j AS (SELECT doc_id, p, unnest(generate_series(0, 16)) AS j FROM s)
    SELECT doc_id AS media_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(j AS INTEGER) AS sample_idx,
           CAST(ascii(substr(p, CAST((j * 22050) // 8000 AS INTEGER) + 1, 1))
                AS INTEGER) AS sample
    FROM j
    """,
    since=7,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED audio sample-rate conversion — the composed audio
    dataflow mirroring `multimodal_resize_features`: md5-coded int16
    samples encode as REAL 22050 Hz WAV, `multimodal.resample_audio`
    decodes, selects by exact integer nearest-neighbor
    (``j * 22050 // 8000``), and re-encodes at 8000 Hz; the result WAV
    decodes AGAIN through the RIFF parser and every surviving sample
    is compared scalar-by-scalar against the oracle picking the same
    indices relationally. Chunk-walk, length (48 -> 17), index
    arithmetic, and int16 round-trip bugs all break the hash.

    Scale: two Arrow boundaries (transform + verify-decode) on
    metadata-filtered payload batches — the verify pass exists for the
    gate; production stops at the re-encoded binary."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            48,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_wav(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_wav(
                    22050,
                    np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int16),
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("audio").alias("kind"),
        to_wav("p").alias("data"),
    )
    resampled = mm.resample_audio(media, 8000)

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("sample_idx", T.IntegerType()),
            T.StructField("sample", T.IntegerType()),
        ]
    )

    def verify_decode(batches):
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                rate, samples = mm.decode_wav(bytes(data))
                for j, v in enumerate(samples):
                    rows.append((mid, rate, j, int(v)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return resampled.select("media_id", "data").mapInPandas(
        verify_decode, out_schema
    )


@query(
    "multimodal_jpeg_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text), 1, 4) AS p FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 4)) AS i, p FROM s),
    v AS (SELECT doc_id, ascii(substr(p, i, 1)) AS code FROM c)
    SELECT doc_id AS media_id,
           CAST(16 AS INTEGER) AS width,
           CAST(16 AS INTEGER) AS height,
           CAST(256 AS INTEGER) AS n_bytes,
           round(avg(code), 4) AS mean_intensity,
           round(stddev_pop(code), 4) AS std_intensity
    FROM v GROUP BY doc_id
    """,
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED baseline JPEG decode (round 7 — the codec is REAL:
    pure-numpy sequential DCT + canonical Huffman, multimodal.
    encode_jpeg/decode_jpeg). Each document becomes a 16x16 grayscale
    image of four FLAT 8x8 blocks whose values are the ascii codes of
    md5(text)'s first 4 chars; flat blocks survive JPEG's
    DCT->quantize->IDCT round-trip BIT-EXACTLY (only the DC coefficient
    is nonzero and Q=1 dequantization is exact), so the decoded pixel
    statistics are deterministic and the DuckDB oracle recomputes them
    relationally — 64 pixels per block weight every block value
    equally, so image mean/stddev equal the 4-value mean/stddev. A
    marker-walk, Huffman, bit-unstuffing, zigzag, or IDCT bug breaks
    the hash. (AC paths, color, 4:2:0, and restart markers are
    exercised by tests/test_multimodal.py with the error bounds a
    lossy codec permits — the oracle pins the exactly-decodable
    subset.)

    Scale: same shape as the PNG/TIFF twins — metadata-first filter,
    one Arrow codec boundary, featurization fully parallel per batch;
    mean over 256 = sum/2^8 is float-exact, matching avg() over the 4
    codes in DuckDB."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(F.md5("text"), 1, 4).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_jpeg(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_jpeg(
                    np.frombuffer(s.encode(), dtype=np.uint8)
                    .reshape(2, 2)
                    .repeat(8, axis=0)
                    .repeat(8, axis=1)
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("image").alias("kind"),
        to_jpeg("p").alias("data"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
        F.lit(0).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.decode_image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round("mean_intensity", 4).alias("mean_intensity"),
        F.round("std_intensity", 4).alias("std_intensity"),
    )


@query(
    "multimodal_flac_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 32) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 32)) AS i, p FROM s),
    v AS (SELECT doc_id, CAST((i - 1) // 16 AS INTEGER) AS w,
                 (ascii(substr(p, i, 1)) - 80) * 257 AS val
          FROM c)
    SELECT doc_id AS media_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(w AS INTEGER) AS window_idx,
           round(sqrt(avg(val * val)), 4) AS rms
    FROM v GROUP BY doc_id, w
    """,
)
def multimodal_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED LOSSLESS-compressed audio decode (r7): int16
    samples derived from md5 chars are encoded as real FLAC
    (multimodal.encode_flac — FIXED-predictor subframes, rice-coded
    residuals, CRC-8/16, STREAMINFO MD5) and decoded back through the
    full parser inside audio_features. FLAC is lossless, so unlike the
    mu-law twin no codomain trick is needed: the DuckDB oracle
    recomputes the exact samples relationally and ANY entropy-coding,
    predictor, CRC, or bit-packing bug breaks the hash. Same scale
    shape as the WAV/AU twins: metadata-first filter, one Arrow codec
    boundary, per-batch decode."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            32,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_flac(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_flac(
                    16000,
                    (
                        (np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int64) - 80)
                        * 257
                    ).astype(np.int16),
                    block_size=16,
                )
                for s in p
            ]
        )

    media = d.select(
        "media_id",
        F.lit("audio").alias("kind"),
        to_flac("p").alias("data"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
        F.lit(16000).alias("sample_rate"),
        F.lit(0).alias("duration_ms"),
    )
    feats = mm.audio_features(media, window=16)
    return feats.select(
        "media_id",
        "sample_rate",
        F.posexplode("rms_energy").alias("window_idx", "rms"),
    )


@query(
    "multimodal_mjpeg_frame_sample",
    oracle="""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 16) AS p
      FROM documents
    ),
    f AS (SELECT doc_id, p, unnest(generate_series(0, 3)) AS fi FROM s),
    px AS (
      SELECT doc_id, fi,
             repeat(repeat(substr(p, fi * 4 + 1, 1), 8) ||
                    repeat(substr(p, fi * 4 + 2, 1), 8), 8) ||
             repeat(repeat(substr(p, fi * 4 + 3, 1), 8) ||
                    repeat(substr(p, fi * 4 + 4, 1), 8), 8) AS pixels
      FROM f
    )
    SELECT doc_id AS media_id,
           CAST(fi AS INTEGER) AS frame_idx,
           CAST(fi * 100 AS INTEGER) AS t_ms,
           substr(md5(pixels), 1, 12) AS frame_hash
    FROM px
    """,
)
def multimodal_mjpeg_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED VIDEO decode (r7 — the video path is REAL now:
    RIFF-AVI container walk + per-frame Motion-JPEG decode through the
    r7 JPEG codec): each document becomes a 4-frame 16x16 grayscale
    MJPEG AVI at 10 fps, frames built from flat 8x8 blocks of md5
    chars (bit-exact through JPEG, the multimodal_jpeg_features
    lever), and sample_frames(every_ms=100) walks the container,
    decodes EVERY frame, and emits the md5 of its actual pixel bytes.
    The DuckDB oracle reconstructs the pixel byte-string relationally
    (repeat() of ASCII chars — frame bytes are printable hex chars, so
    string-md5 == byte-md5) — a RIFF offset, chunk-padding, JPEG, or
    sampling-arithmetic bug breaks the hash. H.264 still raises
    honestly; MJPEG is the codec this sandbox can decode for real.

    Scale: the container walk and frame decodes are one Arrow
    boundary; sampling emits duration/every_ms rows per video (bounded
    fan-out, the reference's frame-sample shape)."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))),
            1,
            16,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_avi(p: pd.Series) -> pd.Series:
        out = []
        for s in p:
            codes = np.frombuffer(s.encode(), dtype=np.uint8)
            frames = [
                codes[fi * 4 : fi * 4 + 4]
                .reshape(2, 2)
                .repeat(8, axis=0)
                .repeat(8, axis=1)
                for fi in range(4)
            ]
            out.append(mm.encode_avi_mjpeg(frames, fps=10))
        return pd.Series(out)

    media = d.select(
        "media_id",
        F.lit("video").alias("kind"),
        to_avi("p").alias("data"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
        F.lit(0).alias("sample_rate"),
        F.lit(400).alias("duration_ms"),
    )
    return mm.sample_frames(media, every_ms=100)


@query(
    "multimodal_dhash_neardup",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             substr(md5(text) || md5(text || 'x') || md5(text || 'y'),
                    1, 72) AS p
      FROM documents
    ),
    pix AS (
      SELECT doc_id, g - 1 AS i, ascii(substr(p, g, 1)) AS code
      FROM (SELECT doc_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    bits AS (
      SELECT doc_id,
             (i // 9) * 8 + (i % 9) AS idx,
             CASE WHEN code < lead(code) OVER (PARTITION BY doc_id ORDER BY i)
                  THEN 1 ELSE 0 END AS b
      FROM pix QUALIFY i % 9 < 8
    ),
    h AS MATERIALIZED (
      SELECT doc_id AS media_id,
             CAST(sum(CASE WHEN idx >= 32
                           THEN b * (1::BIGINT << (idx - 32)) ELSE 0 END)
                  AS BIGINT) AS dhash_hi,
             CAST(sum(CASE WHEN idx < 32
                           THEN b * (1::BIGINT << idx) ELSE 0 END)
                  AS BIGINT) AS dhash_lo
      FROM bits GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
      SELECT media_id, dhash_hi, dhash_lo, 0 AS band,
             dhash_lo % 65536 AS bv FROM h
      UNION ALL
      SELECT media_id, dhash_hi, dhash_lo, 1, dhash_lo // 65536 FROM h
      UNION ALL
      SELECT media_id, dhash_hi, dhash_lo, 2, dhash_hi % 65536 FROM h
      UNION ALL
      SELECT media_id, dhash_hi, dhash_lo, 3, dhash_hi // 65536 FROM h
    ),
    pairs AS (
      SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
             bit_count(xor(a.dhash_hi, b.dhash_hi))
               + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS ham
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id
    ),
    part AS (
      SELECT ma AS media_id, ham FROM pairs
      UNION ALL
      SELECT mb, ham FROM pairs
    ),
    agg AS (
      SELECT media_id, CAST(count(*) AS BIGINT) AS n_cand,
             CAST(sum(CASE WHEN ham <= 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM part GROUP BY media_id
    )
    SELECT h.media_id, h.dhash_hi, h.dhash_lo,
           coalesce(agg.n_cand, 0) AS n_cand,
           coalesce(agg.n_dup, 0) AS n_dup
    FROM h LEFT JOIN agg ON h.media_id = agg.media_id
    """,
    since=8,
)
def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup — the MULTIMODAL member of the
    near-dup family (MinHash/SimHash/PPJoin dedup text; dHash dedups
    images): deterministic 9x8 grayscale BMPs built from md5-hex
    pixels encode through the REAL BMP codec, decode back through the
    real parser, and fingerprint as the standard 64-bit dHash
    (bit = px[r][c] < px[r][c+1]), packed into two nonnegative 32-bit
    halves so no sign bit crosses engines. Candidates then block on
    four 16-bit hash bands (the LSH banding idiom: Hamming-<=k pairs
    must agree on SOME band for k < 4 well-spread bits) and exact
    Hamming distance over candidates yields per-image candidate and
    near-dup counts. DuckDB recomputes pixels, hash, bands, and pair
    counts relationally from the generative hex — the Spark path
    proves the codec round-trip + UDF bit-packing on top of that.

    Scale: the decode/fingerprint is one Arrow boundary
    (mapInPandas, codec-exempt); banding is an equi-join — candidate
    volume is sum-over-band-buckets |b|^2 (the docs_minhash_lsh
    analysis), ~760 expected collision pairs per 5 000 random images
    at 16-bit bands; Hamming is JVM bit_count on packed longs."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_bmp(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_bmp(
                    np.repeat(
                        np.frombuffer(s.encode(), dtype=np.uint8).reshape(
                            8, 9, 1
                        ),
                        3,
                        axis=2,
                    )
                )
                for s in p
            ]
        )

    media = d.select("media_id", to_bmp("p").alias("data"))
    h = mm.dhash_images(media)
    bands = None
    for i, bv in enumerate(
        [
            F.col("dhash_lo") % 65536,
            F.expr("dhash_lo div 65536"),
            F.col("dhash_hi") % 65536,
            F.expr("dhash_hi div 65536"),
        ]
    ):
        part = h.select(
            "media_id",
            "dhash_hi",
            "dhash_lo",
            F.lit(i).alias("band"),
            bv.cast("long").alias("bv"),
        )
        bands = part if bands is None else bands.unionAll(part)
    a, b = bands.alias("a"), bands.alias("b")
    ham = (
        F.bit_count(
            F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi"))
        )
        + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("ma"),
            F.col("b.media_id").alias("mb"),
            ham.alias("ham"),
        )
        .distinct()
    )
    part = pairs.select(F.col("ma").alias("media_id"), "ham").unionAll(
        pairs.select(F.col("mb").alias("media_id"), "ham")
    )
    agg = part.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_cand"),
        F.sum(F.when(F.col("ham") <= 4, 1).otherwise(0))
        .cast("long")
        .alias("n_dup"),
    )
    return h.join(agg, "media_id", "left").select(
        "media_id",
        "dhash_hi",
        "dhash_lo",
        F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
    )


_SHOT_THR = 2000  # |delta mean_x100| > 2000 <=> mean jump > 20 gray levels


@query(
    "multimodal_shot_boundaries",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, substr(md5(text), 1, 8) AS p FROM documents
    ),
    fr AS (
      SELECT doc_id, fi,
             ascii(substr(p, fi + 1, 1)) * 100 AS mean_x100
      FROM (SELECT doc_id, p, unnest(generate_series(0, 7)) AS fi FROM s)
    ),
    flagged AS (
      SELECT doc_id, fi, mean_x100,
             CASE WHEN lag(mean_x100) OVER w IS NULL THEN 1
                  WHEN abs(mean_x100 - lag(mean_x100) OVER w) > {_SHOT_THR}
                  THEN 1 ELSE 0 END AS new_shot
      FROM fr
      WINDOW w AS (PARTITION BY doc_id ORDER BY fi)
    ),
    shots AS (
      SELECT doc_id, fi, mean_x100,
             sum(new_shot) OVER (PARTITION BY doc_id ORDER BY fi
                                 ROWS UNBOUNDED PRECEDING) AS shot_id
      FROM flagged
    )
    SELECT doc_id AS media_id, CAST(shot_id AS BIGINT) AS shot_id,
           CAST(min(fi) AS BIGINT) AS start_frame,
           CAST(max(fi) AS BIGINT) AS end_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(mean_x100) AS BIGINT) AS sum_mean_x100
    FROM shots GROUP BY doc_id, shot_id
    """,
    since=8,
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection — the video-analytics operator above
    frame sampling (frame_sample summarizes frames; this entry
    segments TIME): each document becomes an 8-frame flat-gray MJPEG
    AVI (one md5 char per frame, flat 8x8 blocks bit-exact through
    baseline JPEG — the multimodal_jpeg_features lever), the REAL
    container+codec path decodes every frame to a mean intensity, and
    a per-video lag window cuts a new shot wherever the mean jumps
    more than 20 gray levels (md5 hex ASCII lives in two clusters,
    digits 48-57 vs letters 97-102, so cluster transitions are
    genuine cuts and within-cluster steps are not — both cases
    exercised in every video). Gaps-and-islands over frames (the
    sessionize shape) turns boundary flags into per-shot segments;
    DuckDB reconstructs intensities relationally from the hex, so the
    hash proves container walk + JPEG decode + the segmentation
    algebra end to end, all in integers.

    Scale: decode is one Arrow boundary emitting n_frames bounded
    rows per video; segmentation is one (media)-keyed window pass +
    a (media, shot) aggregate — no pair formation, the sessionize
    cost model."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(F.md5("text"), 1, 8).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_avi(p: pd.Series) -> pd.Series:
        out = []
        for s in p:
            codes = np.frombuffer(s.encode(), dtype=np.uint8)
            frames = [
                np.full((16, 16), codes[fi], dtype=np.uint8)
                for fi in range(8)
            ]
            out.append(mm.encode_avi_mjpeg(frames, fps=10))
        return pd.Series(out)

    media = d.select("media_id", to_avi("p").alias("data"))
    fr = mm.frame_intensities(media)
    wl = W.partitionBy("media_id").orderBy("frame_idx")
    lagged = fr.withColumn("prev", F.lag("mean_x100").over(wl))
    flagged = lagged.withColumn(
        "new_shot",
        F.when(F.col("prev").isNull(), 1)
        .when(
            F.abs(F.col("mean_x100") - F.col("prev")) > _SHOT_THR, 1
        )
        .otherwise(0),
    )
    shots = flagged.withColumn(
        "shot_id",
        F.sum("new_shot").over(
            wl.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return shots.groupBy("media_id", "shot_id").agg(
        F.min("frame_idx").cast("long").alias("start_frame"),
        F.max("frame_idx").cast("long").alias("end_frame"),
        F.count("*").cast("long").alias("n_frames"),
        F.sum("mean_x100").cast("long").alias("sum_mean_x100"),
    ).select(
        "media_id",
        F.col("shot_id").cast("long").alias("shot_id"),
        "start_frame",
        "end_frame",
        "n_frames",
        "sum_mean_x100",
    )


_VAD_LO = 40_000_000
_VAD_HI = 70_000_000


@query(
    "multimodal_vad_segments",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 64) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 64)) AS i, p FROM s),
    u AS (SELECT doc_id, CAST((i - 1) // 8 AS INTEGER) AS w,
                 255 - ascii(substr(p, i, 1)) AS ub
          FROM c),
    v AS (SELECT doc_id, w,
                 CAST(CASE WHEN ub >= 128 THEN -1 ELSE 1 END
                 * (((ub % 16) * 8 + 132) * power(2, (ub // 16) % 8) - 132)
                   AS BIGINT) AS val
          FROM u),
    e AS (
      SELECT doc_id, w, CAST(sum(val * val) AS BIGINT) AS energy
      FROM v GROUP BY doc_id, w
    ),
    flagged AS (
      SELECT doc_id, w, energy, energy > {_VAD_LO} AS active,
             CASE WHEN lag(energy > {_VAD_LO}) OVER win IS NULL
                       OR lag(energy > {_VAD_LO}) OVER win
                          <> (energy > {_VAD_LO})
                  THEN 1 ELSE 0 END AS new_run
      FROM e
      WINDOW win AS (PARTITION BY doc_id ORDER BY w)
    ),
    runs AS (
      SELECT doc_id, w, energy, active,
             sum(new_run) OVER (PARTITION BY doc_id ORDER BY w
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    )
    SELECT doc_id AS media_id, CAST(run_id AS BIGINT) AS run_id,
           CAST(min(w) AS BIGINT) AS start_w,
           CAST(max(w) AS BIGINT) AS end_w,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(energy) AS BIGINT) AS sum_energy,
           bool_or(active) AS active,
           bool_or(active) AND max(energy) > {_VAD_HI} AS is_speech
    FROM runs GROUP BY doc_id, run_id
    """,
    since=8,
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection with HYSTERESIS — the audio-analytics
    operator above feature extraction (audio_features summarizes;
    this entry segments time, the shot-boundary twin for sound):
    G.711 mu-law clips (codomain-exact fixture, the ulaw_features
    lever) decode through the real AU path to per-8-sample EXACT
    integer energies (new audio_window_energy helper — float RMS
    can't carry a hash), then the two-threshold automaton: windows
    above LO={_VAD_LO} form candidate runs (gaps-and-islands on the
    active flag), and a run is speech only if it ALSO peaks above
    HI={_VAD_HI} — the hysteresis that kills flutter around a single
    threshold, expressed declaratively as bool_or(active) AND
    max(energy) > HI per run instead of a stateful scan. Thresholds
    sit at ~p25/p80 of the fixture's energy distribution so silence
    runs, speech runs, AND sub-peak active runs (the hysteresis
    discriminator) all occur at every scale. DuckDB reconstructs
    samples with the ITU expansion formula and replays the
    segmentation algebra — the hash proves codec + energy + automaton
    end to end in integers.

    Scale: decode is one Arrow boundary, n_windows bounded rows per
    clip; segmentation is one (media)-keyed window pass + a
    (media, run) aggregate — the sessionize cost model."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))
            ),
            1,
            64,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_au(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_au(
                    8000,
                    mm._ulaw_expand(
                        np.frombuffer(s.encode(), dtype=np.uint8)
                    ),
                    ulaw=True,
                )
                for s in p
            ]
        )

    media = d.select("media_id", to_au("p").alias("data"))
    e = mm.audio_window_energy(media, window=8)
    wl = W.partitionBy("media_id").orderBy("window_idx")
    active = F.col("energy") > _VAD_LO
    flagged = e.withColumn(
        "active", active
    ).withColumn("prev_active", F.lag(active).over(wl)).withColumn(
        "new_run",
        F.when(
            F.col("prev_active").isNull()
            | (F.col("prev_active") != F.col("active")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("new_run").over(
            wl.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        runs.groupBy("media_id", "run_id")
        .agg(
            F.min("window_idx").cast("long").alias("start_w"),
            F.max("window_idx").cast("long").alias("end_w"),
            F.count("*").cast("long").alias("n_windows"),
            F.sum("energy").cast("long").alias("sum_energy"),
            F.max("active").alias("active"),
            (
                F.max("active")
                & (F.max("energy") > F.lit(_VAD_HI))
            ).alias("is_speech"),
        )
        .select(
            "media_id",
            F.col("run_id").cast("long").alias("run_id"),
            "start_w",
            "end_w",
            "n_windows",
            "sum_energy",
            "active",
            "is_speech",
        )
    )


# ---------------------------------------------------------------------------
# Frequency-domain audio analytics: exact integer DFT bins
# ---------------------------------------------------------------------------

_DFT_N = 64  # samples per clip (the md5-derived fixture length)
_DFT_BINS = (1, 3, 7, 12)  # analysis frequencies (cycles per clip)
_DFT_SCALE = 10000  # trig table fixed-point scale

#: Integer-quantized trig table shared VERBATIM by both engines: the
#: only transcendental evaluation happens once at import time to build
#: these literals; every oracle-checked value downstream is exact
#: integer arithmetic over them (the JL-sign-matrix-as-literals
#: precedent).
_DFT_TBL: list[tuple[int, int, int, int]] = [
    (
        k,
        n,
        round(__import__("math").cos(2 * __import__("math").pi * k * n / _DFT_N) * _DFT_SCALE),
        round(__import__("math").sin(2 * __import__("math").pi * k * n / _DFT_N) * _DFT_SCALE),
    )
    for k in _DFT_BINS
    for n in range(_DFT_N)
]

_DFT_VALUES = ", ".join(
    f"({k}, {n}, {c}, {s})" for k, n, c, s in _DFT_TBL
)

#: Quantized spectral power, shared verbatim (re/im are bounded by
#: 64 * 32124 * 10000 ~ 2.1e10 — their direct squares would overflow
#: int64, the div-first form stays exact and identical cross-engine).
_DFT_POWER = (
    "(re_x div 10000) * (re_x div 10000)"
    " + (im_x div 10000) * (im_x div 10000)"
)


@query(
    "multimodal_dft_bins",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 64) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 64)) AS i, p FROM s),
    u AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS n,
                 255 - ascii(substr(p, i, 1)) AS ub
          FROM c),
    v AS (SELECT doc_id, n,
                 CAST(CASE WHEN ub >= 128 THEN -1 ELSE 1 END
                 * (((ub % 16) * 8 + 132) * power(2, (ub // 16) % 8) - 132)
                   AS BIGINT) AS val
          FROM u),
    tbl(k, n, co, si) AS (VALUES {_DFT_VALUES}),
    x AS (
      SELECT doc_id, k,
             CAST(sum(val * co) AS BIGINT) AS re_x,
             CAST(sum(val * si) AS BIGINT) AS im_x
      FROM v JOIN tbl USING (n) GROUP BY doc_id, k
    )
    SELECT doc_id AS media_id, CAST(k AS BIGINT) AS bin_k, re_x, im_x,
           CAST({_DFT_POWER.replace(' div ', ' // ')} AS BIGINT) AS power_q
    FROM x
    """,
    since=8,
)
def multimodal_dft_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer DFT-BIN spectral energy — the frequency-domain
    capability the audio family was missing (energy/VAD/resample are
    time-domain): each clip's {_DFT_N} mu-law samples decode through
    the real AU codec, then correlate against a fixed-point
    cosine/sine table at {len(_DFT_BINS)} analysis bins
    (the Goertzel/sliding-DFT use case: tone detection, band energy,
    spectral fingerprinting) — re/im accumulations and the quantized
    power are ALL exact int64, so the hash proves codec + transform
    end to end. The trig table is quantized once at import and shared
    as literals with the DuckDB oracle, which reconstructs the same
    samples from the ITU mu-law expansion formula and replays the
    correlation — two independent sample paths (real decoder vs
    algebraic formula) must agree bit-for-bit before any spectral
    value is even compared.

    Scale: decode is one Arrow boundary (bounded fan-out: {_DFT_N}
    rows/clip); the trig table is a {len(_DFT_TBL)}-row broadcast, the
    one shuffle keys (media, bin) with map-side partial sums. At 100 TB
    the same plan serves per-shard, and K bins cost K broadcast-join
    multiplies — no FFT dependency, no float drift across partition
    orders."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))
            ),
            1,
            64,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_au(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_au(
                    8000,
                    mm._ulaw_expand(
                        np.frombuffer(s.encode(), dtype=np.uint8)
                    ),
                    ulaw=True,
                )
                for s in p
            ]
        )

    media = d.select("media_id", to_au("p").alias("data"))
    samples = mm.audio_samples(media)
    tbl = spark.createDataFrame(_DFT_TBL, "k int, n int, co long, si long")
    x = (
        samples.join(F.broadcast(tbl), "n")
        .groupBy("media_id", "k")
        .agg(
            F.sum(F.col("val") * F.col("co")).cast("long").alias("re_x"),
            F.sum(F.col("val") * F.col("si")).cast("long").alias("im_x"),
        )
    )
    return x.select(
        "media_id",
        F.col("k").cast("long").alias("bin_k"),
        "re_x",
        "im_x",
        F.expr(_DFT_POWER).cast("long").alias("power_q"),
    )


# ---------------------------------------------------------------------------
# Relational convolution: Sobel gradient energy
# ---------------------------------------------------------------------------

#: The 3x3 Sobel kernel as (dx, dy, wx, wy) offset rows — wx = dx*(2-|dy|),
#: wy = dy*(2-|dx|) — shared between the Spark literal-array explode and
#: the oracle VALUES table.
_SOBEL_OFF = [
    (dx, dy, dx * (2 - abs(dy)), dy * (2 - abs(dx)))
    for dx in (-1, 0, 1)
    for dy in (-1, 0, 1)
]

_SOBEL_VALUES = ", ".join(f"({dx}, {dy}, {wx}, {wy})" for dx, dy, wx, wy in _SOBEL_OFF)


@query(
    "multimodal_sobel_energy",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             substr(md5(text) || md5(text || 'x') || md5(text || 'y'),
                    1, 72) AS p
      FROM documents
    ),
    pix AS (
      SELECT doc_id, (g - 1) // 9 AS y, (g - 1) % 9 AS x,
             CAST(ascii(substr(p, g, 1)) AS BIGINT) AS v
      FROM (SELECT doc_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    off(dx, dy, wx, wy) AS (VALUES {_SOBEL_VALUES}),
    contrib AS (
      SELECT doc_id, x - dx AS x0, y - dy AS y0,
             v * wx AS cx, v * wy AS cy
      FROM pix, off
    ),
    g AS (
      SELECT doc_id, y0, x0,
             CAST(sum(cx) AS BIGINT) AS gx, CAST(sum(cy) AS BIGINT) AS gy
      FROM contrib GROUP BY doc_id, y0, x0 HAVING count(*) = 9
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_interior,
           CAST(sum(gx * gx + gy * gy) AS BIGINT) AS edge_energy,
           CAST(max(gx * gx + gy * gy) AS BIGINT) AS max_grad2
    FROM g GROUP BY doc_id
    """,
    since=8,
)
def multimodal_sobel_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL CONVOLUTION — the 3x3 Sobel gradient as pure
    DataFrame algebra, the CV feature-extraction step above raw
    intensity stats (image_features reports brightness; this reports
    EDGE CONTENT, the blur/blank-image screen a multimodal training
    corpus filters on). The 8x9 grayscale fixture rides the real BMP
    codec round-trip, decodes to coordinate pixel rows (the new
    image_pixels view), and each pixel SCATTERS its 9 weighted kernel
    contributions by a literal-array explode (no join — projection +
    one group-by); an output pixel is interior iff all 9 neighbors
    contributed (HAVING count(*) = 9 — the boundary handling, free).
    Per image: interior count, total gradient energy Σ(gx²+gy²), and
    the sharpest edge — all exact int64 (|g| <= 4*255 so squares are
    tiny). The oracle replays pixels from the generative hex and the
    identical scatter relationally, so codec + kernel + boundary rule
    are all under the hash.

    Scale: decode is one Arrow boundary; the scatter is a constant
    9x fan-out fused into the scan (no shuffle until the
    (media, y, x)-keyed partial-aggregated group-by, whose
    cardinality is the pixel grid itself). Any separable/larger
    kernel is the same plan with a different offset literal; at
    100 TB of images this is embarrassingly parallel per shard."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    # r12: spread small inputs so the codec round-trip (Arrow
    # boundary) and the 9x pixel scatter parallelize past the scan's
    # single split (see scale.spread_scan); energy sums are exact int64
    d = spread_scan(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_bmp(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_bmp(
                    np.repeat(
                        np.frombuffer(s.encode(), dtype=np.uint8).reshape(
                            8, 9, 1
                        ),
                        3,
                        axis=2,
                    )
                )
                for s in p
            ]
        )

    media = d.select("media_id", to_bmp("p").alias("data"))
    px = mm.image_pixels(media)
    offs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(wx).alias("wx"),
                F.lit(wy).alias("wy"),
            )
            for dx, dy, wx, wy in _SOBEL_OFF
        ]
    )
    contrib = px.select(
        "media_id", "y", "x", "v", F.explode(offs).alias("o")
    ).select(
        "media_id",
        (F.col("x") - F.col("o.dx")).alias("x0"),
        (F.col("y") - F.col("o.dy")).alias("y0"),
        (F.col("v") * F.col("o.wx")).alias("cx"),
        (F.col("v") * F.col("o.wy")).alias("cy"),
    )
    g = (
        contrib.groupBy("media_id", "y0", "x0")
        .agg(
            F.count("*").alias("n"),
            F.sum("cx").cast("long").alias("gx"),
            F.sum("cy").cast("long").alias("gy"),
        )
        .filter(F.col("n") == 9)
    )
    grad2 = F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")
    return g.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_interior"),
        F.sum(grad2).cast("long").alias("edge_energy"),
        F.max(grad2).cast("long").alias("max_grad2"),
    )


# ---------------------------------------------------------------------------
# Time-domain pitch detection: integer autocorrelation argmax
# ---------------------------------------------------------------------------

_PITCH_LAGS = (2, 16)  # candidate period range, in samples


@query(
    "multimodal_pitch_autocorr",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, substr(md5(text) || md5(text || 'x'), 1, 64) AS p
      FROM documents
    ),
    c AS (SELECT doc_id, unnest(generate_series(1, 64)) AS i, p FROM s),
    u AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS n,
                 255 - ascii(substr(p, i, 1)) AS ub
          FROM c),
    v AS (SELECT doc_id, n,
                 CAST(CASE WHEN ub >= 128 THEN -1 ELSE 1 END
                 * (((ub % 16) * 8 + 132) * power(2, (ub // 16) % 8) - 132)
                   AS BIGINT) AS val
          FROM u),
    ac AS (
      SELECT a.doc_id, b.n - a.n AS lag,
             CAST(sum(a.val * b.val) AS BIGINT) AS acorr
      FROM v a JOIN v b
        ON a.doc_id = b.doc_id
       AND b.n - a.n BETWEEN {_PITCH_LAGS[0]} AND {_PITCH_LAGS[1]}
      GROUP BY a.doc_id, b.n - a.n
    ),
    best AS (
      SELECT doc_id, lag, acorr,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY acorr DESC, lag) AS rn
      FROM ac
    )
    SELECT doc_id AS media_id, CAST(lag AS BIGINT) AS period,
           acorr AS peak_acorr
    FROM best WHERE rn = 1
    """,
    since=9,
)
def multimodal_pitch_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DOMAIN PITCH detection — the autocorrelation-argmax
    estimator (the YIN/ACF family's exact core): the lag in
    [{_PITCH_LAGS[0]}, {_PITCH_LAGS[1]}] samples where the clip best
    matches a shifted copy of itself is its period — the
    complementary estimator to multimodal_dft_bins' frequency-domain
    energy (ACF finds the period directly, no bin quantization).
    Samples ride the real AU/mu-law codec into coordinate rows
    (audio_samples), autocorrelation at every candidate lag is an
    EXACT int64 lag-keyed aggregate over the self-join (no float, no
    normalization needed for pure argmax), and the winner pins ties
    to the smallest lag. The oracle replays samples from the ITU
    expansion formula and the same join — codec, correlation, and
    argmax all under the hash.

    Scale: the self-join blocks on media_id with band-bounded lag
    fan-out ({_PITCH_LAGS[1]} rows per sample, constant); the
    (media, lag) aggregate is partial-agg'd map-side; argmax is a
    media-partitioned window over {_PITCH_LAGS[1] - _PITCH_LAGS[0] + 1}
    rows per clip. Real pipelines window long clips first — same plan
    per window."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("x")))
            ),
            1,
            64,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_au(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_au(
                    8000,
                    mm._ulaw_expand(
                        np.frombuffer(s.encode(), dtype=np.uint8)
                    ),
                    ulaw=True,
                )
                for s in p
            ]
        )

    media = d.select("media_id", to_au("p").alias("data"))
    samples = mm.audio_samples(media)
    a = samples.select(
        "media_id", F.col("n").alias("na"), F.col("val").alias("va")
    )
    b = samples.select(
        F.col("media_id").alias("mb"),
        F.col("n").alias("nb"),
        F.col("val").alias("vb"),
    )
    ac = (
        a.join(
            b,
            (F.col("media_id") == F.col("mb"))
            & (F.col("nb") - F.col("na") >= _PITCH_LAGS[0])
            & (F.col("nb") - F.col("na") <= _PITCH_LAGS[1]),
        )
        .groupBy("media_id", (F.col("nb") - F.col("na")).alias("lag"))
        .agg(F.sum(F.col("va") * F.col("vb")).cast("long").alias("acorr"))
    )
    wm = W.partitionBy("media_id").orderBy(F.col("acorr").desc(), "lag")
    return (
        ac.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            "media_id",
            F.col("lag").cast("long").alias("period"),
            F.col("acorr").alias("peak_acorr"),
        )
    )


# ---------------------------------------------------------------------------
# Otsu threshold: integer-exact between-class variance argmax
# ---------------------------------------------------------------------------

#: Between-class variance score, x10000 fixed-point, shared verbatim
#: (numerator (n0*S - N*S0)² <= ~3e11 and the x10000 product stays
#: far inside int64 for 72-pixel fixtures).
_OTSU_SCORE = (
    "(n0 * s_all - n_all * s0) * (n0 * s_all - n_all * s0) * 10000"
    " div (n0 * (n_all - n0))"
)


@query(
    "multimodal_otsu_threshold",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             substr(md5(text) || md5(text || 'x') || md5(text || 'y'),
                    1, 72) AS p
      FROM documents
    ),
    pix AS (
      SELECT doc_id, CAST(ascii(substr(p, g, 1)) AS BIGINT) AS v
      FROM (SELECT doc_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    hist AS (
      SELECT doc_id, v, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv
      FROM pix GROUP BY doc_id, v
    ),
    cum AS (
      SELECT doc_id, v,
             CAST(sum(n) OVER w AS BIGINT) AS n0,
             CAST(sum(sv) OVER w AS BIGINT) AS s0,
             CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_all,
             CAST(sum(sv) OVER (PARTITION BY doc_id) AS BIGINT) AS s_all
      FROM hist
      WINDOW w AS (PARTITION BY doc_id ORDER BY v
                   ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
      SELECT doc_id, v,
             CAST({_OTSU_SCORE.replace(' div ', ' // ')} AS BIGINT)
               AS score_x10000,
             n0, n_all - n0 AS n1
      FROM cum WHERE n0 < n_all
    ),
    best AS (
      SELECT doc_id, v, score_x10000, n0, n1,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_x10000 DESC, v) AS rn
      FROM scored
    )
    SELECT doc_id AS media_id, v AS otsu_t, score_x10000,
           CAST(n0 AS BIGINT) AS n_below, CAST(n1 AS BIGINT) AS n_above
    FROM best WHERE rn = 1
    """,
    since=9,
)
def multimodal_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTSU THRESHOLDING — the automatic binarization algorithm (the
    segmentation step between multimodal_sobel_energy's edges and any
    shape analysis: pick the gray threshold maximizing between-class
    variance). The variance argmax is pure integer algebra on the
    image HISTOGRAM: for each candidate threshold (a distinct pixel
    value), between-class variance ∝ (n0·S − N·S0)² / (n0·(N−n0))
    with cumulative count/sum prefixes — x10000 fixed-point shared
    verbatim, argmax tie pinned to the darkest threshold; the
    degenerate all-below candidate (the max value) is excluded, not
    scored as zero. Pixels ride the real BMP codec round-trip
    (image_pixels); the oracle replays histogram, prefixes, and
    argmax from the generative hex.

    Scale: Otsu touches the HISTOGRAM, never pixels twice — one
    (image, value)-keyed partial-aggregated count (<= 256 rows per
    image regardless of resolution), one image-partitioned ordered
    window, one argmax. This is why Otsu at 100 TB of images is scan
    + tiny shuffle."""
    import numpy as np

    from virapipe_spark import multimodal as mm

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )

    @F.pandas_udf("binary")
    def to_bmp(p: pd.Series) -> pd.Series:
        return pd.Series(
            [
                mm.encode_bmp(
                    np.repeat(
                        np.frombuffer(s.encode(), dtype=np.uint8).reshape(
                            8, 9, 1
                        ),
                        3,
                        axis=2,
                    )
                )
                for s in p
            ]
        )

    media = d.select("media_id", to_bmp("p").alias("data"))
    px = mm.image_pixels(media)
    hist = px.groupBy("media_id", "v").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    wc = (
        W.partitionBy("media_id")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wa = W.partitionBy("media_id")
    cum = hist.select(
        "media_id",
        "v",
        F.sum("n").over(wc).cast("long").alias("n0"),
        F.sum("sv").over(wc).cast("long").alias("s0"),
        F.sum("n").over(wa).cast("long").alias("n_all"),
        F.sum("sv").over(wa).cast("long").alias("s_all"),
    )
    scored = cum.filter(F.col("n0") < F.col("n_all")).select(
        "media_id",
        "v",
        F.expr(_OTSU_SCORE).cast("long").alias("score_x10000"),
        "n0",
        (F.col("n_all") - F.col("n0")).alias("n1"),
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("media_id").orderBy(
                F.col("score_x10000").desc(), "v"
            )
        ),
    )
    return best.filter(F.col("rn") == 1).select(
        "media_id",
        F.col("v").alias("otsu_t"),
        "score_x10000",
        F.col("n0").cast("long").alias("n_below"),
        F.col("n1").cast("long").alias("n_above"),
    )


# ---------------------------------------------------------------------------
# Integral image (summed-area table) box-filter response
# ---------------------------------------------------------------------------

_SAT_SRC = """
      SELECT doc_id AS media_id,
             substr(md5(text) || md5(text || 'x') || md5(text || 'y'),
                    1, 72) AS p
      FROM documents
"""


@query(
    "multimodal_integral_boxsum",
    oracle=f"""
    WITH s AS ({_SAT_SRC}),
    px AS (
      SELECT media_id,
             CAST((g - 1) // 9 AS BIGINT) AS r,
             CAST((g - 1) % 9 AS BIGINT) AS c,
             CAST(ascii(substr(p, g, 1)) AS BIGINT) AS v
      FROM (SELECT media_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    box AS (
      SELECT a.media_id, a.r + d.dr AS cr, a.c + d.dc AS cc,
             CAST(sum(a.v) AS BIGINT) AS box_sum
      FROM px a
      JOIN (SELECT dr, dc
            FROM unnest(generate_series(-1, 1)) t1(dr),
                 unnest(generate_series(-1, 1)) t2(dc)) d ON TRUE
      WHERE a.r + d.dr BETWEEN 1 AND 6 AND a.c + d.dc BETWEEN 1 AND 7
      GROUP BY a.media_id, cr, cc
    ),
    tot AS (
      SELECT media_id, CAST(sum(v) AS BIGINT) AS img_total FROM px
      GROUP BY media_id
    ),
    best AS (
      SELECT media_id, cr, cc, box_sum,
             row_number() OVER (PARTITION BY media_id
                                ORDER BY box_sum DESC, cr, cc) AS rn
      FROM box
    )
    SELECT b.media_id, CAST(b.cr AS BIGINT) AS best_r,
           CAST(b.cc AS BIGINT) AS best_c, b.box_sum, t.img_total
    FROM best b JOIN tot t ON t.media_id = b.media_id
    WHERE b.rn = 1
    """,
    since=9,
)
def multimodal_integral_boxsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGRAL-IMAGE (summed-area table) box filter — the Viola-
    Jones primitive: one 2-D prefix-sum pass makes ANY axis-aligned
    box sum four lookups, independent of kernel size. Per 8x9
    fixture image: the brightest 3x3 box (its center and sum, argmax
    tie pinned top-left) plus the image total. The Spark side
    actually builds the SAT — a row-wise cumulative window then a
    column-wise one — and evaluates each box by the 4-corner signed
    identity SAT(r2,c2)−SAT(r0−1,c2)−SAT(r2,c0−1)+SAT(r0−1,c0−1),
    with out-of-range corners contributing an implicit zero (each SAT
    cell scatters to the ≤4 centers that reference it, so missing
    corner rows are simply absent addends). The ORACLE computes the
    same boxes by naive 9-neighbor expansion — an independent
    construction, which is what makes the corner algebra a real
    check and not a mirror.

    Scale: the SAT is two windowed passes partitioned by (image,
    line) — for megapixel frames the standard block-decomposed
    prefix-sum refinement applies; box evaluation is O(1) per box vs
    O(k²) for the naive sum, the entire reason detectors precompute
    integral images."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )
    px = d.select(
        "media_id",
        F.explode(F.sequence(F.lit(1), F.lit(72))).alias("g"),
        "p",
    ).select(
        "media_id",
        F.expr("(g - 1) div 9").cast("long").alias("r"),
        ((F.col("g") - 1) % 9).cast("long").alias("c"),
        F.expr("ascii(substr(p, g, 1))").cast("long").alias("v"),
    )
    rowpref = px.select(
        "media_id",
        "r",
        "c",
        F.sum("v")
        .over(
            W.partitionBy("media_id", "r")
            .orderBy("c")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("rp"),
    )
    sat = rowpref.select(
        "media_id",
        "r",
        "c",
        F.sum("rp")
        .over(
            W.partitionBy("media_id", "c")
            .orderBy("r")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("long")
        .alias("s"),
    )
    # scatter each SAT cell to the centers whose 4-corner identity
    # references it: (i,j) appears as +S at centers (i-1,j-1),(i+2,j+2)
    # and -S at (i+2,j-1),(i-1,j+2)
    corners = sat.select(
        "media_id",
        F.explode(
            F.array(
                F.struct(
                    (F.col("r") - 1).alias("cr"),
                    (F.col("c") - 1).alias("cc"),
                    F.col("s").alias("t"),
                ),
                F.struct(
                    (F.col("r") + 2).alias("cr"),
                    (F.col("c") + 2).alias("cc"),
                    F.col("s").alias("t"),
                ),
                F.struct(
                    (F.col("r") + 2).alias("cr"),
                    (F.col("c") - 1).alias("cc"),
                    (-F.col("s")).alias("t"),
                ),
                F.struct(
                    (F.col("r") - 1).alias("cr"),
                    (F.col("c") + 2).alias("cc"),
                    (-F.col("s")).alias("t"),
                ),
            )
        ).alias("e"),
    ).select("media_id", "e.cr", "e.cc", "e.t")
    box = (
        corners.filter(
            F.col("cr").between(1, 6) & F.col("cc").between(1, 7)
        )
        .groupBy("media_id", "cr", "cc")
        .agg(F.sum("t").cast("long").alias("box_sum"))
    )
    tot = px.groupBy("media_id").agg(
        F.sum("v").cast("long").alias("img_total")
    )
    best = box.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("media_id").orderBy(
                F.col("box_sum").desc(), "cr", "cc"
            )
        ),
    ).filter(F.col("rn") == 1)
    return best.join(tot, "media_id").select(
        "media_id",
        F.col("cr").cast("long").alias("best_r"),
        F.col("cc").cast("long").alias("best_c"),
        "box_sum",
        "img_total",
    )


# ---------------------------------------------------------------------------
# Histogram equalization (integer CDF remap)
# ---------------------------------------------------------------------------


@query(
    "multimodal_hist_equalize",
    oracle=f"""
    WITH s AS ({_SAT_SRC}),
    px AS (
      SELECT media_id, CAST(g AS BIGINT) AS g,
             CAST(ascii(substr(p, g, 1)) AS BIGINT) AS v
      FROM (SELECT media_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    hist AS (
      SELECT media_id, v, CAST(count(*) AS BIGINT) AS n
      FROM px GROUP BY media_id, v
    ),
    cdf AS (
      SELECT media_id, v,
             CAST(sum(n) OVER (PARTITION BY media_id ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(first_value(n) OVER (PARTITION BY media_id ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cdf_min,
             CAST(sum(n) OVER (PARTITION BY media_id) AS BIGINT) AS n_all
      FROM hist
    ),
    eq AS (
      SELECT media_id, v,
             CASE WHEN n_all = cdf_min THEN 0
                  ELSE CAST((cum - cdf_min) * 255 // (n_all - cdf_min)
                            AS BIGINT) END AS ev
      FROM cdf
    )
    SELECT px.media_id,
           CAST(min(eq.ev) AS BIGINT) AS eq_min,
           CAST(max(eq.ev) AS BIGINT) AS eq_max,
           CAST(count(DISTINCT eq.ev) AS BIGINT) AS n_levels,
           CAST(sum(eq.ev * px.g) AS BIGINT) AS checksum
    FROM px JOIN eq ON eq.media_id = px.media_id AND eq.v = px.v
    GROUP BY px.media_id
    """,
    since=9,
)
def multimodal_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM EQUALIZATION — the contrast-normalization remap
    (OpenCV equalizeHist): stretch each image's intensity CDF to the
    full 0..255 range with h(v) = (cdf(v) − cdf_min)·255 / (N −
    cdf_min), all in truncating integer arithmetic (the division is
    the textbook formula's floor). Per image the output is the
    remapped extrema (min lands on 0 and max on 255 by construction —
    a visible self-check), the distinct level count (equalization
    never merges distinct input levels: CDF is strictly increasing on
    occupied values), and a position-weighted checksum that pins
    every remapped pixel, not just the summary. The all-identical
    image degenerate (N = cdf_min) is guarded to 0 explicitly — under
    ANSI the bare session would otherwise divide by zero.

    Scale: the remap table is per-(image, distinct value) — bounded
    by 256 rows per image whatever the resolution — built from one
    histogram aggregate and one ordered window; pixels join the tiny
    table on (image, value). Same plan family as Otsu: scan + tiny
    shuffle."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )
    px = d.select(
        "media_id",
        F.explode(F.sequence(F.lit(1), F.lit(72))).alias("g"),
        "p",
    ).select(
        "media_id",
        F.col("g").cast("long").alias("g"),
        F.expr("ascii(substr(p, g, 1))").cast("long").alias("v"),
    )
    hist = px.groupBy("media_id", "v").agg(
        F.count("*").cast("long").alias("n")
    )
    wv = (
        W.partitionBy("media_id")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cdf = hist.select(
        "media_id",
        "v",
        F.sum("n").over(wv).cast("long").alias("cum"),
        F.first("n").over(wv).cast("long").alias("cdf_min"),
        F.sum("n").over(W.partitionBy("media_id")).cast("long").alias("n_all"),
    )
    eq = cdf.select(
        "media_id",
        "v",
        F.when(F.col("n_all") == F.col("cdf_min"), F.lit(0))
        .otherwise(
            F.expr("(cum - cdf_min) * 255 div (n_all - cdf_min)")
        )
        .cast("long")
        .alias("ev"),
    )
    return (
        px.join(eq, ["media_id", "v"])
        .groupBy("media_id")
        .agg(
            F.min("ev").cast("long").alias("eq_min"),
            F.max("ev").cast("long").alias("eq_max"),
            F.countDistinct("ev").cast("long").alias("n_levels"),
            F.sum(F.col("ev") * F.col("g")).cast("long").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Haar wavelet band energy (unnormalized, integer-exact)
# ---------------------------------------------------------------------------


def _haar_oracle(levels: int = 6) -> str:
    """Chained pair-halving construction: level l sums/differences the
    level l-1 approximations — deliberately a DIFFERENT shape than the
    Spark side's one-shot signed block sums, so the algebraic identity
    between the two is what the hash verifies."""
    src = f"""
    WITH s AS ({_SAT_SRC}),
    a0 AS (
      SELECT media_id, CAST(g - 1 AS BIGINT) AS pos,
             CAST(ascii(substr(p, g, 1)) AS BIGINT) AS a
      FROM (SELECT media_id, p, unnest(generate_series(1, 64)) AS g FROM s)
    )"""
    parts = []
    for l in range(1, levels + 1):
        parts.append(f"""
    l{l} AS (
      SELECT media_id, CAST(pos // 2 AS BIGINT) AS pos,
             CAST(sum(a) AS BIGINT) AS a,
             CAST(sum(CASE WHEN pos % 2 = 0 THEN a ELSE -a END)
                  AS BIGINT) AS d
      FROM {"a0" if l == 1 else f"l{l - 1}"}
      GROUP BY media_id, pos // 2
    )""")
    unions = " UNION ALL ".join(
        f"""
      SELECT media_id, CAST({l} AS BIGINT) AS level,
             CAST(sum(d * d) AS BIGINT) AS energy,
             CAST(count(*) AS BIGINT) AS n_coeffs
      FROM l{l} GROUP BY media_id"""
        for l in range(1, levels + 1)
    )
    return src + "," + ",".join(parts) + unions


@query("multimodal_haar_energy", oracle=_haar_oracle(), since=9)
def multimodal_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAAR WAVELET band energy over 64-sample audio frames — the
    multi-resolution spectral summary (the transform behind dHash's
    big sibling pHash and every wavelet audio fingerprinter): per
    frame and per decomposition level 1..6, the sum of squared
    unnormalized detail coefficients — how much signal variance lives
    at each time scale. Exact integers end to end: an unnormalized
    Haar detail is an integer linear form of the samples, so no
    sqrt(2) normalization ever appears (energies are a fixed 2^l
    rescale of the orthonormal ones — a report convention, not a
    loss). The Spark side computes each level's details DIRECTLY as
    signed block sums (+1 on the first half of each 2^l block, −1 on
    the second); the oracle builds the classic recursive pair-halving
    pyramid — two different constructions of the same algebra.

    Scale: the explode is bounded (64 samples x 6 levels per frame)
    and every level is one map-side-combinable keyed aggregate — no
    windows, no joins; real audio shards by (media, frame) and the
    pyramid depth stays log(frame), the same plan at any corpus
    size."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            64,
        ).alias("p"),
    )
    samples = d.select(
        "media_id",
        F.explode(F.sequence(F.lit(1), F.lit(64))).alias("g"),
        "p",
    ).select(
        "media_id",
        (F.col("g") - 1).cast("long").alias("pos"),
        F.expr("ascii(substr(p, g, 1))").cast("long").alias("x"),
    )
    lv = samples.select(
        "media_id",
        "pos",
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(6))).alias("level"),
    )
    coeffs = (
        lv.select(
            "media_id",
            "level",
            F.expr("pos div (1 << level)").alias("block"),
            F.when(
                F.expr("pos % (1 << level) < (1 << (level - 1))"),
                F.col("x"),
            )
            .otherwise(-F.col("x"))
            .alias("sx"),
        )
        .groupBy("media_id", "level", "block")
        .agg(F.sum("sx").cast("long").alias("d"))
    )
    return coeffs.groupBy("media_id", F.col("level").cast("long").alias("level")).agg(
        F.sum(F.col("d") * F.col("d")).cast("long").alias("energy"),
        F.count("*").cast("long").alias("n_coeffs"),
    )


# ---------------------------------------------------------------------------
# Binary morphology: 3x3 opening (erosion then dilation)
# ---------------------------------------------------------------------------


@query(
    "multimodal_morph_open",
    oracle=f"""
    WITH s AS ({_SAT_SRC}),
    px AS (
      SELECT media_id,
             CAST((g - 1) // 9 AS BIGINT) AS r,
             CAST((g - 1) % 9 AS BIGINT) AS c,
             CAST(ascii(substr(p, g, 1)) AS BIGINT) AS v
      FROM (SELECT media_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    fg AS (SELECT media_id, r, c FROM px WHERE v >= 80),
    offs AS (
      SELECT dr, dc
      FROM unnest(generate_series(-1, 1)) t1(dr),
           unnest(generate_series(-1, 1)) t2(dc)
    ),
    er AS (
      SELECT f.media_id, f.r + o.dr AS r, f.c + o.dc AS c
      FROM fg f JOIN offs o ON TRUE
      WHERE f.r + o.dr BETWEEN 0 AND 7 AND f.c + o.dc BETWEEN 0 AND 8
      GROUP BY f.media_id, f.r + o.dr, f.c + o.dc
      HAVING count(*) = 9
    ),
    op AS (
      SELECT e.media_id, e.r + o.dr AS r, e.c + o.dc AS c
      FROM er e JOIN offs o ON TRUE
      WHERE e.r + o.dr BETWEEN 0 AND 7 AND e.c + o.dc BETWEEN 0 AND 8
      GROUP BY e.media_id, e.r + o.dr, e.c + o.dc
    ),
    nf AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_fg
           FROM fg GROUP BY media_id),
    ne AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_eroded,
                  CAST(sum(r * 9 + c) AS BIGINT) AS eroded_checksum
           FROM er GROUP BY media_id),
    no_ AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_opened,
                   CAST(sum(r * 9 + c) AS BIGINT) AS opened_checksum
            FROM op GROUP BY media_id)
    SELECT nf.media_id, nf.n_fg,
           COALESCE(ne.n_eroded, 0) AS n_eroded,
           COALESCE(no_.n_opened, 0) AS n_opened,
           COALESCE(ne.eroded_checksum, 0) AS eroded_checksum,
           COALESCE(no_.opened_checksum, 0) AS opened_checksum
    FROM nf
    LEFT JOIN ne ON ne.media_id = nf.media_id
    LEFT JOIN no_ ON no_.media_id = nf.media_id
    """,
    since=9,
)
def multimodal_morph_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY MORPHOLOGY — 3x3 OPENING (erosion then dilation), the
    despeckle/denoise primitive of every binary-image pipeline (OCR
    cleanup, mask post-processing, blob filtering): erosion keeps a
    pixel only when its full 3x3 neighborhood is foreground, dilation
    grows the survivors back, and the composition removes any
    component thinner than the structuring element while preserving
    bulk shapes. Both passes are the same relational kernel as the
    box filter: scatter each foreground pixel to the 9 windows that
    see it, aggregate per center — erosion is count()==9 (out-of-
    bounds neighbors contribute nothing, so borders erode away, the
    zero-padding convention), dilation is bare membership. Per image:
    foreground population before/after each stage and position
    checksums that pin every surviving pixel exactly.

    Scale: two scatter-aggregate rounds, each shuffling 9 rows per
    foreground pixel on the (image, pixel) key — embarrassingly
    parallel across images, and within an image the standard tiled
    decomposition (ghost borders one pixel wide) applies unchanged at
    megapixel sizes. No Python, no codec boundary: pixels here come
    from the deterministic hex fixture, decoupling the morphology
    from the decode stage (the real-codec entries own that)."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )
    px = d.select(
        "media_id",
        F.explode(F.sequence(F.lit(1), F.lit(72))).alias("g"),
        "p",
    ).select(
        "media_id",
        F.expr("(g - 1) div 9").cast("long").alias("r"),
        ((F.col("g") - 1) % 9).cast("long").alias("c"),
        F.expr("ascii(substr(p, g, 1))").cast("long").alias("v"),
    )
    fg = px.filter(F.col("v") >= 80).select("media_id", "r", "c")
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).cast("long").alias("dr"),
        (F.expr("id div 3") - 1).cast("long").alias("dc"),
    )

    def scatter(src: DataFrame) -> DataFrame:
        return (
            src.crossJoin(F.broadcast(offs))
            .select(
                "media_id",
                (F.col("r") + F.col("dr")).alias("r"),
                (F.col("c") + F.col("dc")).alias("c"),
            )
            .filter(
                F.col("r").between(0, 7) & F.col("c").between(0, 8)
            )
        )

    er = (
        scatter(fg)
        .groupBy("media_id", "r", "c")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") == 9)
        .select("media_id", "r", "c")
    )
    op = scatter(er).groupBy("media_id", "r", "c").agg(
        F.lit(1).alias("one")
    ).select("media_id", "r", "c")
    nf = fg.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_fg")
    )
    ne = er.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_eroded"),
        F.sum(F.col("r") * 9 + F.col("c"))
        .cast("long")
        .alias("eroded_checksum"),
    )
    no = op.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_opened"),
        F.sum(F.col("r") * 9 + F.col("c"))
        .cast("long")
        .alias("opened_checksum"),
    )
    return (
        nf.join(ne, "media_id", "left")
        .join(no, "media_id", "left")
        .select(
            "media_id",
            "n_fg",
            F.coalesce("n_eroded", F.lit(0)).cast("long").alias("n_eroded"),
            F.coalesce("n_opened", F.lit(0)).cast("long").alias("n_opened"),
            F.coalesce("eroded_checksum", F.lit(0))
            .cast("long")
            .alias("eroded_checksum"),
            F.coalesce("opened_checksum", F.lit(0))
            .cast("long")
            .alias("opened_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Image moments (exact A^2-scaled central moments + orientation class)
# ---------------------------------------------------------------------------


@query(
    "multimodal_image_moments",
    oracle=f"""
    WITH s AS ({_SAT_SRC}),
    px AS (
      SELECT media_id,
             CAST((g - 1) // 9 AS BIGINT) AS r,
             CAST((g - 1) % 9 AS BIGINT) AS c,
             CAST(ascii(substr(p, g, 1)) AS BIGINT) AS v
      FROM (SELECT media_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    m AS (
      SELECT media_id,
             CAST(sum(v) AS BIGINT) AS m00,
             CAST(sum(r * v) AS BIGINT) AS m10,
             CAST(sum(c * v) AS BIGINT) AS m01,
             CAST(sum(r * r * v) AS BIGINT) AS m20,
             CAST(sum(r * c * v) AS BIGINT) AS m11,
             CAST(sum(c * c * v) AS BIGINT) AS m02
      FROM px GROUP BY media_id
    )
    SELECT media_id, m00, m10, m01,
           CAST(m00 * m20 - m10 * m10 AS BIGINT) AS mu20s,
           CAST(m00 * m11 - m10 * m01 AS BIGINT) AS mu11s,
           CAST(m00 * m02 - m01 * m01 AS BIGINT) AS mu02s,
           CAST(CASE WHEN m00 * m11 - m10 * m01 >= 0 THEN 1 ELSE -1 END
                * CASE WHEN (m00 * m20 - m10 * m10)
                            >= (m00 * m02 - m01 * m01)
                       THEN 2 ELSE 1 END AS BIGINT) AS orient_class
    FROM m
    """,
    since=9,
)
def multimodal_image_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE MOMENTS — the shape-descriptor aggregate behind blob
    analytics (centroid, spread, orientation; the raw ingredients of
    Hu invariants): raw moments Mpq = sum r^p c^q v accumulate in one
    pass, and the translation-invariant CENTRAL moments come out
    EXACTLY by clearing the centroid division — mu20·M00² = M00·M20 −
    M10² (and likewise mu11, mu02), so no float enters the pipeline at
    all. The orientation quadrant (sign of the covariance term ×
    which axis dominates) is emitted as an integer class — the
    discretized version of the 0.5·atan2(2mu11, mu20−mu02) angle,
    chosen over the angle itself because atan2 ULP behavior is
    engine-specific while the sign tests are exact.

    Scale: a single scan-stage aggregate (six sums, map-side
    combinable) — the cheapest possible shape: no window, no join, no
    shuffle beyond the per-image combine. Moments over megapixel
    frames accumulate in int64 comfortably (bounded by
    rows²·cols²·255 per term)."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )
    px = d.select(
        "media_id",
        F.explode(F.sequence(F.lit(1), F.lit(72))).alias("g"),
        "p",
    ).select(
        "media_id",
        F.expr("(g - 1) div 9").cast("long").alias("r"),
        ((F.col("g") - 1) % 9).cast("long").alias("c"),
        F.expr("ascii(substr(p, g, 1))").cast("long").alias("v"),
    )
    m = px.groupBy("media_id").agg(
        F.sum("v").cast("long").alias("m00"),
        F.sum(F.col("r") * F.col("v")).cast("long").alias("m10"),
        F.sum(F.col("c") * F.col("v")).cast("long").alias("m01"),
        F.sum(F.col("r") * F.col("r") * F.col("v"))
        .cast("long")
        .alias("m20"),
        F.sum(F.col("r") * F.col("c") * F.col("v"))
        .cast("long")
        .alias("m11"),
        F.sum(F.col("c") * F.col("c") * F.col("v"))
        .cast("long")
        .alias("m02"),
    )
    mu20s = F.col("m00") * F.col("m20") - F.col("m10") * F.col("m10")
    mu11s = F.col("m00") * F.col("m11") - F.col("m10") * F.col("m01")
    mu02s = F.col("m00") * F.col("m02") - F.col("m01") * F.col("m01")
    return m.select(
        "media_id",
        "m00",
        "m10",
        "m01",
        mu20s.cast("long").alias("mu20s"),
        mu11s.cast("long").alias("mu11s"),
        mu02s.cast("long").alias("mu02s"),
        (
            F.when(mu11s >= 0, F.lit(1)).otherwise(F.lit(-1))
            * F.when(mu20s >= mu02s, F.lit(2)).otherwise(F.lit(1))
        )
        .cast("long")
        .alias("orient_class"),
    )


# ---------------------------------------------------------------------------
# Connected-component region labeling + region statistics
# ---------------------------------------------------------------------------



def _region_label_expr(col: str = "p") -> str:
    """The 71-sweep min-label CC fold over an 8x9 grid encoded in
    string column ``col`` (foreground = bytes >= 97). Module-level so
    the adversarial-grid property tests (tests/test_fold_properties)
    can drive it with literal serpentine/checkerboard patterns the
    md5-derived fixture can never produce."""
    big = 9999
    return f"""
    aggregate(sequence(1, 71),
      transform(sequence(0, 71),
                i -> IF(ascii(substr({col}, i + 1, 1)) >= 97, i, -1)),
      (lab, it) -> transform(sequence(0, 71), i ->
        IF(element_at(lab, i + 1) = -1, -1,
           least(element_at(lab, i + 1),
             IF(i % 9 > 0,
                coalesce(nullif(element_at(lab, i), -1), {big}), {big}),
             IF(i % 9 < 8,
                coalesce(nullif(element_at(lab, i + 2), -1), {big}), {big}),
             IF(i >= 9,
                coalesce(nullif(element_at(lab, i - 8), -1), {big}), {big}),
             IF(i < 63,
                coalesce(nullif(element_at(lab, i + 10), -1), {big}),
                {big})))))
    """


@query(
    "multimodal_region_label",
    oracle=f"""
    WITH RECURSIVE s AS ({_SAT_SRC}),
    px AS (
      SELECT media_id,
             CAST((g - 1) // 9 AS BIGINT) AS r,
             CAST((g - 1) % 9 AS BIGINT) AS c,
             CAST(ascii(substr(p, g, 1)) AS BIGINT) AS v
      FROM (SELECT media_id, p, unnest(generate_series(1, 72)) AS g FROM s)
    ),
    fg AS (
      SELECT media_id, r, c, r * 9 + c AS pid FROM px WHERE v >= 97
    ),
    ed AS (
      SELECT a.media_id, a.pid AS p, b.pid AS q
      FROM fg a JOIN fg b ON b.media_id = a.media_id
       AND ((b.r = a.r AND b.c = a.c + 1) OR (b.r = a.r + 1 AND b.c = a.c))
    ),
    sym AS (
      SELECT media_id, p, q FROM ed
      UNION ALL SELECT media_id, q, p FROM ed
    ),
    reach AS (
      SELECT media_id, pid, pid AS m FROM fg
      UNION
      SELECT e.media_id, e.q, r.m
      FROM reach r JOIN sym e ON e.media_id = r.media_id AND e.p = r.pid
    ),
    lab AS (
      SELECT media_id, pid, CAST(min(m) AS BIGINT) AS label
      FROM reach GROUP BY media_id, pid
    )
    SELECT l.media_id, l.label,
           CAST(count(*) AS BIGINT) AS area,
           CAST(min(f.r) AS BIGINT) AS min_r,
           CAST(max(f.r) AS BIGINT) AS max_r,
           CAST(min(f.c) AS BIGINT) AS min_c,
           CAST(max(f.c) AS BIGINT) AS max_c,
           CAST(sum(f.pid) AS BIGINT) AS pid_checksum
    FROM lab l JOIN fg f ON f.media_id = l.media_id AND f.pid = l.pid
    GROUP BY l.media_id, l.label
    """,
    since=9,
)
def multimodal_region_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTED-COMPONENT region LABELING — the blob-extraction step
    between thresholding (multimodal_otsu_threshold) and per-region
    measurement (multimodal_image_moments): 4-connected foreground
    pixels form regions, each labeled by its minimum pixel index, with
    area, bounding box and an exact membership checksum per region —
    the cv2.connectedComponentsWithStats contract. An image is a
    BOUNDED local object (one row; 72 cells here, a tile at real
    resolutions — every image library labels locally for the same
    reason), so the labeling runs entirely INSIDE the row: a fold of
    71 min-label sweeps over the cell array (a label front advances
    >= 1 cell per sweep, and the longest shortest-path in a 72-cell
    region is 71, so convergence is by construction, not by hope),
    then one explode + groupBy(media, label) for the region stats.
    Zero joins, zero iteration rounds in the PLAN — a million frames
    are one embarrassingly parallel projection plus one stats shuffle
    of ~foreground-density rows per frame. (r9's first cut ran the
    global pointer-doubling CC engine across a media*72+pid node
    graph — right when regions SPAN rows, e.g. stitched panoramas or
    the docs dedup cluster graph, and preserved in git history +
    graph.connected_components_doubling, which docs_dedup_clusters
    still exercises — but 8x slower here: 22.7 s -> 2.8 s at sf0.01,
    bit-identical output. Tiling megapixel frames re-introduces
    cross-row seams; THEN the doubling engine stitches tile labels,
    with rounds ~ log2(tiles), not log2(pixels).) The ORACLE recurses
    per-image reachability and labels by min — an independent
    flood-fill construction. Foreground = hex letter digits (v >= 97,
    density 6/16), safely below the square-lattice site-percolation
    threshold, so regions stay small and the oracle closure bounded.

    Scale: one scan-side projection (whole-stage codegen, no Python),
    one hash aggregation on (media, label); partial aggregation
    collapses a frame's pixels map-side. Skew-free: keys are
    region-grained, never hotter than one frame's cell count."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
            1,
            72,
        ).alias("p"),
    )
    # cell i: row = i div 9, col = i % 9; neighbors left/right/up/down
    # guarded by lazy IF so element_at never sees an out-of-range
    # index; background = -1, non-existent/background neighbor = 9999
    # (> any pid, absorbed by least).
    lab_expr = _region_label_expr()
    px = d.select(
        "media_id",
        F.explode(
            F.expr(
                f"filter(transform({lab_expr},"
                " (l, i) -> named_struct('pid', i, 'label', l)),"
                " x -> x.label >= 0)"
            )
        ).alias("z"),
    ).select(
        "media_id",
        F.col("z.pid").cast("long").alias("pid"),
        F.col("z.label").cast("long").alias("label"),
        F.expr("z.pid div 9").cast("long").alias("r"),
        (F.col("z.pid") % 9).cast("long").alias("c"),
    )
    return px.groupBy("media_id", "label").agg(
        F.count("*").cast("long").alias("area"),
        F.min("r").cast("long").alias("min_r"),
        F.max("r").cast("long").alias("max_r"),
        F.min("c").cast("long").alias("min_c"),
        F.max("c").cast("long").alias("max_c"),
        F.sum("pid").cast("long").alias("pid_checksum"),
    )


# ---------------------------------------------------------------------------
# Dynamic time warping (anti-diagonal wavefront DP)
# ---------------------------------------------------------------------------

_DTW_N = 10


def _dtw_oracle() -> str:
    """Unrolled 2N-2 anti-diagonal DP in plain (non-recursive) SQL —
    recursive CTEs cannot re-aggregate the working table, so each
    diagonal is its own CTE computing min over the scattered
    predecessor moves (the same scatter shape the Spark side uses,
    constructed independently over the same recurrence)."""
    n = _DTW_N
    parts = [
        """d0 AS MATERIALIZED (
      SELECT pair, i, j, cost AS dp FROM cells WHERE i = 0 AND j = 0
    )"""
    ]
    for d in range(1, 2 * n - 1):
        scat = [
            f"SELECT pair, i + 1 AS i, j, dp FROM d{d - 1}",
            f"SELECT pair, i, j + 1 AS j, dp FROM d{d - 1}",
        ]
        if d >= 2:
            scat.append(
                f"SELECT pair, i + 1 AS i, j + 1 AS j, dp FROM d{d - 2}"
            )
        u = "\n        UNION ALL ".join(scat)
        parts.append(
            f"""d{d} AS MATERIALIZED (
      SELECT c.pair, c.i, c.j, c.cost + min(s.dp) AS dp
      FROM cells c
      JOIN ({u}) s
        ON s.pair = c.pair AND s.i = c.i AND s.j = c.j
      WHERE c.i + c.j = {d}
      GROUP BY c.pair, c.i, c.j, c.cost
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH ea AS (
      SELECT doc_id AS pair, g - 1 AS i,
             CAST(ascii(substr(md5(text), g, 1)) AS BIGINT) AS v
      FROM documents, unnest(generate_series(1, {n})) t(g)
      WHERE doc_id < 400 AND doc_id % 2 = 0
    ),
    eb AS (
      SELECT doc_id - 1 AS pair, g - 1 AS j,
             CAST(ascii(substr(md5(text), g, 1)) AS BIGINT) AS v
      FROM documents, unnest(generate_series(1, {n})) t(g)
      WHERE doc_id < 401 AND doc_id % 2 = 1
    ),
    cells AS MATERIALIZED (
      SELECT a.pair, a.i, b.j, abs(a.v - b.v) AS cost
      FROM ea a JOIN eb b ON b.pair = a.pair
    ),
    {body}
    SELECT pair AS pair_id, CAST(dp AS BIGINT) AS dtw
    FROM d{2 * n - 2}
    """



def _dtw_dp_expr(n: int) -> str:
    """The pair-local DTW fold over bigint array columns ``va``/``vb``
    of length ``n``: column j=1 seeds the outer fold (running sum down
    a-frames); each outer step builds column j from column j-1
    ("prev"), the growing column itself ("acc", the left/down
    neighbor), and the diagonal. Module-level so the tie-heavy
    property tests can drive it with literal arrays."""
    return f"""
    aggregate(
      sequence(2, {n}),
      aggregate(sequence(2, {n}),
                array(abs(element_at(va, 1) - element_at(vb, 1))),
                (acc, i) -> concat(acc, array(element_at(acc, i - 1)
                    + abs(element_at(va, i) - element_at(vb, 1))))),
      (prev, j) -> aggregate(sequence(2, {n}),
                array(element_at(prev, 1)
                    + abs(element_at(va, 1) - element_at(vb, j))),
                (acc, i) -> concat(acc, array(
                    abs(element_at(va, i) - element_at(vb, j))
                    + least(element_at(prev, i), element_at(acc, i - 1),
                            element_at(prev, i - 1))))),
      col -> element_at(col, {n})
    )
    """


@query("multimodal_dtw_distance", oracle=_dtw_oracle(), since=9)
def multimodal_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING — the elastic alignment distance for
    series that drift in tempo (audio fingerprint matching, sensor
    alignment, query-by-humming), where Euclidean frame-by-frame
    comparison breaks. The O(N²) recurrence dp(i,j) = |a_i − b_j| +
    min(dp(i−1,j), dp(i,j−1), dp(i−1,j−1)) looks sequential, but at
    corpus scale the parallelism that matters is ACROSS PAIRS: each
    pair's DP table is a bounded local object (N² cells; a Sakoe-Chiba
    band caps it at N·band for long series), so the whole matrix
    evaluates inside ONE column expression — a nested `aggregate`
    (outer fold over b-frames carrying the previous DP column, inner
    fold over a-frames building the next column against `prev`, its
    left-shifted self, and the diagonal) — and a million pairs cost
    one equi-join plus an embarrassingly parallel projection, zero
    iteration rounds. Integer frame envelopes (deterministic md5
    fixture) keep every dp exact. The ORACLE unrolls the recurrence
    the OTHER classical way — 2N−2 chained anti-diagonal CTEs, the
    wavefront decomposition — so the two engines share only the
    recurrence, not the evaluation order. (The Spark side of r9 also
    began as the wavefront — one shuffle round per diagonal, preserved
    in git history — and the pair-local fold replaced it at 14.5x:
    26.3 s -> 1.8 s at sf0.01, bit-identical. The wavefront only wins
    when a SINGLE pair's banded matrix exceeds one executor, which a
    band chosen for memory never lets happen.)

    Scale: one shuffle (the pair equi-join; either side broadcastable
    when small), then per-row compute with no state beyond two
    N-length DP columns — the plan that survives a 1000-executor
    corpus. The fixture clips pairs at doc_id < 400 to bound the
    oracle's unrolled CTE chain, not the engine."""
    n = _DTW_N
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 401)
    # The envelope is built as n EXPLICIT references to the md5 alias,
    # not a transform lambda: CollapseProject re-inlines a single-use
    # non-cheap alias into the lambda (re-digesting the text once per
    # frame — verified on the optimized plan), but it keeps the md5
    # Project separate once the alias is referenced n times, so the
    # text is hashed exactly once per row (r9 review, second pass).
    frames = d.select("doc_id", F.md5("text").alias("h")).select(
        "doc_id",
        F.array(
            *[
                F.ascii(F.substring(F.col("h"), g, 1)).cast("long")
                for g in range(1, n + 1)
            ]
        ).alias("v"),
    )
    ea = frames.filter(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 400)
    ).select(F.col("doc_id").alias("pair"), F.col("v").alias("va"))
    eb = frames.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") - 1).alias("pair"), F.col("v").alias("vb")
    )
    dp = _dtw_dp_expr(n)
    return ea.join(eb, "pair").select(
        F.col("pair").alias("pair_id"), F.expr(dp).cast("long").alias("dtw")
    )


# ---------------------------------------------------------------------------
# Median-cut palette quantization (3 levels -> 8-color corpus palette)
# ---------------------------------------------------------------------------

_MC_LEVELS = 3


def _mc_oracle() -> str:
    """Three unrolled median-cut rounds in plain SQL: per box pick the
    widest channel (tie order R, G, B), split at the smallest value
    whose cumulative pixel count reaches half (the integer crossing
    test), children = box*2 + side."""
    parts = []
    prev = "p0"
    for i in range(1, _MC_LEVELS + 1):
        parts.append(
            f"""st{i} AS (
      SELECT box, max(r) - min(r) AS rr, max(g) - min(g) AS rg,
             max(b) - min(b) AS rb
      FROM {prev} GROUP BY box
    ),
    ch{i} AS (
      SELECT box, CASE WHEN rr >= rg AND rr >= rb THEN 0
                       WHEN rg >= rb THEN 1 ELSE 2 END AS ch
      FROM st{i}
    ),
    v{i} AS (
      SELECT p.doc_id, p.px, p.r, p.g, p.b, p.box,
             CASE c.ch WHEN 0 THEN p.r WHEN 1 THEN p.g ELSE p.b END AS v
      FROM {prev} p JOIN ch{i} c ON c.box = p.box
    ),
    cum{i} AS (
      SELECT box, v,
             CAST(sum(count(*)) OVER (PARTITION BY box ORDER BY v
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum,
             CAST(sum(count(*)) OVER (PARTITION BY box) AS BIGINT) AS tot
      FROM v{i} GROUP BY box, v
    ),
    med{i} AS (
      SELECT box, CAST(min(CASE WHEN 2 * cum >= tot THEN v END) AS BIGINT)
               AS med
      FROM cum{i} GROUP BY box
    ),
    p{i} AS (
      SELECT w.doc_id, w.px, w.r, w.g, w.b,
             w.box * 2 + CASE WHEN w.v > m.med THEN 1 ELSE 0 END AS box
      FROM v{i} w JOIN med{i} m ON m.box = w.box
    )"""
        )
        prev = f"p{i}"
    body = ",\n    ".join(parts)
    return f"""
    WITH p0 AS (
      SELECT doc_id, g AS px,
             CAST(ascii(substr(md5(text), g, 1)) AS BIGINT) AS r,
             CAST(ascii(substr(md5(text || 'x'), g, 1)) AS BIGINT) AS g,
             CAST(ascii(substr(md5(text || 'y'), g, 1)) AS BIGINT) AS b,
             0 AS box
      FROM documents, unnest(generate_series(1, 24)) t(g)
    ),
    {body}
    SELECT box, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(r) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_r,
           CAST(sum(g) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_g,
           CAST(sum(b) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_b
    FROM p{_MC_LEVELS} GROUP BY box
    """


@query("multimodal_median_cut", oracle=_mc_oracle(), since=10)
def multimodal_median_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN-CUT color quantization — the classic palette builder
    (Heckbert '82; GIF/PNG8 encoders, thumbnail dominant-color
    extraction): recursively split the RGB point cloud at the median
    of the widest channel, three levels deep -> an 8-color corpus
    palette. Each level is the same division-free machinery as the
    weighted-median entry — per-box channel ranges (one aggregate),
    widest-channel choice (deterministic tie order R>G>B), the
    smallest value whose cumulative count reaches half (2·cum >= tot
    over exact integers), and child assignment box*2+side. Pixels are
    the deterministic 3-stream md5 fixture (24 RGB pixels per doc,
    pooled corpus-wide — a palette is a CORPUS statistic, which is
    what makes it a distributed-aggregation problem rather than a
    per-image loop). Output: per palette box, exact pixel counts and
    channel sums plus the three single-division averages (the palette
    colors).

    Scale: each level is one range-aggregate, one (box, value)
    grouped cumulative window, one broadcast-size median table joined
    back — box count doubles per level (bounded 2^levels), while the
    pixel table shuffles on the box key: three passes over the data
    regardless of corpus size, the standard distributed median-cut
    layout."""
    d = table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(24))).alias("px"),
        F.md5("text").alias("hr"),
        F.md5(F.concat(F.col("text"), F.lit("x"))).alias("hg"),
        F.md5(F.concat(F.col("text"), F.lit("y"))).alias("hb"),
    ).select(
        "doc_id",
        "px",
        F.expr("ascii(substr(hr, px, 1))").cast("long").alias("r"),
        F.expr("ascii(substr(hg, px, 1))").cast("long").alias("g"),
        F.expr("ascii(substr(hb, px, 1))").cast("long").alias("b"),
        F.lit(0).cast("long").alias("box"),
    )
    for _ in range(_MC_LEVELS):
        st = p.groupBy("box").agg(
            (F.max("r") - F.min("r")).alias("rr"),
            (F.max("g") - F.min("g")).alias("rg"),
            (F.max("b") - F.min("b")).alias("rb"),
        )
        ch = st.select(
            "box",
            F.when(
                (F.col("rr") >= F.col("rg")) & (F.col("rr") >= F.col("rb")),
                0,
            )
            .when(F.col("rg") >= F.col("rb"), 1)
            .otherwise(2)
            .alias("ch"),
        )
        v = p.join(F.broadcast(ch), "box").select(
            "doc_id",
            "px",
            "r",
            "g",
            "b",
            "box",
            F.when(F.col("ch") == 0, F.col("r"))
            .when(F.col("ch") == 1, F.col("g"))
            .otherwise(F.col("b"))
            .alias("v"),
        )
        # v has two consumers (cum -> med, and the child reassignment)
        # and p itself feeds two (st and v): without a cut the scan
        # chain re-evaluates ~3^levels times. Same role as the
        # oracle's MATERIALIZED CTEs (measured 6.5 -> 4.7 s warm at
        # sf0.1; the residual is per-level stage scheduling).
        v = truncate_lineage(v, reliable=True)
        cw = W.partitionBy("box").orderBy("v").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        cum = (
            v.groupBy("box", "v")
            .agg(F.count("*").alias("n"))
            .select(
                "box",
                "v",
                F.sum("n").over(cw).cast("long").alias("cum"),
                F.sum("n")
                .over(W.partitionBy("box"))
                .cast("long")
                .alias("tot"),
            )
        )
        med = cum.groupBy("box").agg(
            F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("v")))
            .cast("long")
            .alias("med")
        )
        p = v.join(F.broadcast(med), "box").select(
            "doc_id",
            "px",
            "r",
            "g",
            "b",
            (
                F.col("box") * 2
                + F.when(F.col("v") > F.col("med"), 1).otherwise(0)
            )
            .cast("long")
            .alias("box"),
        )
    return p.groupBy("box").agg(
        F.count("*").cast("long").alias("n_pixels"),
        F.sum("r").cast("long").alias("sum_r"),
        F.sum("g").cast("long").alias("sum_g"),
        F.sum("b").cast("long").alias("sum_b"),
        (F.sum("r").cast("long") / F.count("*").cast("long")).alias("avg_r"),
        (F.sum("g").cast("long") / F.count("*").cast("long")).alias("avg_g"),
        (F.sum("b").cast("long") / F.count("*").cast("long")).alias("avg_b"),
    )


# ---------------------------------------------------------------------------
# Integer Hough transform (digital line detection by direction voting)
# ---------------------------------------------------------------------------

# eight integer directions (a, b): a line through direction (a, b) has
# invariant a*y - b*x = c with integer c — the division-free digital
# Hough parameterization (no cos/sin floats to disagree across engines)
_HOUGH_DIRS = [(1, 0), (0, 1), (1, 1), (1, -1), (2, 1), (1, 2), (2, -1),
               (1, -2)]
_HOUGH_PTS = 16  # planted collinear points, and noise points, per image


def _hough_px() -> str:
    """SQL for the deterministic point cloud: 16 points planted on a
    md5-chosen line (direction d in 0..7, anchor in [0,16)^2, step by
    the direction vector so collinearity is exact) + 16 md5 noise
    points anywhere in [0,64)^2."""
    return f"""
    pts AS (
      SELECT doc_id,
             CASE WHEN t.k < {_HOUGH_PTS}
                  THEN hx % 16 + t.k * CASE hd
                         WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN 1
                         WHEN 3 THEN 1 WHEN 4 THEN 2 WHEN 5 THEN 1
                         WHEN 6 THEN 2 ELSE 1 END
                  ELSE CAST('0x' || substr(md5('nx|' || CAST(doc_id AS
                       VARCHAR) || '|' || CAST(t.k AS VARCHAR)), 1, 8)
                       AS BIGINT) % 64 END AS x,
             CASE WHEN t.k < {_HOUGH_PTS}
                  THEN hy % 16 + t.k * CASE hd
                         WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1
                         WHEN 3 THEN -1 WHEN 4 THEN 1 WHEN 5 THEN 2
                         WHEN 6 THEN -1 ELSE -2 END
                  ELSE CAST('0x' || substr(md5('ny|' || CAST(doc_id AS
                       VARCHAR) || '|' || CAST(t.k AS VARCHAR)), 1, 8)
                       AS BIGINT) % 64 END AS y
      FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5('hd|' || CAST(doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) % 8 AS hd,
               CAST('0x' || substr(md5('hx|' || CAST(doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) AS hx,
               CAST('0x' || substr(md5('hy|' || CAST(doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) AS hy
        FROM documents
      ), unnest(generate_series(0, {2 * _HOUGH_PTS - 1})) t(k)
    )"""


def _hough_oracle() -> str:
    dirs = ", ".join(f"({a}, {b})" for a, b in _HOUGH_DIRS)
    return f"""
    WITH {_hough_px()},
    dirs(a, b) AS (VALUES {dirs}),
    votes AS (
      SELECT p.doc_id, d.a, d.b, d.a * p.y - d.b * p.x AS c,
             CAST(count(*) AS BIGINT) AS votes
      FROM pts p, dirs d
      GROUP BY p.doc_id, d.a, d.b, c
    )
    SELECT doc_id, CAST(a AS BIGINT) AS dir_a, CAST(b AS BIGINT) AS dir_b,
           CAST(c AS BIGINT) AS c, votes
    FROM (
      SELECT doc_id, a, b, c, votes,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY votes DESC, a, b, c) AS rn
      FROM votes
    ) WHERE rn = 1
    """


@query("multimodal_hough_lines", oracle=_hough_oracle(), since=10)
def multimodal_hough_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOUGH TRANSFORM line detection — the classical vote-in-parameter-
    space detector (lane finding, document deskew, PCB inspection) in
    its DIVISION-FREE integer form: a digital line with direction
    (a, b) satisfies a*y - b*x = c exactly, so each edge point votes
    once per direction for the integer bin (a, b, c) — no cos/sin, no
    rho quantization, no float disagreement between engines. The
    fixture plants 16 exactly-collinear points per image (md5-chosen
    direction and anchor) among 16 md5 noise points; the top
    accumulator bin per image (votes DESC, then direction/offset
    tie-break) recovers the planted line, which the twin test asserts
    independently — detection, not just bookkeeping, is what's
    verified.

    Scale: voting is one generator explode (8 constant directions) +
    one groupBy — the pure scatter-aggregate shape, map-side combined;
    the top-1 per image is a doc-keyed window. Accumulator size is
    bounded by directions x offsets, never by pixel count: the same
    reason the real Hough scales to video streams.

    Reference capability class: image feature extraction beyond the
    reference (SURVEY.md section 2 multimodal extras; Sobel/Otsu/
    moments precedents)."""
    n = _HOUGH_PTS

    def _h(tag: str, extra=None):
        parts = [F.lit(tag + "|"), F.col("doc_id").cast("string")]
        if extra is not None:
            parts += [F.lit("|"), extra.cast("string")]
        return F.conv(
            F.substring(F.md5(F.concat(*parts)), 1, 8), 16, 10
        ).cast("long")

    d = table(spark, sf_dir, "documents").select("doc_id")
    base = d.select(
        "doc_id",
        (_h("hd") % 8).alias("hd"),
        _h("hx").alias("hx"),
        _h("hy").alias("hy"),
    )
    sx = F.array(*[F.lit(a) for a, _ in _HOUGH_DIRS])
    sy = F.array(*[F.lit(b) for _, b in _HOUGH_DIRS])
    pts = base.select(
        "doc_id",
        "hd",
        "hx",
        "hy",
        F.explode(F.sequence(F.lit(0), F.lit(2 * n - 1))).alias("k"),
    ).select(
        "doc_id",
        F.when(
            F.col("k") < n,
            F.col("hx") % 16
            + F.col("k") * F.element_at(sx, F.col("hd").cast("int") + 1),
        )
        .otherwise(_h("nx", F.col("k")) % 64)
        .alias("x"),
        F.when(
            F.col("k") < n,
            F.col("hy") % 16
            + F.col("k") * F.element_at(sy, F.col("hd").cast("int") + 1),
        )
        .otherwise(_h("ny", F.col("k")) % 64)
        .alias("y"),
    )
    da = F.array(*[F.lit(a) for a, _ in _HOUGH_DIRS])
    db = F.array(*[F.lit(b) for _, b in _HOUGH_DIRS])
    votes = (
        pts.select(
            "doc_id",
            "x",
            "y",
            F.explode(F.sequence(F.lit(1), F.lit(len(_HOUGH_DIRS)))).alias(
                "di"
            ),
        )
        .select(
            "doc_id",
            F.element_at(da, F.col("di").cast("int")).alias("a"),
            F.element_at(db, F.col("di").cast("int")).alias("b"),
            (
                F.element_at(da, F.col("di").cast("int")) * F.col("y")
                - F.element_at(db, F.col("di").cast("int")) * F.col("x")
            ).alias("c"),
        )
        .groupBy("doc_id", "a", "b", "c")
        .agg(F.count("*").cast("long").alias("votes"))
    )
    return (
        votes.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.col("votes").desc(), "a", "b", "c"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("a").cast("long").alias("dir_a"),
            F.col("b").cast("long").alias("dir_b"),
            F.col("c").cast("long").alias("c"),
            "votes",
        )
    )


# ---------------------------------------------------------------------------
# Exact Manhattan distance transform (separable closed-form window passes)
# ---------------------------------------------------------------------------

_DT_W = 16  # grid side
_DT_SEEDS = 8
_DT_INF = 9999


def _dt_oracle() -> str:
    w, inf = _DT_W, _DT_INF
    seed_eq = " OR ".join(
        f"(x = CAST('0x' || substr(md5('sx|' || CAST(doc_id AS VARCHAR)"
        f" || '|{k}'), 1, 8) AS BIGINT) % {w}"
        f" AND y = CAST('0x' || substr(md5('sy|' || CAST(doc_id AS VARCHAR)"
        f" || '|{k}'), 1, 8) AS BIGINT) % {w})"
        for k in range(_DT_SEEDS)
    )
    return f"""
    WITH px AS (
      SELECT doc_id, gx.x, gy.y,
             CASE WHEN {seed_eq} THEN 0 ELSE {inf} END AS src
      FROM documents,
           unnest(generate_series(0, {w - 1})) gx(x),
           unnest(generate_series(0, {w - 1})) gy(y)
    ),
    rowd AS (
      SELECT doc_id, x, y,
             least(
               x + min(src - x) OVER (PARTITION BY doc_id, y ORDER BY x
                                      ROWS UNBOUNDED PRECEDING),
               -x + min(src + x) OVER (PARTITION BY doc_id, y
                                       ORDER BY x DESC
                                       ROWS UNBOUNDED PRECEDING)
             ) AS g
      FROM px
    ),
    dt AS (
      SELECT doc_id, x, y,
             least(
               y + min(g - y) OVER (PARTITION BY doc_id, x ORDER BY y
                                    ROWS UNBOUNDED PRECEDING),
               -y + min(g + y) OVER (PARTITION BY doc_id, x
                                     ORDER BY y DESC
                                     ROWS UNBOUNDED PRECEDING)
             ) AS d
      FROM rowd
    )
    SELECT doc_id,
           CAST(sum(d) AS BIGINT) AS dt_sum,
           CAST(max(d) AS BIGINT) AS dt_max,
           CAST(count(CASE WHEN d = 0 THEN 1 END) AS BIGINT) AS n_seeds,
           CAST(sum(d * (x * {w} + y + 1)) AS BIGINT) AS dt_checksum
    FROM dt GROUP BY doc_id
    """


@query("multimodal_distance_transform", oracle=_dt_oracle(), since=10)
def multimodal_distance_transform(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """EXACT MANHATTAN DISTANCE TRANSFORM — the feature-proximity map
    under morphology, skeletonization, and nearest-obstacle queries
    (and the CPU half of signed-distance-field text rendering). The
    recurrence d_f(x) = min(d_f(x-1)+1, src(x)) looks like a
    sequential raster scan, but L1 distance is SEPARABLE and each 1-D
    pass has a CLOSED FORM: min over x' of (src(x') + |x-x'|) =
    least(x + cummin(src(x') - x'), -x + reverse-cummin(src(x') + x'))
    — two running-min windows per axis, four windows total, every
    value an exact integer. No iteration count tied to image diameter
    (the iterated min-plus alternative needs D rounds; this needs
    exactly 4 passes at ANY size — the same trick that turns the
    sequential prefix recurrence into the depth-histogram's carried
    offsets). Eight md5-planted seeds per image; per image the
    transform ships as exact aggregate + position-weighted checksum
    so every cell value participates in the hash. BFS twin test
    re-derives the full field on the tiny fixture.

    Scale: pixels explode scan-fused; windows are (doc, row)- and
    (doc, col)-keyed — bounded partitions, zero cross-image traffic;
    block-partitioned rows with carried margins extend the same
    closed form to tiled gigapixel rasters.

    Reference capability class: image feature geometry
    (SURVEY.md multimodal extras; morphology/integral-image
    precedents)."""
    w, inf, ns = _DT_W, _DT_INF, _DT_SEEDS

    def _h(tag: str, k: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{tag}|"),
                            F.col("doc_id").cast("string"),
                            F.lit(f"|{k}"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % w
        )

    d = table(spark, sf_dir, "documents").select("doc_id")
    seeds = d.select(
        "doc_id",
        *[_h("sx", k).alias(f"sx{k}") for k in range(ns)],
        *[_h("sy", k).alias(f"sy{k}") for k in range(ns)],
    )
    px = (
        seeds.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("x")
        )
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("y")
        )
        .select(
            "doc_id",
            "x",
            "y",
            F.when(
                sum(
                    (
                        (F.col("x") == F.col(f"sx{k}"))
                        & (F.col("y") == F.col(f"sy{k}"))
                    ).cast("int")
                    for k in range(ns)
                )
                > 0,
                0,
            )
            .otherwise(inf)
            .alias("src"),
        )
    )
    wy = W.partitionBy("doc_id", "y")
    rowd = px.select(
        "doc_id",
        "x",
        "y",
        F.least(
            F.col("x")
            + F.min(F.col("src") - F.col("x")).over(
                wy.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
            ),
            -F.col("x")
            + F.min(F.col("src") + F.col("x")).over(
                wy.orderBy(F.col("x").desc()).rowsBetween(
                    W.unboundedPreceding, 0
                )
            ),
        ).alias("g"),
    )
    wx = W.partitionBy("doc_id", "x")
    dt = rowd.select(
        "doc_id",
        "x",
        "y",
        F.least(
            F.col("y")
            + F.min(F.col("g") - F.col("y")).over(
                wx.orderBy("y").rowsBetween(W.unboundedPreceding, 0)
            ),
            -F.col("y")
            + F.min(F.col("g") + F.col("y")).over(
                wx.orderBy(F.col("y").desc()).rowsBetween(
                    W.unboundedPreceding, 0
                )
            ),
        ).alias("d"),
    )
    return dt.groupBy("doc_id").agg(
        F.sum("d").cast("long").alias("dt_sum"),
        F.max("d").cast("long").alias("dt_max"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_seeds"),
        F.sum(F.col("d") * (F.col("x") * w + F.col("y") + 1))
        .cast("long")
        .alias("dt_checksum"),
    )


# ---------------------------------------------------------------------------
# Convex hull vertex identification (exact integer orientation tests)
# ---------------------------------------------------------------------------

_CH_PTS = 12
_CH_SIDE = 1024


def _ch_oracle() -> str:
    side = _CH_SIDE

    def h(tag):
        return (
            f"CAST('0x' || substr(md5('{tag}|' || CAST(doc_id AS VARCHAR)"
            f" || '|' || CAST(k.k AS VARCHAR)), 1, 8) AS BIGINT) % {side}"
        )

    return f"""
    WITH raw AS (
      SELECT doc_id, {h('cx')} AS x, {h('cy')} AS y
      FROM documents, unnest(generate_series(0, {_CH_PTS - 1})) k(k)
    ),
    pts AS MATERIALIZED (
      SELECT doc_id, x, y,
             row_number() OVER (PARTITION BY doc_id ORDER BY x, y) AS pid
      FROM (SELECT DISTINCT doc_id, x, y FROM raw)
    ),
    tri AS MATERIALIZED (
      SELECT p.doc_id, p.pid,
             max(CASE WHEN
               (b.x-a.x)*(c.y-a.y) - (b.y-a.y)*(c.x-a.x) <> 0
               AND (
                 ((b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x) >= 0
                  AND (c.x-b.x)*(p.y-b.y) - (c.y-b.y)*(p.x-b.x) >= 0
                  AND (a.x-c.x)*(p.y-c.y) - (a.y-c.y)*(p.x-c.x) >= 0)
                 OR
                 ((b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x) <= 0
                  AND (c.x-b.x)*(p.y-b.y) - (c.y-b.y)*(p.x-b.x) <= 0
                  AND (a.x-c.x)*(p.y-c.y) - (a.y-c.y)*(p.x-c.x) <= 0)
               ) THEN 1 ELSE 0 END) AS in_tri
      FROM pts p
      JOIN pts a ON a.doc_id = p.doc_id AND a.pid <> p.pid
      JOIN pts b ON b.doc_id = p.doc_id AND b.pid > a.pid
               AND b.pid <> p.pid
      JOIN pts c ON c.doc_id = p.doc_id AND c.pid > b.pid
               AND c.pid <> p.pid
      GROUP BY p.doc_id, p.pid
    ),
    seg AS MATERIALIZED (
      SELECT p.doc_id, p.pid,
             max(CASE WHEN
               (b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x) = 0
               AND p.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
               AND p.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y)
               THEN 1 ELSE 0 END) AS on_seg
      FROM pts p
      JOIN pts a ON a.doc_id = p.doc_id AND a.pid <> p.pid
      JOIN pts b ON b.doc_id = p.doc_id AND b.pid > a.pid
               AND b.pid <> p.pid
      GROUP BY p.doc_id, p.pid
    )
    SELECT p.doc_id, p.x, p.y,
           CAST(CASE WHEN COALESCE(t.in_tri, 0) = 0
                      AND COALESCE(s.on_seg, 0) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_vertex
    FROM pts p
    LEFT JOIN tri t ON t.doc_id = p.doc_id AND t.pid = p.pid
    LEFT JOIN seg s ON s.doc_id = p.doc_id AND s.pid = p.pid
    """


@query("multimodal_convex_hull", oracle=_ch_oracle(), since=10)
def multimodal_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVEX HULL VERTEX IDENTIFICATION — the computational-geometry
    primitive (bounding shapes, outlier frontiers, collision proxies)
    done set-at-a-time: p is a hull vertex iff p is NOT in the convex
    hull of its peers, decided by Caratheodory — p is in the hull iff
    some NONDEGENERATE peer triangle contains it (three orientation
    cross products with consistent sign; boundary counts as inside) or
    it lies ON a peer segment (the collinear case a naive triangle
    test gets wrong: three zero crosses claim containment even outside
    the span, so degenerate triples are excluded and segments tested
    explicitly). Every test is an exact integer cross product — no
    epsilon, no float orientation flips, the reason this is
    hash-checkable at all. Per-point rows (doc, x, y, is_vertex) keep
    the full decision auditable; sequential monotone-chain twin.

    Scale: the quadruple/triple explosion is per-document and
    CONSTANT (12 distinct points -> <=1980 triangle rows, 660 segment
    rows), scan-fused, zero cross-document traffic. Large point sets
    use the standard two-level refinement — hull of per-partition
    hulls — whose inner step is exactly this operator.

    Reference capability class: geometric aggregation (the skyline /
    pareto family's exact-geometry member)."""
    side = _CH_SIDE

    def h(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{tag}|"),
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % side
        )

    d = table(spark, sf_dir, "documents").select("doc_id")
    raw = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_CH_PTS - 1))).alias("k"),
    ).select("doc_id", h("cx").alias("x"), h("cy").alias("y"))
    pts = (
        raw.distinct()
        .withColumn(
            "pid",
            F.row_number().over(W.partitionBy("doc_id").orderBy("x", "y")),
        )
    )
    pts = truncate_lineage(pts, reliable=True)

    def side_tbl(name):
        return pts.select(
            F.col("doc_id").alias(f"{name}d"),
            F.col("pid").alias(f"{name}p"),
            F.col("x").alias(f"{name}x"),
            F.col("y").alias(f"{name}y"),
        )

    p, a, b, c = pts, side_tbl("a"), side_tbl("b"), side_tbl("c")

    def cross(x1, y1, x2, y2, x3, y3):
        return (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1)

    tri_rows = (
        p.join(a, (F.col("ad") == F.col("doc_id")) & (F.col("ap") != F.col("pid")))
        .join(
            b,
            (F.col("bd") == F.col("doc_id"))
            & (F.col("bp") > F.col("ap"))
            & (F.col("bp") != F.col("pid")),
        )
        .join(
            c,
            (F.col("cd") == F.col("doc_id"))
            & (F.col("cp") > F.col("bp"))
            & (F.col("cp") != F.col("pid")),
        )
    )
    d1 = cross(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
               F.col("x"), F.col("y"))
    d2 = cross(F.col("bx"), F.col("by"), F.col("cx"), F.col("cy"),
               F.col("x"), F.col("y"))
    d3 = cross(F.col("cx"), F.col("cy"), F.col("ax"), F.col("ay"),
               F.col("x"), F.col("y"))
    ori = cross(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                F.col("cx"), F.col("cy"))
    tri = tri_rows.groupBy("doc_id", "pid").agg(
        F.max(
            F.when(
                (ori != 0)
                & (
                    ((d1 >= 0) & (d2 >= 0) & (d3 >= 0))
                    | ((d1 <= 0) & (d2 <= 0) & (d3 <= 0))
                ),
                1,
            ).otherwise(0)
        ).alias("in_tri")
    )
    segd = cross(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                 F.col("x"), F.col("y"))
    seg = (
        p.join(a, (F.col("ad") == F.col("doc_id")) & (F.col("ap") != F.col("pid")))
        .join(
            b,
            (F.col("bd") == F.col("doc_id"))
            & (F.col("bp") > F.col("ap"))
            & (F.col("bp") != F.col("pid")),
        )
        .groupBy("doc_id", "pid")
        .agg(
            F.max(
                F.when(
                    (segd == 0)
                    & F.col("x").between(
                        F.least("ax", "bx"), F.greatest("ax", "bx")
                    )
                    & F.col("y").between(
                        F.least("ay", "by"), F.greatest("ay", "by")
                    ),
                    1,
                ).otherwise(0)
            ).alias("on_seg")
        )
    )
    return (
        pts.join(tri, ["doc_id", "pid"], "left")
        .join(seg, ["doc_id", "pid"], "left")
        .select(
            "doc_id",
            "x",
            "y",
            F.when(
                (F.coalesce("in_tri", F.lit(0)) == 0)
                & (F.coalesce("on_seg", F.lit(0)) == 0),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("is_vertex"),
        )
    )


# ---------------------------------------------------------------------------
# Image registration by integer cross-correlation (planted shift recovery)
# ---------------------------------------------------------------------------

_REG_W = 12  # image side
_REG_S = 3  # max |shift| searched per axis (7x7 offsets)


def _reg_px(tag: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{tag}|' || CAST(doc_id AS VARCHAR)"
        f" || '|' || CAST(gx.x AS VARCHAR) || ','"
        f" || CAST(gy.y AS VARCHAR)), 1, 4) AS BIGINT) % 256"
    )


def _reg_oracle() -> str:
    w, s = _REG_W, _REG_S
    return f"""
    WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
    sh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('dx|' || CAST(doc_id AS VARCHAR)),
                                 1, 4) AS BIGINT) % {2 * s + 1} - {s} AS dx,
             CAST('0x' || substr(md5('dy|' || CAST(doc_id AS VARCHAR)),
                                 1, 4) AS BIGINT) % {2 * s + 1} - {s} AS dy
      FROM docs
    ),
    ia AS MATERIALIZED (
      SELECT doc_id, gx.x, gy.y, {_reg_px('px')} AS v
      FROM docs,
           unnest(generate_series(0, {w - 1})) gx(x),
           unnest(generate_series(0, {w - 1})) gy(y)
    ),
    ib AS MATERIALIZED (
      SELECT a.doc_id, a.x + h.dx AS x, a.y + h.dy AS y, a.v
      FROM ia a JOIN sh h ON h.doc_id = a.doc_id
    ),
    offs AS (
      SELECT ox.o AS ox, oy.o AS oy
      FROM unnest(generate_series(-{s}, {s})) ox(o),
           unnest(generate_series(-{s}, {s})) oy(o)
    ),
    corr AS MATERIALIZED (
      SELECT a.doc_id, o.ox, o.oy,
             CAST(sum(a.v * b.v) AS BIGINT) AS score,
             CAST(count(*) AS BIGINT) AS n_overlap
      FROM ia a
      CROSS JOIN offs o
      JOIN ib b ON b.doc_id = a.doc_id
              AND b.x = a.x + o.ox AND b.y = a.y + o.oy
      GROUP BY a.doc_id, o.ox, o.oy
    )
    SELECT c.doc_id,
           CAST(c.ox AS BIGINT) AS est_dx, CAST(c.oy AS BIGINT) AS est_dy,
           c.score, c.n_overlap,
           CAST(h.dx AS BIGINT) AS true_dx, CAST(h.dy AS BIGINT) AS true_dy,
           CAST(CASE WHEN c.ox = h.dx AND c.oy = h.dy
                     THEN 1 ELSE 0 END AS BIGINT) AS recovered
    FROM (
      SELECT doc_id, ox, oy, score, n_overlap,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, ox, oy) AS rn
      FROM corr
    ) c
    JOIN sh h ON h.doc_id = c.doc_id
    WHERE c.rn = 1
    """


@query("multimodal_image_registration", oracle=_reg_oracle(), since=10)
def multimodal_image_registration(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """IMAGE REGISTRATION by cross-correlation argmax — the alignment
    primitive under video stabilization, burst-photo merging, and
    stereo offset search: image B is a PLANTED integer translate of A
    (md5-chosen shift in [-3,3]^2), and the estimator sweeps all 49
    candidate offsets, scoring each by the exact integer correlation
    sum(A[x,y] * B[x+ox, y+oy]) over the overlap — the argmax recovers
    the planted shift, emitted alongside ground truth as a verified
    `recovered` column (the Hough planted-fixture discipline: the
    DETECTOR is what's tested, not just bookkeeping). Ties broken
    (score DESC, ox, oy); overlap size rides along so the
    shrinking-window bias at large offsets is visible as data.

    Scale: correlation is one equi-join on (doc, shifted coordinates)
    after a constant 49-offset explode — scatter-aggregate, zero
    cross-image traffic; production registration FFTs this, but the
    spatial form IS the exact one and stays integer. Per-image work is
    constant (w^2 x 49 terms).

    Reference capability class: multimodal geometry (shot-boundary /
    DTW family — the spatial-alignment member)."""
    w, s = _REG_W, _REG_S

    def h4(tag: str, extra) -> Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag + "|"), extra)), 1, 4
            ),
            16,
            10,
        ).cast("long")

    # doc_id < 1000 caps per-scale probe volume (1000 x w^2 x 49 rows)
    # the same way DTW clips its pair set — bounding the ORACLE and the
    # bare-session sort, not the engine's reach
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id")
    )
    sh = d.select(
        "doc_id",
        (h4("dx", F.col("doc_id").cast("string")) % (2 * s + 1) - s).alias(
            "dx"
        ),
        (h4("dy", F.col("doc_id").cast("string")) % (2 * s + 1) - s).alias(
            "dy"
        ),
    )
    ia = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("x"),
        )
        .select(
            "doc_id",
            "x",
            F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("y"),
        )
        .select(
            "doc_id",
            "x",
            "y",
            (
                h4(
                    "px",
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        F.col("x").cast("string"),
                        F.lit(","),
                        F.col("y").cast("string"),
                    ),
                )
                % 256
            ).alias("v"),
        )
    )
    ia = truncate_lineage(ia, reliable=True)
    ib = ia.join(sh, "doc_id").select(
        "doc_id",
        (F.col("x") + F.col("dx")).alias("bx"),
        (F.col("y") + F.col("dy")).alias("by"),
        F.col("v").alias("bv"),
    )
    probes = ia.select(
        "doc_id",
        "x",
        "y",
        "v",
        F.explode(
            F.array(*[F.lit(i) for i in range(-s, s + 1)])
        ).alias("ox"),
    ).select(
        "doc_id",
        "x",
        "y",
        "v",
        "ox",
        F.explode(
            F.array(*[F.lit(i) for i in range(-s, s + 1)])
        ).alias("oy"),
    )
    # the shifted-image side is ~quarter-million rows at sf0.1 — small
    # for a cluster but over the bare 1g driver's broadcast budget;
    # the merge hint pins SMJ so the plan works at ANY executor size
    corr = (
        probes.join(
            ib.hint("merge"),
            (probes["doc_id"] == ib["doc_id"])
            & (F.col("bx") == F.col("x") + F.col("ox"))
            & (F.col("by") == F.col("y") + F.col("oy")),
        )
        .drop(ib["doc_id"])
        .groupBy("doc_id", "ox", "oy")
        .agg(
            F.sum(F.col("v") * F.col("bv")).cast("long").alias("score"),
            F.count("*").cast("long").alias("n_overlap"),
        )
    )
    best = corr.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(
                F.col("score").desc(), "ox", "oy"
            )
        ),
    ).filter(F.col("rn") == 1)
    return best.join(sh, "doc_id").select(
        "doc_id",
        F.col("ox").cast("long").alias("est_dx"),
        F.col("oy").cast("long").alias("est_dy"),
        "score",
        "n_overlap",
        F.col("dx").cast("long").alias("true_dx"),
        F.col("dy").cast("long").alias("true_dy"),
        F.when(
            (F.col("ox") == F.col("dx")) & (F.col("oy") == F.col("dy")), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("recovered"),
    )


# ---------------------------------------------------------------------------
# 3x3 median filter (rank-order smoothing, exact bounded-alphabet median)
# ---------------------------------------------------------------------------

_MF_W = 16


def _mf_oracle() -> str:
    w = _MF_W
    return f"""
    WITH px AS MATERIALIZED (
      SELECT doc_id, gx.x, gy.y,
             CAST('0x' || substr(md5('mf|' || CAST(doc_id AS VARCHAR)
               || '|' || CAST(gx.x AS VARCHAR) || ','
               || CAST(gy.y AS VARCHAR)), 1, 4) AS BIGINT) % 256 AS v
      FROM documents,
           unnest(generate_series(0, {w - 1})) gx(x),
           unnest(generate_series(0, {w - 1})) gy(y)
    ),
    scat AS (
      SELECT p.doc_id, p.x + ox.o AS x, p.y + oy.o AS y, p.v
      FROM px p,
           unnest(generate_series(-1, 1)) ox(o),
           unnest(generate_series(-1, 1)) oy(o)
      WHERE p.x + ox.o BETWEEN 0 AND {w - 1}
        AND p.y + oy.o BETWEEN 0 AND {w - 1}
    ),
    hist AS (
      SELECT doc_id, x, y, v, CAST(count(*) AS BIGINT) AS c
      FROM scat GROUP BY doc_id, x, y, v
    ),
    med AS (
      SELECT doc_id, x, y,
             CAST(min(CASE WHEN 2 * cc >= n THEN v END) AS BIGINT) AS m
      FROM (
        SELECT doc_id, x, y, v,
               sum(c) OVER (PARTITION BY doc_id, x, y ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cc,
               sum(c) OVER (PARTITION BY doc_id, x, y) AS n
        FROM hist
      ) GROUP BY doc_id, x, y
    )
    SELECT m.doc_id,
           CAST(sum(m.m) AS BIGINT) AS med_sum,
           CAST(sum(m.m * (m.x * {w} + m.y + 1)) AS BIGINT) AS checksum,
           CAST(sum(CASE WHEN m.m <> p.v THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed
    FROM med m
    JOIN px p ON p.doc_id = m.doc_id AND p.x = m.x AND p.y = m.y
    GROUP BY m.doc_id
    """


@query("multimodal_median_filter", oracle=_mf_oracle(), since=10)
def multimodal_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 MEDIAN FILTER — the standard salt-and-pepper denoiser and
    the canonical RANK-ORDER (non-linear) filter the convolution
    entries (boxsum, Sobel, Haar) cannot express: each pixel takes the
    exact median of its available 3x3 neighborhood (boundary pixels
    use their real 4/6-cell windows — no padding fabrication, stated).
    The median is the bounded-alphabet histogram crossing (min v with
    2*cum >= n — the per-cycle-quality trick applied per PIXEL), so no
    sort-per-window and no engine sorting-convention risk. Output per
    image: median mass, position-weighted checksum (every output
    pixel participates in the hash — the distance-transform
    discipline), and n_changed, the smoothing effect as data.

    Scale: one constant 9-offset scatter (generator), one
    (doc, x, y, v) histogram aggregate with map-side combine, two
    windows on the (doc, pixel) key — zero cross-image traffic;
    window sizes are constant so cost is linear in pixels at any
    image count.

    Reference capability class: image filtering (morphology family —
    its rank-order member)."""
    w = _MF_W
    d = table(spark, sf_dir, "documents").select("doc_id")
    px = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("x"),
        )
        .select(
            "doc_id",
            "x",
            F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("y"),
        )
        .select(
            "doc_id",
            "x",
            "y",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("mf|"),
                                F.col("doc_id").cast("string"),
                                F.lit("|"),
                                F.col("x").cast("string"),
                                F.lit(","),
                                F.col("y").cast("string"),
                            )
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                % 256
            ).alias("v"),
        )
    )
    px = truncate_lineage(px, reliable=True)
    off = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    scat = (
        px.select("doc_id", "x", "y", "v", F.explode(off).alias("ox"))
        .select(
            "doc_id",
            (F.col("x") + F.col("ox")).alias("sx"),
            "y",
            "v",
            F.explode(off).alias("oy"),
        )
        .select(
            "doc_id",
            F.col("sx").alias("x"),
            (F.col("y") + F.col("oy")).alias("y"),
            "v",
        )
        .filter(
            F.col("x").between(0, w - 1) & F.col("y").between(0, w - 1)
        )
    )
    hist = scat.groupBy("doc_id", "x", "y", "v").agg(
        F.count("*").cast("long").alias("c")
    )
    wp = W.partitionBy("doc_id", "x", "y")
    med = (
        hist.select(
            "doc_id",
            "x",
            "y",
            "v",
            F.sum("c")
            .over(wp.orderBy("v").rowsBetween(W.unboundedPreceding, 0))
            .alias("cc"),
            F.sum("c")
            .over(
                wp.orderBy().rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            )
            .alias("n"),
        )
        .groupBy("doc_id", "x", "y")
        .agg(
            F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("v")))
            .cast("long")
            .alias("m")
        )
    )
    # px is ~1.3M rows at sf0.1 — over the bare 1g broadcast budget;
    # pin SMJ (the registration precedent)
    return (
        med.join(px.hint("merge"), ["doc_id", "x", "y"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("med_sum"),
            F.sum(F.col("m") * (F.col("x") * w + F.col("y") + 1))
            .cast("long")
            .alias("checksum"),
            F.sum(F.when(F.col("m") != F.col("v"), 1).otherwise(0))
            .cast("long")
            .alias("n_changed"),
        )
    )
