"""Multimodal column plumbing (north-star extension).

Media payloads are opaque ``binary`` columns with typed metadata traveling
beside them. The decode/feature-extract step is a mapInPandas operator
(multimodal.binary_ops) whose library-dependent core is stubbed (no
image/audio libs in this container) — the Spark-side contract (schema,
batching, partitioning) is real and tested.

The oracle-checked query here exercises the binary column path end to end
with a deterministic payload derived from documents.text (utf-8 encode),
so both engines see identical bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import load_table, load_table_fanned
from cdc_export_system_spark.registry import register


@register(
    "multimodal_binary_meta",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes,
               md5(text) AS payload_md5,
               CASE WHEN octet_length(encode(text)) > 1024 THEN 'large' ELSE 'small' END
                   AS size_class
        FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata: byte length, content digest, size
    class. encode() builds the binary column; everything stays JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("payload_bytes"),
        F.md5(F.col("text")).alias("payload_md5"),
        F.when(F.length(payload) > 1024, "large").otherwise("small").alias("size_class"),
    )


PHASH_BANDS = 4
PHASH_BAND_BITS = 15  # 4 x 15 = the 60-bit hash
PHASH_HAMMING_T = 3  # < PHASH_BANDS, so banding NEVER misses a true pair


@register(
    "multimodal_phash_near_dup",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS ph
            FROM documents),
        bands AS (
            SELECT doc_id, ph, t.i AS b,
                   (ph >> (t.i * {PHASH_BAND_BITS})) & {(1 << PHASH_BAND_BITS) - 1} AS v
            FROM d, unnest([0, 1, 2, 3]) AS t(i)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id)
        SELECT c.doc_a, c.doc_b,
               CAST(bit_count(CAST(xor(da.ph, db.ph) AS BIT)) AS INT) AS hamming
        FROM cand c
        JOIN d da ON da.doc_id = c.doc_a
        JOIN d db ON db.doc_id = c.doc_b
        WHERE bit_count(CAST(xor(da.ph, db.ph) AS BIT)) <= {PHASH_HAMMING_T}
    """,
    tags=("multimodal", "dedup"),
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for media payloads — the
    image-dedup pipeline shape with a deterministic stand-in hash (60
    bits of the payload md5; a real pHash/aHash drops in for the hash
    expression once a decoder exists, the plan is unchanged). Banded
    blocking: 4 bands of 15 bits; any pair within Hamming distance 3
    shares at least one clean band (pigeonhole: 3 errors cannot dirty 4
    bands), so candidate generation is an equi-join on (band, value) —
    never an all-pairs scan — and the exact bit_count(xor) verify runs
    on candidates only. Same LSH-family scale argument as the MinHash
    dedup: shuffles carry (band, value, doc_id) triples and the
    candidate pair list, never payloads."""
    docs = load_table(spark, sf_dir, "documents")
    ph = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("bigint")
    # two longs per doc; bands + both verify sides read it — materialize
    # so the payload hash computes once, not once per consuming branch
    d = docs.select("doc_id", ph.alias("ph")).localCheckpoint(eager=True)
    mask = (1 << PHASH_BAND_BITS) - 1
    bands = d.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.expr(f"shiftright(ph, {i * PHASH_BAND_BITS}) & {mask}").alias(
                            "v"
                        ),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "ph", "bv.b", "bv.v")
    a = bands.select(F.col("doc_id").alias("doc_a"), "b", "v")
    b = bands.select(F.col("doc_id").alias("doc_b"), "b", "v")
    cand = (
        a.join(b, ["b", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("ph").alias("ph_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("ph").alias("ph_b"))
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(hamming <= PHASH_HAMMING_T)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


VAD_FRAME = 32  # chars per analysis frame (the 'hop size')
VAD_THRESH = 3000  # frame-energy gate: speech-vs-silence analogue


@register(
    "multimodal_audio_vad_segments",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, unnest(range(1, length(text) + 1)) AS i
            FROM documents),
        frames AS (
            SELECT p.doc_id, CAST((p.i - 1) // {VAD_FRAME} AS BIGINT) AS f,
                   SUM(ord(substring(d.text, CAST(p.i AS INTEGER), 1)))
                       AS energy
            FROM pos p JOIN documents d ON d.doc_id = p.doc_id
            GROUP BY p.doc_id, CAST((p.i - 1) // {VAD_FRAME} AS BIGINT)),
        active AS (
            SELECT doc_id, f,
                   f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
                       AS island
            FROM frames WHERE energy > {VAD_THRESH})
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY min(f)) AS BIGINT)
                   AS segment_id,
               CAST(min(f) AS BIGINT) AS start_frame,
               CAST(max(f) AS BIGINT) AS end_frame,
               CAST(count(*) AS BIGINT) AS n_frames
        FROM active GROUP BY doc_id, island
    """,
    tags=("multimodal", "window", "session"),
)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection segmentation over an audio-like signal:
    the payload byte stream is framed (VAD_FRAME bytes/frame), each
    frame's ENERGY is the exact byte-value sum, frames above the gate
    are 'speech', and consecutive active frames merge into segments via
    gaps-and-islands — the standard VAD → segment pipeline every speech
    corpus builder runs before transcription. Payload bytes derive
    deterministically from documents.text (the module's codec-seam
    convention: a real PCM decoder drops into the frame-energy step —
    multimodal/binary_ops.decode_media — without touching the
    segmentation algebra).

    Scale: the per-byte explode is the one data-scale stage (same shape
    as token explode in text_*); it collapses immediately to |frames|
    rows map-side. Segmentation shuffles once on doc_id; energies are
    exact integers so segment boundaries are partition-invariant."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
    )
    frames = (
        pos.select(
            "doc_id",
            ((F.col("i") - 1) / VAD_FRAME).cast("bigint").alias("f"),
            F.ascii(F.col("text").substr(F.col("i"), F.lit(1))).alias("c"),
        )
        .groupBy("doc_id", "f")
        .agg(F.sum("c").alias("energy"))
    )
    from pyspark.sql import Window as W

    active = frames.filter(F.col("energy") > VAD_THRESH).select(
        "doc_id",
        "f",
        (F.col("f") - F.row_number().over(W.partitionBy("doc_id").orderBy("f"))).alias(
            "island"
        ),
    )
    seg = active.groupBy("doc_id", "island").agg(
        F.min("f").alias("start_frame"),
        F.max("f").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
    )
    return seg.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy("doc_id").orderBy("start_frame"))
        .cast("bigint")
        .alias("segment_id"),
        "start_frame",
        "end_frame",
        "n_frames",
    )


TILE = 256  # tile edge (px)
BPP = 3  # bytes per pixel for the raw-RGB byte estimate


@register(
    "multimodal_tile_plan",
    oracle=f"""
        WITH dims AS (
            SELECT doc_id,
                   256 + ((doc_id % 2147483648) * 2654435761) % 1792 AS w,
                   256 + (((doc_id + 7) % 2147483648) * 2654435761) % 1792 AS h
            FROM documents),
        t AS (
            SELECT doc_id, w, h, tx.i AS tile_x, ty.j AS tile_y
            FROM dims,
                 unnest(range(0, CAST(ceil(CAST(w AS DOUBLE) / {TILE}) AS BIGINT)))
                     AS tx(i),
                 unnest(range(0, CAST(ceil(CAST(h AS DOUBLE) / {TILE}) AS BIGINT)))
                     AS ty(j))
        SELECT doc_id, CAST(tile_x AS BIGINT) AS tile_x,
               CAST(tile_y AS BIGINT) AS tile_y,
               CAST(tile_x * {TILE} AS BIGINT) AS x0,
               CAST(tile_y * {TILE} AS BIGINT) AS y0,
               CAST(least((tile_x + 1) * {TILE}, w) AS BIGINT) AS x1,
               CAST(least((tile_y + 1) * {TILE}, h) AS BIGINT) AS y1,
               CAST((least((tile_x + 1) * {TILE}, w) - tile_x * {TILE})
                    * (least((tile_y + 1) * {TILE}, h) - tile_y * {TILE})
                    * {BPP} AS BIGINT) AS tile_bytes
        FROM t
    """,
    tags=("multimodal", "layout"),
)
def multimodal_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-driven image TILING PLAN: split each image into
    TILE×TILE pixel tiles and emit one work-item row per tile with its
    clamped pixel bounds and raw-byte estimate — the map side of
    distributed image preprocessing (each tile is an independent decode/
    augment task; the plan is what the scheduler packs into executor
    batches). Dimensions derive deterministically from doc_id (the
    Knuth-hash synthetic stand-in for a real metadata column, same
    convention as the sampling family), so the plan is oracle-checkable
    end to end; with real metadata the expressions are identical.

    Scale: pure row-local integer arithmetic + a bounded explode (≤64
    tiles per image here) — no shuffle at all; the plan inherits the
    scan's partitioning, which is exactly what a tile-work generator
    should do before a repartition-by-cost."""
    from cdc_export_system_spark.operators.sampling import knuth_col

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dims = docs.select(
        "doc_id",
        (F.lit(256) + knuth_col(F.col("doc_id")) % 1792).alias("w"),
        (F.lit(256) + knuth_col(F.col("doc_id") + 7) % 1792).alias("h"),
    )
    ntx = F.ceil(F.col("w").cast("double") / TILE).cast("bigint")
    nty = F.ceil(F.col("h").cast("double") / TILE).cast("bigint")
    t = dims.select(
        "doc_id", "w", "h",
        F.explode(F.sequence(F.lit(0).cast("bigint"), ntx - 1)).alias("tile_x"),
    ).select(
        "doc_id", "w", "h", "tile_x",
        F.explode(F.sequence(F.lit(0).cast("bigint"), nty - 1)).alias("tile_y"),
    )
    x1 = F.least((F.col("tile_x") + 1) * TILE, F.col("w"))
    y1 = F.least((F.col("tile_y") + 1) * TILE, F.col("h"))
    return t.select(
        "doc_id",
        "tile_x",
        "tile_y",
        (F.col("tile_x") * TILE).cast("bigint").alias("x0"),
        (F.col("tile_y") * TILE).cast("bigint").alias("y0"),
        x1.cast("bigint").alias("x1"),
        y1.cast("bigint").alias("y1"),
        (
            (x1 - F.col("tile_x") * TILE) * (y1 - F.col("tile_y") * TILE) * BPP
        ).cast("bigint").alias("tile_bytes"),
    )


# ---------------------------------------------------------------------------
# multimodal_shard_plan
# ---------------------------------------------------------------------------

SHARD_BYTES = 16_384  # tar-shard byte budget (webdataset-style)


@register(
    "multimodal_shard_plan",
    oracle=f"""
        WITH b AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
            FROM documents),
        c AS (
            SELECT doc_id, nbytes,
                   SUM(nbytes) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - nbytes AS cum_before
            FROM b)
        SELECT CAST(cum_before // {SHARD_BYTES} AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_blobs,
               CAST(SUM(nbytes) AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM c GROUP BY 1
    """,
    tags=("multimodal", "pipeline", "io"),
)
def multimodal_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEBDATASET-style shard packing plan for binary payloads: blobs in
    stable doc_id order are assigned to tar shards by CUMULATIVE BYTE
    offset (shard = floor(bytes_before / budget)) — the sequential
    writer's layout computed distributively, so a 100 TB media corpus
    can be sharded without any single writer streaming it. Corpus
    token-budget sharding is corpus_shard_assignment; this is its
    bytes-and-blobs sibling, and the manifest (first/last doc per
    shard) is exactly what the downstream tar writer consumes.

    Scale: byte lengths are row-local; the cumulative offset rides the
    ranks.py two-level range prefix sum (never a single-partition
    scan); the rollup groups on the derived shard id. Shards split on
    byte offsets, so one oversized blob cannot silently merge shards
    — it occupies its span and the next blob starts a new shard."""
    from cdc_export_system_spark.operators.ranks import with_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        F.length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("nbytes"),
    )
    c = with_prefix_sum(b, [F.asc("doc_id")], ["nbytes"], suffix="_before")
    return (
        c.select(
            F.expr(f"nbytes_before div {SHARD_BYTES}").alias("shard_id"),
            "doc_id",
            "nbytes",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blobs"),
            F.sum("nbytes").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal_decode_dims — REAL codecs end to end
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_dims",
    oracle="""
        WITH g AS (
            SELECT doc_id,
                   1 + (doc_id * 7) % 31 AS w,
                   1 + length(text) % 17 AS h
            FROM documents)
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                    ELSE 'png' END AS codec,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(CASE doc_id % 3
                    WHEN 0
                    THEN 9 + length(CAST(w AS VARCHAR))
                           + length(CAST(h AS VARCHAR)) + 3 * w * h
                    WHEN 1
                    THEN 54 + CAST(((3 * w + 3) // 4) * 4 AS BIGINT) * h
                    -- PNG at deflate level 0 (stored blocks): 63 +
                    -- D + 5*ceil(D/65535), D = h*(3w+1); mirrors
                    -- codecs.png_payload_bytes_level0
                    ELSE 63 + h * (3 * w + 1)
                           + 5 * ((h * (3 * w + 1) + 65534) // 65535)
                    END AS BIGINT) AS payload_bytes,
               CAST(65 + doc_id % 26 AS BIGINT) AS mean_px
        FROM g
    """,
    tags=("multimodal", "udf"),
)
def multimodal_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end to end: constructs genuine binary images
    (doc_id % 3 = 0 -> PPM/P6, 1 -> 24-bit BMP with row padding,
    2 -> truecolor PNG: zlib deflate + scanline filters) whose
    dimensions and solid fill color derive deterministically from the
    row, then decodes them back through the in-tree pure-Python codecs
    (multimodal.codecs.sniff_decode) — magic sniffing, header parse,
    raster extraction with BMP bottom-up/BGR/pad handling, PNG chunk
    walk + INFLATE + unfilter — and emits what only a working decoder
    can know: the parsed dims, the exact encoded byte count, and the
    raster's mean pixel value (all pixels equal by construction, so
    the numpy mean over the real raster is exactly the fill color; one
    flipped pad byte or BGR slip breaks the hash). The oracle mirrors
    the arithmetic the codec must reproduce: PPM size = 9 +
    len(str(w)) + len(str(h)) + 3wh; BMP size = 54 + stride*h with
    stride = 3w rounded up to 4; PNG encodes at deflate level 0
    (stored blocks) so its size is closed-form too (the DECODER still
    runs the full inflate + unfilter path — storage level does not
    change the decode workload for solid-color testcards).

    Encode and decode run in the SAME mapInPandas stage: payload bytes
    are born and die executor-side, nothing binary shuffles.

    Scale: row-local (no shuffle at all beyond the scan); raster math
    is numpy over |w*h| bytes per row. Reference stores blobs opaquely
    (reference has no decoder; north-star multimodal extension)."""
    from cdc_export_system_spark.multimodal.codecs import (
        encode_bmp,
        encode_png,
        encode_ppm,
        sniff_decode,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(1) + (F.col("doc_id") * 7) % 31).cast("int").alias("w"),
        (F.lit(1) + F.length("text") % 17).cast("int").alias("h"),
        (F.lit(65) + F.col("doc_id") % 26).cast("int").alias("px"),
    )

    def _encode_decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, w, h, px in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["px"]
            ):
                raster = bytes([int(px)]) * (int(w) * int(h) * 3)
                sel = int(doc_id) % 3
                if sel == 0:
                    payload = encode_ppm(int(w), int(h), raster)
                elif sel == 1:
                    payload = encode_bmp(int(w), int(h), raster)
                else:
                    payload = encode_png(int(w), int(h), raster, level=0)
                d = sniff_decode(payload)
                out.append(
                    (
                        int(doc_id),
                        d["codec"],
                        d["width"],
                        d["height"],
                        len(payload),
                        int(np.asarray(d["raster"]).mean()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "codec", "width", "height",
                    "payload_bytes", "mean_px",
                ],
            )

    return docs.mapInPandas(
        _encode_decode,
        "doc_id long, codec string, width int, height int,"
        " payload_bytes bigint, mean_px bigint",
    )


# ---------------------------------------------------------------------------
# multimodal_wav_stats — REAL audio container end to end
# ---------------------------------------------------------------------------

WAV_RATE = 8000  # Hz — telephone-band PCM


@register(
    "multimodal_wav_stats",
    oracle=f"""
        WITH g AS (
            SELECT doc_id,
                   100 + (doc_id * 13) % 400 AS n,
                   1000 + (doc_id % 100) * 10 AS a
            FROM documents)
        SELECT doc_id, 'wav' AS codec,
               CAST({WAV_RATE} AS BIGINT) AS sample_rate,
               CAST(n AS BIGINT) AS n_frames,
               CAST((n * 1000000) // {WAV_RATE} AS BIGINT) AS duration_us,
               CAST(44 + 2 * n AS BIGINT) AS payload_bytes,
               CAST(a AS BIGINT) AS mean_abs,
               -- square wave +A/-A toggling every 4 samples: positives
               -- = 4 per full 8-period plus min(n % 8, 4) in the tail
               CAST(4 * (n // 8) + least(n % 8, 4) AS BIGINT) AS n_pos
        FROM g
    """,
    tags=("multimodal", "udf"),
)
def multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end: constructs a genuine RIFF/WAVE
    16-bit PCM payload per document (a +-A square wave toggling every 4
    samples; frame count and amplitude derive deterministically from
    doc_id), then parses it back through the in-tree pure-Python WAV
    codec (multimodal.codecs.decode_wav via sniff_decode — chunk walk,
    fmt parse, int16 frame extraction) and emits what only a working
    parser can know: the sample rate and frame count from the header,
    the exact container byte size (44 + 2n, the canonical-header closed
    form the oracle mirrors), the decoded duration in integer
    microseconds, the mean |amplitude| (exactly A for a square wave —
    one endianness slip or off-by-one in the data chunk breaks the
    hash), and the positive-sample count (closed-form from the toggle
    period). Encode and decode run in the SAME mapInPandas stage;
    payload bytes never shuffle.

    Scale: row-local construction + parse, numpy over |n| int16 frames
    per row; no shuffle beyond the scan. Completes the codec matrix:
    PPM/BMP (raw raster), PNG (compressed raster), WAV (audio
    container) — the injectable NotImplementedError seam now covers
    only compressed image (JPEG) and compressed audio codecs."""
    from cdc_export_system_spark.multimodal.codecs import (
        encode_wav,
        sniff_decode,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(100) + (F.col("doc_id") * 13) % 400).cast("int").alias("n"),
        (F.lit(1000) + (F.col("doc_id") % 100) * 10).cast("int").alias("a"),
    )

    def _encode_decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, n, a in zip(pdf["doc_id"], pdf["n"], pdf["a"]):
                n, a = int(n), int(a)
                i = np.arange(n)
                samples = np.where((i // 4) % 2 == 0, a, -a).astype("<i2")
                payload = encode_wav(WAV_RATE, samples)
                d = sniff_decode(payload)
                s = np.asarray(d["samples"]).reshape(-1)
                out.append(
                    (
                        int(doc_id),
                        d["codec"],
                        d["sample_rate"],
                        d["n_frames"],
                        d["duration_us"],
                        len(payload),
                        int(np.abs(s.astype(np.int64)).mean()),
                        int((s > 0).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "codec", "sample_rate", "n_frames",
                    "duration_us", "payload_bytes", "mean_abs", "n_pos",
                ],
            )

    return docs.mapInPandas(
        _encode_decode,
        "doc_id long, codec string, sample_rate bigint, n_frames bigint,"
        " duration_us bigint, payload_bytes bigint, mean_abs bigint,"
        " n_pos bigint",
    )


# ---------------------------------------------------------------------------
# multimodal_audio_g711_stats — REAL compressed-audio codec end to end
# ---------------------------------------------------------------------------

# The SQL mirrors of codecs.g711_roundtrip_{mulaw,alaw}: segment via CASE
# ranges (bit_length in disguise), mantissa via shift/mask, dequantize.
_G711_ORACLE = """
    WITH g AS (
        SELECT doc_id,
               100 + (doc_id * 13) % 400 AS n,
               500 + (doc_id * 37) % 31800 AS a,
               CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS law
        FROM documents),
    mu AS (
        SELECT doc_id, a + 132 AS v FROM g),
    mu2 AS (
        SELECT doc_id, v,
               CASE WHEN v <= 255 THEN 0 WHEN v <= 511 THEN 1
                    WHEN v <= 1023 THEN 2 WHEN v <= 2047 THEN 3
                    WHEN v <= 4095 THEN 4 WHEN v <= 8191 THEN 5
                    WHEN v <= 16383 THEN 6 ELSE 7 END AS useg
        FROM mu),
    murt AS (
        SELECT doc_id,
               ((((v >> (useg + 3)) & 15) * 8 + 132) * (1 << useg)) - 132
                   AS rt
        FROM mu2),
    alp AS (  -- A-law positive path: m = a // 8
        SELECT doc_id, a // 8 AS m FROM g),
    aln AS (  -- A-law negative path: m = (a + 7) // 8 - 1
        SELECT doc_id, (a + 7) // 8 - 1 AS m FROM g),
    alrt_p AS (
        SELECT doc_id,
               CASE WHEN seg = 0 THEN q * 16 + 8
                    ELSE (q * 16 + 264) * (1 << (seg - 1)) END AS rt
        FROM (
            SELECT doc_id, seg, (m >> greatest(seg, 1)) & 15 AS q
            FROM (
                SELECT doc_id, m,
                       CASE WHEN m <= 31 THEN 0 WHEN m <= 63 THEN 1
                            WHEN m <= 127 THEN 2 WHEN m <= 255 THEN 3
                            WHEN m <= 511 THEN 4 WHEN m <= 1023 THEN 5
                            WHEN m <= 2047 THEN 6 ELSE 7 END AS seg
                FROM alp))),
    alrt_n AS (
        SELECT doc_id,
               CASE WHEN seg = 0 THEN q * 16 + 8
                    ELSE (q * 16 + 264) * (1 << (seg - 1)) END AS rt
        FROM (
            SELECT doc_id, seg, (m >> greatest(seg, 1)) & 15 AS q
            FROM (
                SELECT doc_id, m,
                       CASE WHEN m <= 31 THEN 0 WHEN m <= 63 THEN 1
                            WHEN m <= 127 THEN 2 WHEN m <= 255 THEN 3
                            WHEN m <= 511 THEN 4 WHEN m <= 1023 THEN 5
                            WHEN m <= 2047 THEN 6 ELSE 7 END AS seg
                FROM aln)))
    SELECT g.doc_id, g.law, 'wav' AS codec,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(g.n AS BIGINT) AS n_frames,
           CAST(58 + g.n AS BIGINT) AS payload_bytes,
           CAST(4 * (g.n // 8) + least(g.n % 8, 4) AS BIGINT) AS n_pos,
           CAST(CASE WHEN g.law = 'mulaw'
                THEN g.n * murt.rt  -- sign-symmetric: |rt| everywhere
                ELSE (4 * (g.n // 8) + least(g.n % 8, 4)) * alrt_p.rt
                     + (g.n - 4 * (g.n // 8) - least(g.n % 8, 4)) * alrt_n.rt
                END AS BIGINT) AS sum_abs
    FROM g
    JOIN murt ON murt.doc_id = g.doc_id
    JOIN alrt_p ON alrt_p.doc_id = g.doc_id
    JOIN alrt_n ON alrt_n.doc_id = g.doc_id
"""


@register(
    "multimodal_audio_g711_stats",
    oracle=_G711_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_audio_g711_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio codec end to end — the COMPRESSED-AUDIO leg
    of the codec seam, closed: each document synthesizes a ±A square
    wave (frame count and amplitude derive deterministically from
    doc_id), compresses it through the in-tree vectorized G.711
    companders (μ-law for even doc_ids, A-law for odd — Sun g711.c
    semantics: segment + 4-bit mantissa, the telephony codec every
    speech corpus crawls over), wraps it in a spec-shaped WAV container
    (format tag 7/6, 18-byte fmt + fact chunk, 8 bits/sample), parses
    it back through decode_wav (chunk walk, tag dispatch, G.711
    expansion to 16-bit linear), and emits what only a working codec
    can know: header fields, the exact container size (58 + n), the
    positive-sample count, and the sum of |decoded| values. G.711 is
    LOSSY but the loss is closed-form integer arithmetic — the oracle
    mirrors decode(encode(x)) segment-by-segment in SQL (CASE-range
    bit_length, shift/mask mantissa, dequantize), separately for the
    sign-symmetric μ-law path and the asymmetric A-law negative path
    (-x-1 in the 13-bit domain). One mis-set segment boundary or xor
    mask flips sum_abs for that document. Exhaustive int16-domain
    equality against the closed forms is pinned in
    tests/test_multimodal.py.

    Scale: row-local encode+decode inside one mapInPandas stage; the
    companders are numpy elementwise ops; payload bytes never shuffle."""
    from cdc_export_system_spark.multimodal.codecs import (
        encode_wav_g711,
        sniff_decode,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(100) + (F.col("doc_id") * 13) % 400).cast("int").alias("n"),
        (F.lit(500) + (F.col("doc_id") * 37) % 31800).cast("int").alias("a"),
        F.when(F.col("doc_id") % 2 == 0, "mulaw").otherwise("alaw").alias("law"),
    )

    def _encode_decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, n, a, law in zip(
                pdf["doc_id"], pdf["n"], pdf["a"], pdf["law"]
            ):
                n, a = int(n), int(a)
                i = np.arange(n)
                samples = np.where((i // 4) % 2 == 0, a, -a).astype(np.int16)
                payload = encode_wav_g711(8000, samples, law=str(law))
                d = sniff_decode(payload)
                s = np.asarray(d["samples"]).reshape(-1).astype(np.int64)
                out.append(
                    (
                        int(doc_id),
                        str(law),
                        d["codec"],
                        d["sample_rate"],
                        d["n_frames"],
                        len(payload),
                        int((s > 0).sum()),
                        int(np.abs(s).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "law", "codec", "sample_rate", "n_frames",
                    "payload_bytes", "n_pos", "sum_abs",
                ],
            )

    return docs.mapInPandas(
        _encode_decode,
        "doc_id long, law string, codec string, sample_rate bigint,"
        " n_frames bigint, payload_bytes bigint, n_pos bigint,"
        " sum_abs bigint",
    )


# ---------------------------------------------------------------------------
# multimodal_audio_adpcm_stats — stateful compressed audio, CTE-replayed
# ---------------------------------------------------------------------------

# IMA ADPCM is a per-sample STATE MACHINE (predictor + step-index ladder),
# so its oracle cannot be a closed form — instead the recursive CTE below
# REPLAYS the exact encoder/decoder state evolution in SQL: the 89-entry
# step table joins into the recursive term, each iteration encodes one
# nibble (sign/4/2/1 thresholds as layered subqueries), reconstructs the
# decoder's predictor with the same vpdiff, clamps, and advances the index;
# block boundaries (every 17th sample, block_align=12) reset the predictor
# to the exact header sample while the index carries across.
_ADPCM_STEP_VALUES = ",".join(
    f"({i},{v})"
    for i, v in enumerate(
        [
            7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
            19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
            50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
            130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
            337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
            876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
            2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
            5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
            15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
        ]
    )
)

_ADPCM_ORACLE = f"""
    WITH RECURSIVE p AS (
        SELECT doc_id,
               33 + doc_id % 64 AS n,
               200 + (doc_id * 37) % 20000 AS a
        FROM documents),
    steps(s_idx, step) AS (VALUES {_ADPCM_STEP_VALUES}),
    walk(doc_id, n, a, i, dec, pred, cidx) AS (
        SELECT doc_id, n, a, 0 AS i, a AS dec, a AS pred, 0 AS cidx FROM p
        UNION ALL
        SELECT doc_id, n, a, i,
               CASE WHEN i % 17 = 0 THEN s ELSE predn END,
               CASE WHEN i % 17 = 0 THEN s ELSE predn END,
               CASE WHEN i % 17 = 0 THEN cidx ELSE
                   greatest(0, least(88, cidx + CASE nibmag
                       WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                       WHEN 7 THEN 8 ELSE -1 END)) END
        FROM (
            SELECT *,
                   greatest(-32768, least(32767,
                       pred + CASE WHEN s < pred THEN -vpdiff
                                   ELSE vpdiff END)) AS predn,
                   b4 * 4 + b2 * 2 + b1 AS nibmag
            FROM (
                SELECT *,
                       step // 8 + b4 * step + b2 * (step // 2)
                           + b1 * (step // 4) AS vpdiff
                FROM (
                    SELECT *,
                           CASE WHEN d2 >= step // 4 THEN 1 ELSE 0 END AS b1
                    FROM (
                        SELECT *, d4 - b2 * (step // 2) AS d2
                        FROM (
                            SELECT *,
                                   CASE WHEN d4 >= step // 2 THEN 1
                                        ELSE 0 END AS b2
                            FROM (
                                SELECT *, d - b4 * step AS d4
                                FROM (
                                    SELECT *,
                                           CASE WHEN d >= step THEN 1
                                                ELSE 0 END AS b4
                                    FROM (
                                        SELECT w.doc_id, w.n, w.a,
                                               w.i + 1 AS i, w.pred, w.cidx,
                                               st.step,
                                               CASE WHEN ((w.i + 1) // 4) % 2
                                                         = 0
                                                    THEN w.a ELSE -w.a
                                               END AS s,
                                               abs(CASE WHEN ((w.i + 1) // 4)
                                                             % 2 = 0
                                                        THEN w.a ELSE -w.a
                                                   END - w.pred) AS d
                                        FROM walk w
                                        JOIN steps st ON st.s_idx = w.cidx
                                        WHERE w.i + 1 < w.n)))))))))
    SELECT doc_id, 'wav' AS codec, 'ima_adpcm' AS encoding,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_frames,
           CAST(60 + ((n + 16) // 17) * 12 AS BIGINT) AS payload_bytes,
           CAST(SUM(CASE WHEN dec > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(abs(dec)) AS BIGINT) AS sum_abs,
           CAST(MAX(CASE WHEN i = 0 THEN dec END) AS BIGINT) AS first_dec,
           CAST(MAX(CASE WHEN i = n - 1 THEN dec END) AS BIGINT) AS last_dec
    FROM walk
    GROUP BY doc_id, n
"""


@register(
    "multimodal_audio_adpcm_stats",
    oracle=_ADPCM_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_audio_adpcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL compressed audio end to end — IMA/DVI ADPCM (WAV format
    tag 0x11), the 4-bit predictive codec of telephony and game audio:
    each document synthesizes a ±A square wave, compresses it through
    the in-tree block-structured ADPCM encoder (4-byte block headers
    carrying the exact first sample + running step index, nibble
    thresholds against the 89-entry step ladder, low-nibble-first
    packing, fact-chunk frame count), parses it back through decode_wav
    and emits header fields, the closed-form container size
    (60 + ceil(n/17)*12 at block_align=12), the positive-sample count,
    sum of |decoded| values, and the first/last decoded samples.

    Unlike every other codec oracle here, ADPCM has NO closed form —
    the decoder output depends on the full predictor/step-index state
    history. The oracle therefore REPLAYS the state machine as a
    recursive CTE: the step table joins into the recursive term, each
    iteration re-derives the encoder's nibble (sign + 4/2/1 threshold
    cascade as layered subqueries), applies the decoder's vpdiff
    reconstruction with int16 clamping, and advances the clamped step
    index; every 17th sample crosses a block boundary (predictor reset
    to the exact header sample, index carried). One wrong threshold,
    clamp, index delta, or block-header rule desynchronizes the replay
    and flips that document's hash. Python-side state lockstep and the
    0-pad tail rule are pinned in tests/test_round9_semantics.py.

    Scale: row-local encode+decode inside one mapInPandas stage; the
    per-sample state is one document's scalar pair, never shuffled."""
    from cdc_export_system_spark.multimodal.codecs import (
        encode_wav_adpcm,
        sniff_decode,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(33) + F.col("doc_id") % 64).cast("int").alias("n"),
        (F.lit(200) + (F.col("doc_id") * 37) % 20000).cast("int").alias("a"),
    )

    def _encode_decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, n, a in zip(pdf["doc_id"], pdf["n"], pdf["a"]):
                n, a = int(n), int(a)
                i = np.arange(n)
                samples = np.where((i // 4) % 2 == 0, a, -a).astype(np.int16)
                payload = encode_wav_adpcm(8000, samples, block_align=12)
                d = sniff_decode(payload)
                s = np.asarray(d["samples"]).reshape(-1).astype(np.int64)
                out.append(
                    (
                        int(doc_id), d["codec"], d["encoding"],
                        d["sample_rate"], d["n_frames"], len(payload),
                        int((s > 0).sum()), int(np.abs(s).sum()),
                        int(s[0]), int(s[-1]),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "codec", "encoding", "sample_rate", "n_frames",
                    "payload_bytes", "n_pos", "sum_abs",
                    "first_dec", "last_dec",
                ],
            )

    return docs.mapInPandas(
        _encode_decode,
        "doc_id long, codec string, encoding string, sample_rate bigint,"
        " n_frames bigint, payload_bytes bigint, n_pos bigint,"
        " sum_abs bigint, first_dec bigint, last_dec bigint",
    )


# ---------------------------------------------------------------------------
# multimodal_jpeg_stats — REAL lossy image codec end to end
# ---------------------------------------------------------------------------

# The constant-color closed form (multimodal/jpeg.py module doc): each
# channel runs sample -> round -> DC quantize (q00=8) -> dequantize ->
# IDCT -> color-convert; the oracle mirrors the float arithmetic
# operation-for-operation (same literals, same left-assoc order), so
# Spark-side numpy and DuckDB doubles land on identical bits.
_JPEG_ORACLE = """
    WITH g AS (
        SELECT doc_id,
               8 + (doc_id * 7) % 40 AS w,
               8 + (doc_id * 11) % 32 AS h,
               CAST(doc_id % 256 AS DOUBLE) AS r,
               CAST((doc_id * 31) % 256 AS DOUBLE) AS g,
               CAST((doc_id * 57) % 256 AS DOUBLE) AS b
        FROM documents),
    ycc AS (
        SELECT doc_id, w, h,
               floor(8.0 * (floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)
                            - 128.0) / 8 + 0.5) * 8 / 8.0 + 128.0 AS y,
               floor(8.0 * (floor(128.0 - 0.168735892 * r - 0.331264108 * g
                                  + 0.5 * b + 0.5) - 128.0) / 8 + 0.5)
                   * 8 / 8.0 + 128.0 AS cb,
               floor(8.0 * (floor(128.0 + 0.5 * r - 0.418687589 * g
                                  - 0.081312411 * b + 0.5) - 128.0) / 8 + 0.5)
                   * 8 / 8.0 + 128.0 AS cr
        FROM g)
    SELECT doc_id, 'jpeg' AS codec,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(greatest(0, least(255,
               floor(y + 1.402 * (cr - 128.0) + 0.5))) AS BIGINT) AS red,
           CAST(greatest(0, least(255,
               floor(y - 0.344136286 * (cb - 128.0)
                       - 0.714136286 * (cr - 128.0) + 0.5))) AS BIGINT)
               AS green,
           CAST(greatest(0, least(255,
               floor(y + 1.772 * (cb - 128.0) + 0.5))) AS BIGINT) AS blue,
           CAST(w * h AS BIGINT) AS n_match
    FROM ycc
"""


_JPEG420_ORACLE = _JPEG_ORACLE.replace("'jpeg' AS codec", "'jpeg420' AS codec")

_JPEG_RST_ORACLE = _JPEG_ORACLE.replace("'jpeg' AS codec", "'jpeg_rst' AS codec")

_JPEG_PROG_ORACLE = _JPEG_ORACLE.replace(
    "'jpeg' AS codec", "'jpeg_prog' AS codec"
)

# Lossless (SOF3) oracle: decode(encode(x)) == x exactly, so every
# aggregate of the decoded raster has an INTEGER closed form from the
# linear-gradient generator — pixelR = r0+x, pixelG = g0+y,
# pixelB = b0+x+y with r0/g0/b0 < 100 and x+y <= 84 (all < 256).
_JPEG_LOSSLESS_ORACLE = """
    WITH g AS (
        SELECT doc_id,
               8 + (doc_id * 7) % 40 AS w,
               8 + (doc_id * 11) % 32 AS h,
               doc_id % 100 AS r0,
               (doc_id * 7) % 100 AS g0,
               (doc_id * 13) % 100 AS b0
        FROM documents)
    SELECT doc_id, 'jpeg_lossless' AS codec,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS precision,
           CAST(w * h * r0 + h * (w * (w - 1)) / 2 AS BIGINT) AS sum_r,
           CAST(w * h * g0 + w * (h * (h - 1)) / 2 AS BIGINT) AS sum_g,
           CAST(w * h * b0 + h * (w * (w - 1)) / 2
                + w * (h * (h - 1)) / 2 AS BIGINT) AS sum_b,
           CAST(r0 + w - 1 AS BIGINT) AS last_r,
           CAST(g0 + h - 1 AS BIGINT) AS last_g,
           CAST(b0 + w + h - 2 AS BIGINT) AS last_b,
           CAST(w * h AS BIGINT) AS n_match
    FROM g
"""


@register(
    "multimodal_jpeg_lossless_stats",
    oracle=_JPEG_LOSSLESS_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_jpeg_lossless_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS JPEG (SOF3, T.81 Annex H) end to end — the predictive
    leg of the codec seam, closed: per-document linear-gradient RGB
    images (channels r0+x / g0+y / b0+x+y from doc_id) go through
    multimodal/jpeg_lossless.py's encoder — three per-component scans
    whose PREDICTORS ROTATE with doc_id (1 + (doc_id+{0,2,4}) % 7), so
    the corpus exercises all seven T.81 H.1.2.1 predictors — and back
    through decode_jpeg (SOF3 sniff). Lossless JPEG is the compression
    inside DNG raw files and DICOM Process-14, the formats a raw-photo
    or medical corpus seams on. Because reconstruction is EXACT, the
    decoded channel sums and corner pixels have integer closed forms
    the SQL oracle states directly — any predictor slip, wrong
    first-row/column rule, or mod-2^16 error shifts a sum and flips
    that row's hash. n_match counts decoded==source pixels (= w*h).

    Scale: the single-file documents scan fans out to cluster
    parallelism first (io.sources.fan_out) because per-row codec CPU
    dominates; encode+decode stay row-local, payloads never shuffle."""
    from cdc_export_system_spark.multimodal.jpeg import decode_jpeg
    from cdc_export_system_spark.multimodal.jpeg_lossless import (
        encode_jpeg_lossless,
    )

    docs = load_table_fanned(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8) + (F.col("doc_id") * 7) % 40).cast("int").alias("w"),
        (F.lit(8) + (F.col("doc_id") * 11) % 32).cast("int").alias("h"),
        (F.col("doc_id") % 100).cast("int").alias("r0"),
        ((F.col("doc_id") * 7) % 100).cast("int").alias("g0"),
        ((F.col("doc_id") * 13) % 100).cast("int").alias("b0"),
    )

    def _encode_decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, w, h, r0, g0, b0 in zip(
                pdf["doc_id"], pdf["w"], pdf["h"],
                pdf["r0"], pdf["g0"], pdf["b0"],
            ):
                doc_id, w, h = int(doc_id), int(w), int(h)
                r0, g0, b0 = int(r0), int(g0), int(b0)
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack(
                    [r0 + xx, g0 + yy, b0 + xx + yy], axis=-1
                ).astype(np.uint8)
                preds = tuple(1 + (doc_id + k) % 7 for k in (0, 2, 4))
                payload = encode_jpeg_lossless(
                    w, h, img.tobytes(), predictors=preds
                )
                d = decode_jpeg(payload)
                rast = d["raster"].astype(np.int64)
                out.append(
                    (
                        doc_id, d["codec"], d["width"], d["height"],
                        d["precision"],
                        int(rast[:, :, 0].sum()), int(rast[:, :, 1].sum()),
                        int(rast[:, :, 2].sum()),
                        int(rast[-1, -1, 0]), int(rast[-1, -1, 1]),
                        int(rast[-1, -1, 2]),
                        int((rast == img).all(axis=-1).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "codec", "width", "height", "precision",
                    "sum_r", "sum_g", "sum_b",
                    "last_r", "last_g", "last_b", "n_match",
                ],
            )

    return docs.mapInPandas(
        _encode_decode,
        "doc_id long, codec string, width bigint, height bigint,"
        " precision bigint, sum_r bigint, sum_g bigint, sum_b bigint,"
        " last_r bigint, last_g bigint, last_b bigint, n_match bigint",
    )


# 12-bit closed form (multimodal/jpeg.py, encode_jpeg12): center 2048, q00 = 128 —
# mirrored float-op-for-float-op against jpeg12_constant_roundtrip
_JPEG12_ORACLE = """
    WITH g AS (
        SELECT doc_id,
               8 + (doc_id * 7) % 40 AS w,
               8 + (doc_id * 11) % 32 AS h,
               CAST(doc_id % 4096 AS DOUBLE) AS r,
               CAST((doc_id * 31) % 4096 AS DOUBLE) AS g,
               CAST((doc_id * 57) % 4096 AS DOUBLE) AS b
        FROM documents),
    ycc AS (
        SELECT doc_id, w, h,
               floor(8.0 * (floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)
                            - 2048.0) / 128 + 0.5) * 128 / 8.0 + 2048.0 AS y,
               floor(8.0 * (floor(2048.0 - 0.168735892 * r - 0.331264108 * g
                                  + 0.5 * b + 0.5) - 2048.0) / 128 + 0.5)
                   * 128 / 8.0 + 2048.0 AS cb,
               floor(8.0 * (floor(2048.0 + 0.5 * r - 0.418687589 * g
                                  - 0.081312411 * b + 0.5) - 2048.0) / 128
                     + 0.5) * 128 / 8.0 + 2048.0 AS cr
        FROM g)
    SELECT doc_id, 'jpeg12' AS codec,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(greatest(0, least(4095,
               floor(y + 1.402 * (cr - 2048.0) + 0.5))) AS BIGINT) AS red,
           CAST(greatest(0, least(4095,
               floor(y - 0.344136286 * (cb - 2048.0)
                       - 0.714136286 * (cr - 2048.0) + 0.5))) AS BIGINT)
               AS green,
           CAST(greatest(0, least(4095,
               floor(y + 1.772 * (cb - 2048.0) + 0.5))) AS BIGINT) AS blue,
           CAST(w * h AS BIGINT) AS n_match
    FROM ycc
"""


@register(
    "multimodal_jpeg12_stats",
    oracle=_JPEG12_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_jpeg12_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-BIT extended sequential JPEG (SOF1) end to end — the
    precision leg of the codec seam, closed: constant 12-bit images
    (channels derive from doc_id mod 4096) go through
    multimodal/jpeg.py's encode_jpeg12 (level shift 2048, x16 quant table
    carried as Pq=1 16-bit DQT — the structural difference that breaks
    byte-precision parsers — DC categories to 15 / AC sizes to 14 in
    the embedded tables, SOF1) and back through decode_jpeg (which
    sniffs the frame precision and emits a uint16 raster). 12-bit JPEG
    is DICOM's lossy transfer syntax, so medical-imaging corpora in a
    100 TB crawl hinge on this path. The oracle mirrors the 12-bit
    DC-only closed form y' = clip(round(round(8(y-2048)/128)*128/8)
    + 2048) float-op-for-float-op; the encoder computes the DC via the
    exact sum/8 path (see jpeg._quantized_blocks) so the s % 16 == 8 floor
    boundary, which the einsum DCT's epsilon would flip, lands
    deterministically on BOTH engines. One wrong bit in the 16-bit
    DQT parse, the wide Huffman tables, or the level shift flips every
    row's hash.

    Scale: row-local encode+decode inside one mapInPandas stage;
    payload bytes never shuffle."""
    from cdc_export_system_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg12,
        jpeg12_constant_roundtrip,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8) + (F.col("doc_id") * 7) % 40).cast("int").alias("w"),
        (F.lit(8) + (F.col("doc_id") * 11) % 32).cast("int").alias("h"),
        (F.col("doc_id") % 4096).cast("int").alias("r"),
        ((F.col("doc_id") * 31) % 4096).cast("int").alias("g"),
        ((F.col("doc_id") * 57) % 4096).cast("int").alias("b"),
    )

    def _encode_decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, w, h, r, g, b in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["r"], pdf["g"], pdf["b"]
            ):
                w, h, r, g, b = int(w), int(h), int(r), int(g), int(b)
                raster = np.full((h, w, 3), (r, g, b), dtype="<u2")
                d = decode_jpeg(encode_jpeg12(w, h, raster.tobytes()))
                expect = np.array(
                    jpeg12_constant_roundtrip(r, g, b), dtype=np.uint16
                )
                n_match = int((d["raster"] == expect).all(axis=-1).sum())
                px = d["raster"][0, 0]
                out.append(
                    (
                        int(doc_id), d["codec"], d["width"], d["height"],
                        int(px[0]), int(px[1]), int(px[2]), n_match,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "codec", "width", "height",
                    "red", "green", "blue", "n_match",
                ],
            )

    return docs.mapInPandas(
        _encode_decode,
        "doc_id long, codec string, width bigint, height bigint,"
        " red bigint, green bigint, blue bigint, n_match bigint",
    )


@register(
    "multimodal_jpeg_progressive_stats",
    oracle=_JPEG_PROG_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_jpeg_progressive_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """multimodal_jpeg_stats through the PROGRESSIVE (SOF2) path — the
    codec seam's largest remaining leg, closed: the encoder runs an
    8-scan ladder exercising BOTH T.81 progressive mechanisms
    (spectral selection and successive approximation — interleaved DC
    first scan at Al=1 plus a DC refinement bit-scan; per-component AC
    first scans with EOBn run coding plus AC refinement correction-bit
    scans), and the decoder accumulates coefficients across an
    ARBITRARY scan script before one dequantize+IDCT at EOI
    (multimodal/jpeg_progressive.py; sniffed via SOF2 in decode_jpeg).
    Progressive files dominate web corpora — every libjpeg
    ``-progressive`` output, most CDN-optimized images — so a 100 TB
    multimodal crawl cannot seam on them. The closed-form oracle is
    IDENTICAL to the 4:4:4 sequential one by construction: both
    encoders share _quantized_blocks, so a progressive file carries
    bit-identical coefficients to its sequential sibling and
    decode(progressive) == decode(sequential) exactly (the equality is
    pinned across scan-script variants — band splits, deeper SA
    ladders — in tests/test_round9_semantics.py). One bit slipped in
    the EOBRUN carry, a refinement correction bit on the wrong side of
    a ZRL, or a missed DC bit-scan flips n_match for that document.

    Scale: row-local encode+decode inside one mapInPandas stage, like
    every codec query; scan state is one image's coefficient grids,
    never shuffled."""
    return _jpeg_stats_impl(
        spark, sf_dir, subsampling="444", codec="jpeg_prog", progressive=True
    )


@register(
    "multimodal_jpeg_rst_stats",
    oracle=_JPEG_RST_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_jpeg_rst_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_jpeg_stats through the RESTART-INTERVAL path — the
    DRI/RSTn leg of the r10 codec seam, closed: the encoder writes a
    DRI segment and an RST0..RST7 marker after every 2 MCUs (bit stream
    1-padded to the byte boundary, DC predictors reset, marker number
    cycling per T.81 E.1.4), and the decoder byte-aligns and resyncs at
    every marker, resetting its predictors to match. Restart markers
    are how hardware encoders bound error propagation and the unit of
    INTRA-IMAGE parallel decode — a 100 TB image corpus with DRI files
    is the COMMON case (cameras emit them), so the decoder must not
    seam on it. The closed-form oracle is IDENTICAL to the 4:4:4 one:
    restarts change the entropy framing, never the coefficients — and
    with a 2-MCU interval every image wider/taller than one MCU crosses
    multiple restart segments, so one missed predictor reset or
    misaligned resync flips n_match for that document. Interval
    correctness across MANY markers (cycling past RST7) is pinned in
    tests/test_round9_semantics.py."""
    return _jpeg_stats_impl(
        spark, sf_dir, subsampling="444", codec="jpeg_rst", restart_interval=2
    )


@register(
    "multimodal_jpeg420_stats",
    oracle=_JPEG420_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_jpeg420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_jpeg_stats through the 4:2:0 SUBSAMPLED-CHROMA path —
    the r10 verdict's last image-codec seam, closed: the encoder
    box-averages the chroma planes, writes T.81 sampling factors 2x2 /
    1x1 / 1x1 in SOF0, and interleaves 6 blocks per MCU; the decoder
    rebuilds the MCU geometry from the factors and nearest-neighbor
    upsamples the chroma back. The closed-form oracle is IDENTICAL to
    the 4:4:4 one by construction — a constant plane box-averages to
    the exact same constant, so subsampling is lossless precisely on
    this input class (the module doc's exactness contract); the codec
    string 'jpeg420' marks which path was exercised. Every row hashing
    green certifies the full subsampled MCU walk: one block mis-placed
    in the 2x2 luma quad or one chroma sample mis-upsampled flips
    n_match for that document. Lossiness on NON-constant chroma is
    pinned separately in tests/test_multimodal.py (420 == 444 exactly
    on gray inputs; bounded divergence on color gradients)."""
    return _jpeg_stats_impl(spark, sf_dir, subsampling="420", codec="jpeg420")


@register("multimodal_jpeg_stats", oracle=_JPEG_ORACLE, tags=("multimodal", "udf"))
def multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy image codec end to end: builds a constant-color RGB
    image per document (dims and color derive deterministically from
    doc_id), compresses it through the in-tree pure-Python baseline
    JPEG encoder (float DCT, quantization, canonical Huffman tables
    carried in DHT, byte stuffing), parses it back through the decoder
    (marker walk, embedded-table Huffman decode, dequantize, IDCT,
    YCbCr->RGB), and emits what only a working codec can know: the
    header dims, the decoded pixel at (0,0), and the count of pixels
    that match the DETERMINISTIC lossy closed form (constant blocks are
    DC-only, so decode(encode(c)) is pure arithmetic — the oracle
    mirrors it float-op-for-float-op; see multimodal/jpeg.py). One bit
    slipped anywhere in the entropy coder flips the hash.

    Completes the codec matrix: PPM/BMP (raw raster), PNG (compressed
    raster), WAV (audio container), JPEG (lossy compressed image) —
    the injectable NotImplementedError seam now covers only progressive
    /subsampled JPEG variants and compressed audio.

    Scale: row-local encode+decode inside one mapInPandas stage; the
    DCT is one numpy matmul per image's block set; payload bytes never
    shuffle."""
    return _jpeg_stats_impl(spark, sf_dir, subsampling="444", codec="jpeg")


def _jpeg_stats_impl(
    spark: SparkSession,
    sf_dir: str,
    subsampling: str,
    codec: str,
    restart_interval: int = 0,
    progressive: bool = False,
) -> DataFrame:
    from cdc_export_system_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
        jpeg_constant_roundtrip,
    )
    from cdc_export_system_spark.multimodal.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8) + (F.col("doc_id") * 7) % 40).cast("int").alias("w"),
        (F.lit(8) + (F.col("doc_id") * 11) % 32).cast("int").alias("h"),
        (F.col("doc_id") % 256).cast("int").alias("r"),
        ((F.col("doc_id") * 31) % 256).cast("int").alias("g"),
        ((F.col("doc_id") * 57) % 256).cast("int").alias("b"),
    )

    def _encode_decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, w, h, r, g, b in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["r"], pdf["g"], pdf["b"]
            ):
                w, h, r, g, b = int(w), int(h), int(r), int(g), int(b)
                raster = np.full((h, w, 3), (r, g, b), dtype=np.uint8)
                if progressive:
                    payload = encode_jpeg_progressive(w, h, raster.tobytes())
                else:
                    payload = encode_jpeg(
                        w,
                        h,
                        raster.tobytes(),
                        subsampling=subsampling,
                        restart_interval=restart_interval,
                    )
                d = decode_jpeg(payload)
                expect = np.array(
                    jpeg_constant_roundtrip(r, g, b), dtype=np.uint8
                )
                n_match = int(
                    (d["raster"] == expect).all(axis=-1).sum()
                )
                px = d["raster"][0, 0]
                out.append(
                    (
                        int(doc_id), codec, d["width"], d["height"],
                        int(px[0]), int(px[1]), int(px[2]), n_match,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "codec", "width", "height",
                    "red", "green", "blue", "n_match",
                ],
            )

    return docs.mapInPandas(
        _encode_decode,
        "doc_id long, codec string, width bigint, height bigint,"
        " red bigint, green bigint, blue bigint, n_match bigint",
    )
