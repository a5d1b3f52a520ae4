"""Multimodal column handling (driver north-star extension; NOT in the
reference — SURVEY.md §2.B.11).

Pattern: media as opaque ``binary`` columns + typed metadata struct;
decode / feature-extract / frame-sample as Arrow-batched ``mapInPandas``
stages. The container has no image/audio libraries, so the actual decoder
is STUBBED behind an import-try (PIL if present, else a deterministic
fake derived from the byte length) — the Spark-side plumbing (schema,
batching, partitioning, UDF signature) is real and tested either way.

The testdata has no binary table, so ``documents.text`` is encoded to
UTF-8 bytes as the stand-in payload. At 100 TB the same plan applies to
real image bytes: map-only stages, no shuffle, Arrow batches bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from powersql_spark.operators.common import sql_jround
from powersql_spark.pipeline.dedup import _band_hamming_pairs
from powersql_spark.registry import query

_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, format string"
)


def _decode_image_meta(payload: bytes) -> tuple[int, int, str]:
    """Decode image dimensions. Real decoder if PIL exists; otherwise a
    deterministic fake from the byte length (SQL-expressible so the
    DuckDB oracle can verify the plumbing end-to-end)."""
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        return img.width, img.height, img.format or "RAW"
    except ImportError:
        n = len(payload)
        return (n % 640) + 1, ((n * 7) % 480) + 1, "FAKE"


def _meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        metas = [_decode_image_meta(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "n_bytes": [len(p) for p in pdf["payload"]],
                "width": [m[0] for m in metas],
                "height": [m[1] for m in metas],
                "format": [m[2] for m in metas],
            }
        )


@query(
    "mm_decode_meta",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST((length(text) % 640) + 1 AS INTEGER) AS width,
           CAST(((length(text) * 7) % 480) + 1 AS INTEGER) AS height,
           'FAKE' AS format
    FROM documents
    """,
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed metadata via Arrow-batched mapInPandas.
    The decode stub is deterministic (byte-length arithmetic) so the
    oracle verifies the full plumbing: encode -> batch -> python ->
    typed struct out. Text is ASCII in the testdata, so byte length ==
    char length on the oracle side."""
    d = spark.table("documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(_meta_batches, schema=_META_SCHEMA)


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id, CAST(unnest(range(0, CAST(n_chars AS INTEGER), 100)) AS INTEGER)
               AS frame_offset
    FROM documents WHERE n_chars >= 200
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plan for a video-like payload: one row per sampled
    frame offset (every 100th byte), pure built-ins (sequence + explode)
    — the shuffle-free fan-out pattern that precedes per-frame decode."""
    d = spark.table("documents").where(F.col("n_chars") >= 200)
    offsets = F.sequence(
        F.lit(0), F.col("n_chars").cast("int") - 1, F.lit(100)
    )
    return d.select("doc_id", F.explode(offsets).alias("frame_offset"))


_RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, out_w int, out_h int"
)


def _resize_plan_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Fit-within-256 resize arithmetic on decoded dims. The actual
    pixel work would happen here with PIL present; the batch shape,
    schema, and scaling math are the real contract."""
    for pdf in batches:
        metas = [_decode_image_meta(p) for p in pdf["payload"]]
        w = pd.Series([m[0] for m in metas])
        h = pd.Series([m[1] for m in metas])
        scale = (256 / w.combine(h, max)).clip(upper=1.0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "width": w,
                "height": h,
                # floor, not round: must match the oracle's FLOOR and
                # be identical float64 math in both engines
                "out_w": (w * scale).apply(math.floor).clip(lower=1),
                "out_h": (h * scale).apply(math.floor).clip(lower=1),
            }
        )


@query(
    "mm_resize",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               (length(text) % 640) + 1 AS width,
               ((length(text) * 7) % 480) + 1 AS height
        FROM documents
    )
    SELECT doc_id, CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(GREATEST(FLOOR(width * LEAST(256.0 / GREATEST(width, height), 1.0)), 1)
                AS INTEGER) AS out_w,
           CAST(GREATEST(FLOOR(height * LEAST(256.0 / GREATEST(width, height), 1.0)), 1)
                AS INTEGER) AS out_h
    FROM dims
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize stage (fit within 256px, aspect-preserving): decode
    -> compute target dims -> (with a codec present) rewrite pixels.
    Map-only mapInPandas — no shuffle; at 100 TB this stage scales
    embarrassingly with executor count."""
    d = spark.table("documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(_resize_plan_batches, schema=_RESIZE_SCHEMA)


@query(
    "mm_audio_features",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           length(text) / 32000.0 AS duration_s,
           CAST(length(text) % 256 AS DOUBLE) / 255.0 AS rms_stub
    FROM documents WHERE n_chars >= 100
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction plumbing: treat the payload as 16-bit
    PCM at 16 kHz (duration = bytes / 32000); RMS is a deterministic
    stub (no audio libs in this container — a real librosa/soxr decode
    drops into the same mapInPandas slot). Arrow batch in, typed
    features out, map-only."""
    d = spark.table("documents").where(F.col("n_chars") >= 100).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": n,
                    "duration_s": n / 32000.0,
                    "rms_stub": (n % 256) / 255.0,
                }
            )

    return d.mapInPandas(
        feats,
        schema="doc_id bigint, n_bytes bigint, duration_s double, rms_stub double",
    )


def decode_image_column(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Library-style API: attach decoded metadata to any binary column.
    Raises NotImplementedError at *call* time only when a real decode is
    requested without PIL present; the metadata path always works."""
    return df.select("*").mapInPandas(
        _meta_batches,
        schema=_META_SCHEMA,
    )


_PHASH_BITS = 64
_PHASH_CHUNKS = 4
_PHASH_MAX_DIST = 3


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """64-bit difference-hash (dHash) signature per payload: split the
    byte stream into 65 equal blocks; bit i = mean(block i) >
    mean(block i+1). The gradient form is the discriminative member of
    the perceptual-hash family (a global-mean threshold collapses for
    payloads with similar overall byte statistics — e.g. same-charset
    text — while adjacent-block gradients stay payload-specific).
    Deterministic, locality-sensitive: editing a few bytes flips few
    bits. With an image codec present, a DCT pHash over decoded pixels
    drops into this exact slot — the banding/verify plan downstream is
    unchanged."""
    import numpy as np

    for pdf in batches:
        sigs = []
        for payload in pdf["payload"]:
            a = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
            if len(a) == 0:
                sigs.append(0)
                continue
            pad = (-len(a)) % (_PHASH_BITS + 1)
            if pad:
                a = np.pad(a, (0, pad))
            means = a.reshape(_PHASH_BITS + 1, -1).mean(axis=1)
            bits = (means[:-1] > means[1:]).astype(np.uint64)
            sig = np.uint64(0)
            for b in bits:
                sig = (sig << np.uint64(1)) | b
            # Two's-complement into a signed long for the JVM side.
            sigs.append(int(sig.astype(np.int64)))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].values, "sig": sigs}
        )


@query(
    "mm_phash_dedup",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    w AS (
        SELECT doc_id, hx, n,
               (n + ((65 - n % 65) % 65)) // 65 AS wdt
        FROM d WHERE n > 0
    ),
    by AS (
        SELECT doc_id, wdt, (i - 1) // wdt AS blk,
               ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS byte
        FROM w, unnest(range(1, n + 1)) AS u(i)
    ),
    bs AS (
        SELECT doc_id, blk, SUM(byte) AS s
        FROM by GROUP BY doc_id, blk
    ),
    grid AS (
        SELECT doc_id, g AS blk FROM w, unnest(range(0, 65)) AS t(g)
    ),
    dense AS (
        SELECT grid.doc_id, grid.blk, COALESCE(bs.s, 0) AS s
        FROM grid LEFT JOIN bs USING (doc_id, blk)
    ),
    bt AS (
        -- block means share the denominator wdt, so the mean compare
        -- is the integer block-sum compare
        SELECT a.doc_id, a.blk AS bi,
               CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        FROM dense a JOIN dense b
            ON b.doc_id = a.doc_id AND b.blk = a.blk + 1
        WHERE a.blk < 64
    ),
    sig AS (
        SELECT doc_id,
               SUM((CASE WHEN bit = 1 AND bi = 0 THEN 1 << 15 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 1 THEN 1 << 14 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 2 THEN 1 << 13 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 3 THEN 1 << 12 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 4 THEN 1 << 11 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 5 THEN 1 << 10 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 6 THEN 1 << 9 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 7 THEN 1 << 8 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 8 THEN 1 << 7 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 9 THEN 1 << 6 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 10 THEN 1 << 5 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 11 THEN 1 << 4 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 12 THEN 1 << 3 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 13 THEN 1 << 2 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 14 THEN 1 << 1 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 15 THEN 1 << 0 ELSE 0 END)) AS chunk0,
               SUM((CASE WHEN bit = 1 AND bi = 16 THEN 1 << 15 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 17 THEN 1 << 14 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 18 THEN 1 << 13 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 19 THEN 1 << 12 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 20 THEN 1 << 11 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 21 THEN 1 << 10 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 22 THEN 1 << 9 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 23 THEN 1 << 8 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 24 THEN 1 << 7 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 25 THEN 1 << 6 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 26 THEN 1 << 5 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 27 THEN 1 << 4 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 28 THEN 1 << 3 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 29 THEN 1 << 2 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 30 THEN 1 << 1 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 31 THEN 1 << 0 ELSE 0 END)) AS chunk1,
               SUM((CASE WHEN bit = 1 AND bi = 32 THEN 1 << 15 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 33 THEN 1 << 14 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 34 THEN 1 << 13 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 35 THEN 1 << 12 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 36 THEN 1 << 11 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 37 THEN 1 << 10 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 38 THEN 1 << 9 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 39 THEN 1 << 8 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 40 THEN 1 << 7 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 41 THEN 1 << 6 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 42 THEN 1 << 5 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 43 THEN 1 << 4 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 44 THEN 1 << 3 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 45 THEN 1 << 2 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 46 THEN 1 << 1 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 47 THEN 1 << 0 ELSE 0 END)) AS chunk2,
               SUM((CASE WHEN bit = 1 AND bi = 48 THEN 1 << 15 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 49 THEN 1 << 14 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 50 THEN 1 << 13 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 51 THEN 1 << 12 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 52 THEN 1 << 11 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 53 THEN 1 << 10 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 54 THEN 1 << 9 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 55 THEN 1 << 8 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 56 THEN 1 << 7 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 57 THEN 1 << 6 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 58 THEN 1 << 5 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 59 THEN 1 << 4 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 60 THEN 1 << 3 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 61 THEN 1 << 2 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 62 THEN 1 << 1 ELSE 0 END) + (CASE WHEN bit = 1 AND bi = 63 THEN 1 << 0 ELSE 0 END)) AS chunk3
        FROM bt GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.chunk0 AS a0, a.chunk1 AS a1, a.chunk2 AS a2, a.chunk3 AS a3, b.chunk0 AS b0, b.chunk1 AS b1, b.chunk2 AS b2, b.chunk3 AS b3 FROM sig a JOIN sig b ON a.chunk0 = b.chunk0 AND a.doc_id < b.doc_id
        UNION ALL SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.chunk0 AS a0, a.chunk1 AS a1, a.chunk2 AS a2, a.chunk3 AS a3, b.chunk0 AS b0, b.chunk1 AS b1, b.chunk2 AS b2, b.chunk3 AS b3 FROM sig a JOIN sig b ON a.chunk1 = b.chunk1 AND a.doc_id < b.doc_id
        UNION ALL SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.chunk0 AS a0, a.chunk1 AS a1, a.chunk2 AS a2, a.chunk3 AS a3, b.chunk0 AS b0, b.chunk1 AS b1, b.chunk2 AS b2, b.chunk3 AS b3 FROM sig a JOIN sig b ON a.chunk2 = b.chunk2 AND a.doc_id < b.doc_id
        UNION ALL SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.chunk0 AS a0, a.chunk1 AS a1, a.chunk2 AS a2, a.chunk3 AS a3, b.chunk0 AS b0, b.chunk1 AS b1, b.chunk2 AS b2, b.chunk3 AS b3 FROM sig a JOIN sig b ON a.chunk3 = b.chunk3 AND a.doc_id < b.doc_id
    )
    SELECT DISTINCT doc_a, doc_b,
           CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
                + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3))
                AS INTEGER) AS hamming
    FROM pairs
    WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
          + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= 3
    """,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over binary payloads — the image-dedup
    pass crawl pipelines run before any content model: Arrow-batched
    signature extraction (the decode slot), then the exact SimHash
    banding plan on the 64-bit signatures: 4x16-bit chunks, pigeonhole
    equi-join (hamming <= 3 guarantees a shared chunk), XOR+popcount
    verify on candidates only.

    Scale shape: signatures are one map-only mapInPandas pass (the
    only Python stage — exactly where a real codec must sit anyway);
    everything after shuffles (doc_id, 4 shorts, 1 long) per row,
    never payload bytes. Same sub-quadratic candidate structure as
    dedup_simhash (both call dedup._band_hamming_pairs).

    Oracle (round 3): the block-hash surrogate IS SQL-expressible —
    block means share the denominator, so the mean compare is an
    integer block-sum compare over hex-extracted bytes; the DuckDB
    twin replays signatures, chunk collisions, and the hamming filter
    bit-for-bit. A real DCT pHash would drop this back to the
    rows-only check (semantics stay pinned in tests/test_semantics:
    planted twins collide, hamming locality bound, determinism)."""
    from powersql_spark.catalog import spread, track_persist

    d = spread(spark.table("documents")).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    sig = d.mapInPandas(_phash_batches, schema="doc_id bigint, sig bigint")
    chunks = [
        F.shiftrightunsigned("sig", 16 * (_PHASH_CHUNKS - 1 - i))
        .bitwiseAND(F.lit(0xFFFF))
        .alias(f"chunk{i}")
        for i in range(_PHASH_CHUNKS)
    ]
    sig = track_persist(sig.select("doc_id", "sig", *chunks))
    return _band_hamming_pairs(sig, _PHASH_CHUNKS, _PHASH_MAX_DIST)


_SHARD_TARGET = 4096  # bytes per shard (WebDataset-style)
_SHARD_BUCKET = 100  # doc_ids per prefix-sum bucket


@query(
    "mm_shard_manifest",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb,
               CAST(FLOOR(doc_id / {_SHARD_BUCKET}) AS BIGINT) AS bkt
        FROM documents
    ),
    inb AS (
        SELECT *,
               SUM(nb) OVER (PARTITION BY bkt ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS prev_in
        FROM b
    ),
    bm AS (SELECT bkt, SUM(nb) AS bsum FROM b GROUP BY bkt),
    pm AS (
        SELECT bkt,
               SUM(bsum) OVER (ORDER BY bkt
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_b
        FROM bm
    ),
    assigned AS (
        SELECT inb.doc_id, inb.nb,
               CAST(FLOOR((COALESCE(prev_in, 0) + COALESCE(prev_b, 0))
                          / {_SHARD_TARGET}.0) AS BIGINT) AS shard_id
        FROM inb JOIN pm USING (bkt)
    )
    SELECT shard_id,
           COUNT(*) AS n_samples,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM assigned
    GROUP BY shard_id
    ORDER BY shard_id
    """,
)
def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard packing manifest: assign media samples
    (payload = UTF-8 byte size of the stand-in column) to ~4 KB shards
    by running byte count in doc_id order, and emit the per-shard
    manifest (sample count, bytes, id range) — the layout step before
    writing .tar shards for sequential-read training I/O. Samples are
    atomic, so a shard may overhang the target by at most one sample —
    standard WebDataset behavior.

    Scale shape: the global running byte count is the two-phase
    distributed prefix sum (within-bucket exclusive sums keyed on the
    id bucket + an exclusive pass over the metadata-sized bucket
    totals, broadcast back) — no single-partition scan anywhere; the
    manifest is one aggregation on the shard key. Byte sizes ride the
    scan; payloads themselves are never shuffled."""
    b = spark.table("documents").select(
        "doc_id",
        F.octet_length("text").cast("bigint").alias("nb"),
        F.floor(F.col("doc_id") / F.lit(_SHARD_BUCKET))
        .cast("bigint")
        .alias("bkt"),
    )
    from pyspark.sql import Window

    w_in = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    inb = b.select(
        "doc_id", "nb", "bkt", F.sum("nb").over(w_in).alias("prev_in")
    )
    bm = b.groupBy("bkt").agg(F.sum("nb").alias("bsum"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    pm = bm.select("bkt", F.sum("bsum").over(w_b).alias("prev_b"))
    assigned = inb.join(F.broadcast(pm), "bkt").select(
        "doc_id",
        "nb",
        F.floor(
            (
                F.coalesce(F.col("prev_in"), F.lit(0))
                + F.coalesce(F.col("prev_b"), F.lit(0))
            )
            / F.lit(float(_SHARD_TARGET))
        )
        .cast("bigint")
        .alias("shard_id"),
    )
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_samples"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


_VAD_FRAME = 64  # bytes per analysis frame (stub for 25 ms PCM)


@query(
    "mm_audio_vad",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE n_chars >= 100
    ),
    by AS (
        SELECT doc_id, n, (i - 1) // {_VAD_FRAME} AS frame,
               ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS byte
        FROM d, unnest(range(1, n + 1)) AS u(i)
    ),
    doc_tot AS (
        SELECT doc_id, SUM(byte) AS total, COUNT(*) AS len
        FROM by GROUP BY doc_id
    ),
    frames AS (
        SELECT by.doc_id, by.frame, SUM(byte) AS fsum,
               COUNT(*) AS flen
        FROM by GROUP BY by.doc_id, by.frame
    ),
    speech AS (  -- frame avg > doc avg, integer cross-multiplied
        SELECT f.doc_id, f.frame
        FROM frames f JOIN doc_tot t ON t.doc_id = f.doc_id
        WHERE f.fsum * t.len > t.total * f.flen
    ),
    isl AS (
        SELECT doc_id, frame,
               frame - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY frame
               ) AS island
        FROM speech
    ),
    segs AS (
        SELECT doc_id, island, COUNT(*) AS seg_len
        FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_segments,
               MAX(seg_len) AS longest_run,
               SUM(seg_len) AS n_speech
        FROM segs GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST((t.len + {_VAD_FRAME} - 1) // {_VAD_FRAME} AS BIGINT)
               AS n_frames,
           CAST(COALESCE(p.n_speech, 0) AS BIGINT) AS n_speech,
           CAST(COALESCE(p.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(p.longest_run, 0) AS BIGINT) AS longest_run,
           {sql_jround(
               "CAST(COALESCE(p.n_speech, 0) AS DOUBLE)"
               " / ((t.len + {F}  - 1) // {F})".replace(
                   "{F}", str(_VAD_FRAME)), 6)} AS speech_ratio
    FROM doc_tot t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection plumbing over opaque audio payloads:
    frame the byte stream (64-byte frames standing in for 25 ms PCM
    windows), mark frames whose mean energy exceeds the clip mean
    (integer cross-multiplied — no float ratio), and coalesce
    consecutive speech frames into segments (gap-islands on the frame
    index). Emits per clip: frame/speech counts, segment count,
    longest run, speech ratio — the trim/segment step every audio
    curation pipeline runs before transcription. A real
    energy/zero-crossing VAD over decoded PCM drops into the same
    Arrow mapInPandas slot.

    Scale shape: map-only — ONE Arrow stage computes all per-clip
    outputs locally (frames never leave the worker); no shuffle, no
    join, output is one row per clip. The oracle replays the exact
    integer arithmetic byte-for-byte from the hex expansion."""
    d = spark.table("documents").where(F.col("n_chars") >= 100).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def vad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "n_speech": [],
                "n_segments": [], "longest_run": [], "speech_ratio": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = len(a)
                nf = (n + _VAD_FRAME - 1) // _VAD_FRAME
                total = int(a.sum())
                speech = []
                for f in range(nf):
                    fr = a[f * _VAD_FRAME : (f + 1) * _VAD_FRAME]
                    if int(fr.sum()) * n > total * len(fr):
                        speech.append(f)
                n_seg = longest = cur = 0
                prev = None
                for f in speech:
                    if prev is None or f != prev + 1:
                        n_seg += 1
                        cur = 1
                    else:
                        cur += 1
                    longest = max(longest, cur)
                    prev = f
                out["doc_id"].append(doc_id)
                out["n_frames"].append(nf)
                out["n_speech"].append(len(speech))
                out["n_segments"].append(n_seg)
                out["longest_run"].append(longest)
                out["speech_ratio"].append(
                    round(len(speech) / nf, 6) if nf else 0.0
                )
            yield pd.DataFrame(out)

    return d.mapInPandas(
        vad,
        schema=(
            "doc_id bigint, n_frames bigint, n_speech bigint,"
            " n_segments bigint, longest_run bigint, speech_ratio double"
        ),
    ).orderBy("doc_id")
