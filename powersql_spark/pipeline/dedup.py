"""Deduplication operators over ``documents`` / ``embeddings`` (driver
north-star extension; NOT in the reference — SURVEY.md §2.B.11).

Scale design (the point of each variant):

- exact: hash-groupBy on a fingerprint — one shuffle of (hash, id), the
  100 TB workhorse. Never groupBy raw text at scale; group the 128-bit
  hash.
- ngram-jaccard: *blocked* pairwise verification — blocking keys
  (lang, source, length bucket) bound the quadratic term to within-block
  pairs. This is the exact-verification tail of any fuzzy-dedup funnel.
- minhash-LSH: the sub-quadratic funnel head — shingle -> k minhashes ->
  b bands -> bucket join. Candidate generation cost is O(docs x bands),
  independent of pair count; only candidates pay the exact-jaccard check.
- simhash: 64-bit signature + banded hamming candidate search — cheaper
  signatures than minhash, good for near-identical boilerplate.
- embedding-cosine: near-dup by semantic distance, blocked by label
  (stand-in for an IVF/cluster assignment at scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.pipeline.blocks import BLOCK_CAP, sub_bucket, sub_bucket_sql
from powersql_spark.catalog import (
    spread,
    track_checkpoint,
    track_persist,
    values_df,
)
from powersql_spark.operators.common import dot_unrolled, sql_jround
from powersql_spark.registry import query

_JACCARD_THRESHOLD = 0.30


def _doc_shingles(spark: SparkSession) -> DataFrame:
    """doc_id + distinct word-bigram shingle array, plus blocking keys.

    Repartitions first: a small parquet file arrives as ONE input split,
    which would serialize the CPU-heavy per-doc shingle work onto a
    single core (measured 10s -> sub-second at sf0.1). At real scale the
    input already has many splits and this is a cheap round-robin.
    Shingles via one zip_with over two array slices — linear, instead of
    a sequence+element_at transform (interpreted HOFs; fewer ops wins).

    Documents with a single token have no bigram; they fall back to
    unigram shingles so identical one-token docs still score jaccard 1
    instead of NULL (0/0) and are reported by every fuzzy-dedup variant.
    """
    d = spread(spark.table("documents"))
    return d.select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") / 64).cast("int").alias("len_bucket"),
        _shingle_expr().alias("shingles"),
    )


def _shingle_expr(text_col: str = "text"):
    """Distinct word-bigram shingles of a text column (unigram fallback
    for single-token docs) — the one shingle definition every fuzzy
    variant and the e2e composite share."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    bigrams = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )
    return F.when(n >= 2, bigrams).otherwise(F.array_distinct(toks))


@query(
    "dedup_exact",
    oracle=r"""
    WITH fp AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    )
    SELECT fingerprint, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
    FROM fp GROUP BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the smallest id.
    One shuffle of (16-byte hash, id) pairs regardless of document size —
    the canonical 100 TB dedup plan."""
    d = spark.table("documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return (
        d.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id"))
    )


_NGRAM_PAIRS_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               CAST(n_chars // 64 AS INTEGER) AS len_bucket,
               string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, source, len_bucket,
               CASE WHEN len(t) >= 2 THEN
                   list_distinct(
                       list_transform(
                           range(1, len(t)),
                           i -> list_extract(t, i) || ' ' || list_extract(t, i + 1)
                       )
                   )
               ELSE list_distinct(t) END AS shingles
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source
     AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles)))
          >= {_JACCARD_THRESHOLD}
"""


def _prefix_filtered_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact sub-quadratic candidate pairs via prefix filtering (the
    AllPairs scheme, Bayardo/Ma/Srikant WWW'07): order each doc's
    shingles by ascending global document frequency (ties by shingle),
    keep only the first ``|A| - ceil(t*|A|) + 1`` as the doc's *prefix*,
    and generate a candidate only when two same-block docs share a
    prefix shingle.

    Lossless: for any pair with jaccard >= t, the smallest common
    shingle under the global order provably lies in BOTH prefixes, so
    the pair always surfaces. What it buys at scale: the join fans out
    on individual rare-ish shingles instead of whole blocks, so one hot
    (lang, source, len_bucket) block no longer yields width^2 verify
    pairs — candidate volume is bounded by the prefix-shingle posting
    lists, the exact fix VERDICT round 1 asked for over the previous
    block-all-pairs form."""
    ex = sh.select(
        "doc_id",
        "lang",
        "source",
        "len_bucket",
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("s"),
    )
    doc_freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    ranked = ex.join(doc_freq, "s").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "s")
        ),
    )
    prefix_len = (
        F.col("sz")
        - F.ceil(F.col("sz") * F.lit(threshold)).cast("int")
        + 1
    )
    prefix = ranked.where(F.col("rn") <= prefix_len).select(
        "doc_id", "lang", "source", "len_bucket", "s"
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    return (
        a.join(b, ["s", "lang", "source", "len_bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


@query("dedup_ngram_jaccard", oracle=_NGRAM_PAIRS_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise n-gram Jaccard: prefix-filtered candidates
    within (lang, source, length-bucket) blocks, exact word-bigram
    Jaccard on each candidate. The prefix filter is lossless, so the
    result equals full within-block all-pairs (the oracle computes the
    naive form) while candidate volume stays sub-quadratic in block
    width."""
    sh = track_persist(_doc_shingles(spark))
    candidates = _prefix_filtered_candidates(sh, _JACCARD_THRESHOLD)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (common.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


# MinHash parameters: 16 hashes in 4 bands of 4 rows. With jaccard
# threshold t, P(candidate) = 1-(1-t^4)^4; the s-curve midpoint sits
# near t ~ 0.55 — tuned for "strong" near-dups.
_MINHASH_K = 16
_BANDS = 4
_ROWS_PER_BAND = _MINHASH_K // _BANDS


def _minhash_sql_ctes(src: str) -> str:
    """CTE chain tok -> sh -> ex -> hh -> sig -> bands -> cand ->
    mh_pairs over any (doc_id, text) relation ``src``: the portable
    md5-derived MinHash pipeline (same affine hash family as the Spark
    side), ending in the verified near-dup pairs at
    _JACCARD_THRESHOLD. Parameterized so the standalone key runs it on
    ``documents`` and the e2e composite on its survivor CTE."""
    mins = ",\n               ".join(
        f"MIN((h * {2 * i + 3} + {i * 40503}) % 2147483647) AS m{i}"
        for i in range(_MINHASH_K)
    )
    band_rows = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS band_sig FROM sig".format(
            b=b,
            sig=" || '|' || ".join(
                f"CAST(m{b * _ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(_BANDS)
    )
    return rf"""tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM {src}
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 2 THEN
                   list_distinct([t[i] || ' ' || t[i+1]
                                  for i in generate_series(1, len(t) - 1)])
               ELSE list_distinct(t) END AS shingles
        FROM tok
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hh AS (
        SELECT doc_id,
               ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
        FROM ex
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM hh GROUP BY doc_id
    ),
    bands AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_sig = b.band_sig
               AND a.doc_id < b.doc_id
    ),
    mh_pairs AS (
        SELECT cand.doc_a, cand.doc_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles)))
                   AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles)))
              >= {_JACCARD_THRESHOLD}
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_minhash_sql_ctes('documents')}
    SELECT doc_a, doc_b, jaccard FROM mh_pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: shingle -> 16 portable minhashes ->
    4 bands -> bucket join -> exact-jaccard verification of candidates.

    Scale shape: shingles explode once and are hashed once in
    whole-stage codegen; the K derived hashes come from ONE md5-based
    base hash via affine mixing mod 2^31-1 (pure integer arithmetic —
    also codegen) and collapse through 16 map-side partial MIN
    aggregates, so the shuffle carries only (doc_id, 16 longs) per
    doc. Band signatures then posexplode to 4 small rows per doc for
    the bucket join; no quadratic term until verification, which only
    touches bucket-colliding pairs. The hash family is md5-derived
    (count-min/Bloom precedent), so the DuckDB oracle reproduces the
    ENTIRE LSH pipeline — signatures, band collisions, surviving
    pairs — bit-for-bit; upgraded from a rows-only check in round 3.
    (Throughput note: xxhash64 is a drop-in for the md5 base when raw
    speed matters more than cross-engine verifiability.)

    Kept OUT of higher-order functions deliberately: HOF lambdas are
    interpreted (not codegen'd), and a nested-transform variant of this
    signature was ~10x slower in bench.py.

    The shingle set is used three times (signature build + both sides of
    candidate verification); persisting it computes the CPU-heavy
    shingling once. At 100 TB the equivalent move is materializing the
    shingle/signature stage to parquet between pipeline phases."""
    sh = track_persist(
        _doc_shingles(spark).select("doc_id", "shingles")
    )
    return _minhash_pairs(sh)


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m15): k derived minhashes by affine mixing of the
    32-bit md5 base hash mod 2^31-1 — portable integer arithmetic
    (identical in the oracle); the products stay far below bigint
    overflow (2^32 * 35)."""
    base = sh.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    return base.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h") * (2 * i + 3) + i * 40503) % 2147483647
            ).alias(f"m{i}")
            for i in range(_MINHASH_K)
        ]
    )


def _minhash_pairs(sh: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """Verified near-dup pairs from a persisted (doc_id, shingles)
    frame: signatures -> banded bucket join -> exact-jaccard check.
    Shared by the standalone key, the e2e curation composite, and the
    estimator key (which passes its own persisted signatures)."""
    if sig is None:
        # Persisted: BOTH sides of the banded self-join below read the
        # signature frame, and without the persist each side re-runs
        # the full signature aggregation from the shingle cache (16
        # min-aggregates over the md5 stream — profiled on q9 as two
        # identical 3.9 s stages writing byte-identical shuffle
        # output). The frame is (doc_id, 16 longs) — metadata-sized at
        # any SF; at 100 TB this is the signature-stage parquet
        # materialization every LSH pipeline does between phases.
        from powersql_spark.catalog import track_persist

        sig = track_persist(_minhash_signatures(sh))
    band_sigs = F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    F.col(f"m{b * _ROWS_PER_BAND + r}").cast("string")
                    for r in range(_ROWS_PER_BAND)
                ],
            )
            for b in range(_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_sigs).alias("band", "band_sig")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Exact verification of candidates only.
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (common.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


@query(
    "dedup_simhash",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(
                   string_split_regex(trim(text), '\s+'))) AS t
        FROM documents
    ),
    hb AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
        FROM tok
    ),
    vt AS (
        SELECT doc_id, COUNT(*) AS n,
               SUM((hi >> 31) & 1) AS v1,
               SUM((hi >> 30) & 1) AS v2,
               SUM((hi >> 29) & 1) AS v3,
               SUM((hi >> 28) & 1) AS v4,
               SUM((hi >> 27) & 1) AS v5,
               SUM((hi >> 26) & 1) AS v6,
               SUM((hi >> 25) & 1) AS v7,
               SUM((hi >> 24) & 1) AS v8,
               SUM((hi >> 23) & 1) AS v9,
               SUM((hi >> 22) & 1) AS v10,
               SUM((hi >> 21) & 1) AS v11,
               SUM((hi >> 20) & 1) AS v12,
               SUM((hi >> 19) & 1) AS v13,
               SUM((hi >> 18) & 1) AS v14,
               SUM((hi >> 17) & 1) AS v15,
               SUM((hi >> 16) & 1) AS v16,
               SUM((hi >> 15) & 1) AS v17,
               SUM((hi >> 14) & 1) AS v18,
               SUM((hi >> 13) & 1) AS v19,
               SUM((hi >> 12) & 1) AS v20,
               SUM((hi >> 11) & 1) AS v21,
               SUM((hi >> 10) & 1) AS v22,
               SUM((hi >> 9) & 1) AS v23,
               SUM((hi >> 8) & 1) AS v24,
               SUM((hi >> 7) & 1) AS v25,
               SUM((hi >> 6) & 1) AS v26,
               SUM((hi >> 5) & 1) AS v27,
               SUM((hi >> 4) & 1) AS v28,
               SUM((hi >> 3) & 1) AS v29,
               SUM((hi >> 2) & 1) AS v30,
               SUM((hi >> 1) & 1) AS v31,
               SUM((hi >> 0) & 1) AS v32,
               SUM((lo >> 31) & 1) AS v33,
               SUM((lo >> 30) & 1) AS v34,
               SUM((lo >> 29) & 1) AS v35,
               SUM((lo >> 28) & 1) AS v36,
               SUM((lo >> 27) & 1) AS v37,
               SUM((lo >> 26) & 1) AS v38,
               SUM((lo >> 25) & 1) AS v39,
               SUM((lo >> 24) & 1) AS v40,
               SUM((lo >> 23) & 1) AS v41,
               SUM((lo >> 22) & 1) AS v42,
               SUM((lo >> 21) & 1) AS v43,
               SUM((lo >> 20) & 1) AS v44,
               SUM((lo >> 19) & 1) AS v45,
               SUM((lo >> 18) & 1) AS v46,
               SUM((lo >> 17) & 1) AS v47,
               SUM((lo >> 16) & 1) AS v48,
               SUM((lo >> 15) & 1) AS v49,
               SUM((lo >> 14) & 1) AS v50,
               SUM((lo >> 13) & 1) AS v51,
               SUM((lo >> 12) & 1) AS v52,
               SUM((lo >> 11) & 1) AS v53,
               SUM((lo >> 10) & 1) AS v54,
               SUM((lo >> 9) & 1) AS v55,
               SUM((lo >> 8) & 1) AS v56,
               SUM((lo >> 7) & 1) AS v57,
               SUM((lo >> 6) & 1) AS v58,
               SUM((lo >> 5) & 1) AS v59,
               SUM((lo >> 4) & 1) AS v60,
               SUM((lo >> 3) & 1) AS v61,
               SUM((lo >> 2) & 1) AS v62,
               SUM((lo >> 1) & 1) AS v63,
               SUM((lo >> 0) & 1) AS v64
        FROM hb GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               (((CASE WHEN 2 * v1 > n THEN 1 ELSE 0 END) << 15) + ((CASE WHEN 2 * v2 > n THEN 1 ELSE 0 END) << 14) + ((CASE WHEN 2 * v3 > n THEN 1 ELSE 0 END) << 13) + ((CASE WHEN 2 * v4 > n THEN 1 ELSE 0 END) << 12) + ((CASE WHEN 2 * v5 > n THEN 1 ELSE 0 END) << 11) + ((CASE WHEN 2 * v6 > n THEN 1 ELSE 0 END) << 10) + ((CASE WHEN 2 * v7 > n THEN 1 ELSE 0 END) << 9) + ((CASE WHEN 2 * v8 > n THEN 1 ELSE 0 END) << 8) + ((CASE WHEN 2 * v9 > n THEN 1 ELSE 0 END) << 7) + ((CASE WHEN 2 * v10 > n THEN 1 ELSE 0 END) << 6) + ((CASE WHEN 2 * v11 > n THEN 1 ELSE 0 END) << 5) + ((CASE WHEN 2 * v12 > n THEN 1 ELSE 0 END) << 4) + ((CASE WHEN 2 * v13 > n THEN 1 ELSE 0 END) << 3) + ((CASE WHEN 2 * v14 > n THEN 1 ELSE 0 END) << 2) + ((CASE WHEN 2 * v15 > n THEN 1 ELSE 0 END) << 1) + ((CASE WHEN 2 * v16 > n THEN 1 ELSE 0 END) << 0)) AS chunk0,
               (((CASE WHEN 2 * v17 > n THEN 1 ELSE 0 END) << 15) + ((CASE WHEN 2 * v18 > n THEN 1 ELSE 0 END) << 14) + ((CASE WHEN 2 * v19 > n THEN 1 ELSE 0 END) << 13) + ((CASE WHEN 2 * v20 > n THEN 1 ELSE 0 END) << 12) + ((CASE WHEN 2 * v21 > n THEN 1 ELSE 0 END) << 11) + ((CASE WHEN 2 * v22 > n THEN 1 ELSE 0 END) << 10) + ((CASE WHEN 2 * v23 > n THEN 1 ELSE 0 END) << 9) + ((CASE WHEN 2 * v24 > n THEN 1 ELSE 0 END) << 8) + ((CASE WHEN 2 * v25 > n THEN 1 ELSE 0 END) << 7) + ((CASE WHEN 2 * v26 > n THEN 1 ELSE 0 END) << 6) + ((CASE WHEN 2 * v27 > n THEN 1 ELSE 0 END) << 5) + ((CASE WHEN 2 * v28 > n THEN 1 ELSE 0 END) << 4) + ((CASE WHEN 2 * v29 > n THEN 1 ELSE 0 END) << 3) + ((CASE WHEN 2 * v30 > n THEN 1 ELSE 0 END) << 2) + ((CASE WHEN 2 * v31 > n THEN 1 ELSE 0 END) << 1) + ((CASE WHEN 2 * v32 > n THEN 1 ELSE 0 END) << 0)) AS chunk1,
               (((CASE WHEN 2 * v33 > n THEN 1 ELSE 0 END) << 15) + ((CASE WHEN 2 * v34 > n THEN 1 ELSE 0 END) << 14) + ((CASE WHEN 2 * v35 > n THEN 1 ELSE 0 END) << 13) + ((CASE WHEN 2 * v36 > n THEN 1 ELSE 0 END) << 12) + ((CASE WHEN 2 * v37 > n THEN 1 ELSE 0 END) << 11) + ((CASE WHEN 2 * v38 > n THEN 1 ELSE 0 END) << 10) + ((CASE WHEN 2 * v39 > n THEN 1 ELSE 0 END) << 9) + ((CASE WHEN 2 * v40 > n THEN 1 ELSE 0 END) << 8) + ((CASE WHEN 2 * v41 > n THEN 1 ELSE 0 END) << 7) + ((CASE WHEN 2 * v42 > n THEN 1 ELSE 0 END) << 6) + ((CASE WHEN 2 * v43 > n THEN 1 ELSE 0 END) << 5) + ((CASE WHEN 2 * v44 > n THEN 1 ELSE 0 END) << 4) + ((CASE WHEN 2 * v45 > n THEN 1 ELSE 0 END) << 3) + ((CASE WHEN 2 * v46 > n THEN 1 ELSE 0 END) << 2) + ((CASE WHEN 2 * v47 > n THEN 1 ELSE 0 END) << 1) + ((CASE WHEN 2 * v48 > n THEN 1 ELSE 0 END) << 0)) AS chunk2,
               (((CASE WHEN 2 * v49 > n THEN 1 ELSE 0 END) << 15) + ((CASE WHEN 2 * v50 > n THEN 1 ELSE 0 END) << 14) + ((CASE WHEN 2 * v51 > n THEN 1 ELSE 0 END) << 13) + ((CASE WHEN 2 * v52 > n THEN 1 ELSE 0 END) << 12) + ((CASE WHEN 2 * v53 > n THEN 1 ELSE 0 END) << 11) + ((CASE WHEN 2 * v54 > n THEN 1 ELSE 0 END) << 10) + ((CASE WHEN 2 * v55 > n THEN 1 ELSE 0 END) << 9) + ((CASE WHEN 2 * v56 > n THEN 1 ELSE 0 END) << 8) + ((CASE WHEN 2 * v57 > n THEN 1 ELSE 0 END) << 7) + ((CASE WHEN 2 * v58 > n THEN 1 ELSE 0 END) << 6) + ((CASE WHEN 2 * v59 > n THEN 1 ELSE 0 END) << 5) + ((CASE WHEN 2 * v60 > n THEN 1 ELSE 0 END) << 4) + ((CASE WHEN 2 * v61 > n THEN 1 ELSE 0 END) << 3) + ((CASE WHEN 2 * v62 > n THEN 1 ELSE 0 END) << 2) + ((CASE WHEN 2 * v63 > n THEN 1 ELSE 0 END) << 1) + ((CASE WHEN 2 * v64 > n THEN 1 ELSE 0 END) << 0)) AS chunk3
        FROM vt
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
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature from token hashes (bitwise
    majority vote), banded into 4x16-bit chunks; pigeonhole guarantees
    pairs within hamming distance 3 share at least one chunk. Candidates
    verified by exact hamming distance.

    Scale shape: signatures are one map + one groupBy; candidate join is
    on 16-bit chunk values. Token hashes are md5-derived (two 32-bit
    halves — count-min/Bloom precedent), so the DuckDB oracle replays
    the whole pipeline — bit votes, chunking, band collisions, hamming
    filter — bit-for-bit; upgraded from a rows-only check in round 3.
    (Throughput note: xxhash64 is a drop-in for the md5 halves when
    raw speed matters more than cross-engine verifiability — the rest
    of the pipeline is hash-family agnostic.)"""
    d = spread(spark.table("documents"))
    toks = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    # Per-token 64-char bit string from TWO md5-derived 32-bit halves —
    # portable across engines (the oracle rebuilds the same bits).
    def _half(t, lo, width):
        return F.lpad(
            F.bin(
                F.conv(F.substring(F.md5(t), lo, 8), 16, 10).cast("long")
            ),
            width,
            "0",
        )

    hashed = d.select(
        "doc_id",
        F.transform(
            toks,
            lambda t: F.concat(_half(t, 1, 32), _half(t, 9, 32)),
        ).alias("hbits"),
        F.size(toks).alias("n_tok"),
    )
    # votes[b] = (#tokens with bit b set) * 2 - n_tok  — all map-side,
    # no explode/shuffle: one projection computes the whole signature.
    votes = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda b: F.size(
            F.filter(
                F.col("hbits"), lambda h: F.substring(h, b, F.lit(1)) == "1"
            )
        )
        * 2
        - F.col("n_tok"),
    )
    bits = F.transform(
        votes, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0))
    )
    sig = hashed.select("doc_id", bits.alias("bits"))
    # 4 chunks of 16 bits each -> integer chunk values.
    chunk = lambda i: F.aggregate(  # noqa: E731
        F.slice("bits", i * 16 + 1, 16),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )
    sig = sig.select(
        "doc_id",
        *[chunk(i).alias(f"chunk{i}") for i in range(4)],
    )
    # Pack the 4 16-bit chunks into ONE 64-bit signature: the banded
    # join then shuffles (doc_id, 4 shorts-as-longs, 1 long) instead of
    # a 64-int array, and hamming distance is a single XOR + popcount
    # instead of a 64-element lambda fold per candidate pair.
    # Shifts + OR, not multiplication: a top-bit chunk0 would overflow
    # signed-long multiply (an error under ANSI mode); the shifted bit
    # pattern is what XOR/popcount need either way.
    packed = (
        F.shiftleft("chunk0", 48)
        .bitwiseOR(F.shiftleft("chunk1", 32))
        .bitwiseOR(F.shiftleft("chunk2", 16))
        .bitwiseOR(F.col("chunk3"))
    )
    # The signature build (per-token 64-bit hashing + bit votes) feeds
    # BOTH sides of all 4 band joins — materialize it once instead of
    # recomputing it 8x.
    sig = track_persist(sig.withColumn("sig", packed))
    return _band_hamming_pairs(sig, n_chunks=4, max_dist=3)


def _band_hamming_pairs(
    sig: DataFrame, n_chunks: int, max_dist: int
) -> DataFrame:
    """Near-duplicate pairs ``(doc_a, doc_b, hamming)`` of 64-bit
    signatures ``sig(doc_id, sig, chunk0..chunk<n_chunks-1>)``: every
    pair within ``max_dist`` bits, found by banding (pigeonhole: a pair
    within fewer bits than there are chunks shares a whole chunk).

    ONE banded self-equi-join on (band index, chunk value) via
    posexplode — the _minhash_pairs structure — instead of one
    self-join per chunk unioned: same candidate set (the union of
    per-chunk matches IS the set of pairs sharing any (band, value)),
    dropDuplicates for multi-chunk colliders, but 2 scans of the
    (persisted) signatures and ~3 exchanges instead of 8 scans and 9
    exchanges at 4 chunks (4 join keys + union + distinct). Hamming
    distance is one XOR + popcount per candidate."""
    bands = sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[F.col(f"chunk{i}") for i in range(n_chunks)])
        ).alias("band", "cv"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.cv") == F.col("b.cv"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sig").alias("sig_a"),
        F.col("b.sig").alias("sig_b"),
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("int")
    return (
        pairs.dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_dist)
    )


def _embedding_cosine_oracle(cap: int) -> str:
    return f"""
    WITH norms AS (
        SELECT vec_id, label, embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
               {sub_bucket_sql("vec_id", "label", cap)} AS sub
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_sum(list_transform(range(1, 65),
                 i -> CAST(list_extract(a.embedding, i) AS DOUBLE)
                    * CAST(list_extract(b.embedding, i) AS DOUBLE)))
             / (a.nrm * b.nrm), 4) AS cosine
    FROM norms a JOIN norms b
      ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
    WHERE round(
             list_sum(list_transform(range(1, 65),
                 i -> CAST(list_extract(a.embedding, i) AS DOUBLE)
                    * CAST(list_extract(b.embedding, i) AS DOUBLE)))
             / (a.nrm * b.nrm), 4) >= 0.4
    """


def _embedding_cosine(
    spark: SparkSession, sf_dir: str, cap: int = BLOCK_CAP
) -> DataFrame:
    e = spark.table("embeddings")
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            emb_d, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    width = F.count("*").over(Window.partitionBy("label"))
    norms = e.select(
        "vec_id",
        "label",
        emb_d.alias("emb"),
        nrm.alias("nrm"),
        sub_bucket(F.col("vec_id"), width, cap).alias("sub"),
    )
    a = norms.alias("a")
    b = norms.alias("b")
    # Deliberately the HOF form, NOT operators.common.dot_unrolled:
    # the .where(cosine >= 0.4) below is pushed into the pair JOIN's
    # condition, and join conditions evaluate interpreted — outside
    # whole-stage codegen — where one zip_with/aggregate loop beats
    # walking a 384-node unrolled expression tree per candidate row
    # (measured 1.43 -> 4.45 s unrolled; the q28 pair_cos lesson).
    dot = F.aggregate(
        F.zip_with("a.emb", "b.emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cosine = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4)
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= 0.4)
    )


@query("dedup_embedding_cosine", oracle=_embedding_cosine_oracle(BLOCK_CAP))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairwise cosine within label blocks (the label
    stands in for an IVF/cluster assignment), with the guarded width cap
    (pipeline/blocks.py) bounding any one block's pair count. Dot products via
    zip_with/aggregate in double precision; cosine rounded to 4dp so the
    oracle hash matches."""
    return _embedding_cosine(spark, sf_dir)


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
        UNION
        SELECT doc_id AS a, doc_id AS b
        FROM documents
        WHERE doc_id IN (SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs)
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id,
           (MIN(b) = a) AS is_canonical
    FROM reach GROUP BY a
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of near-duplicate pairs -> cluster IDs — the
    step every real dedup pipeline needs after pair generation (A~B and
    B~C must collapse to ONE cluster even when A~C was never scored).
    cluster_id = min doc_id reachable; is_canonical marks the keeper.

    Algorithm: iterative min-label propagation (the simplified
    large-star idea): each round, every node takes the min label in its
    closed neighborhood; converges in O(graph diameter) rounds — near-dup
    clusters are shallow, so a handful of shuffles on the edge key. Each
    round persists its label frontier and counts changes (the
    convergence check IS the action that materializes the round).
    Driver-side loop, executor-side data: nothing ever collects.

    Oracle: recursive-CTE transitive closure in DuckDB (exact same
    cluster labeling, engine-independent because labels are min ids,
    not traversal order).
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("lab") == F.col("node")).alias("is_canonical"),
    )


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected (doc_a, doc_b) pair
    frame -> (node, lab) with lab = min reachable id. Shared by the
    standalone clustering key and the e2e curation composite."""
    # Both edge directions from ONE scan of `pairs` (explode of a
    # 2-struct array), not union(fwd, swapped): Spark executes each
    # union branch as its own subtree, so the un-persisted pair
    # pipeline (LSH band join + jaccard verify) would run TWICE inside
    # the round-1 checkpoint materialization. Same multiset of rows.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .persist()
    )
    # Initialization fused with the first propagation round: label0 =
    # min over the closed neighborhood (same aggregation that builds
    # the node list) — one fewer shuffle round for every caller, and
    # identical to running the loop once from identity labels.
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("nb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("nb"), F.col("a")).alias("lab"),
        )
        .persist()
    )
    max_rounds = 20  # >> any real near-dup cluster diameter
    n_changed = -1
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("lab").alias("nlab"))
        )
        # localCheckpoint materializes the round AND severs lineage —
        # without it each round's plan contains every prior round, and
        # the convergence count re-executes the whole chain
        # (O(rounds^2) work, unbounded plan growth). LAZY: the
        # convergence count on the next line is a full action over the
        # frame, so it materializes the checkpoint in the SAME job —
        # one driver round trip per round instead of two (the rounds
        # are job-latency bound, ~50-120 ms per local job).
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))
                ).alias("lab"),
                (F.col("nlab") < F.col("lab")).alias("changed"),
            )
            .transform(lambda df: track_checkpoint(df, eager=False))
        )
        n_changed = new_labels.where(F.col("changed")).count()
        labels.unpersist()
        labels = new_labels.select("node", "lab")
        if n_changed == 0:
            break
    edges.unpersist()
    if n_changed != 0:
        # Silent partial labels would diverge from the transitive-closure
        # oracle (chain-shaped clusters deeper than the round cap); fail
        # loudly instead so the caller raises the cap or pre-contracts.
        raise RuntimeError(
            f"connected-components did not converge in {max_rounds} rounds"
            f" ({n_changed} labels still changing)"
        )
    return labels


@query(
    "dedup_chunk_crosscorpus",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((i - 1) * 20 + 1 AS BIGINT) AS s,
               md5(array_to_string(t[(i-1)*20+1 : (i-1)*20+20], ' ')) AS h
        FROM toks,
             unnest(range(1, CAST(ceil(len(t) / 20.0) AS INTEGER) + 1))
                 AS u(i)
    ),
    ranked AS (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
        FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(1 - SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                    / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS kept_ratio
    FROM ranked
    GROUP BY doc_id
    """,
)
def dedup_chunk_crosscorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus span dedup (the CCNet/RefinedWeb line-dedup family,
    adapted to newline-free text): split every document into
    non-overlapping 20-token chunks, keep only the FIRST occurrence of
    each chunk corpus-wide (first = lowest (doc_id, offset) — a total,
    engine-independent order), and report per document how much survives.
    Boilerplate repeated across pages is removed everywhere but its
    first appearance — the span-level complement of whole-doc dedup.

    Scale shape: the shuffle key is md5(chunk), 16 bytes — chunk TEXT
    never moves; each exploded row carries (hash, doc_id, offset). The
    first-occurrence rank is one window over the hash partition, then
    the per-doc rollup shuffles doc_id. Two bounded shuffles, linear in
    corpus size — the same plan at 100 TB."""
    d = spread(spark.table("documents"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), n, F.lit(20))
    chunks = d.select(
        "doc_id", toks.alias("t"), F.explode(starts).alias("s")
    ).select(
        "doc_id",
        F.col("s").cast("bigint").alias("s"),
        F.md5(
            F.array_join(F.slice("t", F.col("s"), 20), " ").cast("binary")
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "s")
    ranked = chunks.select(
        "doc_id", "s", F.row_number().over(w).alias("rn")
    )
    dup = F.sum((F.col("rn") > 1).cast("int")).cast("bigint")
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        dup.alias("n_dup_chunks"),
        (F.lit(1) - dup / F.count("*").cast("double"))
        .cast("double")
        .alias("kept_ratio"),
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH for embeddings — the sub-quadratic candidate
# generator that replaces blocked all-pairs scans at 100 TB.
# ---------------------------------------------------------------------------

# Band geometry: band width should track log2(n) — at 8-bit bands a 10k-row
# corpus already put ~39 rows in every bucket (~750k spurious candidate
# pairs, measured 2.1s at sf0.1); 12-bit bands cut random collisions to
# bands/4096 of the pair space while 6 bands keep planted-twin recall ~0.95.
_LSH_PLANES = 72  # signature bits
_LSH_BANDS = 6  # 6 bands x 12 bits
_LSH_DIM = 64
_LSH_VERIFY_COSINE = 0.95
_PLANT_OFFSET = 1_000_000


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a 64-bit LCG
    (Knuth MMIX constants) — a fixed model parameter, identical on
    every run/engine (72x64 doubles, ~37 KB, shipped in the UDF
    closure)."""
    state = 1234567891
    flat = []
    for _ in range(_LSH_PLANES * _LSH_DIM):
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        flat.append((state >> 11) / 2.0**53 - 0.5)
    return [
        flat[i * _LSH_DIM : (i + 1) * _LSH_DIM] for i in range(_LSH_PLANES)
    ]


def _lsh_corpus(spark: SparkSession) -> DataFrame:
    """embeddings UNION a planted near-duplicate of every vector
    (vec_id + 1e6, elements scaled by 1 +/- 30%, landing near cosine
    0.98): the synthetic corpus has no natural pairs above cosine 0.6,
    so the planted twins give the LSH a real target whose expected
    answer is known — and 0.98 is far enough from 1.0 that band
    agreement is genuinely probabilistic (~0.96 per bit), exercising
    the banding instead of trivially colliding on every band. The
    recall gate in tests/test_semantics checks the planted pairs are
    found."""
    e = spark.table("embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "emb"
        ),
    )
    # Base row and planted twin from ONE scan (explode of a 2-struct
    # array), not unionByName(e, planted): each union branch executed
    # as its own subtree — two scans of the embeddings table — and the
    # union doubled the partition count, so every downstream map stage
    # over the cached signatures ran 2x the tasks on half-empty
    # partitions. The wobble factor references the SHIFTED id exactly
    # as the two-select union form did (pid below IS vec_id + offset,
    # computed inline — no resolution-order ambiguity). Same row
    # multiset, one scan, input-sized partitioning.
    pid = F.col("vec_id") + _PLANT_OFFSET
    wobbled = F.transform(
        F.col("emb"),
        lambda x, i: x * (1.0 + ((pid + i) % 7 - 3).cast("double") / 10.0),
    )
    return e.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id").alias("vec_id"), F.col("emb").alias("emb")
                ),
                F.struct(pid.alias("vec_id"), wobbled.alias("emb")),
            )
        ).alias("r")
    ).select("r.vec_id", "r.emb")


def _lsh_signed(spark: SparkSession) -> DataFrame:
    """Corpus with signature bands attached: (vec_id, emb, nrm,
    bands array<long>) — one Arrow-batched matmul per Arrow batch,
    persisted because both the band join (scalars only) and the
    verification fetch (arrays) derive from it."""
    from pyspark.sql.functions import pandas_udf

    corpus = spread(_lsh_corpus(spark))
    band_width = _LSH_PLANES // _LSH_BANDS
    planes_np = np.array(_hyperplanes())  # model parameter, in the closure
    pow2 = 1 << np.arange(band_width - 1, -1, -1)

    # Signature = one Arrow-batched matmul: (batch x 64) @ (64 x 72).
    # The HOF formulation (72 interpreted aggregate/zip_with dots per
    # row) measured ~4x slower at sf0.1 — this is the vectorized-math
    # case where a pandas_udf beats built-ins.
    @pandas_udf("array<long>")
    def band_vals(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy())
        bits = (m @ planes_np.T) >= 0
        vals = np.stack(
            [
                bits[:, b * band_width : (b + 1) * band_width] @ pow2
                for b in range(_LSH_BANDS)
            ],
            axis=1,
        )
        return pd.Series(list(vals))

    nrm = F.sqrt(
        F.aggregate(
            F.col("emb"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return track_persist(
        corpus.select(
            "vec_id",
            "emb",
            nrm.alias("nrm"),
            band_vals(F.col("emb")).alias("bands"),
        )
    )


def _lsh_candidates(spark: SparkSession) -> DataFrame:
    """Band-join candidate pairs (pre-verification): the stage whose
    volume the sub-quadratic claim is about — tests count this frame
    directly against the pair space (multi-band duplicates included:
    this IS the raw join volume).

    Only (vec_id, band, val) enters the join — 3 scalars per row. The
    64-double embedding arrays stay OUT of the band shuffle (they
    would otherwise ride 2 x bands copies through the exchange);
    verification fetches them by key afterwards."""
    sig = _lsh_signed(spark)
    bands = sig.select(
        "vec_id", F.posexplode("bands").alias("band", "val")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
    )


@query(
    "dedup_embedding_lsh",
    oracle=r"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    pl AS (
        -- The wobble multiplier uses the SHIFTED id (matching the
        -- Spark side, where the planted frame re-selects after the
        -- offset), so shift first, then wobble.
        SELECT vec_id,
               [v[i] * (1.0 + (((vec_id + i - 1) % 7) - 3) / 10.0)
                for i in generate_series(1, 64)] AS v
        FROM (SELECT vec_id + 1000000 AS vec_id, v FROM e)
    ),
    corpus AS (SELECT * FROM e UNION ALL SELECT * FROM pl),
    planes AS (
        SELECT * FROM (VALUES
            (0, [0.0033507520811172364, 0.0054303638799260145, -0.0657531311936056, 0.03097457026901429, 0.4143219771721818, 0.21071614840672426, -0.26761982610218205, -0.11415462886442629, 0.0710218421938259, -0.2703489969317897, -0.40709669177373764, 0.04259608472381815, -0.313578012769563, -0.43737097691654214, -0.10294762350662578, -0.28913000207164086, 0.13978350990639532, -0.0038062619877583526, 0.27507435271395064, -0.22187685198896012, 0.1680228757836537, -0.48916427910784255, -0.29929015637542544, -0.3280611348280795, -0.48292174974419555, -0.41129495259428583, 0.4546112724113256, -0.36040222831105473, 0.34197083600052103, -0.17509384426853747, -0.49930566250327735, -0.45755788226843175, 0.010194175115967985, -0.43730856090898007, 0.0637386568717323, -0.2975410212803503, -0.1403375696147665, -0.17780007009528187, 0.2497613229775063, -0.27481854109739423, -0.2668510897751717, -0.021366392016886726, -0.07853336571201208, -0.04935035787436093, -0.11748091553485185, -0.18716429775964227, 0.05270205891623825, -0.3650896926117314, 0.3011508828152849, 0.07807627225625913, -0.40361520966807485, 0.1230991457644236, 0.14334124084093347, -0.04190763821466026, 0.4455097390307565, -0.33950588123796976, 0.11984539507944914, -0.2931796206674969, 0.2819309451523194, 0.19183495973754094, 0.39522546810782067, -0.4080401899083299, -0.01177800974721277, 0.26254868672836096]),
            (1, [-0.10413218550087144, -0.25300161255951836, -0.18802296165437826, -0.21650781576047473, -0.4833001691580684, -0.13674434174732641, 0.038871468342622784, -0.38100417688485944, -0.10921058780840187, -0.47654142724605497, 0.13704893066338875, 0.14180739606418458, -0.23299849627731495, -0.37879870745591604, -0.24214328002893648, 0.3693419336043898, -0.44855718933106725, 0.15153799828518089, 0.4410652439844682, -0.1329066425038784, 0.4354528738762635, 0.2920866573242503, 0.1672052715785155, -0.17571919966264093, -0.005271215138241581, 0.11031515196344344, -0.05554787995832222, -0.4346507748485273, -0.18949720412861393, -0.2592276204631139, 0.24934232866574857, -0.04873172443314666, -0.21888042676545572, -0.04389140791340995, 0.16924208218471337, 0.2882100149698762, 0.248475474922479, 0.36667468077786636, -0.03606729849408874, 0.4156352865755478, -0.20899366611018522, -0.46978446574054256, 0.11386353796615778, 0.16763570872628764, 0.05329554345208398, -0.2701584132763253, -0.4517843023992201, 0.18364403648552052, 0.1487705145432322, -0.23024048806086084, -0.09734322531145634, 0.33757927810298394, -0.21895819182069332, -0.42343352268771783, 0.3684667267937034, -0.3612511750471409, -0.059743557779323386, -0.16403358904068044, -0.33196210736973575, -0.4097879132344746, 0.17057907952959295, 0.19664978320655768, -0.35323685269489147, 0.4029715549235452]),
            (2, [-0.47013871819742337, -0.1914022836827698, -0.3474342848904587, -0.011529077501891916, 0.034155308848446087, -0.4543660852051622, -0.2932977581684417, -0.32218243427554216, 0.4419497216900946, 0.2961051477417015, -0.22146855926854248, 0.49268290500023204, -0.04474453565682668, -0.2907828694179254, 0.39546686025402755, 0.4085405491278131, 0.19261553571269707, -0.30949453896677204, 0.45548619722605543, 0.23152058640446838, -0.3260776571823142, 0.29773536483710394, 0.25488881369308514, -0.29363264473975426, 0.21160691500741946, 0.25651354804103, 0.35268866060851267, -0.2963991318290863, -0.1377163336989079, -0.25413207642390545, -0.23284492586414096, -0.3097583478194037, 0.13307369029710825, 0.1945786038318289, -0.4317991333917698, 0.09571733822422279, 0.33473283204662474, -0.18237616158179648, -0.29010034860016554, -0.24173237927514168, -0.12871604165161843, 0.28718660077452474, 0.23988401830513195, -0.33935099424951864, -0.38473629121135944, -0.2428545141640408, -0.425758982200511, 0.25628488016422835, 0.2863570272203212, -0.10562579717176435, 0.37576264581138674, -0.08037982105982733, -0.16825330446264886, 0.44238931237895507, -0.030143630198661064, 0.41588816694434305, 0.3554160002922956, 0.22792818744229215, 0.49449146802792965, -0.21543932462331783, 0.20019033175887901, -0.10008083663584766, 0.34692900069894195, -0.1315997738778416]),
            (3, [0.3618338823041325, -0.0072389334301693475, 0.47889771662040703, 0.3515852392037151, -0.25003082402248844, 0.04725433333850415, -0.41610833933038205, -0.28020499780692876, 0.3384241213244251, 0.3110805930256785, 0.43339688828128886, -0.06605819161374016, -0.12757878365704456, 0.3462251126187973, 0.34819895849689186, -0.1667426068436213, 0.4401624645033756, 0.2125379156983086, -0.2620773207932754, -0.12882574471514652, 0.12715616047328193, 0.1233958979386236, 0.361656477014767, -0.23558679949642447, 0.19875952473556768, -0.030791949881152747, -0.0897555820989544, -0.44012617838152357, -0.35375335189057733, -0.0007429995277052903, -0.1271218975402918, 0.18790189118286238, 0.4534803082757348, -0.0033541659885073516, 0.0966062475614764, -0.2733896268260284, -0.34595252975517155, -0.2997322137006183, -0.35487021683854336, -0.20267041040385725, 0.07441107448725148, 0.4965714463633156, 0.2501416222734083, -0.4894912199439798, 0.20015065011955713, 0.48255691901043307, 0.25629511837233865, 0.2945903236732915, -0.42555162092094934, 0.3103797201713243, 0.24444078319532514, 0.4657744358379631, -0.443893211263073, -0.34372903082660977, 0.34049232278437247, -0.07300927435586124, 0.36545823847226033, -0.3091232584850533, -0.3996344107850295, -0.4825543041032865, 0.29304310056826155, -0.07852423042968404, -0.3939863880779665, -0.3328563168570098]),
            (4, [-0.3064365513466266, -0.2188774996232169, 0.052669614847414836, 0.09141865497120305, -0.32582357969751474, 0.30519041851436146, -0.31059379011617605, 0.40509717883517593, -0.3718622434134654, 0.2217785723576613, 0.007837426304134976, 0.11812329129982568, -0.2744568384322905, -0.1759989125435305, 0.37108220184562124, 0.42744885720162407, -0.10474946820614939, -0.4755890729822413, -0.3087325591771254, -0.3143600444552649, -0.19464157755320843, 0.2572096260292186, -0.3698755464090403, -0.47337139294262176, 0.010233692139820616, 0.0205979711879013, 0.28589120689371084, 0.022405134326185627, -0.3260685144765292, -0.19328623855949456, -0.31975618039425524, 0.27765032066486495, 0.47986292949436227, -0.4457821313518384, -0.14598183741976112, -0.48517269095505855, -0.32186416642460813, 0.44815437476152, 0.16256378672522653, 0.1227804390341396, 0.027521942368772923, -0.2727059132713644, -0.3657198094010914, -0.39240721950831825, -0.04921286642956757, -0.48344164955926616, 0.11674138495717434, 0.4115111535318602, -0.051024245359356235, -0.07417190743617408, 0.040002253317105385, -0.4650989604941492, -0.40462627473142476, -0.07547018514252779, 0.09093538018491232, 0.050777222849909376, 0.40362677917753775, 0.43153927509147416, -0.019436874255597036, 0.2149064158791253, 0.48370993667840867, 0.38591971369413425, 0.4558660904850145, -0.48198992043501154]),
            (5, [-0.19661527414453284, 0.47721765284302364, -0.1846807764456938, 0.25832239527713297, 0.3635146433105244, 0.4805246663943227, -0.42413380946518153, -0.3498251789463178, -0.2808964352828215, -0.12959007720978777, 0.0711216260685903, 0.11264550190384437, 0.13002515430491435, 0.3428164502741069, 0.07534304504232503, 0.092104165765022, 0.32514050264727834, -0.014953876095326946, -0.13814509290418053, -0.4903063710672836, 0.2141316650312689, -0.4179115904955588, -0.21171619343669235, 0.4784986493960085, -0.43202656197337197, 0.16134687381889967, 0.40920100192262143, 0.27740906660376674, -0.060900262134852556, -0.20452581102655276, 0.46116199598538055, -0.1976498407835412, 0.05488490068751606, 0.4998610624615921, -0.13651684475639758, 0.07641741781285816, -0.4068502080253462, 0.1980666250069094, 0.3228047321141789, 0.40051306274948295, -0.37057250130581565, 0.3212843584422923, 0.16866651726624027, 0.41554157272514036, 0.2129932868068135, -0.3632459196370036, -0.3243367267995043, -0.18663383541557388, -0.23816603015933357, 0.33752023919341223, 0.33739209477347953, 0.04546468840538409, -0.4783822835143836, 0.20483121736195908, -0.39791493284297796, -0.07429721111819199, 0.35711482135989125, -0.48318013739369237, 0.15874983795191566, -0.2069992810995689, 0.2787468937199953, 0.18450891925243929, 0.03370597413704546, -0.13644551702380114]),
            (6, [-0.3359008605050652, 0.44578435553603357, -0.15762862406982636, 0.0974367791097106, 0.2980321485151418, -0.045508914007888146, -0.01131147315709069, 0.20829599849467284, -0.30354447913452354, 0.4716244337608755, -0.2699485658967964, 0.3537430968653271, -0.1501954883201474, 0.4045461678207376, -0.2502982615929854, -0.30427905906298314, -0.18022356420975405, 0.4021461506817684, 0.0400138105765202, -0.4045736121098539, 0.19401086477134577, 0.41323991086739, 0.4206246692004839, -0.016004821689175386, 0.189902051969845, -0.008401508602663643, 0.14858889983273327, 0.1751173349371703, 0.2979892419125162, -0.030881242650301233, 0.1763182429821123, 0.2708409370315259, 0.30249015351411035, -0.10313399079341556, 0.3019974776338572, 0.34930690391286523, 0.0707034463002103, 0.0013160837304827533, -0.19606491383929325, -0.44186855701414596, -0.15086603021554312, 0.4211872987373094, 0.37586355710966, 0.42426720587752664, 0.15924603289211425, 0.2013659197851999, -0.34213321538480856, 0.20386272276880613, 0.32697632173472335, -0.020495599311872503, 0.4000477530775386, -0.153363484526165, 0.09084530265957869, -0.08495955255873022, -0.16631785024326917, 0.4218452812403537, 0.08993849744424287, 0.28140785576971417, 0.3318833172758855, -0.4671958342130028, -0.16586229688054743, 0.26051243926659884, 0.17091300483341476, 0.1857291145605956]),
            (7, [0.2289578366644911, 0.3636027192504654, -0.26204219499653003, -0.09002307963713241, 0.4989260410550913, 0.3000854026486175, 0.07654869562856859, -0.20325301814774865, -0.33187355398395624, -0.3728699067826011, -0.46204641647520606, 0.18863491983076153, -0.20403205089955678, -0.4504693816941172, 0.024613954696314888, -0.06163509604104678, 0.45712224779600663, 0.4581913431687634, 0.0402958806585193, -0.44227846072814014, 0.3676825271368229, 0.1891391033508797, -0.26288723062957287, 0.034948126018259806, -0.24861469174211692, 0.06362488202459127, 0.4899549905957111, -0.15555011963126297, -0.2364719225650419, -0.20800007653588215, 0.14681329148259548, -0.3701563053987501, -0.16841012597367233, 0.29212200248936626, -0.14672679817039092, -0.29787015205682466, -0.15883489938953688, -0.36791410911494893, 0.24884425779178632, -0.02899343591247483, -0.15939629742128503, 0.14596452359115564, 0.15389199400174136, -0.3473822065353722, 0.309948605444361, 0.043689711163781175, 0.09214444756522666, -0.20406025390298577, -0.40902080471576774, -0.1165441739319738, 0.09281247761324896, -0.39520220053298927, 0.3210873533969535, -0.05164619051196406, 0.3831048768214971, -0.32418378321030383, 0.04303877640961351, 0.3151630522394031, -0.44315525970190484, -0.05328463922647231, 0.3421076084085467, -0.4074343643084297, 0.07842411295508978, -0.1875873524771987]),
            (8, [-0.48283668790103684, -0.35308626149871614, -0.35373106066077953, 0.11688430447448317, -0.17781934922042042, -0.4651929941979892, -0.3419554094326165, 0.24042485382377932, 0.026865689183701247, -0.1324011367160295, -0.4787867277875306, 0.4912733754581321, -0.12537024674909936, -0.22589469151269803, 0.29059032733912915, -0.019709723752106556, 0.021190690597793327, -0.10666280787672644, 0.15063840129907935, 0.04968537393606198, -0.05804082319240944, 0.18411003954937577, 0.15740109195203167, -0.13919729395671765, -0.3197291157665604, -0.025104122414953522, 0.11143294789849845, -0.39583227694099643, -0.3831716515978367, -0.29737148951947123, -0.4095241150903277, 0.46473352149528313, -0.17625958640642325, 0.12183954956249121, -0.015434847067905988, -0.05877419313713761, 0.12878471418049708, 0.42348762308130494, 0.13994948437865462, 0.24333736146729246, -0.11354647384976468, -0.2643233334000108, 0.283287982137745, -0.18895042885527158, 0.16812245759176614, 0.3094267575275129, -0.161066384122716, -0.19259033365097367, 0.09702173972227623, 0.40347677830032525, -0.32283850675180803, 0.39704822342120594, -0.23247237408272126, -0.012127936392579919, -0.263158233960876, -0.15407912003372692, -0.26319277448735867, -0.08593330929185039, 0.49968124900515454, -0.19108081490680917, 0.15562717145778404, 0.40044128291722014, 0.47737042228022053, -0.34670487314930076]),
            (9, [-0.019665067985712104, 0.4704554802454227, -0.19330457348056163, 0.47894580280874655, -0.3874234086801922, 0.21019670364263066, 0.29944513375946136, 0.3515484367155064, -0.23370800362423683, -0.3318519520315283, -0.3436420796726509, 0.08702706150558148, -0.4751074948657763, 0.21571253045600447, 0.03172671254925574, -0.1639025576156724, -0.4332899451677905, -0.07724834346477782, 0.48971844964852373, -0.3153667152966517, -0.1384204379301247, -0.13931805743930414, 0.2776594916862897, -0.3190109296217519, 0.2356992935258052, 0.4603588904792174, 0.4997531522025901, 0.46835946553014884, 0.4892800923669507, -0.2945669531933255, -0.0035179007426472397, 0.19265599773080244, 0.11125775378152847, 0.010160000598253838, 0.1993164761246945, 0.29490563318379415, 0.2582271457542842, -0.18800402487741874, -0.41880712834905864, 0.428943268474801, -0.06671404375997636, -0.2632640588560813, -0.23003512708430762, -0.015342006226907845, 0.43334187722713124, -0.05119577745135251, 0.332501897579358, -0.43362406602056625, -0.3387740730004658, -0.49214407904192703, 0.35299875910450673, -0.3466797572657043, -0.3832578063074483, -0.13621979854880129, -0.0929762532938706, 0.49479416951285604, 0.2512309431536782, 0.12852733490743373, -0.48203323022937505, -0.22714053950061452, 0.42892636313364607, 0.3476506578419103, -0.22641291179240264, -0.44640492708406543]),
            (10, [-0.11861633184841369, 0.043155919331957504, 0.32941719690674287, -0.3225183127173401, -0.3473592323531598, 0.14383434715263332, 0.20840644711328749, -0.48478590080141104, 0.23867687882190314, 0.1336863154107445, 0.38069881967798846, -0.02835177852328774, 0.037710665663511445, -0.05749097938147407, 0.4855779878149591, -0.21459556243722777, -0.12562608848730095, -0.3840686107252338, -0.238243371912219, -0.028767224815131387, -0.4380951141761831, -0.2701163178625242, 0.037405068966888, 0.13213098641714183, -0.2291183533242508, -0.2572818594770997, 0.003728158774008228, -0.205886992908919, -0.18143436947808278, -0.05969387710856422, -0.438086097372252, 0.061464100229457364, -0.39778616231377006, -0.24930864405938036, -0.43261934973434024, -0.2959129243432944, -0.007918497466782637, -0.4790746578256033, -0.38280260032474756, -0.213485076334741, -0.26865144469202973, -0.45108211165672163, 0.23188673991214215, -0.05308056573691633, -0.4892683789389237, -0.17460143593867272, -0.42620747373369827, -0.3975973712630114, 0.4303023048102895, 0.490326148482333, -0.33871787301196454, 0.3387011253659684, 0.47212005794796796, -0.05370236168838782, -0.10460152832443137, 0.2567387462379891, 0.00885197538546445, -0.20716929097290426, 0.09678908355784677, 0.24857260521914848, 0.3023392508796514, -0.23471132098165137, 0.12462878173206171, 0.20408533141230778]),
            (11, [-0.33275864547368295, 0.055521483180792974, 0.11819788019118138, -0.29029579226331803, -0.4088923553841991, -0.15053961396959237, 0.19853839604403556, 0.20052300471550122, -0.00784620702840133, -0.19958656282812426, -0.030461512568492943, -0.4401234196774706, -0.0035226636978927806, -0.06561631662352851, 0.29050819926549376, 0.3010088220052616, 0.09061920453309402, 0.21553593759373857, 0.1480281021741322, 0.2784049219796314, -0.18241862429762778, -0.16235930165159873, 0.15371612107025656, 0.1523200961652107, -0.06996044834701654, -0.35049763548766577, 0.4703683231839815, -0.1307759680558349, 0.3319146709299131, 0.3793518283443146, 0.16388976676995748, 0.017952136862207202, -0.3412399197767033, 0.011009313835671386, 0.08457776051402888, -0.0015982760485871994, 0.40891690640097134, -0.43638763493125443, -0.03053529260179222, 0.41404960096854393, -0.15878323939841732, -0.09457862669408001, -0.2124384855463296, 0.4644950467539315, 0.2808478799740989, -0.3464239364727404, -0.33993751240767267, 0.3494127384970396, 0.23944675669851678, 0.2033599225478846, 0.11173471197567308, -0.4824357733428992, -0.04746474547600932, -0.18243711602502088, -0.32287038900569043, -0.30300795569918404, 0.4357365285643813, 0.1695225470510059, -0.09112904015653045, 0.46273384483820257, -0.09020040427875409, 0.17153715737170605, 0.49792363167186904, -0.20409576786794292]),
            (12, [-0.4331102206174924, 0.4637603681898672, 0.11714238722025383, -0.19715170545048766, 0.2854620889963998, -0.02911458100024311, 0.22970431798633184, -0.13299363596316482, -0.42495155524084716, 0.2497628070644965, -0.13704846332957954, 0.44903112570002335, 0.43015450725257187, -0.40770055799667637, 0.03164987041458067, 0.24551650483772758, 0.09587800650124023, -0.37672101901939437, 0.32433875699516157, 0.09658585274094755, 0.4342395058015468, 0.24543843524920617, 0.14021248132507091, 0.3546823202239878, -0.020297533233796017, 0.2557100709553798, 0.3591353967803266, 0.48779283347359115, 0.4599204774283473, 0.05024833187718347, -0.40909985687909034, -0.2411367294179495, 0.285223369872183, 0.05016262114056991, -0.3366571575112428, -0.21312514016883244, 0.3814549898846915, 0.4969685012431643, 0.3194974682539321, 0.3571979252586981, 0.02019549274229726, 0.10726589216551996, 0.15436154428405324, 0.20344835658513138, 0.34626288816746054, 0.22646451394865796, 0.3874462133904598, 0.3362916688068577, 0.43943358174404645, 0.16604117703243715, -0.3500997123390811, -0.3088889387317282, 0.4763407685997463, -0.2843832451649234, -0.3531960602702382, -0.4798512914787002, 0.3256492906442823, 0.092513518508751, 0.019333166761686393, -0.1257324593823551, -0.262692328805478, -0.3887597790100016, 0.06869843764800587, -0.14137138091996682]),
            (13, [-0.1038650751479363, 0.0256796903708707, 0.3081754696121406, -0.19882405100298373, -0.2568659025102149, 0.27535180100384526, 0.27893674822147263, -0.013924745531507021, 0.44502553063629513, 0.48107580202409683, 0.2751468762951744, 0.43294139728739367, -0.4802328943055165, 0.36287327921851564, -0.1533947152191626, 0.3374140799292723, 0.3952482504027013, -0.4695843311310597, -0.15627571556909037, 0.11194980261201559, -0.21969981747804368, 0.1234163470634353, 0.478185058721208, 0.17246296905170577, -0.2754421815342887, 0.060821402468712926, 0.47984190462953435, -0.1884389627846168, -0.16576258329268034, 0.43563966656830144, 0.006980615848154459, -0.47185280385535655, 0.23241987437553024, -0.01077821048896832, -0.19377588953895475, 0.1422797773211525, -0.03557056564748784, -0.3939333161854397, -0.481270830664002, 0.036248435823816094, -0.2488651426706313, 0.08331525241090254, -0.08532061217284703, 0.09722813957749032, 0.22067348861290093, -0.3536298712715519, -0.28742234408105705, -0.008827454356146291, -0.3881497936711916, 0.14905285408936186, -0.17219948144236819, -0.45007426526258154, -0.14724543022225134, 0.49364818976628677, -0.28097096751394113, -0.4650349797841683, -0.017371826387098332, -0.25730470685666407, 0.0056071699691703225, 0.36837319774227617, 0.11068861669876451, -0.4100340235132648, -0.44369203368454, -0.029914685574237043]),
            (14, [-0.1994283331808433, 0.2533955327134817, 0.1359990696521335, 0.2299558838552902, -0.4040842767682745, 0.012011369783910486, -0.4531480444809062, 0.14722156820926813, 0.3707472278723598, 0.23929704752135694, -0.33058094722761744, -0.24843015334408658, -0.05091884342893316, 0.3151085299587717, -0.4979774451148383, 0.13756123619432925, -0.4244712504054594, -0.07963487930058866, 0.37363001382423067, -0.13980468846935268, 0.40595820702171403, 0.3240565393729735, -0.24274260954184612, 0.30785712399910214, -0.291950803461392, -0.04103433165896564, -0.25029588157044236, 0.06483978500904863, 0.27248019606158147, -0.05202921705140573, -0.12764445560538995, 0.4739445319168101, 0.3746319628935939, 0.42491023956732143, 0.26398888207987203, 0.40826813437111686, 0.2517028629474011, -0.049573868712191715, 0.355144106633823, 0.08647656023632155, -0.07364474793866249, -0.4027833109936224, 0.1579266565455072, 0.28676815312081116, 0.17635396730118147, -0.4804462660222589, 0.10940355473459928, 0.435379873886685, -0.1585811595168478, 0.08931913382393819, -0.20754815783801128, 0.033143297156631446, -0.44729191997004747, 0.08766673225650823, -0.4739956228903073, 0.032771874058231676, 0.4671547895708419, 0.4398568069949014, 0.013005332730714358, -0.09818128399942949, -0.1590373622271738, -0.37303153056416716, 0.34760114334644265, 0.2763775787934054]),
            (15, [0.4181842474896894, -0.3021050482218839, 0.28728627297226983, 0.49051997674786785, 0.2921705132821194, -0.3088166456572585, 0.2544461000932946, 0.4686966523588191, -0.03626125337795738, -0.2560203499845073, -0.06830345377123292, -0.18832316980156594, 0.24028636842465, -0.24380651115328855, -0.3978207098749331, 0.05707980485771702, -0.37743618137081847, -0.07899284916471294, -0.4731707014406479, -0.02350387509686591, 0.2464133267806482, -0.4453688921816602, -0.1470379800671341, 0.2668118506206141, -0.35208206080342497, -0.48896639023770483, -0.3849435631066971, -0.13911905716913164, -0.09635489568367495, -0.3708200675897988, -0.2058149919747373, -0.371225510727057, -0.0343064428862524, 0.4263569355387604, 0.23009501213073014, -0.29162210148784695, -0.48778859924266604, 0.4526593703991105, -0.2435295911664801, -0.043415438876364565, -0.050622808124924146, 0.1725444788030951, -0.04361628210537871, -0.0069447184317821264, -0.28422653121054464, 0.3272803067705705, 0.10732070869314325, -0.10699188600074572, 0.464350391312247, 0.436841420073116, 0.456499813172646, -0.16416641853190805, -0.21877261299486683, -0.2642342587001666, 0.4044487200846022, 0.48672286846613844, -0.4788840270468613, 0.08468979240045615, 0.016456429725574595, -0.4776475546037141, 0.3056473657953305, -0.2985359936212064, -0.49404304633443485, 0.010603130389596593]),
            (16, [-0.3069721668341603, -0.26951099398280587, 0.0008696765141698037, -0.10950190126293302, 0.44140576960083244, -0.4099434722070773, -0.46484417362678576, -0.2176057969239683, 0.22815625626073555, -0.48411054105138196, 0.32569483339080274, -0.13612020238546885, -0.3344965432190511, 0.2232803948567209, -0.15929332397402818, 0.13761600618258185, -0.35715719259165424, 0.23419228083145593, 0.27533827104863773, 0.3082183601472537, 0.15641918877584648, -0.483427763191252, 0.45861451266708764, 0.012026806760965125, 0.3068834205562263, 0.2775234602189369, 0.03323498610282494, 0.20754289480882748, 0.3373735684267999, 0.4746624434372866, 0.031047864875818787, -0.17359761792070627, -0.36937077618493364, 0.2050095728867508, -0.12671435217243532, -0.013979550992386458, -0.3356927852782041, 0.4601455345941232, -0.44017109781680097, -0.14004098166076495, -0.23284883539758872, -0.44256288425858525, 0.38290807137296334, -0.06748234156287858, -0.11680169445253263, 0.43505592184589603, -0.4532299344235535, -0.40788826057240224, 0.46167594600255857, 0.2862671447887939, 0.4652287223691036, -0.24379791112085125, -0.276582484802404, 0.44214039354899115, 0.11426645611671471, -0.2708959279872084, -0.003248338606595347, 0.1346726344096263, -0.1910857129254836, -0.0649143908082852, 0.494312689608702, 0.1166359009041511, 0.014622862436968198, 0.4487402854691869]),
            (17, [0.3214364697256825, 0.2361958683249219, 0.33568198427507634, 0.46333288065947675, -0.004222053990136088, -0.4595003329101567, 0.17706610308806103, 0.3126639763877741, 0.2661524984874397, 0.24749742078112213, -0.43731797012993656, 0.3714582384522901, -0.42506348241781877, 0.4381588556780883, 0.45658677736944353, -0.39504754183876745, -0.21670013883293038, -0.3799958984430378, 0.18658477862755363, 0.40700550160441784, -0.2267794932314715, -0.3700708792580678, -0.4611320773258839, 0.016379807917140998, 0.24865735301204084, 0.22090986355514852, 0.16013825233422463, 0.4901024859191867, 0.030378338251758508, 0.03091995315911822, -0.37520626199668916, 0.1188635387661553, 0.19929232138798747, -0.002252618593685307, 0.2600651181379152, -0.3454516020018312, 0.39806934577461084, 0.46039400064084923, 0.22772062892272482, -0.07652759096589745, -0.40451717035567125, -0.19998289065570884, 0.02850921016766339, 0.13558432791682629, -0.11790052639741933, 0.45196616925687283, 0.3384204418467571, 0.2834833372096651, -0.08349886309159504, -0.10426954647538789, -0.1757956973517264, -0.4757905161034639, -0.41387993252278676, 0.4290245392275559, 0.48133587440794, 0.01393202836420282, -0.1352155522694496, 0.24762161611641909, 0.48694736108756387, 0.03869665688257651, -0.20329162843297321, -0.44421829370081944, -0.14701143069659628, -0.00882121736113295]),
            (18, [-0.43779725169211037, -0.11590691468441117, 0.07320664333709925, -0.21882402029441417, 0.20310149364183994, -0.19535561785052846, 0.22014812316659538, -0.1812171218519596, -0.4734646003047436, -0.08635091243193693, -0.43113507570572707, 0.0562559492067336, 0.23249076316900674, 0.06173777427540672, 0.3055558776983921, 0.4469465096688644, 0.39325921878779857, 0.16331304767105692, -0.028910687142162383, 0.16683278632096044, -0.045051244797752465, 0.2110757702337379, -0.47766947823497685, 0.2490039123757577, 0.17948741700187343, 0.436324712200138, 0.13897255985324952, -0.020935324135305744, 0.25335261200072945, 0.16630915672541036, 0.38339674093865683, -0.49287982051206636, -0.2615524871909505, -0.0467673936938503, -0.03118623035873913, 0.18650569314100496, -0.49484685427689945, -0.11923757412270453, 0.14023583177792542, -0.3714446518714343, 0.3503488721627507, 0.2558824690016752, 0.22779778089591463, 0.2787680081827776, -0.28581431301636817, -0.09796989453261395, -0.23792531497212754, -0.24700368570201126, 0.20412870121858995, 0.4455038345262621, 0.30180733471925025, 0.0032112614797321637, 0.3073145494807885, -0.43028952569807855, 0.4068020741196181, -0.37793343775828125, 0.12692611565808454, -0.023301384592997132, 0.4540170682324518, 0.10430910960454898, -0.4382152394922615, 0.3550169972738749, -0.24557209162272942, 0.3083718534986869]),
            (19, [-0.10782550629849164, -0.11032195416961887, 0.1811963326796614, 0.21526740874355055, -0.4840685326251637, 0.09390437685089614, -0.33658992404893406, 0.4208099956474868, 0.2344149951094563, -0.43129965742342413, -0.21659678321594233, -0.14296781652511126, 0.49967593331129745, 0.33524984014624115, 0.2080466676992203, -0.48322853941982524, -0.2775286380554397, 0.3001606469527657, 0.08091574473887164, -0.3753674568014338, 0.29154670221241885, 0.2218337658574796, 0.30062960429432994, -0.1237574113741815, -0.17457446933495668, -0.2806610319385793, -0.36430979381840156, -0.3391785333655615, 0.3116824148551183, 0.16430413700393232, 0.18844375524117152, 0.04882782087111148, 0.38874295757070965, 0.06153972976719979, -0.05270043857943196, 0.2211615642431637, 0.2257486313635697, 0.1531932485938965, 0.34336721701925443, -0.11073394831547234, 0.04779882528989521, 0.09895893654593002, 0.4503168539420783, -0.10937748098255118, -0.19411775653638508, 0.4194838003958513, -0.4085689087867367, -0.046511227904754815, -0.16600545229688513, 0.13899975392531094, -0.029084035043715706, -0.09378085118654189, 0.055333689364750915, 0.04581569141304098, -0.06474263847457973, -0.08393505109002553, 0.20795647151599117, 0.1506643156235029, 0.211952678823782, -0.48010553952855817, -0.2940730858528652, 0.26694976325718633, -0.25565829351639646, -0.26091389787853747]),
            (20, [-0.2612862120591829, 0.43427572117270974, 0.015417117275148495, 0.3478994908871048, -0.10870979424647165, 0.03709520442363212, -0.21315639577440204, -0.4214478666266436, -0.11046602280687357, -0.47359159455570266, 0.07005977427540322, 0.2856132476674951, -0.0413843062122653, -0.0549073522239385, 0.48480209496092475, -0.08756276865113066, -0.30081467242278515, -0.1684866930160298, 0.34814967832725685, 0.19009204801384016, 0.43529209424717763, -0.04182597810693711, 0.3513041798451335, -0.29029047245313666, -0.454483928106999, -0.2703654714158782, 0.016628067333928187, 0.43901166624534127, -0.07671745673686214, -0.4613136628996163, 0.3508900725550319, -0.343312229149899, -0.13698250493376118, 0.4171014954797416, 0.41534423148704236, 0.01942987638902105, -0.32778193166687886, 0.47463271405070306, -0.11668969141509322, 0.36208358567808874, -0.3148618271447876, 0.15700202961826348, -0.43423688310950825, 0.04192643623787029, -0.16192396589880775, -0.0700924570937197, -0.4191671097988465, -0.3678348882972945, 0.11236264303996846, -0.0013386404634575522, -0.4960054520900401, 0.4183858041993178, -0.11003693458082464, -0.278039327932068, 0.3241919413537022, 0.002004009690236619, -0.3474302152748141, -0.17683400735618815, 0.46113058693288145, 0.2730516923450099, -0.10127755660027948, 0.23973947576553412, -0.19296558784498574, 0.3797257558700762]),
            (21, [-0.22953635839473985, 0.15653273957205516, -0.313823920032238, 0.49006700180760954, 0.16560839689666895, -0.34668142028030724, -0.15695124144096428, -0.05663358458020307, -0.0290228191796037, -0.13113282062119402, -0.4245052848121862, -0.08380389522264664, 0.3149833350142345, -0.30177949520955805, -0.1587063123888489, -0.36643295544994203, -0.417797503804216, 0.40192470168600714, -0.09733776473540712, -0.17877454319298236, 0.24799080479956404, 0.29666162258587303, -0.4480906336463125, -0.31632033812749294, 0.13109936527257315, -0.24064479952370432, 0.31385448552556394, 0.004433051165291468, -0.09312361259143487, 0.22007623820053424, -0.01128478633230412, 0.1508622760909889, -0.2876118680703047, 0.3550107986589871, -0.13559815276191733, 0.3452754520619079, -0.36101690280220267, -0.056203511370662484, 0.10663370576838771, -0.16784853732744243, 0.3660880451298991, 0.14303795832617594, -0.058894196446020786, 0.38044453542979806, 0.24494700908103473, -0.470889232753387, 0.1001386107565504, -0.42050806761842197, 0.04472403022199478, -0.04071868424118774, 0.085846825976575, 0.3673143755665782, 0.2074953540431329, -0.018978217409051812, 0.30709771481931136, 0.4054966959991386, 0.20218414936454976, -0.07515105912258313, 0.27986576901836435, -0.4049850244635925, 0.10458339112137893, -0.014045107656422529, 0.2800573078785865, -0.44679214994733507]),
            (22, [0.47786762532446014, 0.3810368573763271, 0.26639024363557506, -0.49109493770975676, 0.43945084289089575, -0.36472468912957334, 0.12342026146223806, 0.05252651704856659, 0.23595531771724054, 0.4807760028980774, 0.117211135938175, -0.006844451295685117, 0.17168408322120188, -0.15499900769547503, 0.012077164329202583, -0.23359331911445735, -0.4691428314851418, 0.1706458202097817, -0.14158291728654082, -0.0876786198601851, 0.011909759751036364, 0.36680779341542835, -0.4972847038265641, -0.10596204457062997, 0.4914257464217857, 0.36492584360026037, 0.37373225185091263, -0.0786415100820802, -0.4159600556466724, 0.013220805234629651, -0.3498882629297271, 0.3789288845031704, -0.28343685416902376, 0.25071750403920046, 0.4558075524484386, 0.1027089247598707, 0.3582317142770517, 0.00494592461971366, -0.44379794302946607, -0.22930185110814572, -0.31738317991100895, -0.39596752230807597, -0.42238882890193363, -0.3793814125114764, 0.09770641235298938, 0.021688762934314543, -0.046153861499769744, -0.12443521427276005, 0.1468452915438394, 0.11128783207942006, 0.05829125872572416, -0.1672055188979098, -0.15819048941863256, 0.01312333633481555, -0.00739200315515276, 0.41912972441280494, -0.42309092060945874, 0.002080600677241806, 0.403523243777397, 0.4387411079392829, -0.4914575422236275, 0.3656446595772538, -0.17534888190527553, -0.4041350910842988]),
            (23, [0.02488777398830866, -0.0008991105272595501, -0.23204540386420858, 0.41901634353433315, -0.3434027648291351, 0.4986709128281215, -0.346222106140174, 0.08587908790013243, 0.2503582726698611, 0.05533086861195624, -0.06583970819968099, 0.3927065116369114, -0.4858956633203879, 0.13645033996975153, -0.17378185676399938, -0.30195712784800555, 0.38686924291808167, -0.3472782593206025, -0.49242148279840003, -0.08913233927757958, 0.20151995182631344, -0.2325069301261996, 0.42538334757849927, -0.018987475348602345, 0.17577551621826493, 0.3711287475299476, -0.16579450356742054, -0.27189240963098626, -0.451669665646083, 0.47445076286406285, -0.34416015048015103, 0.4668505853388756, 0.004826118225947251, 0.023159254346332037, 0.3694543232945714, 0.3074716866055729, 0.011015419704546892, 0.37933903814152237, 0.34273456201598884, 0.40836104419430264, -0.38386105730896625, 0.1580767383919991, -0.254219662239103, -0.1514609315336759, 0.3390620975700749, 0.33116523058923786, -0.3293967210753239, -0.24007765194363873, 0.08341176866897348, 0.1965369476819967, -0.33898368561391434, 0.33756617449935034, -0.056454804477697906, -0.19846711534856543, 0.09205596497137392, 0.028548825256367594, -0.46213335000061295, -0.3239235503324944, -0.12614265428233395, -0.28607173990548584, 0.10454388652816993, -0.14196522232091646, 0.07092082544795308, 0.15085168547496386]),
            (24, [-0.396633923837865, 0.1667501614372059, 0.06316703053320805, 0.44178914769782696, -0.1879517466142856, -0.09662203470762776, 0.024323816376385032, 0.15451692935515893, 0.038773274000646896, -0.23197282845535794, -0.1169859553897058, 0.42377306699062567, 0.4977481394759211, -0.0472383217821436, -0.39507923783900056, 0.11080739367202286, 0.21201430625271578, -0.04238580871069908, 0.011678416874312258, -0.06994508309037317, -0.43688014334045655, -0.3043742737462013, -0.04499748579338547, -0.11208134513042778, -0.06771990257978289, 0.006226303274269096, -0.17368170145881234, 0.09972543319457328, -0.29518086714836933, -0.39127823570968845, -0.11561936889623559, -0.48556171061941555, -0.23586379143834935, -0.3686346682508329, -0.09534445408778258, 0.222512492450337, 0.053306845225281285, -0.08497973729951624, 0.12188181553413091, -0.08085950255318541, 0.47077627467533145, -0.1586208017123777, -0.1737917063311457, 0.25254934622655323, -0.4157687621746936, 0.2436347462137527, -0.200762361963032, 0.0007845735069178517, 0.30321085227679656, -0.290849865342093, 0.48287353598941063, 0.010713457326702924, 0.009442758557372755, 0.29862379912244874, 0.4178346524585872, -0.4255818327811284, 0.05506149763184964, -0.2937832795124049, -0.42091337504995086, 0.45181758768658487, 0.4745493202541028, -0.35373301085426023, 0.2863755077896727, 0.40653252268439877]),
            (25, [-0.22852513879304692, 0.23495254591223702, 0.17796801311188015, 0.4868079261859052, 0.47352730025185485, -0.29798072247878415, 0.10880963793711906, -0.15880451145361385, -0.008336749188288306, -0.43533695050180743, 0.41311238981733667, 0.20341569040280272, 0.3790812053358036, 0.09004023020213003, 0.052492022786053916, -0.24215658131186613, 0.37555645045428043, -0.09711103874505755, -0.1709001253449629, -0.12653958543389665, 0.4994095629718026, -0.39480047305307875, 0.39286872494152836, 0.2781402738770138, -0.24636029382001456, 0.1769190326664971, -0.4545271708140992, 0.3706199540305073, -0.26664916936335714, 0.0356535153861407, -0.026479312694155932, 0.2987822117163347, -0.3592100175634092, 0.10457263478899081, 0.3849512279871554, -0.2636427170276727, -0.3334118257709554, 0.0356130408793639, 0.056703803904454175, -0.4402895802005363, -0.398622712623226, -0.3636473427537451, 0.3143718972478836, 0.13983390640437277, -0.04567925831265318, 0.19681919642013934, -0.002561366871372317, -0.11030860964890399, 0.08980065378981639, 0.20393628232116867, 0.48786619467271586, 0.3652889010146829, -0.3160809069983104, -0.46493079245042235, -0.1550587019255667, -0.4425194795064271, -0.34400500887942564, -0.20865699254804504, 0.45521218570199007, 0.3226292739716009, -0.46322105701615035, 0.08959215398788378, -0.33353399156713337, -0.03167410155712824]),
            (26, [-0.4922986033952136, -0.42286985428662727, -0.36624720833001023, 0.25945779818373416, -0.44895181510791216, -0.4783640774729694, -0.32220395581704164, -0.037780768479099724, 0.41740068949601017, 0.2598323779570415, -0.09690612461945458, -0.4078316587157984, -0.3195971960032814, 0.042159505935945196, 0.05177467116623957, 0.2708106972195806, 0.2353891275012736, -0.2694927758830473, 0.36813532481415334, -0.16148617019919098, 0.006085929359920805, 0.26491486275107146, 0.2373899267348425, 0.14257544526947274, 0.1099328509501859, 0.14192803791966213, 0.08793483867564933, -0.0349904631960295, 0.3788467346859018, -0.4760190833509296, 0.16200104057458198, -0.20087128039708202, 0.19209010621609857, -0.10410716671223208, 0.168615656879176, 0.31347378926887304, -0.10745933347979997, -0.28122068333624217, 0.39543186826640286, -0.14118794163954917, -0.05101058994175811, -0.49791452224587607, 0.19735466973051963, 0.34934218017412466, -0.3421043119650121, 0.07645224710524856, -0.05077555382758425, 0.2375185030210879, -0.303390628319092, -0.33506287487311415, -0.2699086573613204, -0.41822905903750063, 0.20494967307602807, -0.34456865379528356, 0.17808886507418176, 0.24394472094362474, 0.2802188864800138, 0.49282382462599217, 0.36908727605157565, 0.17848456463694773, 0.2914082182617479, -0.39256732596773414, 0.09575325215876096, 0.30248271693881035]),
            (27, [-0.038187992010928706, 0.22899168616411514, -0.23548604340208268, 0.44882463193335964, 0.4991190671610539, -0.06589579684279745, 0.16088779820012078, -0.2294755419472071, 0.37685230201603204, -0.1078035179664677, 0.19221672501126064, -0.07536307257281216, -0.07043417737069513, -0.13534743887145084, 0.02518142712762661, -0.49929387811789727, -0.29317064480003097, 0.4032598358988343, -0.39512302455402426, -0.18465353492945358, -0.34247091980336464, 0.33252733468803974, 0.06049974286731319, 0.379772444061213, 0.31871297128242093, 0.0929909338479652, 0.19809430165105923, -0.4669676192536589, 0.22197462217485697, 0.04383128547711068, 0.24486307389327766, -0.39332079208303106, -0.005533779397226546, -0.40043023626516105, 0.3166243167792555, 0.09573248144293256, 0.26140560032379623, 0.18500999090263748, -0.45560255390634086, 0.20145749277145897, -0.35352015373941037, 0.4784860538197644, 0.1605162002586159, 0.4213995363233438, 0.2865560921904582, 0.2319059080724265, 0.3973267323460815, -0.002153137652223691, 0.4854106648606502, 0.03663517669319927, 0.12189307827424045, 0.4389554052636595, -0.3836729134498541, 0.12331039083980011, -0.38323245813104856, -0.021573002206842884, 0.21502377783893067, -0.08682182218200352, -0.0462540586176835, -0.4553346424074117, -0.157959463067065, 0.24972802879609268, 0.4783400194754389, -0.0597250911672621]),
            (28, [0.134241034380138, -0.4942753208406163, 0.18607216723951647, -0.30000774874525893, 0.3861529754570069, -0.4790343874404438, 0.0628269260641251, 0.06968512060621279, -0.31179018154992566, 0.032823627954467915, 0.389378478261145, 0.02071071517056655, -0.4346346851923977, -0.04244761678187747, -0.22753662495799287, 0.14277624317055815, 0.26301058629929197, -0.29111632938182996, -0.34480264064604504, -0.0523745188473439, 0.3886505531420741, -0.1859121521692486, 0.04696251914960381, 0.3809829770762848, 0.2525875290185712, 0.40206032525420665, -0.17801096791291582, -0.15963079641216116, -0.16649553983698673, -0.26375827873323965, 0.3661243388521266, -0.46721243530605727, 0.2644933056620039, 0.32186612765213163, -0.28016212260006823, -0.01593457631630235, -0.026413055971993837, -0.2725895975963336, -0.233989596167117, 0.4026694171834001, 0.20700017067020693, -0.31461040933142437, 0.332113974081778, 0.13435700013341145, 0.04034231585155945, 0.17297325610070635, -0.1733741038169333, 0.3936623665123118, 0.23712034564474072, 0.2703632324267514, -0.13051516407260033, 0.28388284055073343, 0.11836637524743043, -0.4107831710435653, -0.23936096311631128, 0.36167272734374445, -0.06254234298452144, 0.014046212987076978, -0.08350144594136932, 0.2320629101940015, 0.22127608685331623, 0.47797748543365937, -0.013801008371593149, -0.11892909722230338]),
            (29, [-0.034650068874229834, 0.011586421457483786, -0.15584714396340849, 0.3248383298109264, -0.4843447894800821, 0.3883338515325512, -0.21167310030174158, -0.04143179005119357, 0.23976221630609185, -0.007114643411324839, 0.2928419599559684, 0.2127382476210561, -0.15058415047189655, 0.3540954671021026, -0.053654671521425557, -0.3535017032955562, 0.16081955343577303, -0.35060094434865474, -0.4599221841559187, -0.12802529251314843, 0.06997341076656471, 0.026238277640279306, -0.23604742943751045, -0.09764088938481041, -0.16552513562533455, -0.4565061080167706, -0.38740091923365916, -0.2907691565662158, 0.4656705034533133, 0.4493306758332727, -0.3775829592777362, -0.02096721074501484, 0.09925284980256577, 0.2456185554378879, -0.2628389333011163, -0.22057540165866119, -0.05593392983710577, 0.363144897163279, -0.1183302268930938, 0.11548377013255129, 0.05799001900415823, 0.2879162577283947, -0.4761145636485009, 0.26863126156684913, 0.3487894333226319, -0.3402786210387355, -0.41523025214983766, -0.32663764478942137, 0.05385970480148883, 0.48845450325166806, 0.44029851284222576, -0.3175968025407405, 0.17912749591087263, 0.16433143583529286, 0.34764648010459975, -0.299714824783734, -0.062130105765139, -0.2927039964328869, -0.40969796817796944, 0.4936672263967615, -0.20130274297663786, -0.06860595474475284, -0.1759701211368856, -0.11722546922243704]),
            (30, [-0.4339981669531574, -0.2930671102994078, 0.318066722956579, -0.04456946438263232, -0.4662420522840933, -0.062457034739754724, -0.11946937045350325, 0.17636526991555102, -0.0016953008968744188, 0.12699872151558578, 0.00367539147509488, 0.37401933343140237, -0.1246620272223683, 0.352202643064773, -0.42283901876744345, -0.3383936950636913, -0.06367759759141933, -0.1567926305482128, -0.3664572840735084, -0.09741640661380502, 0.1230146287847742, -0.0702732286873764, -0.021709559163483716, -0.24347953210306605, 0.020734129417328773, -0.04997485585862116, -0.21758027227685262, -0.44143767817750257, -0.31613991687465115, -0.2594622083468143, -0.2987779869682404, -0.11735667457830823, -0.30751786478770116, 0.1785000981889071, -0.3535657598642862, -0.2878587385041089, 0.26919882411551255, 0.2372045482315257, -0.3905102970176205, 0.1679417748170824, 0.4334151834129002, -0.25063022259391543, 0.17559810401099973, -0.2915134647387466, -0.3965491334556538, 0.1473286028811429, 0.47610835205211777, -0.12795454046944676, -0.4787692188206133, 0.11867244294205415, 0.17631824575206356, -0.3580205617892098, 0.27822521393036925, 0.09331691682527543, 0.16722274381603586, 0.385687789618155, -0.14982404751043144, 0.10305553920672239, -0.2510874425919871, 0.3979486863427575, 0.2995908886457326, 0.20258368931828774, 0.3592784444394278, -0.4218960701167481]),
            (31, [-0.42910310971196364, -0.05227540533624264, 0.3067518327034314, -0.405875511704623, 0.20767235030800058, -0.052799338067977875, -0.07202492043912234, 0.2677266038229763, 0.35087973672030937, -0.32149650586516754, -0.43408554362332574, 0.18396466863513383, 0.016074094150048013, -0.4243487805978817, 0.3076206572308027, -0.47886118417694434, 0.46362542628463066, -0.08251213587828077, -0.4675427565747211, 0.07760586261721336, -0.326959926598825, -0.04769325336474428, -0.4112810125288875, 0.10571825877647589, 0.22236361143280858, 0.311303909981978, -0.051179117841735455, 0.3413149304648392, -0.408050601757601, 0.49434607042911916, 0.02733099414356943, 0.3007496723187586, 0.13295695224886162, 0.12502921000130363, 0.459815458961934, -0.06121210747971961, -0.07453473991867632, -0.04083791128831582, 0.41672344080187174, 0.17379795227397443, -0.11306457409942217, -0.05703448784486176, 0.4615755382807698, 0.24190983482987105, -0.03228839857767485, -0.2021799340457633, 0.1150778820632038, 0.20406137004255132, 0.04974888841475855, 0.10145933155800657, -0.08234335036905482, -0.4516683711849212, 0.4052967424313544, 0.0693452783924392, -0.15902000497316893, 0.10954660813604022, 0.4640381480421941, -0.4515410215747566, -0.04367138811634863, 0.34198348087805386, -0.2872723143932696, -0.10283601440920798, -0.28404976310194474, -0.39481299727318653]),
            (32, [-0.15388631062636704, -0.33745154276758405, 0.4739351272117045, -0.23553490843027658, 0.30962850621322324, 0.2723108757470851, -0.35505468299667287, 0.03772473503377882, -0.33245451998654496, -0.1370366016831388, -0.28354586713146457, 0.115274654037957, 0.40015411101178655, -0.19814749775605478, 0.248844471814322, -0.4875151590398641, 0.12111571283377487, 0.11843277533743135, 0.33744654449650535, 0.33394943384915554, -0.013737619733160567, -0.33081634914657176, -0.009397895306846538, 0.38882270423755994, 0.364462758688579, 0.07379561895681808, -0.13229929767565907, -0.07336209583460951, -0.4453933767677021, -0.44509956552316343, 0.14117001833543696, -0.05305816473547642, -0.35844694471443594, 0.17236428324978137, -0.09458910995584624, -0.1643556998625093, -0.24025764324804677, 0.3035781203946357, 0.016768154080423425, 0.011670669956327484, -0.061302677737102296, -0.05632288766570126, 0.267206990239814, -0.33106877603118523, 0.47971129795459233, -0.47938430000045185, -0.42483370861427106, -0.03720291439763246, -0.435622288780512, -0.47745732251485806, 0.2506313311032047, 0.2075230783914066, -0.3148025607752427, -0.3154950095713105, 0.4132632920860938, 0.07287934055377665, 0.4441577695708262, 0.3408962276847345, -0.028967865794106373, -0.12282558649760844, -0.38448090311841787, -0.4982638798129547, 0.18085184307892654, 0.1909499993934185]),
            (33, [0.03230207196838608, 0.08219476860842412, 0.07917116592384754, -0.2830071964896298, 0.2908735007460095, -0.28387036319628367, -0.11989919043806052, 0.016373684171824943, 0.2228668621992147, 0.13618043709455807, 0.0776781056247835, -0.12151102933420732, 0.2577310827162169, 0.14314875507326874, -0.3812062831022235, -0.06259544432136788, -0.14097298220593246, -0.38314021787193475, -0.4158059419455812, 0.32705916947238967, 0.18855204754756338, -0.04082645795374873, 0.4404288968549793, 0.1643604181609446, 0.03415322108752328, 0.15082844243366544, 0.20094124788206036, 0.22484124242527492, -0.43011735655787087, 0.022936743434572304, 0.282616733881749, 0.24360817924939748, 0.3534316725122786, 0.22992279934542315, -0.37308866027952703, 0.1678694474718716, 0.08067002523926936, -0.04527733947199253, -0.10936659403344695, 0.017361788211060825, -0.3815525509574197, -0.42850921264280617, -0.006551467997399696, 0.0787406068709201, -0.085802393342151, -0.24619531663329453, 0.11959361553550785, 0.053676205367304, -0.038887716251176485, 0.27343850057763996, 0.2445994890112958, -0.36490991189094935, -0.24800512588170986, -0.24124799767976102, -0.05604896201154841, -0.40392230980413246, -0.16812613154297962, 0.24955490937798763, -0.024464380499439997, 0.2704186322503296, -0.30512801663645306, -0.16537558482443282, 0.02089247439152564, -0.12422421686876373]),
            (34, [-0.34502733615652836, -0.31317170275539474, 0.07151590635069693, -0.10594359298164713, -0.31970206215205, -0.1195816896266979, -0.4417432177182906, -0.09756937451245362, -0.13617530049317783, -0.15698862610410713, 0.37583356944809987, 0.30925847576945276, 0.22720726736683616, 0.418543660442964, -0.42576671749407313, 0.2120013236052335, 0.21227617646710983, 0.23674087900791607, 0.3143768396058717, -0.33770598471405866, -0.48726794439668364, -0.4952624444874666, 0.23750611477186656, 0.4018283088680188, 0.41715421821469456, 0.1015773545797829, -0.28682602277300717, -0.3970187577733799, -0.30459026863325045, 0.1164353287946257, 0.4039444606373449, -0.2964677524978129, 0.0017943821914290226, 0.41286415747199634, -0.09700726580992369, 0.4634805585945867, 0.4106807217357905, 0.2262760892200798, 0.4627560967677158, -0.01592803284299804, -0.08233877399760992, 0.007356262632987387, 0.39732348599171186, 0.40595262044624225, 0.1191300037925801, -0.05193957281125272, 0.049839716454283756, -0.46365217347490895, -0.0004448374507379782, -0.4076094410951969, -0.20819158535818716, 0.4838168722468923, -0.2561684209109373, -0.4594313247241687, -0.45411489713125197, -0.21293052370372256, -0.34573596728365064, 0.22904378123255853, -0.34825703143795383, 0.4735738540040273, 0.49206138161685464, 0.10379739545933864, -0.43992130116282446, 0.3179083423992014]),
            (35, [-0.2166715734524841, 0.285792605007813, -0.4274066625848272, 0.1077338430557978, 0.3922612223038632, 0.04975826805912331, -0.18979655319028188, 0.2062064848737245, 0.06183810359741204, -0.3067245691824223, -0.4818407627222544, -0.06630901811404233, -0.03672916637071222, -0.19721965361031657, -0.10264207281296944, -0.4923783918148986, -0.4474846338565275, -0.41581327703775073, 0.025495690992943465, -0.4454999064458276, -0.4284736742209785, -0.24594368233361108, -0.2097783325010486, 0.0035105629398105576, -0.02679245272334585, 0.2877741759114678, -0.45663709771285144, 0.38892030449866033, 0.18152847605114053, -0.25558689124278045, 0.08552579962327878, -0.29577589235569257, 0.10965266786905825, 0.10947524380077311, 0.4382383589360316, 0.17124106906320247, 0.2082629774114223, -0.06332644002153964, -0.18895531595978377, 0.31523819646336804, 0.4133827266157436, 0.05312348479804574, -0.07357003519379834, -0.3736288091508061, -0.20714554211301317, -0.034889842417826444, -0.04184771795089581, -0.1979583897643029, -0.44956889341348905, -0.4117154183988695, -0.08548029589028583, 0.2517572138721662, 0.04072679381752531, 0.022494693414731648, -0.4406865718138062, 0.17484711989263457, 0.21594245707153004, -0.04111333036918796, 0.3726319010737287, 0.42407464373766735, -0.3500583229465297, -0.15361553277170692, -0.38516486871672284, 0.36608011175267297]),
            (36, [0.4690835442827017, 0.3950866350705098, -0.07418722192082161, 0.13496266912008148, 0.3781859154441949, 0.4155910533399113, -0.20455408454522717, -0.4388879579683329, 0.23659551825091696, -0.23895773356025873, -0.3882256349567327, -0.30287751854350553, -0.36283643990779113, 0.08968104004504074, 0.44821520980319407, -0.31634066633237556, 0.12334553185819674, -0.19557448221336693, 0.4888579085437661, 0.18238131193260032, 0.403232330806662, -0.28669163005739007, -0.1157379779523926, -0.4109747261886153, 0.05054754343338863, -0.2330673379903947, 0.44671321329123526, -0.48828742323452, 0.21466327816658703, 0.1932683459066249, 0.07792860711453409, -0.03153721206811411, -0.45394253495902714, 0.022497803683867335, 0.027340669681291008, 0.43155898295541784, -0.3799708419534791, -0.12924306411647735, 0.04103549374357429, -0.07527988947136388, -0.4235292309251041, -0.1432458622613797, 0.25546333418565015, 0.20260531681232363, -0.08233075994025096, -0.14732684370573879, -0.07983210664135132, 0.2620655782860306, 0.3669855768535275, 0.10007657031990913, -0.34633500459925004, -0.33789558236164985, 0.1173875190827407, -0.13530598388551818, -0.19427207490202925, 0.46558905574582554, -0.1012493783318702, 0.09267597934598315, 0.03076574504907381, -0.1504496888064808, 0.19081649903368847, 0.2742022704840741, -0.3637161055104986, -0.1611613359330174]),
            (37, [0.446714958485953, 0.32755263403086154, -0.2615053462462966, -0.31601829453786967, 0.30649147683374767, 0.19564810399817034, -0.027252387438502, 0.423666099287774, 0.489389692820543, -0.04641070431838068, 0.2573366058639074, -0.4083346204989845, 0.1699998346769065, 0.1566624109440592, -0.4559421048023218, -0.48675874194493396, -0.34736371202362704, 0.4443154982797871, -0.32502953786844724, 0.2542690507628582, 0.28718816931871705, 0.18731666521180534, -0.2798336964587238, -0.17517272235836723, -0.11038869497719528, -0.06912230009876297, 0.15241318600761788, -0.4238330055246028, 0.42426672326068604, -0.42490788979044924, 0.4440371457296922, 0.3145263660857559, -0.446765988226033, -0.2755633206739134, 0.14434048737789562, -0.46050280110306563, -0.4278422340987137, -0.49160168610338906, -0.29595606504065686, -0.27093834844019415, -0.47305339968329496, 0.17409703190454473, -0.017238588430073087, -0.3601123577132651, 0.315602190641614, -0.2922182777023541, 0.4137789718465107, -0.3265767970424688, -0.20078763194136295, 0.4942742317903194, 0.4032910425720919, -0.14348887779780473, 0.13309919051898278, -0.33027806588157904, 0.11348047952228835, -0.17139936721502114, -0.45546410806714954, 0.35067484219425415, 0.27414241499344894, -0.0007040125103566774, -0.39671234960944524, -0.20029523186294207, 0.1581156633859333, -0.30095066340112564]),
            (38, [-0.17340813738480287, -0.33918552923865297, -0.4063374370078704, -0.06381456845113875, 0.20543770444673626, 0.4544340939332646, -0.17664000430111904, 0.13169227956049456, 0.13365190495482326, 0.1463174141982596, -0.29952349390628397, 0.16788529684947773, 0.2899572665958605, 0.4673406665308858, -0.3232413537608444, 0.4527699205141006, -0.414102391891202, 0.14793007678994563, 0.27560141764182966, -0.4481075087632045, -0.42389558302707475, 0.33672719920530425, -0.46240009168924967, -0.16910624104154803, -0.28381550382219767, 0.14836767460714617, 0.23271718395398278, -0.08056071648801155, -0.4433468543188186, -0.06263949016419934, -0.4751687749774458, 0.48958627320934245, -0.398932684217876, -0.48311202456470026, -0.2413386102706171, 0.42899736758346707, -0.23921940367851768, -0.04924080019698995, -0.11080656932561861, -0.17344535694794905, 0.2491384855659745, 0.4885164294139488, -0.3051197872453456, 0.26244738088914565, 0.04221975459581495, -0.40960108316783117, 0.0003794193214325947, 0.477526352606653, 0.11985568489372911, 0.25301060397805675, -0.19494806038883328, 0.2934605347598971, 0.13076628523366485, -0.3983437080970271, -0.4424401236091061, 0.3693010655778409, -0.2537866479256097, -0.16034303289715368, 0.16988839128663813, -0.024551555840764072, -0.23359661612188487, -0.2332288658243571, 0.39868510510317035, -0.4379496466141648]),
            (39, [-0.23757153035929435, -0.0019945855141162427, 0.35825944696674017, 0.11749269526976269, 0.2534481858281731, -0.3195720431407284, 0.28182139916327065, -0.45956898402232427, -0.3396192549127506, 0.4299141898182436, -0.32598354428763276, 0.1659580064297227, -0.24584077663994364, -0.30085953763822804, 0.22941981474292217, 0.45630072575024216, 0.23464861585771002, 0.16275471461473734, -0.43823258465212955, 0.4687511469297192, 0.04233106668837572, -0.33011616055017434, -0.1062695575710898, 0.44681918857931635, -0.12582196066407425, -0.0794009316445431, 0.12887756807770367, 0.44750448638675355, -0.030958304326371477, 0.18342175230119362, 0.20245614407571455, 0.14974237529443668, -0.32461644954180413, -0.3660737846486791, -0.07030288825360298, -0.2425811567031042, 0.35088506158048505, 0.22484939628968192, -0.1307951228714217, -0.2921691638312368, -0.47068148410362587, -0.44033763255101266, -0.1427919408576247, -0.42921084534441134, -0.41571190176268324, -0.3007528456060098, 0.05462176298449284, -0.2220193445417633, 0.38113197538253163, 0.45524893834946956, -0.43299369354730755, 0.49329065020240703, -0.03282682621340505, -0.40724306119530207, 0.10591245559103613, -0.3035170006734592, -0.3776938152731155, 0.2337732540941283, -0.4336944867139402, -0.4132817828783856, -0.010573661956505331, -0.33925449659219675, 0.11596352725437387, -0.27406299351668506]),
            (40, [0.3245053647415129, 0.1863244345854691, 0.26454567422843167, -0.19666870261238356, 0.15148407274158004, 0.4256656543876003, 0.37920781229582834, -0.29370670435570045, 0.02616077519348159, 0.16605358352242305, 0.013981905561677554, -0.24834193488800294, 0.32606960533514406, -0.16717831049468124, 0.10331114376906192, -0.4142702721548379, 0.3837287888926024, -0.1159654192454197, -0.4330949833056651, -0.19030883879722427, 0.48512987049292866, -0.16243658578808684, -0.08691120181508583, 0.389546156307237, 0.19823101014159294, 0.30838235496125066, 0.2294333264069115, 0.2993615746134215, -0.152870777847114, 0.20319209843275143, 0.18421624859608932, 0.3001753948148629, -0.14352730763993882, 0.07958955015330749, -0.018290232164496767, 0.4194942919155573, 0.4433019944576604, 0.39704966665776686, 0.42982944422703107, 0.09270899152198508, 0.1285269463089388, 0.22267204244258487, 0.23862585808942305, -0.2097706903982477, 0.0771066197508895, 0.2717617021719675, 0.0788186181032472, -0.1665801558882256, -0.028883166191036702, -0.49634209926078887, -0.17902275034608184, 0.02147301738988472, 0.34653553003055937, -0.3691825285928888, -0.38531068790311906, -0.25892874911125263, -0.09984009076407685, -0.29976576531426036, -0.3262216013493119, -0.10247040191515655, -0.3044585549771972, 0.32214264527490866, 0.0639815469692726, 0.16245145853983856]),
            (41, [0.060104755706913426, 0.40846008463233696, 0.19143685324962967, -0.08865998626664007, -0.23796150819696982, -0.4366312490056238, -0.14628159488556736, 0.33798272006061303, 0.4014663743161362, -0.20207873753632688, 0.38241266392782813, 0.09253070361011384, 0.34922017034642716, 0.2908382016399884, 0.41626819379756375, 0.4177686760568988, 0.15149688885611445, -0.08518793948040693, -0.16551626801089037, 0.3682869329744737, -0.40397760451803766, -0.15126487604786365, 0.07629818099784069, -0.41504133909788554, 0.07633504724090301, -0.3602217481278027, 0.1463632361722671, -0.36317829023610326, 0.29951328364843544, -0.13652522834384906, 0.2811249150123971, -0.2411067650919657, 0.2942977126522611, -0.3604979167543244, 0.3107967079212044, -0.430196482081322, -0.380650755946932, 0.1762622366698503, 0.26280752951667685, 0.23802355885323512, -0.04672062317185466, -0.4909086824438037, -0.1717786311515046, 0.47104127058996215, 0.007334166008011511, -0.07991684956870093, 0.38812128081282316, 0.19136564326056305, 0.28874228572556404, -0.3003038466785912, -0.11726708977193334, 0.35174761504529084, -0.4205873886867647, -0.12962667031273445, 0.36480285279038105, 0.2336072883242155, 0.3830257910871482, -0.29640259879327013, -0.3649496986143229, -0.10457994411999849, -0.4721758772391318, -0.061566375762189485, -0.3506054068198796, 0.1569547292100073]),
            (42, [-0.02739506645696388, -0.18807896684736936, -0.1774608147495933, -0.4141103823549107, -0.05067809639848375, -0.030717141627408906, -0.26652138623996247, -0.015287555309353107, -0.23305391664284814, -0.38814543247234035, -0.3200179150307101, 0.25959853693925417, 0.008090720832678588, -0.03855745565111923, -0.31631569471960763, 0.4986838850829568, 0.14686292960000125, 0.36919317649002037, 0.2193185415033524, 0.0486296333613464, 0.32928410638844985, -0.42449166221094314, 0.36505389926978515, 0.2055644198274803, -0.09732441053097829, -0.2430166076197975, -0.41538862910056285, 0.10773171570584616, -0.2677144000764695, -0.242684114894557, -0.0953562259254076, 0.4575477686444013, -0.06316436499738654, -0.14332762707747027, 0.12568382010116108, 0.4828670728849471, 0.1227013763384952, -0.06264680296800373, 0.05223667822737632, -0.18883848288527827, 0.2368520891155681, 0.4108054159485822, 0.4520652666069307, 0.25056149800280303, 0.1171282681825987, 0.3650029163444347, 0.20260826354396644, -0.16091023687625017, 0.20634976754200363, -0.4805546198156523, -0.4707545888640201, -0.4992846002328798, -0.06094927845956999, -0.43906969057789846, -0.417824477528401, 0.4976860114667244, 0.12620873497742768, 0.07244848752971378, 0.10537522110768838, -0.05044934977291171, -0.09421093584519913, -0.16167449076480744, -0.3631959453403931, -0.46404257209460775]),
            (43, [-0.09932074421550197, -0.40868769638240976, -0.39235983019219545, 0.4285244651512029, -0.19479127719435252, -0.317609988330982, 0.14644359825748254, 0.18124356018112664, -0.0046172383622659074, -0.10361380206537651, -0.01856803850954858, -0.3100453420695902, -0.3830375339512153, 0.1954507491117765, 0.14322891007051242, 0.34777549228629756, 0.21709849625118138, 0.39638198433017546, 0.4818397224797395, -0.4518758243122435, 0.2746547872643629, -0.33456716252704, -0.16926327032159172, 0.19649276127263027, -0.12911474706985482, 0.31125448049907, 0.4504927649722733, -0.21951567547807327, 0.1571162567681723, -0.13818855094496385, 0.2552439864552528, -0.35720134411521154, -0.3820042275660952, 0.011507175410609305, -0.32589690766538526, -0.17003879201476924, 0.48805579194481763, 0.3455508690105453, 0.13423128187745137, -0.32596606254905025, -0.006159148898888578, -0.14173213766439907, -0.4519431828793117, 0.13760760872338185, 0.47541770866556377, -0.22022415623074953, 0.43241658557804163, -0.002545438908731934, 0.2387441131936684, -0.3072691809913287, 0.15728601693596855, -0.4245099113387235, -0.26277183039935015, 0.03537755335456183, -0.36593648844151794, 0.46657139602140496, -0.10252502597139135, -0.03773423628095873, 0.11305407603092132, -0.01682099956742744, 0.3108399356213821, 0.36294919471418785, 0.001466886310720561, -0.32931420461668337]),
            (44, [-0.4709550349888646, -0.31140371383674326, -0.2955875242516415, -0.2215737946023143, -0.3044844882433244, -0.14934095989410656, -0.13771511490924293, 0.019471477730772513, 0.3070248677258768, 0.19498067538217967, 0.0768309345609508, -0.30440632369853393, -0.47243512818278155, 0.112581254494445, 0.13442500422786463, -0.2394263356157802, 0.3303707276078627, 0.15302200595589766, -0.3354222054510836, -0.1321037986351602, -0.22066438522659637, 0.2293155713693531, -0.09595732959106129, 0.3220346609501481, 0.3079046604700416, -0.13534000899181997, 0.09448704816669384, -0.40233324138934634, 0.3361489764659149, -0.49622047882605425, -0.07357761714708033, 0.29170075022562414, 0.36156045563066086, 0.39607949089074934, -0.2434877543359859, 0.2017557329694264, -0.3238344263143117, 0.012464195683678847, -0.140243132056324, 0.17220883158071565, 0.2606885021318215, -0.2656832646589846, -0.1931530255559688, -0.07043977607776908, -0.06787126822179756, 0.20571396147448984, -0.30795136877101403, 0.43370893408166267, -0.412306139609674, 0.43806836134909566, 0.4376143180918637, -0.3739892609079135, 0.49167203565099615, 0.25174908361947135, -0.15616174202390842, 0.08021756368745936, -0.2530851323561517, -0.40174359290501616, -0.2791372478261527, -0.4670536284814193, -0.17105970241171597, 0.33836939573326075, 0.27802648620856574, -0.30484038332646934]),
            (45, [-0.48779284493018693, -0.47362241646130887, 0.3270887898238254, -0.002998821180466016, -0.18881893995215282, 0.017497994487363444, 0.3211430070927178, -0.13371311889000814, 0.23598417703146313, -0.4012473497708676, -0.04833576751929014, -0.2461677342150742, 0.49633631032833925, -0.19571798296478227, -0.3057814052977038, 0.41272831610013183, 0.3869452743657461, -0.29861623744447463, 0.49012139605415095, 0.16741064413859041, -0.18365680440493404, -0.07728201904777177, 0.0130118948256287, 0.014951486168818917, -0.0013539639588283636, -0.19255152283781674, -0.16607213734473036, -0.3533007885310907, -0.08297223356550265, 0.28271156210230997, -0.10219471890260945, 0.3045916585320587, 0.007593565200994856, 0.4226899749978581, -0.4210857485301559, -0.044123655852541965, 0.024809376317555754, -0.1356147786722518, 0.04052179309571935, -0.22606815192050478, -0.11512336886172436, -0.005132706861683545, -0.3631532857450881, -0.377539893849148, 0.42118521078440774, -0.24852453768753002, 0.3299873881522152, 0.4192160041128079, 0.48082318894486886, 0.4559772840196413, 0.329019252439272, 0.4436166880524556, -0.19288294223561064, -0.36850206207081604, 0.11660855573528506, 0.46992184080626975, -0.23854387949347766, -0.06804598778606386, 0.2588798412866462, 0.11783044028372591, -0.27117394059088484, -0.07616912036264445, 0.003897655894132712, -0.3727414321572249]),
            (46, [0.442643197501312, 0.4392507537827097, 0.17886545567011436, -0.039306934443679054, 0.15891866259008602, -0.44542730590930346, 0.15412895314925834, 0.19743780783096032, 0.495395248668944, 0.27545611222030597, -0.21123744840932823, -0.43532921818772663, -0.3978811775104777, 0.2699598743288284, -0.22032706760655585, 0.015568903278212809, 0.003003545674307828, -0.4390625300356146, 0.26980590378419067, -0.27009656479291355, -0.15370911955997701, 0.28929796230709137, 0.326839718082662, -0.43922099031806516, 0.2016548764603857, 0.34982254856671025, 0.1510958749825121, -0.2046852103439074, -0.038624741459695744, -0.14958294114982995, 0.14097279275696606, 0.2889560155589749, -0.4822378196064655, 0.35676077829940966, 0.24653454525865914, -0.28150701613558793, -0.42473132896399135, 0.1535397214383707, 0.10780915249504275, 0.1537613790622202, -0.12452333968145002, 0.21777003488356073, -0.3386715847239381, -0.07552785175809906, -0.1718969162982864, -0.46203703416094544, -0.49024712171951645, -0.291910840414486, 0.47384080368213455, -0.4668023259176204, -0.43353022368996585, 0.19748641365316366, -0.15792304856187767, 0.18744697201899374, -0.18193391729914932, -0.41216363196510086, 0.32922273522171264, -0.4046336977353663, 0.14922187999934633, -0.4093846962044221, 0.10407978120229622, -0.13984500319469018, 0.10593845642002009, 0.3312535590972374]),
            (47, [-0.35512705932770516, -0.2817499878708659, -0.10520728445057881, 0.21612234661190277, 0.17591090866400227, 0.29665545544226124, 0.45045724021793276, -0.23288057803190454, 0.3790319540875947, -0.3189664317476094, 0.3250778914292418, 0.11044751225497984, 0.05510730532311525, 0.1735262228075175, -0.22107965591242895, -0.47568914703903353, -0.4389804434768406, -0.10915004110720317, 0.06239060861432233, 0.05522791170685626, 0.16966766717684445, 0.4841605251437564, -0.30714761082548425, 0.39935325581098946, 0.30596501305920076, 0.09690758172009695, 0.21222319551086477, 0.4897324784399092, -0.4799569484133446, -0.30322452148148293, 0.31163643174764966, -0.0022569638401116476, -0.43398334323057397, -0.2858991237475478, 0.45011374948431826, 0.11903579396981367, -0.41611734279154977, 0.29295004588629014, -0.13586828234174997, 0.06554463976644664, -0.4222443531602349, 0.15112326043922497, -0.2943718987082161, 0.23306777651601285, 0.38799937041116483, -0.3992548731191087, -0.371467406113303, 0.1627130147800261, -0.3649489255721945, -0.13964839006030516, -0.012367002185113662, 0.050541881231301766, 0.4833984744637402, 0.18458039085231248, -0.4010628399509042, 0.18856482354498116, 0.48893501110027227, -0.21353789561961467, -0.40680609730933237, 0.39473029281477356, -0.14261286488623737, 0.3927005729695333, 0.3290417726481112, -0.48972036327710355]),
            (48, [0.02685999411234985, 0.4334399546405576, -0.3280906326244345, -0.4983458597417346, 0.40311729445822986, -0.31583193452172953, 0.27609342016103255, -0.4169819588710808, -0.4129236200306504, 0.15001424968080446, -0.3536858432655686, 0.20313712372214854, 0.4878734369132227, -0.24282692728059674, 0.22150447577135457, 0.14988519292966362, 0.07064168845848595, -0.4690551174924087, 0.07198225955563498, 0.34671749106838534, -0.48331499442995884, -0.25461878818109407, 0.08403052092577568, -0.42421525865523524, 0.32934237572665437, -0.03429577427887509, -0.39708298216260196, -0.23662530637619783, 0.15845436947592195, 0.3410096148426035, 0.25180283744429965, -0.26438609241626176, 0.2710744453294175, -0.38741804786086753, 0.14657371790242402, -0.41285977421895614, 0.27825115384309973, -0.054425762291996915, -0.04240728461511012, -0.4005387164640861, 0.1845321150572099, 0.08232919088907575, -0.017543643739553194, -0.3137226692047319, -0.170163916433983, 0.21191565254991518, -0.3904812487263215, -0.09787414993458787, -0.21890725442261372, 0.41558716103006266, 0.3120175847843244, 0.14641993657784924, -0.3993314503417502, -0.1731599289143878, 0.10742355591488861, 0.32007082224700234, 0.1895459015854689, -0.030213348632677994, -0.35863687942243216, -0.10069084734923262, -0.4447041614965047, 0.3933032256079535, 0.055279398299203586, 0.16722700636375987]),
            (49, [0.47018941055611263, 0.4496863660706273, -0.4866203504774693, -0.4105040238164882, -0.09823502840590692, -0.030916938409709438, 0.19879883389311548, 0.40653598007531266, -0.38626458210578496, -0.1889495883324288, -0.24757966120829555, 0.25464486591480084, -0.43071534859867977, 0.4992935428041174, -0.1507542401773696, 0.17536794320767712, -0.3659753238704372, 0.3786652738671489, -0.4755372112875139, -0.09133382625923614, -0.12823818387056252, 0.23186633886841668, 0.12446297042040322, -0.3768923262861932, -0.2918872281552628, 0.4528137656427781, 0.42551029068120694, -0.24601901794397663, -0.41464065245452786, -0.42210560994247837, 0.2755564247937353, 0.29659558435956956, 0.17715296559601956, -0.38173610451926543, 0.28581471395796443, 0.29092286904089726, 0.16765578329432196, 0.04838549003115156, 0.45883526024971233, -0.33213888529550695, 0.34697723175104356, 0.09918271234405462, 0.43332572502268507, 0.14836398372329873, -0.26728065420073677, 0.333303790205118, -0.14591482540911282, 0.09924009532184308, 0.182850527745259, 0.016744268627342906, 0.23700025986767215, -0.3908876912156084, 0.0025447579566564293, -0.2869092627068657, -0.2179848542718481, -0.2688754464600268, -0.46469095717779363, -0.47400572765133886, 0.4170635395254919, 0.23532115394922393, -0.0682026284441195, 0.45560716690822567, 0.1122314542545908, 0.22252674013799023]),
            (50, [0.4904670781904661, 0.3006461744548409, -0.236609834083792, -0.34757293011600976, 0.3475929441365997, 0.2898473810555159, -0.17554457465701134, -0.2520762265048401, 0.08440035327326056, 0.02388078707021335, 0.4769540886275284, 0.25544809653680367, 0.03213847653069457, 0.35346085716570785, 0.45876291857808704, -0.17201416797329427, -0.44044286783465025, -0.1704224842900509, -0.4883209703518292, 0.2210284367854748, -0.22028196442912684, 0.09571412354945052, -0.4898860176295431, 0.40883066894029396, 0.07876899261640358, -0.48827459392798533, 0.15384723474151163, 0.2769694333203454, -0.21167674042255558, -0.3216848254139535, 0.4620937739297961, 0.24661754826910476, -0.16060315484925536, -0.12399102156976416, -0.1145984642938419, -0.45431043763072, 0.4672697597042861, -0.29794399636531954, 0.17046325315937838, -0.1853775381194721, -0.10244336311942437, -0.4357181944608205, 0.43410241210529976, 0.24027076189203567, -0.1899259742700109, 0.162950348861583, -0.11006337772190888, -0.19712258092423796, 0.410484883993817, -0.1054184297564108, -0.03500680470964823, 0.44687578520897897, -0.03292048563417149, 0.055418054451363497, 0.16705724173981096, -0.14748577991350886, 0.34147376586882416, -0.26591246517501377, -0.48616067092067594, 0.3056256959110496, 0.06905179181389642, -0.011796444195790734, 0.41913395260959807, 0.2273077300919235]),
            (51, [0.14938613560681901, -0.16398438507013946, -0.14043533609065717, -0.3907393401994377, -0.012579973408236245, -0.3290075576481899, -0.40044657226985525, -0.4239536595756159, -0.31995523395081216, -0.21598974262833948, -0.4066765054513731, 0.19693668926243646, 0.45533254623971386, -0.3446200931571942, 0.17678331677791548, -0.29232510124411026, 0.41792992288116415, 0.2589557850966384, -0.45734775834120556, -0.2920599191606773, -0.3692529986117685, -0.09275924210768782, 0.39228640792426683, -0.27238444813670626, 0.00155255928616016, -0.45154546268444484, -0.10898848297353791, 0.2528973651084142, 0.3292679979823484, -0.3064103129512554, 0.42964257179035303, -0.38559190409279254, -0.37955516187357596, -0.4353762273566225, 0.004896399766501913, 0.27217734770904933, 0.4457265946809509, 0.10690930764376116, -0.45118344152637824, -0.30724222586843564, -0.052191757643875736, 0.3740487237214606, 0.32269009112086355, -0.2248077687249036, 0.08751420526855691, -0.013236683453214937, 0.0013633686359917352, 0.41059498584794574, 0.2365253231426765, -0.11039676986462654, -0.47398988023064215, -0.4979858789388748, 0.4681082392796915, -0.09707630081673246, 0.44345540423719465, 0.25924884011319405, -0.4241975949485247, -0.2798480993494572, -0.16266524478495603, -0.1081980355569343, -0.4664240418628707, -0.4200105384152908, -0.4305226810209287, 0.36040145049197647]),
            (52, [0.4499057219584617, -0.19292433471865922, 0.47965447743968437, 0.15314096969901292, -0.10739312460974448, 0.25309472085751195, 0.38472473465565027, 0.21250965281937217, -0.46344394433552205, -0.20860519684882584, 0.19091487652693606, 0.42280388726059936, 0.39139060080392474, 0.03472543857605859, 0.07937497538741023, -0.47683145370618274, -0.4155092926845688, -0.22801396459438783, -0.20893474754465247, 0.4666615929465031, -0.3287630119632027, -0.19916450723792867, 0.041163811414061224, -0.32768919886058767, -0.17379457824676725, 0.294321046771685, -0.07449510484735522, 0.03687284477374231, -0.29661288034350486, 0.2629675370963489, 0.3138979182362741, 0.30422671633023524, -0.4454182648453967, -0.03343213087174901, 0.42159639681002303, 0.33343183126599263, -0.24438196728762007, -0.024194894140519896, 0.3679832721908648, -0.1950069974305273, -0.12634868867154758, -0.17634901867116703, 0.45685363726302863, 0.2096224094678134, 0.1902297907206163, -0.20273286389584344, 0.37773385302380313, -0.33172055578554516, -0.2340274873420335, -0.37497516158637323, -0.49011104991306553, -0.16186675389405247, 0.46977183765574826, -0.13581852773769754, 0.11690054694888852, -0.22902102426339677, -0.4888947850389179, 0.2563749584255488, 0.4121384893120851, 0.030605207740321938, -0.0037845234163832453, 0.16216150157448395, -0.301311314445182, 0.14767109145444646]),
            (53, [-0.30401262517699934, -0.1944261842797268, -0.49073755202866143, 0.4167763587945996, 0.1939824063573794, 0.30875088143600726, -0.445795231492512, 0.12987447077979264, 0.2566959027971172, 0.12942079659628747, -0.3458855900697356, -0.35516083522433806, -0.3198352129730224, -0.08121906672717072, 0.3162330592955247, 0.13659160542341997, 0.0618299520965131, -0.29987142181788684, 0.2782850317539851, 0.4735455877598126, -0.2624877927720578, -0.04019120557004885, 0.3568142775430472, 0.06556620151883275, 0.15008692207731122, -0.43534326203192597, -0.26861585588470693, -0.05223139043265734, -0.08524522998674611, -0.42627852643560105, -0.075391190827657, -0.20609087870771536, 0.38592057726801565, -0.30773153642659934, 0.05943333107973281, -0.1705784865570522, 0.05649152881738306, 0.10462071122329408, -0.4940681063017126, 0.3520473298359583, -0.04907786950421722, 0.14911121596010424, -0.23980940460246225, -0.02976953276609684, 0.20570958018994467, 0.39135970194391945, -0.4336417908162171, 0.32248520808047676, 0.21235452362169682, 0.25841744125699473, 0.07242875982245545, 0.20647133098744697, -0.08875620144707042, 0.07151851487618421, 0.05599714913904208, -0.4021380501856412, -0.3360117914071298, -0.45586070519547817, -0.0759098941536035, 0.08290119180005062, 0.11422068071551894, -0.2587417846124819, 0.23553076741500267, -0.4078583735867999]),
            (54, [-0.45166561173012876, 0.2209812353878462, -0.4926418642806758, 0.4787102221207433, 0.23280491066938125, -0.14976846959493395, -0.3738943413196474, -0.37631629307819847, -0.07761501963610007, -0.2495323014442391, -0.17276860890134493, -0.3915253407350475, 0.039534570980381045, 0.4647922366691605, 0.15115365139037962, 0.16753697362976117, -0.3734562653603838, -0.4288216726591547, 0.48117850827450803, 0.03362988961099933, -0.04043641516486263, 0.3083976361544817, 0.045038731511944485, 0.4842552658967455, -0.4311486646231274, 0.16223091976561066, -0.19213592197079943, -0.4549100519449969, -0.32805120231186136, 0.3732444004501466, 0.30394760917012975, -0.06829850943067484, 0.1370604862581336, -0.1509201303455593, 0.47279375644428445, -0.321509349731936, 0.4899175809324877, 0.030993130916250222, 0.4826462135863482, 0.2833398099884651, -0.3461684120716103, 0.06789498613591838, -0.03574180375106151, -0.23308421814122426, -0.16237890021988532, -0.09100885975881778, 0.265855487192717, -0.1985064063329428, -0.01131747971879593, -0.3354312352712905, 0.32969889774250727, 0.4829052756709292, 0.2537322275307706, 0.380285691150425, 0.32267738689112924, 0.18909811382184383, -0.15499077087151925, 0.3649780672206212, 0.01855658130420801, 0.16793039836726142, -0.2962530411713806, -0.2723347617474391, 0.3858501345854949, -0.3465926240747461]),
            (55, [-0.24242055636707194, 0.13116439808882097, -0.40365786634266854, 0.16473120364185934, -0.18767181820391798, -0.1155223506090538, -0.32161645789010185, -0.4219700175983594, -0.2549927737086892, 0.21434322263355388, 0.19833095726645156, -0.3565632634071121, 0.273922575792083, 0.007950004689004642, -0.4201723744882764, -0.3423986091192873, -0.40588135282622395, -0.46943823177789656, 0.10397944264704795, 0.49045781795025445, -0.06816037308870371, -0.47090801272758, -0.4745534154150284, -0.3410680103598319, -0.3301186993799179, 0.43418322822825217, 0.0038944793403377087, 0.4513481052162015, -0.14299162758227835, 0.18256622321172722, 0.1602953260928156, -0.1046395051287744, -0.1853345760122015, 0.19492702281918906, -0.06298297851516632, 0.06475220881720312, -0.1838027704647628, -0.03801413540702847, -0.36985426997224025, -0.10515051871353254, -0.1209600310892297, -0.11073443264926586, 0.004863733183000152, 0.2523939048094851, -0.18333247890501025, 0.024678435081302408, -0.2538426194596418, -0.44893062528927585, 0.03225120667867587, 0.15210069469697707, -0.49522193165082384, 0.2172351825045663, -0.28817287559008253, 0.04628119943163522, 0.4872839960811607, -0.3086352707457991, -0.10456243213933925, 0.2331823405260064, -0.3748133931835018, -0.1142464721880232, 0.48109974060565186, 0.13399733591093088, 0.4473076923531698, 0.2647936303142451]),
            (56, [-0.19363417451188614, 0.291510229753422, -0.04658270319131508, -0.15147571538967086, -0.015457034070158748, -0.37889622643273824, 0.055382798621440466, -0.20561006291037398, 0.24142899055398415, 0.375880028823811, 0.18498407333006694, -0.41514574821825556, -0.30855234301611867, 0.36191502600071934, 0.43608743078034795, -0.4536430851294758, -0.25411588590107936, 0.44140971400141793, 0.003464168726955319, 0.4627272386548439, 0.09816768731744341, -0.2265534377005649, -0.11085848240471419, 0.2805484996901568, 0.46867245380827294, 0.24125274365889082, 0.22321874800817143, -0.23220922627533858, 0.17104641859237513, 0.11070458788959725, -0.09892449977802897, -0.3730043411583308, 0.10840919315892883, -0.4333279629486839, -0.0526708638848975, -0.4194775208695182, 0.2722800370038172, 0.4013444782504091, 0.024274406220917033, -0.43114448562184493, -0.3919557176986067, 0.015694808915820202, 0.2805261120848348, -0.36133499379868006, -0.21575802746195105, 0.25376996305251576, 0.43128127083481593, -0.0991086816239991, -0.46777065713924637, 0.06638207535887986, 0.4411811870865372, -0.3136516235999013, -0.45873678110603944, 0.3744914748305922, 0.37070467954035113, 0.17437402505373756, -0.06418755923946895, 0.43384925004820996, -0.1703494729858348, -0.49927013056189196, -0.09895554430654263, 0.1677713635865855, 0.3037241823311627, 0.3267488936517925]),
            (57, [-0.058232464663793615, -0.36245615987225566, 0.3300246993205084, 0.20566430966761273, 0.0566640484008476, 0.18907197677861753, 0.11984003359311102, -0.3965481436054735, 0.07342836898074223, -0.03201699081313503, -0.14505740203854445, -0.19982493218093134, -0.4294644721423384, -0.4411995157291708, 0.14773959980445428, -0.040265341773718655, 0.21197743517301193, 0.14094491195271563, -0.49330598418210936, 0.12436994370688093, 0.34787594946271283, -0.3154581074594419, 0.47340021488987627, 0.4966601609394078, -0.261635423947997, 0.3480924653012346, -0.34457791684131245, 0.3813412339105485, 0.10983717698284212, -0.08073642444976326, 0.23826952038628568, 0.30713062664596125, 0.18973199203530544, 0.1232428771125097, 0.17797027223464623, 0.14289890512295422, 0.46046285921301133, 0.15700501623135876, -0.4418594186022222, -0.49971604161249394, -0.22942657008997414, -0.09338088590673466, -0.2688836131672796, 0.13071635857103525, 0.11469955691053824, 0.08537399878582985, 0.43100540263490106, -0.41236673561918935, 0.47898564316821235, -0.11872411113220416, 0.34723182270534714, 0.0928645346326783, 0.005168676552596341, 0.08231344552507314, 0.40594087090723796, 0.030781993562724153, 0.20149563618743316, 0.0801600535625272, 0.06287371760390181, 0.008880101723971912, -0.1294982232960321, -0.007215788471543139, -0.3023264832239233, 0.36494431157674934]),
            (58, [0.3294936154906434, -0.03392209880732411, 0.27610213182109344, 0.12505351318950164, -0.24806671142126258, -0.33229927395099146, 0.05523062043346494, -0.27033682276166626, -0.061769963671789, 0.27641622806625465, -0.33525275843271185, 0.30724239502172945, -0.23319275256953698, -0.13447477738494762, -0.44688420673702534, -0.4382026498227436, 0.35426686702926535, -0.4192764379350038, -0.38941777569688174, 0.29466292174023934, 0.07018643465567398, -0.40074121728960055, -0.12927313878609048, -0.3706552976147507, -0.06738543096030902, 0.49345820620770475, -0.0715229902918827, -0.2894022950956925, -0.3273007928593661, 0.23669441455211726, -0.40975382040774677, -0.3185401073532744, -0.03314616437956386, 0.19356320876315491, 0.2032737109153231, 0.01358269698943515, -0.1725602781335166, -0.3404806861372558, -0.2129091521038028, -0.4956123525982471, 0.3216865313926388, -0.1741703939789957, -0.055314907132372415, 0.2878104224567244, 0.3920673878084515, -0.09613474605781591, 0.05757900090942314, 0.3106723098347719, -0.2959046308942803, -0.36774012143566803, -0.1143619607140598, -0.1991365112401483, -0.10913001233388198, 0.3704222053224546, 0.061493667669254126, 0.20767448750158046, -0.2095863537586462, -0.4263228653195791, -0.3717287858352276, -0.23801491500555205, 0.3659484591390184, -0.3163902003749477, 0.1299567586571423, -0.20844315454765505]),
            (59, [0.31132199567042573, -0.29006726518866466, -0.00407704843952883, 0.23190460837551252, -0.29069108423945733, 0.4876726679749863, -0.026659384626457783, -0.37177556431857806, 0.14784089112201437, 0.35261857934675866, 0.049276228593830185, 0.21888251345661036, -0.1989341165816264, 0.163452072746593, 0.4394751933658456, 0.47087728518714755, -0.05682194447655253, -0.1717301894874761, -0.1974568328149956, 0.35497308195660715, 0.16394934956698537, 0.04853021506313049, 0.4396662140345289, -0.10293807444197478, -0.3479934296011702, -0.3509390292266519, -0.17170593754263408, -0.31125553053786026, 0.45799414297225716, 0.0716322731339365, -0.24646171734319244, 0.3037775596674933, 0.40249015579049774, -0.23067751053846985, -0.467545951379032, -0.49895221239653587, -0.45672688593461075, -0.2279387267713352, 0.42510070679671574, 0.25048582985923706, -0.20473028283611028, -0.05621445807114023, -0.24951580864155054, -0.32728990371566813, -0.49298704268166127, -0.08911648785312543, -0.3863998563765598, -0.05359933770961678, 0.32997292929167255, -0.20654032168922565, -0.027470549580672965, -0.24970273884031557, -0.3006766485687671, -0.055551835017923046, 0.0189497458937542, 0.1768571804724548, -0.10181540574207237, 0.10144902015394175, -0.16250859533450646, -0.4287277909752236, 0.23284409073898815, -0.35237081640867807, 0.484589559977332, -0.04178724463878103]),
            (60, [-0.0027918252019012435, -0.028733827894973696, 0.012273097834186841, -0.2736289984175786, -0.24338860145503483, -0.4922945904964102, -0.168053142926619, -0.23574378130190066, -0.21511817523445353, 0.4608372232534452, -0.05475752332247685, -0.0006445590820572944, 0.019201662769251615, 0.02822531132169981, -0.2856089413087647, 0.49105622104921076, 0.17236913141125176, 0.15764228047853568, 0.49148169003271724, 0.25873699391068106, -0.2502109146966224, -0.07626523646776884, -0.36524193619589296, 0.17268055772486757, -0.1458054785502214, 0.22587187743576598, 0.48078544015714486, 0.03122633497312144, 0.048561513987268046, 0.024723194825117423, -0.4318008816580867, 0.008554687344180634, -0.24928510711764362, -0.06737463795848142, -0.24013752503973151, 0.17415769541040993, -0.16014298838668428, -0.47732183542178963, -0.3775351853762011, -0.483509916662344, -0.15337329817281564, -0.3838599618544011, 0.00619143646293463, 0.39919269306080674, -0.41010885248805795, -0.4902615776287542, -0.012805798048537653, 0.2971177235071004, -0.20192420101188802, -0.048866489570946525, -0.09978670195350314, 0.4416878986880256, -0.1207571319717905, 0.48062774479737524, 0.04715006914849251, -0.19882404651180807, 0.36582527094601813, 0.05371247359616471, 0.2751765982024179, 0.46354085807599665, -0.3045959372447318, 0.03900783522779061, -0.2720641291535738, 0.43906795443834434]),
            (61, [-0.32648594949718857, 0.22855224705770594, 0.06572408519027739, 0.49192569440193856, -0.3583037998070192, 0.3225493555950417, -0.08251193645701493, -0.44613431739745113, -0.427389072583678, -0.2941321348082635, -0.41835289485873084, 0.26802010896127926, -0.3351640777557229, 0.09672130598248951, 0.3712542528997229, -0.3400362110557196, 0.30519978185575247, -0.29352829716753637, 0.28838038183813064, 0.15127720566450142, -0.41826781940703706, -0.07260441961999708, -0.2769841053370492, 0.05989881236886163, 0.25797249985213244, 0.2366686890410572, 0.1419494420438071, 0.08603799314796257, -0.15959005527984538, -0.1516447608214263, -0.44962839150889067, 0.17664179306445882, -0.180583608763334, -0.2414405861311648, -0.11753306552715592, -0.3336681436852843, 0.1184419425575477, 0.4394510158680405, 0.4046696336115312, 0.3089430772426992, -0.4531415493776839, -0.09023283160299334, -0.4626550218156772, 0.43820420637389657, 0.24569019823966132, -0.1358654867383533, -0.1593743393823911, -0.4995210335716975, -0.10537492828928385, -0.12385248525777437, -0.35209263154407777, 0.13271266595491327, -0.2720041489506485, 0.27859167093777515, -0.23467579588844456, -0.4959057299733066, -0.3847664083321234, 0.49598072811764027, -0.03675171754177908, -0.4874214441379734, 0.35503907564655923, -0.06096584074804434, 0.2806207318060333, 0.2325017970418427]),
            (62, [-0.2411977911715456, 0.3822477868489703, -0.07424021308054696, -0.322409564017476, 0.1562237324747705, -0.39202333372978804, -0.10239026112225569, -0.06316079937483887, -0.15316655687009506, 0.03769093912848964, 0.12019708533641815, 0.13556560949410856, -0.04447582845166975, -0.44197358640296347, -0.339973440174568, 0.36387097796168244, -0.0030603897350629516, 0.42700870916067435, -0.37425741072006913, 0.36605670281092795, 0.4053875615818744, 0.1763490178568482, -0.29568744191854013, -0.17971478055640022, -0.3585318703563294, -0.3263869866242217, -0.008516500654114356, -0.18552015911059372, -0.2820149551739517, 0.25370789032574004, -0.2842970533319953, -0.3924269320049867, -0.38520858880395514, 0.4827203639757699, 0.08631498494852896, 0.3993629870612848, 0.38579240746666443, 0.41922815293972937, -0.09766870196623656, -0.056703254102924094, 0.44172725139068336, -0.302420502105026, 0.43699601332368465, -0.2069945718014179, -0.19330305627715405, -0.4068695090843467, 0.4284761308627172, 0.47547816787114994, 0.4427879554188714, -0.1520192287805311, 0.494707557939268, 0.13827816072012034, -0.1686644272111999, 0.09445493805035421, -0.2624269446292532, 0.39975410211066664, 0.2976417873618793, 0.07930692037886211, 0.4452248823812909, 0.41871935294838225, -0.2942185083010048, 0.32723330920195115, -0.08914503809343688, -0.18009913673831135]),
            (63, [0.2886409866468749, 0.05418596141555476, 0.04051482132848094, 0.20811668809534356, -0.16340317949702032, -0.441574604457155, -0.3015342976916925, -0.19931229786074378, 0.2673937867714148, 0.07929275801409286, -0.02130515466954075, 0.3081600744231099, -0.49666141849080225, -0.1446438068032725, 0.12437659744411722, -0.4789447434169639, -0.4133389030406843, 0.3087208496507231, 0.45514898689592664, -0.18602692913374408, -0.24025062925776786, 0.07554694737031464, -0.4969442280582611, -0.06683371209687228, -0.015345618828117358, -0.39035276363508165, -0.42456638573866545, -0.29976817515573084, 0.22933430235026186, 0.11453379585386936, 0.06723753879672834, 0.061948870696694525, -0.02567742994166966, -0.02626625932555471, -0.4462628352201423, -0.1940129573889927, -0.17145303305553772, 0.3105959528318776, 0.25208150909871185, 0.42915643452993346, -0.3622994954419141, -0.10657488428239814, 0.18358729702796361, -0.09633851898984735, -0.4312983695550834, -0.1857531173944441, 0.33152136853840575, 0.03093955942933213, -0.4197324742141785, 0.3327990787245959, 0.2990479006053024, 0.3756849139078412, 0.16404175489366546, 0.39737250062126983, -0.4089171680875746, 0.2907469699127667, 0.2302356416078426, 0.022511788558749912, 0.061079832585821614, -0.24060398091746182, 0.4450188470700972, 0.11767036491247673, 0.24780455503615217, 0.2700093022663064]),
            (64, [0.16086561927617093, 0.30573585474135045, 0.2018823532967725, -0.07378003455563431, -0.32336400894769346, -0.27703712526344615, -0.2883409479350909, -0.27422873396180203, 0.15694493519461206, 0.4739606937455777, -0.0795923585595858, 0.4448687508580488, -0.32934979019439126, -0.06417000388911731, 0.41633114321820286, -0.41558610637105164, -0.09723752683039, 0.0999778983291244, 0.01218551566356163, 0.032293923531973134, -0.03030730260856207, -0.16934316133609517, -0.2514637424413385, 0.32058756300727964, -0.34362492658192734, -0.2174997495641101, -0.20661198109452572, -0.36540312786287854, 0.16448929267165735, 0.4670868985055945, 0.471421058304332, -0.2126269391724408, 0.04468452448491167, -0.19918788785140895, 0.0930486818477535, -0.11969266998957317, -0.41464869111979274, -0.35824912727301206, 0.29828427090801146, -0.24478241933333478, 0.4278695436350979, -0.35164677201967853, 0.2850653274337215, -0.10877367329607857, 0.22656262884131395, -0.0033639110508866255, -0.35755989017190937, -0.4875035409112932, -0.20875495095110486, 0.3681365523680815, 0.05891087085201152, -0.45351596325948107, 0.22353911687648453, -0.45727524440304823, 0.10045305779979663, -0.30917834261387334, 0.4461350863349165, 0.05016469673914836, -0.06685222402739066, 0.0835376029559286, 0.1078548357565543, -0.21514306593700727, 0.2636375970015433, -0.17267770301294483]),
            (65, [-0.3772592141959368, 0.18976712037593557, -0.34725087638382623, 0.3209691137205988, -0.46343710313458286, -0.20476759731342087, 0.08570537655614907, -0.22877046923710298, -0.3953094948114396, -0.3016585508292541, 0.24242450911193447, -0.49630716562768673, -0.29806872325590306, -0.36498500420135827, 0.04957468331877579, 0.3643020411685972, 0.37606582086451945, 0.006364508152637005, -0.11199949751136873, 0.4098351593256574, 0.32623252232279865, 0.2176236615056527, -0.2886686728596115, -0.4804253590975943, 0.09607939121404174, -0.3299089594514645, -0.424277133270361, 0.07576546978560916, -0.3096144843801597, -0.04438897679924447, -0.10415157173485445, -0.4085782645661986, -0.2889757931358591, 0.4363869325238333, -0.35749276355957904, 0.1351743412555485, 0.026334607935214582, 0.17393681703310804, 0.4754662799802226, -0.0813785065808893, 0.22043879873502026, -0.42046262570197124, 0.4072340159065869, -0.4980261851784171, -0.02504864871172463, 0.3362289070275719, 0.38948753709495376, 0.11403294605582848, 0.11162018693981113, 0.2567241019626063, -0.3829542270030828, -0.4033725225081869, -0.18143570501099116, -0.3949031212349391, 0.43052143954065736, 0.27975516642027987, 0.4329314686720559, 0.4201070482053407, 0.43358670107055153, 0.27266392189758903, -0.1965819220141678, 0.3536752402981802, 0.3228815158609184, -0.32700078735939264]),
            (66, [-0.268530135383655, -0.19854121631837685, 0.3131155186139588, 0.046432087900469154, 0.18286218944519006, 0.1630473053263145, 0.10690102536222512, 0.2714444834797063, -0.277205169308132, -0.46244851536668696, -0.35399139435589866, 0.06158062282009069, -0.27760219641530737, 0.033153719878115884, -0.49747000177546863, -0.0774278581077934, -0.49556428909143424, 0.09315927845306571, -0.10325122689779842, 0.3549836090810147, -0.29838381095252353, 0.47735767238646454, 0.2131467341883393, 0.3339207029774883, -0.3095392701486511, 0.31611919039114944, -0.35359223108947235, 0.029952955297415484, 0.44564017326618377, -0.3771970181195061, 0.232388543047086, 0.2751199303285756, 0.33406042812982195, 0.3838540659165004, -0.049715209294559526, 0.29562286764978707, 0.0994994897657564, 0.21111190510023747, -0.4986562191612104, -0.2065432068238554, -0.21751938439058915, 0.3531453300382359, 0.19435765537640715, -0.1379731674157908, -0.009902311109558859, -0.38522841304905064, 0.23426618735686544, 0.22956514129936956, 0.17649439619506213, 0.42200385408211616, -0.37454696943440213, 0.3465134503587083, 0.3849514439573192, -0.135783922604787, -0.019931597355407282, 0.4476134720224729, -0.11502319855892928, 0.42430715016257914, 0.1539038305988495, -0.15847145600056145, 0.08143898553161144, -0.22226623957933223, -0.352276521991317, -0.203227008410785]),
            (67, [-0.23050378836958973, -0.25700874669097595, 0.051858492559026526, -0.3153202067116603, 0.1435921528332882, 0.27329642715859703, -0.07552074745738124, -0.13723780909129468, -0.30684364822549315, -0.331371338440933, -0.37804724274007073, -0.15623744678981488, -0.05568707408455831, -0.13001085314719496, 0.3323525971976715, 0.03879122344641206, -0.03713630794998435, 0.3695192972355782, 0.4781805708657316, 0.4231656368170579, 0.09631971414776885, 0.4537121487282261, -0.4225204006633847, -0.25227286750434885, -0.204804820416851, 0.4146313712425155, 0.016878988210257795, -0.3477389190511364, 0.24850820088867942, 0.1946642586736107, 0.17931854195992003, 0.490402849058709, 0.4014481595347781, 0.27047205096094296, -0.017788902864933398, 0.3074679581560559, -0.44640408751770133, -0.15349129792849803, -0.23967129983554658, 0.18313307419465819, 0.06165104270119248, 0.19244475686523754, 0.24002099926810283, 0.40273611923188835, 0.2583562795672869, -0.24533251562941372, -0.27027288411174, 0.4715386563044298, 0.028842835146376755, -0.4721314197756037, 0.133392187738412, 0.4325285989527631, -0.0493931659217316, 0.18701082163946914, -0.4812158901303728, -0.16437135897563193, -0.45537969020774705, -0.0031644076313700475, -0.35294692625008606, 0.10116182517320271, 0.20741503645305193, -0.019431526843977087, 0.2978867425122055, 0.16833235703886906]),
            (68, [-0.15395822626613997, 0.16716060440112546, 0.18089515535129985, 0.4572495518031692, -0.18628558912494142, 0.11782511711176302, 0.12493704475823464, 0.210200034302377, 0.49223962788720976, 0.048614165583042324, 0.4339460230225718, -0.052238315863524565, -0.32822880542424726, 0.3551014300352816, 0.21097181413675692, -0.0003873577674841089, -0.09703605676111837, -0.2180907791694625, -0.37536690601560097, -0.32963674352357375, -0.1349817507582851, 0.34291513310167476, -0.06151477586912246, 0.13292377600105643, 0.10197496251861027, 0.4123528759999603, 0.10648810280712306, -0.48488458575484017, 0.32133686361061664, 0.25915533788519174, -0.09389955259452165, 0.3350381819593057, -0.05014719412050328, 0.19545216831537093, -0.14095320141527068, 0.49016128424299643, 0.09704927784506456, -0.42324802463090805, -0.4926031279878824, -0.34864664740907036, 0.09856189871533938, 0.13243366407529356, -0.08374573647177441, -0.4328396928299977, -0.0325860800616139, -0.4684626285610385, -0.32546587255103643, 0.23151877253973863, -0.14167991010874126, 0.21516519357716224, 0.4131714354554259, -0.04831154308950014, 0.12174275617725361, -0.20104388280740915, -0.4401192263416712, 0.030918876814137852, -0.04241241351741698, 0.31275020218233474, 0.46261185469297383, 0.3571655636389771, 0.3746847717578873, 0.08410378199000956, 0.01371578620050884, -0.35334661192465244]),
            (69, [0.16632834992818668, -0.1850458039741143, -0.4014951620056707, -0.16083024399068813, 0.49501302047076157, 0.39595577128047055, -0.08958455329200798, 0.15386601107467324, 0.43166128787844593, 0.05355377171771081, 0.03295908809723169, 0.49743118626501404, -0.0552158233714265, -0.039329688831861054, 0.044311377306512356, -0.28772116083236543, 0.2358254017750009, -0.4056860466011494, -0.4283175363713714, -0.2507206729671546, -0.3813989929409686, -0.32738075004596134, 0.47543060524667735, 0.03299541200119516, -0.19896786559009116, -0.36242673912657786, -0.36496604740294714, -0.15786986293772243, 0.18483923121309098, -0.011933262692502944, 0.47443298002982437, 0.2484860777962401, -0.13582021730414673, -0.12672062635379444, 0.37504391232473844, -0.08699052627465143, -0.19748691530407236, -0.03580196068503261, 0.2722011665921662, -0.02358813776761337, -0.2074955667928584, 0.0922847432228261, 0.01893086424721968, 0.15799875242214623, -0.07404156649250127, 0.15641246871677394, 0.34992388763997595, -0.09075008586225408, 0.0891450325436054, 0.057501376887665545, -0.11202352532045656, 0.4509777681229351, -0.2875589530726854, 0.18786888171206084, 0.16073307526336522, -0.1777219474060513, 0.2176976682965136, -0.48832036147181257, 0.24554512979838772, -0.4338891656545685, -0.3682691735106538, -0.4012128254218893, -0.47889698799508496, 0.31575702853815535]),
            (70, [-0.30007318732246346, -0.28787331466265653, 0.25856744835109846, 0.27964727339145834, 0.30517326331312633, 0.15931199505128646, -0.11398380362012972, 0.24481666558047244, -0.09777477072102558, -0.4352924859378138, 0.48565629885877315, -0.28762959662223386, -0.08651233111860634, 0.03357728624220546, -0.41417773455541584, 0.39323166990873504, -0.05783432021380763, -0.1172260112091682, -0.25828606453617575, -0.4852466115322721, 0.04930096412837626, 0.3787336573464398, 0.39011746164723926, 0.05514098942456591, 0.23934786383180195, -0.2856248427544641, -0.31711431953422353, 0.2552518059704817, -0.374493156378661, 0.30152080935311754, 0.23921136337737592, 0.022173330496542798, 0.4104047098859126, 0.36230315859094697, 0.39955151062519123, 0.3238559760984613, 0.316616437126632, 0.2781597503863277, 0.09331233511623604, 0.3235437610297579, -0.4667801073119524, 0.08689263853763352, 0.43744570337738575, 0.4373287168896879, -0.27237069235451006, -0.31052573947271067, -0.32480527311379437, 0.18606097628760554, 0.4860101240644036, -0.4111055960641845, 0.27599652931783947, 0.15299222908425036, -0.11038345297043783, 0.1333174874978703, -0.40607049693748554, -0.3257387043371631, 0.026113346109331803, -0.07010531272307396, -0.08093559391734062, 0.1228905658216547, -0.44696769226309807, -0.40018831877268235, 0.14688985305164326, 0.18536909223235465]),
            (71, [0.22967960196255044, 0.4398155009652438, -0.10752407031696676, 0.48351916337371637, 0.14059044861123637, -0.005389552886960303, -0.28906251738359234, -0.10991978845457251, -0.0408976206460242, 0.44825682255244614, -0.2501578476549624, -0.3719289535270103, 0.28329083645607755, 0.3137615860120253, 0.20546066274525177, 0.3328068720395634, -0.2962679184635082, 0.12178247725858227, -0.32033183291169676, 0.15502970111591463, 0.17600965257593937, 0.09820219620106407, -0.3053424128193021, -0.3469078016462539, 0.02474260125377914, -0.22900468380226746, -0.4357953189683109, -0.16696636376050633, 0.389481879564903, -0.3754816274896041, -0.2969720694530209, -0.012341656533325085, -0.3915504656841913, 0.41863740219955803, -0.28657558962591734, 0.2093280218669441, -0.3155232801166593, 0.29568121560584815, 0.4624703832074418, 0.48005331012961716, -0.03858769525091499, 0.14881321563311933, 0.30668181504654823, 0.3384984649179681, -0.37492958812792443, 0.4972551562579538, -0.43204305045384306, -0.03140692815895252, 0.19696047417250395, -0.4941987828891833, 0.31510532130109625, -0.4405167841403962, -0.0445491952450664, 0.10480953293207085, -0.41888257743687185, 0.32679318522497325, -0.3596799789069006, 0.474656320542141, 0.22208957337415547, -0.29812157803936024, -0.068213167929149, 0.16384019495018398, -0.15662491499363873, 0.444959326978285])
        ) AS t(pid, pln)
    ),
    bits AS (
        SELECT c.vec_id, p.pid,
               list_reduce(list_transform(range(1, 65),
                   i -> c.v[i] * p.pln[i]), (a, b) -> a + b) >= 0 AS bit
        FROM corpus c, planes p
    ),
    bands AS (
        SELECT vec_id, pid // 12 AS band,
               SUM(CASE WHEN bit THEN 1 << (11 - (pid % 12))
                   ELSE 0 END) AS val
        FROM bits GROUP BY vec_id, pid // 12
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
            ON a.band = b.band AND a.val = b.val
               AND a.vec_id < b.vec_id
    ),
    nr AS (
        SELECT vec_id, v,
               sqrt(list_reduce(list_transform(v, x -> x * x),
                    (a, b) -> a + b)) AS nrm
        FROM corpus
    )
    SELECT cand.vec_a, cand.vec_b,
           round(list_reduce(list_transform(range(1, 65),
                     i -> ca.v[i] * cb.v[i]), (a, b) -> a + b)
                 / (ca.nrm * cb.nrm), 4) AS cosine
    FROM cand
    JOIN nr ca ON ca.vec_id = cand.vec_a
    JOIN nr cb ON cb.vec_id = cand.vec_b
    WHERE round(list_reduce(list_transform(range(1, 65),
                    i -> ca.v[i] * cb.v[i]), (a, b) -> a + b)
                / (ca.nrm * cb.nrm), 4) >= 0.95
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH (SimHash for
    vectors): sign(plane . emb) gives a 72-bit signature whose bits
    agree with probability 1 - theta/pi; band into 6x12 bits and two
    vectors become candidates iff they share a band value. Candidates
    then pay one exact cosine check >= 0.95.

    Scale shape — this is the answer to "blocked all-pairs doesn't
    scale": candidate generation is ONE equi-join on (band, value)
    whose collision probability for unrelated vectors is ~6/4096
    (~0.15% of the pair space), concentrated on true near-dups
    (12-bit band agreement at planted cosine ~0.98 is ~0.4, any of 6
    bands ~95%). Signatures come from one Arrow-batched numpy matmul
    (map-only — the vectorized-math slot where pandas_udf beats
    interpreted HOF dots ~4x); no all-pairs stage exists anywhere in
    the plan. dedup_embedding_cosine's capped label blocks remain as
    the exact-verification tail for in-cell pairs; THIS op is the
    global candidate source at 100 TB.

    Shuffle discipline: the band join moves only (vec_id, band, val)
    scalars; candidate pairs dedup on 2 longs BEFORE verification; the
    embedding arrays are fetched once per side by vec_id equi-join for
    the exact cosine. Net array movement is 2 copies of the corpus,
    versus 2 x bands copies if arrays rode the band shuffle.

    Oracle (round 3): the hyperplanes are a deterministic LCG model
    parameter, so they embed as VALUES literals in the DuckDB twin,
    which replays the whole pipeline — planted twins, sign bits, band
    values, collisions, cosine verification — bit-for-bit (sign
    flips would need |dot| within float-fold reordering error of 0,
    probability ~0 for continuous data)."""
    cand = _lsh_candidates(spark).dropDuplicates(["vec_a", "vec_b"])
    sig = _lsh_signed(spark)
    slim_a = sig.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    slim_b = sig.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # Deliberately the HOF fold, NOT dot_unrolled: the `.where` below is
    # pushed INTO the final broadcast join as its join condition, and
    # join conditions (and projections fused into a join's output stage)
    # evaluate INTERPRETED — walking the 384-node unrolled tree per
    # candidate row loses to the HOF's native 3-node loop there. This is
    # the same refined rule as dedup_semdedup's pair_cos; measured under
    # the bench protocol (keep-persisted, warm, interleaved 5-sample
    # medians): unrolled 1.400 s / unrolled-behind-a-pushdown-barrier
    # 1.363 s / HOF 0.879 s — and the r14 driver bench confirmed the
    # unrolled form as the one real r13 regression (1.195 -> 1.540 s).
    cosine = F.round(
        F.aggregate(
            F.zip_with("emb_a", "emb_b", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("nrm_a") * F.col("nrm_b")),
        4,
    )
    return (
        cand.join(slim_a, "vec_a")
        .join(slim_b, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= _LSH_VERIFY_COSINE)
    )


@query(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (
        SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id
        FROM reach GROUP BY a
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN
          (SELECT doc_id FROM labels WHERE cluster_id <> doc_id)
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end near-dup dedup DELIVERABLE: the corpus that
    remains after pair generation (prefix-filtered blocked jaccard) ->
    transitive clustering (min-label propagation) -> keep one canonical
    document per cluster (the lowest doc_id — deterministic, so a
    rerun or a different cluster keeps the same survivors). Composes
    the standalone stages (dedup_ngram_jaccard,
    dedup_connected_components) into the thing a user actually ships
    to training.

    Scale shape: everything upstream is the stages' own (documented)
    shapes; the final step is one LEFT ANTI hash join of documents
    against the (small) non-canonical id set — at 100 TB that id list
    is a fraction of corpus row count and joins on a bare bigint."""
    labels = dedup_connected_components(spark, sf_dir)
    dupes = labels.where(~F.col("is_canonical")).select("doc_id")
    return (
        spark.table("documents")
        .join(dupes, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): any repeated run of >= K tokens is a
# duplicate span, wherever it starts. The original uses a single-node
# suffix array; the distributed re-expression is stride-1 window
# hashing — one window per token position, so it stays LINEAR in corpus
# size — followed by gaps-and-islands coalescing of adjacent duplicated
# windows into maximal spans.
# ---------------------------------------------------------------------------

_SPAN_K = 8  # window width in tokens; a repeated span must cover >= K


@query(
    "dedup_exact_substring",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ),
    wins AS (
        SELECT doc_id, CAST(i AS BIGINT) AS s,
               md5(array_to_string(t[i : i + {_SPAN_K} - 1], ' ')) AS h
        FROM toks, unnest(range(1, len(t) - {_SPAN_K} + 2)) AS u(i)
        WHERE len(t) >= {_SPAN_K}
    ),
    ranked AS (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
        FROM wins
    ),
    dup AS (
        SELECT doc_id, s,
               s - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s)
                   AS grp
        FROM ranked WHERE rn > 1
    )
    SELECT doc_id,
           MIN(s) AS span_start,
           CAST(MAX(s) + {_SPAN_K} - 1 AS BIGINT) AS span_end,
           CAST(MAX(s) - MIN(s) + {_SPAN_K} AS BIGINT) AS span_tokens,
           COUNT(*) AS n_windows
    FROM dup
    GROUP BY doc_id, grp
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document — the sliding-window
    complement of ``dedup_chunk_crosscorpus``: chunking only catches
    aligned repeats, while a stride-1 window catches a repeated run at
    ANY offset. A window is a duplicate when its K-token hash occurred
    earlier corpus-wide (first occurrence = lowest (doc_id, start), a
    total engine-independent order, and is kept); runs of adjacent
    duplicated windows coalesce into one maximal span via
    gaps-and-islands (start minus per-doc rank is constant within a
    run). Downstream masks/cuts ``[span_start, span_end]`` instead of
    dropping whole documents.

    Scale shape: one window-hash row per token position — linear, the
    same asymptotics as tokenization itself (the suffix array the
    original paper builds is single-node and does not distribute). The
    shuffle key is unhex(md5(window)) — the 16-byte binary digest, not
    the 32-char hex string (r14 wave 7, guide §2.3/§6 narrower shuffle
    rows: unhex is a bijection on md5 output, so the window partitions
    and row_number ranks are untouched, but the dominant exchange row
    narrows 40->24 bytes of key payload; measured 10.13 -> 6.81 MB
    shuffle written at sf0.1, rows identical). Window TEXT never
    moves. Then the island coalescing shuffles only the duplicated
    subset on doc_id. Two bounded shuffles, both on narrow keys — the
    same plan at 100 TB."""
    d = spread(spark.table("documents"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    wins = (
        d.where(n >= _SPAN_K)
        .select(
            "doc_id",
            toks.alias("t"),
            F.explode(
                F.sequence(F.lit(1), n - _SPAN_K + 1)
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s").cast("bigint").alias("s"),
            F.unhex(
                F.md5(
                    F.array_join(
                        F.slice("t", F.col("s"), _SPAN_K), " "
                    ).cast("binary")
                )
            ).alias("h"),
        )
    )
    w_first = Window.partitionBy("h").orderBy("doc_id", "s")
    dup = (
        wins.select("doc_id", "s", F.row_number().over(w_first).alias("rn"))
        .where(F.col("rn") > 1)
    )
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    return (
        dup.select(
            "doc_id",
            "s",
            (F.col("s") - F.row_number().over(w_doc)).alias("grp"),
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("s").alias("span_start"),
            (F.max("s") + _SPAN_K - 1).cast("bigint").alias("span_end"),
            (F.max("s") - F.min("s") + _SPAN_K)
            .cast("bigint")
            .alias("span_tokens"),
            F.count("*").alias("n_windows"),
        )
        .select(
            "doc_id", "span_start", "span_end", "span_tokens", "n_windows"
        )
    )


_SEMDEDUP_TAU = 0.4


def _semdedup_oracle(cap: int, tau: float) -> str:
    return f"""
    WITH norms AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
               {sub_bucket_sql("vec_id", "label", cap)} AS sub
        FROM embeddings
    ),
    cent AS (
        SELECT label, i AS pos,
               CAST(SUM(CAST(CAST(list_extract(embedding, i) AS DOUBLE)
                             AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS c
        FROM embeddings, unnest(range(1, 65)) AS u(i)
        GROUP BY label, i
    ),
    centv AS (
        SELECT label, list(c ORDER BY pos) AS cv
        FROM cent GROUP BY label
    ),
    scored AS (
        SELECT n.vec_id, n.label, n.v, n.nrm, n.sub,
               round(
                 list_sum(list_transform(range(1, 65),
                     i -> list_extract(n.v, i) * list_extract(cv, i)))
                 / (n.nrm * sqrt(list_sum(list_transform(cv, x -> x * x)))),
                 4) AS centrality
        FROM norms n JOIN centv USING (label)
    ),
    losers AS (
        SELECT DISTINCT
               CASE WHEN (a.centrality > b.centrality)
                      OR (a.centrality = b.centrality
                          AND a.vec_id < b.vec_id)
                    THEN b.vec_id ELSE a.vec_id END AS vec_id
        FROM scored a JOIN scored b
          ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
        WHERE round(
                list_sum(list_transform(range(1, 65),
                    i -> list_extract(a.v, i) * list_extract(b.v, i)))
                / (a.nrm * b.nrm), 4) >= {tau}
    )
    SELECT s.vec_id, s.label, s.centrality,
           s.vec_id IN (SELECT vec_id FROM losers) AS is_dropped
    FROM scored s
    """


@query(
    "dedup_semdedup",
    oracle=_semdedup_oracle(BLOCK_CAP, _SEMDEDUP_TAU),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication inside
    embedding clusters. Within each cluster (label = the k-means cell
    stand-in), any pair with cosine >= tau is a semantic duplicate;
    the pair member preferred by (centrality-to-centroid, vec_id)
    survives and the other is marked dropped. Centrality is rounded to
    4dp BEFORE the preference comparison so both engines make the same
    keep decision at ties.

    Scale shape: centroids are a constant (ncells x dim) columnar
    reduce broadcast back to the scan; the pairwise stage reuses the
    guarded block cap (pipeline/blocks.py) so one hot cluster cannot
    go quadratic; the shuffle carries (label, sub) blocks of
    64-double vectors — the same bounded-candidate plan as
    dedup_embedding_cosine plus one broadcast."""
    e = spark.table("embeddings")
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(emb_d, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    width = F.count("*").over(Window.partitionBy("label"))
    norms = e.select(
        "vec_id",
        "label",
        emb_d.alias("v"),
        nrm.alias("nrm"),
        sub_bucket(F.col("vec_id"), width, BLOCK_CAP).alias("sub"),
    )
    cent_long = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("double").cast("decimal(18,6)"))
                .cast("double")
                / F.count("*")
            ).alias("c")
        )
    )
    centv = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    cdot = dot_unrolled("v", "cv", _LSH_DIM)
    cnorm = F.sqrt(
        F.aggregate(F.col("cv"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = norms.join(F.broadcast(centv), "label").select(
        "vec_id",
        "label",
        "v",
        "nrm",
        "sub",
        F.round(cdot / (F.col("nrm") * cnorm), 4).alias("centrality"),
    )
    # scored feeds three consumers (both sides of the pair join + the
    # final flag join); persist so the centroid reduce and the scan
    # run once — signature/centrality materialization is the standard
    # move before any pairwise ANN stage (cost: ncells*dim doubles per
    # row, dwarfed by recomputing the reduce per consumer). Cached
    # pre-partitioned on the block key with a cores-derived count: the
    # pair join below then exchanges neither side, and — the q43/q56
    # lesson — the pair stage does O(block²) interpreted cosine work
    # per input byte, so AQE's byte-based coalescing (seeing a ~MB
    # cache) had collapsed it to ONE task (profiled: a single 678 ms
    # serial stage carrying essentially the whole query's compute).
    n_parts = spark.sparkContext.defaultParallelism
    scored = track_persist(scored.repartition(n_parts, "label", "sub"))
    a, b = scored.alias("a"), scored.alias("b")
    # Deliberately the HOF form, NOT dot_unrolled: this cosine is a
    # JOIN-CONDITION predicate (the .where below is pushed into the
    # SortMergeJoin), and join conditions evaluate interpreted —
    # outside whole-stage codegen — where one zip_with/aggregate loop
    # (a 3-node lambda iterated natively) beats walking a 384-node
    # unrolled expression tree per candidate row. Measured: the
    # unrolled form here regressed q28 2.2 -> 3.5-7 s across three
    # interleaved A/B rounds; dot_unrolled wins only in codegen'd
    # Project contexts (q25's verify cosine, the centrality cdot).
    pair_cos = F.round(
        F.aggregate(
            F.zip_with("a.v", "b.v", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("a.nrm") * F.col("b.nrm")),
        4,
    )
    a_wins = (F.col("a.centrality") > F.col("b.centrality")) | (
        (F.col("a.centrality") == F.col("b.centrality"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    losers = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(pair_cos >= _SEMDEDUP_TAU)
        .select(
            F.when(a_wins, F.col("b.vec_id"))
            .otherwise(F.col("a.vec_id"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return scored.join(losers, "vec_id", "left").select(
        "vec_id",
        "label",
        "centrality",
        F.coalesce("is_dropped", F.lit(False)).alias("is_dropped"),
    )


# ---------------------------------------------------------------------------
# Canonical-URL dedup — the provenance-level pass crawl pipelines run
# BEFORE any content hashing: the same page arrives under scheme/case/
# www/port/tracking-param/fragment variants, and collapsing them is
# pure string normalization, no content comparison at all.
# ---------------------------------------------------------------------------

_URL_DEDUP_ORACLE = """
WITH urls AS (
    SELECT doc_id,
           CASE doc_id % 3
               WHEN 0 THEN 'example.org' WHEN 1 THEN 'www.Example.org'
               ELSE 'EXAMPLE.ORG:443' END
           || '/articles/' || CAST(doc_id % 200 AS VARCHAR)
           || CASE doc_id % 4
               WHEN 0 THEN '?utm_source=feed'
               WHEN 1 THEN '#section-2' ELSE '' END AS url
    FROM documents
),
canon AS (
    SELECT doc_id,
           'https://' ||
           regexp_replace(
               regexp_replace(
                   lower(regexp_extract(url, '^([^/?#]+)', 1)),
                   '^www\\.', ''),
               ':443$', '')
           || regexp_extract(url, '^[^/?#]+(/[^?#]*)', 1)
               AS canonical_url
    FROM urls
)
SELECT canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dupes_dropped
FROM canon
GROUP BY canonical_url
"""


@query("dedup_url_canonical", oracle=_URL_DEDUP_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: normalize host case, strip a leading
    ``www.``, the default ``:443`` port, tracking query params and
    fragments, then keep the lowest doc_id per canonical URL. The URL
    column is synthesized deterministically from doc_id (the testdata
    has no URL column) with exactly the variant classes real crawls
    produce, so ~3 raw URLs collapse per canonical page.

    Scale shape: map-only normalization (regexp in whole-stage
    codegen) + one hash aggregation on the canonical string — the
    cheapest possible dedup pass, which is why it runs FIRST in a
    crawl pipeline, before MinHash touches content."""
    d = spark.table("documents")
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("example.org"))
        .when(F.col("doc_id") % 3 == 1, F.lit("www.Example.org"))
        .otherwise(F.lit("EXAMPLE.ORG:443"))
    )
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 4 == 1, F.lit("#section-2"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        host,
        F.lit("/articles/"),
        (F.col("doc_id") % 200).cast("string"),
        tail,
    )
    canon = F.concat(
        F.lit("https://"),
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.regexp_extract(url, r"^([^/?#]+)", 1)),
                r"^www\.",
                "",
            ),
            r":443$",
            "",
        ),
        F.regexp_extract(url, r"^[^/?#]+(/[^?#]*)", 1),
    )
    return (
        d.select(canon.alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            (F.count(F.lit(1)) - 1).alias("n_dupes_dropped"),
        )
    )


_CONTAINMENT_THRESHOLD = 0.50


@query(
    "dedup_containment",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               CAST(n_chars // 64 AS INTEGER) AS len_bucket,
               string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, source, len_bucket,
               CASE WHEN len(t) >= 2 THEN
                   list_distinct(
                       list_transform(
                           range(1, len(t)),
                           i -> list_extract(t, i) || ' '
                              || list_extract(t, i + 1)
                       )
                   )
               ELSE list_distinct(t) END AS shingles
        FROM toks
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS common,
               len(a.shingles) AS sz_a, len(b.shingles) AS sz_b
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source
         AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(common AS DOUBLE)
                 / least(sz_a, sz_b), 6) AS containment
    FROM pairs
    WHERE CAST(common AS DOUBLE) / least(sz_a, sz_b)
          >= {_CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (|A∩B| / min(|A|,|B|) over
    word-bigram shingle sets): catches quote-inclusion and
    doc-inside-doc duplication that symmetric Jaccard under-scores
    whenever the two documents differ in size — the second measure the
    Lee et al. 2022 dedup line runs next to Jaccard. Pairs at
    containment >= 0.5 within (lang, source, length-bucket) blocks.

    Scale shape: shingles computed once (persisted, shared machinery
    with Jaccard). Candidates come from a prefix->FULL posting-list
    join — not the Jaccard prefix->prefix join, whose losslessness
    argument breaks for containment: here only the SMALLER doc is
    guaranteed a prefix hit (if none of its first
    |S| - ceil(t*|S|) + 1 globally-rarest shingles appeared in the
    other doc, the overlap could be at most ceil(t*|S|) - 1 < t*|S|).
    The matching shingle may sit anywhere in the larger doc, so one
    side of the join must stay unfiltered. Joining every doc's prefix
    against every doc's full posting list covers both directions;
    pairs canonicalize via least/greatest + distinct. Costlier than
    prefix->prefix but still posting-list bounded (rare shingles fan
    out, 'the the' does not — prefixes hold the rarest shingles), and
    the exact-score verify touches candidates only."""
    sh = track_persist(_doc_shingles(spark))
    ex = sh.select(
        "doc_id",
        "lang",
        "source",
        "len_bucket",
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("s"),
    )
    doc_freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    ranked = ex.join(doc_freq, "s").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "s")
        ),
    )
    prefix_len = (
        F.col("sz")
        - F.ceil(F.col("sz") * F.lit(_CONTAINMENT_THRESHOLD)).cast("int")
        + 1
    )
    prefix = ranked.where(F.col("rn") <= prefix_len).select(
        "doc_id", "lang", "source", "len_bucket", "s"
    )
    full = ex.select("doc_id", "lang", "source", "len_bucket", "s")
    p = prefix.alias("p")
    f = full.alias("f")
    candidates = (
        p.join(f, ["s", "lang", "source", "len_bucket"])
        .where(F.col("p.doc_id") != F.col("f.doc_id"))
        .select(
            F.least("p.doc_id", "f.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "f.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    containment = common.cast("double") / F.least(
        F.size("sh_a"), F.size("sh_b")
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(containment, 6).alias("containment"),
        )
        .where(F.col("containment") >= _CONTAINMENT_THRESHOLD)
    )


_INCR_DOC_CUTOFF = 400  # doc_id >= cutoff is the "new batch"


@query(
    "dedup_incremental_delta",
    oracle=f"""
    WITH base AS (
        SELECT DISTINCT md5(trim(text)) AS fp FROM documents
        WHERE doc_id < {_INCR_DOC_CUTOFF}
    ),
    delta AS (
        SELECT doc_id, md5(trim(text)) AS fp FROM documents
        WHERE doc_id >= {_INCR_DOC_CUTOFF}
    ),
    marked AS (
        SELECT d.doc_id, d.fp,
               base.fp IS NOT NULL AS dup_of_base,
               ROW_NUMBER() OVER (PARTITION BY d.fp
                                  ORDER BY d.doc_id) AS rn
        FROM delta d LEFT JOIN base ON base.fp = d.fp
    )
    SELECT doc_id,
           dup_of_base,
           rn > 1 AS dup_within_delta,
           NOT dup_of_base AND rn = 1 AS keep
    FROM marked
    """,
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: when a NEW batch arrives, only the
    batch pays — each delta doc is checked against the base corpus's
    fingerprint set (a hash semi-join, no base text rescan in
    production where fingerprints are already materialized) and
    against the rest of its own batch (first-doc_id keep). The
    incremental counterpart of dedup_exact, and the daily-ingest shape
    every growing corpus actually runs: cost O(delta), not O(corpus).

    Spark shape: both sides reduce to md5 fingerprints before any
    shuffle (16 bytes per doc on the wire); the base probe is a LEFT
    join on the fingerprint key and the within-delta keep is one
    window over the same fingerprint partitioning — Catalyst runs
    both on a single (fp) exchange per side. At 100 TB the base
    fingerprint table is the persisted artifact of the previous run;
    here it derives from the same documents table split at
    doc_id {_INCR_DOC_CUTOFF}."""
    d = spark.table("documents").select(
        "doc_id", F.md5(F.trim(F.col("text"))).alias("fp")
    )
    base = (
        d.where(F.col("doc_id") < _INCR_DOC_CUTOFF)
        .select(F.col("fp").alias("base_fp"))
        .distinct()
    )
    delta = d.where(F.col("doc_id") >= _INCR_DOC_CUTOFF)
    w = Window.partitionBy("fp").orderBy("doc_id")
    marked = (
        delta.join(base, delta.fp == base.base_fp, "left")
        .select(
            "doc_id",
            "fp",
            F.col("base_fp").isNotNull().alias("dup_of_base"),
            F.row_number().over(w).alias("rn"),
        )
    )
    return marked.select(
        "doc_id",
        "dup_of_base",
        (F.col("rn") > 1).alias("dup_within_delta"),
        (~F.col("dup_of_base") & (F.col("rn") == 1)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation composite: the chain a real 100 TB pre-training
# run executes as ONE declarative plan — cheap dedup first (URL
# canonicalization, map-only), then exact content fingerprints (hash
# shuffle), then MinHash-LSH near-dup clustering (the only stage with a
# candidate-pair term, already sub-quadratic), and finally sequence
# packing of the survivors into 512-token training bins. Each stage
# exists as a standalone driver-verified key (dedup_url_canonical,
# dedup_exact, dedup_minhash_lsh, dedup_connected_components,
# pack_sequences); this key proves they COMPOSE — the ordering is the
# cost ladder: each stage only pays for what the cheaper stages left.
# ---------------------------------------------------------------------------


def _curation_stage_ctes() -> str:
    """SQL CTE chain urls -> canonu -> s1 -> fp -> s2 -> (minhash) ->
    cc_edges -> reach -> labels -> s3: the survivor ladder both the e2e
    composite and the funnel report replay. Must be placed inside a
    WITH RECURSIVE (reach is recursive)."""
    return rf"""urls AS (
        SELECT doc_id,
               CASE doc_id % 3
                   WHEN 0 THEN 'example.org' WHEN 1 THEN 'www.Example.org'
                   ELSE 'EXAMPLE.ORG:443' END
               || '/articles/' || CAST(doc_id % 200 AS VARCHAR)
               || CASE doc_id % 4
                   WHEN 0 THEN '?utm_source=feed'
                   WHEN 1 THEN '#section-2' ELSE '' END AS url
        FROM documents
    ),
    canonu AS (
        SELECT doc_id,
               'https://' ||
               regexp_replace(
                   regexp_replace(
                       lower(regexp_extract(url, '^([^/?#]+)', 1)),
                       '^www\.', ''),
                   ':443$', '')
               || regexp_extract(url, '^[^/?#]+(/[^?#]*)', 1)
                   AS canonical_url
        FROM urls
    ),
    s1 AS (
        SELECT d.* FROM documents d JOIN (
            SELECT doc_id, row_number() OVER (
                PARTITION BY canonical_url ORDER BY doc_id) AS rn
            FROM canonu
        ) r USING (doc_id) WHERE r.rn = 1
    ),
    fp AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        FROM s1
    ),
    s2 AS (
        SELECT s1.* FROM s1 JOIN (
            SELECT doc_id, row_number() OVER (
                PARTITION BY f ORDER BY doc_id) AS rn
            FROM fp
        ) r USING (doc_id) WHERE r.rn = 1
    ),
    {_minhash_sql_ctes('s2')},
    cc_edges AS (
        SELECT doc_a AS a, doc_b AS b FROM mh_pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM mh_pairs
    ),
    reach AS (
        SELECT a, b FROM cc_edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN cc_edges e ON r.b = e.a
    ),
    labels AS (
        SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id
        FROM reach GROUP BY a
    ),
    s3 AS (
        SELECT * FROM s2
        WHERE doc_id NOT IN
              (SELECT doc_id FROM labels WHERE cluster_id <> doc_id)
    )"""


def _curation_stages(spark: SparkSession):
    """Spark-side survivor ladder (s1, s2, s3) shared by the e2e
    composite and the funnel report. s2 is persisted: it feeds both
    the shingle/LSH branch and the survivor anti-join — without the
    persist each branch re-scans the corpus and re-runs both dedup
    windows. At 100 TB the equivalent move is materializing the
    exact-dedup survivors to parquet between pipeline phases."""
    d = spark.table("documents")
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("example.org"))
        .when(F.col("doc_id") % 3 == 1, F.lit("www.Example.org"))
        .otherwise(F.lit("EXAMPLE.ORG:443"))
    )
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 4 == 1, F.lit("#section-2"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        host,
        F.lit("/articles/"),
        (F.col("doc_id") % 200).cast("string"),
        tail,
    )
    canon = F.concat(
        F.lit("https://"),
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.regexp_extract(url, r"^([^/?#]+)", 1)),
                r"^www\.",
                "",
            ),
            r":443$",
            "",
        ),
        F.regexp_extract(url, r"^[^/?#]+(/[^?#]*)", 1),
    )
    w_url = Window.partitionBy("canonical_url").orderBy("doc_id")
    s1 = (
        d.withColumn("canonical_url", canon)
        .withColumn("rn", F.row_number().over(w_url))
        .where(F.col("rn") == 1)
        .drop("canonical_url", "rn")
    )
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    w_fp = Window.partitionBy("f").orderBy("doc_id")
    s2 = track_persist(
        s1.withColumn("f", F.md5(norm))
        .withColumn("rn", F.row_number().over(w_fp))
        .where(F.col("rn") == 1)
        .drop("f", "rn")
    )
    sh = track_persist(
        spread(s2).select("doc_id", _shingle_expr().alias("shingles"))
    )
    pairs = _minhash_pairs(sh).select("doc_a", "doc_b")
    labels = _min_label_components(pairs)
    dupes = labels.where(F.col("lab") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    s3 = s2.join(dupes, "doc_id", "left_anti")
    return s1, s2, s3


def _curation_e2e_oracle() -> str:
    return rf"""
    WITH RECURSIVE {_curation_stage_ctes()},
    toks3 AS (
        SELECT source, doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tok
        FROM s3
    ),
    cum AS (
        SELECT source, doc_id, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok
                   AS tok_before
        FROM toks3
    )
    SELECT source,
           CAST(floor(tok_before / 512.0) AS INTEGER) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM cum
    GROUP BY source, bin
    ORDER BY source, bin
    """


@query("pipeline_curation_e2e", oracle=_curation_e2e_oracle())
def pipeline_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel, composed: URL-canonical dedup ->
    exact-fingerprint dedup -> MinHash-LSH near-dup clustering (min
    doc_id kept per transitive cluster) -> 512-token sequence-packing
    manifest of the survivors, per source. The output is the shard
    manifest a training data loader consumes; its token sums depend on
    every upstream survivor decision, so the hash check verifies the
    WHOLE chain.

    Scale shape is the cost ladder every crawl pipeline uses: the
    map-only URL normalization and the (hash, id) exact-dedup shuffle
    run over the full corpus; the CPU-heavy shingling + LSH banding
    only over exact-level survivors; exact-jaccard verification only
    over band-colliding candidates; min-label propagation only over
    verified pairs; the packing window only over final survivors. No
    stage recomputes an earlier stage's work (the survivor frame
    carries text forward), and no stage is quadratic in the corpus."""
    _s1, _s2, s3 = _curation_stages(spark)
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = s3.select("source", "doc_id", n_tok.alias("n_tok")).select(
        "source",
        "doc_id",
        "n_tok",
        (F.sum("n_tok").over(w_pack) - F.col("n_tok")).alias("tok_before"),
    )
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("tok_before") / 512.0).cast("int").alias("bin"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "bin")
    )



def _funnel_report_oracle() -> str:
    return rf"""
    WITH RECURSIVE {_curation_stage_ctes()}
    SELECT d.source,
           COUNT(*) AS n_raw,
           CAST(COUNT(*) FILTER (s1.doc_id IS NOT NULL) AS BIGINT)
               AS n_after_url,
           CAST(COUNT(*) FILTER (s2.doc_id IS NOT NULL) AS BIGINT)
               AS n_after_exact,
           CAST(COUNT(*) FILTER (s3.doc_id IS NOT NULL) AS BIGINT)
               AS n_after_neardup,
           round(CAST(COUNT(*) FILTER (s3.doc_id IS NOT NULL) AS DOUBLE)
                 / COUNT(*), 6) AS keep_rate
    FROM documents d
    LEFT JOIN s1 ON s1.doc_id = d.doc_id
    LEFT JOIN s2 ON s2.doc_id = d.doc_id
    LEFT JOIN s3 ON s3.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """


@query("dedup_funnel_report", oracle=_funnel_report_oracle())
def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attribution report for the curation funnel: per source,
    how many documents survive each dedup stage (URL-canonical ->
    exact fingerprint -> MinHash near-dup) and the final keep rate —
    the observability table every production curation run publishes
    next to its output (it is how you notice one crawler feeding 90%
    duplicates). Reuses pipeline_curation_e2e's exact stage
    definitions, so the report provably describes the shipped funnel.

    Scale shape: identical to the composite's ladder, plus three
    LEFT SEMI-shaped id joins and one per-source rollup — id-only
    shuffles on top of work the funnel already does; at 100 TB the
    survivor id sets are emitted as a side product of the funnel run
    itself."""
    d = spark.table("documents")
    s1, s2, s3 = _curation_stages(spark)

    def flag(stage: DataFrame, name: str) -> DataFrame:
        return stage.select("doc_id", F.lit(True).alias(name))

    joined = (
        d.select("source", "doc_id")
        .join(flag(s1, "in1"), "doc_id", "left")
        .join(flag(s2, "in2"), "doc_id", "left")
        .join(flag(s3, "in3"), "doc_id", "left")
    )
    n3 = F.count(F.when(F.col("in3"), 1))
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_raw"),
            F.count(F.when(F.col("in1"), 1)).alias("n_after_url"),
            F.count(F.when(F.col("in2"), 1)).alias("n_after_exact"),
            n3.alias("n_after_neardup"),
            F.round(
                n3.cast("double") / F.count("*"), 6
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


def _minhash_estimate_oracle() -> str:
    eq_sum = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
    )
    return f"""
    WITH {_minhash_sql_ctes('documents')}
    SELECT p.doc_a, p.doc_b,
           round(({eq_sum}) / {_MINHASH_K}.0, 6) AS est_jaccard,
           round(p.jaccard, 6) AS exact_jaccard,
           round(abs(({eq_sum}) / {_MINHASH_K}.0 - p.jaccard), 6)
               AS abs_err
    FROM mh_pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    """


@query("dedup_minhash_estimate", oracle=_minhash_estimate_oracle())
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard ESTIMATION for the banded candidates:
    est = fraction of the 16 minhash components that agree — the
    unbiased estimator every production MinHash deployment actually
    serves (at 100 TB you rank/threshold on the estimate and reserve
    the exact shingle intersection for audits). Emits estimate, exact,
    and absolute error per surviving pair, so the driver hash check
    pins the estimator itself, not just the pair set.

    Scale shape: identical to dedup_minhash_lsh up to the candidate
    set (map-side MIN partials, banded bucket join); the estimate adds
    only two signature-row joins on the bare doc ids — 16 longs per
    side — where the exact path re-joins full shingle arrays. The
    persisted shingle frame is shared with the verification join, so
    shingling still happens once."""
    sh = track_persist(
        _doc_shingles(spark).select("doc_id", "shingles")
    )
    sig = track_persist(_minhash_signatures(sh))
    pairs = _minhash_pairs(sh, sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(_MINHASH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(_MINHASH_K)],
    )
    eq_sum = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    est = eq_sum / F.lit(float(_MINHASH_K))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(F.col("jaccard"), 6).alias("exact_jaccard"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


# LSH S-curve tuning: every (bands, rows) factorization of the 64-hash
# signature budget, evaluated on a fixed similarity grid.
_LSH_CONFIGS = [(64, 1), (32, 2), (16, 4), (8, 8), (4, 16), (2, 32)]
_LSH_GRID = [round(0.1 * i, 1) for i in range(1, 10)]
_LSH_CFG_SQL = ", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)
_LSH_GRID_SQL = ", ".join(f"({s})" for s in _LSH_GRID)


@query(
    "dedup_lsh_tuning_curve",
    oracle=f"""
    WITH cfg(bands, rows_per_band) AS (VALUES {_LSH_CFG_SQL}),
    grid(s) AS (VALUES {_LSH_GRID_SQL}),
    curve AS (
        SELECT bands, rows_per_band, s,
               {sql_jround(
                   "1.0 - pow(1.0 - pow(s, rows_per_band), bands)", 6)}
                   AS p_candidate,
               {sql_jround(
                   "pow(1.0 / bands, 1.0 / rows_per_band)", 4)}
                   AS threshold_est
        FROM cfg CROSS JOIN grid
    )
    SELECT CAST(bands AS INTEGER) AS bands,
           CAST(rows_per_band AS INTEGER) AS rows_per_band,
           CAST(s AS DOUBLE) AS s,
           p_candidate, threshold_est,
           p_candidate >= 0.9 AS catches,
           p_candidate <= 0.1 AS rejects
    FROM curve
    ORDER BY bands DESC, s
    """,
)
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-tuning advisor: the theoretical S-curve
    P(candidate) = 1 - (1 - s^r)^b for every (b, r) factorization of
    the 64-hash MinHash budget, over a similarity grid — plus each
    config's threshold estimate (1/b)^(1/r). This is the table an
    engineer reads to pick dedup_minhash_lsh's banding before a
    100 TB run: more bands catch lower similarities but admit more
    false candidates (every candidate pair costs a verification
    join). The curve is the Leskovec/Rajaraman/Ullman closed form —
    no data scan at all; the repo's production setting (16 bands x 4
    rows, threshold ~0.5) sits on this curve.

    Scale shape: a constant 6x9 VALUES grid evaluated row-locally —
    zero I/O, zero shuffle beyond the presentation sort. The value is
    the DECISION it encodes, not the compute."""
    # VALUES LocalRelations (values_df): createDataFrame(list) routes
    # through parallelized Python RDDs, so the unhinted crossJoin of
    # two such frames planned an RDD CartesianProduct of 32 x 32
    # Python-worker tasks for 54 constant rows (measured 20 s warm on
    # local[32]; 6.3 s with coalesce(1)+broadcast). As in-plan literal
    # tables the cross join is a codegen'd LocalTableScan nested loop
    # over constants: 0.4 s, zero Python workers, zero jobs.
    cfg = values_df(spark, _LSH_CONFIGS, ["bands", "rows_per_band"])
    grid = values_df(spark, [(s,) for s in _LSH_GRID], ["s"])
    curve = cfg.crossJoin(F.broadcast(grid)).select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        F.col("s").cast("double").alias("s"),
        F.round(
            1.0
            - F.pow(
                1.0 - F.pow(F.col("s"), F.col("rows_per_band")),
                F.col("bands"),
            ),
            6,
        ).alias("p_candidate"),
        F.round(
            F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 4
        ).alias("threshold_est"),
    )
    return curve.select(
        "*",
        (F.col("p_candidate") >= 0.9).alias("catches"),
        (F.col("p_candidate") <= 0.1).alias("rejects"),
    ).orderBy(F.desc("bands"), "s")


_SWEEP_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)
_SWEEP_SQL = ", ".join(f"({t})" for t in _SWEEP_THRESHOLDS)


@query(
    "curation_dedup_threshold_sweep",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               CAST(n_chars // 64 AS INTEGER) AS len_bucket,
               string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, source, len_bucket,
               CASE WHEN len(t) >= 2 THEN
                   list_distinct(
                       list_transform(
                           range(1, len(t)),
                           i -> list_extract(t, i) || ' '
                                || list_extract(t, i + 1)
                       )
                   )
               ELSE list_distinct(t) END AS shingles
        FROM toks
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.shingles, b.shingles))
                     AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 6)
                   AS jaccard
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source
         AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles)))
              >= {_JACCARD_THRESHOLD}
    ),
    n_t AS (SELECT COUNT(*) AS n_docs FROM documents),
    sweep(threshold) AS (VALUES {_SWEEP_SQL})
    SELECT CAST(threshold AS DOUBLE) AS threshold,
           CAST(COUNT(CASE WHEN jaccard >= threshold THEN 1 END)
                AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN jaccard >= threshold
                THEN doc_b END) AS BIGINT) AS n_docs_removed,
           CASE WHEN MAX(n_t.n_docs) > 0 THEN
           CAST(round(CAST(CAST((COUNT(DISTINCT CASE WHEN jaccard >=
                threshold THEN doc_b END) * 100.0 / MAX(n_t.n_docs))
                AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE)
           END AS pct_removed
    FROM sweep CROSS JOIN n_t LEFT JOIN pairs ON TRUE
    GROUP BY threshold
    ORDER BY threshold
    """,
)
def curation_dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup threshold planning table: for each candidate Jaccard
    threshold, how many near-dup pairs exist and how many documents a
    min-id-keep pass would remove (plus the corpus percentage) — the
    what-will-this-cost-me readout an engineer studies BEFORE
    committing a 100 TB dedup run to one threshold (pair with
    dedup_lsh_tuning_curve, which prices the LSH side of the same
    decision). Sweep floors at 0.3 — the prefix filter's losslessness
    bound — so every row is exact.

    Scale shape: the blocked pair stage is computed ONCE (the same
    sub-quadratic prefix-filtered candidates as dedup_ngram_jaccard)
    and the sweep is conditional aggregation over a 4-row threshold
    dimension — thresholds share the pair scan instead of re-running
    it. Jaccards round at 6dp before every compare."""
    sh = track_persist(_doc_shingles(spark))
    candidates = _prefix_filtered_candidates(sh, _JACCARD_THRESHOLD)
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    pairs = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(common.cast("double") / union, 6).alias("jaccard"),
        )
        .where(
            (common.cast("double") / union) >= _JACCARD_THRESHOLD
        )
    )
    n_t = spark.table("documents").agg(F.count("*").alias("n_docs"))
    sweep = values_df(
        spark, [(t,) for t in _SWEEP_THRESHOLDS], ["threshold"]
    )
    joined = sweep.crossJoin(F.broadcast(n_t)).join(
        F.broadcast(pairs), F.lit(True), "left"
    )
    hit = F.col("jaccard") >= F.col("threshold")
    return (
        joined.groupBy("threshold")
        .agg(
            F.count(F.when(hit, 1)).cast("bigint").alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("doc_b")))
            .cast("bigint")
            .alias("n_docs_removed"),
            F.when(
                F.max("n_docs") > 0,
                F.round(
                    F.countDistinct(F.when(hit, F.col("doc_b")))
                    * 100.0
                    / F.max("n_docs"),
                    4,
                ),
            ).alias("pct_removed"),
        )
        .select(
            F.col("threshold").cast("double").alias("threshold"),
            "n_pairs",
            "n_docs_removed",
            "pct_removed",
        )
        .orderBy("threshold")
    )


@query(
    "dedup_cluster_census",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
        UNION
        SELECT doc_id AS a, doc_id AS b
        FROM documents
        WHERE doc_id IN (SELECT doc_a FROM pairs
                         UNION SELECT doc_b FROM pairs)
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clusters AS (
        SELECT a AS doc_id, MIN(b) AS cluster_id
        FROM reach GROUP BY a
    ),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_removable
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dedup_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster census: the size distribution of the
    connected-components clusters (how many pairs, triples, ...,
    giant clusters) plus the removable-doc count per size — the
    post-clustering report every dedup run ships (a handful of huge
    clusters usually means boilerplate, not true duplication, and
    deserves different handling than long-tail pairs).

    Scale shape: reuses the min-label components (the same bounded
    propagation as dedup_connected_components); everything after is
    two aggregations over the cluster-id table. n_removable =
    cluster_size - 1 per cluster — the exact doc count a
    min-id-keep pass deletes."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_components(pairs)
    sizes = labels.groupBy(F.col("lab").alias("cluster_id")).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
            (F.sum("cluster_size") - F.count("*"))
            .cast("bigint")
            .alias("n_removable"),
        )
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removable",
        )
        .orderBy("cluster_size")
    )


@query(
    "dedup_soft_weights",
    oracle=r"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents
    ),
    clusters AS (
        SELECT fingerprint, COUNT(*) AS csize
        FROM fp GROUP BY fingerprint
    )
    SELECT f.doc_id, f.source,
           CAST(c.csize AS BIGINT) AS cluster_size,
           round(1.0 / c.csize, 6) AS sample_weight,
           c.csize = 1 AS is_unique
    FROM fp f JOIN clusters c USING (fingerprint)
    ORDER BY f.doc_id
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates (dedup_exact
    keeps min-id), every document stays in the corpus carrying weight
    1/cluster_size — the training-data treatment that preserves
    coverage while making each distinct content unit contribute equal
    expected mass to the loss (sum of weights = number of distinct
    contents, the 'effective corpus size'). The sampler consumes this
    column directly (mix_sources_weighted / sample_weighted_reservoir
    shapes).

    Scale shape: identical cost to hard dedup — one shuffle of
    (16-byte fingerprint, id) pairs to count clusters, then one
    fingerprint equi-join to attach sizes back (at 100 TB the
    cluster table is duplicate-bounded and usually broadcastable;
    expressed as an equi-join so the planner picks broadcast when
    stats allow). No document text ever moves twice."""
    d = spark.table("documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    fp = d.select(
        "doc_id", "source", F.md5(norm).alias("fingerprint")
    )
    fp = track_persist(fp)
    clusters = fp.groupBy("fingerprint").agg(
        F.count("*").alias("csize")
    )
    return (
        fp.join(clusters, "fingerprint")
        .select(
            "doc_id",
            "source",
            F.col("csize").cast("bigint").alias("cluster_size"),
            F.round(F.lit(1.0) / F.col("csize"), 6).alias(
                "sample_weight"
            ),
            (F.col("csize") == 1).alias("is_unique"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_cross_source_matrix",
    oracle=r"""
    WITH fp AS (
        SELECT source,
               md5(array_to_string(
                   string_split_regex(trim(text), '\s+')[1:8], ' '))
                   AS fingerprint,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY source, fingerprint
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_contents,
           CAST(SUM(a.n_docs) AS BIGINT) AS n_docs_a,
           CAST(SUM(b.n_docs) AS BIGINT) AS n_docs_b
    FROM fp a JOIN fp b
      ON a.fingerprint = b.fingerprint AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: for every source pair,
    how many distinct leading 8-token shingles they SHARE (plus the
    doc counts each side contributes) — the mirror-site /
    scraped-twice detector that tells a crawl operator which source
    pairs to dedup against each other first. The leading-shingle
    fingerprint is the standard cheap prefix heuristic (mirrors keep
    openings intact while tails diverge with boilerplate); swap in
    the MinHash signature for full near-dup semantics at the same
    plan shape.

    Scale shape: one collapse to (source, fingerprint) grain (the
    16-byte-key shuffle hard dedup already pays), then a
    fingerprint equi-join of that collapsed table with itself —
    candidate volume bounded by per-fingerprint source counts
    (bounded by the source count, not corpus size), never an
    all-pairs. The a.source < b.source guard halves the matrix."""
    fp = (
        spark.table("documents")
        .groupBy(
            "source",
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.split(F.trim(F.col("text")), r"\s+"), 1, 8
                    ),
                )
            ).alias("fingerprint"),
        )
        .agg(F.count("*").alias("n_docs"))
    )
    fp = track_persist(fp)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_shared_contents"),
            F.sum("a.n_docs").cast("bigint").alias("n_docs_a"),
            F.sum("b.n_docs").cast("bigint").alias("n_docs_b"),
        )
        .orderBy("source_a", "source_b")
    )
