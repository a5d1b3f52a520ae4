"""Keyword + hybrid retrieval over the documents/embeddings tables
(driver north-star extension; NOT in the reference — SURVEY.md §2.B.11).

The retrieval ladder a RAG / search stack runs: BM25 keyword scoring,
reciprocal-rank fusion of the keyword and vector rankings, the k-NN
graph over embeddings, and an end-to-end chunk → coarse-quantize →
probe index pipeline. All plans are Spark built-ins (codegen) — no
Python in any hot path; every score is rounded at a fixed point and
decimal-summed where aggregation order could drift, so results are
bit-identical across engines and partition counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.pipeline.text import _tokens
from powersql_spark.registry import query

# BM25 constants (Robertson k1/b defaults) — written as the same
# literals in both engines so the float expressions evaluate
# identically. _BM25_TERMS is the fixed demo query.
_BM25_TERMS = ("spark", "vector", "hash")
_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)
_RRF_K = 60
_RRF_POOL = 50


# Shared BM25 per-(doc,term) weight template. Placeholders: tf, df,
# n_docs, total_dl, dl. idf is the BM25+ ln(1 + (N-df+.5)/(df+.5))
# form (always positive); the length norm uses dl/avgdl == dl*N/total.
_BM25_W = (
    "round(ln(({n} - {df} + 0.5) / ({df} + 0.5) + 1.0)"
    " * {tf} * 2.2"
    " / ({tf} + 1.2 * (0.25 + 0.75 * {dl} * {n} / {total})), 8)"
)

_BM25_ORACLE_CTES = r"""
    base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(len(t)) AS total_dl FROM base
    ),
    toks AS (
        SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM base
    ),
    m AS (
        SELECT doc_id, dl, tok, COUNT(*) AS tf
        FROM toks WHERE tok IN ({terms})
        GROUP BY doc_id, dl, tok
    ),
    docfreq AS (SELECT tok, COUNT(*) AS df FROM m GROUP BY tok),
    bm25 AS (
        SELECT m.doc_id,
               COUNT(*) AS n_terms_matched,
               CAST(SUM(CAST({bm25_w} AS DECIMAL(28,8))) AS DOUBLE)
                   AS bm25_score
        FROM m JOIN docfreq USING (tok) CROSS JOIN stats s
        GROUP BY m.doc_id
    )
""".format(
    terms=_TERMS_SQL,
    bm25_w=_BM25_W.format(
        tf="m.tf", df="docfreq.df", n="s.n_docs", total="s.total_dl", dl="m.dl"
    ),
)


def _bm25_scores(spark: SparkSession) -> DataFrame:
    """(doc_id, n_terms_matched, bm25_score) for docs matching >=1 term."""
    from powersql_spark.catalog import track_persist

    # Persist the tokenized corpus and the matched-term tf table:
    # three consumers read them across broadcast boundaries (corpus
    # stats, the per-doc tf rows, and docfreq), and Catalyst does not
    # reuse a subtree across a broadcast build — unpersisted, the
    # split-tokenize of every document executed THREE times (profiled
    # on q50 as two 32-task ~10 s tokenize stages feeding broadcasts
    # plus the probe-side scan). Same phase-materialization pattern as
    # the bigram LM: tokenize once per corpus. `m` is query-term-sized
    # (docs matching the 3 fixed terms), so caching it is metadata
    # cost at any SF.
    base = track_persist(
        spark.table("documents").select("doc_id", _tokens().alias("t"))
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("t")).alias("total_dl"),
    )
    m = track_persist(
        base.select(
            "doc_id", F.size("t").alias("dl"), F.explode("t").alias("tok")
        )
        .where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count("*").alias("tf"))
    )
    docfreq = m.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    w = F.round(
        idf
        * F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 1.2
            * (
                0.25
                + 0.75
                * F.col("dl")
                * F.col("n_docs")
                / F.col("total_dl")
            )
        ),
        8,
    )
    return (
        m.join(F.broadcast(docfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.sum(F.col("w").cast("decimal(28,8)"))
            .cast("double")
            .alias("bm25_score"),
        )
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_ORACLE_CTES}
    SELECT doc_id, CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
           bm25_score
    FROM bm25
    ORDER BY bm25_score DESC, doc_id LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Robertson k1=1.2, b=0.75, BM25+ idf) for
    a fixed term query — the lexical half of every hybrid search stack
    and the retrieval baseline dense methods are measured against.

    Scale shape: ONE corpus scan feeds doc lengths AND the posting
    lists; candidates collapse to (doc, term) tf pairs for matching
    terms only (posting-list sized, not corpus-sized). Document
    frequencies and the corpus stats are tiny broadcasts; per-term
    weights are rounded then decimal-summed (order-independent), and
    the top-10 cut is a TakeOrderedAndProject, never a global sort."""
    scores = _bm25_scores(spark)
    return scores.select(
        "doc_id",
        F.col("n_terms_matched").cast("bigint").alias("n_terms_matched"),
        "bm25_score",
    ).orderBy(F.desc("bm25_score"), "doc_id").limit(10)


@query(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_ORACLE_CTES},
    kw AS (
        SELECT doc_id AS id,
               ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id)
                   AS kw_rank
        FROM bm25
        QUALIFY kw_rank <= {_RRF_POOL}
    ),
    e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (
        SELECT v AS qv,
               sqrt(list_reduce(list_transform(v, x -> x * x),
                    (a, b) -> a + b)) AS qn
        FROM e WHERE vec_id = 0
    ),
    vs AS (
        SELECT e.vec_id AS id,
               ROW_NUMBER() OVER (ORDER BY round(
                   list_reduce(list_transform(range(1, 65),
                       i -> e.v[i] * q.qv[i]), (a, b) -> a + b)
                   / (sqrt(list_reduce(list_transform(e.v, x -> x * x),
                           (a, b) -> a + b)) * q.qn), 4) DESC, e.vec_id)
                   AS vec_rank
        FROM e, q WHERE e.vec_id <> 0
        QUALIFY vec_rank <= {_RRF_POOL}
    )
    SELECT COALESCE(kw.id, vs.id) AS id,
           kw.kw_rank, vs.vec_rank,
           round(COALESCE(1.0 / ({_RRF_K} + kw.kw_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + vs.vec_rank), 0.0), 6)
               AS rrf_score
    FROM kw FULL OUTER JOIN vs ON kw.id = vs.id
    ORDER BY rrf_score DESC, id LIMIT 10
    """,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (k=60): fuse the
    BM25 keyword ranking with the dense cosine ranking for the same
    query — the standard zero-tuning hybrid that beats either system
    alone (Cormack et al. 2009; what Elasticsearch/Vespa hybrid mode
    ships). Each system contributes 1/(60+rank) from its top-50; docs
    found by both rank highest.

    Scale shape: the keyword side is the BM25 posting-list plan; the
    dense side is one map-only cosine pass against a broadcast query
    vector. Both rank windows run over pool-bounded heads (top-50 via
    rank filter), the fusion is a full-outer join of two 50-row lists
    — driver-safe, executor-cheap. RRF scores are exact rationals of
    integer ranks, identical on both engines."""
    # Explicit top-pool cut (orderBy+limit = TakeOrderedAndProject, a
    # distributed partial top-K), then rank the pool-sized head.
    # Plan-equivalent to the previous rank-filter form on Spark
    # 3.5+/4 (InferWindowGroupLimit already rewrote the
    # `row_number <= pool` filter into the same Window-over-
    # TakeOrderedAndProject shape), but explicit: the partial top-K
    # no longer depends on that optimizer rule staying enabled. The
    # limit uses the same total order as the rank (score desc, id),
    # so the kept rows and their ranks are identical by construction.
    kw = (
        _bm25_scores(spark)
        .select(F.col("doc_id").alias("id"), "bm25_score")
        .orderBy(F.desc("bm25_score"), "id")
        .limit(_RRF_POOL)
        .select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25_score"), "id"))
            .alias("kw_rank"),
        )
    )
    e = spark.table("embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = e.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), nrm.alias("qn")
    )
    # Deliberately the HOF fold, NOT dot_unrolled: the projection
    # fuses into the 1-row broadcast nested-loop attach (non-codegen
    # context) — interleaved A/B measured the unrolled form ~1.6x
    # SLOWER here (0.22 vs 0.35 s medians, values bit-identical); the
    # wave-13 join-context rule applies to join-fused projections too.
    vs = (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            F.col("vec_id").alias("id"),
            F.round(dot / (nrm * F.col("qn")), 4).alias("cos"),
        )
        # Same explicit top-pool-then-rank move as the keyword side.
        .orderBy(F.desc("cos"), "id")
        .limit(_RRF_POOL)
        .select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), "id"))
            .alias("vec_rank"),
        )
    )
    fused = kw.join(vs, "id", "full_outer").select(
        "id",
        "kw_rank",
        "vec_rank",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("kw_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "id").limit(10)


@query(
    "emb_knn_graph",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst, a.label,
               round(list_reduce(list_transform(range(1, 65),
                         i -> a.v[i] * b.v[i]), (x, y) -> x + y)
                     / (a.nrm * b.nrm), 4) AS cosine
        FROM e a JOIN e b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT src, dst, label, cosine,
           CAST(nbr_rank AS INTEGER) AS nbr_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                       ORDER BY cosine DESC, dst) AS nbr_rank
        FROM pairs
    )
    WHERE nbr_rank <= 5
    ORDER BY src, nbr_rank
    """,
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction (k=5) over the embedding corpus, blocked
    by coarse cell (label): the substrate for SemDeDup-style cluster
    dedup, graph-based ANN (HNSW/NSG build their layers from exactly
    this), and label propagation over semantic neighbors.

    Scale shape: candidate pairs come from an EQUI-join on the cell
    key — never an all-pairs cartesian; per-cell work is quadratic
    only in the cell population (IVF-style balance at scale: sqrt(N)
    cells). Norms are computed once per vector before the join, not
    per pair; the per-source top-5 cut is a rank window on the join's
    own partitioning. Cosines round at 4dp so the neighbor ordering is
    engine-independent."""
    e = spark.table("embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.select(
        "vec_id",
        "label",
        "v",
        F.sqrt(
            F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    a = e.alias("a")
    b = e.alias("b")
    # Deliberately the HOF fold, NOT dot_unrolled: this projection is
    # FUSED into the cell equi-join's output (non-codegen context),
    # where walking the 384-node unrolled tree per candidate row
    # measured 48 s of stage runtime vs ~2 s for the HOF's native
    # Scala loop (the wave-13 join-context rule; A/B'd live here).
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        F.col("a.label").alias("label"),
        F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("cosine"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    return (
        pairs.select(
            "*", F.row_number().over(w).cast("int").alias("nbr_rank")
        )
        .where(F.col("nbr_rank") <= 5)
        .orderBy("src", "nbr_rank")
    )


@query(
    "pipeline_rag_e2e",
    oracle=r"""
    WITH chunks AS (
        SELECT doc_id,
               CAST(start - 1 AS INTEGER) AS chunk_start
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents),
             unnest(range(1, GREATEST(len(t), 1) + 1, 48)) AS u(start)
    ),
    e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (
        SELECT v AS qv,
               sqrt(list_reduce(list_transform(v, x -> x * x),
                    (a, b) -> a + b)) AS qn
        FROM e WHERE vec_id = 0
    ),
    cent AS (
        SELECT label, i,
               round(CAST(SUM(CAST(v[i] AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS m
        FROM e, unnest(range(1, 65)) AS u(i)
        GROUP BY label, i
    ),
    carr AS (
        SELECT label, list(m ORDER BY i) AS c FROM cent GROUP BY label
    ),
    probed AS (
        SELECT label
        FROM carr, q
        ORDER BY round(
            list_reduce(list_transform(range(1, 65),
                i -> c[i] * qv[i]), (a, b) -> a + b)
            / (sqrt(list_reduce(list_transform(c, x -> x * x),
                    (a, b) -> a + b)) * qn), 6) DESC, label
        LIMIT 2
    ),
    cell_manifest AS (
        SELECT e.label, COUNT(*) AS n_chunks,
               COUNT(DISTINCT ch.doc_id) AS n_docs
        FROM chunks ch JOIN e ON ch.doc_id = e.vec_id
        GROUP BY e.label
    ),
    scored AS (
        SELECT ch.doc_id, ch.chunk_start, e.label,
               round(list_reduce(list_transform(range(1, 65),
                         i -> e.v[i] * q.qv[i]), (a, b) -> a + b)
                     / (sqrt(list_reduce(list_transform(e.v, x -> x * x),
                             (a, b) -> a + b)) * q.qn), 4) AS cosine
        FROM chunks ch
        JOIN e ON ch.doc_id = e.vec_id
        JOIN probed USING (label), q
        WHERE ch.doc_id <> 0
    )
    SELECT s.doc_id, s.chunk_start, s.label AS cell, s.cosine,
           CAST(m.n_chunks AS BIGINT) AS cell_n_chunks,
           CAST(m.n_docs AS BIGINT) AS cell_n_docs
    FROM scored s JOIN cell_manifest m ON s.label = m.label
    ORDER BY s.cosine DESC, s.doc_id, s.chunk_start
    LIMIT 5
    """,
)
def pipeline_rag_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG index build + retrieve as ONE declarative chain:
    chunk documents (64-token windows, stride 48) → attach each
    chunk's embedding (its document's vector) → coarse-quantize into
    IVF cells (per-label centroids, decimal-exact means) → build the
    per-cell index manifest (chunk/doc counts — what an index
    registers per posting cell) → probe the 2 nearest cells for the
    query vector and return the top-5 chunks. This is the cost-ladder
    a production RAG indexer runs nightly, expressed so Catalyst
    pipelines every stage.

    Scale shape: chunking is map-only; the chunk→embedding attach is
    an equi-join on the doc key; centroids collapse to a constant
    (cells × dims) table broadcast into the probe; the probe scan
    touches only the probed cells' chunks (partition-prunable by cell
    at rest) and the final cut is a TakeOrderedAndProject. No stage is
    quadratic; the only corpus-sized shuffles are the chunk join and
    the manifest aggregation."""
    d = spark.table("documents")
    n = F.size(_tokens())
    from powersql_spark.catalog import track_persist

    # Persisted: the chunk table feeds BOTH the per-cell manifest
    # aggregate (a broadcast build) and the probe scoring branch, and
    # Catalyst does not reuse a subtree across a broadcast boundary —
    # unpersisted, the tokenize+explode of every document ran twice
    # (profiled as a 7.1 s chunking stage re-executed per consumer).
    # Two ints per chunk row; the index build a production RAG stack
    # materializes anyway.
    chunks = track_persist(
        d.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(48))
            ).alias("start"),
        ).select("doc_id", F.col("start").cast("int").alias("chunk_start"))
    )
    e = spark.table("embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    nrm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = e.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), nrm.alias("qn")
    )
    # Per-cell centroids: decimal-exact dimension means, rounded 6dp.
    cent = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("m")
        )
    )
    carr = cent.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct("i", "m"))
        ).alias("im")
    ).select(
        "label", F.transform("im", lambda s: s.getField("m")).alias("c")
    )
    cdot = F.aggregate(
        F.zip_with("c", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cnrm = F.sqrt(
        F.aggregate(F.col("c"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    probed = (
        carr.join(F.broadcast(q))
        .select(
            "label",
            F.round(cdot / (cnrm * F.col("qn")), 6).alias("csim"),
        )
        .orderBy(F.desc("csim"), "label")
        .limit(2)
        .select("label")
    )
    with_cell = chunks.join(
        e.select(
            F.col("vec_id").alias("doc_id"), "label", "v", nrm.alias("nrm")
        ),
        "doc_id",
    )
    manifest = with_cell.groupBy("label").agg(
        F.count("*").cast("bigint").alias("cell_n_chunks"),
        F.countDistinct("doc_id").cast("bigint").alias("cell_n_docs"),
    )
    # Deliberately the HOF fold, NOT dot_unrolled: this projection
    # fuses into the broadcast-join output (non-codegen context) —
    # the unrolled form A/B'd at 19.5 s of stage runtime vs 5.6 s for
    # the HOF here (the wave-13 join-context rule).
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        with_cell.join(F.broadcast(probed), "label")
        .join(F.broadcast(q))
        .where(F.col("doc_id") != 0)
        .select(
            "doc_id",
            "chunk_start",
            F.col("label").alias("cell"),
            F.round(dot / (F.col("nrm") * F.col("qn")), 4).alias("cosine"),
        )
    )
    return (
        scored.join(
            F.broadcast(manifest.withColumnRenamed("label", "cell")), "cell"
        )
        .select(
            "doc_id",
            "chunk_start",
            "cell",
            "cosine",
            "cell_n_chunks",
            "cell_n_docs",
        )
        .orderBy(F.desc("cosine"), "doc_id", "chunk_start")
        .limit(5)
    )


@query(
    "emb_hubness",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               round(list_reduce(list_transform(range(1, 65),
                         i -> a.v[i] * b.v[i]), (x, y) -> x + y)
                     / (a.nrm * b.nrm), 4) AS cosine
        FROM e a JOIN e b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    knn AS (
        SELECT dst
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS r
              FROM pairs)
        WHERE r <= 10
    ),
    indeg AS (
        SELECT e.vec_id,
               COALESCE(k.d, 0) AS in_degree
        FROM e LEFT JOIN (SELECT dst, COUNT(*) AS d
                          FROM knn GROUP BY dst) k
               ON k.dst = e.vec_id
    )
    SELECT CAST(in_degree AS BIGINT) AS in_degree,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(ROUND(COUNT(*) / CAST((SELECT COUNT(*) FROM e)
                                      AS DOUBLE), 6) AS DOUBLE)
               AS vec_share
    FROM indeg
    GROUP BY in_degree
    ORDER BY in_degree
    """,
)
def emb_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness diagnostic over the k=10 NN graph: the in-degree
    histogram — how often each vector appears in OTHER vectors'
    top-10. High-dimensional corpora grow 'hubs' (points that are
    everyone's neighbor) and 'anti-hubs' (in-degree 0, unreachable by
    similarity search); a heavy right tail here predicts degraded
    recall for ANN indexes and biased dedup clusters, which is why
    index tuning starts with this histogram.

    Scale shape: identical candidate discipline to emb_knn_graph —
    cell equi-join (never cartesian), per-pair work bounded by cell
    population, k-bounded rank window on the join's own partitioning.
    The in-degree count is a map-side-combinable groupBy on dst; the
    histogram is a second tiny aggregation; N is a one-row broadcast."""
    e = spark.table("embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.select(
        "vec_id",
        "label",
        "v",
        F.sqrt(
            F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    knn = pairs.select(
        "dst", F.row_number().over(w).alias("r")
    ).where(F.col("r") <= 10)
    indeg = (
        e.select("vec_id")
        .join(
            knn.groupBy("dst").agg(F.count("*").alias("d")),
            e.vec_id == F.col("dst"),
            "left",
        )
        .select(F.coalesce(F.col("d"), F.lit(0)).alias("in_degree"))
    )
    n = e.agg(F.count("*").cast("double").alias("n"))
    return (
        indeg.groupBy("in_degree")
        .agg(F.count("*").alias("n_vectors"))
        .join(F.broadcast(n))
        .select(
            F.col("in_degree").cast("bigint").alias("in_degree"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            F.round(F.col("n_vectors") / F.col("n"), 6).alias(
                "vec_share"
            ),
        )
        .orderBy("in_degree")
    )
