"""Format connectors and storage-layout sinks (extensions past the
reference's parquet-only testdata surface; the reference's own I/O is
entirely the warehouse's, src/execute.rs:101).

These keys prove the engine ingests/emits the formats a reference user's
warehouse would (CSV, JSON) and — more important at 100 TB — that it
exploits Spark's storage-layout features: hive-style partitioned writes
(partition pruning turns a 100 TB scan into a single-directory read) and
bucketed tables (pre-shuffled storage makes repeated joins on the bucket
key shuffle-free).

The connector keys materialize their input from the registered testdata
views first (eager, deterministic, overwrite-idempotent), then read it
back through the format under test — so each callable stays
self-contained on (spark, sf_dir) per the driver contract, and the
DuckDB oracle reads the same intermediate file.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from powersql_spark.operators.common import dsum
from powersql_spark.registry import query

# Pid-suffixed so concurrent sessions never write the same staging
# files (a fixed shared path let one session read another's half-written
# overwrite). The oracle SQL strings embed this path at import time, and
# the driver runs the Spark query and its DuckDB oracle in the SAME
# process, so parity holds per session. The directory exists only once
# a key writes into it, and is removed when the process exits.
_STAGE = os.path.join(
    tempfile.gettempdir(), f"powersql_connectors_{os.getpid()}"
)


def _stage_path(name: str) -> str:
    if not os.path.isdir(_STAGE):
        os.makedirs(_STAGE, exist_ok=True)
        atexit.register(shutil.rmtree, _STAGE, ignore_errors=True)
    return os.path.join(_STAGE, name)


@query(
    "source_csv",
    oracle=f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv('{_STAGE}/nation.csv', header = true,
                  columns = {{'n_nationkey': 'BIGINT', 'n_name': 'VARCHAR',
                              'n_regionkey': 'BIGINT'}})
    ORDER BY n_nationkey
    """,
)
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with an explicit schema (never infer at scale: schema
    inference is an extra full pass over the data)."""
    path = _stage_path("nation.csv")
    pdf = spark.table("nation").orderBy("n_nationkey").toPandas()
    pdf.to_csv(path, index=False)
    return (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .option("header", "true")
        .csv(path)
        .orderBy("n_nationkey")
    )


@query(
    "source_json",
    oracle=f"""
    SELECT r_regionkey, r_name
    FROM read_json('{_STAGE}/region.jsonl',
                   columns = {{'r_regionkey': 'BIGINT', 'r_name': 'VARCHAR'}},
                   format = 'newline_delimited')
    ORDER BY r_regionkey
    """,
)
def source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with explicit schema — the interchange format
    of most LLM training corpora."""
    path = _stage_path("region.jsonl")
    pdf = spark.table("region").orderBy("r_regionkey").toPandas()
    pdf.to_json(path, orient="records", lines=True)
    return (
        spark.read.schema("r_regionkey long, r_name string")
        .json(path)
        .orderBy("r_regionkey")
    )


@query(
    "sink_partitioned",
    oracle="""
    SELECT l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet write + pruned read-back. The
    read filters on the partition column, so Spark lists ONE directory
    and never opens the others (PartitionFilters in .explain) — at
    100 TB this is the difference between a full scan and a metadata
    lookup. Partition columns must be low-cardinality (here: 3 values);
    partitioning by a high-cardinality key creates a small-file storm."""
    path = _stage_path("lineitem_by_flag")
    out = spark.table("lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    out.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    # Explicit schema on read-back: an all-empty write leaves no files
    # to infer from (and at scale, inference over thousands of files is
    # a wasted listing pass anyway).
    return (
        spark.read.schema(out.schema)
        .parquet(path)
        .where(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"), dsum("l_quantity", "qty"))
    )


@query(
    "sink_bucketed",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed managed tables + bucket-join. Both sides are written
    bucketed 8 ways on the join key; the join then requires NO exchange
    (both children's output partitioning already satisfies the join's
    requirement — .explain shows no Exchange above the scans). This is
    THE storage-level answer to repeated big-big joins at 100 TB: pay
    the shuffle once at write time, never again at read time."""
    # DROP alone isn't enough: managed-table *locations* outlive the
    # session-scoped in-memory catalog, and a fresh session refuses to
    # create a managed table over a leftover directory.
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("orders_bkt", "lineitem_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    (
        spark.table("orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
    )
    (
        spark.table("lineitem")
        .select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")
    )
    o = spark.table("orders_bkt")
    li = spark.table("lineitem_bkt")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_extendedprice", "total"),
        )
    )


@query(
    "sink_sorted",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN 10000 AND 10500
    """,
)
def sink_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-on-write + range-filtered read-back. repartitionByRange +
    sortWithinPartitions clusters each output file on the key, so
    parquet row-group min/max statistics make a key-range predicate skip
    whole row groups — the single cheapest storage-layout win for
    range-filtered scans at 100 TB (the poor man's Z-order for one
    dimension)."""
    path = _stage_path("orders_sorted")
    (
        spark.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path).where(
        F.col("o_orderkey").between(10000, 10500)
    )


@query(
    "source_orc",
    oracle="""
    SELECT s_suppkey, s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey,
           s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: write the supplier table as ORC (Spark's other
    native columnar format — the one Hive-era warehouses migrate from),
    read it back, and hash-compare against the original rows. DuckDB
    cannot read ORC, so the oracle reads the source view directly: hash
    equality proves the ORC encode/decode is lossless across int64 /
    int32 / string / double. Staged Spark-side (distributed write) —
    no driver materialization."""
    path = _stage_path("supplier_orc")
    out = spark.table("supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out.write.mode("overwrite").orc(path)
    return spark.read.schema(out.schema).orc(path).orderBy("s_suppkey")


@query(
    "sink_jsonl_sharded",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def sink_jsonl_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded JSON-lines export — THE delivery format for LLM training
    corpora: the table is written as 4 jsonl shards (distributed write,
    one file per task; at 100 TB you size shards by target bytes via
    repartition or maxRecordsPerFile), then read back with an explicit
    schema. Hash equality against the source view proves the export is
    lossless. Text is excluded from the round-trip columns only to keep
    the oracle's JSON-escaping out of the comparison; the write itself
    carries it."""
    path = _stage_path("documents_jsonl")
    out = spark.table("documents").select("doc_id", "lang", "source", "n_chars")
    out.repartition(4).write.mode("overwrite").json(path)
    return (
        spark.read.schema("doc_id long, lang string, source string, n_chars long")
        .json(path)
        .orderBy("doc_id")
    )


@query(
    "source_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END
               AS o_orderpriority
    FROM orders
    ORDER BY o_orderkey
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet drops of the same table —
    an old one without o_orderpriority, a new one with it — unioned by
    ``mergeSchema``, the missing column null-filled. This is how a
    100 TB table that gained a column mid-history reads back without
    rewriting old partitions. Explicit merged schema would also work;
    mergeSchema proves Spark reconciles the footers itself."""
    base = _stage_path("orders_evolved")
    o = spark.table("orders")
    o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey"
    ).write.mode("overwrite").parquet(os.path.join(base, "v1"))
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    ).write.mode("overwrite").parquet(os.path.join(base, "v2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(base, "v1"), os.path.join(base, "v2"))
        .orderBy("o_orderkey")
    )


@query(
    "sink_cow_update",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(CASE WHEN o_orderstatus = 'F'
                     THEN o_totalprice * 1.05
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice
    FROM orders
    """,
)
def sink_cow_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE by partition rewrite (the Hive/Delta COW
    idiom on plain parquet): the table is laid out partitioned by
    o_orderstatus; an update touching only status 'F' rows is written
    with dynamic partition overwrite, so ONLY the 'F' directory is
    rewritten — the other partitions' files are untouched (asserted by
    tests/test_semantics.py on file mtimes). The updated rows derive
    from the source relation, never from the path being overwritten
    (self-read during overwrite is undefined; a real COW engine swaps
    a manifest the same way).

    Scale shape: rewrite cost is proportional to the updated
    partition, not the table — the entire point of partitioned COW at
    100 TB. The read-back is a plain partitioned scan with partition
    pruning available to downstream filters."""
    path = _stage_path("orders_cow")
    base = spark.table("orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            base.where(F.col("o_orderstatus") == "F")
            .withColumn("o_totalprice", F.col("o_totalprice") * 1.05)
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # Explicit schema: an all-empty write leaves nothing to infer from.
    return spark.read.schema(base.schema).parquet(path).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@query(
    "sink_append",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT batch) AS BIGINT) AS n_batches
    FROM (
        SELECT n_regionkey, 'a' AS batch FROM nation
        UNION ALL
        SELECT n_regionkey, 'b' AS batch FROM nation
        WHERE n_nationkey % 2 = 0
    )
    GROUP BY n_regionkey
    """,
)
def sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode sink: two writes land in the same parquet directory
    without touching each other's files (mode('append') adds files,
    never rewrites) — the incremental-load idiom. The staging dir is
    reset per call so the result is deterministic; the read-back
    aggregates across both batches to prove both are present.

    At scale: append is the only write mode whose cost is the delta's
    size; pair it with partitionBy so readers prune to fresh
    partitions (sink_partitioned) and with compaction for small-file
    debt (layout_compaction_bins)."""
    path = _stage_path("nation_append")
    shutil.rmtree(path, ignore_errors=True)
    n = spark.table("nation")
    a = n.select("n_regionkey", F.lit("a").alias("batch"))
    b = n.where(F.col("n_nationkey") % 2 == 0).select(
        "n_regionkey", F.lit("b").alias("batch")
    )
    a.write.mode("append").parquet(path)
    b.write.mode("append").parquet(path)
    return (
        spark.read.schema(a.schema)
        .parquet(path)
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("batch").alias("n_batches"),
        )
    )


@query(
    "join_dpp_pruned",
    oracle="""
    WITH dim(yr, era) AS (VALUES (1997, 'old'), (1998, 'recent')),
    fact AS (
        SELECT year(o_orderdate) AS yr, o_totalprice FROM orders
    )
    SELECT dim.era, fact.yr,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
    FROM fact JOIN dim ON dim.yr = fact.yr
    WHERE dim.era IN ('old', 'recent')
    GROUP BY dim.era, fact.yr
    """,
)
def join_dpp_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, end to end: stage orders as a
    Hive-partitioned table on order YEAR, join it against a tiny
    filtered era dimension on the partition column, and let Spark
    derive the partition filter FROM THE JOIN at runtime — the scan
    lists only the dimension's years even though no literal year
    predicate exists on the fact side. At 100 TB this (plus static
    pruning, sink_partitioned) is the core mechanism that turns
    "scan the decade" into "scan two years"; the plan gate asserts
    the dynamicpruning expression landed in PartitionFilters.

    The staged write is the test-scale stand-in for the already-
    partitioned production table; the read-back carries an explicit
    schema so the operator never depends on listing-based inference."""
    path = _stage_path("orders_by_year")
    staged = spark.table("orders").select(
        F.year("o_orderdate").alias("yr"), "o_totalprice"
    )
    staged.write.mode("overwrite").partitionBy("yr").parquet(path)
    fact = spark.read.schema(staged.schema).parquet(path)
    # Deliberately createDataFrame, NOT catalog.values_df: a VALUES
    # LocalRelation lets ConvertToLocalRelation fold the era filter
    # into the literal rows, and with no Filter node left on the dim
    # side the PartitionPruning rule's hasSelectivePredicate check
    # fails — DPP (this operator's whole point) silently stops firing
    # (gate: test_dpp_filter_reaches_partitioned_scan).
    dim = spark.createDataFrame(
        [(1997, "old"), (1998, "recent")], "yr int, era string"
    ).where(F.col("era").isin("old", "recent"))
    return (
        fact.join(F.broadcast(dim), "yr")
        .groupBy("era", "yr")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )


@query(
    "source_corrupt_quarantine",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           COUNT(*) FILTER (doc_id % 7 <> 3) AS n_good,
           COUNT(*) FILTER (doc_id % 7 = 3) AS n_quarantined,
           CAST(SUM(CASE WHEN doc_id % 7 <> 3 THEN doc_id END)
                AS BIGINT) AS good_docid_sum
    FROM documents
    """,
)
def source_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on JSONL ingest — the PERMISSIVE-mode
    pattern every production feed needs: stage the documents metadata
    as newline JSON with a deterministic subset of lines mangled
    (doc_id % 7 == 3, truncated mid-field), read back with an explicit
    schema + ``columnNameOfCorruptRecord``, and report good vs
    quarantined counts plus a checksum of the surviving keys. Bad
    lines land in the corrupt column instead of killing the job or
    silently vanishing (FAILFAST / DROPMALFORMED, the two wrong
    defaults at 100 TB).

    The oracle predicts the report from the corruption rule itself,
    so the Spark path — write, mangle, permissive parse, quarantine
    split — is verified end-to-end against what it MUST recover.
    Spark quirk handled: filtering on the corrupt column requires the
    parsed frame to be cached first (Spark refuses the
    internal-column-only filter on the streaming parse)."""
    path = _stage_path("docs_meta_jsonl")
    line = F.to_json(
        F.struct("doc_id", "lang", "n_chars")
    )
    staged = spark.table("documents").select(
        F.when(
            F.col("doc_id") % 7 == 3,
            F.substring(line, 1, F.length(line) - 5),
        )
        .otherwise(line)
        .alias("value")
    )
    staged.coalesce(1).write.mode("overwrite").text(path)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_bad", T.StringType()),
        ]
    )
    from powersql_spark.catalog import track_persist

    parsed = track_persist(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return parsed.agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias(
            "n_quarantined"
        ),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("doc_id"))
        ).alias("good_docid_sum"),
    )


_MANIFEST_PROBE_KEY = 1000  # zone-map probe: which partitions can hold it?


@query(
    "sink_stats_manifest",
    oracle=f"""
    SELECT o_orderpriority AS part_value,
           COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS max_price,
           NOT ({_MANIFEST_PROBE_KEY} BETWEEN MIN(o_orderkey)
                                          AND MAX(o_orderkey))
               AS skip_for_probe
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY part_value
    """,
)
def sink_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map statistics manifest over a partitioned sink: write
    orders partitioned by priority, then register per-partition
    min/max/count stats — exactly what Delta/Iceberg keep per file so
    readers can DATA-SKIP (`skip_for_probe` shows which partitions a
    point lookup on the probe key could never touch). The manifest is
    built from the WRITTEN data, proving the sink round-trips.

    Scale shape: the write shuffles once on the low-cardinality
    partition key; the manifest pass reads the written files once and
    collapses to constant per-partition state (min/max/count partials
    — map-side combined). Prices go through decimal min/max so the
    manifest is bit-stable. At 100 TB the same aggregation runs
    per-FILE (input_file_name grouping) feeding a table-format
    metadata store; per-partition granularity keeps this oracle-exact
    (file splits are cluster-dependent, partition values are not)."""
    path = _stage_path("orders_by_priority")
    out = spark.table("orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    out.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    back = spark.read.schema(out.schema).parquet(path)
    probe = F.lit(_MANIFEST_PROBE_KEY)
    return (
        back.groupBy(F.col("o_orderpriority").alias("part_value"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.min(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("min_price"),
            F.max(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("max_price"),
        )
        .select(
            "*",
            (~probe.between(F.col("min_key"), F.col("max_key"))).alias(
                "skip_for_probe"
            ),
        )
        .orderBy("part_value")
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CASE WHEN event_type = 'click'
                    THEN value * 2 ELSE value END
                    AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION
    semantics): the full table is written hive-partitioned once, then
    a corrected 'click' feed REPLACES ONLY ITS OWN PARTITION — the
    writer option `partitionOverwriteMode=dynamic` deletes exactly
    the partitions present in the incoming frame, leaving every
    other partition's files untouched. This is the reprocessing
    primitive at 100 TB: fixing one bad day/type rewrites that
    partition, not the table (static overwrite mode would truncate
    everything; cow_update is the row-level cousin).

    Scale shape: both writes are map-only partitioned writes; the
    read-back aggregates with partition-wise scans. The final
    aggregate proves the non-overwritten partitions survived
    byte-identically (their values are unchanged; click's doubled)."""
    path = _stage_path("events_dyn_overwrite")
    ev = spark.table("events").where(F.col("value").isNotNull()).select(
        "event_id", "event_type", "value"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    corrected = ev.where(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )
    back = spark.read.schema(ev.schema).parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "sink_merge_schema",
    oracle="""
    SELECT batch,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END)
                AS BIGINT) AS n_null_priority,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
               AS n_priorities
    FROM (
        SELECT 'v1' AS batch, o_orderkey,
               CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 1
        UNION ALL
        SELECT 'v2', o_orderkey, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 2
    )
    GROUP BY batch
    ORDER BY batch
    """,
)
def sink_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side schema evolution: batch v1 lands (o_orderkey only +
    batch tag), batch v2 appends with a NEW column; the read-back
    uses mergeSchema so v1 rows surface the added column as NULL —
    the parquet-native widening path (the read-side twin is
    source_schema_evolution). The report proves both batches and the
    null-fill are correct.

    At scale: mergeSchema pays a footer read per file at planning
    time — acceptable for occasional evolution; production tables
    record the unified schema in a catalog/manifest instead
    (sink_stats_manifest) so the planner never re-infers."""
    path = _stage_path("orders_merge_schema")
    shutil.rmtree(path, ignore_errors=True)
    o = spark.table("orders")
    v1 = o.where(F.col("o_orderkey") % 10 == 1).select(
        F.lit("v1").alias("batch"), "o_orderkey"
    )
    v1.write.mode("overwrite").parquet(path)
    v2 = o.where(F.col("o_orderkey") % 10 == 2).select(
        F.lit("v2").alias("batch"), "o_orderkey", "o_orderpriority"
    )
    v2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy("batch")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(
                F.when(F.col("o_orderpriority").isNull(), 1)
            )
            .cast("bigint")
            .alias("n_null_priority"),
            F.countDistinct("o_orderpriority")
            .cast("bigint")
            .alias("n_priorities"),
        )
        .orderBy("batch")
    )
