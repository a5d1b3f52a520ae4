"""Orchestrator unit + integration tests.

Unit layer mirrors the reference's in-module tests (src/main.rs:463-548:
dependency extraction, cycle detection, graph building; src/types.rs:
230-354: model typing — here via Spark lazy analysis). Integration layer
mirrors the reference's PostgreSQL CI (.github/workflows/postgres.yml:
33-39): check, run, run again (idempotence), test, docs on the example
project.
"""

from __future__ import annotations

import shutil

import pytest

from powersql_spark.orchestrator.dag import (
    build_graph,
    detect_cycles,
    get_dependencies,
)
from powersql_spark.orchestrator.sqlparse import (
    extract_refs,
    parse_model_file,
    parse_model_statement,
    parse_test_file,
    split_statements,
    sql_parser,
)

# ---------- parsing ----------


def test_parse_view():
    m = parse_model_statement("CREATE VIEW x AS SELECT a FROM y")
    assert m.name == "x" and m.kind == "view" and m.query == "SELECT a FROM y"


def test_parse_materialized_view():
    m = parse_model_statement("CREATE MATERIALIZED VIEW x AS SELECT 1 AS a")
    assert m.kind == "materialized_view"


def test_parse_table_as():
    m = parse_model_statement("CREATE TABLE t AS SELECT a FROM y")
    assert m.name == "t" and m.kind == "table"


def test_parse_rejects_other_statements():
    # Reference: unimplemented!("Only (materialized) view and create
    # table as supported") (src/main.rs:159).
    with pytest.raises(ValueError, match="Only .*view"):
        parse_model_statement("INSERT INTO x VALUES (1)")


def test_split_statements_preserves_operators():
    stmts = split_statements("CREATE VIEW a AS SELECT 1 >= 0 AS b; -- c\n")
    assert stmts == ["CREATE VIEW a AS SELECT 1 >= 0 AS b"]


def test_split_statements_lexes_like_spark():
    """A backslash-escaped quote stays inside its literal, and bracketed
    comments nest: neither hides nor invents a ';'."""
    assert split_statements(
        "CREATE VIEW v AS SELECT 'a\\';b' AS s; CREATE VIEW w AS SELECT 1"
    ) == ["CREATE VIEW v AS SELECT 'a\\';b' AS s", "CREATE VIEW w AS SELECT 1"]
    assert split_statements(
        "CREATE VIEW v AS SELECT 1 /* a /* b; */ c; */ AS n; SELECT 2"
    ) == ["CREATE VIEW v AS SELECT 1   AS n", "SELECT 2"]


def test_parse_test_file():
    tests = parse_test_file(
        "ASSERT NOT EXISTS (SELECT 1 FROM t WHERE x < 0) AS 'no negatives';\n"
        "ASSERT (SELECT COUNT(*) FROM t) >= 10 AS 'enough rows';\n"
        "ASSERT 'a;b' <> 'c' AS 'it\\'s a ''quote'''"
    )
    assert [t.message for t in tests] == [
        "no negatives", "enough rows", "it's a 'quote'"
    ]
    assert tests[0].condition.startswith("NOT EXISTS")


def test_parse_test_rejects_other():
    with pytest.raises(ValueError, match="Only assert"):
        parse_test_file("SELECT 1")


# ---------- ref extraction (reference src/main.rs:463-487) ----------


@pytest.fixture(scope="module")
def parser(spark):
    return sql_parser(spark)


def test_dependencies(parser):
    # Mirrors test_dependencies (src/main.rs:463-471).
    models = parse_model_file("CREATE VIEW z AS SELECT a FROM x")
    assert extract_refs(parser, models["z"].query) == ["x"]
    # Spark-only relation forms.
    assert extract_refs(parser, "TABLE base") == ["base"]
    assert extract_refs(parser, "SELECT * FROM IDENTIFIER('base')") == ["base"]


def test_dependencies_join(parser):
    # Mirrors test_dependencies_join (src/main.rs:473-487): y join x.
    refs = extract_refs(parser, "SELECT a FROM y JOIN x ON 1 = 1")
    assert sorted(refs) == ["x", "y"]


def test_refs_cte_excluded(parser):
    refs = extract_refs(
        parser,
        "WITH c AS (SELECT * FROM base) SELECT * FROM c JOIN other ON 1=1",
    )
    assert sorted(refs) == ["base", "other"]
    # A nested WITH binds its names too.
    refs = extract_refs(
        parser,
        "WITH c AS (WITH d AS (SELECT * FROM base) SELECT * FROM d)"
        " SELECT * FROM c",
    )
    assert refs == ["base"]


def test_refs_subquery_in_where(parser):
    refs = extract_refs(
        parser,
        "SELECT a FROM t WHERE a IN (SELECT b FROM u) AND EXISTS (SELECT 1 FROM v)",
    )
    assert sorted(refs) == ["t", "u", "v"]


def test_refs_derived_table(parser):
    refs = extract_refs(parser, "SELECT * FROM (SELECT a FROM inner_t) AS d")
    assert refs == ["inner_t"]


def test_refs_nested_join(parser):
    refs = extract_refs(parser, "SELECT * FROM (a JOIN b ON a.x = b.x) JOIN c ON 1=1")
    assert sorted(refs) == ["a", "b", "c"]


def test_refs_comma_from_list(parser):
    refs = extract_refs(parser, "SELECT * FROM a, b WHERE a.x = b.x")
    assert sorted(refs) == ["a", "b"]


def test_refs_extract_not_a_table(parser):
    refs = extract_refs(parser, "SELECT EXTRACT(YEAR FROM ts) FROM evts")
    assert refs == ["evts"]
    # Neither an escaped quote nor a nested comment hides or invents a ref.
    refs = extract_refs(parser, "SELECT 'a\\'b' AS s FROM base WHERE x = 'c'")
    assert refs == ["base"]
    refs = extract_refs(parser, "SELECT 1 /* a /* b */ FROM ghost */ FROM base")
    assert refs == ["base"]


def test_model_name_with_comma_space_is_rejected(parser):
    """The plan JSON prints `x, y` and x.y alike, so a model named
    `x, y` would lose the DAG edge from every model that reads it:
    refuse the name, naming the model, instead of misordering the run."""
    assert extract_refs(parser, "SELECT * FROM `x, y`") == ["x.y"]
    with pytest.raises(ValueError, match=r"'x, y'"):
        parse_model_statement("CREATE TABLE `x, y` AS SELECT 1 AS c")
    with pytest.raises(ValueError, match=r"'a, b'"):
        parse_model_file('CREATE VIEW "a, b" AS SELECT 1 AS c')
    assert parse_model_statement("CREATE VIEW `x,y` AS SELECT 1").name == "x,y"


def test_refs_dotted_and_quoted(spark, parser):
    """The session's grammar decides what "..." is: a string literal by
    default, so it cannot name a table (running the model fails the
    same way); an identifier under doubleQuotedIdentifiers, also when
    the parse runs on another thread."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.errors import ParseException

    query = 'SELECT * FROM sch.tab JOIN "Weird Name" ON 1=1'
    with pytest.raises(ParseException):
        extract_refs(parser, query)
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try:
        assert extract_refs(parser, query) == ["sch.tab", "Weird Name"]
        models = parse_model_file(
            'CREATE VIEW "Weird Name" AS SELECT 1 AS c;'
            f"CREATE VIEW v AS {query}"
        )
        with ThreadPoolExecutor(1) as pool:
            deps = pool.submit(get_dependencies, spark, models).result()
        assert deps == {"Weird Name": [], "v": ["Weird Name"]}
    finally:
        spark.conf.unset("spark.sql.ansi.doubleQuotedIdentifiers")


def test_unparsable_model_is_a_clean_error(spark, tmp_path, monkeypatch, capsys):
    """A model Spark cannot parse fails the project load with a
    ValueError naming it; the CLI prints it and exits 1."""
    from powersql_spark import session
    from powersql_spark.orchestrator.cli import main
    from powersql_spark.orchestrator.runner import load_project

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "bad"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        'CREATE VIEW ok AS SELECT 1 AS c; CREATE VIEW broken AS SELECT * FROM "x"'
    )
    with pytest.raises(ValueError, match="Model broken does not parse"):
        load_project(spark, tmp_path)
    monkeypatch.setattr(session, "build_session", lambda **kw: spark)
    assert main(["check", "--project", str(tmp_path)]) == 1
    assert capsys.readouterr().err.startswith("error: Model broken does not parse")


def test_perfbench_project_deps(spark):
    """The refs of the benchmark's seeded project are the edges it
    declares."""
    from perfbench.project import models

    for seed in (3, 7, 11):
        defs = models(seed)
        parsed = {d.name: parse_model_statement(d.statement()) for d in defs}
        deps = get_dependencies(spark, parsed)
        assert {n: sorted(r) for n, r in deps.items()} == {
            d.name: sorted(d.deps) for d in defs
        }, seed


def test_tracer_installs_and_uninstalls(spark):
    """perfbench's tracer (`run.py --trace 1`) patches orchestrator
    functions by name: each must still exist, load_project must run
    through the patches, and uninstall must restore every one."""
    from perfbench.tracing import Tracer

    from powersql_spark.orchestrator import dag, runner

    def patched():
        return (runner.get_dependencies, runner.parse_model_file, dag.extract_refs)

    before = patched()
    tracer = Tracer(spark)
    tracer.install()
    try:
        assert all(a is not b for a, b in zip(patched(), before))
        runner.load_project(spark, PROJECT)
        assert {
            "orchestrator.sqlparse.parse",
            "orchestrator.sqlparse.extract_refs",
            "orchestrator.dag.plan",
        } <= {s.name for s in tracer.spans}
    finally:
        tracer.uninstall()
    assert patched() == before


def test_backtick_identifiers(parser):
    """Models run as Spark SQL, whose native identifier quote is the
    backtick: a quoted name is a ref, and a ';' inside it splits nothing."""
    assert extract_refs(parser, "SELECT * FROM `stg` JOIN b USING (k)") == ["stg", "b"]
    assert extract_refs(parser, "SELECT 1 FROM `a``b`.`c d`") == ["a`b.c d"]
    assert split_statements("CREATE VIEW `x;y` AS SELECT 1") == [
        "CREATE VIEW `x;y` AS SELECT 1"
    ]
    assert parse_model_statement("CREATE VIEW `x;y` AS SELECT 1").name == "x;y"


def test_backtick_ref_orders_the_run(spark, tmp_path):
    """A backtick-quoted ref is a DAG edge, and so is a ref after an
    escaped quote: `quoted` and `consumer` sort before `base` by file
    name but must run after the `base` they read."""
    from powersql_spark.orchestrator.runner import run

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "bt"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "a_consumer.sql").write_text(
        "CREATE TABLE consumer AS SELECT n*10 AS m FROM `base`"
    )
    (tmp_path / "models" / "a_a_quoted.sql").write_text(
        "CREATE TABLE quoted AS SELECT 'a\\'b' AS s, n FROM base WHERE 'x' <> 'c'"
    )
    (tmp_path / "models" / "b_base.sql").write_text(
        "CREATE TABLE base AS SELECT 1 AS n"
    )
    assert run(spark, tmp_path, sources=SOURCES) == ["base", "quoted", "consumer"]
    assert spark.table("consumer").collect()[0]["m"] == 10
    assert spark.table("quoted").collect()[0]["s"] == "a'b"


def test_quoted_model_names_work_in_every_command(spark, tmp_path, capsys):
    """Quoted model names that are not plain identifiers: a TABLE
    `my model`, a VIEW `a-b` and a view reading both pass check, run,
    run --changed (which restores the TABLE from target/) and test."""
    from powersql_spark.orchestrator.runner import check, run
    from powersql_spark.orchestrator.runner import test as run_tests

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "quoted"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    models = tmp_path / "models"
    models.mkdir()
    (models / "a.sql").write_text("CREATE TABLE `my model` AS SELECT 1 AS n")
    (models / "b.sql").write_text(
        "CREATE VIEW `a-b` AS SELECT n + 1 AS n FROM `my model`"
    )
    (models / "c.sql").write_text(
        "CREATE VIEW downstream AS SELECT m.n + ab.n AS n"
        " FROM `my model` m CROSS JOIN `a-b` ab"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "ASSERT (SELECT n FROM downstream) = 3"
        " AND (SELECT n FROM `a-b`) = 2 AS 'quoted names';"
    )
    assert set(check(spark, tmp_path, sources=SOURCES)) == {
        "my model", "a-b", "downstream"
    }
    assert run(spark, tmp_path, sources=SOURCES) == [
        "my model", "a-b", "downstream"
    ]
    (models / "c.sql").write_text(
        "CREATE VIEW downstream AS SELECT m.n + ab.n + 0 AS n"
        " FROM `my model` m CROSS JOIN `a-b` ab"
    )
    assert run(spark, tmp_path, sources=SOURCES, changed=True) == ["downstream"]
    assert run_tests(spark, tmp_path, sources=SOURCES) == 0
    assert "quoted names...OK" in capsys.readouterr().out


# ---------- DAG (reference src/main.rs:489-548) ----------


def test_cycle_detected():
    # Mirrors the 2-cycle error test (src/main.rs:489-498).
    with pytest.raises(ValueError, match="Cycle"):
        detect_cycles({"x": ["y"], "y": ["x"]})


def test_missing_model_error():
    # Mirrors the missing-model error test (src/main.rs:500-509).
    with pytest.raises(ValueError, match="Model y not found"):
        detect_cycles({"x": ["y"]})


def test_dag_ok():
    # Mirrors the ok-on-DAG test (src/main.rs:511-520).
    detect_cycles({"x": ["y"], "y": []})


def test_build_graph():
    # Mirrors test_build_graph (src/main.rs:522-548): `y` has no parents
    # and is ready first; `x` is released only once `y` is done.
    graph = build_graph({"x": ["y"], "y": []})
    assert graph.get_ready() == ("y",)
    assert graph.get_ready() == ()
    graph.done("y")
    assert graph.get_ready() == ("x",)
    graph.done("x")
    assert not graph.is_active()


def test_external_sources_filtered(spark):
    models = parse_model_file(
        "CREATE VIEW a AS SELECT * FROM ext_source;"
        "CREATE VIEW b AS SELECT * FROM a"
    )
    deps = get_dependencies(spark, models)
    assert deps == {"a": [], "b": ["a"]}


# ---------- integration (reference postgres.yml:33-39) ----------

PROJECT = "examples/project"
SOURCES = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def clean_target():
    yield
    shutil.rmtree(f"{PROJECT}/target", ignore_errors=True)


def test_check_command(spark):
    from powersql_spark.orchestrator.runner import check

    schemas = check(spark, PROJECT, sources=SOURCES)
    assert set(schemas) == {"revenue", "rev_per_product", "top_products"}
    assert "product_id" in schemas["rev_per_product"]


def test_check_rejects_bad_model(spark, tmp_path):
    from powersql_spark.orchestrator.runner import check

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "bad"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW broken AS SELECT nonexistent_col FROM lineitem"
    )
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        check(spark, tmp_path, sources=SOURCES)


def _write_data_free_project(tmp_path, model_sql):
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "nodata"\nmodels = ["models"]\n'
        'sources = "missing_dir"\nsources_schema = "schema.json"\n'
    )
    (tmp_path / "schema.json").write_text(
        '{"lineitem": "l_partkey BIGINT, l_extendedprice DOUBLE,'
        ' l_discount DOUBLE"}'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(model_sql)


def test_check_data_free_with_schema_manifest(spark, tmp_path):
    """`check` with NO source data present: the schema manifest registers
    empty typed relations, restoring the reference's data-free static
    type-check (src/types.rs:47-221 needs no warehouse connection)."""
    from powersql_spark.orchestrator.runner import check

    _write_data_free_project(
        tmp_path,
        "CREATE VIEW revenue AS SELECT l_partkey AS product_id,"
        " l_extendedprice * (1 - l_discount) AS euro FROM lineitem;\n"
        "CREATE VIEW rev_per_product AS SELECT product_id,"
        " SUM(euro) AS rev FROM revenue GROUP BY product_id",
    )
    schemas = check(spark, tmp_path)
    assert set(schemas) == {"revenue", "rev_per_product"}
    assert "product_id" in schemas["rev_per_product"]
    spark.catalog.dropTempView("lineitem")


def test_check_data_free_still_catches_type_errors(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from powersql_spark.orchestrator.runner import check

    _write_data_free_project(
        tmp_path,
        "CREATE VIEW broken AS SELECT no_such_col FROM lineitem",
    )
    with pytest.raises(AnalysisException):
        check(spark, tmp_path)
    spark.catalog.dropTempView("lineitem")


def test_run_twice_idempotent_and_test_pass(spark, capsys):
    from powersql_spark.orchestrator.runner import run, test as run_tests

    order = run(spark, PROJECT, sources=SOURCES)
    assert order.index("revenue") < order.index("rev_per_product")
    first = {r["product_id"]: r["rev"] for r in spark.table("rev_per_product").collect()}
    # Idempotence: run twice, same result (reference CI runs `run` twice,
    # .github/workflows/postgres.yml:38-39).
    order2 = run(spark, PROJECT, sources=SOURCES)
    assert order2 == order
    second = {r["product_id"]: r["rev"] for r in spark.table("rev_per_product").collect()}
    assert first == second
    assert spark.table("top_products").count() == 100

    rc = run_tests(spark, PROJECT, sources=SOURCES)
    out = capsys.readouterr().out
    assert rc == 0
    assert out.count("...OK") == 6


def test_run_selected_model_and_closure(spark):
    """--model selection: materialize one model plus its upstream
    closure only (dbt-style subgraph rebuild)."""
    from powersql_spark.orchestrator.runner import run

    order = run(spark, PROJECT, sources=SOURCES, model="rev_per_product")
    assert order == ["revenue", "rev_per_product"]  # top_products excluded
    assert spark.table("rev_per_product").count() > 0

    with pytest.raises(ValueError, match="Model nope not found"):
        run(spark, PROJECT, sources=SOURCES, model="nope")


def test_run_parallel_wide_dag(spark, tmp_path):
    """Diamond DAG (4 independent mid-layer models + a union sink):
    parallel run must respect dependencies and match serial results."""
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "wide"\nmodels = ["models"]\n'
    )
    mdir = tmp_path / "models"
    mdir.mkdir()
    mids = []
    for seg in ("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"):
        name = f"seg_{seg.lower()}"
        mids.append(name)
        (mdir / f"{name}.sql").write_text(
            f"CREATE VIEW {name} AS "
            f"SELECT c_custkey, c_acctbal FROM base_customers "
            f"WHERE c_mktsegment = '{seg}'"
        )
    (mdir / "base.sql").write_text(
        "CREATE VIEW base_customers AS "
        "SELECT c_custkey, c_acctbal, c_mktsegment FROM customer"
    )
    union_sql = " UNION ALL ".join(f"SELECT * FROM {m}" for m in mids)
    (mdir / "all_segs.sql").write_text(
        f"CREATE TABLE all_segs AS {union_sql}"
    )
    from powersql_spark.orchestrator.runner import run

    serial = run(spark, tmp_path, sources=SOURCES)
    n_serial = spark.table("all_segs").count()
    done = run(spark, tmp_path, sources=SOURCES, parallel=True)
    assert set(done) == set(serial) == {"base_customers", "all_segs", *mids}
    assert done.index("base_customers") == 0
    assert done.index("all_segs") == len(done) - 1
    assert spark.table("all_segs").count() == n_serial > 0


def test_explain_command(spark):
    """explain: formatted plan per model, analysis only, closure-aware.
    Column pruning must reach the scan (the revenue model reads 3 of
    lineitem's 11 columns)."""
    from powersql_spark.orchestrator.runner import explain

    plans = explain(spark, PROJECT, sources=SOURCES, model="rev_per_product")
    assert set(plans) == {"revenue", "rev_per_product"}
    assert "Scan parquet" in plans["revenue"]
    assert "ReadSchema: struct<l_partkey:bigint" in plans["revenue"]
    assert "HashAggregate" in plans["rev_per_product"]


def test_run_parallel_matches_serial(spark):
    from powersql_spark.orchestrator.runner import run

    done = run(spark, PROJECT, sources=SOURCES, parallel=True)
    assert set(done) == {"revenue", "rev_per_product", "top_products"}
    assert done.index("revenue") < done.index("rev_per_product")
    assert spark.table("top_products").count() == 100


def test_failing_assert_and_fail_fast(spark, tmp_path, capsys):
    from powersql_spark.orchestrator.runner import test as run_tests

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "failing"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW all_items AS SELECT * FROM lineitem"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "ASSERT (SELECT COUNT(*) FROM lineitem) < 0 AS 'impossible';\n"
        "ASSERT (SELECT COUNT(*) FROM lineitem) > 0 AS 'has rows';"
    )
    rc = run_tests(spark, tmp_path, sources=SOURCES)
    out = capsys.readouterr().out
    assert rc == 1
    assert "impossible...ERROR" in out and "has rows...OK" in out

    rc = run_tests(spark, tmp_path, sources=SOURCES, fail_fast=True)
    out = capsys.readouterr().out
    assert rc == 1
    assert "has rows" not in out  # stopped at first failure


def test_pipeline_example_project(spark, capsys):
    """The second example project (examples/pipeline): the LLM
    training-data funnel expressed as orchestrated models over the
    documents source, with 4 ASSERT data tests."""
    import shutil

    from powersql_spark.orchestrator.runner import run, test as run_tests

    try:
        order = run(spark, "examples/pipeline")
        assert order == ["scored_docs", "kept_docs", "doc_chunks"]
        assert spark.table("doc_chunks").count() > 0
        rc = run_tests(spark, "examples/pipeline")
        out = capsys.readouterr().out
        assert rc == 0
        assert out.count("...OK") == 4
    finally:
        shutil.rmtree("examples/pipeline/target", ignore_errors=True)


def test_docs_command(spark, tmp_path):
    from powersql_spark.orchestrator.runner import docs

    project = tmp_path / "project"
    shutil.copytree(PROJECT, project, ignore=shutil.ignore_patterns("target", "docs"))
    path = docs(spark, project)
    assert path == project / "docs" / "docs.md"
    content = path.read_text()
    assert "revenue --> rev_per_product" in content
    assert "## top_products" in content


def test_check_rejects_non_boolean_test_condition(spark, tmp_path):
    from powersql_spark.orchestrator.runner import check

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "badtest"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW v AS SELECT l_orderkey FROM lineitem"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "ASSERT (SELECT COUNT(*) FROM lineitem) AS 'not a boolean'"
    )
    with pytest.raises(TypeError, match="boolean"):
        check(spark, tmp_path, sources=SOURCES)


# ---------- incremental runs (run --changed) ----------


def _write_chain_project(tmp_path):
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "inc"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "base.sql").write_text(
        "CREATE VIEW base AS SELECT n_nationkey AS k, n_name AS v"
        " FROM nation"
    )
    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE VIEW mid AS SELECT k, v FROM base WHERE k < 10"
    )
    (tmp_path / "models" / "leaf.sql").write_text(
        "CREATE VIEW leaf AS SELECT COUNT(*) AS n FROM mid"
    )
    (tmp_path / "models" / "other.sql").write_text(
        "CREATE VIEW other AS SELECT k FROM base WHERE k >= 10"
    )


def test_run_changed_selects_dirty_downstream_only(spark, tmp_path):
    """First run materializes everything and writes the manifest; an
    unchanged re-run with --changed selects nothing; editing `mid`
    re-runs mid + leaf (its consumer) but NOT base or other."""
    from powersql_spark.orchestrator.runner import run

    _write_chain_project(tmp_path)
    first = run(spark, tmp_path, sources=SOURCES)
    assert set(first) == {"base", "mid", "leaf", "other"}
    assert (tmp_path / "target" / "manifest.json").exists()

    again = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert again == []

    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE VIEW mid AS SELECT k, v FROM base WHERE k < 5"
    )
    inc = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert set(inc) == {"mid", "leaf"}
    # the edit took effect through the restored upstream view
    assert spark.table("leaf").collect()[0]["n"] == 5

    # manifest updated: a further --changed run selects nothing
    assert run(spark, tmp_path, sources=SOURCES, changed=True) == []


def test_run_changed_parallel_prunes_out_of_selection_parents(
    spark, tmp_path
):
    """--changed + --parallel: the Kahn subgraph must prune edges to
    unchanged parents that were restored (not scheduled), else
    build_graph KeyErrors on the missing node. Editing `mid` selects
    {mid, leaf}; mid's parent `base` is outside the selection."""
    from powersql_spark.orchestrator.runner import run

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE VIEW mid AS SELECT k, v FROM base WHERE k < 3"
    )
    inc = run(spark, tmp_path, sources=SOURCES, changed=True, parallel=True)
    assert set(inc) == {"mid", "leaf"}
    assert spark.table("leaf").collect()[0]["n"] == 3
    # manifest banked: nothing further to do, serial or parallel
    assert run(spark, tmp_path, sources=SOURCES, changed=True, parallel=True) == []


def test_run_changed_restores_only_ancestors_of_selection(spark, tmp_path):
    """The restore loop touches only the selected subgraph's upstream
    closure: editing `leaf` (reads mid -> base) must not re-register
    `other`, which no selected model reads."""
    from powersql_spark.orchestrator.runner import run

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "leaf.sql").write_text(
        "CREATE VIEW leaf AS SELECT COUNT(*) + 0 AS n FROM mid"
    )
    spark.catalog.dropTempView("other")
    inc = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert inc == ["leaf"]
    # ancestors restored, sibling untouched
    assert spark.table("leaf").collect()[0]["n"] == 10
    assert not spark.catalog.tableExists("other")


def test_run_changed_new_model_runs_and_banks(spark, tmp_path):
    """A model added after the last run counts as changed; removing it
    drops its manifest entry on the next run."""
    from powersql_spark.orchestrator.runner import (
        _load_manifest,
        run,
    )

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "extra.sql").write_text(
        "CREATE VIEW extra AS SELECT COUNT(*) AS n FROM other"
    )
    inc = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert inc == ["extra"]
    assert "extra" in _load_manifest(tmp_path)
    (tmp_path / "models" / "extra.sql").unlink()
    run(spark, tmp_path, sources=SOURCES)
    assert "extra" not in _load_manifest(tmp_path)


def test_wide_example_runs_parallel_and_serial(spark, tmp_path):
    """The examples/wide DAG (the parallel example project: 8
    independent table models + fan-in summary) must produce identical
    results in both modes. Runs on a copy, so no target/ is left in the checkout."""
    import os

    from powersql_spark.orchestrator.runner import run

    project = tmp_path / "wide"
    shutil.copytree(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "wide",
        ),
        project,
        ignore=shutil.ignore_patterns("target"),
    )
    serial = run(spark, project)
    n_serial = spark.table("summary").collect()[0]
    parallel = run(spark, project, parallel=True)
    n_parallel = spark.table("summary").collect()[0]
    assert sorted(serial) == sorted(parallel)
    assert len(serial) == 9
    assert serial[-1] == "summary" == parallel[-1]
    assert n_serial == n_parallel


# ---------- TABLE registration from a known schema ----------


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches: the scheduler hands out job ids in
    order, synchronously on submission."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(scheduler.nextJobId())
    fn()
    return int(scheduler.nextJobId()) - before


def test_restore_launches_no_spark_job(spark):
    """TABLE models register from their known schema: restoring the
    models `run` built launches no job at all (no footer-inference job),
    and materializing a TABLE launches only the jobs of its write."""
    from powersql_spark.orchestrator.executor import SparkExecutor
    from powersql_spark.orchestrator.runner import (
        _load_manifest,
        _restore_models,
        load_project,
        run,
    )

    run(spark, PROJECT, sources=SOURCES)
    project = load_project(spark, PROJECT)
    ex = SparkExecutor(spark, f"{PROJECT}/target")
    manifest = _load_manifest(PROJECT)
    assert "table" in {m.kind for m in project.models.values()}
    assert _jobs_launched(
        spark, lambda: _restore_models(project, ex, manifest)
    ) == 0

    table = project.models["top_products"]
    write_only = _jobs_launched(
        spark,
        lambda: spark.sql(table.query)
        .write.mode("overwrite")
        .parquet(f"{PROJECT}/target/_write_only"),
    )
    assert _jobs_launched(spark, lambda: ex.execute(table)) == write_only


_TYPED_MODELS = {
    "typed": (
        "CREATE TABLE typed AS SELECT n_nationkey AS k,"
        " CAST(n_name AS CHAR(5)) AS c5,"
        " CAST(substr(n_name, 1, 3) AS VARCHAR(3)) AS v3,"
        " CAST(n_nationkey * 1.25 AS DECIMAL(20,4)) AS dec,"
        " TIMESTAMP'2024-01-02 03:04:05' + make_interval(0, 0, 0, n_nationkey) AS ts,"
        " TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts_ntz,"
        " DATE'2024-01-02' + n_nationkey AS d,"
        " named_struct('a', n_regionkey, 'b', array(1.5D, 2.5D)) AS st,"
        " array(n_nationkey, NULL) AS arr,"
        " map(n_name, n_regionkey) AS m,"
        " CAST(n_name AS BINARY) AS bin,"
        " CAST(NULL AS STRING) AS all_null,"
        " n_regionkey AS `Region Key`,"
        " n_name AS MixedCase"
        " FROM nation"
    ),
    "typed_empty": "CREATE TABLE typed_empty AS SELECT * FROM typed WHERE k < 0",
    "consumer": (
        "CREATE VIEW consumer AS SELECT COUNT(*) AS n"
        " FROM typed t LEFT JOIN typed_empty e ON t.k = e.k"
    ),
}


def _assert_registered_as_inferred(spark, project_dir, names):
    for name in names:
        inferred = spark.read.parquet(str(project_dir / "target" / name))
        registered = spark.table(name)
        assert registered.schema == inferred.schema, name
        assert (
            registered.orderBy("k").collect() == inferred.orderBy("k").collect()
        ), name


def test_table_registration_keeps_inferred_schema(spark, tmp_path):
    """Registering a TABLE from its known schema (the written DataFrame's
    after `run`, the manifest's on `test` and `run --changed` restores)
    gives exactly the schema and rows Spark's own inference gives."""
    from pyspark.sql.types import DecimalType, TimestampNTZType

    from powersql_spark.orchestrator.runner import run, test as run_tests

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "typed"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models").mkdir()
    for name, sql in _TYPED_MODELS.items():
        (tmp_path / "models" / f"{name}.sql").write_text(sql)
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "ASSERT (SELECT COUNT(*) FROM typed) = 25 AS 'every nation';\n"
        "ASSERT NOT EXISTS (SELECT 1 FROM typed_empty) AS 'empty'"
    )
    tables = ("typed", "typed_empty")

    run(spark, tmp_path, sources=SOURCES)
    _assert_registered_as_inferred(spark, tmp_path, tables)
    schema = spark.table("typed").schema
    assert schema["dec"].dataType == DecimalType(20, 4)
    assert schema["ts_ntz"].dataType == TimestampNTZType()
    assert spark.table("typed").count() == 25

    for name in tables:
        spark.catalog.dropTempView(name)
    assert run_tests(spark, tmp_path, sources=SOURCES) == 0
    _assert_registered_as_inferred(spark, tmp_path, tables)

    for name in tables:
        spark.catalog.dropTempView(name)
    (tmp_path / "models" / "consumer.sql").write_text(
        _TYPED_MODELS["consumer"].replace("COUNT(*)", "COUNT(*) + 0")
    )
    assert run(spark, tmp_path, sources=SOURCES, changed=True) == ["consumer"]
    _assert_registered_as_inferred(spark, tmp_path, tables)
    assert spark.table("consumer").collect()[0]["n"] == 25


def _write_table_chain_project(tmp_path, mid_sql):
    """The chain project with `mid` a TABLE, and one ASSERT on `leaf`."""
    _write_chain_project(tmp_path)
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "inc"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models" / "mid.sql").write_text(mid_sql)
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "ASSERT (SELECT n FROM leaf) = 4 AS 'leaf counts mid'"
    )


_GOOD_MID = "CREATE TABLE mid AS SELECT k, v FROM base WHERE k < 4"


def test_test_rebuilds_a_table_whose_build_failed(spark, tmp_path):
    """After a good `run`, `mid`'s TABLE write raises and leaves an empty
    `target/mid`. The manifest no longer vouches for it, so `test`
    rebuilds `mid` and raises that model's own error instead of failing
    to infer a schema; once the SQL is mended, `test` rebuilds it and
    passes with no `run` in between."""
    from powersql_spark.orchestrator.runner import run, test as run_tests

    _write_table_chain_project(tmp_path, _GOOD_MID)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE TABLE mid AS SELECT k, v FROM base"
        " WHERE raise_error('mid broke') IS NULL"
    )
    with pytest.raises(Exception, match="mid broke"):
        run(spark, tmp_path, sources=SOURCES)
    assert (tmp_path / "target" / "mid").is_dir()

    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION") as err:
        run_tests(spark, tmp_path, sources=SOURCES)
    assert "mid broke" in str(err.value)
    assert "UNABLE_TO_INFER_SCHEMA" not in str(err.value)

    (tmp_path / "models" / "mid.sql").write_text(_GOOD_MID)
    assert run_tests(spark, tmp_path, sources=SOURCES) == 0
    assert spark.table("mid").count() == 4


def test_test_rebuilds_a_target_the_manifest_does_not_list(spark, tmp_path):
    """A `target/mid` holding a part file that no `run` recorded is
    rebuilt from the model's SQL, not registered."""
    from powersql_spark.orchestrator.runner import _load_manifest, test as run_tests

    _write_table_chain_project(tmp_path, _GOOD_MID)
    spark.createDataFrame([(99, "stray")], "k INT, v STRING").write.parquet(
        str(tmp_path / "target" / "mid")
    )
    assert _load_manifest(tmp_path) == {}
    assert run_tests(spark, tmp_path, sources=SOURCES) == 0
    assert sorted(r["k"] for r in spark.table("mid").collect()) == [0, 1, 2, 3]


# ---------- ASSERTs evaluated as one query ----------


def _write_assert_project(tmp_path, tests_sql):
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "asserts"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models").mkdir(exist_ok=True)
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW m AS SELECT l_partkey AS x FROM lineitem"
    )
    (tmp_path / "tests").mkdir(exist_ok=True)
    (tmp_path / "tests" / "t.sql").write_text(tests_sql)


def _count_calls(monkeypatch, cls, attr) -> list:
    """Record the argument of every ``cls.attr`` call."""
    calls = []
    orig = getattr(cls, attr)

    def counted(self, arg):
        calls.append(arg)
        return orig(self, arg)

    monkeypatch.setattr(cls, attr, counted)
    return calls


def test_batched_asserts_print_every_line_in_file_order(
    spark, tmp_path, capsys, monkeypatch
):
    """One query evaluates every condition; a failing ASSERT before
    passing ones still prints every line, a NULL condition is an ERROR,
    and fail_fast prints nothing after the first ERROR."""
    from powersql_spark.orchestrator.executor import SparkExecutor
    from powersql_spark.orchestrator.runner import test as run_tests

    _write_assert_project(
        tmp_path,
        "ASSERT (SELECT COUNT(*) FROM m) < 0 AS 'fails';\n"
        "ASSERT (SELECT COUNT(*) FROM m) > 0 AS 'rows';\n"
        "ASSERT CAST(NULL AS BOOLEAN) AS 'null';\n"
        "ASSERT (SELECT MIN(x) FROM m) >= 0 AS 'min';\n",
    )
    calls = _count_calls(monkeypatch, SparkExecutor, "query_bool")
    assert run_tests(spark, tmp_path, sources=SOURCES) == 1
    assert capsys.readouterr().out.splitlines() == [
        "fails...ERROR", "rows...OK", "null...ERROR", "min...OK",
    ]
    assert [len(c) for c in calls] == [4]

    assert run_tests(spark, tmp_path, sources=SOURCES, fail_fast=True) == 1
    assert capsys.readouterr().out.splitlines() == ["fails...ERROR"]


def test_batched_assert_error_raises_in_file_order(spark, tmp_path, capsys):
    """A condition that raises (a scalar subquery of many rows) fails
    the one query; the conditions are then evaluated one at a time, so
    the lines before it print and its own error is raised."""
    from py4j.protocol import Py4JJavaError

    from powersql_spark.orchestrator.executor import SparkExecutor
    from powersql_spark.orchestrator.runner import test as run_tests

    bad = "(SELECT x FROM m) = 1"
    _write_assert_project(
        tmp_path,
        "ASSERT (SELECT COUNT(*) FROM m) > 0 AS 'rows';\n"
        "ASSERT (SELECT MIN(x) FROM m) >= 0 AS 'min';\n"
        f"ASSERT {bad} AS 'too many rows';\n"
        "ASSERT (SELECT COUNT(*) FROM m) < 0 AS 'not reached';\n",
    )
    with pytest.raises(Py4JJavaError, match="SCALAR_SUBQUERY_TOO_MANY_ROWS") as got:
        run_tests(spark, tmp_path, sources=SOURCES)
    assert capsys.readouterr().out.splitlines() == ["rows...OK", "min...OK"]
    with pytest.raises(Py4JJavaError) as alone:
        SparkExecutor(spark, tmp_path / "target").query_bool([bad])
    # The message carries the failing query's text: the condition's own.
    assert (
        got.value.java_exception.getMessage()
        == alone.value.java_exception.getMessage()
    )

    # An ERROR before the bad condition under fail_fast: exit 1, no raise.
    _write_assert_project(
        tmp_path,
        "ASSERT (SELECT COUNT(*) FROM m) < 0 AS 'fails';\n"
        f"ASSERT {bad} AS 'too many rows';\n",
    )
    assert run_tests(spark, tmp_path, sources=SOURCES, fail_fast=True) == 1
    assert capsys.readouterr().out.splitlines() == ["fails...ERROR"]


def test_condition_ending_in_line_comment(spark, tmp_path):
    """Each condition sits on its own lines in the one query, so a
    trailing ``--`` comment cannot swallow the next column."""
    from powersql_spark.orchestrator.executor import SparkExecutor

    ex = SparkExecutor(spark, tmp_path)
    conditions = ["1 = 1\n-- a note", "1 = 0 -- another", "TRUE"]
    assert ex.query_bool(conditions) == [True, False, True]
    assert ex.condition_types(conditions) == ["boolean"] * 3
    assert ex.query_bool([]) == [] and ex.condition_types([]) == []


def test_batched_asserts_share_subquery_jobs(spark, tmp_path):
    """Catalyst reuses the repeated SUM subquery and merges the MAX over
    the same model into it: the three conditions launch exactly the jobs
    of the SUM condition alone."""
    from powersql_spark.catalog import load_tables
    from powersql_spark.orchestrator.executor import SparkExecutor
    from powersql_spark.orchestrator.sqlparse import Model

    load_tables(spark, SOURCES)
    ex = SparkExecutor(spark, tmp_path)
    ex.execute(Model("m_jobs", "view", "SELECT l_partkey AS x FROM lineitem", ""))
    total = "(SELECT SUM(x) FROM m_jobs) > 0"
    peak = "(SELECT MAX(x) FROM m_jobs) > 0"
    alone = _jobs_launched(spark, lambda: ex.query_bool([total]))
    assert alone > 0
    assert _jobs_launched(spark, lambda: ex.query_bool([total, peak, total])) == alone


def test_check_types_conditions_in_one_analysis(spark, tmp_path, monkeypatch):
    """`check` analyzes every condition at once and names the first
    non-boolean one in file order, also when a later one does not
    analyze at all."""
    from powersql_spark.orchestrator.executor import SparkExecutor
    from powersql_spark.orchestrator.runner import check

    _write_assert_project(
        tmp_path,
        "ASSERT (SELECT COUNT(*) FROM m) > 0 AS 'fine';\n"
        "ASSERT (SELECT COUNT(*) FROM m) AS 'first bad';\n"
        "ASSERT (SELECT MIN(x) FROM m) AS 'second bad';\n",
    )
    calls = _count_calls(monkeypatch, SparkExecutor, "condition_types")
    with pytest.raises(TypeError, match="got bigint: first bad$"):
        check(spark, tmp_path, sources=SOURCES)
    assert [len(c) for c in calls] == [3]

    _write_assert_project(
        tmp_path,
        "ASSERT (SELECT COUNT(*) FROM m) AS 'first bad';\n"
        "ASSERT (SELECT 1 FROM no_such_table) = 1 AS 'unresolved';\n",
    )
    with pytest.raises(TypeError, match="got bigint: first bad$"):
        check(spark, tmp_path, sources=SOURCES)


# ---------- a failed run keeps the manifest truthful ----------


@pytest.mark.parametrize("parallel", [False, True], ids=["serial", "parallel"])
def test_failed_run_banks_what_succeeded(spark, tmp_path, parallel):
    """After a good run, `mid` becomes a TABLE whose write raises: the
    run raises, `mid`'s manifest entry is gone and every other entry is
    its current hash, so `run --changed` rebuilds exactly `mid` and its
    downstream `leaf` once it is mended."""
    from powersql_spark.orchestrator.runner import _load_manifest, run

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES, parallel=parallel)
    banked = _load_manifest(tmp_path)
    assert set(banked) == {"base", "mid", "leaf", "other"}

    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE TABLE mid AS SELECT k, v FROM base"
        " WHERE raise_error('mid broke') IS NULL"
    )
    with pytest.raises(Exception, match="mid") as err:
        run(spark, tmp_path, sources=SOURCES, parallel=parallel)
    error = err.value
    if parallel:
        assert isinstance(error, ExceptionGroup)
        (error,) = error.exceptions
    assert "mid broke" in str(error)
    del banked["mid"]
    assert _load_manifest(tmp_path) == banked

    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE TABLE mid AS SELECT k, v FROM base WHERE k < 4"
    )
    inc = run(spark, tmp_path, sources=SOURCES, changed=True, parallel=parallel)
    assert set(inc) == {"mid", "leaf"}
    assert spark.table("leaf").collect()[0]["n"] == 4


def test_parallel_failure_drains_in_flight_and_names_every_failure(
    spark, tmp_path, monkeypatch
):
    """Two of three sibling models fail: the third, in flight, finishes
    and is banked, but nothing new starts (its child is not run), and
    the raised group names both failed models."""
    import threading

    from powersql_spark.orchestrator.executor import SparkExecutor
    from powersql_spark.orchestrator.runner import _load_manifest, run

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "drain"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    sql = {
        "base": "SELECT n_nationkey AS k FROM nation",
        "bad1": "SELECT k FROM base",
        "bad2": "SELECT k + 1 AS k FROM base",
        "slow": "SELECT k * 2 AS k FROM base",
        "after_slow": "SELECT k FROM slow",
    }
    for name, query in sql.items():
        (tmp_path / "models" / f"{name}.sql").write_text(
            f"CREATE VIEW {name} AS {query}"
        )
    run(spark, tmp_path, sources=SOURCES)
    banked = _load_manifest(tmp_path)

    broke = {"bad1": threading.Event(), "bad2": threading.Event()}
    executed = []
    orig = SparkExecutor.execute

    def execute(self, model):
        executed.append(model.name)
        if model.name in broke:
            broke[model.name].set()
            raise RuntimeError(f"{model.name} broke")
        if model.name == "slow":
            for event in broke.values():
                assert event.wait(60)
        return orig(self, model)

    monkeypatch.setattr(SparkExecutor, "execute", execute)
    with pytest.raises(ExceptionGroup) as err:
        run(spark, tmp_path, sources=SOURCES, parallel=True)
    assert "bad1" in str(err.value) and "bad2" in str(err.value)
    assert sorted(str(e) for e in err.value.exceptions) == [
        "bad1 broke", "bad2 broke",
    ]
    assert sorted(executed) == ["bad1", "bad2", "base", "slow"]
    assert _load_manifest(tmp_path) == {
        k: v for k, v in banked.items() if k not in broke
    }

    monkeypatch.setattr(SparkExecutor, "execute", orig)
    assert sorted(run(spark, tmp_path, sources=SOURCES, changed=True)) == [
        "bad1", "bad2",
    ]


def test_model_run_unbanks_stale_downstream(spark, tmp_path):
    """`run --model mid` after an edit of `base` rebuilds base and mid;
    `leaf` and `other` read the new base but were not rebuilt, so their
    entries are dropped and the next `run --changed` rebuilds them."""
    from powersql_spark.orchestrator.runner import _load_manifest, run

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "base.sql").write_text(
        "CREATE VIEW base AS SELECT n_nationkey AS k, n_name AS v"
        " FROM nation WHERE n_nationkey >= 1"
    )
    assert run(spark, tmp_path, sources=SOURCES, model="mid") == ["base", "mid"]
    assert set(_load_manifest(tmp_path)) == {"base", "mid"}
    inc = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert sorted(inc) == ["leaf", "other"]
    assert spark.table("leaf").collect()[0]["n"] == 9
