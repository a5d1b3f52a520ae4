"""The four commands: check / run / test / docs (reference
src/main.rs:348-454), orchestrated over the Spark executor.

Execution order is topological (Kahn); the reference runs models
serially (src/main.rs:400-413). ``run(parallel=True)`` submits ready
models concurrently from a thread pool — Spark job submission is
thread-safe and independent models shuffle/scan concurrently, which is
the free orchestration-level win the reference leaves on the table
(SURVEY.md §7 decision 6). Serial remains the default, faithful mode.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession

from powersql_spark.catalog import load_tables
from powersql_spark.orchestrator.config import PowerSqlConfig, load_config
from powersql_spark.orchestrator.dag import (
    build_graph,
    detect_cycles,
    get_dependencies,
    topo_order,
)
from powersql_spark.orchestrator.executor import SparkExecutor
from powersql_spark.orchestrator.sqlparse import (
    Model,
    Test,
    parse_model_file,
    parse_test_file,
)


@dataclass
class Project:
    config: PowerSqlConfig
    models: dict[str, Model]
    deps: dict[str, list[str]]
    tests: list[Test] = field(default_factory=list)

    @property
    def order(self) -> list[str]:
        return topo_order(self.deps)


def load_project(spark: SparkSession, project_dir: str | Path) -> Project:
    """Shared prefix of every command (src/main.rs:319-345): config ->
    discover -> parse -> deps (from the session's parser) -> cycle check."""
    config = load_config(project_dir)
    models: dict[str, Model] = {}
    for path in config.model_files():
        models.update(parse_model_file(path.read_text()))
    deps = get_dependencies(spark, models)
    detect_cycles(deps)
    tests: list[Test] = []
    for path in config.test_files():
        tests.extend(parse_test_file(path.read_text()))
    return Project(config=config, models=models, deps=deps, tests=tests)


def _register_sources(
    spark: SparkSession, sources: str | None, project: Project
) -> None:
    """External source tables must be present before analysis — the
    reference tolerates unknown sources via open typing
    (src/types.rs:121-123); Spark treats them as errors, so register
    them up front (SURVEY.md §7 decision 2). Explicit ``sources`` wins;
    otherwise the project config's ``sources`` entry applies."""
    sources = sources or project.config.sources_dir()
    if sources:
        load_tables(spark, sources)


def _register_schema_manifest(spark: SparkSession, path: str | Path) -> None:
    """Register each manifest table as an EMPTY DataFrame with the
    declared schema: the analyzer then type-checks every model with no
    source data on disk — the reference's data-free `check` ergonomics
    (src/types.rs:47-221 runs on the AST env, no warehouse needed)."""
    import json

    manifest = json.loads(Path(path).read_text())
    for table, ddl in manifest.items():
        spark.createDataFrame([], ddl).createOrReplaceTempView(table)


def _register_analysis_env(
    spark: SparkSession,
    sources: str | None,
    sources_schema: str | None,
    project: Project,
) -> None:
    """Source environment for analysis-only commands (check/explain).
    Precedence: explicit --sources-schema > explicit --sources > config
    sources dir if it exists > config sources_schema. The fallback chain
    is what lets `check` run in a clean checkout before any data lands."""
    if sources_schema:
        _register_schema_manifest(spark, sources_schema)
        return
    if sources:
        load_tables(spark, sources)
        return
    cfg_dir = project.config.sources_dir()
    if cfg_dir and Path(cfg_dir).exists():
        load_tables(spark, cfg_dir)
        return
    cfg_schema = project.config.sources_schema_path()
    if cfg_schema:
        _register_schema_manifest(spark, cfg_schema)


def check(
    spark: SparkSession,
    project_dir: str | Path,
    sources: str | None = None,
    sources_schema: str | None = None,
) -> dict[str, str]:
    """Static type-check: analyze every model in topo order with zero
    jobs run; analysis errors are check failures (src/main.rs:348-386).
    Returns {model: schema DDL}. Strictly stronger than the reference's
    gradual Any-typing (SURVEY.md §1.2); with a schema manifest it is
    also data-free like the reference's."""
    project = load_project(spark, project_dir)
    _register_analysis_env(spark, sources, sources_schema, project)
    ex = SparkExecutor(spark, Path(project_dir) / "target")
    schemas: dict[str, str] = {}
    for name in project.order:
        df = ex.analyze(project.models[name])
        schemas[name] = df.schema.simpleString()
    # Test conditions must type as boolean (src/main.rs:378-385).
    for t in project.tests:
        df = spark.sql(f"SELECT ({t.condition}) AS condition")
        dtype = df.schema[0].dataType.simpleString()
        if dtype != "boolean":
            raise TypeError(
                f"Test condition must be boolean, got {dtype}: {t.message}"
            )
    return schemas


def _ancestor_closure(deps: dict[str, list[str]], target: str) -> set[str]:
    """The target plus everything it transitively reads — the minimal
    subgraph whose materialization makes ``target`` valid."""
    if target not in deps:
        raise ValueError(f"Model {target} not found")
    keep: set[str] = set()
    stack = [target]
    while stack:
        cur = stack.pop()
        if cur in keep:
            continue
        keep.add(cur)
        stack.extend(deps[cur])
    return keep


def _descendant_closure(
    deps: dict[str, list[str]], seeds: set[str]
) -> set[str]:
    """The seed models plus everything that transitively READS them —
    a changed model invalidates every consumer downstream."""
    children: dict[str, list[str]] = {n: [] for n in deps}
    for name, parents in deps.items():
        for p in parents:
            if p in children:
                children[p].append(name)
    keep: set[str] = set()
    stack = list(seeds)
    while stack:
        cur = stack.pop()
        if cur in keep:
            continue
        keep.add(cur)
        stack.extend(children.get(cur, ()))
    return keep


def _manifest_path(project_dir: str | Path) -> Path:
    return Path(project_dir) / "target" / "manifest.json"


def _model_hash(model) -> str:
    import hashlib

    return hashlib.md5(model.sql.encode()).hexdigest()


def _load_manifest(project_dir: str | Path) -> dict[str, str]:
    import json

    path = _manifest_path(project_dir)
    if not path.exists():
        return {}
    try:
        data = json.loads(path.read_text())
    except ValueError:
        return {}
    return data if isinstance(data, dict) else {}


def _save_manifest(
    project_dir: str | Path, project, executed: list[str]
) -> None:
    """Merge the executed models' current hashes into the state file;
    entries for models no longer in the project are dropped."""
    import json

    manifest = {
        k: v
        for k, v in _load_manifest(project_dir).items()
        if k in project.models
    }
    for name in executed:
        manifest[name] = _model_hash(project.models[name])
    path = _manifest_path(project_dir)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(manifest, indent=1, sort_keys=True))


def run(
    spark: SparkSession,
    project_dir: str | Path,
    sources: str | None = None,
    parallel: bool = False,
    model: str | None = None,
    changed: bool = False,
) -> list[str]:
    """Materialize every model in dependency order (src/main.rs:387-415).
    Idempotent: re-running overwrites views/tables in place. ``model``
    restricts the run to one model plus its upstream closure; ``changed``
    restricts it to models whose SQL hash differs from the state
    manifest written by the previous run, plus their DOWNSTREAM closure
    (dbt's ``state:modified+`` — at 100 TB you rebuild the subgraph an
    edit invalidated, not the whole project). Every run merges the
    executed models' hashes back into ``target/manifest.json``."""
    project = load_project(spark, project_dir)
    _register_sources(spark, sources, project)
    ex = SparkExecutor(spark, Path(project_dir) / "target")
    order = project.order
    if model is not None:
        keep = _ancestor_closure(project.deps, model)
        order = [n for n in order if n in keep]
    if changed:
        manifest = _load_manifest(project_dir)
        dirty = {
            n
            for n in project.models
            if manifest.get(n) != _model_hash(project.models[n])
        }
        keep = _descendant_closure(project.deps, dirty)
        order = [n for n in order if n in keep]
        # A changed-selection run needs the UNCHANGED upstream models the
        # selection actually reads visible in the session (views are
        # session-scoped): restore those — and only those; models outside
        # the selected subgraph's ancestry (including ones a combined
        # --model filter deliberately excluded) stay untouched — without
        # re-materializing table data.
        needed: set[str] = set()
        for name in order:
            needed |= _ancestor_closure(project.deps, name)
        for name in project.order:
            if name in needed and name not in keep:
                ex.restore(project.models[name])
    if not parallel:
        for name in order:
            ex.execute(project.models[name])
        _save_manifest(project_dir, project, order)
        return order

    # Kahn with concurrent submission of ready models. Parents outside
    # the selection (possible under --changed: an unchanged upstream is
    # restored above, not scheduled) are pruned from the subgraph edges,
    # else build_graph KeyErrors on the missing node.
    kept = set(order)
    sub_deps = {
        n: [p for p in project.deps[n] if p in kept] for n in order
    }
    graph = build_graph(sub_deps)
    done: list[str] = []
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = {}

        def submit_ready() -> None:
            for name, node in graph.items():
                if node.live_parents == 0 and name not in futures:
                    futures[name] = pool.submit(ex.execute, project.models[name])

        submit_ready()
        pending = set(futures.values())
        while pending:
            finished, pending = wait(pending, return_when="FIRST_COMPLETED")
            for fut in finished:
                fut.result()  # propagate errors
                name = next(k for k, v in futures.items() if v is fut)
                done.append(name)
                graph[name].live_parents = -1
                for child in graph[name].next_nodes:
                    graph[child].live_parents -= 1
            before = set(futures.values())
            submit_ready()
            pending |= set(futures.values()) - before
    _save_manifest(project_dir, project, done)
    return done


def _restore_models(project: Project, ex: SparkExecutor) -> None:
    """Re-register models in a fresh session.

    The reference's backend is a persistent warehouse, so `test` sees
    what `run` built; Spark temp views are session-scoped. Views are
    lazy — re-creating them is free; TABLE models load from the parquet
    target written by `run` (falling back to materializing if absent).
    """
    for name in project.order:
        ex.restore(project.models[name])


def test(
    spark: SparkSession,
    project_dir: str | Path,
    sources: str | None = None,
    fail_fast: bool = False,
) -> int:
    """Run ASSERT data tests; returns the exit code (0 ok, 1 failures),
    printing OK/ERROR per test (src/main.rs:430-454)."""
    project = load_project(spark, project_dir)
    _register_sources(spark, sources, project)
    ex = SparkExecutor(spark, Path(project_dir) / "target")
    _restore_models(project, ex)
    exit_code = 0
    for t in project.tests:
        ok = ex.query_bool(t.condition)
        if ok:
            print(f"{t.message}...OK")
        else:
            print(f"{t.message}...ERROR")
            exit_code = 1
            if fail_fast:
                return 1
    return exit_code


def explain(
    spark: SparkSession,
    project_dir: str | Path,
    sources: str | None = None,
    model: str | None = None,
    sources_schema: str | None = None,
) -> dict[str, str]:
    """Formatted physical plan per model without executing anything —
    what the reference cannot offer at all (its EXPLAIN would be the
    remote warehouse's). Models are analyzed in topo order so
    downstream plans resolve against upstream views."""
    project = load_project(spark, project_dir)
    _register_analysis_env(spark, sources, sources_schema, project)
    ex = SparkExecutor(spark, Path(project_dir) / "target")
    order = project.order
    if model is not None:
        keep = _ancestor_closure(project.deps, model)
        order = [n for n in order if n in keep]
    plans: dict[str, str] = {}
    for name in order:
        df = ex.analyze(project.models[name])
        df.createOrReplaceTempView(name)
        plans[name] = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    return plans


def docs(spark: SparkSession, project_dir: str | Path) -> Path:
    """Emit docs/docs.md: one heading per model + the dependency arrows
    the reference computes but never writes (src/main.rs:416-429) as a
    mermaid graph — the documented improvement from SURVEY.md §2.A."""
    project = load_project(spark, project_dir)
    out_dir = Path(project_dir) / "docs"
    out_dir.mkdir(parents=True, exist_ok=True)
    lines = [f"# {project.config.name}", ""]
    lines += ["```mermaid", "graph TD"]
    for name, refs in sorted(project.deps.items()):
        for r in refs:
            lines.append(f"    {r} --> {name}")
    lines += ["```", ""]
    for name in project.order:
        model = project.models[name]
        lines += [f"## {name}", "", f"Kind: {model.kind}", "", "```sql", model.sql, "```", ""]
    path = out_dir / "docs.md"
    path.write_text("\n".join(lines))
    return path
