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

import hashlib
import json
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

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
    order: list[str]  # topological: parents before children
    tests: list[Test] = field(default_factory=list)


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
    return Project(config, models, deps, topo_order(deps), tests)


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


def _batched(fn, items: list):
    """``fn(items)`` in one call. If that raises, ``fn`` one item at a
    time instead, lazily: the caller consumes the results before the
    first bad item, then that item raises its own error, in file order,
    as it did when every item was its own call."""
    try:
        return fn(items)
    except Exception:
        return (fn([item])[0] for item in items)


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
    also data-free like the reference's. The ASSERT conditions are
    typed in one analysis, of the projection ``test`` runs."""
    project = load_project(spark, project_dir)
    _register_analysis_env(spark, sources, sources_schema, project)
    ex = SparkExecutor(spark, Path(project_dir) / "target")
    schemas: dict[str, str] = {}
    for name in project.order:
        df = ex.analyze(project.models[name])
        schemas[name] = df.schema.simpleString()
    # Test conditions must type as boolean (src/main.rs:378-385).
    types = _batched(ex.condition_types, [t.condition for t in project.tests])
    for t, dtype in zip(project.tests, types):
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
    return hashlib.md5(model.sql.encode()).hexdigest()


def _load_manifest(project_dir: str | Path) -> dict[str, dict]:
    """The entries of ``target/manifest.json``; a missing or unreadable
    file, or an entry that is not an object, reads as no entry."""
    path = _manifest_path(project_dir)
    if not path.exists():
        return {}
    try:
        data = json.loads(path.read_text())
    except ValueError:
        return {}
    entries = data.items() if isinstance(data, dict) else ()
    return {k: v for k, v in entries if isinstance(v, dict)}


def _manifest_schema(manifest: dict[str, dict], name: str) -> StructType | None:
    """The schema the manifest records for ``name``'s TABLE target, or
    None: the manifest then does not vouch for a target."""
    schema = manifest.get(name, {}).get("schema")
    return None if schema is None else StructType.fromJson(schema)


def _save_manifest(project_dir: str | Path, project, built: dict, failed=()) -> None:
    """Merge the built models (each mapped to the schema ``execute``
    returned) into ``target/manifest.json``, the one record of what
    ``run`` built: per model ``{"hash": <md5 of its SQL>}``, plus for a
    TABLE the ``"schema"`` (StructType JSON) ``restore`` reads its
    target with. An entry is dropped, so that ``run --changed`` rebuilds
    the model and its downstream closure and ``restore`` rebuilds it
    rather than read its target, for a model no longer in the project, a
    model whose materialization failed (its target may be half-written),
    and a model this run left alone downstream of one it rebuilt from
    new SQL (after a failure, or outside a ``--model`` selection)."""
    old = _load_manifest(project_dir)
    new = {}
    for name, schema in built.items():
        new[name] = {"hash": _model_hash(project.models[name])}
        if schema is not None:
            new[name]["schema"] = schema.jsonValue()
    rebuilt = {n for n, e in new.items() if old.get(n, {}).get("hash") != e["hash"]}
    drop = set(failed) | _descendant_closure(project.deps, rebuilt)
    manifest = {
        k: v for k, v in old.items() if k in project.models and k not in drop
    }
    manifest.update(new)
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
    built models' entries back into ``target/manifest.json``, a failed
    run too: the models that succeeded are banked and the failed ones
    dropped. Serial mode stops at the first failure and re-raises it;
    parallel mode starts nothing new after a failure, lets the models in
    flight finish, and raises an ``ExceptionGroup`` naming every failed
    model."""
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
            if manifest.get(n, {}).get("hash") != _model_hash(project.models[n])
        }
        keep = _descendant_closure(project.deps, dirty)
        order = [n for n in order if n in keep]
        # A changed-selection run needs the UNCHANGED upstream models the
        # selection actually reads visible in the session (views are
        # session-scoped): restore those — and only those; models outside
        # the selected subgraph's ancestry (including ones a combined
        # --model filter deliberately excluded) stay untouched — without
        # re-materializing table data the manifest vouches for.
        needed: set[str] = set()
        for name in order:
            needed |= _ancestor_closure(project.deps, name)
        for name in project.order:
            if name in needed and name not in keep:
                ex.restore(project.models[name], _manifest_schema(manifest, name))
    built: dict[str, StructType | None] = {}
    if not parallel:
        try:
            for name in order:
                built[name] = ex.execute(project.models[name])
        finally:  # the model after the last one built is the one that raised
            failed = order[len(built) : len(built) + 1]
            _save_manifest(project_dir, project, built, failed)
        return list(built)

    # Kahn with concurrent submission of ready models. Parents outside
    # the selection (possible under --changed: an unchanged upstream is
    # restored above, not scheduled) are pruned from the subgraph edges,
    # else the sorter would schedule them as nodes of their own.
    kept = set(order)
    sub_deps = {
        n: [p for p in project.deps[n] if p in kept] for n in order
    }
    graph = build_graph(sub_deps)
    failed: dict[str, Exception] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        running = {}  # future -> model name

        def submit_ready() -> None:
            if failed:  # after a failure, only drain what is in flight
                return
            for name in graph.get_ready():
                running[pool.submit(ex.execute, project.models[name])] = name

        submit_ready()
        while running:
            finished, _ = wait(running, return_when="FIRST_COMPLETED")
            for fut in finished:
                name = running.pop(fut)
                if (err := fut.exception()) is not None:
                    err.add_note(f"while materializing model {name}")
                    failed[name] = err
                    continue
                built[name] = fut.result()
                graph.done(name)
            submit_ready()
    _save_manifest(project_dir, project, built, failed)
    if failed:
        raise ExceptionGroup(
            f"models failed: {', '.join(failed)}", list(failed.values())
        )
    return list(built)


def _restore_models(
    project: Project, ex: SparkExecutor, manifest: dict[str, dict]
) -> None:
    """Re-register models in a fresh session.

    The reference's backend is a persistent warehouse, so `test` sees
    what `run` built; Spark temp views are session-scoped. Views are
    lazy — re-creating them is free; a TABLE model loads from its
    parquet target with the schema the manifest records, and one the
    manifest does not vouch for (never built, or its last build failed)
    is materialized again.
    """
    for name in project.order:
        ex.restore(project.models[name], _manifest_schema(manifest, name))


def test(
    spark: SparkSession,
    project_dir: str | Path,
    sources: str | None = None,
    fail_fast: bool = False,
) -> int:
    """Run ASSERT data tests; returns the exit code (0 ok, 1 failures),
    printing OK/ERROR per test in file order (src/main.rs:430-454).

    Every condition is evaluated in one Spark query
    (``SparkExecutor.query_bool``), where the reference sends one query
    per test: Catalyst then reuses identical subqueries, merges scalar
    aggregates over one relation and runs the subqueries concurrently.
    If that query raises (say, one condition's scalar subquery returns
    two rows), the conditions are evaluated one at a time: the lines
    before the bad condition print and its own error raises, as when
    each test was its own query. ``fail_fast`` stops at the first
    ERROR.

    The models are restored from what ``target/manifest.json`` records,
    so ``test`` may rebuild a TABLE the manifest does not vouch for (one
    never built, or whose last build failed) and then raises that
    model's own error if the build fails again."""
    project = load_project(spark, project_dir)
    _register_sources(spark, sources, project)
    ex = SparkExecutor(spark, Path(project_dir) / "target")
    _restore_models(project, ex, _load_manifest(project_dir))
    results = _batched(ex.query_bool, [t.condition for t in project.tests])
    exit_code = 0
    for t, ok in zip(project.tests, results):
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
