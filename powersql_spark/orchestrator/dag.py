"""Dependency DAG: extraction, cycle detection, scheduling.

Mirrors the reference's graph layer (src/main.rs:203-287): model ->
referenced models (external sources filtered out, src/main.rs:221),
cycle/missing-model detection (src/main.rs:229-254), and Kahn-style
scheduling (src/main.rs:256-287), here ``graphlib.TopologicalSorter``.
The refs come from the session's parser; the rest is pure Python — the
inter-model DAG is orchestration state, not a Spark concern (Spark's
own DAG is per-query).
"""

from __future__ import annotations

from graphlib import CycleError, TopologicalSorter

from pyspark.errors import ParseException
from pyspark.sql import SparkSession

from powersql_spark.orchestrator.sqlparse import Model, extract_refs, sql_parser


def get_dependencies(
    spark: SparkSession, models: dict[str, Model]
) -> dict[str, list[str]]:
    """Per model, the models it reads. Refs that aren't models are
    external source tables and are dropped (src/main.rs:213-227).
    A model Spark cannot parse is a ValueError naming it."""
    parser = sql_parser(spark)
    deps: dict[str, list[str]] = {}
    for name, m in models.items():
        try:
            refs = extract_refs(parser, m.query)
        except ParseException as e:
            raise ValueError(f"Model {name} does not parse: {str(e).strip()}") from e
        deps[name] = [r for r in refs if r in models and r != name]
    return deps


def detect_cycles(deps: dict[str, list[str]]) -> None:
    """Raise on cycles and on refs to unknown models (src/main.rs:229-254).

    Error messages mirror the reference: "Model {name} not found".
    """
    for name, refs in deps.items():
        for r in refs:
            if r not in deps:
                raise ValueError(f"Model {r} not found")
    try:
        tuple(TopologicalSorter(deps).static_order())
    except CycleError as e:
        raise ValueError(f"Cycle detected: {e.args[1]}") from e


def build_graph(deps: dict[str, list[str]]) -> TopologicalSorter:
    """A prepared scheduler over ``deps`` (reference build_graph,
    src/main.rs:256-287): ``get_ready()`` hands out the models whose
    parents are all done, ``done(name)`` releases its children. Every
    parent must be a key of ``deps``, else it is scheduled as a node."""
    graph = TopologicalSorter(deps)
    graph.prepare()
    return graph


def topo_order(deps: dict[str, list[str]]) -> list[str]:
    """Full topological order (parents before children)."""
    return list(TopologicalSorter(deps).static_order())
