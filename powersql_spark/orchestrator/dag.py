"""Dependency DAG: extraction, cycle detection, scheduling.

Mirrors the reference's graph layer (src/main.rs:203-287): model ->
referenced models (external sources filtered out, src/main.rs:221),
cycle/missing-model detection (src/main.rs:229-254), and Kahn-style
scheduling nodes (ModelNode { live_parents, next_nodes },
src/main.rs:256-287). Pure Python — the inter-model DAG is orchestration
state, not a Spark concern (Spark's own DAG is per-query).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter

from powersql_spark.orchestrator.sqlparse import Model, extract_refs


def get_dependencies(models: dict[str, Model]) -> dict[str, list[str]]:
    """Per model, the models it reads. Refs that aren't models are
    external source tables and are dropped (src/main.rs:213-227)."""
    return {
        name: [r for r in extract_refs(m.query) if r in models and r != name]
        for name, m in models.items()
    }


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


@dataclass
class ModelNode:
    """Scheduling node (reference ModelNode, src/main.rs:256-261)."""

    live_parents: int = 0
    next_nodes: list[str] = field(default_factory=list)


def build_graph(deps: dict[str, list[str]]) -> dict[str, ModelNode]:
    """In-degree + adjacency (reference build_graph, src/main.rs:262-287)."""
    graph: dict[str, ModelNode] = {name: ModelNode() for name in deps}
    for name, refs in deps.items():
        graph[name].live_parents = len(refs)
        for r in refs:
            graph[r].next_nodes.append(name)
    return graph


def topo_order(deps: dict[str, list[str]]) -> list[str]:
    """Full topological order (parents before children)."""
    return list(TopologicalSorter(deps).static_order())
