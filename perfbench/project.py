"""Seeded PowerSQL project for the ``dag_refresh`` workload.

The project is a layered star-schema refresh of 14 models, eight of them
tables: four staging views over the generated sources, a fact join
(fan-in), three aggregates of it (fan-out), dimension joins (fan-in), a
ranking and a summary view that reads four models, six levels deep. The
seed picks the filter thresholds, the top-k size and the mid-DAG model the
workload edits; it leaves the shape alone, so every seed does the same
amount of work. Every model is written
in the SQL both Spark and DuckDB accept, and every sum is over integers,
so DuckDB computes the exact expected content of each TABLE model.

The ASSERTs hold by construction: conservation of sums across rollups,
referential integrity, row-count caps and not-null keys.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class ModelDef:
    name: str
    kind: str  # "table" | "view"
    deps: tuple[str, ...]
    query: str

    def statement(self, edit: int = 0) -> str:
        """The CREATE statement; ``edit`` > 0 wraps the query in a
        projection that returns the same rows under different SQL text."""
        query = self.query
        if edit:
            query = f"SELECT * FROM ({query}) AS edit_{edit}"
        kind = "TABLE" if self.kind == "table" else "VIEW"
        return f"CREATE {kind} {self.name} AS {query}"


def models(seed: int) -> list[ModelDef]:
    rng = np.random.default_rng(seed)
    qmin = int(rng.integers(1, 4))
    start = f"1995-{int(rng.integers(1, 7)):02d}-01"
    top_c = int(rng.integers(50, 201))
    cents = "CAST(ROUND({c} * 100) AS BIGINT)"
    return [
        ModelDef("stg_lines", "view", (), (
            "SELECT l_orderkey, l_partkey, CAST(l_quantity AS BIGINT) AS qty, "
            f"{cents.format(c='l_extendedprice')} * "
            f"(100 - {cents.format(c='l_discount')}) AS net_bp FROM lineitem "
            f"WHERE l_quantity >= {qmin}")),
        ModelDef("stg_orders", "view", (), (
            "SELECT o_orderkey, o_custkey, "
            "CAST(year(o_orderdate) AS BIGINT) AS yr, "
            "CAST(month(o_orderdate) AS BIGINT) AS mo FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{start} 00:00:00'")),
        ModelDef("stg_customers", "view", (), (
            "SELECT c_custkey, c_mktsegment, CAST(n_regionkey AS BIGINT) "
            "AS regionkey FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey")),
        ModelDef("stg_parts", "view", (), (
            "SELECT p_partkey, p_brand FROM part")),
        ModelDef("order_lines", "table", ("stg_lines", "stg_orders"), (
            "SELECT l_orderkey, l_partkey, qty, net_bp, o_custkey, yr, mo "
            "FROM stg_lines JOIN stg_orders ON l_orderkey = o_orderkey")),
        ModelDef("cust_revenue", "table", ("order_lines",), (
            "SELECT o_custkey, SUM(net_bp) AS revenue_bp, "
            "COUNT(*) AS n_lines, SUM(qty) AS qty FROM order_lines "
            "GROUP BY o_custkey")),
        ModelDef("part_revenue", "table", ("order_lines",), (
            "SELECT l_partkey, SUM(net_bp) AS revenue_bp, SUM(qty) AS qty "
            "FROM order_lines GROUP BY l_partkey")),
        ModelDef("monthly_revenue", "table", ("order_lines",), (
            "SELECT yr, mo, SUM(net_bp) AS revenue_bp, COUNT(*) AS n_lines "
            "FROM order_lines GROUP BY yr, mo")),
        ModelDef("segment_revenue", "table", ("cust_revenue", "stg_customers"), (
            "SELECT c_mktsegment, regionkey, SUM(revenue_bp) AS revenue_bp, "
            "COUNT(*) AS n_customers FROM cust_revenue "
            "JOIN stg_customers ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment, regionkey")),
        ModelDef("brand_revenue", "table", ("part_revenue", "stg_parts"), (
            "SELECT p_brand, SUM(revenue_bp) AS revenue_bp, SUM(qty) AS qty "
            "FROM part_revenue JOIN stg_parts ON l_partkey = p_partkey "
            "GROUP BY p_brand")),
        ModelDef("top_customers", "table", ("cust_revenue",), (
            "SELECT o_custkey, revenue_bp, n_lines FROM cust_revenue "
            f"ORDER BY revenue_bp DESC, o_custkey LIMIT {top_c}")),
        ModelDef("region_summary", "table", ("segment_revenue",), (
            "SELECT r_name, SUM(revenue_bp) AS revenue_bp, "
            "SUM(n_customers) AS n_customers FROM segment_revenue "
            "JOIN region ON regionkey = r_regionkey GROUP BY r_name")),
        ModelDef("brand_rank", "view", ("brand_revenue",), (
            "SELECT p_brand, revenue_bp, CAST(RANK() OVER "
            "(ORDER BY revenue_bp DESC, p_brand) AS BIGINT) AS rnk "
            "FROM brand_revenue")),
        ModelDef("exec_summary", "view", (
            "region_summary", "top_customers", "monthly_revenue", "brand_rank"), (
            "SELECT (SELECT SUM(revenue_bp) FROM region_summary) AS total_bp, "
            "(SELECT COUNT(*) FROM top_customers) AS n_top_customers, "
            "(SELECT COUNT(*) FROM monthly_revenue) AS n_months, "
            "(SELECT MIN(rnk) FROM brand_rank) AS best_rank")),
    ]


def asserts() -> list[tuple[str, str]]:
    """(condition, message) pairs that hold for every seed."""
    conserve = [
        ("cust_revenue", "revenue_bp", "order_lines", "net_bp"),
        ("part_revenue", "revenue_bp", "order_lines", "net_bp"),
        ("monthly_revenue", "revenue_bp", "order_lines", "net_bp"),
        ("segment_revenue", "revenue_bp", "cust_revenue", "revenue_bp"),
        ("brand_revenue", "revenue_bp", "part_revenue", "revenue_bp"),
        ("region_summary", "revenue_bp", "segment_revenue", "revenue_bp"),
    ]
    out = [
        (f"(SELECT SUM({a_col}) FROM {a}) = (SELECT SUM({b_col}) FROM {b})",
         f"{a} conserves {b}")
        for a, a_col, b, b_col in conserve
    ]
    out += [
        ("NOT EXISTS (SELECT 1 FROM cust_revenue WHERE revenue_bp < 0)",
         "revenue non-negative"),
        ("NOT EXISTS (SELECT 1 FROM top_customers t LEFT JOIN cust_revenue c "
         "ON t.o_custkey = c.o_custkey WHERE c.o_custkey IS NULL)",
         "top customers exist"),
        ("EXISTS (SELECT 1 FROM brand_rank WHERE rnk = 1)", "a top brand"),
        ("(SELECT COUNT(*) FROM exec_summary) = 1", "one summary row"),
    ]
    return out


def write(seed: int, project_dir: str, sources_dir: str) -> list[ModelDef]:
    """Write ``powersql.toml``, one model file per model and the test file."""
    defs = models(seed)
    os.makedirs(os.path.join(project_dir, "models"), exist_ok=True)
    os.makedirs(os.path.join(project_dir, "tests"), exist_ok=True)
    with open(os.path.join(project_dir, "powersql.toml"), "w") as fh:
        fh.write(
            '[project]\nname = "refresh"\nmodels = ["models"]\n'
            f'tests = ["tests"]\nsources = "{sources_dir}"\n'
        )
    for d in defs:
        write_model(project_dir, d)
    with open(os.path.join(project_dir, "tests", "refresh_tests.sql"), "w") as fh:
        for cond, msg in asserts():
            fh.write(f"ASSERT {cond} AS '{msg}';\n")
    return defs


def write_model(project_dir: str, model: ModelDef, edit: int = 0) -> None:
    with open(os.path.join(project_dir, "models", f"{model.name}.sql"), "w") as fh:
        fh.write(model.statement(edit) + ";\n")


def descendants(defs: list[ModelDef], seed_name: str) -> set[str]:
    """``seed_name`` plus every model that transitively reads it."""
    out = {seed_name}
    changed = True
    while changed:
        changed = False
        for d in defs:
            if d.name not in out and out.intersection(d.deps):
                out.add(d.name)
                changed = True
    return out


def edit_target(seed: int, defs: list[ModelDef]) -> str:
    """A mid-DAG TABLE model whose downstream closure holds two tables
    and at least one view, so every seed's changed run does the same
    amount of work."""
    by_name = {d.name: d for d in defs}

    def fits(name: str) -> bool:
        kinds = [by_name[n].kind for n in descendants(defs, name)]
        return kinds.count("table") == 2 and "view" in kinds

    mids = sorted(
        d.name for d in defs
        if d.kind == "table" and d.deps and d.name != "order_lines" and fits(d.name)
    )
    return mids[int(np.random.default_rng(seed + 1).integers(0, len(mids)))]


def fingerprints(defs: list[ModelDef], sources: dict, hash_df) -> dict[str, tuple[int, int]]:
    """(rows, order-insensitive hash) of every TABLE model, computed by
    running the same SQL in DuckDB over the in-memory source tables."""
    import duckdb

    con = duckdb.connect()
    for name, table in sources.items():
        con.register(name, table)
    out: dict[str, tuple[int, int]] = {}
    for d in defs:  # definition order is a topological order
        # DuckDB widens SUM(BIGINT) to HUGEINT; Spark keeps BIGINT.
        query = re.sub(r"\bSUM\(([^()]*)\)", r"CAST(SUM(\1) AS BIGINT)", d.query)
        con.execute(f"CREATE TABLE {d.name} AS {query}")
        if d.kind == "table":
            df = con.execute(f"SELECT * FROM {d.name}").df()
            out[d.name] = (len(df), hash_df(df))
    con.close()
    return out


def target_fingerprint(path: str, hash_df) -> tuple[int, int]:
    """(rows, hash) of the parquet a TABLE model's run wrote."""
    import duckdb

    con = duckdb.connect()
    try:
        df = con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')"
        ).df()
    finally:
        con.close()
    return len(df), hash_df(df)
