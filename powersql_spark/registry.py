"""Query-key registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2 registers itself here with a stable
snake_case key, a Spark callable ``(spark, sf_dir) -> DataFrame``, and —
when SQL-expressible — a DuckDB oracle twin. The driver hash-compares the
two at sf0.01 (row-count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- float aggregations use the decimal-sum trick (cast to DECIMAL(18,6)
  before SUM, cast back to DOUBLE after) so results are bit-identical
  regardless of summation order — this also makes the queries
  deterministic across partition counts, i.e. across cluster sizes;
- LIMIT always rides on a total (tie-free) ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from powersql_spark.catalog import TABLES, load_tables, release_persisted

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn
    oracle: str | None
    doc: str
    module: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(key: str, oracle: str | None = None, tables: tuple[str, ...] = TABLES):
    """Decorator registering a parity query under ``key``.

    The wrapped callable gets the testdata views registered before it
    runs, so it can freely mix ``spark.table`` / ``spark.sql``.
    """

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Drop intermediates persisted by the PREVIOUS query (its
            # result is materialized by now) so full-registry sweeps don't
            # accumulate cached blocks for the life of the session.
            release_persisted(spark)
            load_tables(spark, sf_dir, tables)
            return fn(spark, sf_dir)

        if key in _REGISTRY:
            raise ValueError(f"duplicate query key: {key}")
        module = fn.__module__.removeprefix("powersql_spark.")
        _REGISTRY[key] = QuerySpec(
            key, wrapped, oracle, (fn.__doc__ or "").strip(), module
        )
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import for registration side effects.
    import powersql_spark.operators  # noqa: F401
    import powersql_spark.pipeline  # noqa: F401
    import powersql_spark.streaming  # noqa: F401


def all_specs() -> dict[str, QuerySpec]:
    """Every spec in registration order, which is the order the driver
    verifies ``queries()`` in (pinned by tests/test_registry_contract.py).
    A copy, so callers cannot mutate the registry."""
    _ensure_loaded()
    return dict(_REGISTRY)


def spark_queries() -> dict[str, QueryFn]:
    return {k: s.fn for k, s in all_specs().items()}


def oracle_queries() -> dict[str, str]:
    return {k: s.oracle for k, s in all_specs().items() if s.oracle is not None}
