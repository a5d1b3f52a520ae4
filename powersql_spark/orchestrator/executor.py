"""Spark execution backend for the orchestrator.

Replaces the reference's PostgreSQL/BigQuery executors
(src/execute.rs:20-238): instead of pretty-printing the AST back to SQL
and shipping it over the wire (src/execute.rs:101,222), statements
execute natively in the SparkSession.

Materialization semantics:
- view / materialized view -> CREATE OR REPLACE TEMP VIEW (the
  reference treats MV identically to VIEW, src/main.rs:153).
- table -> eager parquet write under <project>/target/<name> +
  re-registered as a temp view. mode("overwrite") gives the reference's
  DROP-and-recreate idempotence (src/execute.rs:77-111); the topo run
  loop rebuilds downstream models, which is what DROP ... CASCADE
  achieved (SURVEY.md §7 decision 4).

At scale the parquet write IS the point: a TABLE AS model is a
checkpoint that downstream models re-scan columnar with pushdown,
instead of recomputing the view chain.

A TABLE is registered from a schema already known: after the write,
the written DataFrame's, which ``execute`` returns and the runner
records in ``target/manifest.json``; on restore (``test``,
``run --changed``), the one that manifest records. The manifest is the
one record of what ``run`` built: a target it does not list with a
schema is rebuilt, never read. Either way the read-back launches no
schema-inference job (Spark's one-task footer scan per bare
``spark.read.parquet``), and the registered schema is the same, since a
user schema is made nullable exactly as an inferred one.

ASSERT conditions are evaluated together, as the columns of one
``SELECT`` over no table (``query_bool``), and ``check`` types them from
the same projection (``condition_types``). The reference sends one
``SELECT (cond)`` per test (src/main.rs:430-454); one query instead
lets Catalyst reuse identical subqueries, merge scalar aggregates over
the same relation (``MergeScalarSubqueries``) and run the subqueries
concurrently, so a project's tests launch about half the Spark jobs.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from powersql_spark.orchestrator.sqlparse import Model


class SparkExecutor:
    def __init__(self, spark: SparkSession, target_dir: str | Path):
        self.spark = spark
        self.target_dir = str(target_dir)

    def execute(self, model: Model) -> StructType | None:
        """Materialize one model (reference Executor::execute,
        src/execute.rs:77-111). Returns a TABLE's schema, for the
        manifest to record; None for a view."""
        if model.kind in ("view", "materialized_view"):
            self.spark.sql(
                f"CREATE OR REPLACE TEMP VIEW {_q(model.name)} AS {model.query}"
            )
            return None
        if model.kind == "table":
            path = os.path.join(self.target_dir, model.name)
            df = self.spark.sql(model.query)
            df.write.mode("overwrite").parquet(path)
            reader = self.spark.read.schema(df.schema)
            reader.parquet(path).createOrReplaceTempView(_q(model.name))
            return df.schema
        raise ValueError(f"unknown model kind: {model.kind}")  # pragma: no cover

    def restore(self, model: Model, schema: StructType | None) -> None:
        """Re-register a model without recomputing it. ``schema`` is the
        one the manifest records for the model's TABLE target, or None
        when the manifest does not vouch for one. With a schema and a
        target directory, the target is read back with that schema;
        anything else is executed (a view is lazy; a TABLE the manifest
        does not vouch for is rebuilt)."""
        path = os.path.join(self.target_dir, model.name)
        if model.kind != "table" or schema is None or not os.path.isdir(path):
            self.execute(model)
            return
        reader = self.spark.read.schema(schema)
        reader.parquet(path).createOrReplaceTempView(_q(model.name))

    def analyze(self, model: Model) -> DataFrame:
        """Analysis only — no job runs. Spark's analyzer is the type
        checker (replaces reference src/types.rs:47-221; SURVEY.md §3.2).
        Registers the analyzed plan as a temp view so downstream models
        resolve against it."""
        df = self.spark.sql(model.query)
        df.createOrReplaceTempView(_q(model.name))
        return df

    def query_bool(self, conditions: list[str]) -> list[bool]:
        """Evaluate every condition in one query, ``SELECT (c0) AS c0,
        (c1) AS c1, …``, and read its one row; a NULL reads as False
        (src/main.rs:439-440, src/execute.rs:124-130, one query per
        condition there). One condition that raises fails the whole
        query: ``runner.test`` then calls this once per condition, so
        the first bad one raises its own error in file order."""
        if not conditions:
            return []
        row = self.spark.sql(_conditions_query(conditions)).first()
        return [v is not None and bool(v) for v in row]

    def condition_types(self, conditions: list[str]) -> list[str]:
        """Analysis only: the type of each condition, from the same
        one-query projection ``query_bool`` runs."""
        if not conditions:
            return []
        df = self.spark.sql(_conditions_query(conditions))
        return [f.dataType.simpleString() for f in df.schema]


def _conditions_query(conditions: list[str]) -> str:
    """One column per condition. Each condition and each closing
    parenthesis sits on its own line, so a condition that ends in a
    ``--`` comment cannot swallow what follows it."""
    cols = ",\n".join(f"(\n{c}\n) AS c{i}" for i, c in enumerate(conditions))
    return f"SELECT {cols}"


def _q(name: str) -> str:
    """Quote a (possibly dotted) relation name for Spark SQL."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))
