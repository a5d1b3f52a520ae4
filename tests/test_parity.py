"""Local mirror of the driver's DuckDB-oracle correctness gate.

For every registered query with an oracle: run the Spark callable and
the DuckDB SQL at the test scale factor and compare row count, sorted
column names, and values (order-insensitive, float-tolerant). Stricter
failures here mean hash mismatches in the driver's correctness report.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from powersql_spark.catalog import TABLES
from powersql_spark.registry import all_specs

SPECS = all_specs()


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                # Round to absorb cross-engine last-ulp noise only.
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize(
    "key", [k for k, s in SPECS.items() if s.oracle is not None]
)
def test_oracle_parity(spark, sf_dir, key):
    spec = SPECS[key]
    sdf = spec.fn(spark, sf_dir)
    # The driver's pandas canonicalizer hashes every output cell, and
    # array/map/struct cells crash it ('unhashable type: list'): keys
    # emit scalar forms (sorted array_join strings, flat struct fields).
    complex_cols = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if f.dataType.simpleString().startswith(("array", "map", "struct"))
    ]
    assert not complex_cols, f"{key}: complex-typed output columns {complex_cols}"
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.execute(spec.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()

    assert sorted(scols) == sorted(dcols), f"{key}: column names differ"
    assert len(srows) == len(drows), (
        f"{key}: row count {len(srows)} (spark) vs {len(drows)} (duckdb)"
    )
    snorm = _normalize(srows, scols)
    dnorm = _normalize(drows, dcols)
    mismatches = [
        (a, b) for a, b in zip(snorm, dnorm) if not _rows_close(a, b)
    ]
    assert not mismatches, f"{key}: {len(mismatches)} differing rows; first: {mismatches[:3]}"


def _rows_close(a, b) -> bool:
    import decimal

    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        # A Decimal on one side only would repr differently in the
        # driver's value hash even when numerically equal — fail it.
        if isinstance(x, decimal.Decimal) != isinstance(y, decimal.Decimal):
            return False
        if isinstance(x, bool) != isinstance(y, bool):
            return False
        # int 1 vs float 1.0 repr differently in the driver's value
        # hash (caught live with DuckDB sign() INTEGER vs Spark DOUBLE).
        if isinstance(x, float) != isinstance(y, float):
            return False
        if isinstance(x, float) and isinstance(y, float):
            if math.isnan(x) and math.isnan(y):
                continue
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


_ROWS_ONLY = [k for k, s in SPECS.items() if s.oracle is None]


# NOTE: every registered key currently HAS a DuckDB oracle, so this
# parameter set is empty and pytest reports the test as 1 SKIPPED —
# that skip is the desired state (it means the weaker rows-only
# correctness tier is unused), not a blind spot. It self-arms if a
# future key registers with oracle=None.
@pytest.mark.parametrize("key", _ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, key):
    """Keys without an oracle still must run and return a stable schema."""
    spec = SPECS[key]
    sdf = spec.fn(spark, sf_dir)
    assert sdf.columns, f"{key}: empty schema"
    sdf.collect()  # must not raise


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_contract_shapes():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 50
