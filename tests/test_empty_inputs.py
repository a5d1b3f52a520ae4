"""Every registered operator must execute cleanly on EMPTY inputs.

Empty partitions are a fact of life at scale (a filter that matches
nothing, a new date partition, a cold-start table); operators that
crash or misbehave on zero rows — empty aggregates, empty windows,
empty explodes, missing query vectors — fail in production in exactly
the places small-SF testing never exercises. This sweep runs the full
registry against a schema-identical, zero-row copy of the testdata.
"""

from __future__ import annotations

import os

import pytest

from powersql_spark.catalog import TABLES, read_parquet
from powersql_spark.registry import all_specs


@pytest.fixture(scope="session")
def empty_dir(spark, sf_dir, tmp_path_factory) -> str:
    """A zero-row, schema-identical copy of every testdata table."""
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        df = read_parquet(spark, os.path.join(sf_dir, f"{t}.parquet"))
        df.limit(0).write.parquet(str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("key", sorted(all_specs()))
def test_runs_on_empty_input(spark, empty_dir, key):
    spec = all_specs()[key]
    # load_tables re-registers views automatically: its cache is keyed
    # by path, and the empty copy's path differs from other tests'.
    df = spec.fn(spark, empty_dir)
    rows = df.collect()
    assert isinstance(rows, list)
    # Grand-total aggregates legitimately return one (null/zero) row,
    # and constant generators (sequence demo, date spine) produce rows
    # from literals, not input; everything else must return no rows.
    # profile_table_summary is schema-driven: an empty table still
    # profiles as one all-zero row per COLUMN, which is the correct
    # answer for "describe this table".
    generators = {
        "fn_sequence", "fn_date_spine", "profile_table_summary",
        # schema-driven report: an empty table still yields one row
        # per RULE (all zero-violation), the correct answer.
        "assert_quality_report",
        # closed-form advisor over a constant VALUES grid — reads no
        # tables at all, so its output is input-independent.
        "dedup_lsh_tuning_curve",
        # threshold-dimension report: an empty corpus still yields one
        # zero-count row per candidate threshold, the correct answer.
        "curation_dedup_threshold_sweep",
        # candidate-lattice profile: an empty table still yields one
        # (vacuously unique) row per declared candidate key.
        "profile_pk_candidate",
        # FK-edge report: an empty schema still yields one zero-count
        # row per declared edge, the correct answer.
        "profile_fk_orphan_report",
        # FK-cardinality report: same shape — one row per declared
        # relationship even when both sides are empty, the correct
        # profile ("0 parents, 0 children, no orphans").
        "profile_join_cardinality",
        # recon report: empty snapshots still yield one zero-count
        # row per category (nothing added/removed/changed), correct.
        "profile_snapshot_recon",
        # FD report: an empty table still yields one row per declared
        # candidate (vacuously holding, zero g3 error), correct.
        "profile_functional_dependency",
        # Shapley lattice is literal: an empty corpus still yields one
        # zero-value row per channel, the correct attribution.
        "attribution_shapley",
    }
    assert len(rows) <= 1 or key in generators, (
        f"{key}: {len(rows)} rows from empty input"
    )
