"""The driver contract's key set and order.

The driver verifies ``queries()`` in iteration order and samples a
bounded prefix of it, so the registration order is part of the
contract: the digest below pins both the key set and the order.
Registering, renaming or moving a key changes it on purpose; update the
digest in the same change.

The oracle digest pins the text of every DuckDB twin, so a refactor of
the Spark side is shown to leave the oracles it is checked against
unchanged. Changing an oracle on purpose updates that digest too.
"""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry
import bench
from powersql_spark.operators.connectors import _STAGE

KEYS = list(entry.queries())
ORDER_SHA256 = "c4099de900bb629df19cc00928fa71dafbbbca00157908f35d22ab858e507d46"
ORACLE_SHA256 = "19f7db517541299cff76a3afb11f09b408fbf43b590dd95fe83796cff7e1694e"


def test_key_set_and_order_are_pinned():
    assert len(KEYS) == len(set(KEYS)) == 641
    assert (KEYS[0], KEYS[-1]) == ("agg_group_by", "stream_late_audit")
    digest = hashlib.sha256("\n".join(KEYS).encode()).hexdigest()
    assert digest == ORDER_SHA256


def test_every_key_has_an_oracle():
    oracles = entry.oracle_sql()
    assert list(oracles) == KEYS
    assert all(oracles.values())


def test_oracle_text_is_pinned():
    # source_csv/source_json read from the per-process staging dir, so
    # their text names it; a fixed token stands in for it.
    text = "\n\0".join(
        f"{k}\n{v.replace(_STAGE, '<stage>')}"
        for k, v in entry.oracle_sql().items()
    )
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SHA256


def test_headline_keys_are_registered():
    assert len(bench.HEADLINE) == 63
    missing = set(bench.HEADLINE.values()) - set(KEYS)
    assert missing == set(), sorted(missing)
