"""The driver contract's key set and order.

The driver verifies ``queries()`` in iteration order and samples a
bounded prefix of it, so the registration order is part of the
contract: the digest below pins both the key set and the order.
Registering, renaming or moving a key changes it on purpose; update the
digest in the same change.
"""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry
import bench

KEYS = list(entry.queries())
ORDER_SHA256 = "c4099de900bb629df19cc00928fa71dafbbbca00157908f35d22ab858e507d46"


def test_key_set_and_order_are_pinned():
    assert len(KEYS) == len(set(KEYS)) == 641
    assert (KEYS[0], KEYS[-1]) == ("agg_group_by", "stream_late_audit")
    digest = hashlib.sha256("\n".join(KEYS).encode()).hexdigest()
    assert digest == ORDER_SHA256


def test_every_key_has_an_oracle():
    oracles = entry.oracle_sql()
    assert list(oracles) == KEYS
    assert all(oracles.values())


def test_headline_keys_are_registered():
    assert len(bench.HEADLINE) == 63
    missing = set(bench.HEADLINE.values()) - set(KEYS)
    assert missing == set(), sorted(missing)
