"""The query catalog (``api_log_iceberg_test_spark.queries``) and the
driver contract built on it."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod
from api_log_iceberg_test_spark.queries import ORACLE, QUERIES

_SNAPSHOT = os.path.join(os.path.dirname(__file__), "catalog_snapshot.json")


def test_catalog_order_and_oracle_keys_match_snapshot():
    """Registration order is what the driver window falls back on, and the
    oracle key set is what the driver verifies against: both are pinned.
    A new query appends to the snapshot's name list on purpose."""
    with open(_SNAPSHOT) as f:
        snap = json.load(f)
    assert list(QUERIES) == snap["names"]
    assert sorted(ORACLE) == snap["oracle_keys"]


def test_driver_contract_reorders_the_catalog_only():
    """queries() is the catalog with the verification window moved to the
    front; everything after the window keeps registration order."""
    qs = entrymod.queries()
    assert qs.keys() == QUERIES.keys()
    assert all(qs[n] is QUERIES[n] for n in qs)
    window = list(qs)[: entrymod._WINDOW_SIZE]
    assert list(qs)[entrymod._WINDOW_SIZE :] == [n for n in QUERIES if n not in window]
    assert entrymod.oracle_sql() == ORACLE


def test_driver_day_collects_fail_past_their_bound(spark, sf_dir, monkeypatch):
    """The per-day driver collects of q_cms_event_counts and
    q_maintenance_audit stop at ``_MAX_COLLECTED_DAYS`` and raise an error
    naming it instead of collecting an unbounded row count."""
    from api_log_iceberg_test_spark.operators import registry

    monkeypatch.setattr(registry, "_MAX_COLLECTED_DAYS", 1)
    for query in (registry.q_cms_event_counts, registry.q_maintenance_audit):
        with pytest.raises(RuntimeError, match="_MAX_COLLECTED_DAYS=1"):
            query(spark, sf_dir)
