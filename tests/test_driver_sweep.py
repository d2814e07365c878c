"""The query registry and its DuckDB oracles must stay consistent.

``tests/test_oracle_parity.py`` runs every registered query against its
oracle on each test run, so pytest is the full-coverage gate; these
tests check the registry bookkeeping that gate relies on.
"""
from __future__ import annotations

import __spark_entry__ as entry


def test_expected_query_count_matches_registry():
    assert entry.EXPECTED_QUERY_COUNT == len(entry.queries())


def test_oracle_keys_subset_of_queries():
    q, o = set(entry.queries()), set(entry.oracle_sql())
    assert o <= q, f"oracle_sql keys missing from queries(): {o - q}"
