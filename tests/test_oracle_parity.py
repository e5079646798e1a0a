"""Differential tests: every oracle-backed registered query vs DuckDB.

This mirrors (strictly) the driver's t2 correctness gate at sf=0.01.
"""

from __future__ import annotations

import pytest

from stock_data_pipeline_spark import registry

from .oracle import assert_matches_oracle

ORACLE_NAMES = sorted(registry.full_oracles())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_check_dir, name):
    assert_matches_oracle(spark, name, sf_check_dir)


# TPC-H Q11 and Q20 select nothing at sf0.001: their thresholds need
# more parts and suppliers than the smoke fixture holds.
EMPTY_AT_SMOKE_SCALE = {"b67_q11_important_parts", "b77_q20_excess_suppliers"}


def test_every_query_returns_rows_smoke(spark, sf_dir):
    """Every registered query (oracle or not) runs at sf0.001, has a
    stable, non-empty schema, and returns rows unless it is one of
    ``EMPTY_AT_SMOKE_SCALE``."""
    empty = set()
    for name, fn in registry.full_queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        if not df.limit(1).collect():
            empty.add(name)
    assert empty == EMPTY_AT_SMOKE_SCALE
