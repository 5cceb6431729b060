"""The correctness gate, locally: every registered query compared
against its DuckDB oracle at sf0.001 (the driver repeats this at sf0.01).
"""

import pytest

from oracle_harness import compare_query

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(entry.queries().keys()))
def test_query_matches_oracle(spark, name):
    ok, msg = compare_query(spark, SF, name)
    assert ok, msg


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"zone_fid", "eas_id", "n_pages"} <= cols


def test_every_query_has_oracle():
    qs, os = entry.queries(), entry.oracle_sql()
    missing = set(qs) - set(os)
    assert not missing, f"queries without oracle: {missing}"
