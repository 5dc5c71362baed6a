"""The two flagship queries equal their DuckDB oracles bit for bit: the
comparison of ``tools/check_contract.py --exact`` (raw IEEE-754 bytes,
so a last-ulp or sign-of-zero difference fails), run on the sf0.001
tables. The other declared queries are checked by that tool."""

from __future__ import annotations

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", ["feature_vector", "feature_vector_wide"])
def test_flagship_matches_oracle_exactly(spark, name):
    import __spark_entry__ as entry
    from tools.check_contract import compare

    got = entry.queries()[name](spark, SF).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    want = con.sql(entry.oracle_sql()[name]).df()
    assert len(got) == 1000 and len(got.columns) == (13 if name == "feature_vector" else 183)
    assert compare(got, want, exact=True) is None
