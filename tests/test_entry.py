"""Smoke the driver contract: entry() runs, and queries() and oracle_sql()
name the same queries."""

import __spark_entry__ as entry_mod


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["url", "dedup_text", "n_units"]
    assert len(rows) > 0


def test_contract_shapes():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    # every query has an oracle: one added without fails here
    assert set(o) == set(q)
    assert len(q) >= 15
