"""Driver-contract invariants for __spark_entry__ (SURVEY §3.3/§3.4)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod


def test_every_oracle_key_has_a_query():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    # the vast majority of operators carry a strong (SQL-checkable) oracle
    assert len(oracles) >= 0.8 * len(qs)


def test_entry_returns_rows_with_stable_schema(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["compound", "n_repos"]
    rows = df.collect()
    assert len(rows) == 10
    assert all(r["n_repos"] >= 1 for r in rows)
    # deterministic: top compound is one of the hot pair (water/ethanol reps)
    assert rows[0]["n_repos"] >= rows[-1]["n_repos"]


def test_sample_queries_run_at_smoke_scale(spark):
    qs = entrymod.queries()
    for name in ("agg_pricing_summary", "semi_join", "json_extract", "kg_triples_by_pred"):
        df = qs[name](spark, "/root/testdata/sf0.001")
        assert df.count() > 0, name