"""Driver-contract invariants."""

import __spark_entry__ as entry_mod


def test_contract_shape():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert len(qs) >= 50
    assert set(osql) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_window_is_the_declared_list():
    """The correctness gate checks the first 50 registrations: exactly
    WINDOW, in order, 50 distinct registered names with the canary
    first."""
    from pulsar_io_delta_spark.queries import WINDOW

    order = list(entry_mod.queries())
    assert len(WINDOW) == len(set(WINDOW)) == 50
    assert order[:50] == WINDOW
    assert WINDOW[0] == "q_stream_tumbling"  # canary


def test_no_rows_only_queries_remain():
    """Round 6 closed the last two rows-only waivers (IVF recall and
    HLL error-bound contracts): every registered query now carries a
    DuckDB oracle."""
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(qs) - set(osql) == set()
