"""Regression: every registry query must match its DuckDB oracle (the same
check the driver runs at sf0.01, here at sf0.001 for speed)."""


def test_all_queries_match_oracles(registry_sweep):
    oracles_ok, _ = registry_sweep
    assert oracles_ok
