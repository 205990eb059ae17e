"""The driver contract pairs every query with one DuckDB oracle. A query
left without its oracle (or the reverse) is never cross-checked, so the
key sets must match exactly. Host-runnable: no Spark action, no data."""

import __spark_entry__ as entry


def test_every_query_has_an_oracle_and_back():
    assert set(entry.queries()) == set(entry.oracle_sql())
