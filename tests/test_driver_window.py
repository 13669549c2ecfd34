"""The driver's view of the registry.

``__spark_entry__.queries()`` hands the driver every registered row, so
every one of them must come with an oracle, and the timer's lookup
(``measure.resolve_query``) must find the same callables the driver runs.
"""

import pytest

import __spark_entry__ as E
from kafka_connect_oss_spark.registry import QUERIES


def test_oracles_exist_for_window(spark):
    # lazy oracles fit their models with the active session at the
    # driver's correctness SF; a failure there would drop the name
    assert set(E.oracle_sql()) == set(E.queries()) == set(QUERIES)


def test_measure_resolver_three_tiers():
    """The driver's callable first, the full registry next, and an
    unknown name fails loudly instead of dropping a bench row."""
    from kafka_connect_oss_spark.measure import resolve_query

    qs = E.queries()
    assert resolve_query("q1_pricing_summary", qs) is qs["q1_pricing_summary"]
    assert resolve_query("q1_pricing_summary", {}) is QUERIES[
        "q1_pricing_summary"]
    with pytest.raises(KeyError):
        resolve_query("no_such_query", qs)
