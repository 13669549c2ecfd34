"""Every registry query with an oracle must match DuckDB — the same check
the driver runs (CORRECTNESS_r{N}.json), kept green locally at sf0.001."""

import pytest

from kafka_connect_oss_spark.registry import LAZY_ORACLES, ORACLES, QUERIES
from tests.parity import compare, duck_connection


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, sf_dir, duck):
    df = QUERIES[name](spark, sf_dir)
    compare(df, duck, ORACLES[name], name)


@pytest.mark.parametrize("name", sorted(LAZY_ORACLES))
def test_lazy_oracle_parity(name, spark, sf_dir, duck):
    # data-fitted oracles (model literals) resolve at the test SF; the
    # query's own fit and the oracle's fit must agree bit-for-bit
    df = QUERIES[name](spark, sf_dir)
    compare(df, duck, LAZY_ORACLES[name](sf_dir), name)
