"""Contract of the query registry: one registration per name, complete
after any import order, and every row carrying exactly one oracle form."""

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as E
from kafka_connect_oss_spark.registry import (LAZY_ORACLES, ORACLES, QUERIES,
                                              register)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the registry size; a new row is a deliberate change to this number
N_QUERIES = 169


def _names_in_fresh_interpreter(code: str) -> list[str]:
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_bare_registry_import_is_complete():
    bare = _names_in_fresh_interpreter(
        "import json\n"
        "import kafka_connect_oss_spark.registry as R\n"
        "names = sorted(R.QUERIES)\n"
        "import __spark_entry__ as E\n"
        "assert list(E.queries()) == names, 'entry differs from registry'\n"
        "print(json.dumps(names))\n")
    assert len(bare) == N_QUERIES
    assert bare == list(E.queries())


def test_queries_independent_of_import_order():
    # a family module imported first re-enters registry.py mid-import;
    # its rows must still all register, and queries() is sorted anyway
    got = _names_in_fresh_interpreter(
        "import json\n"
        "import kafka_connect_oss_spark.registry_llm\n"
        "import __spark_entry__ as E\n"
        "print(json.dumps(list(E.queries())))\n")
    assert got == list(E.queries())


def test_every_query_has_exactly_one_oracle_form():
    assert not set(ORACLES) & set(LAZY_ORACLES)
    assert set(ORACLES) ^ set(LAZY_ORACLES) == set(QUERIES)


def test_duplicate_registration_rejected():
    before = dict(QUERIES)
    with pytest.raises(ValueError, match="p1_route_topicpartition"):
        register("p1_route_topicpartition")(lambda spark, sf_dir: None)
    assert QUERIES == before


def test_bench_covers_every_query():
    import bench

    assert set(bench.HEADLINE) == set(QUERIES)
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))

