"""Hypothesis properties for the Q2/Q11 TPC-H stand-ins, checked
against an INDEPENDENT pure-Python reference on randomized mini
schemas. The DuckDB oracle parity in test_oracle_parity proves the
Spark and SQL expressions agree; this file guards against a
misconception SHARED by both (wrong threshold algebra, min over the
wrong supplier set, a dropped tie) by re-deriving the answer from
first principles per example.

Prices are generated as exact-cent doubles (c / 100.0) so the
engine's ``_cents`` rounding and Python's integer cents agree
bit-for-bit; account balances are whole-number doubles so sort keys
compare exactly.
"""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_connect_oss_spark import registry_tpch as TPCH

# nation key -> (name, region key); regions 0=EUROPE, 1=ASIA.
# NATION_3 / NATION_7 are in the q11 group (_Q11_NATIONS), NATION_2 /
# NATION_5 are not; EUROPE membership varies independently.
_NATIONS = {0: ("NATION_3", 0), 1: ("NATION_7", 1),
            2: ("NATION_2", 0), 3: ("NATION_5", 1)}

_schema = st.fixed_dictionaries({
    # supplier i -> (nation key, whole-dollar acctbal)
    "sups": st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                     min_size=2, max_size=6),
    # part j -> size (5 qualifies for _Q2_SIZES, 7 does not)
    "parts": st.lists(st.sampled_from([5, 7, 15]), min_size=2, max_size=6),
    # lineitem rows: (part idx, sup idx, price cents)
    "lines": st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5),
                                st.integers(1, 99_999)),
                      min_size=1, max_size=25),
})


def _materialize(spark, tmp, data):
    sups = data["sups"]
    parts = data["parts"]
    # clamp line references into range
    lines = [(p % len(parts), s % len(sups), c)
             for p, s, c in data["lines"]]
    sf = str(tmp)
    spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(f"{sf}/region.parquet")
    spark.createDataFrame(
        [(k, name, reg) for k, (name, reg) in _NATIONS.items()],
        "n_nationkey int, n_name string, n_regionkey int"
    ).write.mode("overwrite").parquet(f"{sf}/nation.parquet")
    spark.createDataFrame(
        [(i + 1, f"SUP_{i + 1}", nk, float(bal))
         for i, (nk, bal) in enumerate(sups)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).write.mode("overwrite").parquet(f"{sf}/supplier.parquet")
    spark.createDataFrame(
        [(j + 1, f"part_{j + 1}", f"B{j}", f"T{j}", size, 1.0)
         for j, size in enumerate(parts)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ).write.mode("overwrite").parquet(f"{sf}/part.parquet")
    spark.createDataFrame(
        [(i + 1, p + 1, s + 1, 1, 1.0, c / 100.0, 0.0, 0.0, "N", "O",
          "2020-01-01")
         for i, (p, s, c) in enumerate(lines)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string"
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")
                 ).write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")
    return sups, parts, lines


def _py_q2(sups, parts, lines):
    eu = {i + 1 for i, (nk, _) in enumerate(sups) if _NATIONS[nk][1] == 0}
    supply = {}
    for p, s, c in lines:
        key = (p + 1, s + 1)
        supply[key] = min(supply.get(key, math.inf), c)
    mincost = {}
    for (p, s), c in supply.items():
        if s in eu:
            mincost[p] = min(mincost.get(p, math.inf), c)
    out = set()
    for (p, s), c in supply.items():
        if s in eu and c == mincost[p] \
                and parts[p - 1] in TPCH._Q2_SIZES:
            nk, bal = sups[s - 1]
            out.add((float(bal), f"SUP_{s}", _NATIONS[nk][0], p,
                     f"B{p - 1}", f"T{p - 1}", c))
    return out


def _py_q11(sups, parts, lines):
    grp = {i + 1 for i, (nk, _) in enumerate(sups)
           if _NATIONS[nk][0] in TPCH._Q11_NATIONS}
    value = {}
    for p, s, c in lines:
        if s + 1 in grp:
            value[p + 1] = value.get(p + 1, 0) + c
    total, n = sum(value.values()), len(value)
    return {(p, v) for p, v in value.items() if v * n > 2 * total}


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(data=_schema)
def test_q2_q11_match_python_reference(spark, tmp_path_factory, data):
    tmp = tmp_path_factory.mktemp("r13prop")
    sups, parts, lines = _materialize(spark, tmp, data)
    got_q2 = {tuple(r) for r in
              TPCH.q2_min_cost_supplier(spark, str(tmp)).collect()}
    assert got_q2 == _py_q2(sups, parts, lines)
    got_q11 = {tuple(r) for r in
               TPCH.q11_important_supply(spark, str(tmp)).collect()}
    assert got_q11 == _py_q11(sups, parts, lines)
