"""Shared measurement primitives for bench.py and perfbench/run.py.

The ambient-load calibration plan MUST stay code-identical across
rounds and across the consumers — its quiet baseline (~0.26 s
min-of-3 at 32 cpus; >0.4 s marks the reading contaminated, the
r10/r11 adjudication rule) is only comparable because the probe never
changes. Keeping one definition here is what guarantees that; an edit
to this function resets every historical baseline and must be called
out in the round notes.
"""

from __future__ import annotations

import time


def calibrate(spark) -> float:
    """Min-of-3 wall time of a FIXED CPU-bound reference plan (md5-fold
    over 2M rows — no I/O, no shuffle)."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(2_000_000)
         .selectExpr("conv(substring(md5(cast(id as string)), 1, 15),"
                     " 16, 10) AS h")
         .selectExpr("max(h)").collect())
        ts.append(time.perf_counter() - t0)
    return round(min(ts), 3)


def warm_up(spark, cpus: int) -> None:
    """JVM/codegen warm-up plus a Python-worker + Arrow round trip so
    UDF queries measure steady state, not the one-time worker spawn."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(int(cpus) * 2).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long").count()


def resolve_query(name: str, driver_queries: dict):
    """Timer lookup: the driver view, then the full registry."""
    from kafka_connect_oss_spark.registry import QUERIES

    return driver_queries.get(name) or QUERIES[name]
