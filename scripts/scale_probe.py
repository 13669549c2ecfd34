#!/usr/bin/env python
"""Scale probe: run the heavy operators on SCALE x sf0.1 inputs (id-shifted
self-unions of the driver testdata — no synthetic generation) and report
seconds + output rows. Near-linear growth here is the evidence behind the
100 TB claims in COVERAGE.md; a super-linear jump is a scaling cliff to fix.

    python scripts/scale_probe.py            # SCALE=10 (1M events, 50k docs)
    SCALE=20 python scripts/scale_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE = int(os.environ.get("SCALE", "10"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled(df, id_cols: list[str], n: int):
    """n id-shifted copies; every copy's ids move past the global max so
    grouping/join keys stay distinct across copies."""
    from pyspark.sql import functions as F

    shift = {c: (df.agg(F.max(c)).first()[0] or 0) + 1 for c in id_cols}
    parts = [df.select(*[
        (F.col(c) + i * shift[c]).alias(c) if c in id_cols else F.col(c)
        for c in df.columns]) for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master("local[32]")
             .appName("scale-probe")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_MEM", "48g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from kafka_connect_oss_spark.functions import partition as P
    from kafka_connect_oss_spark.operators import dedup, rotation
    from kafka_connect_oss_spark.shipping import ensure_package_on_executors
    from kafka_connect_oss_spark.sources.batch import load_table, sink_records

    ensure_package_on_executors(spark)
    spark.range(1000).selectExpr("sum(id)").collect()

    ev = scaled(sink_records(spark, SF_DIR), ["event_id"], SCALE) \
        .withColumn("offset", F.floor(F.col("event_id") / 8)) \
        .withColumn("partition", (F.col("event_id") % 8).cast("int"))
    docs = scaled(load_table(spark, SF_DIR, "documents"), ["doc_id"], SCALE)
    emb = scaled(load_table(spark, SF_DIR, "embeddings"), ["vec_id"], SCALE)

    from pyspark.sql import Window

    from kafka_connect_oss_spark.operators import multimodal, similarity

    def sessions():
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        brk = (ev.select("user_id", "ts", "event_id")
               .withColumn("prev", F.lag("ts").over(w))
               .withColumn("b", (F.col("prev").isNull() | (
                   F.unix_micros("ts") - F.unix_micros("prev")
                   > 1_800_000_000)).cast("int")))
        sid = brk.withColumn("sid", F.sum("b").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        return sid.groupBy("user_id", "sid").count()

    from kafka_connect_oss_spark.operators.asof import asof_join, range_join

    def asof_probe(**kw):
        p = ev.where(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
        c = ev.where(F.col("event_type") == "click") \
            .select("event_id", "user_id", "ts")
        return asof_join(p, c, on=["user_id"], right_prefix="c_", **kw)

    def range_probe():
        p = ev.where(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
        e = ev.where(F.col("event_type") == "error") \
            .select("event_id", "user_id", "ts")
        return range_join(p, e, on=["user_id"], lower_ms=0,
                          upper_ms=600_000, right_prefix="e_")

    probes = {
        "asof_join": lambda: asof_probe(),
        "asof_join_skew_bucketed": lambda: asof_probe(
            skew_bucket_ms=86_400_000),
        "range_join": range_probe,
        "r1_committed_files": lambda: rotation.committed_files(
            ev, P.default_partition(F.col("partition")), flush_size=100,
            extension=".parquet"),
        "r2_anchored": lambda: rotation.anchored_interval_files(
            ev, 4 * 3600 * 1000),
        "hourly_rollup": lambda: ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd-HH"), "event_type").count(),
        "sessionization": sessions,
        "dedup_exact": lambda: dedup.exact_dedup(docs),
        "dedup_minhash_lsh": lambda: dedup.lsh_candidate_pairs(docs),
        "dedup_simhash_pairs": lambda: dedup.simhash_near_pairs(docs, bits=32),
        "embedding_cosine_pairs": lambda: dedup.embedding_near_dup(emb),
        "sim_ivf_topk": lambda: similarity.ann_ivf_topk(
            emb, similarity.query_vector(spark, emb, 0)),
        "multimodal_catalog": lambda: multimodal.decode_metadata(
            multimodal.attach_binary(docs)),
    }
    print(f"scale={SCALE} events={ev.count():,} docs={docs.count():,} "
          f"vectors={emb.count():,}")
    for name, build in probes.items():
        t0 = time.perf_counter()
        n = build().count()
        print(f"{name}: {time.perf_counter() - t0:6.2f}s  rows={n:,}")

    # commit scaling: phase 1 encodes each file once in its own Arrow
    # group and phase 2 moves the files from a thread pool, so the time
    # per file must stay near-flat as the file count grows 10x — the
    # 100 TB commit is O(files/pool), not O(files) serialized
    import shutil
    import tempfile

    from kafka_connect_oss_spark.config import PipelineConfig
    from kafka_connect_oss_spark.sinks import commit_batch

    for flush in (1000, 100):
        workdir = tempfile.mkdtemp(prefix="probe_commit_")
        try:
            cfg = PipelineConfig(url=workdir, format="json",
                                 flush_size=flush)
            ev.count()                      # materialize input outside timing
            t0 = time.perf_counter()
            keys = commit_batch(ev, P.default_partition(F.col("partition")),
                                cfg)
            dt = time.perf_counter() - t0
            print(f"commit_flush{flush}: {dt:6.2f}s  files={len(keys):,}  "
                  f"({1000 * dt / max(len(keys), 1):.2f} ms/file)")
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
