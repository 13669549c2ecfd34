"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over kafka_connect_oss_spark.registry — the engine package owns
the operator implementations (SURVEY.md §2); this module exposes them in the
driver's (queries / oracle_sql / entry) shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_connect_oss_spark.registry import (LAZY_ORACLES, ORACLES,  # noqa: E402
                                              QUERIES)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's WHOLE dataflow executed end-to-end —
    events -> SinkRecord envelope -> daily time-partitioning -> two-phase
    object commit (stage -> pooled rename, sinks.commit_batch) -> read-back.
    The returned frame is the committed object inventory (object_key,
    n_records) re-read from the sink it just wrote, so the smoke check
    covers source, partitioner, sink commit AND the written bytes. Keys are
    derived from (topic, partition, startOffset), so repeated runs
    overwrite the same objects deterministically (the C2 exactly-once
    story); the sink lives under a fresh tmpdir per call."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_connect_oss_spark.config import PipelineConfig
    from kafka_connect_oss_spark.sources.batch import sink_records
    from kafka_connect_oss_spark.streaming.pipeline import IngestPipeline

    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_flagship_")
    cfg = PipelineConfig(url=workdir, format="parquet", partitioner="daily",
                         flush_size=1000)
    rec = sink_records(spark, "/root/testdata/sf0.001")
    IngestPipeline(cfg).run_batch(rec)
    committed = (spark.read.option("recursiveFileLookup", "true")
                 .parquet(f"{workdir}/{cfg.topics_dir}"))
    rel_key = F.concat(
        F.lit(cfg.topics_dir + "/"),
        F.substring_index(F.input_file_name(),
                          "/" + cfg.topics_dir + "/", -1))
    return (committed.groupBy(rel_key.alias("object_key"))
            .agg(F.count(F.lit(1)).alias("n_records"))
            .orderBy("object_key"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered operator (SURVEY.md §2 and the LLM-pipeline
    extensions), sorted by name."""
    return {name: QUERIES[name] for name in sorted(QUERIES)}


#: the driver's correctness compare runs at sf0.01 (TESTDATA.md) — lazy
#: oracles (fitted-model literals) are resolved against that data
DRIVER_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted => rows-only check).

    LAZY_ORACLES (oracles that inline a data-fitted model, e.g. k-means
    centroids) are resolved here at the driver's correctness SF; a
    resolution failure degrades that query to the rows-only check instead
    of breaking every oracle."""
    out = dict(ORACLES)
    for name, fn in LAZY_ORACLES.items():
        try:
            out[name] = fn(DRIVER_ORACLE_SF_DIR)
        except Exception:
            pass
    return out
