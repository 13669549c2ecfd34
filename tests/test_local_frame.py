"""Driver-side rows become JVM-local frames (sources.batch.local_frame).

``spark.createDataFrame(<list>)`` plans as ``Scan ExistingRDD`` over a
Python RDD, so every job over it runs Python tasks. The package builds such
frames only through ``local_frame``, which plans as a ``LocalTableScan``.
These tests pin that the helper returns what ``createDataFrame(list)`` did,
and that every package site that builds a frame from rows goes through it.
"""

import ast
import datetime
import pathlib
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import kafka_connect_oss_spark
from kafka_connect_oss_spark.sources.batch import load_table, local_frame

PKG = pathlib.Path(kafka_connect_oss_spark.__file__).parent

TS = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
ROWS = [
    (1, 2, "a", 1.5, [1.0, 2.5], TS),
    (None, None, None, None, None, None),
    (-3, -4, "é", float("-inf"), [], datetime.datetime(1969, 12, 31, 23, 59)),
    (2**62, 2**31 - 1, "", 0.0, [None, -0.5], TS - datetime.timedelta(1)),
]
DDL = "a long, b int, s string, d double, v array<double>, t timestamp"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def _arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_same_rows_and_schema_as_create_dataframe(spark, rows):
    with _arrow_off(spark):
        want = spark.createDataFrame(rows, DDL)
        got = local_frame(spark, rows, DDL)
        plan = _plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # the same instants, not only the same wall-clock rendering
    micros = "unix_micros(t) AS us"
    assert (got.selectExpr(micros).collect()
            == want.selectExpr(micros).collect())


def test_struct_schema_keeps_nullability(spark):
    schema = T.StructType([T.StructField("k", T.IntegerType(), False),
                           T.StructField("w", T.StringType())])
    got = local_frame(spark, [(1, "x"), (2, None)], schema)
    assert got.schema == schema
    assert got.collect() == spark.createDataFrame(
        [(1, "x"), (2, None)], schema).collect()


def test_package_builds_frames_from_rows_only_in_local_frame():
    """Every ``createDataFrame`` call in the package is the helper's own."""
    callers = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"):
                    callers.append(
                        (str(path.relative_to(PKG)), fn.name, node.lineno))
    assert {(p, f) for p, f, _ in callers} == {
        ("sources/batch.py", "local_frame")}, callers


@pytest.fixture
def created_frames(monkeypatch):
    """Every frame built through ``SparkSession.createDataFrame``, with the
    type of the data it was built from."""
    seen = []
    inner = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        df = inner(self, data, *args, **kwargs)
        seen.append((type(data).__name__, df))
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    return seen


def _kmeans(spark, sf_dir, tmp_path, monkeypatch):
    from kafka_connect_oss_spark.operators import similarity
    emb = load_table(spark, sf_dir, "embeddings").limit(64)
    similarity.kmeans_centroids(emb, n_centroids=2, n_iters=1).collect()


def _quantile(spark, sf_dir, tmp_path, monkeypatch):
    from kafka_connect_oss_spark.operators import sketches
    df = load_table(spark, sf_dir, "events").select("event_type", "value")
    sketches.exact_quantile_disc(df, "value", 0.5, "event_type").collect()


def _takedown(spark, sf_dir, tmp_path, monkeypatch):
    from kafka_connect_oss_spark.operators import dedup
    docs = (load_table(spark, sf_dir, "documents").limit(12)
            .withColumn("batch_id", (F.col("doc_id") % 3).cast("int")))
    docs.write.partitionBy("batch_id").parquet(str(tmp_path / "corpus"))
    digest = docs.select(F.md5("text").alias("digest")).limit(2)
    monkeypatch.setattr(dedup, "ISIN_LITERAL_MAX", 0)
    dedup.retroactive_takedown(spark, str(tmp_path / "corpus"), digest)


def _audit(spark, sf_dir, tmp_path, monkeypatch):
    from kafka_connect_oss_spark.streaming import analytics as A
    docs = load_table(spark, sf_dir, "documents").limit(8)
    docs.write.parquet(str(tmp_path / "in"))
    docs.select(F.md5("text").alias("digest")).limit(1).write.parquet(
        str(tmp_path / "bl"))
    sdf = spark.readStream.schema(docs.schema).parquet(str(tmp_path / "in"))
    A.run_ingest_with_blocklist(
        sdf, str(tmp_path / "bl"), str(tmp_path / "out"),
        str(tmp_path / "ck"), audit_path=str(tmp_path / "audit")
    ).awaitTermination(180)


def _row(name):
    def run(spark, sf_dir, tmp_path, monkeypatch):
        from kafka_connect_oss_spark.registry import QUERIES
        QUERIES[name](spark, sf_dir).collect()
    return run


SITES = {
    "stream_cms_batch_equivalence": _row("stream_cms_batch_equivalence"),
    "stream_asof_batch_equivalence": _row("stream_asof_batch_equivalence"),
    "stream_sessionize_batch_equivalence":
        _row("stream_sessionize_batch_equivalence"),
    "stream_windowed_topk_batch_equivalence":
        _row("stream_windowed_topk_batch_equivalence"),
    "sim_ann_recall_eval": _row("sim_ann_recall_eval"),
    "kmeans_centroids": _kmeans,
    "exact_quantile_disc": _quantile,
    "retroactive_takedown": _takedown,
    "run_ingest_with_blocklist": _audit,
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_site_frames_plan_without_python_rdd(site, spark, sf_dir, tmp_path,
                                             created_frames, monkeypatch):
    import kafka_connect_oss_spark.registry_llm  # noqa: F401  registers rows
    import kafka_connect_oss_spark.registry_streaming  # noqa: F401

    SITES[site](spark, sf_dir, tmp_path, monkeypatch)
    assert created_frames, f"{site} built no frame from local rows"
    for kind, df in created_frames:
        assert kind == "Table", (site, kind)
        plan = _plan(df)
        assert "ExistingRDD" not in plan, (site, plan)
