"""Streaming analytics: watermark windowed agg, bounded-state dedup, the
session_window sessionizer and the applyInPandasWithState as-of join
(streaming/analytics.py), driven by the file-source Kafka stand-in and
golden-checked against batch equivalents."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_oss_spark.shipping import ensure_package_on_executors
from kafka_connect_oss_spark.sources.batch import sink_records
from kafka_connect_oss_spark.sources.files import events_file_stream
from kafka_connect_oss_spark.streaming import analytics as A


def _run_to_memory(df, name: str, tmp_path, timeout: int = 180):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(timeout)
    return q


def test_windowed_rollup_matches_batch(spark, sf_dir, tmp_path):
    stream = events_file_stream(spark, sf_dir)
    _run_to_memory(A.windowed_rollup(stream), "roll", tmp_path)
    got = spark.sql("SELECT * FROM roll")

    batch = (sink_records(spark, sf_dir)
             .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 3).alias("sum_value"))
             .select(F.col("w.start").alias("window_start"), "event_type",
                     "n_events", "sum_value"))
    # append mode holds back windows the watermark hasn't passed; everything
    # emitted must match the batch result exactly, and most windows emit
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert got_rows <= batch_rows
    assert len(got_rows) >= len(batch_rows) * 0.9


def test_streaming_dedup_bounded_state(spark, sf_dir, tmp_path):
    stream = events_file_stream(spark, sf_dir)
    deduped = A.streaming_exact_dedup(stream, key_cols=("key",))
    _run_to_memory(deduped, "dedup", tmp_path)
    got = spark.sql("SELECT * FROM dedup")
    n_keys = sink_records(spark, sf_dir).select("key").distinct().count()
    # one source file -> one micro-batch -> every in-horizon dup is caught
    assert got.count() == n_keys
    assert got.select("key").distinct().count() == n_keys


def test_sessionize_matches_batch_sessionization(spark, sf_dir, tmp_path):
    ensure_package_on_executors(spark)
    gap_ms = 30 * 60 * 1000
    stream = events_file_stream(spark, sf_dir)
    _run_to_memory(A.sessionize(stream, gap_ms=gap_ms), "sess", tmp_path)
    got = spark.sql("SELECT * FROM sess")

    # batch oracle: classic gap sessionization with window functions
    rec = sink_records(spark, sf_dir).select("user_id", "ts")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts")
    sessions = (rec
                .withColumn("prev", F.lag("ts").over(w))
                .withColumn("brk", (F.col("prev").isNull() | (
                    F.unix_micros("ts") - F.unix_micros("prev")
                    > gap_ms * 1000)).cast("int"))
                .withColumn("sid", F.sum("brk").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)))
                .groupBy("user_id", "sid")
                .agg(F.min("ts").alias("session_start"),
                     F.max("ts").alias("session_end"),
                     F.count(F.lit(1)).alias("n_events")))

    got_rows = {(r.user_id, r.session_start, r.session_end, r.n_events)
                for r in got.collect()}
    batch_rows = {(r.user_id, r.session_start, r.session_end, r.n_events)
                  for r in sessions.collect()}
    # sessions still open at end-of-stream (watermark never passed their
    # timeout) are withheld in append mode; emitted ones must match exactly
    assert got_rows <= batch_rows
    missing = batch_rows - got_rows
    # at most one open session per user can be withheld
    users_missing = {m[0] for m in missing}
    assert len(missing) == len(users_missing)


def test_sessionize_terminal_flush(spark, sf_dir, tmp_path):
    """A bounded replay with one session_flush_ts sentinel appended as
    the final file emits EVERY real session (r07 probe withheld the open
    tail); emitted set == batch-golden set exactly."""
    import glob
    import shutil

    ensure_package_on_executors(spark)
    gap_ms = 30 * 60 * 1000
    rec = sink_records(spark, sf_dir).select("user_id", "ts")
    mx = rec.agg(F.max("ts")).collect()[0][0]

    sd = tmp_path / "stream"
    sd.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", str(sd / "events.parquet"))
    far = A.session_flush_ts(mx, gap_ms=gap_ms)
    sent = spark.createDataFrame(
        [(10 ** 9, far, A.SESSION_FLUSH_USER, "sentinel", 0.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string")
    sent.coalesce(1).write.parquet(str(tmp_path / "sent"))
    shutil.copy(glob.glob(str(tmp_path / "sent" / "*.parquet"))[0],
                str(sd / "events.parquet_sentinel"))

    stream = events_file_stream(spark, str(sd), max_files_per_trigger=1)
    _run_to_memory(A.sessionize(stream, gap_ms=gap_ms), "sessflush",
                   tmp_path, timeout=300)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.sql(
               "SELECT * FROM sessflush WHERE user_id >= 0").collect()}

    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts")
    golden = (rec
              .withColumn("prev", F.lag("ts").over(w))
              .withColumn("brk", (F.col("prev").isNull() | (
                  F.unix_micros("ts") - F.unix_micros("prev")
                  > gap_ms * 1000)).cast("int"))
              .withColumn("sid", F.sum("brk").over(
                  w.rowsBetween(Window.unboundedPreceding, 0)))
              .groupBy("user_id", "sid")
              .agg(F.min("ts").alias("session_start"),
                   F.max("ts").alias("session_end"),
                   F.count(F.lit(1)).alias("n_events")))
    golden_rows = {(r.user_id, r.session_start, r.session_end, r.n_events)
                   for r in golden.collect()}
    assert got == golden_rows


def test_sessionize_out_of_order_arrival(spark, tmp_path):
    """Events arriving late (inside the watermark) land in the session
    their event time belongs to, as in the batch answer: user 1's 09:50
    extends the open [10:00, 10:20] session backwards, and user 2's
    10:25 bridges its 10:00 and 10:50 sessions into one. Replayed as
    two chunk files (the late events second) plus the flush sentinel."""
    import datetime

    from kafka_connect_oss_spark.streaming.replay import (
        drop_labeled_chunks, pin_time_order)

    gap_ms = 30 * 60 * 1000
    t = lambda hh, mm: datetime.datetime(2024, 1, 1, hh, mm)  # noqa: E731
    rows = [(1, t(10, 0), "c1"), (1, t(10, 20), "c1"),
            (2, t(10, 0), "c1"), (2, t(10, 50), "c1"),
            (1, t(9, 50), "c2"), (2, t(10, 25), "c2"),
            (A.SESSION_FLUSH_USER,
             A.session_flush_ts(t(10, 50), gap_ms=gap_ms), "flush")]
    names = ["c1", "c2", "flush"]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, chunk string")
    chunk_dir = tmp_path / "chunks"
    chunk_dir.mkdir()
    present = drop_labeled_chunks(df, "chunk", names, str(tmp_path),
                                  str(chunk_dir))
    assert present == names
    pin_time_order(str(chunk_dir), names)

    stream = (spark.readStream.schema(df.drop("chunk").schema)
              .option("maxFilesPerTrigger", "1").parquet(str(chunk_dir)))
    _run_to_memory(A.sessionize(stream, gap_ms=gap_ms, watermark="2 hours"),
                   "sessooo", tmp_path)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.sql(
               "SELECT * FROM sessooo WHERE user_id >= 0").collect()}
    assert got == {(1, t(9, 50), t(10, 20), 3),
                   (2, t(10, 0), t(10, 50), 3)}, got


def test_streaming_range_join_matches_batch(spark, sf_dir, tmp_path):
    # the built-in stream-stream join with an event-time range constraint
    # must reproduce the batch range_join exactly on the same data
    from kafka_connect_oss_spark.operators.asof import range_join

    stream = events_file_stream(spark, sf_dir)
    p_s = (stream.where(F.col("event_type") == "purchase")
           .select("user_id", "ts", F.col("event_id").alias("purchase_id")))
    e_s = (stream.where(F.col("event_type") == "error")
           .select("user_id", "ts", F.col("event_id").alias("error_id")))
    _run_to_memory(A.streaming_range_join(
        p_s, e_s, on=["user_id"], lower_ms=0, upper_ms=6 * 3600_000,
        right_prefix="e_"), "rj", tmp_path)
    got = sorted((r.user_id, r.purchase_id, r.e_error_id)
                 for r in spark.sql("SELECT * FROM rj").collect())

    rec = sink_records(spark, sf_dir)
    p_b = (rec.where(F.col("event_type") == "purchase")
           .select("user_id", "ts", F.col("event_id").alias("purchase_id")))
    e_b = (rec.where(F.col("event_type") == "error")
           .select("user_id", "ts", F.col("event_id").alias("error_id")))
    expect = sorted((r.user_id, r.purchase_id, r.e_error_id)
                    for r in range_join(p_b, e_b, on=["user_id"],
                                        lower_ms=0, upper_ms=6 * 3600_000,
                                        right_prefix="e_").collect())
    assert got == expect and len(got) > 0


def test_streaming_asof_join_matches_batch(spark, sf_dir, tmp_path):
    # multi-batch replay: events split into 4 time-ordered files streamed
    # one per micro-batch, so the watermark advances and emits as-of
    # matches incrementally; every emitted row must equal the batch
    # asof_join result, with substantial coverage by end of stream
    import os
    import shutil

    from kafka_connect_oss_spark.operators.asof import asof_join
    from pyspark.sql import Window

    ensure_package_on_executors(spark)
    rec = sink_records(spark, sf_dir)
    p = (rec.where(F.col("event_type") == "purchase")
         .select("user_id", "ts", "event_id"))
    # pre-dedup right on (user, ts): removes tie ambiguity between the
    # batch hash tie-break and the streaming max-id tie-break
    c = (rec.where(F.col("event_type") == "click")
         .groupBy("user_id", "ts").agg(F.max("event_id").alias("event_id")))
    base = (p.withColumn("side", F.lit(1))
            .unionByName(c.withColumn("side", F.lit(0))))
    chunked = base.withColumn("q", F.ntile(4).over(Window.orderBy("ts")))

    stream_dir = tmp_path / "asof_stream"
    stream_dir.mkdir()
    for i in range(1, 5):
        part_dir = tmp_path / f"part_{i}"
        chunked.where(F.col("q") == i).drop("q") \
            .coalesce(1).write.parquet(str(part_dir))
        src = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = stream_dir / f"chunk{i}.parquet"
        shutil.copy(part_dir / src, dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    l_s = sdf.where(F.col("side") == 1)
    r_s = sdf.where(F.col("side") == 0)
    _run_to_memory(A.streaming_asof_join(l_s, r_s, key_col="user_id",
                                         watermark="1 second"),
                   "asof_s", tmp_path)
    got = {(r.key, r.l_id): r.r_id
           for r in spark.sql("SELECT * FROM asof_s").collect()}

    expect = {(r.user_id, r.event_id): r.c_event_id
              for r in asof_join(p, c, on=["user_id"],
                                 right_prefix="c_").collect()}
    assert got, "stream emitted nothing — watermark never advanced"
    for k, v in got.items():
        assert k in expect and expect[k] == v, (k, v, expect.get(k))
    # everything the final watermark passed must have been emitted
    assert len(got) >= len(expect) // 2, (len(got), len(expect))


def test_streaming_windowed_topk_matches_batch(spark, sf_dir, tmp_path):
    stream = events_file_stream(spark, sf_dir)
    out = str(tmp_path / "topk_out")
    q = A.run_windowed_topk(stream, out, str(tmp_path / "ckpt_topk"), k=3)
    q.awaitTermination(180)

    batch_counts = (sink_records(spark, sf_dir)
                    .groupBy(F.window("ts", "1 hour").alias("w"),
                             "event_type", "user_id")
                    .agg(F.count(F.lit(1)).alias("n_events"))
                    .select(F.col("w.start").alias("window_start"),
                            "event_type", "user_id", "n_events"))
    batch_topk = A.topk_of_closed_windows(batch_counts, k=3)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in batch_topk.collect()}
    # append mode holds back windows the final watermark never passed; all
    # emitted rankings must match the batch ranking exactly (same batch =
    # whole closed window, so ranks are computed over complete windows)
    assert got <= want
    assert len(got) >= len(want) * 0.9


def test_streaming_windowed_topk_multibatch_replay(spark, sf_dir, tmp_path):
    # 4 time-ordered files, one per micro-batch: windows close as the
    # watermark advances, each closed window's rows land in ONE batch, so
    # per-batch ranking equals the batch ranking for every emitted window
    import os
    import shutil

    from pyspark.sql import Window

    rec = sink_records(spark, sf_dir).select("ts", "event_type", "user_id")
    chunked = rec.withColumn("q", F.ntile(4).over(Window.orderBy("ts")))
    stream_dir = tmp_path / "topk_stream"
    stream_dir.mkdir()
    for i in range(1, 5):
        part_dir = tmp_path / f"tk_part_{i}"
        chunked.where(F.col("q") == i).drop("q") \
            .coalesce(1).write.parquet(str(part_dir))
        src = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = stream_dir / f"chunk{i}.parquet"
        shutil.copy(part_dir / src, dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    out = str(tmp_path / "topk_mb_out")
    q = A.run_windowed_topk(sdf, out, str(tmp_path / "ckpt_topk_mb"), k=3,
                            watermark="30 minutes")
    q.awaitTermination(240)

    batch_counts = (rec.groupBy(F.window("ts", "1 hour").alias("w"),
                                "event_type", "user_id")
                    .agg(F.count(F.lit(1)).alias("n_events"))
                    .select(F.col("w.start").alias("window_start"),
                            "event_type", "user_id", "n_events"))
    want = {tuple(r) for r in
            A.topk_of_closed_windows(batch_counts, k=3).collect()}
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got <= want
    # with a 30-min watermark over time-ordered chunks, most windows close
    assert len(got) >= len(want) * 0.5


def test_streaming_dead_letter_routing(spark, sf_dir, tmp_path):
    # the Connect errors.tolerance=all contract in its native habitat: a
    # stream with corrupted payloads keeps flowing — good rows decode to
    # the sink, dead rows land in the DLQ prefix with raw bytes intact
    from pyspark.sql import types as T

    from kafka_connect_oss_spark.operators import projection

    rec = sink_records(spark, sf_dir).select(
        "event_id", "ts",
        F.when(F.col("event_id") % 10 == 0,
               F.concat(F.lit("}{"), F.col("props")))
        .otherwise(F.col("props")).alias("value"))
    src_dir = tmp_path / "dlq_src"
    rec.coalesce(1).write.parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir))

    out, dlq = str(tmp_path / "good"), str(tmp_path / "dead")
    target = T.StructType([T.StructField("k", T.IntegerType())])

    def sink(batch, _bid):
        good, dead = projection.dead_letter_split(batch, "value", target)
        good.write.mode("append").parquet(out)
        dead.write.mode("append").parquet(dlq)

    q = (stream.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_dlq"))
         .foreachBatch(sink).trigger(availableNow=True).start())
    q.awaitTermination(180)

    n = rec.count()
    n_bad = rec.where(F.col("event_id") % 10 == 0).count()
    good_df, dead_df = spark.read.parquet(out), spark.read.parquet(dlq)
    assert good_df.count() == n - n_bad
    assert dead_df.count() == n_bad
    # decoded payloads survive on the good side, raw bytes on the dead side
    assert good_df.where(F.col("k").isNull()).count() == 0
    assert dead_df.where(~F.col("raw_value").startswith("}{")).count() == 0


def test_run_incremental_dedup_stream_matches_batch(spark, sf_dir, tmp_path,
                                                    tmp_path_factory):
    """Streaming per-batch dedup against compacted state: each micro-batch
    classifies exactly like the batch operator run on that chunk."""
    from kafka_connect_oss_spark.operators import bucketing as B
    from kafka_connect_oss_spark.operators import dedup
    from kafka_connect_oss_spark.sources.batch import load_table

    loc = tmp_path_factory.mktemp("sdedup")
    B.ensure_database(spark, "sdedupstate", str(loc))
    try:
        docs = load_table(spark, sf_dir, "documents")
        base = docs.where(F.col("doc_id") % 2 == 0)
        dedup.compact_base_tables(base, "sdedupstate.b", n_buckets=4)

        # arrivals: odd ids, split into 2 chunk files = 2 micro-batches
        arrivals = docs.where(F.col("doc_id") % 2 == 1)
        stream_dir = tmp_path / "chunks"
        stream_dir.mkdir()
        for i, pred in enumerate([F.col("doc_id") % 4 == 1,
                                  F.col("doc_id") % 4 == 3]):
            arrivals.where(pred).coalesce(1).write.parquet(
                str(tmp_path / f"part{i}"))
            import glob
            import shutil
            src = glob.glob(str(tmp_path / f"part{i}" / "*.parquet"))[0]
            shutil.copy(src, stream_dir / f"c{i}.parquet")

        schema = spark.read.parquet(str(stream_dir)).schema
        sdf = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
        out = tmp_path / "status_out"
        q = A.run_incremental_dedup(sdf, "sdedupstate.b", str(out),
                                    str(tmp_path / "ck_inc"))
        q.awaitTermination(180)

        got = spark.read.parquet(str(out))
        assert got.select("batch_id").distinct().count() == 2
        # each batch must equal the batch operator on its own chunk
        for r in got.select("batch_id").distinct().collect():
            chunk_ids = [x.doc_id for x in
                         got.where(F.col("batch_id") == r.batch_id)
                         .select("doc_id").collect()]
            chunk = arrivals.where(F.col("doc_id").isin(chunk_ids))
            expect = sorted(map(tuple, dedup.incremental_dedup_status(
                base, chunk).collect()))
            gotb = sorted(map(tuple,
                              got.where(F.col("batch_id") == r.batch_id)
                              .drop("batch_id").collect()))
            assert gotb == expect

        # replay idempotency (r07 ADVICE): wipe the checkpoint so the
        # SAME batches reprocess with the same batch ids — the dynamic
        # partition-overwrite sink must leave the output unchanged, not
        # append duplicates
        before = sorted(map(tuple, got.collect()))
        import shutil as _sh
        _sh.rmtree(str(tmp_path / "ck_inc"))
        q2 = A.run_incremental_dedup(sdf, "sdedupstate.b", str(out),
                                     str(tmp_path / "ck_inc"))
        q2.awaitTermination(180)
        after = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
        assert after == before
    finally:
        spark.sql("DROP DATABASE sdedupstate CASCADE")


def test_fold_accepted_into_state_equals_recompaction(spark, sf_dir,
                                                      tmp_path_factory):
    """dedup.fold_accepted_into_state (increment-sized appends) must leave
    the state tables content-equal to a full compact_base_tables over
    base + kept, and a second fold of the same docs must append nothing
    (content idempotency)."""
    from kafka_connect_oss_spark.operators import bucketing as B
    from kafka_connect_oss_spark.operators import dedup
    from kafka_connect_oss_spark.sources.batch import load_table

    loc = tmp_path_factory.mktemp("foldst")
    B.ensure_database(spark, "foldst", str(loc))
    try:
        docs = load_table(spark, sf_dir, "documents")
        base = docs.where(F.col("doc_id") % 3 == 0)
        inc = docs.where(F.col("doc_id") % 3 == 1)
        dedup.compact_base_tables(base, "foldst.f", n_buckets=4)

        st = dedup.incremental_dedup_status_from_tables(spark, "foldst.f",
                                                        inc)
        kept_ids = [r.doc_id for r in
                    st.where(F.col("status") == "kept").collect()]
        kept = inc.where(F.col("doc_id").isin(kept_ids))
        dedup.fold_accepted_into_state(spark, "foldst.f", kept)

        # reference: full recompaction over the grown corpus. hh/msig
        # array ORDER is task-layout-dependent and semantically inert
        # (every consumer is set-wise: array_intersect / explode), so
        # rows canonicalize arrays to sorted before comparing.
        dedup.compact_base_tables(base.unionByName(kept), "foldst.g",
                                  n_buckets=4)

        def canon(table):
            return sorted(
                tuple(str(sorted(v)) if isinstance(v, list) else str(v)
                      for v in r)
                for r in spark.table(table).collect())

        for t in ["digests", "sig", "postings"]:
            assert canon(f"foldst.f_{t}") == canon(f"foldst.g_{t}"), t

        # and the contract that matters: both states classify a fresh
        # increment identically
        probe = docs.where(F.col("doc_id") % 3 == 2)
        got_cls = sorted(map(tuple, dedup.incremental_dedup_status_from_tables(
            spark, "foldst.f", probe).collect()))
        exp_cls = sorted(map(tuple, dedup.incremental_dedup_status_from_tables(
            spark, "foldst.g", probe).collect()))
        assert got_cls == exp_cls

        # refold of the same docs is a no-op (digest anti-join gate)
        dedup.fold_accepted_into_state(spark, "foldst.f", kept)
        for t in ["digests", "sig", "postings"]:
            assert (spark.table(f"foldst.f_{t}").count()
                    == spark.table(f"foldst.g_{t}").count()), t
    finally:
        spark.sql("DROP DATABASE foldst CASCADE")


def test_run_incremental_dedup_refresh_state_across_epochs(
        spark, sf_dir, tmp_path, tmp_path_factory):
    """The r09 in-stream state-refresh story end-to-end: N micro-batches
    with refresh_state=True, then MORE arrivals in a later epoch — every
    batch's statuses must equal the batch operator run against base plus
    all previously-ACCEPTED arrivals (the exact answer per-batch offline
    recompaction would give), and a full checkpoint-wipe replay over the
    already-folded state must reproduce the identical output."""
    import glob
    import shutil

    from kafka_connect_oss_spark.operators import bucketing as B
    from kafka_connect_oss_spark.operators import dedup
    from kafka_connect_oss_spark.sources.batch import load_table

    loc = tmp_path_factory.mktemp("rfrst")
    B.ensure_database(spark, "rfrst", str(loc))
    try:
        docs = load_table(spark, sf_dir, "documents")
        base = docs.where(F.col("doc_id") % 4 == 0)
        dedup.compact_base_tables(base, "rfrst.s", n_buckets=4)

        stream_dir = tmp_path / "chunks"
        stream_dir.mkdir()

        def drop_chunk(i, pred):
            part = tmp_path / f"part{i}"
            docs.where(pred).coalesce(1).write.parquet(str(part))
            src = glob.glob(str(part / "*.parquet"))[0]
            shutil.copy(src, stream_dir / f"c{i}.parquet")

        drop_chunk(0, F.col("doc_id") % 4 == 1)
        drop_chunk(1, F.col("doc_id") % 4 == 2)

        schema = spark.read.parquet(str(stream_dir)).schema
        out, ck = tmp_path / "status_out", tmp_path / "ck"

        def run_epoch():
            sdf = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", "1")
                   .parquet(str(stream_dir)))
            q = A.run_incremental_dedup(sdf, "rfrst.s", str(out), str(ck),
                                        refresh_state=True)
            q.awaitTermination(300)

        run_epoch()                      # epoch 1: two micro-batches
        drop_chunk(2, F.col("doc_id") % 4 == 3)
        run_epoch()                      # epoch 2: one more batch

        got = spark.read.parquet(str(out))
        batch_ids = sorted(r.batch_id for r in
                           got.select("batch_id").distinct().collect())
        assert len(batch_ids) == 3

        # serial reference: batch operator on a corpus grown by each
        # batch's kept docs, in commit order
        corpus = base
        for bid in batch_ids:
            rows = got.where(F.col("batch_id") == bid)
            chunk_ids = [r.doc_id for r in rows.select("doc_id").collect()]
            chunk = docs.where(F.col("doc_id").isin(chunk_ids))
            expect = dedup.incremental_dedup_status(corpus, chunk)
            assert (sorted(map(tuple, rows.drop("batch_id").collect()))
                    == sorted(map(tuple, expect.collect()))), bid
            kept_ids = [r.doc_id for r in expect
                        .where(F.col("status") == "kept").collect()]
            corpus = corpus.unionByName(
                chunk.where(F.col("doc_id").isin(kept_ids)))

        # replay idempotency ON TOP of already-folded state: wipe the
        # checkpoint so every batch reprocesses; the classifier's inc-id
        # exclusion + the fold's digest gate must leave output AND state
        # unchanged
        before = sorted(map(tuple, got.collect()))
        n_state = {t: spark.table(f"rfrst.s_{t}").count()
                   for t in ["digests", "sig", "postings"]}
        shutil.rmtree(str(ck))
        run_epoch()
        after = sorted(map(tuple,
                           spark.read.parquet(str(out)).collect()))
        assert after == before
        for t, n in n_state.items():
            assert spark.table(f"rfrst.s_{t}").count() == n, t
    finally:
        spark.sql("DROP DATABASE rfrst CASCADE")


def test_run_ingest_qc_matches_batch_and_replays_idempotent(
        spark, sf_dir, tmp_path):
    """Each micro-batch's QC row equals the same stats computed in batch
    on that chunk; a checkpoint-wipe replay leaves the output unchanged
    (dynamic partition overwrite, same deterministic values)."""
    import glob
    import shutil

    from kafka_connect_oss_spark.functions.rounding import fround
    from kafka_connect_oss_spark.operators.text import (gopher_quality_flags,
                                                        quality_score)
    from kafka_connect_oss_spark.sources.batch import load_table
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    stream_dir = tmp_path / "qc_chunks"
    stream_dir.mkdir()
    # uneven split so the two QC rows are distinguishable by n_docs
    chunks = [docs.where(F.col("doc_id") % 4 == 0),
              docs.where(F.col("doc_id") % 4 != 0)]
    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).write.parquet(str(tmp_path / f"qcp{i}"))
        src = glob.glob(str(tmp_path / f"qcp{i}" / "*.parquet"))[0]
        shutil.copy(src, stream_dir / f"c{i}.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    out, ck = tmp_path / "qc_out", tmp_path / "qc_ck"
    A.run_ingest_qc(sdf, str(out), str(ck)).awaitTermination(180)

    got = spark.read.parquet(str(out))
    assert got.count() == 2

    def golden(chunk):
        q = quality_score(chunk).select("doc_id", "quality")
        g = gopher_quality_flags(chunk).select("doc_id", "pass_gopher")
        w = Window.partitionBy(F.md5("text"))
        d = chunk.select(
            "doc_id",
            (F.col("doc_id") != F.min("doc_id").over(w)).alias("_dup"))
        return (q.join(g, "doc_id").join(d, "doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     fround(F.avg("quality"), 4).alias("mean_quality"),
                     fround(F.avg(F.when(F.col("pass_gopher"), 1.0)
                                  .otherwise(0.0)), 4)
                     .alias("gopher_pass_rate"),
                     fround(F.avg(F.when(F.col("_dup"), 1.0)
                                  .otherwise(0.0)), 4)
                     .alias("exact_dup_rate")).collect()[0])

    # batch ids follow file arrival order (c0 then c1 with
    # maxFilesPerTrigger=1); match each row by its n_docs instead of
    # assuming order
    by_n = {r.n_docs: r for r in got.collect()}
    for chunk in chunks:
        e = golden(chunk)
        r = by_n[e.n_docs]
        assert (r.mean_quality, r.gopher_pass_rate, r.exact_dup_rate) == \
            (e.mean_quality, e.gopher_pass_rate, e.exact_dup_rate)

    before = sorted(map(tuple, got.collect()))
    shutil.rmtree(str(ck))
    A.run_ingest_qc(sdf, str(out), str(ck)).awaitTermination(180)
    after = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    assert after == before


def test_run_incremental_ivf_matches_batch_and_replays_idempotent(
        spark, sf_dir, tmp_path):
    """Streaming the embeddings in chunks against a frozen centroid model
    produces EXACTLY the batch ivf_assign postings over the full table;
    a checkpoint-wipe replay leaves the accumulated index unchanged."""
    import glob
    import shutil

    from kafka_connect_oss_spark.operators import similarity as SIM
    from kafka_connect_oss_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SIM.ivf_centroids(emb, 8)
    stream_dir = tmp_path / "ivf_chunks"
    stream_dir.mkdir()
    chunks = [emb.where(F.col("vec_id") % 3 == k) for k in range(3)]
    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).write.parquet(str(tmp_path / f"ivfp{i}"))
        src = glob.glob(str(tmp_path / f"ivfp{i}" / "*.parquet"))[0]
        shutil.copy(src, stream_dir / f"c{i}.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    out, ck = tmp_path / "ivf_out", tmp_path / "ivf_ck"
    A.run_incremental_ivf(sdf, cents, str(out), str(ck)).awaitTermination(180)

    got = spark.read.parquet(str(out))
    want = {(r.vec_id, r.cid)
            for r in SIM.ivf_assign(emb, cents).select("vec_id",
                                                       "cid").collect()}
    assert {(r.vec_id, r.cid) for r in got.collect()} == want
    assert got.count() == len(want)  # one posting per vector, no dups
    # three batches landed, each under its own partition
    assert got.select("batch_id").distinct().count() == 3

    before = sorted(map(tuple, got.collect()))
    shutil.rmtree(str(ck))
    A.run_incremental_ivf(sdf, cents, str(out), str(ck)).awaitTermination(180)
    after = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    assert after == before


def test_run_drift_monitor_matches_batch(spark, sf_dir, tmp_path):
    """Streaming drift monitor: each micro-batch's report rows equal
    drift_report(baseline, that chunk) run as a batch, and a replayed
    batch_id partition holds one deterministic row set."""
    import glob
    import shutil

    from kafka_connect_oss_spark.operators.drift import drift_report
    from kafka_connect_oss_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    base_path = tmp_path / "baseline"
    base.write.parquet(str(base_path))

    arrivals = docs.where(F.col("doc_id") % 2 == 1)
    stream_dir = tmp_path / "chunks"
    stream_dir.mkdir()
    chunks = [F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3]
    for i, pred in enumerate(chunks):
        arrivals.where(pred).coalesce(1).write.parquet(
            str(tmp_path / f"part{i}"))
        src = glob.glob(str(tmp_path / f"part{i}" / "*.parquet"))[0]
        shutil.copy(src, stream_dir / f"c{i}.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    out = tmp_path / "drift_out"
    q = A.run_drift_monitor(sdf, str(base_path), str(out),
                            str(tmp_path / "ck_drift"))
    q.awaitTermination(180)

    got = spark.read.parquet(str(out))
    batch_ids = sorted(r.batch_id for r in
                       got.select("batch_id").distinct().collect())
    assert len(batch_ids) == 2
    base_rt = spark.read.parquet(str(base_path))
    for bid, pred in zip(batch_ids, chunks):
        want = sorted(map(tuple, drift_report(
            base_rt, arrivals.where(pred)).collect()))
        have = sorted(map(tuple, got.where(F.col("batch_id") == bid)
                          .drop("batch_id").collect()))
        assert have == want, f"batch {bid} drift rows diverge from batch op"


def test_run_cms_monitor_matches_batch_and_replays_idempotent(
        spark, sf_dir, tmp_path):
    """Streaming CMS: the cell-wise merge of per-batch sketches equals
    the batch sketch of the whole arrival set (mergeability end-to-end),
    and replaying a batch_id partition leaves the merge unchanged."""
    import glob
    import shutil

    from kafka_connect_oss_spark.operators import sketches as SK
    from kafka_connect_oss_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    stream_dir = tmp_path / "chunks"
    stream_dir.mkdir()
    chunks = [F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1]
    for i, pred in enumerate(chunks):
        docs.where(pred).coalesce(1).write.parquet(
            str(tmp_path / f"part{i}"))
        src = glob.glob(str(tmp_path / f"part{i}" / "*.parquet"))[0]
        shutil.copy(src, stream_dir / f"c{i}.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    out = tmp_path / "cms_out"
    w = 64
    q = A.run_cms_monitor(sdf, str(out), str(tmp_path / "ck_cms"), w=w)
    q.awaitTermination(180)

    got = spark.read.parquet(str(out))
    assert got.select("batch_id").distinct().count() == 2
    merged = {(r.j, r.bucket): r.cnt
              for r in SK.cms_merge(got).collect()}
    want = {(r.j, r.bucket): r.cnt
            for r in SK.cms_table(docs, w=w).collect()}
    assert merged == want, "merged per-batch sketches != whole-corpus sketch"

    # replay: a second availableNow pass from a FRESH checkpoint re-sees
    # both files and rewrites both batch_id partitions; dynamic
    # partition overwrite keeps the merge identical (no double count)
    sdf2 = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    q2 = A.run_cms_monitor(sdf2, str(out), str(tmp_path / "ck_cms2"), w=w)
    q2.awaitTermination(180)
    merged2 = {(r.j, r.bucket): r.cnt
               for r in SK.cms_merge(spark.read.parquet(str(out))).collect()}
    assert merged2 == want, "replay double-counted a batch partition"
