"""Streaming analytics operators over the record stream (driver-mandated
extensions, streaming form; SURVEY.md §2 "Streaming-semantics summary").

The reference has no watermarks — a late record extends its (older) encoded
partition's file via an R3 rotation (TopicPartitionWriter.java:345-346).
These operators add the Structured-Streaming-native late-data story a
training-data pipeline needs on top of the ingest path:

  windowed_rollup            watermark + event-time window aggregation; the
                             streaming form of events_hourly_rollup. State
                             is bounded by the watermark horizon.
  streaming_exact_dedup      dropDuplicatesWithinWatermark on the content
                             hash — the streaming form of dedup_exact; state
                             expires with the watermark instead of growing
                             with the corpus.
  sessionize                 per-user gap sessions on Spark's native
                             session_window aggregation; late events inside
                             the watermark merge into (and bridge) open
                             sessions.
  streaming_asof_join        custom stateful operator via
                             applyInPandasWithState: latest right row at or
                             before each left row — the pattern to copy for
                             any operator whose state Spark lacks (the
                             reference's per-writer state tuple,
                             TopicPartitionWriter.java:63-87, is exactly
                             this shape).

All of them scale the same way: state lives in the state store, keyed by
group, partitioned by the shuffle — no driver-side state, no unbounded
growth (watermark/timeout bounds every map). The ``run_*`` functions wire
an operator or a per-batch job to a foreachBatch sink; every one starts
the same availableNow query (``_start_batch_sink``) and the batch_id-keyed
sinks share one dynamic-partition-overwrite write (``_overwrite_batch``).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (LongType, StringType, StructField, StructType,
                               TimestampType)


def windowed_rollup(records: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed counts/sums per event_type with late-data bound.

    Append-mode compatible: a window closes (emits) once the watermark
    passes its end; records later than `watermark` are dropped — the
    documented deviation from the reference, which instead reopens old
    partitions (no bound on state, impossible at 100 TB).
    """
    return (records
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 3).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value"))


def streaming_exact_dedup(records: DataFrame, key_cols: Iterable[str] = ("key",),
                          watermark: str = "2 hours") -> DataFrame:
    """Exact dedup with bounded state: duplicates arriving within the
    watermark horizon are dropped; state for older keys is evicted.

    The batch form (operators/dedup.exact_dedup) sees the whole corpus; this
    form trades completeness-beyond-the-horizon for O(horizon) state — the
    only dedup shape that runs forever on an unbounded stream.
    """
    return (records
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(list(key_cols)))


def streaming_range_join(left: DataFrame, right: DataFrame, on: list[str],
                         lower_ms: int, upper_ms: int,
                         watermark: str = "2 hours",
                         left_ts: str = "ts", right_ts: str = "ts",
                         right_prefix: str = "r_") -> DataFrame:
    """Streaming form of operators/asof.range_join: pairs with
    right_ts - left_ts in [lower_ms, upper_ms] per key, as a native
    stream-stream inner join with an event-time range constraint.

    Spark-first: both sides carry watermarks and the join condition bounds
    the event-time distance, so the state store holds only rows inside
    the watermark + interval horizon — the documented requirement for
    state cleanup in stream-stream joins. No custom state code: the
    built-in join IS the operator; at 100 TB state is partitioned by the
    join key shuffle like any stateful op.

    Emits the same columns as the batch operator (left columns + prefixed
    right payload), so the two forms golden-check against each other
    (test_streaming_analytics.test_streaming_range_join_matches_batch).
    """
    from functools import reduce

    l_w = left.withWatermark(left_ts, watermark).alias("l")
    rpayload = [c for c in right.columns if c not in on]
    r_w = (right.select(*on, *[F.col(c).alias(f"{right_prefix}{c}")
                               for c in rpayload])
           .withWatermark(f"{right_prefix}{right_ts}", watermark)
           .alias("r"))
    key_eq = reduce(lambda a, b: a & b,
                    [F.col(f"l.{c}") == F.col(f"r.{c}") for c in on])
    rts, lts = F.col(f"r.{right_prefix}{right_ts}"), F.col(f"l.{left_ts}")
    cond = (key_eq
            & (rts >= lts + F.expr(f"INTERVAL {lower_ms} MILLISECOND"))
            & (rts <= lts + F.expr(f"INTERVAL {upper_ms} MILLISECOND")))
    joined = l_w.join(r_w, cond)
    return joined.select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{right_prefix}{c}") for c in rpayload])


ASOF_SCHEMA = StructType([
    StructField("key", LongType()),
    StructField("l_ts", TimestampType()),
    StructField("l_id", LongType()),
    StructField("r_ts", TimestampType()),
    StructField("r_id", LongType()),
])

_ASOF_STATE = StructType([
    StructField("l_ts_us", StringType()),   # csv-packed pending left rows
    StructField("l_id", StringType()),
    StructField("r_ts_us", StringType()),   # csv-packed buffered right rows
    StructField("r_id", StringType()),
])


def _pack(xs: list[int]) -> str:
    return ",".join(map(str, xs))


def _unpack(s: str) -> list[int]:
    return [int(x) for x in s.split(",")] if s else []


def _asof_func():
    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            lts, lid, rts, rid = (list(_unpack(v)) for v in state.get)
        else:
            lts, lid, rts, rid = [], [], [], []
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                         // 1000)
                for t, side, i in zip(ts_us, pdf["side"], pdf["id"]):
                    if side == 1:
                        lts.append(int(t)); lid.append(int(i))
                    else:
                        rts.append(int(t)); rid.append(int(i))
        wm_us = state.getCurrentWatermarkMs() * 1000

        # emit every pending left row the watermark has passed: all right
        # rows at or before it have arrived by the watermark contract
        out, keep_l, keep_lid = [], [], []
        rpairs = sorted(zip(rts, rid))
        for t, i in sorted(zip(lts, lid)):
            if t <= wm_us:
                match = None
                for rt, ri in rpairs:
                    if rt <= t:
                        match = (rt, ri)
                    else:
                        break
                out.append((k, t, i, match))
            else:
                keep_l.append(t); keep_lid.append(i)

        # prune right rows: matches for future left rows (> wm) only need
        # the newest right row <= wm (the carry) plus everything after wm
        carry = None
        for rt, ri in rpairs:
            if rt <= wm_us:
                carry = (rt, ri)
        kept_r = ([carry] if carry else []) + \
            [(rt, ri) for rt, ri in rpairs if rt > wm_us]
        if keep_l or kept_r:
            state.update((_pack(keep_l), _pack(keep_lid),
                          _pack([rt for rt, _ in kept_r]),
                          _pack([ri for _, ri in kept_r])))
            if keep_l:
                # wake as soon as the watermark passes the oldest pending
                # left row (must be strictly beyond the current watermark)
                state.setTimeoutTimestamp(
                    max(min(keep_l) // 1000 + 1,
                        state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()
        if out:
            yield pd.DataFrame({
                "key": [r[0] for r in out],
                "l_ts": [pd.Timestamp(r[1], unit="us") for r in out],
                "l_id": [r[2] for r in out],
                "r_ts": [None if r[3] is None
                         else pd.Timestamp(r[3][0], unit="us")
                         for r in out],
                "r_id": [None if r[3] is None else r[3][1] for r in out],
            })

    return fn


def streaming_asof_join(left: DataFrame, right: DataFrame,
                        key_col: str, id_col: str = "event_id",
                        ts_col: str = "ts",
                        watermark: str = "30 seconds") -> DataFrame:
    """Streaming backward as-of join as a custom stateful operator — the
    temporal op Structured Streaming lacks natively (stream-stream joins
    support range conditions but not "latest right row at or before").

    Same union-tag trick as the batch operator (operators/asof.asof_join):
    both sides merge into ONE tagged stream (applyInPandasWithState takes
    a single input), grouped by key. Per key the state buffers pending
    rows; a left row is emitted only once the EVENT-TIME WATERMARK passes
    its timestamp — at that point every right row at or before it has
    arrived (the watermark contract), so the match is exact, not
    processing-order-dependent. Pruning keeps just the newest right row
    at or below the watermark (the carry) plus unexpired right rows, so
    state per key is O(in-flight horizon), never the full history.

    Rows carry (key, ts, id); enrich with full payloads by joining the
    emitted (l_id, r_id) pairs back to their tables — ids are the join
    currency so the state store never holds wide payloads. Left rows
    still ahead of the final watermark stay buffered (append-mode
    semantics, same caveat as sessionize). Equal-timestamp right rows:
    the largest id wins (deterministic; pre-dedup right on (key, ts) if
    the batch hash tie-break must be mirrored exactly).

    Returns (key, l_ts, l_id, r_ts, r_id) with r_* NULL when no right
    row precedes the left row.
    """
    tagged = (left.select(F.col(key_col).alias("key"),
                          F.col(ts_col).alias("ts"),
                          F.lit(1).alias("side"),
                          F.col(id_col).alias("id"))
              .unionByName(
                  right.select(F.col(key_col).alias("key"),
                               F.col(ts_col).alias("ts"),
                               F.lit(0).alias("side"),
                               F.col(id_col).alias("id"))))
    return (tagged
            .withWatermark("ts", watermark)
            .groupBy("key")
            .applyInPandasWithState(
                _asof_func(), ASOF_SCHEMA, _ASOF_STATE,
                "append", GroupStateTimeout.EventTimeTimeout))


#: reserved key for terminal-flush sentinel events (see session_flush_ts)
SESSION_FLUSH_USER = -1


def session_flush_ts(last_ts, gap_ms: int = 30 * 60 * 1000,
                     watermark_delay_ms: int = 2 * 3600 * 1000,
                     margin_ms: int = 60 * 1000):
    """Terminal-flush timestamp for a BOUNDED sessionize replay.

    Append-mode sessionization withholds sessions still open at
    end-of-stream: their ``last_event + gap`` timeout never falls behind
    the watermark, so a bounded replay under-emits (r07 probe: 600 of
    954,650 sessions withheld). The fix needs no operator change —
    watermarks are global, so ONE sentinel event at the returned
    timestamp (``last real event + gap + watermark delay + margin``),
    appended as the final input under the reserved ``SESSION_FLUSH_USER``
    key, drives the watermark past every open session's timeout and
    flushes 100% of real sessions. The sentinel's own open session is the
    only one withheld; drop ``user_id = SESSION_FLUSH_USER`` at the sink.
    Callers materialize the sentinel in their stream's own schema (e.g.
    one extra parquet file for a file-source replay) —
    tests/test_streaming_analytics.py::test_sessionize_terminal_flush
    shows the pattern and pins emitted == golden.

    For UNBOUNDED production streams this is a non-issue by construction:
    the watermark keeps advancing with real traffic, so every session
    eventually closes; the sentinel is only for bounded replays/backfills
    that need the tail.
    """
    import datetime

    return last_ts + datetime.timedelta(
        milliseconds=gap_ms + watermark_delay_ms + margin_ms)


def sessionize(records: DataFrame, gap_ms: int = 30 * 60 * 1000,
               watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap timeout) on Spark's native
    ``session_window``: a session closes when the event-time watermark
    passes last event + gap, and an event exactly ``gap`` after the last
    one stays in the session (the batch rule: break iff the delta
    strictly exceeds the gap). Because the state store keeps each open
    session as a window, an event arriving out of order inside the
    watermark extends the session it falls into, and one that lands
    within ``gap`` of two open sessions merges them — the batch answer,
    whatever the arrival order. Returns (user_id, session_start,
    session_end, n_events) with start/end the first/last event time.

    The custom-state template (``applyInPandasWithState``) is
    ``streaming_asof_join``; this operator needs none.

    Bounded replays: sessions still open at end-of-stream are withheld by
    append-mode semantics — see ``session_flush_ts`` for the sentinel
    pattern that flushes them.
    """
    return (records
            .withWatermark("ts", watermark)
            .groupBy("user_id",
                     F.session_window("ts", f"{gap_ms} milliseconds"))
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"))
            .select("user_id", "session_start", "session_end", "n_events"))


def streaming_windowed_counts(records: DataFrame, window: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """Per-(window, event_type, user) event counts with late-data bound —
    the upstream half of streaming top-k. In append mode a row emits
    exactly once, when the watermark closes its window, so every row that
    reaches the sink carries the FINAL count: ranking can then happen
    per micro-batch (`topk_of_closed_windows`) because all rows of a
    closed window arrive in the same batch. Rank/row_number is not
    supported on a streaming frame — this two-piece shape (append-final
    aggregate + foreachBatch ranking) is the documented Structured
    Streaming pattern for streaming top-k, and the ranking step is a
    per-window-sized sort, never a global one.
    """
    return (records
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type",
                     "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "user_id", "n_events"))


def topk_of_closed_windows(batch: DataFrame, k: int = 3) -> DataFrame:
    """Rank a batch of CLOSED-window final counts: top-k users per
    (window_start, event_type), deterministic tie-break on user_id.
    Applied inside foreachBatch (or to any batch frame of final counts —
    the golden test runs it over the batch-computed counts)."""
    from pyspark.sql import Window as W

    w = (W.partitionBy("window_start", "event_type")
         .orderBy(F.col("n_events").desc(), F.col("user_id")))
    return (batch.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _start_batch_sink(stream: DataFrame, checkpoint: str, sink):
    """Start ``stream`` as an append-mode availableNow query handing
    every micro-batch to ``sink(batch, batch_id)`` — the one trigger and
    checkpoint shape of every ``run_*`` runner below."""
    return (stream.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(sink)
            .trigger(availableNow=True).start())


def _overwrite_batch(df: DataFrame, batch_id: int, path: str,
                     *part_cols: str) -> None:
    """Write one micro-batch's rows under ``path/batch_id=N[/...]`` with
    dynamic partition overwrite: a checkpoint-driven replay of batch N
    rewrites only its own partitions with the same deterministic rows
    instead of appending duplicates."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id", *part_cols).parquet(path))


def run_windowed_topk(records: DataFrame, out_path: str,
                      checkpoint: str, k: int = 3, window: str = "1 hour",
                      watermark: str = "2 hours"):
    """Wire the two halves: append-final counts -> per-batch ranking ->
    parquet sink. Returns the started StreamingQuery."""
    counts = streaming_windowed_counts(records, window, watermark)

    def sink(batch: DataFrame, _batch_id: int) -> None:
        (topk_of_closed_windows(batch, k)
         .write.mode("append").parquet(out_path))

    return _start_batch_sink(counts, checkpoint, sink)


def run_incremental_dedup(stream_docs: DataFrame, state_prefix: str,
                          out_path: str, checkpoint: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          ngram: int = 3, jaccard_threshold: float = 0.3,
                          refresh_state: bool = False):
    """Streaming form of the per-ingest dedup contract: every micro-batch
    is one increment, classified against the COMPACTED base state
    (``dedup.compact_base_tables``) with
    ``incremental_dedup_status_from_tables`` and appended to ``out_path``
    as (id, status, batch_id) — the streaming analog of the per-``put()``
    filtering a sink would run (the reference's per-batch write loop,
    OSSSinkTask.java:160-175, with content-level instead of offset-level
    state).

    Contract (same one-directional shape as the batch operator, per
    micro-batch): ``dup_exact``/``dup_near`` are judged against the
    compacted base plus earlier arrivals WITHIN the batch (exact layer
    only); with ``refresh_state=False`` near-dups BETWEEN batches
    surface at the next offline compaction, which rebuilds the state
    tables from base + kept arrivals. That keeps per-batch state
    READ-ONLY — restarts and retries are idempotent: foreachBatch may
    replay a batch after a failure, so the sink writes
    ``partitionBy(batch_id)`` with dynamic partition overwrite — a
    replay rewrites ONLY its own batch_id partition with the same
    deterministic rows instead of appending duplicates (a plain append
    here double-counted replays; r07 ADVICE). No unbounded dedup state
    accumulates in the stream itself.

    ``refresh_state=True`` (r09) closes the between-batches gap IN the
    stream: after a batch's statuses commit, its kept docs fold into
    the bucketed state tables (``dedup.fold_accepted_into_state`` —
    increment-sized appends, content-idempotent), so batch N+1 is
    judged against base plus every prior batch's accepted docs — the
    same answer an offline recompaction after every batch would give,
    without stopping the stream. Replays stay idempotent end-to-end:
    the fold appends nothing the second time (digest anti-join), and
    the classifier excludes state rows contributed by the replaying
    batch itself (``_classify_increment``'s inc-id anti-joins), so the
    rewritten statuses are bit-identical to the first run's. Dedup
    state now grows with the accepted corpus — that is the contract
    (it is the corpus's dedup index, living in tables, not in
    stream-internal state).

    At deploy scale the classification cost per batch is
    increment-driven: the base side is three bucketed scans (see
    ``compact_base_tables``), so a small batch classifies in one small
    job regardless of corpus size; the fold adds three increment-sized
    appends.
    """
    from kafka_connect_oss_spark.operators.dedup import (
        fold_accepted_into_state, incremental_dedup_status_from_tables,
        shingle_hash_pairs)
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    def sink(batch: DataFrame, batch_id: int) -> None:
        # ONE staged shingle pass over the batch feeds the classify
        # (posting probe + verification sets) AND the refresh fold's
        # appended signatures — previously each re-ran the md5-shingle
        # chain over the batch text (r16 recompute cut)
        posts = stage_local(
            shingle_hash_pairs(batch, text_col, ngram, id_col))
        status = incremental_dedup_status_from_tables(
            batch.sparkSession, state_prefix, batch, text_col, id_col,
            ngram, jaccard_threshold, inc_posts=posts)
        if refresh_state:
            # statuses feed two consumers (the sink write + the fold's
            # kept filter): one materialization, GC-released
            status = stage_local(status)
        _overwrite_batch(status, batch_id, out_path)
        if refresh_state:
            kept = batch.join(
                status.where(F.col("status") == "kept").select(id_col),
                id_col, "semi")
            fold_accepted_into_state(batch.sparkSession, state_prefix,
                                     kept, text_col, id_col, ngram,
                                     kept_posts=posts)

    return _start_batch_sink(stream_docs, checkpoint, sink)


def run_ingest_qc(stream_docs: DataFrame, out_path: str, checkpoint: str,
                  text_col: str = "text", id_col: str = "doc_id"):
    """Per-micro-batch corpus QC telemetry: every batch appends ONE row
    (batch_id, n_docs, mean_quality, gopher_pass_rate, exact_dup_rate)
    to ``out_path`` — the ingest-time quality-drift monitor a
    training-data pipeline runs NEXT TO the sink (the reference commits
    bytes per batch, OSSSinkTask.java:160-175; this commits the batch's
    quality fingerprint). A drifting source — scores sliding, gate pass
    rate collapsing, clone floods — shows up batch-over-batch in this
    time series long before it shows up in a trained model.

    Stateless by design: each row describes ONLY its own batch (mean
    quality_score, Gopher composite pass rate, within-batch exact-dup
    rate), so the stream holds zero cross-batch state and replays are
    idempotent the same way the dedup sink's are — dynamic partition
    overwrite keyed by batch_id rewrites the replayed batch's row with
    identical deterministic values instead of appending a duplicate.
    Cross-batch dedup telemetry belongs to ``run_incremental_dedup``'s
    status stream, which judges against the compacted corpus state.

    Scale: one narrow projection (quality + gates are scan-side
    expressions), one md5 window within the batch, one single-row
    aggregate — per-batch cost is linear in the batch, independent of
    corpus size.
    """
    from pyspark.sql import Window

    from kafka_connect_oss_spark.operators.text import (gopher_quality_flags,
                                                        quality_score)
    from kafka_connect_oss_spark.functions.rounding import fround

    def sink(batch: DataFrame, batch_id: int) -> None:
        q = quality_score(batch, text_col, id_col).select(id_col, "quality")
        g = (gopher_quality_flags(batch, text_col, id_col)
             .select(id_col, "pass_gopher"))
        w = Window.partitionBy(F.md5(text_col))
        d = batch.select(
            id_col,
            (F.col(id_col) != F.min(id_col).over(w)).alias("_dup"))
        row = (q.join(g, id_col).join(d, id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    fround(F.avg("quality"), 4).alias("mean_quality"),
                    fround(F.avg(F.when(F.col("pass_gopher"), 1.0)
                                 .otherwise(0.0)), 4)
                    .alias("gopher_pass_rate"),
                    fround(F.avg(F.when(F.col("_dup"), 1.0)
                                 .otherwise(0.0)), 4)
                    .alias("exact_dup_rate")))
        _overwrite_batch(row, batch_id, out_path)

    return _start_batch_sink(stream_docs, checkpoint, sink)


def run_drift_monitor(stream_docs: DataFrame, baseline_path: str,
                      out_path: str, checkpoint: str,
                      text_col: str = "text",
                      source_col: str = "source"):
    """Streaming form of the corpus drift report: every micro-batch is
    scored as a snapshot against the BASELINE corpus
    (operators/drift.drift_report — per-source smoothed unigram KL,
    new-vocab rate, volume/length deltas) and appended to ``out_path``
    as the report columns + batch_id. ``run_ingest_qc`` watches each
    batch's own quality fingerprint; this watches each batch's
    DISTRIBUTION against a pinned reference — a source that pivots its
    vocabulary mid-crawl trips this stream while its per-batch quality
    numbers stay flat.

    The baseline is a parquet path re-read per batch (the blocklist-gate
    convention: an operator can re-publish the baseline without
    restarting the stream). Stateless across batches — each report row
    set describes (baseline, this batch) only — so replays are
    idempotent via the family's dynamic-partition-overwrite-by-batch_id
    discipline; no stream-internal state grows.

    Per-batch cost: the baseline side's word counts are recomputed per
    batch (one map-side-combined aggregate over the baseline scan);
    pipelines where that dominates pre-aggregate the baseline once into
    the (source, word, count) shape and point this monitor's
    drift-report variant at it — the operator's join consumes exactly
    that frame.
    """
    from kafka_connect_oss_spark.operators.drift import drift_report

    def sink(batch: DataFrame, batch_id: int) -> None:
        base = batch.sparkSession.read.parquet(baseline_path)
        _overwrite_batch(drift_report(base, batch, text_col, source_col),
                         batch_id, out_path)

    return _start_batch_sink(stream_docs, checkpoint, sink)


def run_cms_monitor(stream_docs: DataFrame, out_path: str, checkpoint: str,
                    text_col: str = "text", w: int | None = None):
    """Streaming form of the Count-Min token-frequency sketch: each
    micro-batch writes its OWN d x w counter table
    (operators/sketches.cms_table) under ``out_path/batch_id=N``; the
    corpus's running frequencies are ``sketches.cms_merge`` over the
    whole partition set at read time — exact cell-wise equality with the
    batch sketch of everything ingested so far (CMS mergeability,
    pinned golden-vs-batch in tests/test_streaming_analytics.py).

    This is the family's dynamic-partition-overwrite-by-batch_id
    discipline doing double duty: there is NO read-modify-write running
    state to corrupt — a replayed batch rewrites only its own partition
    with the same deterministic d x w rows, and the merge over
    partitions is automatically right again. State on disk grows at
    d*w rows per batch (kilobytes); a maintenance job may fold old
    partitions through cms_merge into one whenever the partition count
    itself becomes the cost.

    The idempotence guarantee is scoped to CHECKPOINT-DRIVEN replays
    (same checkpoint => same batch_id => same files). Restarting from a
    FRESH checkpoint over a source that has grown re-buckets files into
    different batch_ids, so partitions written by the earlier run are
    no longer overwritten and cms_merge would double-count them: when
    starting a new checkpoint, point the sink at a fresh (or truncated)
    ``out_path`` too — the (checkpoint, out_path) pair is the unit of
    state, not out_path alone.
    """
    from kafka_connect_oss_spark.operators import sketches as SK

    width = SK.CMS_W if w is None else w

    def sink(batch: DataFrame, batch_id: int) -> None:
        _overwrite_batch(SK.cms_table(batch, text_col, width), batch_id,
                         out_path)

    return _start_batch_sink(stream_docs, checkpoint, sink)


def run_incremental_ivf(stream_emb: DataFrame, centroids: DataFrame,
                        out_path: str, checkpoint: str,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id"):
    """Streaming IVF index maintenance: keep the ANN index CURRENT as
    embeddings arrive, instead of re-building it per publish — the
    index-side twin of ``run_incremental_dedup`` (state there: the
    compacted corpus; state here: the coarse-quantizer postings) and
    the streaming analog of the batch ``ivf_assign`` build.

    Each micro-batch runs the SAME assignment the batch operator runs
    (literal-centroid argmax below ``IVF_LITERAL_MAX_K``, broadcast-join
    argmax above — zero shuffle of the batch either way) and appends
    (vec_id, cid) postings to ``out_path`` partitioned by
    (batch_id, cid). The centroid model is FROZEN while the stream runs
    — exactly how production IVF serves (FAISS trains the coarse
    quantizer once, then add() only appends postings); re-fitting is a
    batch-side event that republishes the index, not a streaming
    concern.

    Layout/replay contract, same discipline as the dedup sink:

    * ``cid`` is a physical partition column, so batch probes over the
      accumulated index prune to the probed lists' files (the layout
      claim in ``ivf_assign``'s docstring), reading nprobe/K of the
      postings regardless of how many batches built them.
    * ``batch_id`` is the OUTER partition + dynamic-partition-overwrite
      key: a checkpoint-driven replay rewrites each batch's partitions
      with identical deterministic rows instead of double-inserting —
      the offset-commit idempotence cycle of the reference
      (OSSSinkTask.java:196-208) expressed as storage layout. As with
      every sink in this family, the guarantee is scoped to the SAME
      checkpoint: a fresh checkpoint over a grown source re-buckets
      files into different batch_ids, so pair a new checkpoint with a
      fresh (or truncated) ``out_path``.

    Per-batch cost is linear in the batch and independent of the
    accumulated index size (the stream never reads ``out_path``).
    """
    from kafka_connect_oss_spark.operators.similarity import ivf_assign

    def sink(batch: DataFrame, batch_id: int) -> None:
        assigned = ivf_assign(batch, centroids, vec_col, id_col)
        _overwrite_batch(assigned.select(id_col, "cid"), batch_id, out_path,
                         "cid")

    return _start_batch_sink(stream_emb, checkpoint, sink)


def run_ingest_with_blocklist(stream_docs: DataFrame, blocklist_path: str,
                              out_path: str, checkpoint: str,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              digest_col: str = "digest",
                              audit_path: str | None = None):
    """Streaming opt-out/takedown gate: every micro-batch is filtered
    through ``dedup.blocklist_filter`` against the CURRENT contents of
    ``blocklist_path`` — the list is re-read per batch, so a takedown
    request takes effect on the very next micro-batch without stopping
    or restarting the stream (the operational requirement: compliance
    cannot wait for a redeploy). Already-committed batches are the job
    of ``dedup.retroactive_takedown`` over the same ``out_path``; the
    pair gives convergence in both directions — future data gated here,
    past data purged there.

    Layout/replay contract matches the other ingest sinks
    (``run_incremental_dedup`` / ``run_incremental_ivf``): accepted docs
    land partitioned by ``batch_id`` with dynamic partition overwrite,
    so a checkpoint-wipe replay rewrites its own partition
    deterministically instead of appending duplicates. One honest
    caveat, stated rather than hidden: the blocklist is EXTERNAL state,
    so a replay that races a list update applies the NEWER list to the
    replayed batch — the compliant direction (strictly more removals);
    byte-identical replay holds whenever the list is frozen.

    A missing or still-empty ``blocklist_path`` means "no requests yet"
    and gates nothing (the list is created by the first takedown, not
    by the pipeline).

    With ``audit_path`` set, each batch also commits ONE receipt row
    (batch_id, n_in, n_kept, n_removed) under the same
    batch_id-keyed overwrite discipline — the per-batch removal ledger
    a compliance audit asks for, the dataset-side analog of the
    reference's per-file commit records (OSSSinkTask.java:196-208).

    Scale: the gate is ``blocklist_filter``'s shape — one md5 projection
    of the batch + a broadcast anti-join (takedown lists are requests,
    not corpora); per-batch cost is linear in the batch and independent
    of both corpus size and ingest history.
    """
    from pyspark.errors import AnalysisException

    from kafka_connect_oss_spark.operators.dedup import blocklist_filter
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        try:
            bl = spark.read.parquet(blocklist_path).select(digest_col)
        except AnalysisException:  # no list published yet
            bl = None
        if bl is None:
            kept = batch.withColumn("_digest", F.md5(F.col(text_col)))
        else:
            kept = blocklist_filter(batch, bl, text_col, id_col, digest_col)
        if audit_path is not None:
            # counts + write share one materialization of the batch
            kept = stage_local(kept)
        _overwrite_batch(kept, batch_id, out_path)
        if audit_path is not None:
            n_in, n_kept = batch.count(), kept.count()
            row = spark.createDataFrame(
                [(n_in, n_kept, n_in - n_kept)],
                "n_in long, n_kept long, n_removed long")
            _overwrite_batch(row, batch_id, audit_path)

    return _start_batch_sink(stream_docs, checkpoint, sink)
