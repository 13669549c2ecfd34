"""Streaming registry rows: each drives a Structured Streaming operator
end-to-end over a bounded replay of a batch table and returns its output,
which the DuckDB oracle checks against the batch semantics of the same
operator (the ``*_batch_equivalence`` rows), plus the incremental-dedup
state path driven across two stream epochs.

The replay plumbing (chunk drops, mtime-pinned file order, ephemeral
sinks) lives in streaming/replay.py; it is harness-only — a deployed
stream arrives from Kafka already in arrival order.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_oss_spark.functions import hashing as H
from kafka_connect_oss_spark.functions import text as X
from kafka_connect_oss_spark.functions.rounding import round_sql
from kafka_connect_oss_spark.operators import dedup
from kafka_connect_oss_spark.operators import drift as DRIFT
from kafka_connect_oss_spark.operators import sketches as SK
from kafka_connect_oss_spark.operators import text as TXT
from kafka_connect_oss_spark.registry import register
from kafka_connect_oss_spark.sources.batch import load_table, local_frame
from kafka_connect_oss_spark.streaming.replay import (
    ephemeral_out_dir as _ephemeral_out_dir,
    replay_chunks as _replay_chunks,
    require_nodata_microbatches as _require_nodata_microbatches,
)


#: the streaming row splits the corpus into this many single-file
#: micro-batches (maxFilesPerTrigger=1) so cms_merge folds a REAL
#: multi-partition set — one batch would make mergeability vacuous
_CMS_STREAM_CHUNKS = 2


@register("stream_cms_batch_equivalence",
          SK.cms_table_oracle_sql("documents"))
def stream_cms_batch_equivalence(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Streaming CMS monitor end-to-end: documents replayed as a
    _CMS_STREAM_CHUNKS-batch availableNow file stream through
    streaming/analytics.run_cms_monitor (each micro-batch writes its
    own d x w counter partition under batch_id=N), then cms_merge over
    the accumulated partition set. Mergeability means the result must
    equal the batch sketch of the whole corpus cell-for-cell — which is
    exactly what the oracle computes, so the driver compare attests the
    stream pipeline, the per-batch sketch build, AND the merge in one
    row. Chunking is by doc_id parity (deterministic), and the merged
    cells are chunking-invariant anyway (cell-wise sums commute).

    Scale note: the streamed state is d*w rows per batch (kilobytes);
    the equivalence property is what lets a 100 TB ingest keep running
    token frequencies without ever rebuilding from the corpus.

    Harness note: replay.replay_chunks drops the chunk files in ONE write
    job and mtime-PINS their replay order. The merged cells are
    chunking-order-invariant anyway (cell-wise sums commute), so the pin
    hardens only the batch_id -> chunk mapping, not the result."""
    from kafka_connect_oss_spark.streaming import analytics as A

    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_cms_eq_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        # label = c{doc_id % N} (a row whose label is not a listed
        # name — impossible for non-negative ids — would be dropped)
        sdf = _replay_chunks(
            docs, F.concat(F.lit("c"), (F.col("doc_id") % _CMS_STREAM_CHUNKS)
                           .cast("string")),
            [f"c{i}" for i in range(_CMS_STREAM_CHUNKS)], workdir)
        q = A.run_cms_monitor(sdf, f"{workdir}/out", f"{workdir}/ck")
        q.awaitTermination()
        merged = SK.cms_merge(spark.read.parquet(f"{workdir}/out"))
        # the stream sink is torn down with workdir after collection;
        # materialize before cleanup
        rows = merged.orderBy("j", "bucket").collect()
        return local_frame(spark, rows, merged.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_ASOF_ORACLE = """WITH p AS (
    SELECT user_id AS key, ts AS l_ts, event_id AS l_id
    FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, MAX(event_id) AS event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
m AS (SELECT p.key, p.l_ts, p.l_id, c.ts AS r_ts, c.event_id AS r_id,
             ROW_NUMBER() OVER (PARTITION BY p.key, p.l_id
                                ORDER BY c.ts DESC) AS rn
      FROM p LEFT JOIN c ON c.user_id = p.key AND c.ts <= p.l_ts)
SELECT key, l_ts, l_id, r_ts, r_id FROM m WHERE rn = 1
ORDER BY key, l_id"""


@register("stream_asof_batch_equivalence", _ASOF_ORACLE)
def stream_asof_batch_equivalence(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Streaming as-of join (applyInPandasWithState, event-time
    timeouts) proven cell-for-cell equal to the batch as-of semantics:
    purchases as-of-joined to the latest click at-or-before them per
    user, replayed as two time-ordered micro-batches split at the
    median event time. A right-side sentinel row 1 hour past max(ts)
    rides in the FINAL chunk file: once it is processed with-or-after
    every real row, the final watermark passes every real row and
    Spark's no-data micro-batches fire the event-time timeouts — so
    ALL left rows emit and the result is deterministic regardless of
    how rows fell into chunks (append-mode buffering, the reason the
    pytest can only assert subset+coverage, is exactly what the
    sentinel discharges). Right side pre-deduped on (user, ts) by max
    event_id so the batch and streaming tie-breaks coincide
    (streaming_asof_join docstring contract).

    Scale note: state per key is O(in-flight horizon) — the operator
    prunes to the newest right row at-or-below the watermark plus
    unexpired rows — so a 100 TB stream's state is bounded by skew in
    the watermark lag, never by history length. The chunk drop below
    is HARNESS-ONLY: it exists to replay the batch table as
    time-ordered micro-batch files; a deployed stream arrives from
    Kafka already in arrival order and never replays itself."""
    import datetime

    from kafka_connect_oss_spark.streaming import analytics as A

    _require_nodata_microbatches(spark, "stream_asof_batch_equivalence")
    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_asof_")
    try:
        ev = load_table(spark, sf_dir, "events")
        p = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id"))
        c = (ev.where(F.col("event_type") == "click")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("event_id")))
        base = (p.withColumn("side", F.lit(1))
                .unionByName(c.withColumn("side", F.lit(0))))
        # one pass for the sentinel timestamp and the batch-boundary
        # cut; any mid-range cut works (the emitted set is chunking-
        # independent by the sentinel argument above) — the median
        # keeps both real micro-batches populated at every real SF.
        # Aggregated over ev, not base: a corpus with no purchase or
        # click rows still has a max ts to hang the sentinel on
        stats = ev.agg(
            F.max("ts").alias("maxts"),
            F.expr("percentile_approx(ts, 0.5)").alias("cut")).collect()[0]
        sent = local_frame(
            spark,
            [(-1, stats["maxts"] + datetime.timedelta(hours=1), -1, 0)],
            "user_id long, ts timestamp, event_id long, side int")
        # the sentinel's ts is past the cut, so it rides in c2; an
        # all-one-timestamp corpus leaves c1 empty (ts < median never
        # holds) and replays as one batch. The pinned mtime order keeps
        # c1 first: replayed second, every c1 row would be late against
        # c2's watermark
        sdf = _replay_chunks(
            base.unionByName(sent),
            F.when(F.col("ts") < F.lit(stats["cut"]), "c1").otherwise("c2"),
            ["c1", "c2"], workdir)
        j = A.streaming_asof_join(sdf.where(F.col("side") == 1),
                                  sdf.where(F.col("side") == 0),
                                  key_col="user_id",
                                  watermark="1 second")
        out = _ephemeral_out_dir("kafka_connect_oss_spark_asof_out_")
        q = (j.writeStream.outputMode("append")
             .option("checkpointLocation", f"{workdir}/ck")
             .trigger(availableNow=True).start(out))
        q.awaitTermination()
        # the sink outlives workdir (atexit-cleaned), so the return is
        # a LAZY parquet read — no result-sized driver collect
        return spark.read.parquet(out).orderBy("key", "l_id")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


#: operator-default threshold (dedup.incremental_dedup_status)
_J_THRESHOLD = 0.3

# shared-math DuckDB expressions — the SAME helper chain the
# dedup_ngram_jaccard_pairs oracle uses (tokens -> distinct 3-gram
# shingles -> md5 hex-fold hashes), so both engines hash identically
_OTOK = X.sql_tokens("text", "duckdb")
_OSH3 = f"list_distinct({H.word_shingles(_OTOK, 3, 'duckdb')})"
_OHH = H.shingle_hashes(_OSH3, "duckdb")


def _jaccard_sql(a: str, b: str) -> str:
    """Rounded exact jaccard of two shingle-hash lists — mirrors
    _classify_increment's fround(inter / (|a| + |b| - inter), 4)."""
    inter = f"len(list_intersect({a}, {b}))"
    return round_sql(
        f"{inter} / CAST(len({a}) + len({b}) - {inter} AS DOUBLE)", 4)


def _classify_sql(inc: str, state_dig: str, state_rep: str) -> str:
    """CTE block classifying increment `inc` against state digests
    `state_dig` (dg, rep) and state rep docs `state_rep` (doc_id, hh) —
    the SQL mirror of dedup._classify_increment, emitted once per batch
    so the streaming oracle can chain it over a GROWN state. The
    shared-shingle candidate precondition (len(list_intersect) >= 1)
    mirrors the operator's inverted-index candidate generation AND
    keeps the jaccard denominator non-zero; the hot-shingle df cap
    (8192) cannot bind at any oracle SF (<= a few hundred base docs),
    so it is correctly absent here."""
    return f"""{inc}_first AS (
        SELECT dg, MIN(doc_id) AS first_id FROM {inc} GROUP BY dg),
    {inc}_near AS (
        SELECT DISTINCT i.doc_id
        FROM {inc} i JOIN {state_rep} r
          ON len(list_intersect(i.hh, r.hh)) >= 1
        WHERE {_jaccard_sql('i.hh', 'r.hh')} >= {_J_THRESHOLD}),
    {inc}_status AS (
        SELECT i.doc_id,
               CASE WHEN s.dg IS NOT NULL OR i.doc_id <> f.first_id
                         THEN 'dup_exact'
                    WHEN n.doc_id IS NOT NULL THEN 'dup_near'
                    ELSE 'kept' END AS status
        FROM {inc} i
        JOIN {inc}_first f ON i.dg = f.dg
        LEFT JOIN {state_dig} s ON i.dg = s.dg
        LEFT JOIN {inc}_near n ON i.doc_id = n.doc_id)"""


#: the streaming row's corpus split: base compacted up front, the other
#: two thirds arrive as one micro-batch each (separate stream epochs)
_STREAM_SPLIT_MOD = 3


def _stream_refresh_oracle_sql() -> str:
    """Batch-0 classification against the base state, then batch-1
    against base PLUS batch-0's kept docs — the fold inlined as CTE
    unions (kept digests are new by definition and unique within the
    batch, so state-after-fold == base UNION kept exactly; empty-
    shingle kept docs contribute a digest but an hh=[] rep row, which
    the >=1-shared-shingle candidate join ignores, matching the fold's
    no-sig-row-for-empty-docs behavior)."""
    return f"""WITH d AS (
    SELECT doc_id, md5(text) AS dg, {_OHH} AS hh FROM documents),
base AS (SELECT * FROM d WHERE doc_id % {_STREAM_SPLIT_MOD} = 0),
b0 AS (SELECT * FROM d WHERE doc_id % {_STREAM_SPLIT_MOD} = 1),
b1 AS (SELECT * FROM d WHERE doc_id % {_STREAM_SPLIT_MOD} = 2),
s0_dig AS (SELECT dg, MIN(doc_id) AS rep FROM base GROUP BY dg),
s0_rep AS (SELECT b.doc_id, b.hh FROM base b JOIN s0_dig r
           ON b.doc_id = r.rep),
{_classify_sql('b0', 's0_dig', 's0_rep')},
b0_kept AS (SELECT k.* FROM b0 k JOIN b0_status st
            ON k.doc_id = st.doc_id AND st.status = 'kept'),
s1_dig AS (SELECT dg, rep FROM s0_dig
           UNION ALL SELECT dg, doc_id AS rep FROM b0_kept),
s1_rep AS (SELECT doc_id, hh FROM s0_rep
           UNION ALL SELECT doc_id, hh FROM b0_kept),
{_classify_sql('b1', 's1_dig', 's1_rep')}
SELECT doc_id, status, CAST(0 AS BIGINT) AS batch_id FROM b0_status
UNION ALL
SELECT doc_id, status, CAST(1 AS BIGINT) AS batch_id FROM b1_status
ORDER BY batch_id, doc_id"""


@register("stream_incremental_dedup_refresh", _stream_refresh_oracle_sql())
def stream_incremental_dedup_refresh(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The incremental-dedup STATE path end-to-end
    (streaming/analytics.run_incremental_dedup, refresh_state=True):
    base = doc_id % 3 == 0 compacted into the three bucketed state
    tables (dedup.compact_base_tables), then the remaining docs arrive
    as two single-file micro-batches — batch 1's file lands on disk
    only AFTER epoch 1 commits, so the batch->chunk mapping is
    deterministic and the second epoch resumes from the checkpoint
    (restart attested, not just flow). Each batch classifies against
    base plus every prior batch's ACCEPTED docs (kept docs fold into
    the bucketed state between batches — increment-sized, content-
    idempotent appends). Returns (doc_id, status, batch_id) read back
    from the dynamic-partition-overwrite sink.

    Scale note: this is the shape a 100 TB append-mostly ingest
    actually runs — per-batch cost is increment-driven (the base side
    is three co-located bucketed scans), state grows only by accepted
    content, and replays are idempotent end-to-end."""
    from kafka_connect_oss_spark.operators import bucketing as B
    from kafka_connect_oss_spark.streaming import analytics as A

    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_iid_")
    # db name derived from the tempdir's unique suffix: concurrent runs
    # (parallel pytest workers sharing a warehouse, a second session)
    # are isolated, and the destructive DROP in `finally` only ever
    # targets THIS invocation's state
    db = "iidstate_" + os.path.basename(workdir).rsplit("iid_", 1)[-1]
    # self-heal catalog garbage from crashed prior runs (unique names
    # mean a run killed before `finally` leaves its database registered
    # forever). Only databases whose LOCATION is gone are dropped — a
    # live concurrent run's tempdir exists, so this can never clobber
    # it. Residual case: a run killed before `finally` ALSO leaves its
    # temp workdir on disk, so its database lingers until the OS reaps
    # the temp dir — harness-only state, bounded by tempdir retention,
    # not worth an age-based drop heuristic that could race a
    # long-running concurrent session.
    for d in spark.catalog.listDatabases(pattern="iidstate_*"):
        loc = d.locationUri.removeprefix("file:")
        if not os.path.exists(loc):
            spark.sql(f"DROP DATABASE IF EXISTS {d.name} CASCADE")
    try:
        docs = load_table(spark, sf_dir, "documents")
        B.ensure_database(spark, db, f"{workdir}/state")
        dedup.compact_base_tables(
            docs.where(F.col("doc_id") % _STREAM_SPLIT_MOD == 0),
            f"{db}.s", n_buckets=4)

        out = _ephemeral_out_dir("kafka_connect_oss_spark_iid_out_")

        def run_epoch(i: int) -> None:
            # chunk c{i} lands next to the earlier chunks; the stream
            # restarts from the checkpoint and reads only the new file
            sdf = _replay_chunks(
                docs.where(F.col("doc_id") % _STREAM_SPLIT_MOD == i),
                F.lit(f"c{i}"), [f"c{i}"], workdir)
            q = A.run_incremental_dedup(sdf, f"{db}.s", out,
                                        f"{workdir}/ck", refresh_state=True)
            q.awaitTermination()

        run_epoch(1)       # epoch 1: batch 0 = the %3==1 chunk
        run_epoch(2)       # epoch 2 (checkpoint resume): batch 1

        # the sink outlives workdir (atexit-cleaned), so the return is
        # a LAZY parquet read — no result-sized driver collect
        return (spark.read.parquet(out)
                .withColumn("batch_id", F.col("batch_id").cast("long"))
                .orderBy("batch_id", "doc_id"))
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(workdir, ignore_errors=True)


#: the same 30-min gap as registry_relational.SESSION_GAP_MS
_SESS_GAP_MS = 30 * 60 * 1000

_TOPK_K = 3
#: the sentinel arithmetic (session_flush_ts) needs these horizons in
#: ms, and the stream API needs them as interval strings — the ms value
#: is primary and the string DERIVED so the two can never drift (the
#: topk sentinel must not rely on session_flush_ts's default
#: watermark_delay_ms equaling a "2 hours" literal)
_TOPK_WINDOW_MS = 60 * 60 * 1000
_TOPK_WINDOW = f"{_TOPK_WINDOW_MS // 60000} minutes"
_TOPK_WATERMARK_MS = 2 * 3600 * 1000
_TOPK_WATERMARK = f"{_TOPK_WATERMARK_MS // 60000} minutes"
_SESS_WATERMARK_MS = 2 * 3600 * 1000
_SESS_WATERMARK = f"{_SESS_WATERMARK_MS // 60000} minutes"


def _session_cut_ts(ev: DataFrame):
    """A timestamp strictly INSIDE some session — the 2nd distinct ts
    of the earliest multi-ts session — so splitting the replay at it
    (ts < cut | ts >= cut) forces at least one session's state to
    survive a micro-batch boundary. A count-based ntile split lands
    between sessions at every test SF (sessions are 2-3 events wide),
    which would make the multi-batch replay VACUOUS: a build that
    dropped state between batches would still pass parity. Placing the
    cut mid-session is what makes the cross-batch claim load-bearing
    (tests/test_registry_streaming.py pins it). Returns (cut, maxts):
    cut is None when no session has two distinct ts (degenerate
    corpus) — the caller then replays as a single real batch, still
    correct, just single-batch. maxts (the sentinel anchor) rides in
    the SAME collect as a 1-row cross join: the prep phase pays one
    driver job instead of two (~0.2-0.4 s of fixed per-run latency at
    any SF). HARNESS-ONLY, like the as-of row's chunking: a deployed
    stream arrives in arrival order and never plans its own batch
    boundaries."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    lab = (ev
           .withColumn("prev", F.lag("ts").over(w))
           .withColumn("brk", (F.col("prev").isNull() | (
               F.unix_micros("ts") - F.unix_micros("prev")
               > _SESS_GAP_MS * 1000)).cast("int"))
           .withColumn("sid", F.sum("brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    multi = (lab.groupBy("user_id", "sid")
             .agg(F.min("ts").alias("t0"),
                  F.count_distinct("ts").alias("nts"))
             .where(F.col("nts") > 1)
             .orderBy("t0", "user_id").limit(1))
    row = (multi.alias("m")
           .join(lab.alias("l"), (F.col("m.user_id") == F.col("l.user_id"))
                 & (F.col("m.sid") == F.col("l.sid"))
                 & (F.col("l.ts") > F.col("m.t0")))
           .agg(F.min("l.ts").alias("cut"))
           .crossJoin(ev.agg(F.max("ts").alias("maxts"))).collect())
    return (row[0]["cut"], row[0]["maxts"]) if row else (None, None)


def _window_cut_ts(ev: DataFrame):
    """Same idea for the top-k row: a timestamp strictly inside the
    earliest hourly window that has >= 2 distinct ts, so at least one
    window's streaming aggregate accumulates across two micro-batches
    before the watermark closes it. Returns (cut, maxts) from one
    collect, like ``_session_cut_ts``."""
    win = (ev.groupBy(F.window("ts", _TOPK_WINDOW).alias("w"))
           .agg(F.min("ts").alias("t0"),
                F.count_distinct("ts").alias("nts"))
           .where(F.col("nts") > 1)
           .orderBy("t0").limit(1))
    row = (win.alias("m")
           .join(ev.alias("l"),
                 (F.col("l.ts") >= F.col("m.w.start"))
                 & (F.col("l.ts") < F.col("m.w.end"))
                 & (F.col("l.ts") > F.col("m.t0")))
           .agg(F.min("l.ts").alias("cut"))
           .crossJoin(ev.agg(F.max("ts").alias("maxts"))).collect())
    return (row[0]["cut"], row[0]["maxts"]) if row else (None, None)


def _cut_chunk(cut):
    """Chunk label of a replay split at ``cut`` into two globally
    time-ordered micro-batch files (everything before the cut, then the
    rest; with no cut, one real batch), and the label names in replay
    order. The caller's sentinel, later than every real row, lands in
    the final file: it only has to be processed with-or-after every real
    row for the flush argument to hold, and riding inside that file
    saves one whole micro-batch of fixed overhead."""
    if cut is None:
        return F.lit("c1"), ["c1"]
    return (F.when(F.col("ts") < F.lit(cut), "c1").otherwise("c2"),
            ["c1", "c2"])


# the gaps-and-islands SQL — the same shape the sessions_per_user
# oracle uses, minus the session_id (the streaming operator does not
# number sessions; per-user sessions are disjoint in time, so the
# (user, start) pair is already a unique key). Both windows order by
# (ts, event_id): with ts alone, two events at one timestamp can come in
# one order to LAG and the other to the running SUM, and the break flag
# then lands on the wrong row.
_SESSIONIZE_ORACLE = f"""WITH seq AS (
    SELECT user_id, ts, event_id,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events),
brk AS (
    SELECT user_id, ts, event_id,
           CASE WHEN prev IS NULL
                OR epoch_us(ts) - epoch_us(prev) > {_SESS_GAP_MS * 1000}
                THEN 1 ELSE 0 END AS is_break
    FROM seq),
sid AS (
    SELECT user_id, ts,
           SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM brk)
SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us, COUNT(*) AS n_events
FROM sid GROUP BY user_id, session_id
ORDER BY user_id, session_start_us"""


@register("stream_sessionize_batch_equivalence", _SESSIONIZE_ORACLE)
def stream_sessionize_batch_equivalence(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Streaming sessionization (native session_window, 30-min gap,
    append mode under the watermark) proven cell-for-cell equal to batch
    gaps-and-islands sessionization, replayed as two time-ordered
    micro-batches CUT MID-SESSION (_session_cut_ts — so the attested
    state provably survives a batch boundary) with a session_flush_ts
    sentinel under the reserved SESSION_FLUSH_USER key riding in the
    final chunk (processed with-or-after every real row, which is all
    the flush argument needs). The sentinel advances the
    final watermark past every open session's last+gap end, so ALL
    real sessions emit (append-mode withholding, the reason the pytest
    only asserts subset+coverage, is exactly what the sentinel
    discharges); the sentinel's own open session is the only one
    withheld and its key is filtered at the end.

    Scale note: state per user is its open session windows (start,
    end, min/max ts, count), evicted once the watermark passes a
    session's end — a 100 TB stream's state is bounded by the number
    of users concurrently inside the watermark horizon, never by
    history length."""
    from kafka_connect_oss_spark.streaming import analytics as A

    _require_nodata_microbatches(spark, "stream_sessionize_batch_equivalence")
    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_sess_")
    try:
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        # one prep collect: the cut search carries maxts with it
        cut, maxts = _session_cut_ts(ev)
        sent = local_frame(
            spark,
            [(A.SESSION_FLUSH_USER,
              A.session_flush_ts(maxts, gap_ms=_SESS_GAP_MS,
                                 watermark_delay_ms=_SESS_WATERMARK_MS))],
            "user_id long, ts timestamp")
        sdf = _replay_chunks(ev.unionByName(sent), *_cut_chunk(cut), workdir)
        out = _ephemeral_out_dir("kafka_connect_oss_spark_sess_out_")
        q = (A.sessionize(sdf, gap_ms=_SESS_GAP_MS,
                          watermark=_SESS_WATERMARK)
             .writeStream.outputMode("append")
             .option("checkpointLocation", f"{workdir}/ck")
             .trigger(availableNow=True).start(out))
        q.awaitTermination()
        # the sink outlives workdir (atexit-cleaned): LAZY parquet read.
        # epoch-us projection matches the sessions_per_user
        # oracle's convention (value-preserving under the UTC pin)
        return (spark.read.parquet(out)
                .where(F.col("user_id") >= 0)
                .select("user_id",
                        F.unix_micros("session_start")
                        .alias("session_start_us"),
                        F.unix_micros("session_end")
                        .alias("session_end_us"),
                        "n_events")
                .orderBy("user_id", "session_start_us"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# F.window("ts", "1 hour") is epoch-aligned, i.e. date_trunc('hour');
# tie-break matches topk_of_closed_windows (n_events DESC, user_id)
_TOPK_ORACLE = f"""WITH c AS (
    SELECT date_trunc('hour', ts) AS w, event_type, user_id,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2, 3),
r AS (
    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY w, event_type
               ORDER BY n_events DESC, user_id) AS rank
    FROM c)
SELECT epoch_us(w) AS window_start_us, event_type, user_id, n_events,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= {_TOPK_K}
ORDER BY window_start_us, event_type, rank"""


@register("stream_windowed_topk_batch_equivalence", _TOPK_ORACLE)
def stream_windowed_topk_batch_equivalence(spark: SparkSession,
                                           sf_dir: str) -> DataFrame:
    """Streaming top-k (append-final hourly counts ->
    topk_of_closed_windows inside foreachBatch) proven cell-for-cell
    equal to the batch hourly top-3 per (window, event_type), replayed
    as two time-ordered micro-batches CUT MID-WINDOW (_window_cut_ts —
    so at least one window's aggregate provably accumulates across a
    batch boundary before closing) with a far-future sentinel event
    riding in the final chunk (processed with-or-after every real row,
    which is all the flush argument needs).
    The sentinel pushes the final watermark past every
    real window's end (session_flush_ts with gap = the window length:
    maxts + 1h + watermark delay + margin, so watermark lands at
    maxts + 1h + margin > every real window end), so every window
    closes and emits; append mode emits a closed window's rows exactly
    ONCE, all in the same micro-batch — the invariant that makes the
    per-batch ranking equal the global ranking, and the thing this row
    attests beyond the counts. The sentinel's own window never closes
    (its key is filtered defensively anyway).

    Scale note: state is one count per (open window, event_type, user)
    triple inside the watermark horizon — eviction at window close
    keeps it bounded regardless of stream length; the per-batch rank
    is a per-window-sized sort, never global."""
    from kafka_connect_oss_spark.streaming import analytics as A

    _require_nodata_microbatches(
        spark, "stream_windowed_topk_batch_equivalence")
    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_wtopk_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_type", "user_id")
        # one prep collect: the cut search carries maxts with it
        cut, maxts = _window_cut_ts(ev)
        # gap = the window length and delay = the stream's watermark, so
        # the sentinel lands at maxts + window + watermark + margin —
        # past every real window's close threshold by construction
        sent = local_frame(
            spark,
            [(A.session_flush_ts(maxts, gap_ms=_TOPK_WINDOW_MS,
                                 watermark_delay_ms=_TOPK_WATERMARK_MS),
              "sentinel", -1)],
            "ts timestamp, event_type string, user_id long")
        sdf = _replay_chunks(ev.unionByName(sent), *_cut_chunk(cut), workdir)
        out = _ephemeral_out_dir("kafka_connect_oss_spark_wtopk_out_")
        q = A.run_windowed_topk(sdf, out, f"{workdir}/ck", k=_TOPK_K,
                                window=_TOPK_WINDOW,
                                watermark=_TOPK_WATERMARK)
        q.awaitTermination()
        # the sink outlives workdir (atexit-cleaned): LAZY parquet read
        return (spark.read.parquet(out)
                .where(F.col("user_id") >= 0)
                .select(F.unix_micros("window_start")
                        .alias("window_start_us"),
                        "event_type", "user_id", "n_events", "rank")
                .orderBy("window_start_us", "event_type", "rank"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


#: the QC replay's two micro-batches, by predicate — deliberately
#: UNEVEN (1/4 vs 3/4 of the corpus) so the per-batch telemetry rows
#: differ and a batch-labeling bug cannot cancel out
_QC_PREDS = ["doc_id % 4 = 0", "doc_id % 4 <> 0"]

#: the drift replay: baseline = even doc_ids (written as a static
#: corpus), arrivals = the two odd residues as one micro-batch each —
#: two DIFFERENT snapshots scored against ONE fixed baseline
_DRIFT_BASE_PRED = "doc_id % 2 = 0"
_DRIFT_ARRIVAL_PREDS = ["doc_id % 4 = 1", "doc_id % 4 = 3"]


def _qc_batch_sql(pred: str) -> str:
    """One batch's QC row in DuckDB — quality/gopher/dup fragments
    IDENTICAL to the fragments behind the corpus_curriculum_order
    / text_gopher_quality_flags / dedup_exact oracles, so both engines
    tokenize, score and gate identically."""
    tok = X.sql_tokens("text", "duckdb")
    gopher = TXT.gopher_quality_flags_oracle_sql(
        f"(SELECT * FROM documents WHERE {pred})")
    return f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       {round_sql('AVG(quality)', 4)} AS mean_quality,
       {round_sql('AVG(CASE WHEN pass_gopher THEN 1.0 ELSE 0.0 END)', 4)}
         AS gopher_pass_rate,
       {round_sql('AVG(CASE WHEN _dup THEN 1.0 ELSE 0.0 END)', 4)}
         AS exact_dup_rate
    FROM (SELECT doc_id, {X.sql_quality_duckdb('t')} AS quality
          FROM (SELECT doc_id, {tok} AS t
                FROM documents WHERE {pred})) q
    JOIN (SELECT doc_id, pass_gopher FROM ({gopher})) g USING (doc_id)
    JOIN (SELECT doc_id,
                 doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
                   AS _dup
          FROM documents WHERE {pred}) d USING (doc_id)"""


_QC_ORACLE = (
    " UNION ALL ".join(
        f"SELECT b.*, CAST({i} AS BIGINT) AS batch_id "
        f"FROM ({_qc_batch_sql(p)}) b"
        for i, p in enumerate(_QC_PREDS))
    + " ORDER BY batch_id")


@register("stream_ingest_qc_batch_equivalence", _QC_ORACLE)
def stream_ingest_qc_batch_equivalence(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """run_ingest_qc driven end-to-end: the documents corpus replayed
    as two uneven micro-batches; every batch appends one telemetry row
    (n_docs, mean_quality, gopher_pass_rate, exact_dup_rate) from
    foreachBatch; proven cell-for-cell equal to the same three
    quality/gopher/dup aggregates computed per batch-predicate in SQL.

    Scale note: the monitor's output is ONE row per micro-batch — the
    aggregation is a map-side-combinable mean/rate fold over the batch
    only, never over history; at 100 TB the QC table grows with batch
    COUNT, not data volume. The exact-dup rate is within-batch by
    design (cross-corpus dedup is the dedup family's job; the monitor
    is a cheap per-commit fingerprint, reference parity:
    OSSSinkTask.java:160-175 commits per poll batch)."""
    from kafka_connect_oss_spark.streaming import analytics as A

    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_qc_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        # no sentinel: the monitor is stateless across batches, so
        # nothing is withheld at end-of-stream
        sdf = _replay_chunks(
            docs, F.when(F.expr(_QC_PREDS[0]), "c0").otherwise("c1"),
            ["c0", "c1"], workdir)
        out = _ephemeral_out_dir("kafka_connect_oss_spark_qc_out_")
        q = A.run_ingest_qc(sdf, out, f"{workdir}/ck")
        q.awaitTermination()
        # the sink outlives workdir (atexit-cleaned): LAZY parquet read
        return (spark.read.parquet(out)
                .withColumn("batch_id", F.col("batch_id").cast("long"))
                .orderBy("batch_id"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _drift_oracle_sql() -> str:
    base = f"(SELECT * FROM documents WHERE {_DRIFT_BASE_PRED})"
    return (" UNION ALL ".join(
        f"SELECT r.*, CAST({i} AS BIGINT) AS batch_id FROM "
        f"({DRIFT.drift_report_oracle_sql(base, f'(SELECT * FROM documents WHERE {p})')}) r"
        for i, p in enumerate(_DRIFT_ARRIVAL_PREDS))
        + " ORDER BY batch_id, source")


@register("stream_drift_monitor_batch_equivalence", _drift_oracle_sql())
def stream_drift_monitor_batch_equivalence(spark: SparkSession,
                                           sf_dir: str) -> DataFrame:
    """run_drift_monitor driven end-to-end: a fixed BASELINE corpus
    (even doc_ids) on disk, the two odd residues arriving as one
    micro-batch each; every batch is scored as a snapshot against the
    baseline (per-source smoothed unigram KL, new-vocab rate,
    volume/length deltas — operators/drift.drift_report) and appended
    with its batch_id; proven cell-for-cell equal to
    drift_report_oracle_sql per batch predicate.

    Scale note: per batch, the baseline side is a fixed pre-aggregated
    word-count profile and the snapshot side is increment-sized; the
    join is per-source-vocab bounded, so monitoring cost tracks the
    INCREMENT, not the corpus — the property that makes a per-commit
    drift gate affordable at 100 TB."""
    from kafka_connect_oss_spark.streaming import analytics as A

    workdir = tempfile.mkdtemp(prefix="kafka_connect_oss_spark_drift_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        docs.where(F.expr(_DRIFT_BASE_PRED)).write.parquet(
            f"{workdir}/baseline")
        sdf = _replay_chunks(
            docs.where(~F.expr(_DRIFT_BASE_PRED)),
            F.when(F.expr(_DRIFT_ARRIVAL_PREDS[0]), "c0").otherwise("c1"),
            ["c0", "c1"], workdir)
        out = _ephemeral_out_dir("kafka_connect_oss_spark_drift_out_")
        q = A.run_drift_monitor(sdf, f"{workdir}/baseline", out,
                                f"{workdir}/ck")
        q.awaitTermination()
        # the sink outlives workdir (atexit-cleaned): LAZY parquet read
        return (spark.read.parquet(out)
                .withColumn("batch_id", F.col("batch_id").cast("long"))
                .orderBy("batch_id", "source"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
