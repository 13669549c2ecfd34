"""Semantic pins of the streaming registry rows (registry_streaming.py).

Oracle parity for every row runs in tests/test_oracle_parity.py; these
tests pin what parity alone cannot show: that each replay is really
multi-batch, that the state it attests is load-bearing, and the edge
semantics on constructed corpora the synthetic data may never produce.
"""

import datetime
import re

import pytest
from pyspark.sql import functions as F

from kafka_connect_oss_spark import registry_streaming as RS
from kafka_connect_oss_spark.registry import ORACLES
from kafka_connect_oss_spark.sources.batch import load_table


def test_cms_stream_row_is_truly_multi_batch(spark, sf_dir):
    """The equivalence row must exercise a REAL merge: the streamed
    corpus arrives in _CMS_STREAM_CHUNKS micro-batches, so a build that
    silently collapsed to one batch (making mergeability vacuous) fails
    here. Proven indirectly: each parity chunk is non-empty at every
    test SF, so maxFilesPerTrigger=1 yields one batch per chunk."""
    docs = load_table(spark, sf_dir, "documents")
    for i in range(RS._CMS_STREAM_CHUNKS):
        n = docs.where(F.col("doc_id") % RS._CMS_STREAM_CHUNKS == i).count()
        assert n > 0, f"chunk {i} empty — stream would not be multi-batch"


def test_dedup_stream_fold_is_load_bearing(spark, sf_dir):
    """The refresh row must attest a REAL state fold: at least one
    batch-1 doc must classify dup_near/dup_exact ONLY because of
    batch-0's folded kept docs. Proven against the oracle's own CTEs:
    re-run batch-1's classification with the fold's unions removed
    (state = base only) and require the statuses to differ somewhere —
    if they never differ, the row would be green even with fold_
    accepted_into_state stubbed out, i.e. vacuous."""
    import duckdb

    sql = ORACLES["stream_incremental_dedup_refresh"]
    nofold = (sql
              .replace("b0_kept", "b0_kept_unused")
              .replace("s1_dig AS (SELECT dg, rep FROM s0_dig\n"
                       "           UNION ALL SELECT dg, doc_id AS rep "
                       "FROM b0_kept_unused)",
                       "s1_dig AS (SELECT dg, rep FROM s0_dig)")
              .replace("s1_rep AS (SELECT doc_id, hh FROM s0_rep\n"
                       "           UNION ALL SELECT doc_id, hh "
                       "FROM b0_kept_unused)",
                       "s1_rep AS (SELECT doc_id, hh FROM s0_rep)"))
    assert nofold != sql, "fold-removal rewrite failed to apply"
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/documents.parquet')")
        real = dict(con.execute(
            f"SELECT doc_id, status FROM ({sql}) WHERE batch_id = 1"
        ).fetchall())
        base_only = dict(con.execute(
            f"SELECT doc_id, status FROM ({nofold}) WHERE batch_id = 1"
        ).fetchall())
        flips = {k for k in real if real[k] != base_only[k]}
        assert flips, ("no batch-1 status depends on the fold — the "
                       "streaming row no longer attests state growth")
    finally:
        con.close()


def _is_lazy_sink_read(df) -> None:
    """The row must return a lazy read of its (atexit-cleaned) sink, not
    a collect()-rebuilt LocalRelation — at bench sf1 that shape would
    materialize ~10^5 rows on the driver inside every timed run."""
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in plan, plan
    assert "parquet" in plan, plan


def test_asof_row_emits_every_left_row(spark, sf_dir):
    """The sentinel-flush contract: the streamed as-of join must emit
    EXACTLY one row per purchase (the batch-equivalence claim is about
    the full set, not a watermark-dependent subset), and the sentinel
    itself must not leak into the output."""
    df = RS.stream_asof_batch_equivalence(spark, sf_dir)
    _is_lazy_sink_read(df)
    got = df.collect()
    n_purchases = (load_table(spark, sf_dir, "events")
                   .where(F.col("event_type") == "purchase").count())
    assert len(got) == n_purchases, (len(got), n_purchases)
    assert all(r.key != -1 and r.l_id != -1 for r in got), "sentinel leaked"


def test_refresh_row_returns_lazy_frame(spark, sf_dir):
    """Same laziness pin for the dedup-refresh row, plus a cheap
    non-degeneracy check (both batches present, more than one status)."""
    df = RS.stream_incremental_dedup_refresh(spark, sf_dir)
    _is_lazy_sink_read(df)
    rows = df.collect()
    assert {r.batch_id for r in rows} == {0, 1}
    assert len({r.status for r in rows}) > 1


def test_asof_edge_semantics_constructed(spark, tmp_path):
    """As-of shape contract on a constructed corpus (the synthetic
    events may never produce these edges at a given SF): (a) equal
    timestamps match (at-or-BEFORE is inclusive), (b) a purchase with
    no preceding click yields NULL r_*, (c) the match is the LATEST
    preceding click, not just any."""
    t = lambda m: datetime.datetime(2024, 1, 1, 10, m)  # noqa: E731
    rows = [
        # user 1: purchase at 10:00 with click at exactly 10:00 -> match
        (101, 1, t(0), "click"),
        (102, 1, t(0), "purchase"),
        # user 1: purchase BEFORE any click -> NULL
        (103, 1, t(0) - datetime.timedelta(hours=1), "purchase"),
        # user 2: clicks 10:00 and 10:05, purchase 10:03 -> 10:00 click
        (201, 2, t(0), "click"),
        (202, 2, t(5), "click"),
        (203, 2, t(3), "purchase"),
    ]
    (spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
     .write.parquet(str(tmp_path / "events.parquet")))

    got = {(r.key, r.l_id): (r.r_ts, r.r_id)
           for r in RS.stream_asof_batch_equivalence(
               spark, str(tmp_path)).collect()}
    assert got[(1, 102)] == (t(0), 101), got
    assert got[(1, 103)] == (None, None), got
    assert got[(2, 203)] == (t(0), 201), got
    assert len(got) == 3


def _events(spark, sf_dir, cols):
    return load_table(spark, sf_dir, "events").select(*cols)


def test_session_state_crosses_chunk_boundary(spark, sf_dir):
    """The sessionize row must attest state that SURVIVES a micro-batch
    boundary: the replay cut (_session_cut_ts) must land strictly
    inside some session, i.e. at least one session has events in both
    chunks — otherwise the multi-batch replay is vacuous (every
    session local to one batch) and a build that dropped state between
    batches would still pass parity. (A count-based ntile split fails
    this at every test SF — the cut is placed mid-session on purpose.)"""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir, ["user_id", "ts"])
    cut, maxts = RS._session_cut_ts(ev)
    assert cut is not None, "no multi-ts session at this SF"
    assert maxts == ev.agg(F.max("ts")).collect()[0][0], (
        "the merged cut+maxts collect must carry the true max ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    lab = (ev
           .withColumn("q", (F.col("ts") >= F.lit(cut)).cast("int"))
           .withColumn("prev", F.lag("ts").over(w))
           .withColumn("brk", (F.col("prev").isNull() | (
               F.unix_micros("ts") - F.unix_micros("prev")
               > RS._SESS_GAP_MS * 1000)).cast("int"))
           .withColumn("sid", F.sum("brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    spanning = (lab.groupBy("user_id", "sid")
                .agg(F.countDistinct("q").alias("nq"))
                .where(F.col("nq") > 1).count())
    assert spanning > 0, (
        "no session spans the chunk boundary — the replay no longer "
        "attests cross-batch session state")


def test_topk_window_crosses_chunk_boundary(spark, sf_dir):
    """Same non-vacuousness pin for the windowed top-k row: the replay
    cut (_window_cut_ts) must land strictly inside some hourly window,
    so that window's streaming aggregate really accumulates across
    micro-batches before the watermark closes it."""
    ev = _events(spark, sf_dir, ["user_id", "ts", "event_type"])
    cut, maxts = RS._window_cut_ts(ev)
    assert cut is not None, "no multi-ts hourly window at this SF"
    assert maxts == ev.agg(F.max("ts")).collect()[0][0], (
        "the merged cut+maxts collect must carry the true max ts")
    spanning = (ev
                .withColumn("q", (F.col("ts") >= F.lit(cut)).cast("int"))
                .groupBy(F.window("ts", RS._TOPK_WINDOW).alias("w"))
                .agg(F.countDistinct("q").alias("nq"))
                .where(F.col("nq") > 1).count())
    assert spanning > 0, (
        "no hourly window spans the chunk boundary — the replay no "
        "longer attests cross-batch window state")


def test_sessionize_edge_semantics_constructed(spark, tmp_path):
    """Session-boundary contract on a constructed corpus: (a) a gap of
    EXACTLY 30 min does not break a session (the operator's break
    condition is strictly >), (b) 30 min + 1 s does, (c) a single-event
    user yields a 1-event session, (d) the sentinel user never leaks
    into the output."""
    t0 = datetime.datetime(2024, 1, 1, 10, 0)
    m = lambda mins, secs=0: t0 + datetime.timedelta(  # noqa: E731
        minutes=mins, seconds=secs)
    rows = [
        # user 1: 10:00, 10:30 (exactly gap -> same session), then
        # 11:00:01 (gap + 1s after 10:30 -> new session)
        (1, 1, m(0), "click"),
        (2, 1, m(30), "click"),
        (3, 1, m(60, 1), "click"),
        # user 2: single event
        (4, 2, m(5), "click"),
    ]
    (spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
     .write.parquet(str(tmp_path / "events.parquet")))

    got = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
           for r in RS.stream_sessionize_batch_equivalence(
               spark, str(tmp_path)).collect()}
    # the session TZ is pinned UTC (conftest), so naive fixture wall
    # times are UTC wall times; a bare dt.timestamp() would use the
    # HOST timezone and break on any non-UTC box
    us = lambda dt: int(dt.replace(  # noqa: E731
        tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    assert got == {
        (1, us(m(0)), us(m(30)), 2),
        (1, us(m(60, 1)), us(m(60, 1)), 1),
        (2, us(m(5)), us(m(5)), 1),
    }, got


def test_qc_batches_are_distinguishable(spark, sf_dir):
    """The QC replay's uneven split must be load-bearing: the two
    telemetry rows must DIFFER beyond batch_id — otherwise a
    batch-labeling bug (c1 replayed before c0, ids swapped) would
    produce the same result set and the check of the batch_id -> chunk
    mapping would be vacuous."""
    rows = RS.stream_ingest_qc_batch_equivalence(spark, sf_dir).collect()
    assert len(rows) == 2
    a, b = (tuple(str(v) for k, v in sorted(r.asDict().items())
                  if k != "batch_id") for r in rows)
    assert a != b, "QC batches identical — labeling check vacuous"
    # and the split really is uneven (the designed reason they differ)
    assert rows[0]["n_docs"] != rows[1]["n_docs"]


def test_drift_batches_are_distinguishable(spark, sf_dir):
    """Same non-vacuousness pin for the drift row: the two snapshots
    score differently against the baseline, so the per-batch labeling
    is provably load-bearing."""
    rows = RS.stream_drift_monitor_batch_equivalence(
        spark, sf_dir).collect()
    by_batch: dict[int, set] = {}
    for r in rows:
        d = r.asDict()
        bid = d.pop("batch_id")
        by_batch.setdefault(bid, set()).add(
            tuple(str(v) for _, v in sorted(d.items())))
    assert set(by_batch) == {0, 1}
    assert by_batch[0] != by_batch[1], (
        "drift batches identical — labeling check vacuous")


@pytest.mark.parametrize("name,table", [
    ("stream_asof_batch_equivalence", "events"),
    ("stream_incremental_dedup_refresh", "documents"),
    ("stream_sessionize_batch_equivalence", "events"),
    ("stream_windowed_topk_batch_equivalence", "events"),
    ("stream_ingest_qc_batch_equivalence", "documents"),
    ("stream_drift_monitor_batch_equivalence", "documents"),
])
def test_oracle_sql_mentions_no_spark_internals(name, table):
    """The oracles must be plain DuckDB SQL over the pre-registered
    views (driver contract) — no table functions pointing at paths."""
    sql = ORACLES[name]
    assert "read_parquet" not in sql, name
    assert re.search(rf"\bFROM {table}\b", sql), name
