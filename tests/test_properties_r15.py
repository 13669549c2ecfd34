"""Hypothesis properties for the sessionize/top-k streaming rows,
checked three ways on randomized mini event logs: the ACTUAL row (the
full replay harness — mid-group cut, sentinel flush, state machine),
the DuckDB oracle string it registers with, and an INDEPENDENT
pure-Python reference derived from first principles. The parity tests
prove Spark and DuckDB agree on the synthetic tables; this file guards
against a misconception SHARED by both — an exclusive gap boundary, a
wrong window alignment, a tie-break slip in the top-k rank — and
forces the state machine through adversarial shapes the synthetic
corpus may never produce (gap-exact deltas, duplicate timestamps,
single-event users, every event in one hour).

Timestamps are whole minutes, so epoch microseconds are exact and the
30-min gap boundary (strictly >) is hit exactly by construction.
"""

import datetime

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_connect_oss_spark import registry_streaming as RS
from kafka_connect_oss_spark.registry import ORACLES

_T0 = datetime.datetime(2024, 1, 1, 0, 0)
_GAP_US = RS._SESS_GAP_MS * 1000

#: an event log: (user 1..3, minute offset 0..150) pairs — offsets span
#: multiple hourly windows and straddle the 30-min gap both ways;
#: duplicates allowed (same user, same minute)
_events = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 150)),
    min_size=1, max_size=12)


def _ts(minutes: int) -> datetime.datetime:
    return _T0 + datetime.timedelta(minutes=minutes)


def _us(dt: datetime.datetime) -> int:
    return int(dt.replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)


def _write_events(spark, tmp, pairs):
    rows = [(i, uid, _ts(m), "click" if i % 2 else "view")
            for i, (uid, m) in enumerate(pairs)]
    (spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
     .write.mode("overwrite").parquet(f"{tmp}/events.parquet"))
    return rows


def _duck_rows(tmp, sql):
    con = duckdb.connect()
    try:
        # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{tmp}/events.parquet/*.parquet')")
        return sorted(map(tuple, con.execute(sql).fetchall()))
    finally:
        con.close()


def _ref_sessions(pairs):
    """First-principles gap sessionizer: sorted per-user timestamps,
    new session iff the delta STRICTLY exceeds the gap."""
    by_user: dict[int, list[int]] = {}
    for uid, m in pairs:
        by_user.setdefault(uid, []).append(_us(_ts(m)))
    out = set()
    for uid, tss in by_user.items():
        tss.sort()
        start = prev = tss[0]
        n = 1
        for t in tss[1:]:
            if t - prev > _GAP_US:
                out.add((uid, start, prev, n))
                start, n = t, 0
            n += 1
            prev = t
        out.add((uid, start, prev, n))
    return out


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=_events)
def test_sessionize_three_way(spark, tmp_path_factory, pairs):
    tmp = str(tmp_path_factory.mktemp("sessprop"))
    _write_events(spark, tmp, pairs)
    expect = _ref_sessions(pairs)

    # 1) the streaming row end-to-end (cut + sentinel + state)
    got_stream = {(r.user_id, r.session_start_us, r.session_end_us,
                   r.n_events)
                  for r in RS.stream_sessionize_batch_equivalence(
                      spark, tmp).collect()}
    assert got_stream == expect, f"stream vs reference: {pairs}"

    # 2) the DuckDB oracle string, verbatim
    got_duck = set(_duck_rows(
        tmp, ORACLES["stream_sessionize_batch_equivalence"]))
    assert got_duck == expect, f"duckdb vs reference: {pairs}"


def _ref_topk(rows, k=3):
    """First-principles hourly top-k: epoch-hour buckets, count per
    (window, type, user), rank by count desc then user asc."""
    counts: dict[tuple, int] = {}
    for _, uid, ts, etype in rows:
        w = ts.replace(minute=0, second=0, microsecond=0)
        key = (_us(w), etype, uid)
        counts[key] = counts.get(key, 0) + 1
    out = set()
    groups: dict[tuple, list] = {}
    for (w, etype, uid), n in counts.items():
        groups.setdefault((w, etype), []).append((uid, n))
    for (w, etype), members in groups.items():
        members.sort(key=lambda un: (-un[1], un[0]))
        for rank, (uid, n) in enumerate(members[:k], start=1):
            out.add((w, etype, uid, n, rank))
    return out


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=_events)
def test_windowed_topk_three_way(spark, tmp_path_factory, pairs):
    tmp = str(tmp_path_factory.mktemp("topkprop"))
    rows = _write_events(spark, tmp, pairs)
    expect = _ref_topk(rows, k=RS._TOPK_K)

    got_stream = {(r.window_start_us, r.event_type, r.user_id,
                   r.n_events, r.rank)
                  for r in RS.stream_windowed_topk_batch_equivalence(
                      spark, tmp).collect()}
    assert got_stream == expect, f"stream vs reference: {pairs}"

    got_duck = set(_duck_rows(
        tmp, ORACLES["stream_windowed_topk_batch_equivalence"]))
    assert got_duck == expect, f"duckdb vs reference: {pairs}"


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
