"""Tests of the benchmark's own parts; they need no Spark session.

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import gen, run  # noqa: E402

SMALL = gen.Backlog(n_files=3, rows_per_file=500, step_ms=200,
                    jitter_ms=10_000)


def _bytes(paths):
    return [Path(p).read_bytes() for p in paths]


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = gen.generate(str(tmp_path / "a"), SMALL, seed=7)
    b = gen.generate(str(tmp_path / "b"), SMALL, seed=7)
    assert [Path(p).name for p in a] == [Path(p).name for p in b]
    assert _bytes(a) == _bytes(b)


def test_another_seed_gives_other_files(tmp_path):
    a = gen.generate(str(tmp_path / "a"), SMALL, seed=7)
    b = gen.generate(str(tmp_path / "b"), SMALL, seed=8)
    assert _bytes(a) != _bytes(b)


def test_backlog_is_the_events_envelope_in_replay_order(tmp_path):
    paths = gen.generate(str(tmp_path), SMALL, seed=1)
    tables = [pq.read_table(p) for p in paths]
    assert all(t.schema.names == ["event_id", "ts", "user_id", "event_type",
                                  "value", "props"] for t in tables)
    ids = [i for t in tables for i in t.column("event_id").to_pylist()]
    assert ids == list(range(SMALL.rows))
    mtimes = [Path(p).stat().st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # event time is out of order, but never by more than the jitter
    ts = [t.column("ts").cast("int64").to_pylist() for t in tables]
    flat = [x for part in ts for x in part]
    assert flat != sorted(flat)
    step_us, jitter_us = SMALL.step_ms * 1000, SMALL.jitter_ms * 1000
    assert all(abs(x - (gen.BASE_TS_US + i * step_us)) <= jitter_us
               for i, x in enumerate(flat))


def test_digest_ignores_row_and_column_order_and_float_noise():
    rows = [(1, 0.1 + 0.2, "a"), (2, -0.0, None)]
    same = [(None, 0.0, 2), ("a", 0.3, 1)]
    assert (run.digest(["id", "x", "s"], rows)
            == run.digest(["s", "x", "id"], same))
    assert (run.digest(["id", "x", "s"], rows)
            != run.digest(["id", "x", "s"], rows[:1]))


class _NoSparkCtx(run.Ctx):
    def collect_garbage(self) -> None:
        pass


class _BrokenQueries(run.Queries):
    """A query workload whose only query raises when it is built."""

    def setup(self, ctx):
        def broken(spark, sf_dir):
            raise RuntimeError("query failed")

        self.fns = {"broken": broken}
        self.expected = {"broken": {"rows": 0}}
        self.out_rows = 0
        return {}


def _run_broken(trace: int):
    ctx = _NoSparkCtx(spark=None, work=Path("."), cores=1,
                      jvm_pid=os.getpid())
    args = SimpleNamespace(workload="curation_stream", seed=1, seconds=0.01,
                           trace=trace)
    t0 = run.time.perf_counter()
    metrics = run.run_workload(ctx, _BrokenQueries(["broken"]), args, t0,
                               run.cpu_s(ctx.jvm_pid), t0)
    return ctx, metrics


def test_a_failed_pass_is_counted_not_raised():
    ctx, metrics = _run_broken(trace=0)
    assert (ctx.attempted, ctx.failed, metrics) == (1, 1, {})
    assert json.loads(run.result_line(ctx, metrics)) == {
        "correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def test_a_traced_run_without_traced_passes_reports_no_metrics(monkeypatch):
    # the measured pass completes; every traced pass fails
    monkeypatch.setattr(run, "measure", lambda *a, **k: [
        {"wall": 1.0, "cpu": 1.0, "ops_ms": [], "queries": {}}])
    monkeypatch.setattr(run, "traced", lambda *a: ([], {}))
    _, metrics = _run_broken(trace=1)
    assert metrics == {}


def test_benchmark_json_matches_the_metrics_the_runner_reports():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads(1))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer"]} == {
        k: v[:2] for k, v in run.LAYERS.items()}
    assert set(run.QUERIES) <= set(
        json.loads((run.BENCH / "expected.json").read_text()))
