#!/usr/bin/env python3
"""Benchmark of the ingest sink, the curation queries and the stateful
stream, end to end and layer by layer.

    python3 perfbench/run.py --workload ingest_fanout --seed 1 --seconds 2 --trace 0

Run from the root of a checkout. One driver process runs one workload on
``local[<nproc>]``, closed loop: the next pass starts when the previous one
ends. A run has three parts:

* set-up: Spark session start, input generation and one untimed warm
  pass, whose outputs are checked;
* the measured region: passes until ``--seconds`` have elapsed and the
  workload's ``min_passes`` have run;
* output checks, each counted as a failed operation when it fails.

Workloads (``--seed`` drives only the ingest generator; the query workloads
read the fixed tables under ``perfbench/data``):

* ``ingest_fanout`` drains a seeded backlog of events files through
  ``IngestPipeline`` (availableNow, one file per micro-batch) as parquet
  with the hourly partitioner, ``rotate_interval_ms=600_000`` and
  ``flush_size=1_000``. Out-of-order event times make many small objects,
  so both the staged write and the per-object promote show.
* ``curation_stream`` runs registry queries, each forced with a ``noop``
  write (never ``count()``, which lets Catalyst prune the plan): an
  LLM-curation query that does eager work while it is built, and the
  stateful streaming row, whose streaming query keeps a state store and is
  started and stopped inside the row. The warm pass checks each result's
  rows and digest; every measured pass checks the row count its write saw.

End-to-end metrics (``--trace 0``) count CPU seconds, not wall seconds: on
a shared host the CPUs are taken away at times (steal reached 15% on a
4-vCPU VM with 15 GB), and wall times of identical runs a few minutes
apart differed by 2x. CPU seconds leave the stolen time out, though a busy
host still slows the CPUs it leaves running. They are summed over this
process and the JVM's process tree (JVM, Python workers and the children
they reaped):

* ``setup_s``: CPU seconds of the set-up above;
* ``cpu_s``: CPU seconds of one pass, median over the measured passes;
* ``peak_rss_mb``: peak resident memory of the driver JVM plus Python.

The wall-clock figures are printed on every run and reported as per-layer
metrics of a traced run, from its untraced passes. An operation is one
ingest micro-batch or one registry query:

* ``wall_s``: wall time of one pass;
* ``rows_per_s``: rows drained (ingest) or returned (queries) per second;
* ``batch_p50_ms``: median operation time (micro-batch trigger time, or
  build + plan + execute of one query);
* ``query_geomean_s``: geometric mean over the operations of a pass of
  each one's median time, so every query (every input file) counts once.

With ``--trace 1`` the run first measures untraced passes, then traced
passes (at least two, or one for a one-pass workload), and reports the per-layer metrics
(``LAYERS``) and ``trace_overhead_frac``, the relative difference of the
two median pass times. Spans (name, start, end, parent) are kept in memory
and written to ``perfbench/out/`` at the end.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The lines before it list every metric with its unit (and, traced, the
end-to-end metric it should move and the workload it shows on).
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import gc
import hashlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass
from functools import reduce
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data"
#: a run that has not finished by then is abandoned (the contract is 180 s)
DEADLINE_S = 170

#: the registry rows of ``curation_stream``: a curation query with eager
#: construction-time work, and the stateful streaming row
QUERIES = ["dedup_containment_pairs", "stream_asof_batch_equivalence"]

#: name -> unit
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metric -> (unit, which way is better, end-to-end metric it
#: should move, workload it shows on)
_ING = "ingest_fanout"
_Q = "curation_stream"
_ALL = "all"
LAYERS = {
    "wall_s": ("s", "lower", "none (wall-clock view of cpu_s)", _ALL),
    "rows_per_s": ("rows/s", "higher", "none (wall-clock view of cpu_s)", _ALL),
    "batch_p50_ms": ("ms", "lower", "none (wall-clock view of cpu_s)", _ALL),
    "query_geomean_s": ("s", "lower", "none (wall-clock view of cpu_s)", _ALL),
    "calib_s": ("s", "lower", "none (validity)", _ALL),
    "trace_overhead_frac": ("ratio", "lower", "none (validity)", _ALL),
    "gen_s": ("s", "lower", "setup_s", _ING),
    "spark.jobs": ("count", "lower", "cpu_s, wall_s", _ALL),
    "spark.stages": ("count", "lower", "cpu_s, wall_s", _ALL),
    "spark.tasks": ("count", "lower", "cpu_s, wall_s", _ALL),
    "spark.shuffle_bytes": ("bytes", "lower", "cpu_s, wall_s", _ALL),
    "spark.spill_bytes": ("bytes", "lower", "cpu_s, wall_s", _ALL),
    "spark.busy_frac": ("ratio", "higher", "cpu_s, wall_s", _ALL),
    "sinks.staged_write_s": ("s", "lower", "cpu_s, batch_p50_ms", _ING),
    "sinks.promote_s": ("s", "lower", "cpu_s, batch_p50_ms", _ING),
    "sinks.promote_ms_per_object": ("ms", "lower", "cpu_s, rows_per_s", _ING),
    "sinks.objects": ("count", "lower", "cpu_s, rows_per_s", _ING),
    "sinks.objects_per_s": ("1/s", "higher", "cpu_s, rows_per_s", _ING),
    "sinks.bytes": ("bytes", "lower", "cpu_s, rows_per_s", _ING),
    "sinks.fill_ratio": ("ratio", "higher", "cpu_s, rows_per_s", _ING),
    "rotation.assign_s": ("s", "lower", "cpu_s, rows_per_s", _ING),
    "pipeline.process_batch_self_s": ("s", "lower", "cpu_s, batch_p50_ms", _ING),
    "pipeline.trigger_overhead_ms": ("ms", "lower", "cpu_s, batch_p50_ms", _ING),
    "pipeline.query_planning_ms": ("ms", "lower", "cpu_s, batch_p50_ms", _ING),
    "pipeline.wal_commit_ms": ("ms", "lower", "cpu_s, batch_p50_ms", _ING),
    "evolution.observe_ms": ("ms", "lower", "cpu_s, batch_p50_ms", _ING),
    "sources.build_s": ("s", "lower", "cpu_s, wall_s", _ING),
    "sources.get_batch_ms": ("ms", "lower", "cpu_s, batch_p50_ms", _ING),
    "sources.rows_in": ("count", "higher", "cpu_s, rows_per_s", _ING),
    "stream.epochs": ("count", "lower", "cpu_s, wall_s", _Q),
    "stream.trigger_overhead_ms": ("ms", "lower", "cpu_s, wall_s", _Q),
    "stream.lifecycle_s": ("s", "lower", "cpu_s, wall_s", _Q),
    "state.commit_ms": ("ms", "lower", "cpu_s, wall_s", _Q),
    "state.rows": ("count", "lower", "cpu_s, wall_s", _Q),
    "state.memory_bytes": ("bytes", "lower", "peak_rss_mb", _Q),
}
for _q in QUERIES:
    LAYERS.update({
        f"{_q}.build_s": ("s", "lower", "cpu_s, query_geomean_s", _Q),
        f"{_q}.plan_s": ("s", "lower", "cpu_s, query_geomean_s", _Q),
        f"{_q}.exec_s": ("s", "lower", "cpu_s, query_geomean_s", _Q),
        f"{_q}.jobs": ("count", "lower", "cpu_s, query_geomean_s", _Q),
        f"{_q}.shuffle_bytes": ("bytes", "lower", "cpu_s, query_geomean_s", _Q),
    })


# --------------------------------------------------------------------------
# small helpers
# --------------------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, (bool, int)):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        r = round(f, 4) + 0.0  # folds -0.0 into 0.0
        return str(int(r)) if r.is_integer() and abs(r) < 2**53 else repr(r)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}"
                                     for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, floats
    rounded to 4 places, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def resolve_queries(names: list[str]) -> dict:
    from kafka_connect_oss_spark.measure import resolve_query

    import __spark_entry__ as entry

    driver = entry.queries()
    return {n: resolve_query(n, driver) for n in names}


def rss_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and by the JVM's process
    tree (the JVM, the Python workers it forks, and the children they
    reaped). Unlike wall time, it leaves out time a busy host takes the
    CPUs away."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process has exited
            continue
        # fields after the parenthesised command name, from field 3 on
        rest = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(rest[1]), sum(map(int, rest[11:15])) / tick)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0.0, [jvm_pid]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0.0))[1]
        stack += children.get(pid, [])
    own = os.times()
    return total + own.user + own.system


# --------------------------------------------------------------------------
# run context
# --------------------------------------------------------------------------

@dataclass
class Ctx:
    spark: object
    work: Path
    cores: int
    jvm_pid: int
    tracer: object = None      # trace.Tracer while passes are traced
    counters: object = None    # sparkstats.Counters in a traced run
    streams: object = None     # sparkstats.StreamCollector in a traced run
    attempted: int = 0
    failed: int = 0

    def fail(self, n: int, msg: str) -> None:
        self.failed += n
        print(f"FAILED: {msg}", file=sys.stderr, flush=True)

    def collect_garbage(self) -> None:
        """Full collections in Python and in the JVM, outside the timed
        region, so each operation starts from the same heap state."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext({})


def make_session(work: Path, cores: int):
    from pyspark.sql import SparkSession

    # The inputs are small (12k rows, sf0.01 tables), so Spark's default
    # 1 GB heap holds them on any box; a heap that starts at its full size
    # does not grow at GC-timing-dependent moments, which keeps peak RSS
    # steady from run to run. The JIT stops at C1: a run is too short for
    # C2 to finish, and its compiler threads took up to 40% of a pass's CPU
    # seconds, an amount that varied with timing. With C1 only, a pass's
    # CPU seconds stayed within 15% of each other from the first measured
    # pass on, at the same wall time.
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={work / 'tmp'} "
                f"-Dderby.system.home={work}")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate())
    # the dedup queries log "non-existent accumulator" DAGScheduler errors
    # on small core counts; they are noise, not failures
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --------------------------------------------------------------------------
# ingest workload
# --------------------------------------------------------------------------

class Ingest:
    #: A pass takes 4-5 s. A fixed number of measured passes keeps any
    #: drift from pass to pass the same in every run, and their median
    #: leaves out passes that a busy host slowed for a few seconds.
    min_passes = 6

    def __init__(self, backlog, cfg: dict, seed: int) -> None:
        self.backlog = backlog
        self.cfg = cfg
        self.seed = seed
        self.rows = backlog.rows
        self.n_pass = 0
        self.passes: list[dict] = []

    def setup(self, ctx: Ctx) -> dict:
        from perfbench import gen

        self.src = str(ctx.work / "backlog")
        t0 = time.perf_counter()
        self.files = gen.generate(self.src, self.backlog, self.seed)
        gen_s = time.perf_counter() - t0
        self.run_pass(ctx)  # warm
        return {"gen_s": gen_s}

    def config(self, out: Path):
        from kafka_connect_oss_spark.config import PipelineConfig

        return PipelineConfig(url=str(out / "sink"), format="parquet",
                              checkpoint_location=str(out / "ckpt"),
                              **self.cfg)

    def expected_keys(self, ctx: Ctx) -> set[str]:
        """The union of ``rotation.committed_files`` over the per-batch
        inputs (batch i is input file i): the reference's determinism
        guarantee says the stream commits exactly these keys."""
        from pyspark.sql import DataFrame

        from kafka_connect_oss_spark.operators.rotation import committed_files
        from kafka_connect_oss_spark.sources.batch import sink_records
        from kafka_connect_oss_spark.streaming.pipeline import (
            encoded_partition_column)

        cfg = self.config(ctx.work / "expected")
        frames = []
        for i, path in enumerate(self.files):
            d = ctx.work / "batches" / f"{i:05d}"
            d.mkdir(parents=True, exist_ok=True)
            if not (d / "events.parquet").exists():
                os.link(path, d / "events.parquet")
            frames.append(committed_files(
                sink_records(ctx.spark, str(d)),
                encoded_partition_column(cfg), cfg.flush_size,
                cfg.extension(),
                cfg.rotate_interval_ms if cfg.rotate_interval_ms > 0 else None,
                cfg.topics_dir, cfg.filename_offset_zero_pad_width)
                .select("object_key"))
        return {r.object_key
                for r in reduce(DataFrame.unionAll, frames).collect()}

    def run_pass(self, ctx: Ctx) -> dict:
        from kafka_connect_oss_spark.sources import files
        from kafka_connect_oss_spark.streaming.pipeline import IngestPipeline

        self.n_pass += 1
        out = ctx.work / "passes" / f"{self.n_pass:03d}"
        cfg = self.config(out)
        n_ops = len(self.files)
        ctx.attempted += n_ops
        t0 = time.perf_counter()
        try:
            stream = files.events_file_stream(ctx.spark, self.src,
                                              max_files_per_trigger=1)
            pipe = IngestPipeline(cfg)
            q = pipe.start(stream, available_now=True)
            done = q.awaitTermination(120)
            wall = time.perf_counter() - t0
            if not done:
                q.stop()
                raise TimeoutError("ingest pass did not drain in 120 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        except Exception as e:  # a failed pass fails all of its batches
            ctx.fail(n_ops, f"ingest pass {self.n_pass}: {e!r}")
            return {}
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        res = {"wall": wall, "out": out, "cfg": cfg,
               "keys": list(pipe.committed), "progress": progress,
               "rows": sum(p["numInputRows"] for p in progress),
               "ops_ms": [p["durationMs"]["triggerExecution"]
                          for p in progress],
               "staging_left": any("_staging" in dirs
                                   for _, dirs, _ in os.walk(out))}
        self.passes.append(res)
        return res

    def finish(self, ctx: Ctx) -> dict:
        """Check every pass, warm one included, against the expected keys
        and the generated row count; read the last pass back."""
        from kafka_connect_oss_spark.sinks import read_committed

        t0 = time.perf_counter()
        expected = self.expected_keys(ctx)
        assign_s = time.perf_counter() - t0
        n_ops = len(self.files)
        for i, res in enumerate(self.passes):
            errs = []
            keys = res["keys"]
            if len(keys) != len(set(keys)) or set(keys) != expected:
                errs.append(f"{len(set(keys) ^ expected)} object keys differ "
                            "from rotation.committed_files")
            if res["rows"] != self.rows or len(res["ops_ms"]) != n_ops:
                errs.append(f"{res['rows']} rows in {len(res['ops_ms'])} "
                            f"batches; {self.rows} in {n_ops} generated")
            if res["staging_left"]:
                errs.append("a _staging directory was left behind")
            if i == len(self.passes) - 1:
                n = read_committed(ctx.spark, res["cfg"].url,
                                   res["cfg"]).count()
                if n != self.rows:
                    errs.append(f"read_committed has {n} rows, "
                                f"{self.rows} generated")
            if errs:
                ctx.fail(n_ops, f"ingest pass {i + 1}: " + "; ".join(errs))
        return {"rotation.assign_s": assign_s}

    def rows_out(self, results: list[dict]) -> int:
        return self.rows

    @staticmethod
    def op_names(res: dict) -> list[str]:
        return [f"batch{i}" for i in range(len(res["ops_ms"]))]

    def trace_patches(self, ctx: Ctx):
        from kafka_connect_oss_spark import sinks
        from kafka_connect_oss_spark.operators.evolution import SchemaTracker
        from kafka_connect_oss_spark.sources import files
        from kafka_connect_oss_spark.streaming.pipeline import IngestPipeline

        t = ctx.tracer

        def count_objects(attrs, keys):
            attrs["objects"] = len(keys)

        return [
            (sinks, "_write_staged",
             t.wrap("sinks._write_staged", sinks._write_staged)),
            (sinks, "_promote_staged",
             t.wrap("sinks._promote_staged", sinks._promote_staged,
                    count_objects)),
            (IngestPipeline, "process_batch",
             t.wrap("pipeline.process_batch", IngestPipeline.process_batch)),
            (SchemaTracker, "observe",
             t.wrap("evolution.observe", SchemaTracker.observe)),
            (files, "events_file_stream",
             t.wrap("sources.events_file_stream", files.events_file_stream)),
        ]

    def layer_metrics(self, ctx: Ctx, res: dict, spans) -> dict:
        from perfbench.trace import self_time, total

        progress = res["progress"]
        objects = len(res["keys"])
        promote_s = total(spans, "sinks._promote_staged")
        n_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(res["cfg"].url) for f in fs
                      if not f.startswith((".", "_")))
        dur = [p["durationMs"] for p in progress]
        return {
            "sinks.staged_write_s": total(spans, "sinks._write_staged"),
            "sinks.promote_s": promote_s,
            "sinks.promote_ms_per_object": 1000 * promote_s / max(objects, 1),
            "sinks.objects": objects,
            "sinks.objects_per_s": objects / res["wall"],
            "sinks.bytes": n_bytes,
            "sinks.fill_ratio": res["rows"] / (objects * res["cfg"].flush_size),
            "pipeline.process_batch_self_s": self_time(
                spans, "pipeline.process_batch"),
            "pipeline.trigger_overhead_ms": median(
                d["triggerExecution"] - d.get("addBatch", 0) for d in dur),
            "pipeline.query_planning_ms": median(
                d.get("queryPlanning", 0) for d in dur),
            "pipeline.wal_commit_ms": median(d.get("walCommit", 0) for d in dur),
            "evolution.observe_ms": 1000 * total(spans, "evolution.observe")
            / max(len(progress), 1),
            "sources.build_s": total(spans, "sources.events_file_stream"),
            "sources.get_batch_ms": median(d.get("getBatch", 0) for d in dur),
            "sources.rows_in": res["rows"],
        }


# --------------------------------------------------------------------------
# registry-query workloads
# --------------------------------------------------------------------------

def _phases_ms(spark, qe) -> dict[str, int]:
    """Catalyst's own split of a plan's preparation (analysis,
    optimization, planning), from ``QueryExecution.tracker``."""
    phases = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters \
        .asJava(qe.tracker().phases())
    return {k: v.durationMs() for k, v in phases.items()}


def _observe_rows(df, seen):
    """``df`` with its row count recorded in ``seen`` when an action runs."""
    from pyspark.sql import functions as F

    return df.observe(seen, F.count(F.lit(1)).alias("rows"))


class Queries:
    min_passes = 1

    def __init__(self, names: list[str]) -> None:
        self.names = names

    def setup(self, ctx: Ctx) -> dict:
        """The warm pass: every query collected once and checked against
        ``expected.json``."""
        from pyspark.sql import Observation

        self.expected = expected = json.loads(
            (BENCH / "expected.json").read_text())
        self.fns = resolve_queries(self.names)
        self.out_rows = 0
        for name in self.names:
            ctx.attempted += 1
            try:
                df = self.fns[name](ctx.spark, str(DATA))
                # observed as in the measured passes, so that the first of
                # them does not pay for warming up the observation
                rows = _observe_rows(df, Observation()).collect()
            except Exception as e:
                ctx.fail(1, f"{name}: {e!r}")
                continue
            exp = expected[name]
            got = digest(df.columns, rows)
            self.out_rows += len(rows)
            if len(rows) != exp["rows"] or got != exp["digest"]:
                ctx.fail(1, f"{name}: {len(rows)} rows, digest {got[:12]}; "
                            f"expected {exp['rows']} rows, {exp['digest'][:12]}")
        return {}

    def run_pass(self, ctx: Ctx) -> dict:
        """Each query forced with a ``noop`` write; the row count the write
        saw is checked against ``expected.json``."""
        from pyspark.sql import Observation

        per_query = {}
        t_pass = time.perf_counter()
        for name in self.names:
            ctx.attempted += 1
            if ctx.tracer:
                mark = ctx.counters.mark()
                ctx.streams.take()
            t0 = time.perf_counter()
            try:
                with ctx.span(name) as attrs:
                    df = self.fns[name](ctx.spark, str(DATA))
                    t1 = time.perf_counter()
                    if ctx.tracer:  # plan once on its own, to time it
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        attrs["phases_ms"] = _phases_ms(ctx.spark, qe)
                    t2 = time.perf_counter()
                    seen = Observation()
                    _observe_rows(df, seen).write.format("noop") \
                        .mode("overwrite").save()
                t3 = time.perf_counter()
                n_rows = seen.get["rows"]
            except Exception as e:
                ctx.fail(1, f"{name}: {e!r}")
                return {}
            if n_rows != self.expected[name]["rows"]:
                ctx.fail(1, f"{name}: {n_rows} rows written, expected "
                            f"{self.expected[name]['rows']}")
            rec = {"ms": 1000 * (t3 - t0), "build_s": t1 - t0,
                   "plan_s": t2 - t1, "exec_s": t3 - t2}
            if ctx.tracer:
                d = ctx.counters.since(mark)
                rec.update(jobs=d.jobs, shuffle_bytes=d.shuffle_bytes,
                           streams=ctx.streams.take())
            per_query[name] = rec
        return {"wall": time.perf_counter() - t_pass, "queries": per_query,
                "ops_ms": [q["ms"] for q in per_query.values()]}

    def finish(self, ctx: Ctx) -> dict:
        return {}

    def rows_out(self, results: list[dict]) -> int:
        return self.out_rows

    @staticmethod
    def op_names(res: dict) -> list[str]:
        return list(res["queries"])

    def trace_patches(self, ctx: Ctx):
        return []

    def layer_metrics(self, ctx: Ctx, res: dict, spans) -> dict:
        m = {}
        lives = []
        for name, rec in res["queries"].items():
            for k in ("build_s", "plan_s", "exec_s", "jobs", "shuffle_bytes"):
                m[f"{name}.{k}"] = rec[k]
            lives += rec["streams"]
        progress = [p for life in lives for p in life.progress]
        lifecycle = 0.0
        for life in lives:
            if life.progress and life.terminated is not None:
                first, last = life.progress[0], life.progress[-1]
                lifecycle += max(first["start"] - life.started, 0)
                lifecycle += max(life.terminated - last["start"]
                                 - last["duration_ms"]["triggerExecution"]
                                 / 1000, 0)
        final_state = [s for life in lives if life.progress
                       for s in life.progress[-1]["state"]]
        m.update({
            "stream.epochs": len(progress),
            "stream.trigger_overhead_ms": median(
                p["duration_ms"].get("triggerExecution", 0)
                - p["duration_ms"].get("addBatch", 0) for p in progress),
            "stream.lifecycle_s": lifecycle,
            "state.commit_ms": sum(s[2] for p in progress for s in p["state"]),
            "state.rows": sum(s[0] for s in final_state),
            "state.memory_bytes": sum(s[1] for s in final_state),
        })
        return m


# --------------------------------------------------------------------------
# driver
# --------------------------------------------------------------------------

def workloads(seed: int) -> dict:
    from perfbench.gen import Backlog

    return {
        "ingest_fanout": lambda: Ingest(
            Backlog(n_files=2, rows_per_file=6_000, step_ms=200,
                    jitter_ms=10_000),
            dict(partitioner="hourly", rotate_interval_ms=600_000,
                 flush_size=1_000), seed),
        "curation_stream": lambda: Queries(QUERIES),
    }


def measure(ctx: Ctx, wl, seconds: float, min_passes: int, t_start: float,
            reserve_s: float) -> list[dict]:
    """Closed loop: passes until ``seconds`` have elapsed and
    ``min_passes`` have run, and none that would leave less than
    ``reserve_s`` before the deadline."""
    results = []
    t0 = time.perf_counter()
    while len(results) < min_passes or time.perf_counter() - t0 < seconds:
        if results:
            left = DEADLINE_S - reserve_s - (time.perf_counter() - t_start)
            if left < 1.5 * max(r["wall"] for r in results):
                break
        ctx.collect_garbage()
        c0, s0 = cpu_s(ctx.jvm_pid), time.perf_counter()
        res = wl.run_pass(ctx)
        if not res:
            break
        res["cpu"] = cpu_s(ctx.jvm_pid) - c0
        if ctx.tracer:
            res["spans"] = ctx.tracer.since(s0)
        results.append(res)
    return results


def per_op_ms(wl, results: list[dict]) -> dict[str, float]:
    """Median time of each operation (query, or batch of input file i)."""
    per_op: dict[str, list[float]] = {}
    for r in results:
        for name, ms in zip(wl.op_names(r), r["ops_ms"]):
            per_op.setdefault(name, []).append(ms)
    return {name: median(v) for name, v in per_op.items()}


def end_to_end(results: list[dict], setup_s: float, jvm_pid: int) -> dict:
    return {
        "setup_s": setup_s,
        "cpu_s": median(r["cpu"] for r in results),
        "peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        + rss_mb(jvm_pid),
    }


def wall_clock(wl, results: list[dict]) -> dict:
    wall = median(r["wall"] for r in results)
    return {
        "wall_s": wall,
        "rows_per_s": wl.rows_out(results) / wall,
        "batch_p50_ms": median(ms for r in results for ms in r["ops_ms"]),
        "query_geomean_s": geomean(per_op_ms(wl, results).values()) / 1000,
    }


def traced(ctx: Ctx, wl, seconds: float, t_start: float) -> tuple[list, dict]:
    """Traced passes and the per-layer metrics that hold for all of them."""
    from kafka_connect_oss_spark.measure import calibrate
    from perfbench import sparkstats, trace

    calib_s = calibrate(ctx.spark)
    ctx.tracer = trace.Tracer()
    ctx.counters = sparkstats.Counters(ctx.spark)
    ctx.streams = sparkstats.StreamCollector()
    ctx.spark.streams.addListener(ctx.streams)
    try:
        with trace.patched(wl.trace_patches(ctx)):
            mark = ctx.counters.mark()
            # fewer traced passes than measured ones: the per-layer metrics
            # have no bound, and a traced run must end before the deadline
            results = measure(ctx, wl, seconds, min(wl.min_passes, 2),
                              t_start, reserve_s=40)
            d = ctx.counters.since(mark)
    finally:
        ctx.spark.streams.removeListener(ctx.streams)
    n = len(results)
    if not n:
        return results, {}
    return results, {
        "calib_s": calib_s,
        "spark.jobs": d.jobs / n,
        "spark.stages": d.stages / n,
        "spark.tasks": d.tasks / n,
        "spark.shuffle_bytes": d.shuffle_bytes / n,
        "spark.spill_bytes": d.spill_bytes / n,
        "spark.busy_frac": d.run_ms / (1000 * ctx.cores
                                       * sum(r["wall"] for r in results)),
    }


class Deadline(BaseException):
    """Not an ``Exception``: a pass must not count it as a failed
    operation and carry on."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _print_table(title: str, rows) -> None:
    print(f"# {title}")
    for name, value, unit, note in rows:
        print(f"{name:<48} {value:>18.4f} {unit:<7} {note}".rstrip())


def result_line(ctx: Ctx, metrics: dict) -> str:
    return json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                       "failed": ctx.failed, "metrics": metrics})


def run_workload(ctx: Ctx, wl, args, t_start: float, c0: float,
                 t0: float) -> dict:
    """Set up, measure and check one workload, print its listing, and
    return the metrics of the result line: none when no pass completed,
    in which case the failed operations are in ``ctx``. ``c0`` and ``t0``
    are the CPU seconds and the time when set-up began."""
    setup = wl.setup(ctx)
    setup_s = cpu_s(ctx.jvm_pid) - c0
    setup_wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    results = measure(ctx, wl, args.seconds, wl.min_passes, t_start,
                      reserve_s=20)
    measured_s = time.perf_counter() - t0
    if not results:
        print("# no measured pass completed", file=sys.stderr)
        return {}
    e2e = end_to_end(results, setup_s, ctx.jvm_pid)
    wall = wall_clock(wl, results)
    if args.trace:
        tr_results, layers = traced(ctx, wl, args.seconds, t_start)
        if not tr_results:
            print("# no traced pass completed", file=sys.stderr)
            return {}
        per_pass = [wl.layer_metrics(ctx, r, r["spans"]) for r in tr_results]
        layers.update({k: median(p[k] for p in per_pass) for k in per_pass[0]})
    t0 = time.perf_counter()
    checks = wl.finish(ctx)
    # human-readable listing; the result line is the contract
    print(f"# {args.workload} seed={args.seed} cores={ctx.cores} "
          f"passes={len(results)} operations={ctx.attempted} "
          f"failed={ctx.failed} wall: setup={setup_wall:.1f}s "
          f"measured={measured_s:.1f}s "
          f"checks={time.perf_counter() - t0:.1f}s")
    print("# median ms per operation: " + ", ".join(
        f"{k} {v:.0f}" for k, v in per_op_ms(wl, results).items()))
    _print_table("end to end (CPU seconds)",
                 [(k, v, END_TO_END[k], "") for k, v in e2e.items()])
    _print_table("wall clock", [(k, v, LAYERS[k][0], "")
                                for k, v in wall.items()])
    if not args.trace:
        return {k: {"value": float(v), "unit": END_TO_END[k]}
                for k, v in e2e.items()}
    layers.update(checks)
    layers.update(wall)
    layers["gen_s"] = setup.get("gen_s", 0.0)
    layers["trace_overhead_frac"] = (
        median(r["wall"] for r in tr_results) / wall["wall_s"] - 1)
    _print_table("per layer (traced passes)", [
        (k, layers.get(k, 0.0), unit, f"moves {moves} on {on}")
        for k, (unit, _, moves, on) in LAYERS.items()])
    out = BENCH / "out"
    out.mkdir(exist_ok=True)
    ctx.tracer.dump(str(out / f"trace-{args.workload}-{args.seed}.jsonl"))
    return {k: {"value": float(layers.get(k, 0.0)), "unit": v[0]}
            for k, v in LAYERS.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_fanout", "curation_stream"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "__spark_entry__.py").is_file() or not (
            ROOT / "kafka_connect_oss_spark" / "__init__.py").is_file():
        print(f"no program to measure under {ROOT}: run from the root of a "
              "checkout", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)

    # everything the run writes stays under the checkout
    work = BENCH / ".work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path.insert(0, str(ROOT))
    cwd = os.getcwd()
    os.chdir(work)  # stray relative writes (spark-warehouse, derby) land here

    spark = gw = ctx = None
    status = 0
    try:
        cores = len(os.sched_getaffinity(0))
        c0, t0 = cpu_s(-1), time.perf_counter()
        spark = make_session(work, cores)
        from pyspark import SparkContext

        gw = SparkContext._gateway
        ctx = Ctx(spark=spark, work=work, cores=cores, jvm_pid=gw.proc.pid)
        wl = workloads(args.seed)[args.workload]()
        metrics = run_workload(ctx, wl, args, t_start, c0, t0)
    except Deadline as e:
        print(f"abandoned: {e}", file=sys.stderr)
        status = 3
    finally:
        signal.alarm(0)
        if spark is not None:
            spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = gw.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    if status:
        return status
    print(result_line(ctx, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
