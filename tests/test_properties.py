"""Property-based invariants for rotation/file-assignment (hypothesis).

The reference has no property tests (SURVEY.md §5); these pin the
rotation algebra the whole sink contract rests on: for ANY record set and
flush size, files partition the offset sequence exactly, names are
deterministic, and re-assignment is stable.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_connect_oss_spark.functions import partition as P
from kafka_connect_oss_spark.functions.keys import object_key
from kafka_connect_oss_spark.operators.rotation import (anchored_interval_files,
                                                        assign_files,
                                                        committed_files)

_records = st.lists(
    st.tuples(st.integers(0, 2),            # kafka partition
              st.integers(0, 10_000)),      # ts offset seconds
    min_size=1, max_size=60, unique=True)

_flush = st.integers(1, 12)


def _df(spark, recs):
    # offsets: dense per partition in list order (kafka semantics)
    seen: dict[int, int] = {}
    rows = []
    for p, tsec in recs:
        o = seen.get(p, 0)
        seen[p] = o + 1
        rows.append(("events", p, o, 1_700_000_000 + tsec))
    return spark.createDataFrame(
        rows, "topic string, partition int, offset long, epoch long"
    ).withColumn("ts", F.col("epoch").cast("timestamp")).drop("epoch")


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(recs=_records, flush=_flush)
def test_files_partition_offsets_exactly(spark, recs, flush):
    df = _df(spark, recs)
    tagged = assign_files(df, P.default_partition(F.col("partition")), flush)
    rows = tagged.collect()
    # every record assigned exactly once (row count preserved)
    assert len(rows) == len(recs)
    by_file: dict[tuple, list] = {}
    for r in rows:
        by_file.setdefault(
            (r.partition, r.segment, r.file_idx, r.start_offset), []
        ).append(r.offset)
    for (p, seg, fi, so), offs in by_file.items():
        assert len(offs) <= flush                 # R1: flush.size bound
        assert min(offs) == so                    # name == first offset
        assert sorted(offs) == list(range(min(offs), max(offs) + 1)) or \
            len(offs) == len(set(offs))           # no duplicate offsets


_ROTATE_MS = 60_000

_rotating_records = st.lists(
    st.tuples(st.integers(0, 1),            # kafka partition
              st.integers(0, 300),          # ts offset seconds (~5 buckets)
              st.sampled_from("AB")),       # encoded partition
    min_size=1, max_size=40)


def _rotating_rows(recs):
    """(partition, offset, epoch seconds, encoded partition) per record,
    offsets dense per partition in list order."""
    seen: dict[int, int] = {}
    for p, tsec, ep in recs:
        o = seen.get(p, 0)
        seen[p] = o + 1
        yield p, o, 1_700_000_000 + tsec, ep


def _py_rotating_files(rows, flush):
    """The reference's writer loop with rotation on: walk each Kafka
    partition in offset order and start a new file on an encoded-partition
    change (R3), a fixed-grid time-bucket change (R2) or after ``flush``
    records (R1). Returns {(partition, encoded, start, end, count)}."""
    files, open_ = [], {}
    for p, o, epoch, ep in rows:
        bucket = epoch * 1000 // _ROTATE_MS
        f = open_.get(p)
        if f is None or (f["ep"], f["bucket"]) != (ep, bucket) \
                or f["n"] == flush:
            f = open_[p] = {"p": p, "ep": ep, "bucket": bucket,
                            "start": o, "n": 0}
            files.append(f)
        f["end"] = o
        f["n"] += 1
    return {(f["p"], f["ep"], f["start"], f["end"], f["n"]) for f in files}


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(recs=_rotating_records, flush=st.integers(1, 5))
def test_rotating_files_match_offset_walk(spark, recs, flush):
    # rotation on: the windowed cut equals a sequential offset-order walk,
    # including flush.size splits inside one rotation segment
    rows = list(_rotating_rows(recs))
    df = spark.createDataFrame(
        [("events", *r) for r in rows],
        "topic string, partition int, offset long, epoch long, etype string"
    ).withColumn("ts", F.col("epoch").cast("timestamp")).drop("epoch")
    files = committed_files(df, F.col("etype"), flush,
                            rotate_interval_ms=_ROTATE_MS).collect()
    got = {(r.partition, r.encoded_partition, r.start_offset, r.end_offset,
            r.record_count) for r in files}
    want = _py_rotating_files(rows, flush)
    assert got == want
    # the commit path's per-record start_offset names the same files
    start_of = {(p, o): s for p, _, s, e, _ in want for o in range(s, e + 1)}
    tagged = assign_files(df, F.col("etype"), flush, _ROTATE_MS).collect()
    assert {(r.partition, r.offset): r.start_offset for r in tagged} == start_of


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(recs=_records, flush=_flush)
def test_assignment_is_deterministic(spark, recs, flush):
    df = _df(spark, recs)
    enc = P.default_partition(F.col("partition"))
    a = sorted(map(tuple, assign_files(df, enc, flush).collect()))
    b = sorted(map(tuple, assign_files(df, enc, flush).collect()))
    assert a == b


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(recs=_records, iv_s=st.integers(1, 2_000))
def test_anchored_rotation_invariants(spark, recs, iv_s):
    df = _df(spark, recs)
    files = anchored_interval_files(df, iv_s * 1000).collect()
    total = sum(f.record_count for f in files)
    assert total == len(recs)
    by_part: dict[int, list] = {}
    for f in files:
        by_part.setdefault(f.partition, []).append(f)
    for p, fl in by_part.items():
        fl.sort(key=lambda f: f.file_seq)
        # file_seq dense from 0; offset ranges ordered and disjoint
        assert [f.file_seq for f in fl] == list(range(len(fl)))
        for a, b in zip(fl, fl[1:]):
            assert a.end_offset < b.start_offset
            # anchor gap: every new file's base is >= prev base + interval
            assert b.base_ts_us - a.base_ts_us >= iv_s * 1_000_000


def test_zero_pad_never_truncates(spark):
    # reference ZERO_PAD_FMT is String.format("%010d") — pads but never
    # truncates; lpad would collapse offsets >= 10^width onto one key
    from kafka_connect_oss_spark.functions.keys import zero_pad
    row = spark.range(1).select(
        zero_pad(F.lit(12345678901), 10).alias("wide"),
        zero_pad(F.lit(42), 10).alias("narrow")).first()
    assert row.wide == "12345678901"
    assert row.narrow == "0000000042"


def test_interleaved_commit_groups_no_rotation(spark):
    # rotate.interval.ms OFF: encoded-partition change must NOT rotate;
    # flush.size counts across encoded partitions, files keyed by
    # (commit group, encodedPartition) with start_offset = first offset
    # written to that encodedPartition since the last commit
    # (TopicPartitionWriter.java:214-266, 343-346)
    rows = [("t", 0, o, ["A", "B", "A", "A", "B", "C"][o % 6])
            for o in range(12)]
    df = spark.createDataFrame(
        rows, "topic string, partition int, offset long, etype string"
    ).withColumn("ts", F.lit(1_700_000_000).cast("timestamp"))
    tagged = assign_files(df, F.col("etype"), flush_size=6)
    got = {((r.segment, r.encoded_partition)): None for r in tagged.collect()}
    # 12 records, flush 6 -> 2 commit groups x 3 etypes = 6 files
    assert len(got) == 6
    by_file: dict = {}
    for r in tagged.collect():
        by_file.setdefault((r.segment, r.encoded_partition), []).append(r)
    for (seg, ep), rs in by_file.items():
        assert all(x.start_offset == min(y.offset for y in rs) for x in rs)
    # interleaved A-records 0,2,3 share one file in commit group 0
    a0 = by_file[(0, "A")]
    assert sorted(x.offset for x in a0) == [0, 2, 3]


def test_object_key_roundtrip():
    # key encodes (topic, partition, start_offset) losslessly
    import re

    from pyspark.sql import Row
    key_col = object_key(F.lit("events"), F.lit(3), F.lit(154000),
                         F.lit("2019-06-12-16"), ".parquet", "topics", 10)
    # evaluate via a literal-only select on an existing session
    import tests.conftest  # noqa: F401
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession() or SparkSession.builder \
        .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    key = spark.range(1).select(key_col.alias("k")).first().k
    assert key == "topics/events/2019-06-12-16/events+3+0000154000.parquet"
    m = re.match(r"topics/(\w+)/.+/(\w+)\+(\d+)\+(\d{10})\.parquet$", key)
    assert m and m.group(3) == "3" and int(m.group(4)) == 154000


# ---------------------------------------------------------------------------
# as-of / range join vs an independent pure-Python reference model
# ---------------------------------------------------------------------------

_pair = st.tuples(st.integers(1, 3),            # join key
                  st.integers(0, 50))           # epoch seconds

_left_rows = st.lists(_pair, min_size=1, max_size=12)
_right_rows = st.lists(_pair, min_size=0, max_size=12, unique=True)


def _py_asof(left, right):
    """Reference: per left row, the right row with max ts <= left ts for
    the key (right unique on (k, ts), so no tie ambiguity)."""
    out = []
    for k, lt in left:
        cands = [rt for rk, rt in right if rk == k and rt <= lt]
        out.append((k, lt, max(cands) if cands else None))
    return sorted(out)


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_left_rows, right=_right_rows)
def test_asof_join_matches_python_model(spark, left, right):
    from kafka_connect_oss_spark.operators.asof import asof_join

    ldf = spark.createDataFrame([(k, t) for k, t in left], "k int, t long") \
        .withColumn("ts", F.col("t").cast("timestamp")).drop("t")
    rdf = spark.createDataFrame([(k, t, t) for k, t in right],
                                "k int, t long, rv long") \
        .withColumn("ts", F.col("t").cast("timestamp")).drop("t")
    expect = _py_asof(left, right)
    for kw in ({}, {"skew_bucket_ms": 10_000}):
        got = sorted(
            (r.k, int(r.ts.timestamp()),
             None if r.r_rv is None else int(r.r_rv))
            for r in asof_join(ldf, rdf, ["k"], right_prefix="r_",
                               **kw).collect())
        assert got == expect, kw


def _py_range(left, right, lo_s, hi_s):
    out = []
    for k, lt in left:
        for rk, rt in right:
            if rk == k and lo_s <= rt - lt <= hi_s:
                out.append((k, lt, rt))
    return sorted(out)


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=st.lists(_pair, min_size=1, max_size=10, unique=True),
       right=_right_rows, bounds=st.tuples(st.integers(0, 5),
                                           st.integers(6, 20)))
def test_range_join_matches_python_model(spark, left, right, bounds):
    from kafka_connect_oss_spark.operators.asof import range_join

    lo_s, hi_s = bounds
    ldf = spark.createDataFrame([(k, t) for k, t in left], "k int, t long") \
        .withColumn("ts", F.col("t").cast("timestamp")).drop("t")
    rdf = spark.createDataFrame([(k, t) for k, t in right], "k int, t long") \
        .withColumn("ts", F.col("t").cast("timestamp")).drop("t")
    got = sorted(
        (r.k, int(r.ts.timestamp()), int(r.e_ts.timestamp()))
        for r in range_join(ldf, rdf, ["k"], lo_s * 1000, hi_s * 1000,
                            right_prefix="e_").collect())
    assert got == _py_range(left, right, lo_s, hi_s)


# ---- round-5 text operators vs Python models -----------------------------

_texts = st.lists(
    st.text(alphabet=st.sampled_from("ab1 .!Z"), max_size=40),
    min_size=1, max_size=12)


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(texts=_texts, size=st.integers(1, 15), stride=st.integers(1, 15))
def test_chunking_matches_python_model(spark, texts, size, stride):
    from kafka_connect_oss_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {(r.doc_id, r.chunk_id, r.chunk_text)
           for r in chunk_documents(docs, size, stride).collect()}
    want = set()
    for i, t in enumerate(texts):
        starts = range(0, max(len(t), 1), stride)
        for cid, s in enumerate(starts):
            want.add((i, cid, t[s:s + size]))
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(texts=_texts)
def test_normalize_text_idempotent_and_clean(spark, texts):
    from kafka_connect_oss_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    once = normalize_text(docs)
    # idempotence: normalizing the normalized text is the identity
    twice = normalize_text(
        once.select("doc_id", F.col("norm_text").alias("text")))
    a = {(r.doc_id, r.norm_text) for r in once.collect()}
    b = {(r.doc_id, r.norm_text) for r in twice.collect()}
    assert a == b
    # output alphabet is [a-z0-9 ], no double spaces, no edge spaces
    for _, s in a:
        assert all(c.islower() or c.isdigit() or c == " " for c in s)
        assert "  " not in s and s == s.strip()
