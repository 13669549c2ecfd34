"""Opt-out / takedown compliance pair: the streaming blocklist gate
(`run_ingest_with_blocklist`) and the retroactive purge of committed
output (`dedup.retroactive_takedown`).

Reference analog: the sink's storage-must-converge obligation
(OSSOutputStream.java delete-before-put; OSSSinkTask.java:196-208 commit
records), applied to a published corpus under a growing takedown list.
"""

import glob
import shutil

from pyspark.sql import functions as F

from kafka_connect_oss_spark.operators.dedup import (blocklist_filter,
                                                     retroactive_takedown)
from kafka_connect_oss_spark.sources.batch import load_table
from kafka_connect_oss_spark.streaming import analytics as A


def _digests_of(docs, ids):
    return [r[0] for r in (docs.where(F.col("doc_id").isin(ids))
                           .select(F.md5("text")).distinct().collect())]


def _bl_df(spark, digests):
    return spark.createDataFrame([(d,) for d in digests], "digest string")


def test_streaming_blocklist_gate_and_retroactive_takedown(
        spark, sf_dir, tmp_path):
    """End-to-end compliance cycle: batches 0-1 gated by list v1; the
    list grows (one digest already committed in batch 1, one arriving in
    batch 2); batch 2 honors v2 on the SAME running checkpoint lineage
    with no restart of the pipeline code; the retroactive purge then
    converges the committed output to exactly
    blocklist_filter(all_docs, v2); a second purge is a no-op."""
    docs = load_table(spark, sf_dir, "documents")
    ids = [r.doc_id for r in
           docs.select("doc_id").orderBy("doc_id").limit(60).collect()]
    chunks = [docs.where(F.col("doc_id").isin(ids[k::3])) for k in range(3)]

    stream_dir = tmp_path / "chunks"
    stream_dir.mkdir()
    for i, chunk in enumerate(chunks[:2]):
        chunk.coalesce(1).write.parquet(str(tmp_path / f"tkp{i}"))
        src = glob.glob(str(tmp_path / f"tkp{i}" / "*.parquet"))[0]
        shutil.copy(src, stream_dir / f"c{i}.parquet")

    # v1: two works from chunk 0 are opted out before ingest starts
    v1 = _digests_of(docs, ids[0::3][:2])
    bl_path = tmp_path / "blocklist"
    _bl_df(spark, v1).write.parquet(str(bl_path))

    schema = spark.read.parquet(str(stream_dir)).schema
    out, ck, audit = tmp_path / "corpus", tmp_path / "ck", tmp_path / "audit"

    def stream():
        sdf = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
        A.run_ingest_with_blocklist(
            sdf, str(bl_path), str(out), str(ck),
            audit_path=str(audit)).awaitTermination(180)

    stream()
    committed = spark.read.parquet(str(out))
    want01 = {r.doc_id for r in blocklist_filter(
        chunks[0].union(chunks[1]), _bl_df(spark, v1)).collect()}
    assert {r.doc_id for r in committed.collect()} == want01

    # the list GROWS: one work already committed in batch 1, one that
    # will arrive in batch 2 — no pipeline restart, just new list files
    v2 = v1 + _digests_of(docs, [ids[1::3][0], ids[2::3][0]])
    shutil.rmtree(str(bl_path))
    _bl_df(spark, v2).write.parquet(str(bl_path))

    chunks[2].coalesce(1).write.parquet(str(tmp_path / "tkp2"))
    src = glob.glob(str(tmp_path / "tkp2" / "*.parquet"))[0]
    shutil.copy(src, stream_dir / "c2.parquet")
    stream()  # same checkpoint: only c2 is new, lands as batch 2

    committed = spark.read.parquet(str(out))
    # batch 2 honored v2 at the gate...
    got2 = {r.doc_id for r in
            committed.where(F.col("batch_id") == 2).collect()}
    assert got2 == {r.doc_id for r in blocklist_filter(
        chunks[2], _bl_df(spark, v2)).collect()}
    # ...but the batch-1 work accepted under v1 is still there
    stale = {r.doc_id for r in committed.collect()} - {
        r.doc_id for r in blocklist_filter(
            docs.where(F.col("doc_id").isin(ids)),
            _bl_df(spark, v2)).collect()}
    assert stale, "test needs a committed doc the grown list covers"

    receipt = retroactive_takedown(spark, str(out), _bl_df(spark, v2))
    assert receipt["docs_removed"] >= len(stale)
    assert 1 in receipt["batches_rewritten"]
    converged = spark.read.parquet(str(out))
    want_final = {r.doc_id for r in blocklist_filter(
        docs.where(F.col("doc_id").isin(ids)), _bl_df(spark, v2)).collect()}
    assert {r.doc_id for r in converged.collect()} == want_final
    # untouched partitions keep their rows bit-for-bit (batch 0 had no
    # v2-only hits unless a clone straddles — compare full row sets)
    assert converged.where(F.col("batch_id") == 2).count() == len(got2)

    # idempotent: same list again finds nothing
    again = retroactive_takedown(spark, str(out), _bl_df(spark, v2))
    assert again == {"batches_rewritten": [], "batches_deleted": [],
                     "docs_removed": 0}
    assert {r.doc_id for r in
            spark.read.parquet(str(out)).collect()} == want_final

    # audit ledger: one receipt row per batch, removals accounted
    led = {r.batch_id: r for r in spark.read.parquet(str(audit)).collect()}
    assert set(led) == {0, 1, 2}
    for b, chunk, v in [(0, chunks[0], v1), (1, chunks[1], v1),
                        (2, chunks[2], v2)]:
        n_in = chunk.count()
        n_kept = blocklist_filter(chunk, _bl_df(spark, v)).count()
        assert (led[b].n_in, led[b].n_kept, led[b].n_removed) == \
            (n_in, n_kept, n_in - n_kept)


def test_retroactive_takedown_deletes_emptied_partition(
        spark, sf_dir, tmp_path):
    """A partition whose EVERY row is listed must physically disappear —
    dynamic overwrite alone would silently keep its old files (the
    written data contains no rows for it). Also covers the gate's
    missing-list branch: the corpus is ingested before any list
    exists, so nothing is filtered on the way in."""
    docs = load_table(spark, sf_dir, "documents")
    ids = [r.doc_id for r in
           docs.select("doc_id").orderBy("doc_id").limit(12).collect()]
    chunks = [docs.where(F.col("doc_id").isin(ids[:6])),
              docs.where(F.col("doc_id").isin(ids[6:]))]

    stream_dir = tmp_path / "chunks"
    stream_dir.mkdir()
    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).write.parquet(str(tmp_path / f"emp{i}"))
        src = glob.glob(str(tmp_path / f"emp{i}" / "*.parquet"))[0]
        shutil.copy(src, stream_dir / f"c{i}.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
    out, ck = tmp_path / "corpus", tmp_path / "ck"
    # blocklist path does not exist yet -> gate admits everything
    A.run_ingest_with_blocklist(
        sdf, str(tmp_path / "no_list_yet"), str(out),
        str(ck)).awaitTermination(180)
    committed = spark.read.parquet(str(out))
    assert committed.count() == len(ids)

    # every work in batch 1 is taken down (plus any byte-identical
    # clones of them that landed in batch 0)
    v = _digests_of(docs, ids[6:])
    receipt = retroactive_takedown(spark, str(out), _bl_df(spark, v))
    assert receipt["batches_deleted"] == [1]
    assert receipt["docs_removed"] >= 6
    left = spark.read.parquet(str(out))
    assert left.where(F.col("batch_id") == 1).count() == 0
    want = {r.doc_id for r in blocklist_filter(
        chunks[0], _bl_df(spark, v)).collect()}
    assert {r.doc_id for r in left.collect()} == want
    # the partition directory itself is gone, not just empty
    assert not (out / "batch_id=1").exists()


def _brute_force_expand(spark, docs, work_text, ngram=3, th=0.3):
    """Golden: digest set = md5(work) ∪ digests of every corpus CONTENT
    whose exact shingle jaccard vs the work meets the threshold,
    computed rep-collapsed and Python-side."""
    from kafka_connect_oss_spark.operators.dedup import shingle_set_frame

    reps = (docs.withColumn("_d", F.md5("text"))
            .withColumn("_rep", F.expr(
                "min(doc_id) over (partition by _d)"))
            .where("doc_id = _rep"))
    rep_rows = shingle_set_frame(reps).join(
        reps.select("doc_id", "_d"), "doc_id").collect()
    work = spark.createDataFrame([(0, work_text)], "doc_id long, text string")
    wh = set(shingle_set_frame(work).collect()[0].hh)
    out = {spark.createDataFrame([(work_text,)], "t string")
           .select(F.md5("t")).collect()[0][0]}
    for r in rep_rows:
        hh = set(r.hh)
        inter = len(wh & hh)
        union = len(wh) + len(hh) - inter
        if union and inter / union >= th:
            out.add(r._d)
    return out


def test_expand_takedown_works_matches_bruteforce(spark, sf_dir, tmp_path):
    """Exact-recall contract: the inverted-index expansion finds EXACTLY
    the brute-force jaccard matches (both a light edit of a corpus work
    and a work absent from the corpus)."""
    from kafka_connect_oss_spark.operators.dedup import (blocklist_filter,
                                                         expand_takedown_works)

    docs = load_table(spark, sf_dir, "documents")
    base_text = (docs.orderBy(F.length("text").desc(), "doc_id")
                 .limit(1).collect()[0].text)
    # a derivative copy: the work lightly edited (trailing addition)
    work_text = base_text + " appended attribution line for the mirror"
    works = spark.createDataFrame([(work_text,)], "text string")

    got = {r.digest for r in
           expand_takedown_works(docs, works).collect()}
    want = _brute_force_expand(spark, docs, work_text)
    assert got == want
    assert len(want) >= 2  # the work itself + at least the original

    # composing with the gate: every matched content leaves the corpus
    kept = blocklist_filter(
        docs, spark.createDataFrame([(d,) for d in got], "digest string"))
    assert {r[0] for r in kept.select(F.md5("text")).collect()} \
        .isdisjoint(got)

    # a work with no corpus relative expands to just itself
    lone = spark.createDataFrame(
        [("zq xv wq pk jm nb vc ws ed rf tg yh uj ik ol pz " * 4,)],
        "text string")
    lone_got = {r.digest for r in
                expand_takedown_works(docs, lone).collect()}
    assert len(lone_got) == 1


def test_expand_takedown_from_tables_equals_batch(spark, sf_dir,
                                                  tmp_path_factory):
    """The deploy-scale form over compact_base_tables state returns the
    identical digest set (corpus text never read)."""
    from kafka_connect_oss_spark.operators import bucketing as B
    from kafka_connect_oss_spark.operators.dedup import (
        compact_base_tables, expand_takedown_works,
        expand_takedown_works_from_tables)

    loc = tmp_path_factory.mktemp("tdexp")
    B.ensure_database(spark, "tdexp", str(loc))
    docs = load_table(spark, sf_dir, "documents")
    base_text = (docs.orderBy(F.length("text").desc(), "doc_id")
                 .limit(1).collect()[0].text)
    works = spark.createDataFrame(
        [(base_text + " appended attribution line for the mirror",)],
        "text string")
    compact_base_tables(docs, "tdexp.t", n_buckets=4)
    got_tables = {r.digest for r in expand_takedown_works_from_tables(
        spark, "tdexp.t", works).collect()}
    got_batch = {r.digest for r in
                 expand_takedown_works(docs, works).collect()}
    assert got_tables == got_batch


def test_retroactive_takedown_on_shard_snapshot(spark, sf_dir, tmp_path):
    """The purge is layout-generic: pointed at a shard-partitioned
    published snapshot (partition_col='shard'), it prunes and rewrites
    shards exactly as it does batch_id partitions — so one takedown
    routine serves both the live ingest corpus and the published
    snapshot."""
    from kafka_connect_oss_spark.operators.packing import (
        republish_changed_shards)

    docs = load_table(spark, sf_dir, "documents")
    snap = str(tmp_path / "snap")
    republish_changed_shards(spark, docs, snap, apply_gopher=False,
                             n_shards=8)
    pub = spark.read.parquet(snap)
    victim = pub.orderBy("doc_id").limit(1).collect()[0]
    n0 = pub.count()

    receipt = retroactive_takedown(
        spark, snap, _bl_df(spark, [victim._digest]),
        partition_col="shard")
    assert receipt["docs_removed"] >= 1
    left = spark.read.parquet(snap)
    assert left.where(F.col("_digest") == victim._digest).count() == 0
    assert left.count() == n0 - receipt["docs_removed"]


def test_streaming_gate_honors_expanded_takedown(spark, sf_dir, tmp_path):
    """The full compliance loop LIVE: a takedown request arrives as a
    WORK mid-stream, expand_takedown_works turns it into a digest list
    covering near-copies, the list lands at the gate's path, and the
    very next micro-batch filters the near-copy — no restart."""
    from kafka_connect_oss_spark.operators.dedup import (
        expand_takedown_works)

    docs = load_table(spark, sf_dir, "documents")
    # the near-copy that will ARRIVE in batch 1 (not yet ingested)
    target = (docs.orderBy(F.length("text").desc(), "doc_id")
              .limit(1).collect()[0])
    chunk0 = docs.where(F.col("doc_id") != target.doc_id) \
                 .orderBy("doc_id").limit(20)
    chunk1 = docs.where(F.col("doc_id") == target.doc_id)

    stream_dir = tmp_path / "chunks"
    stream_dir.mkdir()
    chunk0.coalesce(1).write.parquet(str(tmp_path / "g0"))
    shutil.copy(glob.glob(str(tmp_path / "g0" / "*.parquet"))[0],
                stream_dir / "c0.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    out, ck = tmp_path / "corpus", tmp_path / "ck"
    bl_path = str(tmp_path / "blocklist")

    def stream():
        sdf = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(str(stream_dir)))
        A.run_ingest_with_blocklist(sdf, bl_path, str(out),
                                    str(ck)).awaitTermination(180)

    stream()  # batch 0: no list yet, everything admitted
    assert spark.read.parquet(str(out)).count() == 20

    # takedown request: the WORK is a lightly-edited form of the target
    works = spark.createDataFrame(
        [(target.text + " mirrored with an attribution line",)],
        "text string")
    expand_takedown_works(docs, works).write.parquet(bl_path)

    chunk1.coalesce(1).write.parquet(str(tmp_path / "g1"))
    shutil.copy(glob.glob(str(tmp_path / "g1" / "*.parquet"))[0],
                stream_dir / "c1.parquet")
    stream()  # batch 1: the near-copy arrives and is gated out

    committed = spark.read.parquet(str(out))
    assert committed.where(
        F.col("doc_id") == target.doc_id).count() == 0
    assert committed.count() == 20


def test_retroactive_takedown_join_pruning_path(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """Above ISIN_LITERAL_MAX affected partitions the pruning switches
    from an IN literal to a broadcast semi-join (the Catalyst
    literal-blowup guard, same rationale as the large-K IVF switch);
    both paths must converge the corpus identically."""
    from kafka_connect_oss_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    ids = [r.doc_id for r in
           docs.select("doc_id").orderBy("doc_id").limit(24).collect()]
    corpus = (docs.where(F.col("doc_id").isin(ids))
              .withColumn("batch_id", (F.col("doc_id") % 6).cast("int")))
    v = _digests_of(docs, ids[::4])  # hits several partitions

    outs = {}
    for label, cap in [("literal", 4096), ("join", 0)]:
        out = str(tmp_path / label)
        corpus.write.partitionBy("batch_id").parquet(out)
        monkeypatch.setattr(D, "ISIN_LITERAL_MAX", cap)
        receipt = retroactive_takedown(spark, out, _bl_df(spark, v))
        assert receipt["docs_removed"] >= len(ids[::4])
        outs[label] = (sorted(map(tuple,
                              spark.read.parquet(out).collect()),
                              key=repr),
                       receipt)
    assert outs["literal"][0] == outs["join"][0]
    assert outs["literal"][1] == outs["join"][1]


def test_retroactive_takedown_lineage_mode_severs_before_overwrite(
        spark, sf_dir, tmp_path):
    """A self-overwrite must not recompute survivors from the files
    being replaced, so retroactive_takedown routes through stage_pinned
    (an eager localCheckpoint). Pin (a) stage_pinned's contract — the
    staged plan is a LogicalRDD with no file relation — and (b) the
    takedown end to end."""
    from kafka_connect_oss_spark.operators import lifecycle as LC

    docs = load_table(spark, sf_dir, "documents").limit(40)
    out = tmp_path / "corpus"
    (docs.withColumn("batch_id", (F.col("doc_id") % 4).cast("int"))
     .write.partitionBy("batch_id").parquet(str(out)))

    # (a) the pinned frame's plan must not reference any file source
    staged = LC.stage_pinned(spark.read.parquet(str(out)))
    logical = staged._jdf.queryExecution().logical().toString()
    assert "LogicalRDD" in logical and "Relation" not in logical

    # (b) end-to-end correctness
    victims = [r[0] for r in docs.limit(5).select("doc_id").collect()]
    bl = _bl_df(spark, _digests_of(docs, victims))
    receipt = retroactive_takedown(spark, str(out), bl)
    assert receipt["docs_removed"] >= 5
    left = spark.read.parquet(str(out))
    assert left.join(bl.withColumnRenamed("digest", "_d"),
                     F.md5(left["text"]) == F.col("_d"), "semi").count() == 0


def test_retroactive_takedown_rewrite_is_layout_only(spark, sf_dir,
                                                     tmp_path):
    """When the corpus does NOT carry _digest, rewritten partitions must
    not gain it (the r09 ADVICE schema-consistency low): otherwise later
    sampled-file schema inference sees different columns per partition."""
    docs = load_table(spark, sf_dir, "documents").limit(40)
    out = tmp_path / "corpus"
    (docs.withColumn("batch_id", (F.col("doc_id") % 4).cast("int"))
     .write.partitionBy("batch_id").parquet(str(out)))
    before = set(spark.read.parquet(str(out)).columns)
    assert "_digest" not in before

    victims = [r[0] for r in docs.limit(3).select("doc_id").collect()]
    receipt = retroactive_takedown(
        spark, str(out), _bl_df(spark, _digests_of(docs, victims)))
    assert receipt["batches_rewritten"]
    # every partition directory individually — rewritten and untouched —
    # must present the identical column set
    for b in range(4):
        part = spark.read.parquet(f"{out}/batch_id={b}")
        assert set(part.columns) == before - {"batch_id"}, \
            f"partition {b} schema drifted: {part.columns}"
