"""Round-9 second-batch operator tests: composite IVF+PQ index funnel,
embedding-space benchmark decontamination, per-source Zipf fit, and the
deterministic shard manifest."""

import math

import numpy as np
from pyspark.sql import functions as F

from kafka_connect_oss_spark.operators import packing as PK
from kafka_connect_oss_spark.operators import similarity as SIM
from kafka_connect_oss_spark.operators import text as TXT


# ---------------------------------------------------------------------------
# ann_ivfpq_topk
# ---------------------------------------------------------------------------

def _toy_embeddings(spark, n=40, d=64, seed=7):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.randn(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivfpq_full_probe_full_rerank_equals_bruteforce(spark):
    """With every list probed and the re-rank shortlist covering the whole
    corpus, the funnel prunes nothing — the exact-cosine re-rank must then
    return exactly the brute-force top-k (same ids, same cosines)."""
    emb = _toy_embeddings(spark)
    q = SIM.query_vector(spark, emb, 0)
    exact = {r.vec_id: r.cosine
             for r in SIM.topk_cosine(emb, q, k=5).collect()}
    got = SIM.ann_ivfpq_topk(emb, q, k=5, n_centroids=4, nprobe=4,
                             rerank_factor=8).collect()
    assert {r.vec_id: r.cosine for r in got} == exact


def test_ivfpq_candidates_come_only_from_probed_lists(spark):
    """Every returned row's cid must be one of the nprobe centroids ranked
    best against the query — the file-pruning contract of the probe."""
    emb = _toy_embeddings(spark)
    q = SIM.query_vector(spark, emb, 0)
    cents = SIM.ivf_centroids(emb, 4)
    probed = {r.cid for r in
              (q.crossJoin(F.broadcast(cents))
               .select("cid",
                       F.expr("aggregate(zip_with(qv, cv, (x, y) -> x * y),"
                              " 0D, (acc, v) -> acc + v)").alias("qc"))
               .orderBy(F.col("qc").desc(), "cid").limit(2)).collect()}
    got = SIM.ann_ivfpq_topk(emb, q, k=5, n_centroids=4, nprobe=2).collect()
    assert got and all(r.cid in probed for r in got)


def test_ivfpq_adc_score_matches_code_reconstruction(spark):
    """approx_score must equal dot(q, reconstruction-from-codes): recompute
    it in Python from the codebooks and the row's codes."""
    emb = _toy_embeddings(spark, n=24)
    q = SIM.query_vector(spark, emb, 0)
    cbs = SIM.pq_codebooks(emb)
    qv = q.collect()[0].qv
    enc = {r.vec_id: [r[f"code_{mi}"] for mi in range(len(cbs))]
           for r in SIM.pq_encode(emb, cbs).collect()}
    sub = len(cbs[0][0])
    for row in SIM.ann_ivfpq_topk(emb, q, k=4, n_centroids=4,
                                  nprobe=4).collect():
        codes = enc[row.vec_id]
        recon = sum(
            sum(x * y for x, y in zip(qv[mi * sub:(mi + 1) * sub],
                                      cbs[mi][codes[mi] - 1]))
            for mi in range(len(cbs)))
        assert abs(row.approx_score - recon) < 1e-6


# ---------------------------------------------------------------------------
# semantic_decontam
# ---------------------------------------------------------------------------

def _axis(d, i, scale=1.0):
    v = [0.0] * d
    v[i] = scale
    return v


def test_semantic_decontam_flags_and_argmax(spark):
    """Hand-built geometry: train vec 10 IS bench vec 0's direction
    (cosine 1 -> contaminated), train vec 11 is orthogonal to both bench
    vectors (max cosine 0 -> clean), train vec 12 sits at 45 degrees to
    bench 0 (cos ~0.7071 < 0.95 -> clean but nonzero)."""
    d = 4
    bench_raw = spark.createDataFrame(
        [(0, _axis(d, 0)), (5, _axis(d, 1))],
        "vec_id long, embedding array<double>")
    bench = (SIM.with_normalized(bench_raw, fan_out=False)
             .select(F.col("vec_id").alias("bench_id"),
                     F.col("nv").alias("bench_nv")))
    train = spark.createDataFrame(
        [(10, _axis(d, 0, 3.0)), (11, _axis(d, 2)),
         (12, [1.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           SIM.semantic_decontam(train, bench, threshold=0.95).collect()}
    assert got[10].contaminated and got[10].max_cosine == 1.0
    assert got[10].best_bench_id == 0
    assert not got[11].contaminated and got[11].max_cosine == 0.0
    assert not got[12].contaminated
    assert abs(got[12].max_cosine - 1 / math.sqrt(2)) < 1e-6
    assert got[12].best_bench_id == 0


def test_semantic_decontam_tie_breaks_to_lowest_bench_id(spark):
    """Two identical benchmark vectors tie on cosine — the argmax must
    pick the lower bench id on every engine and partitioning."""
    d = 4
    bench_raw = spark.createDataFrame(
        [(7, _axis(d, 0)), (3, _axis(d, 0, 2.0))],
        "vec_id long, embedding array<double>")
    bench = (SIM.with_normalized(bench_raw, fan_out=False)
             .select(F.col("vec_id").alias("bench_id"),
                     F.col("nv").alias("bench_nv")))
    train = spark.createDataFrame(
        [(1, _axis(d, 0, 5.0))], "vec_id long, embedding array<double>")
    row = SIM.semantic_decontam(train, bench, threshold=0.5).collect()[0]
    assert row.best_bench_id == 3 and row.contaminated


# ---------------------------------------------------------------------------
# zipf_profile
# ---------------------------------------------------------------------------

def test_zipf_profile_matches_numpy_least_squares(spark):
    """Non-trivial tf distribution: slope and R² must equal the numpy
    polyfit over (ln rank, ln tf) to the rounding the operator applies."""
    # tfs: a=5, b=3, c=2, d=1 -> ranks 1..4 deterministic (no tf ties)
    text = " ".join(["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"])
    docs = spark.createDataFrame([(1, text, "s")],
                                 "doc_id long, text string, source string")
    row = TXT.zipf_profile(docs).collect()[0]
    x = np.log([1.0, 2.0, 3.0, 4.0])
    y = np.log([5.0, 3.0, 2.0, 1.0])
    slope, _ = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]
    assert row.n_types == 4
    assert abs(row.zipf_slope - round(-slope, 4)) <= 1e-4
    assert abs(row.r2 - round(r * r, 4)) <= 1e-4


def test_zipf_profile_degenerate_sources_are_null(spark):
    """Single-type source: var(x) = 0 -> slope and R² NULL. Uniform-tf
    source: cov = 0 and var(y) = 0 -> slope 0, R² NULL — no NaN leaks."""
    docs = spark.createDataFrame(
        [(1, "only only only", "mono"), (2, "u v w", "flat")],
        "doc_id long, text string, source string")
    got = {r.source: r for r in TXT.zipf_profile(docs).collect()}
    assert got["mono"].n_types == 1
    assert got["mono"].zipf_slope is None and got["mono"].r2 is None
    assert got["flat"].n_types == 3
    assert got["flat"].zipf_slope == 0.0 and got["flat"].r2 is None


def test_zipf_rank_tie_break_is_deterministic(spark):
    """tf ties rank alphabetically (tf DESC, term): the fit over a corpus
    with tied tfs must be invariant under input row order."""
    t1 = "b b a a c"
    docs1 = spark.createDataFrame([(1, t1, "s")],
                                  "doc_id long, text string, source string")
    docs2 = spark.createDataFrame([(9, t1, "s")],
                                  "doc_id long, text string, source string")
    r1 = TXT.zipf_profile(docs1).collect()[0]
    r2 = TXT.zipf_profile(docs2).collect()[0]
    assert (r1.zipf_slope, r1.r2) == (r2.zipf_slope, r2.r2)


# ---------------------------------------------------------------------------
# shard_manifest
# ---------------------------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shard_manifest_partitioning_invariant(spark):
    """The manifest is byte-identical under any physical partitioning —
    the bit_xor digest is order-independent by construction."""
    rows = [(i, f"doc number {i} body") for i in range(64)]
    a = PK.shard_manifest(_docs(spark, rows), n_shards=4)
    b = PK.shard_manifest(_docs(spark, rows).repartition(13), n_shards=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_shard_manifest_counts_and_change_detection(spark):
    """Shard counts sum to the corpus; editing ONE doc changes exactly its
    own shard's digest and nothing else."""
    rows = [(i, f"doc number {i} body") for i in range(64)]
    base = {r.shard: r for r in
            PK.shard_manifest(_docs(spark, rows), n_shards=4).collect()}
    assert sum(r.n_docs for r in base.values()) == 64
    edited = [(i, t if i != 17 else t + " EDITED") for i, t in rows]
    after = {r.shard: r for r in
             PK.shard_manifest(_docs(spark, edited), n_shards=4).collect()}
    changed = [s for s in base
               if base[s].content_digest != after[s].content_digest]
    assert len(changed) == 1
    s = changed[0]
    # the edited doc landed in that shard: count unchanged, chars grew
    assert after[s].n_docs == base[s].n_docs
    assert after[s].total_chars == base[s].total_chars + len(" EDITED")
    for t in base:
        if t != s:
            assert tuple(base[t]) == tuple(after[t])


# ---------------------------------------------------------------------------
# blocklist_filter
# ---------------------------------------------------------------------------

def test_blocklist_removes_work_and_all_clones(spark):
    """A takedown of one document's content removes every byte-identical
    clone regardless of id; non-matching docs survive untouched."""
    from kafka_connect_oss_spark.operators import dedup

    docs = _docs(spark, [(1, "the protected work"),
                         (2, "the protected work"),   # clone, different id
                         (3, "unrelated text")])
    bl = (docs.where(F.col("doc_id") == 1)
          .select(F.md5("text").alias("digest")))
    kept = dedup.blocklist_filter(docs, bl)
    assert {r.doc_id for r in kept.collect()} == {3}


def test_blocklist_empty_list_keeps_everything(spark):
    from kafka_connect_oss_spark.operators import dedup

    docs = _docs(spark, [(1, "a"), (2, "b")])
    bl = spark.createDataFrame([], "digest string")
    kept = dedup.blocklist_filter(docs, bl)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_blocklist_broadcast_and_shuffle_paths_agree(spark):
    from kafka_connect_oss_spark.operators import dedup

    rows = [(i, f"text {i % 5}") for i in range(40)]
    docs = _docs(spark, rows)
    bl = (docs.where(F.col("doc_id").isin(0, 1))
          .select(F.md5("text").alias("digest")))
    kept = dedup.blocklist_filter(docs, bl)
    # the list broadcasts: the corpus side is never shuffled
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    a = sorted(r.doc_id for r in kept.collect())
    # ids congruent to 0 or 1 mod 5 share content with a blocked doc
    assert a == [i for i in range(40) if i % 5 not in (0, 1)]
