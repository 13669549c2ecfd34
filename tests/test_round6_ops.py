"""Round-6 corpus operators: plan-shape + semantic pins beyond the DuckDB
parity suite (tests/test_oracle_parity.py covers values)."""

from pyspark.sql import functions as F

from kafka_connect_oss_spark.operators import text as TXT
from kafka_connect_oss_spark.sources.batch import load_table


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_topk_plan_shape(spark, sf_dir):
    # top-k must be per-partition heaps (TakeOrderedAndProject), never a
    # global sort; the corpus-stats row must come back as a broadcast
    df = TXT.bm25_topk(load_table(spark, sf_dir, "documents"))
    plan = _physical(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_scores_nonincreasing_and_tiebroken(spark, sf_dir):
    rows = TXT.bm25_topk(load_table(spark, sf_dir, "documents"),
                         k=15).collect()
    assert len(rows) == 15
    for a, b in zip(rows, rows[1:]):
        assert a.score > b.score or (a.score == b.score
                                     and a.doc_id < b.doc_id)


def test_bm25_term_hit_scores_positive(spark, sf_dir):
    # a doc containing a query term must outscore an empty-hit doc (score 0
    # under the +1-smoothed idf variant only when no term matches)
    docs = load_table(spark, sf_dir, "documents")
    scored = TXT.bm25_topk(docs, terms=("data",), k=10_000_000)
    joined = scored.join(docs, "doc_id")
    has = F.array_contains(F.expr(
        "filter(split(text, ' '), tt -> tt <> '')"), "data")
    assert joined.where(has & (F.col("score") <= 0)).count() == 0
    assert joined.where(~has & (F.col("score") != 0)).count() == 0


def test_novelty_first_doc_is_fully_novel(spark, sf_dir):
    # the minimum doc_id holding any shingles sees all of them first
    docs = load_table(spark, sf_dir, "documents")
    nv = TXT.novelty_score(docs)
    first = nv.agg(F.min("doc_id")).first()[0]
    row = nv.where(F.col("doc_id") == first).first()
    assert row.novelty == 1.0 and row.n_novel == row.n_shingles


def test_novelty_exact_clone_scores_zero(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),   # clone of 1
         (3, "one two three four five")],
        "doc_id long, text string")
    got = {r.doc_id: (r.novelty, r.n_shingles)
           for r in TXT.novelty_score(docs).collect()}
    assert got[1] == (1.0, 3)
    assert got[2] == (0.0, 3)
    assert got[3] == (1.0, 3)


def test_novelty_short_docs_emit_no_row(spark):
    docs = spark.createDataFrame(
        [(1, "only two"), (2, "a full three gram sentence")],
        "doc_id long, text string")
    got = {r.doc_id for r in TXT.novelty_score(docs).collect()}
    assert got == {2}


def test_embedding_diversity_matches_bruteforce(spark):
    # the centroid identity must equal the explicit O(n^2) mean on a
    # small frame, including the single-vector NULL case
    import itertools
    import math

    from kafka_connect_oss_spark.operators import similarity

    vecs = [(1, [1.0, 0.0, 0.0], 0), (2, [0.0, 1.0, 0.0], 0),
            (3, [1.0, 1.0, 0.0], 0), (4, [0.5, 0.25, 1.0], 1),
            (5, [-1.0, 0.5, 0.25], 1), (6, [3.0, 0.0, 4.0], 2)]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int")
    got = {r.label: (r.n, r.mean_pairwise_cosine, r.centroid_norm)
           for r in similarity.embedding_diversity(df, dim=3).collect()}

    def unit(v):
        nn = math.sqrt(sum(x * x for x in v))
        return [x / nn for x in v]

    for label in (0, 1, 2):
        nvs = [unit(v) for _, v, lb in vecs if lb == label]
        n = len(nvs)
        if n > 1:
            want = sum(sum(a * b for a, b in zip(x, y))
                       for x, y in itertools.permutations(nvs, 2))
            want = round(want / (n * (n - 1)), 4)
        else:
            want = None
        s = [sum(col) for col in zip(*nvs)]
        cn = round(math.sqrt(sum(x * x for x in s)) / n, 4)
        assert got[label][0] == n
        assert got[label][1] == want, label
        assert abs(got[label][2] - cn) < 1e-9


def test_embedding_diversity_no_pairwise_join(spark, sf_dir):
    # the plan must be aggregates + one tiny group join — no cartesian,
    # no self-join of the vector table
    from kafka_connect_oss_spark.operators import similarity

    df = similarity.embedding_diversity(
        load_table(spark, sf_dir, "embeddings"), dim=64)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_spans_finds_planted_boilerplate(spark):
    boiler = "x" * 50  # one full chunk-width of shared boilerplate
    docs = spark.createDataFrame(
        [(1, boiler + " unique tail one"),
         (2, boiler + " other trailing text"),
         (3, "entirely different document body with no shared spans")],
        "doc_id long, text string")
    got = TXT.duplicate_spans(docs, size=50, stride=50, min_len=40)
    rows = got.collect()
    # exactly the planted span recurs; locator points at doc 1 chunk 0
    planted = [r for r in rows if r.n_docs == 2]
    assert len(planted) == 1
    assert (planted[0].rep_doc_id, planted[0].rep_chunk_id) == (1, 0)
    assert planted[0].n_occurrences == 2


def test_duplicate_spans_no_text_in_shuffle(spark, sf_dir):
    # every shuffle must key on the 16-byte digest (count-distinct's
    # two-level expand included); chunk text never reaches an exchange
    df = TXT.duplicate_spans(load_table(spark, sf_dir, "documents"))
    exchanges = [ln for ln in _physical(df).splitlines()
                 if "Exchange hashpartitioning" in ln]
    assert exchanges, "expected hash exchanges"
    for ln in exchanges:
        assert "span_md5" in ln and "chunk_text" not in ln, ln


def test_weighted_sample_properties(spark, sf_dir):
    # deterministic across invocations; higher-weight docs statistically
    # favored (every sampled key must beat every unsampled key);
    # plan is TakeOrderedAndProject with no hash exchange
    docs = load_table(spark, sf_dir, "documents")
    s1 = [tuple(r) for r in TXT.weighted_sample(docs, k=15).collect()]
    s2 = [tuple(r) for r in TXT.weighted_sample(docs, k=15).collect()]
    assert s1 == s2 and len(s1) == 15
    keys = sorted((r[2] for r in s1), reverse=True)
    assert keys == [r[2] for r in s1] or sorted(
        [r[2] for r in s1], reverse=True) == keys
    plan = _physical(TXT.weighted_sample(docs, k=15))
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan


def test_weighted_sample_zero_weight_never_selected(spark):
    docs = spark.createDataFrame(
        [(i, "t", 100) for i in range(1, 20)] + [(99, "t", 0)],
        "doc_id long, text string, n_chars int")
    got = {r.doc_id for r in TXT.weighted_sample(docs, k=19).collect()}
    assert 99 not in got and len(got) == 19


def test_token_entropy_analytic_cases(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b c d"),          # uniform: entropy = ln 4, norm 1.0
         (2, "x x x x x"),        # degenerate: entropy 0, norm NULL
         (3, "a a b b b b")],     # 2/6, 4/6 mix
        "doc_id long, text string")
    got = {r.doc_id: r for r in TXT.token_entropy(docs).collect()}
    assert got[1].entropy == round(math.log(4), 4)
    assert got[1].norm_entropy == 1.0
    assert got[2].entropy == 0.0 and got[2].norm_entropy is None
    want3 = -(2 / 6 * math.log(2 / 6) + 4 / 6 * math.log(4 / 6))
    assert abs(got[3].entropy - want3) < 1e-3
    assert got[3].n_tokens == 6 and got[3].n_distinct == 2


def test_unigram_nll_analytic_case(spark):
    import math

    # corpus of 8 tokens: 'a' x4, 'b' x2, 'c' x1, 'd' x1
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "b b c d")], "doc_id long, text string")
    got = {r.doc_id: r for r in TXT.unigram_nll(docs).collect()}
    assert got[1].nll == round(-math.log(4 / 8), 4)
    want2 = -(2 * math.log(2 / 8) + 2 * math.log(1 / 8)) / 4
    assert abs(got[2].nll - want2) < 1e-3
    assert got[2].nll > got[1].nll  # rarer tokens -> higher NLL
