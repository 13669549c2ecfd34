"""Hypothesis properties for the incremental-dedup oracle mirror,
checked three ways on randomized mini corpora: the Spark operator
(dedup.incremental_dedup_status), the DuckDB CTE mirror the streaming
oracle is built from (registry_streaming._classify_sql), and
an INDEPENDENT pure-Python reference derived from first principles
(raw-shingle sets, not the engines' shared hash chain). The parity
tests prove Spark and DuckDB agree; this file guards against a
misconception SHARED by both — a wrong first-arrival rule, a jaccard
denominator slip, an exclusive threshold, dup_exact/dup_near
precedence inverted.

Docs are capped at 9 words so every jaccard denominator is <= 14 —
no ratio can land exactly on a 5th-decimal tie, keeping the
reference's round() agnostic to the engines' half-up rounding.
"""

import hashlib

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_connect_oss_spark import registry_streaming as RS
from kafka_connect_oss_spark.operators import dedup

_WORDS = ["alpha", "beta", "gamma", "delta"]

#: corpus = list of docs, each a 1-9 word sequence over a 4-word
#: alphabet — short docs + tiny alphabet force exact dups, near dups,
#: empty shingle sets (< 3 words), and within-increment repeats
_corpus = st.lists(
    st.lists(st.integers(0, len(_WORDS) - 1), min_size=1, max_size=9),
    min_size=4, max_size=12)


def _ref_status(base_docs, inc_docs, thr=0.3, ngram=3):
    """First-principles reference over RAW shingle strings."""
    def dg(t):
        return hashlib.md5(t.encode()).hexdigest()

    def shingles(t):
        toks = [w for w in t.split(" ") if w]
        if len(toks) < ngram:
            return set()
        return {" ".join(toks[i:i + ngram])
                for i in range(len(toks) - ngram + 1)}

    base_dgs = {dg(t) for _, t in base_docs}
    reps = {}
    for i, t in sorted(base_docs):
        reps.setdefault(dg(t), t)
    rep_sets = [shingles(t) for t in reps.values()]
    first = {}
    for i, t in sorted(inc_docs):
        first.setdefault(dg(t), i)
    out = {}
    for i, t in inc_docs:
        if dg(t) in base_dgs or first[dg(t)] != i:
            out[i] = "dup_exact"
            continue
        hh = shingles(t)
        near = False
        for rs in rep_sets:
            inter = len(hh & rs)
            if inter >= 1:
                j = round(inter / (len(hh) + len(rs) - inter), 4)
                if j >= thr:
                    near = True
                    break
        out[i] = "dup_near" if near else "kept"
    return out


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_corpus)
def test_incremental_status_three_way(spark, tmp_path_factory, docs):
    texts = [" ".join(_WORDS[w] for w in d) for d in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    base = [(i, t) for i, t in rows if i % 2 == 0]
    inc = [(i, t) for i, t in rows if i % 2 == 1]
    if not inc:
        return
    expect = _ref_status(base, inc)

    tmp = tmp_path_factory.mktemp("incprop")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

    # 1) the Spark operator
    got_spark = {r.doc_id: r.status for r in dedup.incremental_dedup_status(
        df.where(F.col("doc_id") % 2 == 0),
        df.where(F.col("doc_id") % 2 == 1)).collect()}
    assert got_spark == expect, f"spark vs reference: {texts}"

    # 2) the DuckDB CTE mirror the streaming oracle composes
    sql = f"""WITH d AS (
        SELECT doc_id, md5(text) AS dg, {RS._OHH} AS hh FROM documents),
    base AS (SELECT * FROM d WHERE doc_id % 2 = 0),
    inc AS (SELECT * FROM d WHERE doc_id % 2 = 1),
    s_dig AS (SELECT dg, MIN(doc_id) AS rep FROM base GROUP BY dg),
    s_rep AS (SELECT b.doc_id, b.hh FROM base b JOIN s_dig r
              ON b.doc_id = r.rep),
    {RS._classify_sql('inc', 's_dig', 's_rep')}
    SELECT doc_id, status FROM inc_status"""
    con = duckdb.connect()
    try:
        # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{tmp}/documents.parquet/*.parquet')")
        got_duck = dict(con.execute(sql).fetchall())
    finally:
        con.close()
    assert got_duck == expect, f"duckdb vs reference: {texts}"


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
