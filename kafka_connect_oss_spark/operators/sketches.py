"""Mergeable distinct-count sketches (driver-mandated extension).

KMV (k-minimum-values): keep the K smallest base-hashes of the key per
group; estimate = (K-1) * hash_space / kth_min. Chosen over HLL because the
sketch is *portable*: Spark's approx_count_distinct and DuckDB's
approx_count_distinct use engine-specific HLL registers and disagree, while
KMV over the shared md5-fold base hash (functions/hashing.py) is
bit-deterministic on both engines — the estimate itself oracle-verifies.

Shuffle shape: a mergeable two-level aggregate, like approx_count_distinct.
Level 1 folds each physical partition's hashes into a local K-min array
(map-side combine — one row per (group, partition) crosses the wire);
level 2 merges arrays per group, #partitions × K longs per group, constant
in the number of distinct keys. Never a per-group window sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_oss_spark.functions import hashing as H
from kafka_connect_oss_spark.sources.batch import local_frame

KMV_K = 64
HASH_SPACE = float(1 << 60)  # base_hash range (60-bit md5 fold)


def kmv_distinct(df: DataFrame, group_cols: list[str], key_col: str,
                 k: int = KMV_K) -> DataFrame:
    """Per-group KMV distinct estimate of `key_col`.

    Returns (*group_cols, exact_distinct, kmv_estimate); exact_distinct is
    emitted alongside to exhibit estimator error (it rides the same
    distinct pass, adding no extra shuffle).
    """
    # dedupe the RAW key per group, then hash — exact_distinct counts
    # distinct keys, not distinct hashes (hash collisions must not merge)
    hv = F.expr(H.base_hash(f"CAST({key_col} AS STRING)", "spark"))
    hashed = (df.select(*group_cols, key_col).distinct()
              .select(*group_cols, hv.alias("hv")))
    partials = (hashed
                .groupBy(*group_cols, F.spark_partition_id().alias("_pid"))
                .agg(F.slice(F.array_sort(F.collect_list("hv")), 1, k)
                     .alias("ph"),
                     F.count(F.lit(1)).alias("pn")))
    merged = (partials.groupBy(*group_cols)
              .agg(F.slice(F.array_sort(F.flatten(F.collect_list("ph"))),
                           1, k).alias("kmins"),
                   F.sum("pn").alias("exact_distinct")))
    # deterministic output order: per-group sketches are few rows, and an
    # unordered small aggregate's row order is partitioning-dependent
    return merged.select(
        *group_cols, "exact_distinct",
        kmv_estimate_col(k).alias("kmv_estimate")).orderBy(*group_cols)


def kmv_estimate_col(k: int = KMV_K) -> Column:
    """Estimate from (exact_distinct, kmins): exact below K, else the KMV
    estimator rounded to 4 (identical double math in the DuckDB oracle)."""
    return (F.when(F.col("exact_distinct") <= k,
                   F.col("exact_distinct").cast("double"))
            .otherwise(F.round((k - 1) * F.lit(HASH_SPACE)
                               / F.element_at("kmins", k), 4)))


def kmv_oracle_sql(group_cols_sql: str, key_sql: str, from_sql: str,
                   k: int = KMV_K) -> str:
    """DuckDB oracle for kmv_distinct over the same table: identical hash,
    identical estimator, per-group window form (fine at oracle scale)."""
    return f"""WITH dedup AS (
      SELECT DISTINCT {group_cols_sql}, {key_sql} AS k FROM {from_sql}),
    hashed AS (
      SELECT {group_cols_sql}, {H.base_hash('k', 'duckdb')} AS hv
      FROM dedup),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY {group_cols_sql}
                                ORDER BY hv) AS rnk,
             COUNT(*) OVER (PARTITION BY {group_cols_sql}) AS n_exact
      FROM hashed)
    SELECT {group_cols_sql}, n_exact AS exact_distinct,
           CASE WHEN n_exact <= {k} THEN CAST(n_exact AS DOUBLE)
                ELSE ROUND(({k} - 1) * {HASH_SPACE} / MAX(hv), 4)
           END AS kmv_estimate
    FROM ranked WHERE rnk <= {k}
    GROUP BY {group_cols_sql}, n_exact ORDER BY {group_cols_sql}"""


#: exact_quantile_disc collects one stats row and <= n_bins histogram
#: rows PER GROUP; the cap makes the bounded-groups contract
#: self-enforcing (at the default 4096 bins, 100k groups ~ a few
#: hundred MB of driver rows — the practical ceiling of the design).
QUANTILE_MAX_GROUPS = 100_000


def exact_quantile_disc(df: DataFrame, value_col: str, p: float,
                        group_col: str, n_bins: int = 4096,
                        max_groups: int = QUANTILE_MAX_GROUPS) -> DataFrame:
    """EXACT discrete quantile per group WITHOUT a per-group sort — the
    100 TB path to exact percentiles (`percentile`/`percentile_disc` sort
    every group's values; this never sorts more than one histogram bin).

    Two scans + driver routing over tiny aggregates:

      1. per-group (min, max, count) — one map-side-combined aggregate,
         collected. The bounded-groups contract is ENFORCED, not
         assumed: the collect is capped at ``max_groups`` rows
         (LocalLimit — the job never ships more than the cap + 1 to
         the driver) and a cap overflow raises ValueError naming the
         key, so pointing this at an unbounded key (doc_id, user_id)
         fails fast instead of melting the driver. Intended keys stay
         the documented ones: event types, languages, sources;
      2. per-group fixed-width bin histogram (<= groups x n_bins rows,
         collected) — the driver walks the cumulative to find the bin
         holding rank k = ceil(p * n) (DuckDB's quantile_disc rule,
         verified empirically) and the residual rank within it;
      3. one final narrow pass keeps ONLY rows of each group's target bin
         (a broadcast of <= |groups| routing rows) and ranks inside —
         per-bin sort cost ~n/n_bins per group instead of n.

    Bin assignment is floor((v - mn) * n_bins / (mx - mn)) clamped —
    monotone in v under IEEE (positive-constant multiply + subtract are
    monotone, floor is monotone), so within-bin rank + bins-before count
    IS the global rank: the result is exactly the k-th smallest value,
    bit-identical to a full sort, for any float edge behavior. Worst
    case (every value equal -> one bin) degrades to the sort the naive
    plan always pays.

    NULL handling matches SQL aggregate semantics: NULL values never
    enter the histogram or the rank (percentile_disc ignores NULLs;
    all-NULL groups produce no row), and a NULL GROUP KEY is a group
    like any other (null-safe joins throughout, as GROUP BY treats it).
    The broadcast frames' group column carries df's own dtype, so
    numeric/date keys join without implicit casts.

    Returns (group_col, q) with q = the group's p-quantile (a data value).
    """
    import math

    from pyspark.sql import Window
    from pyspark.sql import types as T

    df = df.where(F.col(value_col).isNotNull())
    gtype = df.schema[group_col].dataType
    stat_rows = (df.groupBy(group_col)
                 .agg(F.min(value_col), F.max(value_col),
                      F.count(value_col))
                 .limit(max_groups + 1).collect())
    if len(stat_rows) > max_groups:
        raise ValueError(
            f"exact_quantile_disc: group key {group_col!r} has more than "
            f"max_groups={max_groups} distinct values — this operator "
            f"collects per-group stats and histograms on the driver and "
            f"is designed for bounded keys (event types, languages, "
            f"sources). Use approx percentile_approx, or raise "
            f"max_groups explicitly if the driver can hold "
            f"~groups x n_bins rows.")
    stats = {r[0]: (r[1], r[2], r[3]) for r in stat_rows}

    def bin_expr(mn_col: str, mx_col: str) -> F.Column:
        spread = F.col(mx_col) - F.col(mn_col)
        raw = F.floor((F.col(value_col) - F.col(mn_col)) * n_bins / spread)
        return (F.when(spread == 0, F.lit(0))
                .otherwise(F.least(F.lit(n_bins - 1), raw))
                .cast("int"))

    spark = df.sparkSession
    mmx = local_frame(
        spark,
        [(g, float(mn), float(mx)) for g, (mn, mx, _) in stats.items()],
        T.StructType([T.StructField("_g", gtype),
                      T.StructField("_mn", T.DoubleType()),
                      T.StructField("_mx", T.DoubleType())]))
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    # two consumers (histogram collect + final rank pass) — staged so
    # the scan+bin materializes once, at the histogram collect (the
    # unavoidable driver round-trip); the final rank pass re-reads the
    # staged copy lazily and release is GC-deferred (see lifecycle.py
    # for the fault-tolerance trade the round-6 advisor flagged)
    binned = stage_local(
        df.join(F.broadcast(mmx),
                F.col(group_col).eqNullSafe(F.col("_g")))
        .withColumn("_bin", bin_expr("_mn", "_mx")))
    hist = {}
    for r in binned.groupBy(group_col, "_bin").count().collect():
        hist.setdefault(r[0], {})[r[1]] = r[2]

    routes = []  # (group, target_bin, rank_within_bin)
    for g, (mn, mx, n) in stats.items():
        k = max(1, math.ceil(p * n))
        cum = 0
        for b in sorted(hist.get(g, {})):
            c = hist[g][b]
            if cum + c >= k:
                routes.append((g, b, k - cum))
                break
            cum += c
    rdf = local_frame(
        spark, routes,
        T.StructType([T.StructField("_rg", gtype),
                      T.StructField("_rbin", T.IntegerType()),
                      T.StructField("_rank", T.LongType())]))
    w = Window.partitionBy(group_col).orderBy(value_col)
    out = (binned.join(F.broadcast(rdf),
                       F.col(group_col).eqNullSafe(F.col("_rg")) &
                       (F.col("_bin") == F.col("_rbin")))
           .withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == F.col("_rank"))
           .select(group_col, F.col(value_col).alias("q")))
    return out


def _kmv_side(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """One-row (kmins, n_exact) sketch of a frame's distinct keys — the
    same two-level k-min aggregate as kmv_distinct, ungrouped."""
    hv = F.expr(H.base_hash(f"CAST({key_col} AS STRING)", "spark"))
    hashed = df.select(key_col).distinct().select(hv.alias("hv"))
    partials = (hashed.groupBy(F.spark_partition_id().alias("_pid"))
                .agg(F.slice(F.array_sort(F.collect_list("hv")), 1, k)
                     .alias("ph"),
                     F.count(F.lit(1)).alias("pn")))
    return partials.agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("ph"))), 1, k)
        .alias("kmins"),
        F.sum("pn").alias("n_exact"))


def kmv_key_overlap(a: DataFrame, b: DataFrame, key_col: str,
                    k: int = KMV_K) -> DataFrame:
    """Join-cardinality estimation from two KMV sketches — the planner
    move: estimate |keys(A) ∩ keys(B)| (hence join size) WITHOUT joining.
    Each side folds to a k-minimum-values sketch (one row, K longs); the
    union sketch is the k smallest of the merged mins, the Jaccard
    estimate is the fraction of union mins present in both sides, and
    intersection ~= jaccard x union-cardinality (the standard KMV set
    algebra — public technique).

    At 100 TB: two distinct-key passes (each the word-count shape) and a
    1-row x 1-row crossJoin — the estimate costs two scans and moves
    2K longs, vs the full shuffle join it predicts. ``inter_exact`` is
    emitted alongside to exhibit estimator error (one extra semi-join;
    drop it in production use). Deterministic (shared md5-fold hash), so
    the DuckDB oracle reproduces every value bit-for-bit.

    Returns one row: (n_a, n_b, inter_exact, union_est, jaccard_est,
    inter_est).
    """
    sa = _kmv_side(a, key_col, k).select(
        F.col("kmins").alias("ka"), F.col("n_exact").alias("n_a"))
    sb = _kmv_side(b, key_col, k).select(
        F.col("kmins").alias("kb"), F.col("n_exact").alias("n_b"))
    inter = (a.select(key_col).distinct()
             .join(b.select(key_col).distinct(), key_col, "semi")
             .agg(F.count(F.lit(1)).alias("inter_exact")))
    u = f"slice(array_sort(array_distinct(concat(ka, kb))), 1, {k})"
    both = (f"size(filter({u}, x -> array_contains(ka, x) "
            f"AND array_contains(kb, x)))")
    usz = f"size({u})"
    union_est = (f"CASE WHEN {usz} < {k} THEN CAST({usz} AS DOUBLE) "
                 f"ELSE ({k} - 1) * {HASH_SPACE} "
                 f"/ element_at({u}, {k}) END")
    jac = f"{both} / CAST({usz} AS DOUBLE)"
    return (sa.crossJoin(F.broadcast(sb)).crossJoin(F.broadcast(inter))
            .select("n_a", "n_b", "inter_exact",
                    F.round(F.expr(union_est), 4).alias("union_est"),
                    F.round(F.expr(jac), 4).alias("jaccard_est"),
                    F.round(F.expr(f"({jac}) * ({union_est})"), 4)
                    .alias("inter_est")))


def kmv_source_overlap(docs: DataFrame, ngram: int = 3, k: int = KMV_K,
                       text_col: str = "text",
                       source_col: str = "source") -> DataFrame:
    """The cross-source overlap PLANNER: every source pair's shared-
    shingle estimate from per-source KMV sketches — what a mixture
    planner runs over a 100 TB corpus BEFORE deciding whether any pair
    is contaminated enough to pay for the exact matrix
    (text.cross_source_overlap). kmv_key_overlap is the two-frame
    primitive; this is its all-pairs form over one grouped corpus scan.

    Cost vs exact: the exact matrix needs the corpus-sized distinct
    plus a groupBy(hash) collect_set plus the pair aggregate (three
    corpus-scale shuffles); the planner pays the distinct once and then
    folds to |sources| x K longs (the kmv_distinct two-level partial
    shape), so the pair stage is a broadcast self-join of a
    sources-sized frame — estimates for every pair at roughly a third
    of the exact cost, with output bounded by C(|sources|, 2).

    Estimator: per pair, union sketch = K smallest of the merged mins,
    jaccard_est = fraction of union mins in both sides, inter_est =
    jaccard x union-cardinality (standard KMV set algebra, same
    expressions as kmv_key_overlap). Exact per-source distinct counts
    (n_a, n_b) ride the sketch aggregate for free. Deterministic
    (shared md5-fold hash) so DuckDB reproduces every value.

    Returns (source_a, source_b, n_a, n_b, union_est, jaccard_est,
    inter_est) for all pairs, source_a < source_b.
    """
    from kafka_connect_oss_spark.functions import text as X
    from kafka_connect_oss_spark.operators.dedup import _fan_out
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    tok = X.sql_tokens(text_col, "spark")
    hh = H.shingle_hashes(H.word_shingles(tok, ngram, "spark"), "spark")
    sh = (_fan_out(docs)
          .select(F.col(source_col).alias("src"),
                  F.explode(F.expr(hh)).alias("h"))
          .distinct())
    partials = (sh.groupBy("src", F.spark_partition_id().alias("_pid"))
                .agg(F.slice(F.array_sort(F.collect_list("h")), 1, k)
                     .alias("ph"),
                     F.count(F.lit(1)).alias("pn")))
    # both sides of the pair self-join read this sources-sized frame —
    # staged so the corpus scan/distinct/fold pipeline runs ONCE
    # (without it Catalyst duplicates the whole subtree per side:
    # 2 corpus scans, 7 Exchanges vs 3 + the sort)
    sk = stage_local(
        partials.groupBy("src")
        .agg(F.slice(F.array_sort(F.flatten(F.collect_list("ph"))),
                     1, k).alias("km"),
             F.sum("pn").alias("n")))
    a = sk.select(F.col("src").alias("source_a"),
                  F.col("km").alias("ka"), F.col("n").alias("n_a"))
    b = sk.select(F.col("src").alias("source_b"),
                  F.col("km").alias("kb"), F.col("n").alias("n_b"))
    u = f"slice(array_sort(array_distinct(concat(ka, kb))), 1, {k})"
    both = (f"size(filter({u}, x -> array_contains(ka, x) "
            f"AND array_contains(kb, x)))")
    usz = f"size({u})"
    union_est = (f"CASE WHEN {usz} < {k} THEN CAST({usz} AS DOUBLE) "
                 f"ELSE ({k} - 1) * {HASH_SPACE} "
                 f"/ element_at({u}, {k}) END")
    jac = f"{both} / CAST({usz} AS DOUBLE)"
    return (a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
            .select("source_a", "source_b", "n_a", "n_b",
                    F.round(F.expr(union_est), 4).alias("union_est"),
                    F.round(F.expr(jac), 4).alias("jaccard_est"),
                    F.round(F.expr(f"({jac}) * ({union_est})"), 4)
                    .alias("inter_est"))
            .orderBy("source_a", "source_b"))


def kmv_source_overlap_oracle_sql(table_expr: str, ngram: int = 3,
                                  k: int = KMV_K, text_col: str = "text",
                                  source_col: str = "source") -> str:
    """DuckDB oracle for kmv_source_overlap: same hashes, same k-min
    algebra, per-source grouped form."""
    from kafka_connect_oss_spark.functions import text as X

    dtok = X.sql_tokens(text_col, "duckdb")
    hh = H.shingle_hashes(H.word_shingles(dtok, ngram, "duckdb"), "duckdb")
    u = f"list_sort(list_distinct(ka || kb))[1:{k}]"
    both = (f"len(list_filter({u}, x -> list_contains(ka, x) "
            f"AND list_contains(kb, x)))")
    usz = f"len({u})"
    union_est = (f"CASE WHEN {usz} < {k} THEN CAST({usz} AS DOUBLE) "
                 f"ELSE ({k} - 1) * {HASH_SPACE} / ({u})[{k}] END")
    jac = f"{both} / CAST({usz} AS DOUBLE)"
    return f"""WITH sh AS (
      SELECT DISTINCT {source_col} AS src, UNNEST({hh}) AS h
      FROM {table_expr}),
    sk AS (SELECT src, list_sort(list(h))[1:{k}] AS km,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM sh GROUP BY src)
    SELECT a.src AS source_a, b.src AS source_b,
           a.n AS n_a, b.n AS n_b,
           ROUND({union_est}, 4) AS union_est,
           ROUND({jac}, 4) AS jaccard_est,
           ROUND(({jac}) * ({union_est}), 4) AS inter_est
    FROM (SELECT src, km AS ka, n FROM sk) a
    JOIN (SELECT src, km AS kb, n FROM sk) b ON a.src < b.src
    ORDER BY source_a, source_b"""


def kmv_overlap_oracle_sql(a_sql: str, b_sql: str, key_sql: str,
                           k: int = KMV_K) -> str:
    """DuckDB oracle for kmv_key_overlap over the same two key sets."""
    h = H.base_hash("CAST(k AS VARCHAR)", "duckdb")
    u = f"list_sort(list_distinct(ka || kb))[1:{k}]"
    both = (f"len(list_filter({u}, x -> list_contains(ka, x) "
            f"AND list_contains(kb, x)))")
    usz = f"len({u})"
    union_est = (f"CASE WHEN {usz} < {k} THEN CAST({usz} AS DOUBLE) "
                 f"ELSE ({k} - 1) * {HASH_SPACE} / ({u})[{k}] END")
    jac = f"{both} / CAST({usz} AS DOUBLE)"
    return f"""WITH da AS (SELECT DISTINCT {key_sql} AS k FROM ({a_sql})),
    db AS (SELECT DISTINCT {key_sql} AS k FROM ({b_sql})),
    sa AS (SELECT list_sort(list({h}))[1:{k}] AS ka,
                  COUNT(*) AS n_a FROM da),
    sb AS (SELECT list_sort(list({h}))[1:{k}] AS kb,
                  COUNT(*) AS n_b FROM db),
    ix AS (SELECT CAST(COUNT(*) AS BIGINT) AS inter_exact
           FROM da JOIN db USING (k))
    SELECT n_a, n_b, inter_exact,
           ROUND({union_est}, 4) AS union_est,
           ROUND({jac}, 4) AS jaccard_est,
           ROUND(({jac}) * ({union_est}), 4) AS inter_est
    FROM sa, sb, ix"""


# ---------------------------------------------------------------------------
# Count-Min sketch: fixed-memory frequency estimation (heavy hitters)
# ---------------------------------------------------------------------------

#: d pairwise-independent rows reusing the first 4 public minhash
#: coefficient pairs; w buckets per row. Memory = d*w counters TOTAL,
#: independent of vocabulary size — the point of the sketch at 100 TB,
#: where the exact token-frequency table is itself corpus-scale.
CMS_D = 4
CMS_W = 1024


def _cms_buckets(h_expr: str, w: int) -> list[str]:
    """Bucket expression per CMS row j — dialect-neutral integer math
    (universal hashing over the shared 60-bit base hash)."""
    return [f"({H.universal_hash(h_expr, a, b)} % {w})"
            for a, b in H.MINHASH_COEFFS[:CMS_D]]


def _cms_cells_array(h_expr: str, w: int) -> str:
    """Spark-only: all d (j, bucket) cells of one hash as ONE array of
    structs, so a single explode fans the token stream out d ways — no
    d-branch union re-reading the input."""
    cells = ", ".join(
        f"struct(CAST({j} AS INT) AS j, CAST({b} AS BIGINT) AS bucket)"
        for j, b in enumerate(_cms_buckets(h_expr, w)))
    return f"array({cells})"


def cms_table(docs: DataFrame, text_col: str = "text",
              w: int = CMS_W) -> DataFrame:
    """The d x w counter table (j, bucket, cnt) over whitespace tokens.

    ONE token explode -> d bucket projections union'd -> one
    map-side-combined aggregate; at most d*w rows ever cross the final
    shuffle or leave the operator. The table is MERGEABLE (sum matching
    cells) across shards, batches, or streaming micro-batches — the
    property that lets a 100 TB corpus maintain running token
    frequencies in kilobytes of state.
    """
    from kafka_connect_oss_spark.functions import text as X

    tok = docs.select(F.explode(
        F.expr(X.sql_tokens(text_col, "spark"))).alias("t"))
    h = tok.select(F.expr(H.base_hash("t", "spark")).alias("h"))
    return (h.select(F.explode(F.expr(_cms_cells_array("h", w))).alias("c"))
            .select("c.j", "c.bucket")
            .groupBy("j", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of any number of stacked CMS tables (same d, w):
    the mergeability property as an operator. Input is the union (or a
    partitioned parquet read) of per-shard/per-batch ``cms_table``
    outputs; the result is exactly the sketch of the concatenated
    corpora (pinned by tests/test_cms.py::test_mergeability). Cost is
    one aggregate over (#shards * d * w) rows — kilobytes, never
    corpus-scale."""
    return (sketches.groupBy("j", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def cms_calibration(docs: DataFrame, k: int = 20, text_col: str = "text",
                    w: int = CMS_W) -> DataFrame:
    """CMS point-query error on the exact top-k tokens: (token,
    exact_freq, cms_est, overestimate). The CMS one-sided guarantee —
    est >= exact always, est <= exact + eps*N with probability 1-delta —
    makes `overestimate` the sketch-sizing dial an operator reads before
    trusting the d x w table for pruning decisions (the
    minhash_est_calibration pattern applied to frequencies).

    The exact top-k is a TakeOrdered over the token counts (total order:
    freq desc, token asc — deterministic across engines); the estimate
    join touches k*d sketch cells.
    """
    from kafka_connect_oss_spark.functions import text as X
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    tok = stage_local(docs.select(F.explode(
        F.expr(X.sql_tokens(text_col, "spark"))).alias("t")))
    # the sketch and the exact counts ride the SAME staged token frame
    h = tok.select(F.expr(H.base_hash("t", "spark")).alias("h"))
    cms = (h.select(F.explode(F.expr(_cms_cells_array("h", w))).alias("c"))
           .select("c.j", "c.bucket")
           .groupBy("j", "bucket")
           .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    top = (tok.groupBy("t")
           .agg(F.count(F.lit(1)).cast("long").alias("exact_freq"))
           .orderBy(F.col("exact_freq").desc(), F.col("t"))
           .limit(k)
           .withColumn("h", F.expr(H.base_hash("t", "spark"))))
    cand = (top.select(
        "t", "exact_freq",
        F.explode(F.expr(_cms_cells_array("h", w))).alias("c"))
        .select("t", "exact_freq", "c.j", "c.bucket"))
    est = (cand.join(F.broadcast(cms), ["j", "bucket"])
           .groupBy("t", "exact_freq")
           .agg(F.min("cnt").alias("cms_est")))
    return est.select(
        F.col("t").alias("token"), "exact_freq", "cms_est",
        (F.col("cms_est") - F.col("exact_freq")).alias("overestimate"))


def cms_table_oracle_sql(table_expr: str, text_col: str = "text",
                         w: int = CMS_W) -> str:
    """DuckDB mirror of ``cms_table`` — the whole-corpus d x w counter
    table. Because the table is mergeable (cms_merge), this is ALSO the
    oracle for any sharded/streamed build over the same rows: the merge
    of per-batch sketches must equal this batch sketch cell-for-cell."""
    from kafka_connect_oss_spark.functions import text as X

    hv = H.base_hash("t", "duckdb")
    buckets = _cms_buckets("h", w)
    cms_rows = " UNION ALL ".join(
        f"SELECT CAST({j} AS INTEGER) AS j, CAST({b} AS BIGINT) AS bucket"
        f" FROM h" for j, b in enumerate(buckets))
    return f"""WITH tok AS (
      SELECT unnest({X.sql_tokens(text_col, 'duckdb')}) AS t
      FROM {table_expr}),
    h AS (SELECT {hv} AS h FROM tok)
    SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ({cms_rows}) GROUP BY j, bucket
    ORDER BY j, bucket"""


def cms_calibration_oracle_sql(table_expr: str, k: int = 20,
                               text_col: str = "text",
                               w: int = CMS_W) -> str:
    """DuckDB mirror of ``cms_calibration`` — same hashes, same buckets,
    same total order for the top-k."""
    from kafka_connect_oss_spark.functions import text as X

    hv = H.base_hash("t", "duckdb")
    buckets = _cms_buckets("h", w)
    cms_rows = " UNION ALL ".join(
        f"SELECT CAST({j} AS INTEGER) AS j, CAST({b} AS BIGINT) AS bucket"
        f" FROM h" for j, b in enumerate(buckets))
    cand_rows = " UNION ALL ".join(
        f"SELECT t, exact_freq, CAST({j} AS INTEGER) AS j,"
        f" CAST({b} AS BIGINT) AS bucket FROM cand"
        for j, b in enumerate(buckets))
    return f"""WITH tok AS (
      SELECT unnest({X.sql_tokens(text_col, 'duckdb')}) AS t
      FROM {table_expr}),
    h AS (SELECT {hv} AS h FROM tok),
    cms AS (SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ({cms_rows}) GROUP BY j, bucket),
    top AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_freq
            FROM tok GROUP BY t
            ORDER BY exact_freq DESC, t LIMIT {k}),
    cand AS (SELECT t, exact_freq, {hv} AS h FROM top),
    cells AS ({cand_rows}),
    est AS (SELECT t, exact_freq, MIN(cnt) AS cms_est
            FROM cells JOIN cms USING (j, bucket)
            GROUP BY t, exact_freq)
    SELECT t AS token, exact_freq, cms_est,
           cms_est - exact_freq AS overestimate
    FROM est"""
