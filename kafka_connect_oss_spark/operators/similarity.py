"""Similarity search over embeddings (driver-mandated extension).

Three paths:

  brute-force top-k   broadcast the query vector, one narrow pass computing
                      cosine, TopK via sort+limit (Spark executes this as
                      TakeOrderedAndProject — per-partition heaps + a tiny
                      driver merge, NOT a global sort). Exact; the baseline.
  sign-LSH ANN        bucket every vector by the signs of dot(v, plane_j)
                      for deterministic hyperplanes, probe only the query's
                      bucket. At 100 TB the bucket column is a partition/
                      cluster key so a probe touches ~1/2^planes of data.
  IVF ANN             assign every vector to its nearest centroid (broadcast
                      K centroids, one narrow pass + argmax); probe only the
                      nprobe best centroids for the query. The cid column is
                      the physical partition key at scale.

No UDFs: dot products are zip_with/aggregate (codegen-adjacent HOFs); all
vectors are unit-normalized ONCE in a narrow pass (functions/vectors.
normalized_sql) so every comparison is a single dot product — HOF lambdas
are interpreted, so shaving the two norm folds per comparison is ~3x.
Planes/centroids are integer-generated/data-derived so DuckDB oracles
reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_oss_spark.functions import rounding as R
from kafka_connect_oss_spark.functions import vectors as V


def with_normalized(embeddings: DataFrame, vec_col: str = "embedding",
                    out_col: str = "nv", fan_out: bool = True) -> DataFrame:
    """Add the unit-normalized vector column (narrow, once per row).

    The normalize fold is an interpreted HOF, so a corpus-side caller on
    a small local scan (1-2 input splits) would serialize it onto one
    core — fan out first (no-op at production split counts). Callers
    normalizing TINY frames (query vectors, seed centroids/codebooks)
    pass fan_out=False to keep their 1-row plans shuffle-free."""
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    base = _fan_out(embeddings) if fan_out else embeddings
    nv = V.normalized_sql(f"cast({vec_col} as array<double>)", "spark")
    return base.withColumn(out_col, F.expr(nv))


def query_vector(spark: SparkSession, embeddings: DataFrame,
                 vec_id: int, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """1-row DataFrame holding the unit-normalized query vector."""
    return (with_normalized(embeddings.where(F.col(id_col) == vec_id),
                            vec_col, "qv", fan_out=False)
            .select("qv"))


def topk_cosine(embeddings: DataFrame, query: DataFrame, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine: broadcast 1-row query, narrow pass, TopK."""
    scored = (with_normalized(embeddings, vec_col)
              .crossJoin(F.broadcast(query))
              .select(id_col,
                      R.fround(V.dot(F.col("nv"), F.col("qv")), 6)
                      .alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def with_lsh_bucket(embeddings: DataFrame, n_planes: int = 4,
                    vec_col: str = "nv") -> DataFrame:
    """Add the sign-LSH bucket id (narrow; the 100 TB layout would
    partition/cluster the table by this column). Buckets are computed on
    the normalized vector — signs are scale-invariant, so it equals the
    raw-vector bucket."""
    return embeddings.withColumn(
        "bucket", F.expr(V.lsh_bucket_sql(vec_col, n_planes, "spark")))


def ann_lsh_topk(embeddings: DataFrame, query: DataFrame, k: int = 10,
                 n_planes: int = 4, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: restrict the exact scorer to the query's bucket.

    Single-probe (bucket equality). Multi-probe = relax the equality to a
    hamming ball over bucket bits; same plan shape.
    """
    bucketed = with_lsh_bucket(with_normalized(embeddings, vec_col), n_planes)
    qb = (with_lsh_bucket(query.withColumnRenamed("qv", "nv"), n_planes)
          .select(F.col("nv").alias("qv"), F.col("bucket").alias("qbucket")))
    scored = (bucketed.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
              .select(id_col, "bucket",
                      R.fround(V.dot(F.col("nv"), F.col("qv")), 6)
                      .alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def ann_lsh_multiprobe_topk(embeddings: DataFrame, query: DataFrame,
                            k: int = 10, n_planes: int = 4,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Multi-probe LSH: search the query's bucket plus every bucket at
    hamming distance 1 (one plane flipped) — recall of ~(n_planes+1)x the
    single-probe candidate pool for the same index, no rebuild. The probe
    list stays tiny (n_planes+1 rows) and broadcasts; plan shape is
    identical to single-probe with an IN-list bucket join."""
    bucketed = with_lsh_bucket(with_normalized(embeddings, vec_col), n_planes)
    qb = (with_lsh_bucket(query.withColumnRenamed("qv", "nv"), n_planes)
          .select(F.col("nv").alias("qv"), F.col("bucket").alias("qbucket")))
    masks = F.array(*[F.lit(m) for m in [0] + [1 << j for j in range(n_planes)]])
    probes = (qb.withColumn("m", F.explode(masks))
              .select("qv", F.expr("cast(qbucket ^ m as bigint)")
                      .alias("pbucket")))
    scored = (bucketed.join(F.broadcast(probes),
                            F.col("bucket") == F.col("pbucket"))
              .select(id_col, "bucket",
                      R.fround(V.dot(F.col("nv"), F.col("qv")), 6)
                      .alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


# ---- deterministic random projection (dimensionality reduction) ---------
# sign[j][i] = +1 iff ((6211*(j+7) + 104729*(i+13) + 353) mod 9973) is even —
# integer-generated like the LSH planes, so the DuckDB oracle rebuilds the
# identical +/-1 matrix and both engines fold the identical doubles in the
# identical left-to-right order (bit-exact sums, no RNG to share).

RP_DIM = 8


def rp_sign(j: int, i: int) -> int:
    return 1 if ((6211 * (j + 7) + 104729 * (i + 13) + 353) % 9973) % 2 == 0 else -1


def _rp_term_sql(vec_expr: str, j: int, dim: int, dialect: str) -> str:
    """Signed sum over the input dims for output component j."""
    parts = []
    for i in range(dim):
        elem = (f"CAST(element_at({vec_expr}, {i + 1}) AS DOUBLE)"
                if dialect == "spark"
                else f"CAST({vec_expr}[{i + 1}] AS DOUBLE)")
        parts.append(("+ " if rp_sign(j, i) > 0 else "- ") + elem)
    return "CAST(0.0 AS DOUBLE) " + " ".join(parts)


def random_projection(embeddings: DataFrame, dim: int,
                      out_dim: int = RP_DIM, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Signed random projection (Achlioptas ±1 family): project ``dim``-d
    embeddings to ``out_dim`` components via a deterministic ±1 matrix —
    the standard pre-ANN compression (Johnson–Lindenstrauss: pairwise
    distances preserved within 1±eps) and the generator of sign-LSH codes.

    A pure narrow projection — no shuffle, no Python, no model state: at
    100 TB this runs inside whole-stage codegen over the scan, and the
    packed ``rp_code`` column is the natural partition/cluster key for a
    downstream bucketed ANN layout (finer-grained than with_lsh_bucket's
    4-plane bucket; here every output component doubles as a plane).

    Returns (id_col, rp0..rp{out_dim-1} rounded to 4, rp_code).
    ``rp_code`` is computed from the UNIT-NORMALIZED vector with the exact
    ``rp_code_sql`` expression ``ann_rp_topk`` uses for its index codes, so
    a table physically partitioned on this column serves rp-ANN probes
    bit-for-bit (signs agree mathematically under positive scaling, but
    float fold order differs between raw and normalized forms — sharing
    one form removes the near-zero sign-flip hazard). The rp components
    themselves stay raw-vector projections (the JL-compressed features).
    """
    vec = f"cast({vec_col} as array<double>)"
    comps = [F.expr(_rp_term_sql(vec, j, dim, "spark")).alias(f"_raw{j}")
             for j in range(out_dim)]
    raw = with_normalized(embeddings, vec_col).select(
        id_col, *comps,
        F.expr(rp_code_sql("nv", dim, out_dim, "spark")).alias("rp_code"))
    return raw.select(
        id_col,
        *[R.fround(F.col(f"_raw{j}"), 4).alias(f"rp{j}")
          for j in range(out_dim)],
        "rp_code")


def random_projection_oracle_sql(table_expr: str, dim: int,
                                 out_dim: int = RP_DIM,
                                 vec_col: str = "embedding",
                                 id_col: str = "vec_id") -> str:
    from kafka_connect_oss_spark.functions import vectors as V2
    vec = f"CAST({vec_col} AS DOUBLE[])"
    raws = ", ".join(
        f"({_rp_term_sql(vec, j, dim, 'duckdb')}) AS _raw{j}"
        for j in range(out_dim))
    nv = V2.normalized_sql(vec, "duckdb")
    code = rp_code_sql("nv", dim, out_dim, "duckdb")
    rps = ", ".join(f"ROUND(_raw{j}, 4) AS rp{j}" for j in range(out_dim))
    return (f"WITH raw AS (SELECT {id_col}, {raws}, {nv} AS nv "
            f"FROM {table_expr}) "
            f"SELECT {id_col}, {rps}, {code} AS rp_code "
            f"FROM raw")


def quantize_embeddings(embeddings: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Per-vector min/max int8 quantization: q_i = clamp(floor((x_i - mn) *
    255 / (mx - mn))) with the (mn, mx) pair kept for dequantization — the
    standard 4x storage/bandwidth cut for a 100 TB embedding table ahead
    of ANN (scalar quantization, the SQ8 of the FAISS family; public
    technique).

    A pure narrow projection (array_min/array_max + one transform inside
    codegen-adjacent HOFs): zero shuffle at any scale, and the oracle
    reproduces every code bit-for-bit because both engines fold the
    identical doubles in the identical order (floor/clamp of identical
    doubles is identical). Constant vectors (mx == mn) quantize to 0.

    Returns (id_col, mn, mx rounded to 6, q) — ``q`` is the code vector
    serialized as a comma-joined string (scalar, so the driver's
    canonicalizer can hash it; split(q, ',') recovers the array form).
    """
    vec = f"cast({vec_col} as array<double>)"
    mn, mx = f"array_min({vec})", f"array_max({vec})"
    q = (f"array_join(transform({vec}, x -> CAST(least(255.0, greatest(0.0, "
         f"floor(CASE WHEN {mx} = {mn} THEN 0.0 "
         f"ELSE (x - {mn}) * 255.0 / ({mx} - {mn}) END))) AS INT)), ',')")
    return embeddings.select(
        id_col,
        R.fround(F.expr(mn), 6).alias("mn"),
        R.fround(F.expr(mx), 6).alias("mx"),
        F.expr(q).alias("q"))


def quantize_embeddings_oracle_sql(table_expr: str,
                                   vec_col: str = "embedding",
                                   id_col: str = "vec_id") -> str:
    vec = f"CAST({vec_col} AS DOUBLE[])"
    mn, mx = f"list_min({vec})", f"list_max({vec})"
    q = (f"array_to_string(list_transform({vec}, "
         f"x -> CAST(least(255.0, greatest(0.0, "
         f"floor(CASE WHEN {mx} = {mn} THEN 0.0 "
         f"ELSE (x - {mn}) * 255.0 / ({mx} - {mn}) END))) AS INT)), ',')")
    return (f"SELECT {id_col}, ROUND({mn}, 6) AS mn, ROUND({mx}, 6) AS mx, "
            f"{q} AS q FROM {table_expr}")


def rp_code_sql(vec_expr: str, dim: int, out_dim: int, dialect: str) -> str:
    """Packed sign code of the random projection (bit j set iff component
    j > 0) as one expression — the bucketing key for rp-based ANN.
    Evaluated on the NORMALIZED vector everywhere (operator and oracle),
    so both engines take signs of the identical doubles."""
    terms = [f"(CASE WHEN ({_rp_term_sql(vec_expr, j, dim, dialect)}) > 0 "
             f"THEN {1 << j} ELSE 0 END)" for j in range(out_dim)]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def ann_rp_topk(embeddings: DataFrame, query: DataFrame, k: int = 10,
                dim: int = 64, out_dim: int = RP_DIM,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k via the random-projection sign code: restrict the
    exact scorer to vectors sharing the query's rp_code — the 8-plane
    sibling of ann_lsh_topk (finer buckets: 2^8 vs 2^4), demonstrating
    rp_code as the physical partition key the projection operator
    advertises. Same plan shape: broadcast 1-row query + code, equi-join
    on the code, narrow dot products, TopK."""
    emb = (with_normalized(embeddings, vec_col)
           .withColumn("rp_code",
                       F.expr(rp_code_sql("nv", dim, out_dim, "spark"))))
    qb = query.select(
        "qv", F.expr(rp_code_sql("qv", dim, out_dim, "spark")).alias("qcode"))
    scored = (emb.join(F.broadcast(qb), F.col("rp_code") == F.col("qcode"))
              .select(id_col, "rp_code",
                      R.fround(V.dot(F.col("nv"), F.col("qv")), 6)
                      .alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Deterministic seed centroids: the n lowest-id vectors, normalized.

    Stands in for an offline KMeans fit (pyspark.ml.clustering.KMeans on a
    sample, model broadcast) — seed-vector centroids keep the whole index
    SQL-expressible for the oracle while exercising the identical plan
    shape; swap this function for the fitted model at deploy time.
    """
    return (with_normalized(embeddings.where(F.col(id_col) < n_centroids),
                            vec_col, "cv", fan_out=False)
            .select(F.col(id_col).alias("cid"), "cv"))


def kmeans_centroids(embeddings: DataFrame, n_centroids: int = 16,
                     n_iters: int = 5, vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     metric: str = "cosine",
                     tol: float = 1e-3,
                     sample_size: int = 65536) -> DataFrame:
    """Fitted centroids: sample-trained k-means (Lloyd's), the
    deploy-time replacement for the seed stand-ins.

    ``metric="cosine"`` (IVF over unit vectors): inputs are normalized
    once, assignment is argmax-dot, means re-normalize each round
    (spherical k-means). ``metric="l2"`` (PQ subspace codebooks):
    inputs are taken as-is, assignment is argmin squared distance with
    first-index tie-break (mirroring pq_encode), means stay raw.

    Round-7 shape — the faiss/ScaNN coarse-quantizer recipe (public):
    TRAIN on a bounded sample, ASSIGN distributed. A fully distributed
    Lloyd's pays one Spark job launch + a k x d collect PER ITERATION —
    measured to dominate the fit wall-clock at every SF — while a
    k<=1024 coarse quantizer gains nothing from seeing more than ~100k
    training vectors. So:

      * SAMPLE — one deterministic hash-stride filter
        (base_hash(id) % ceil(n/sample_size) = 0): content-stable, so
        re-runs/retries/different partitionings train on the SAME rows
        at any scale; the collect is ~sample_size rows regardless of
        corpus size (scale-invariant driver traffic). The preceding
        count() is a column-pruned metadata-cheap scan.
      * FIT — Lloyd's in numpy over the sorted-by-id sample:
        microseconds per round, zero job launches. Assignment ties
        break to the lowest cid (np.arg{max,min} first-hit), means are
        rounded to 9 decimals before normalizing, empty clusters keep
        their previous centroid — bit-for-bit re-runnable on the same
        sample.
      * (callers then ASSIGN the full corpus with ivf_assign's
        zero-shuffle literal-centroid argmax.)

    Early exit: stop when max absolute centroid movement <= ``tol``
    (default 1e-3 on unit vectors; ``tol=0`` restores fixed
    iterations). Deterministic end-to-end — no Date.now/rand anywhere —
    and the lazy DuckDB oracle refits through this very function on the
    same data, so query and oracle carry the identical model.

    Not SQL-oracle-expressible (iterative); correctness is pinned by
    recall-floor and invariant tests (test_similarity_kmeans.py) instead
    of a DuckDB mirror — the driver records the registry entry as a
    rows-only check by design.
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    import numpy as np

    from kafka_connect_oss_spark.functions import hashing as H

    spark = embeddings.sparkSession
    if metric == "cosine":
        e = with_normalized(embeddings, vec_col).select(id_col, "nv")
    else:
        e = embeddings.select(
            id_col, F.expr(f"cast({vec_col} as array<double>)").alias("nv"))
    n = embeddings.count()
    if n < n_centroids:
        raise ValueError(f"need >= {n_centroids} vectors, got {n}")
    step = max(1, n // sample_size)
    samp = e if step == 1 else e.where(F.expr(
        f"{H.base_hash(f'CAST({id_col} AS STRING)', 'spark')} % {step} = 0"))
    rows = sorted(samp.collect(), key=lambda r: r[0])
    if len(rows) < n_centroids:
        # pathological stride underflow: bounded deterministic fallback
        rows = sorted(e.orderBy(id_col).limit(sample_size).collect(),
                      key=lambda r: r[0])
    # a zero-norm embedding normalizes to an array of NULLs under the
    # round-7 guard — it can anchor no centroid, so drop it from the
    # TRAINING sample (ivf_assign still assigns it downstream, to the
    # lowest cid, exactly as before)
    rows = [r for r in rows
            if r[1] is not None and all(x is not None for x in r[1])]
    if len(rows) < n_centroids:
        raise ValueError(
            f"need >= {n_centroids} usable vectors, got {len(rows)}")
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    cents = X[:n_centroids].copy()      # k lowest-id sample vectors

    for _ in range(n_iters):
        if metric == "cosine":
            assign = np.argmax(X @ cents.T, axis=1)
        else:
            d2 = ((X * X).sum(axis=1)[:, None] - 2.0 * (X @ cents.T)
                  + (cents * cents).sum(axis=1)[None, :])
            assign = np.argmin(d2, axis=1)
        new = cents.copy()
        for ci in range(n_centroids):
            mask = assign == ci
            if not mask.any():
                continue                            # empty cluster: keep
            mean = np.round(X[mask].mean(axis=0), 9)
            if metric == "l2":
                new[ci] = mean
                continue
            norm = float(np.sqrt((mean * mean).sum()))
            if norm == 0.0:
                continue
            new[ci] = mean / norm
        moved = float(np.abs(new - cents).max())
        cents = new
        if moved <= tol:
            break

    return spark.createDataFrame(
        [(ci + 1, [float(x) for x in cents[ci]])
         for ci in range(n_centroids)],
        "cid int, cv array<double>")


#: above this many centroids ivf_assign switches from the inlined-literal
#: argmax to the broadcast-join form: at K=100k, d=32 the literals alone
#: are a ~50 MB SQL expression — Catalyst tree transforms and codegen
#: fall over long before that, while a 25 MB broadcast RELATION is
#: routine. 4096 x 64d ≈ 2 MB of expression stays comfortably inside
#: analysis/codegen limits.
IVF_LITERAL_MAX_K = 4096


def ivf_assign(embeddings: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding", id_col: str = "vec_id",
               keep_nv: bool = False,
               literal_max_k: int = IVF_LITERAL_MAX_K) -> DataFrame:
    """IVF build: nearest centroid per vector. At 100 TB this output IS
    the physical layout — write the table partitioned/clustered by `cid`
    so probes prune files.

    Two physical strategies, switched on K (round-8; parity pinned by
    test_round8_ops.py::test_ivf_assign_join_path_matches_literal):

    * K <= ``literal_max_k`` (the coarse-quantizer regime): the K
      centroids (k x d doubles, bounded) are collected once and inlined
      as the literal "model broadcast" — the same ASSIGN expression the
      k-means fit runs — so assignment is one NARROW argmax pass with
      ZERO shuffle and ZERO join (the round-7 shape, byte-identical
      plan below the threshold).
    * K > ``literal_max_k`` (the SemDeDup regime — n_centroids grows
      with the corpus, ~100k clusters per Abbas et al. 2023): inlining
      K x d doubles into the expression tree would hand Catalyst a
      multi-MB SQL string (tree transforms + codegen cliff), so the
      centroids stay a DataFrame and ship as a broadcast RELATION
      instead: BroadcastNestedLoopJoin (no shuffle of the corpus) ->
      per-row dot -> one partial-aggregated argmax (max_by over
      (dot, -cid)). The groupBy(id) collapses the K fan-out map-side —
      each input partition owns its ids, so the exchange carries one
      row per vector, never K.

    Both paths break ties to the lowest cid (argmax over (dot, -cid)),
    matching the oracle's row_number ordering exactly. The argmax runs
    on the RAW vector: argmax_c dot(v, c) = argmax_c cos(v, c) because
    the row's norm is a positive per-row constant — and an inlined
    normalize would be re-evaluated once per centroid inside the lambda
    (HOF lambdas don't CSE outer expressions; measured 10x slower). A
    zero vector ties every centroid and takes the lowest cid on both
    paths.

    ``keep_nv=True`` carries the normalized vector through, letting
    callers score candidates without re-normalizing + self-joining the
    corpus (ann_ivf_topk's round-7 plan).
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    vec = f"cast({vec_col} as array<double>)"
    # one action decides the path AND fetches the literal-path model:
    # <= literal_max_k rows back means we already hold all centroids
    head = centroids.head(literal_max_k + 1)
    if len(head) > literal_max_k:
        base = _fan_out(embeddings).withColumn("_v", F.expr(vec))
        dot = ("aggregate(zip_with(_v, cv, (x, y) -> x * y), 0D, "
               "(acc, v) -> acc + v)")
        scored = (base.crossJoin(F.broadcast(centroids))
                  .select(id_col,
                          *([F.expr(V.normalized_sql("_v", "spark"))
                             .alias("nv")] if keep_nv else []),
                          F.expr(dot).alias("_dd"), F.col("cid")))
        best = F.max(F.struct(F.col("_dd").alias("dd"),
                              (-F.col("cid")).alias("nc"))).alias("_b")
        aggs = [best] + ([F.first("nv").alias("nv")] if keep_nv else [])
        out = scored.groupBy(id_col).agg(*aggs)
        cols = [id_col] + (["nv"] if keep_nv else [])
        return out.select(*cols,
                          (-F.col("_b.nc")).cast("int").alias("cid"))

    rows = sorted(head, key=lambda r: r.cid)
    cvs = [list(r.cv) for r in rows]
    cids = [int(r.cid) for r in rows]
    lit = _lit_vecs(cvs)
    dots = (f"transform({lit}, c -> aggregate(zip_with(_v, c, "
            f"(x, y) -> x * y), 0D, (acc, v) -> acc + v))")
    cid_arr = "array(" + ", ".join(str(c) for c in cids) + ")"
    nearest = (f"-array_max(zip_with({dots}, {cid_arr}, "
               f"(dd, c) -> named_struct('dd', dd, 'nc', -c))).nc")
    base = _fan_out(embeddings).withColumn("_v", F.expr(vec))
    cols = [id_col, F.expr(V.normalized_sql("_v", "spark")).alias("nv")] \
        if keep_nv else [F.col(id_col)]
    return base.select(*cols, F.expr(nearest).cast("int").alias("cid"))


PQ_M = 4          # subspaces
PQ_CODES = 16     # centroids per subspace codebook


def pq_codebooks(embeddings: DataFrame, m: int = PQ_M,
                 k_codes: int = PQ_CODES, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> list[list[list[float]]]:
    """Deterministic per-subspace codebooks: subvectors of the k_codes
    lowest-id normalized vectors — the seed stand-in for per-subspace
    KMeans (same swap point as ivf_centroids), keeping the index
    SQL-expressible for the oracle. Tiny: m*k*(d/m) doubles collected once
    and inlined as literals (the deploy-time model broadcast)."""
    rows = (with_normalized(embeddings.where(F.col(id_col) < k_codes),
                            vec_col, fan_out=False)
            .orderBy(id_col).select("nv").collect())
    d = len(rows[0].nv)
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return [[list(r.nv[mi * sub:(mi + 1) * sub]) for r in rows]
            for mi in range(m)]


def pq_codebooks_kmeans(embeddings: DataFrame, m: int = PQ_M,
                        k_codes: int = PQ_CODES, n_iters: int = 3,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> list[list[list[float]]]:
    """Fitted PQ codebooks: per-subspace Euclidean k-means over slices of
    the normalized vectors — the deploy-time replacement for
    ``pq_codebooks``'s seed stand-in. Each subspace fit reuses
    ``kmeans_centroids(metric="l2")`` (argmin squared distance with the
    same first-index tie-break ``pq_encode`` applies), so the fitted
    codebooks drop into the identical encode/ADC/re-rank plan."""
    df = with_normalized(embeddings, vec_col)
    d = len(df.select("nv").first().nv)
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    cbs = []
    for mi in range(m):
        sv = df.select(id_col,
                       F.expr(f"slice(nv, {mi * sub + 1}, {sub})")
                       .alias("sv"))
        cents = kmeans_centroids(sv, n_centroids=k_codes, n_iters=n_iters,
                                 vec_col="sv", id_col=id_col, metric="l2")
        rows = sorted(cents.collect(), key=lambda r: r.cid)
        cbs.append([list(r.cv) for r in rows])
    return cbs


def _lit_vecs(cb_m: list[list[float]]) -> str:
    """array<array<double>> literal (repr round-trips doubles exactly)."""
    return "array(" + ", ".join(
        "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
        for c in cb_m) + ")"


def pq_encode(embeddings: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              id_col: str = "vec_id",
              pre_normalized: bool = False) -> DataFrame:
    """PQ build: quantize every vector to one code per subspace
    (argmin L2 against the literal codebook) — a PURE NARROW pass, no
    shuffle, no join: at 100 TB the encode is a projection over the scan
    and the stored (id, code_0..m) index is m bytes/vector.

    The argmin evaluates the 16-distance array ONCE per row:
    zip_with(dists, 1..k, struct) + array_min picks (min dist, min j)
    lexicographically — first-occurrence tie-break, matching the oracle's
    ORDER BY dist, j.

    ``pre_normalized=True``: the input already carries the unit ``nv``
    column (e.g. an ``ivf_assign(keep_nv=True)`` candidate frame) — skip
    the normalize pass instead of re-deriving it."""
    df = embeddings if pre_normalized else with_normalized(embeddings, vec_col)
    sub = len(codebooks[0][0])
    k = len(codebooks[0])
    for mi, cb_m in enumerate(codebooks):
        sv = f"slice(nv, {mi * sub + 1}, {sub})"
        dists = (f"transform({_lit_vecs(cb_m)}, c -> aggregate("
                 f"zip_with({sv}, c, (x, y) -> (x - y) * (x - y)), 0D, "
                 f"(acc, v) -> acc + v))")
        df = df.withColumn(
            f"code_{mi}",
            F.expr(f"array_min(zip_with({dists}, sequence(1, {k}), "
                   f"(d, j) -> struct(d, j))).j").cast("int"))
    return df


def ann_pq_topk(embeddings: DataFrame, query: DataFrame, k: int = 10,
                m: int = PQ_M, k_codes: int = PQ_CODES,
                rerank_factor: int = 4, vec_col: str = "embedding",
                id_col: str = "vec_id",
                codebooks: list[list[list[float]]] | None = None) -> DataFrame:
    """PQ-ANN top-k with ADC scoring + exact re-rank.

    Asymmetric distance computation: approx_dot(q, v) = sum over
    subspaces of dot(q_m, codebook[m][code_m(v)]) — for each corpus row
    that is m table lookups + m short dots, ALL narrow (the classic PQ
    property: the scan never touches full vectors, only codes). The top
    rerank_factor*k by approx score are re-ranked by exact cosine —
    rerank candidates are the only rows whose full vectors are read.
    """
    cbs = (codebooks if codebooks is not None
           else pq_codebooks(embeddings, m, k_codes, vec_col, id_col))
    sub = len(cbs[0][0])
    enc = pq_encode(embeddings, cbs, vec_col, id_col)
    scored = enc.crossJoin(F.broadcast(query))
    approx = None
    for mi, cb_m in enumerate(cbs):
        qsub = f"slice(qv, {mi * sub + 1}, {sub})"
        term = F.expr(
            f"aggregate(zip_with({qsub}, element_at({_lit_vecs(cb_m)}, "
            f"code_{mi}), (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        approx = term if approx is None else approx + term
    cand = (scored.withColumn("_approx", approx)
            .orderBy(F.col("_approx").desc(), F.col(id_col))
            .limit(rerank_factor * k))
    return (cand.select(id_col,
                        R.fround(F.col("_approx"), 6).alias("approx_score"),
                        R.fround(V.dot(F.col("nv"), F.col("qv")), 6)
                        .alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k))


def ann_ivf_topk(embeddings: DataFrame, query: DataFrame, k: int = 10,
                 n_centroids: int = 16, nprobe: int = 4,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 centroids: DataFrame | None = None) -> DataFrame:
    """IVF probe: rank centroids against the query, exact-search only the
    vectors assigned to the best `nprobe` centroids (~nprobe/n_centroids of
    the corpus; with cid-partitioned layout the scan prunes to those files).

    ``centroids``: pass a fitted (cid, cv) frame — e.g.
    ``kmeans_centroids`` — to probe a trained index; default stays the
    SQL-expressible seed stand-in so the oracle-checked query is exact.
    """
    cents = (centroids if centroids is not None
             else ivf_centroids(embeddings, n_centroids, vec_col, id_col))
    # keep_nv: assignment carries the normalized vector, so scoring needs
    # neither a second normalize pass nor the corpus self-join the round-6
    # plan paid (one scan: assign -> probe filter -> score -> top-k)
    assigned = ivf_assign(embeddings, cents, vec_col, id_col, keep_nv=True)
    probe = (query.crossJoin(F.broadcast(cents))
             .select(F.col("cid"),
                     V.dot(F.col("qv"), F.col("cv")).alias("qcos"))
             .orderBy(F.col("qcos").desc(), F.col("cid")).limit(nprobe)
             .select("cid"))
    cand = assigned.join(F.broadcast(probe), "cid")
    scored = (cand.crossJoin(F.broadcast(query))
              .select(id_col, "cid",
                      R.fround(V.dot(F.col("nv"), F.col("qv")), 6)
                      .alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def ann_ivfpq_topk(embeddings: DataFrame, query: DataFrame, k: int = 10,
                   n_centroids: int = 16, nprobe: int = 4,
                   m: int = PQ_M, k_codes: int = PQ_CODES,
                   rerank_factor: int = 4, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   centroids: DataFrame | None = None,
                   codebooks: list[list[list[float]]] | None = None
                   ) -> DataFrame:
    """Composite IVF+PQ ANN — the "IVFx,PQy" index layout (Jégou,
    Douze & Schmid, TPAMI 2011; the FAISS default for billion-vector
    search), here in its shared-codebook / ``by_residual=False`` form:
    PQ codes quantize the full normalized vector, so ONE codebook set
    serves every inverted list (the residual-encoding variant swaps the
    encode input for ``nv - cv`` and nothing else in the plan).

    Three-stage funnel, each stage touching strictly less data:

    1. **probe** — rank the K coarse centroids against the query
       (broadcast, K rows), keep ``nprobe`` lists: the corpus scan
       prunes to ~nprobe/K of the rows, and with the ``cid``-partitioned
       physical layout (``ivf_assign`` docstring) that is FILE pruning,
       not a filter.
    2. **ADC over codes** — candidates are scored from their m one-byte
       codes + the literal codebook lookup tables: the scan reads m
       bytes/vector, never the full vector (the PQ memory-bound
       property), all narrow codegen.
    3. **exact re-rank** — only the top ``rerank_factor*k`` rows by
       approximate score have their full vectors read for the exact
       cosine; top-k of those is the answer.

    Like the component operators, centroids and codebooks default to the
    SQL-expressible seed stand-ins (lowest-id vectors), keeping the
    whole index oracle-checkable; pass fitted ``kmeans_centroids`` /
    ``pq_codebooks_kmeans`` models at deploy time — every plan shape
    downstream of the models is identical.

    Returns (id_col, cid, approx_score, cosine), top-k by exact cosine.
    """
    cents = (centroids if centroids is not None
             else ivf_centroids(embeddings, n_centroids, vec_col, id_col))
    cbs = (codebooks if codebooks is not None
           else pq_codebooks(embeddings, m, k_codes, vec_col, id_col))
    sub = len(cbs[0][0])
    assigned = ivf_assign(embeddings, cents, vec_col, id_col, keep_nv=True)
    probe = (query.crossJoin(F.broadcast(cents))
             .select(F.col("cid"),
                     V.dot(F.col("qv"), F.col("cv")).alias("qcos"))
             .orderBy(F.col("qcos").desc(), F.col("cid")).limit(nprobe)
             .select("cid"))
    cand = assigned.join(F.broadcast(probe), "cid")
    enc = pq_encode(cand, cbs, vec_col, id_col, pre_normalized=True)
    scored = enc.crossJoin(F.broadcast(query))
    approx = None
    for mi, cb_m in enumerate(cbs):
        qsub = f"slice(qv, {mi * sub + 1}, {sub})"
        term = F.expr(
            f"aggregate(zip_with({qsub}, element_at({_lit_vecs(cb_m)}, "
            f"code_{mi}), (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        approx = term if approx is None else approx + term
    shortlist = (scored.withColumn("_approx", approx)
                 .orderBy(F.col("_approx").desc(), F.col(id_col))
                 .limit(rerank_factor * k))
    return (shortlist.select(
                id_col, "cid",
                R.fround(F.col("_approx"), 6).alias("approx_score"),
                R.fround(V.dot(F.col("nv"), F.col("qv")), 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k))


def semantic_decontam(embeddings: DataFrame, benchmark: DataFrame,
                      threshold: float = 0.95,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      bench_id_col: str = "bench_id",
                      bench_vec_col: str = "bench_nv") -> DataFrame:
    """Embedding-space benchmark decontamination: flag every training
    vector whose cosine against ANY held-out benchmark vector reaches
    ``threshold`` — the semantic sibling of the n-gram
    ``decontaminate``/``decontam_overlap`` family (the contamination
    mode n-gram matching misses: paraphrases and translations of eval
    items; public recipe line: GPT-3 App. C n-gram dedup → SemDeDup-era
    embedding decontamination).

    Scale shape: a benchmark is SMALL BY CONSTRUCTION (eval suites are
    1e3–1e5 items, megabytes of vectors) while the train side is the
    100 TB corpus — so the benchmark side is the broadcast relation and
    the whole operator is ONE narrow pass over the corpus:
    BroadcastNestedLoopJoin fan-out |B| per row, collapsed map-side by
    the per-id max_by partial aggregate (each input partition owns its
    ids — the exchange carries ONE row per train vector, never |B|;
    the same partial-argmax shape as ``ivf_assign``'s join path). No
    corpus shuffle, no pair materialization.

    Ties (two benchmark rows at the same cosine) break to the LOWEST
    benchmark id on both engines. Returns one row per train vector:
    (id_col, best_bench_id, max_cosine, contaminated) — downstream
    drops ``contaminated`` rows or routes them to an audit sink.
    """
    train = with_normalized(embeddings, vec_col)
    scored = (train.crossJoin(F.broadcast(benchmark))
              .select(id_col,
                      F.col(bench_id_col),
                      V.dot(F.col("nv"), F.col(bench_vec_col))
                      .alias("_cos")))
    best = (scored.groupBy(id_col).agg(
        F.expr(f"max_by({bench_id_col}, struct(_cos, -{bench_id_col}))")
        .alias("best_bench_id"),
        F.max("_cos").alias("_max")))
    # no orderBy: the output is corpus-sized — a global sort would be the
    # single most expensive node in the plan; consumers filter or join it
    return best.select(
        id_col, "best_bench_id",
        R.fround(F.col("_max"), 6).alias("max_cosine"),
        (R.fround(F.col("_max"), 6) >= threshold).alias("contaminated"))


def embedding_diversity(embeddings: DataFrame, group_col: str = "label",
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        dim: int | None = None) -> DataFrame:
    """Per-group embedding diversity WITHOUT a pairwise join — the corpus
    health metric (mode collapse / cluster redundancy) a training
    pipeline tracks over its embedding table.

    For unit vectors, sum_{i != j} cos(v_i, v_j) = ||S||^2 - n where
    S = sum v_i (the classic centroid identity / mean resultant length
    of directional statistics — public math). So the MEAN pairwise
    cosine of an n^2 pair set costs ONE elementwise-sum aggregate.

    With ``dim`` given (the fast path): one wide codegen aggregate of
    dim sum(element_at(v, i) / norm) columns + the count — NO explode
    (the posexplode fallback forces the interpreted normalize lambda per
    element: measured 5.8s vs 0.6s on 50k x 64 vectors); the row norm
    folds once per row. Shuffle carries groups x (dim + 1) partial sums.
    Without ``dim`` (unknown width) the posexplode word-count shape runs
    instead — same math, same output.

    At 100 TB both replace an unthinkable n^2 self-join with a
    map-side-combined aggregate. Returns (group_col, n,
    mean_pairwise_cosine, centroid_norm) where centroid_norm = ||S||/n
    in [0, 1] (1 = all vectors identical direction); mean cosine is NULL
    for single-vector groups (no pairs). Rounded to 4 (cross-engine
    float-sum fold order differs ~1e-12).

    Zero-norm vectors are EXCLUDED on both engines (round-6 advisor
    fix): a zero vector has no direction, and without the explicit
    ``_nrm > 0`` guard Spark's x/0 -> NULL silently dropped its
    component sums while ``n`` still counted it (over-subtracting in
    (ss - n)/(n(n-1))), whereas DuckDB's IEEE division produced inf —
    divergent engines AND a wrong statistic. ``n`` therefore counts
    only direction-carrying vectors.
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    nd = F.col("n").cast("double")
    vec = f"cast({vec_col} as array<double>)"
    nrm = (f"sqrt(aggregate(transform({vec}, y -> y * y), 0D, "
           f"(acc, x) -> acc + x))")
    if dim is not None:
        base = (_fan_out(embeddings)
                .select(group_col, F.expr(vec).alias("_v"),
                        F.expr(nrm).alias("_nrm"))
                .where(F.col("_nrm") > 0))
        g = base.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("_v", i + 1) / F.col("_nrm"))
              .alias(f"_s{i}") for i in range(dim)])
        ss = None
        for i in range(dim):
            term = F.col(f"_s{i}") * F.col(f"_s{i}")
            ss = term if ss is None else ss + term
        joined = g.withColumn("_ss", ss)
    else:
        nonzero = embeddings.where(F.expr(nrm) > 0)
        # nullif guard: the filter already drops zero-norm rows, but
        # whole-stage codegen can evaluate the (common-subexpression)
        # division while testing the predicate — under ANSI mode (Spark 4
        # default) a bare x/0 then throws for the very rows being
        # filtered out. NULL division is inert post-filter.
        guarded = f"transform({vec}, x -> x / nullif({nrm}, 0D))"
        emb = nonzero.select(group_col, F.expr(guarded).alias("nv"))
        comp = emb.select(group_col, F.posexplode("nv").alias("pos", "v"))
        ssq = (comp.groupBy(group_col, "pos").agg(F.sum("v").alias("sv"))
               .groupBy(group_col)
               .agg(F.sum(F.col("sv") * F.col("sv")).alias("_ss")))
        cnt = nonzero.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
        joined = cnt.join(ssq, group_col)
    return (joined
            .select(group_col, "n",
                    R.fround(F.when(F.col("n") > 1,
                                    (F.col("_ss") - nd) / (nd * (nd - 1))),
                             4).alias("mean_pairwise_cosine"),
                    R.fround(F.sqrt(F.col("_ss")) / nd, 4)
                    .alias("centroid_norm")))


def embedding_diversity_oracle_sql(table_expr: str, group_col: str = "label",
                                   vec_col: str = "embedding",
                                   id_col: str = "vec_id") -> str:
    from kafka_connect_oss_spark.functions import vectors as V2
    cv = f"CAST({vec_col} AS DOUBLE[])"
    nv = V2.normalized_sql(cv, "duckdb")
    return f"""WITH nrm AS (SELECT {group_col}, {nv} AS nv FROM {table_expr}
      WHERE sqrt(list_dot_product({cv}, {cv})) > 0),
    u AS (SELECT {group_col}, generate_subscripts(nv, 1) AS pos,
                 UNNEST(nv) AS v FROM nrm),
    s AS (SELECT {group_col}, pos, SUM(v) AS sv FROM u GROUP BY 1, 2),
    ssq AS (SELECT {group_col}, SUM(sv * sv) AS ss FROM s GROUP BY 1),
    n AS (SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n FROM nrm
          GROUP BY 1)
    SELECT {group_col}, n,
           ROUND(CASE WHEN n > 1
                 THEN (ss - n) / (CAST(n AS DOUBLE) * (n - 1)) END, 4)
             AS mean_pairwise_cosine,
           ROUND(sqrt(ss) / n, 4) AS centroid_norm
    FROM n JOIN ssq USING ({group_col})"""


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame,
             id_col: str = "doc_id", score_a: str = "score",
             score_b: str = "cosine", kk: int = 60,
             k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval legs (Cormack, Clarke &
    Buettcher, SIGIR 2009 — the public formula Elasticsearch/Vespa ship):

        rrf(d) = sum over legs of 1 / (kk + rank_leg(d))

    with a leg contributing 0 for documents outside its list. The hybrid
    keyword+vector retrieval a training-data pipeline runs for targeted
    curation (find docs that are lexically AND semantically close to a
    probe) — rank fusion needs no score calibration between BM25 and
    cosine, which live on incomparable scales.

    Both inputs are ALREADY top-R lists (bounded frames — bm25_topk /
    topk_cosine legs are TakeOrderedAndProject, per-partition heaps);
    the unpartitioned rank windows and the full-outer join here touch at
    most R rows per leg, so the single-partition window is a deliberate
    bounded-driver-merge, not a scale risk. Ranks are assigned by
    (rounded score DESC, id) — deterministic across engines.

    Returns (id_col, rank_a BIGINT nullable, rank_b BIGINT nullable,
    rrf) — the k highest-fused docs, ties broken by id.
    """
    from pyspark.sql.window import Window

    wa = Window.orderBy(F.col(score_a).desc(), F.col(id_col))
    ra = ranked_a.select(
        F.col(id_col), F.row_number().over(wa).cast("long").alias("rank_a"))
    wb = Window.orderBy(F.col(score_b).desc(), F.col(id_col))
    rb = ranked_b.select(
        F.col(id_col), F.row_number().over(wb).cast("long").alias("rank_b"))
    fused = ra.join(rb, id_col, "full_outer")
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(kk) + F.col("rank_a")), F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(kk) + F.col("rank_b")),
                        F.lit(0.0)))
    return (fused.select(id_col, "rank_a", "rank_b",
                         R.fround(rrf, 6).alias("rrf"))
            .orderBy(F.col("rrf").desc(), F.col(id_col)).limit(k))


# --------------------------------------------------------------------------
# round-9: embedding-space corpus QC (outliers, centroid drift)
# --------------------------------------------------------------------------

#: fixed milli-grid quantization step for the QC operators below: floor
#: (x * 1000) — a GLOBAL grid (unlike SQ8's per-vector min/max), so codes
#: are comparable across vectors and every cross-row aggregate runs on
#: exact BIGINTs. floor of an identical double is identical on both
#: engines, making centroid math engine-exact by construction instead of
#: praying over float summation order.
_MILLI = 1000


def _milli_codes(vec_col: str) -> str:
    return (f"transform(cast({vec_col} as array<double>), "
            f"x -> CAST(floor(x * {_MILLI}) AS BIGINT))")


def embedding_outliers(embeddings: DataFrame, k: int = 5,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       group_col: str = "label") -> DataFrame:
    """Top-``k`` embedding outliers per group: vectors farthest (L2) from
    their group's centroid — the corpus-QC operator that surfaces
    mislabeled / out-of-distribution / corrupted vectors before they
    poison ANN structures or SemDeDup clustering (public technique:
    centroid-distance pruning, e.g. the D4 recipe's prototype distance,
    Tirumala et al. 2023).

    Engine-exact math on the milli-grid: components quantize to BIGINT
    codes (floor(x*1000) — identical doubles floor identically), group
    centroids are floor(sum/n) BIGINTs, per-vector squared distance is
    an exact integer sum, and the single float op (sqrt of an exact
    integer) is IEEE-identical before the final round.

    Scale shape: one posexplode -> (group, dim) partial-agg shuffle
    (64 x groups output rows), centroids broadcast back, per-vector
    integer distance agg, salted-free per-group top-k window (groups x
    k output). No all-pairs anything; distance work is one pass.

    Returns (group_col, id_col, dist, rank) with dist = L2 in original
    units rounded to 4, rank by (dist DESC, id).
    """
    from pyspark.sql.window import Window

    rows = embeddings.select(
        group_col, id_col,
        F.posexplode(F.expr(_milli_codes(vec_col))).alias("_p", "_v"))
    cent = (rows.groupBy(group_col, "_p")
            .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .select(group_col, "_p",
                    F.expr("CAST(floor(CAST(_s AS DOUBLE) / _n) AS BIGINT)")
                    .alias("_c")))
    d2 = (rows.join(F.broadcast(cent), [group_col, "_p"])
          .groupBy(group_col, id_col)
          .agg(F.sum((F.col("_v") - F.col("_c"))
                     * (F.col("_v") - F.col("_c"))).alias("_d2")))
    w = Window.partitionBy(group_col).orderBy(
        F.col("_d2").desc(), F.col(id_col))
    return (d2.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(group_col, id_col,
                    R.fround(F.sqrt(F.col("_d2").cast("double"))
                             / _MILLI, 4).alias("dist"),
                    "rank"))


def embedding_outliers_oracle_sql(table_expr: str, k: int = 5,
                                  vec_col: str = "embedding",
                                  id_col: str = "vec_id",
                                  group_col: str = "label") -> str:
    idx = f"range(1, len({vec_col})+1)"
    codes = (f"list_transform({idx}, i -> CAST(floor(CAST({vec_col}[i] AS "
             f"DOUBLE) * {_MILLI}) AS BIGINT))")
    return f"""WITH rows_ AS (
      SELECT {group_col}, {id_col}, UNNEST({idx}) AS p,
             UNNEST({codes}) AS v
      FROM {table_expr}),
    cent AS (SELECT {group_col}, p,
                    CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT)
                      AS c
             FROM rows_ GROUP BY {group_col}, p),
    d2 AS (SELECT r.{group_col}, r.{id_col},
                  SUM((r.v - cent.c) * (r.v - cent.c)) AS d2
           FROM rows_ r JOIN cent
             ON r.{group_col} = cent.{group_col} AND r.p = cent.p
           GROUP BY r.{group_col}, r.{id_col})
    SELECT {group_col}, {id_col},
           ROUND(sqrt(CAST(d2 AS DOUBLE)) / {_MILLI}, 4) AS dist,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY {group_col}
              ORDER BY d2 DESC, {id_col}) AS rank FROM d2)
    WHERE rank <= {k}"""


def centroid_drift(embeddings: DataFrame, epoch_expr: str,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   group_col: str = "label") -> DataFrame:
    """Per-group centroid drift between two ingest epochs: L1 distance
    between the group's milli-grid centroids computed on epoch 0 vs
    epoch 1 rows (``epoch_expr`` must evaluate to 0/1) — the
    distribution-shift monitor a 100 TB embedding pipeline alarms on
    (an embedding-model regression or a source-mix change moves
    centroids long before downstream metrics notice).

    Same engine-exact integer machinery as ``embedding_outliers``;
    drift is an exact-integer L1 rounded once at the end. One
    (group, epoch, dim) partial-agg shuffle, output rows = groups.

    Returns (group_col, n_0, n_1, l1_drift) for groups present in both
    epochs, drift in original units rounded to 4.
    """
    rows = embeddings.select(
        group_col, F.expr(epoch_expr).cast("int").alias("_e"),
        F.posexplode(F.expr(_milli_codes(vec_col))).alias("_p", "_v"))
    cent = (rows.groupBy(group_col, "_e", "_p")
            .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .select(group_col, "_e", "_p",
                    F.expr("CAST(floor(CAST(_s AS DOUBLE) / _n) AS BIGINT)")
                    .alias("_c"), F.col("_n")))
    a = cent.where(F.col("_e") == 0).select(
        group_col, "_p", F.col("_c").alias("_ca"), F.col("_n").alias("_na"))
    b = cent.where(F.col("_e") == 1).select(
        group_col, "_p", F.col("_c").alias("_cb"), F.col("_n").alias("_nb"))
    return (a.join(b, [group_col, "_p"])
            .groupBy(group_col)
            .agg(F.max("_na").alias("n_0"), F.max("_nb").alias("n_1"),
                 R.fround(F.sum(F.abs(F.col("_ca") - F.col("_cb")))
                          .cast("double") / _MILLI, 4).alias("l1_drift")))


def centroid_drift_oracle_sql(table_expr: str, epoch_sql: str,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              group_col: str = "label") -> str:
    idx = f"range(1, len({vec_col})+1)"
    codes = (f"list_transform({idx}, i -> CAST(floor(CAST({vec_col}[i] AS "
             f"DOUBLE) * {_MILLI}) AS BIGINT))")
    return f"""WITH rows_ AS (
      SELECT {group_col}, CAST({epoch_sql} AS INT) AS e,
             UNNEST({idx}) AS p, UNNEST({codes}) AS v
      FROM {table_expr}),
    cent AS (SELECT {group_col}, e, p,
                    CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT)
                      AS c, COUNT(*) AS n
             FROM rows_ GROUP BY {group_col}, e, p)
    SELECT a.{group_col}, MAX(a.n) AS n_0, MAX(b.n) AS n_1,
           ROUND(CAST(SUM(abs(a.c - b.c)) AS DOUBLE) / {_MILLI}, 4)
             AS l1_drift
    FROM cent a JOIN cent b
      ON a.{group_col} = b.{group_col} AND a.p = b.p
     AND a.e = 0 AND b.e = 1
    GROUP BY a.{group_col}"""


def sq8_adc_topk(embeddings: DataFrame, query: DataFrame, k: int = 10,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance top-k over SQ8 codes (the ADC pattern of the
    FAISS family, scalar-quantization form): the QUERY stays full
    precision while every corpus vector scores from its int8 code —
    dequantize x̂_i = mn + code_i * (mx - mn) / 255, rank by
    cosine(query, x̂). The SQ sibling of ``pq_adc_topk``: at 100 TB the
    scan reads the 4x-smaller code table (+ two floats per row) instead
    of raw vectors; dequantization lives in the projection, so the
    bandwidth saving is real and no second copy of the corpus exists.

    Codes here are derived in-plan by the same formula
    ``quantize_embeddings`` persists, so scores are bit-identical to
    scoring the stored codes. Engine-exact: mn/mx/floor/clamp identical,
    dequant + normalize + dot are identical-order left folds, one round
    before the rank. Plan: narrow projection, 1-row broadcast query,
    TakeOrdered top-k — zero shuffles.

    Returns (id_col, cosine_adc) — the reconstruction-space cosine,
    rounded to 6, top-k by (cosine_adc DESC, id).
    """
    vec = f"cast({vec_col} as array<double>)"
    mn, mx = f"array_min({vec})", f"array_max({vec})"
    codes = (f"transform({vec}, x -> CAST(least(255.0, greatest(0.0, "
             f"floor(CASE WHEN {mx} = {mn} THEN 0.0 "
             f"ELSE (x - {mn}) * 255.0 / ({mx} - {mn}) END))) AS INT))")
    xhat = (f"transform({codes}, c -> {mn} + CAST(c AS DOUBLE) * "
            f"(CASE WHEN {mx} = {mn} THEN 0.0 "
            f"ELSE ({mx} - {mn}) / 255.0 END))")
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    scored = (_fan_out(embeddings)
              .withColumn("_nv", F.expr(V.normalized_sql(xhat, "spark")))
              .crossJoin(F.broadcast(query))
              .select(id_col,
                      R.fround(V.dot(F.col("_nv"), F.col("qv")), 6)
                      .alias("cosine_adc")))
    return scored.orderBy(F.col("cosine_adc").desc(), F.col(id_col)).limit(k)


def sq8_adc_topk_oracle_sql(table_expr: str, norm_q_cte: str, k: int = 10,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> str:
    # one CTE step per intermediate: inlined into the lambdas, mn/mx and
    # the codes -> xhat chain are re-evaluated for every element (~90 s
    # against ~0.03 s at sf0.001)
    return f"""WITH {norm_q_cte},
    v AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v
          FROM {table_expr}),
    mm AS (SELECT {id_col}, v, list_min(v) AS mn, list_max(v) AS mx FROM v),
    cd AS (SELECT {id_col}, mn, mx,
                  list_transform(v, x -> CAST(least(255.0, greatest(0.0,
                      floor(CASE WHEN mx = mn THEN 0.0
                            ELSE (x - mn) * 255.0 / (mx - mn) END)))
                      AS INT)) AS codes
           FROM mm),
    xh AS (SELECT {id_col},
                  list_transform(codes, c -> mn + CAST(c AS DOUBLE) *
                      (CASE WHEN mx = mn THEN 0.0
                       ELSE (mx - mn) / 255.0 END)) AS xhat
           FROM cd),
    d AS (SELECT {id_col}, {V.normalized_sql('xhat', 'duckdb')} AS nv
          FROM xh)
    SELECT d.{id_col},
           ROUND(list_dot_product(d.nv, q.qv), 6) AS cosine_adc
    FROM d, q
    ORDER BY cosine_adc DESC, d.{id_col} LIMIT {k}"""
