"""Embedding-vector expressions (similarity search / near-dup core).

Built-in higher-order functions only (`zip_with` + `aggregate`): the dot
product runs inside whole-stage codegen, no Python, no UDF. Sums fold
left-to-right in double, which DuckDB's list_dot_product(::DOUBLE[])
reproduces bit-for-bit — verified, so oracles can compare rounded values
safely.

At scale: brute-force top-k is a broadcast of the query vector + a single
narrow pass + a TopK (takeOrdered) — no shuffle of the big side. The LSH
path buckets vectors by hyperplane signs so candidate generation is an
equi-join on a small key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalized_sql(vec_expr: str, dialect: str) -> str:
    """Unit-normalize a vector: x_i / sqrt(sum x^2), same left-fold sum both
    dialects. Normalizing BEFORE a pairwise join is the scale move: the
    exchange materializes it once per row, so each pair costs one dot
    instead of dot + two norms (3x fewer interpreted lambda steps — HOFs
    don't codegen).

    Zero-norm guard (round-7): a zero vector's x/0 THROWS under Spark 4's
    default ANSI mode — one corrupt row would kill a whole-corpus scan —
    and DuckDB's IEEE division yields NaN, which its DESC ordering ranks
    FIRST (engine-divergent garbage at the top of every top-k). Both
    dialects therefore divide by nullif(norm, 0): components become NULL,
    downstream dots/cosines become NULL, and both engines' default
    NULLS-LAST DESC ordering drops direction-less rows out of every
    ranking instead of crashing (Spark) or polluting (DuckDB) it.
    """
    if dialect == "spark":
        nrm = (f"sqrt(aggregate(transform({vec_expr}, y -> y * y), 0D, "
               f"(acc, x) -> acc + x))")
        return f"transform({vec_expr}, x -> x / nullif({nrm}, 0D))"
    if dialect == "duckdb":
        return (f"list_transform({vec_expr}, x -> x / nullif("
                f"sqrt(list_dot_product({vec_expr}, {vec_expr})), 0))")
    raise ValueError(dialect)


# ---- deterministic pseudo-random hyperplanes for sign-LSH ----------------
# plane_j[i] = ((a*j + b*i + c) mod m)/m - 0.5 — integer-generated so the
# DuckDB oracle can rebuild the identical planes (functions/hashing.py
# philosophy: shared arithmetic, not shared RNG).

_PLANE_A, _PLANE_B, _PLANE_C, _PLANE_M = 7_919, 104_729, 12_043, 10_007


def plane_component(j: int, i_expr: str) -> str:
    """Dialect-neutral SQL for plane_j[i] as a DOUBLE expression."""
    return (f"((({_PLANE_A} * {j} + {_PLANE_B} * ({i_expr}) + {_PLANE_C}) % {_PLANE_M}) "
            f"/ CAST({_PLANE_M} AS DOUBLE) - 0.5)")


def lsh_bucket_sql(vec_expr: str, n_planes: int, dialect: str) -> str:
    """Sign-LSH bucket id in [0, 2^n_planes): bit j = sign(dot(v, plane_j)).

    Same fragment family as functions/hashing.py — emitted for both
    dialects from the same constants.
    """
    if dialect == "spark":
        def dot_j(j: int) -> str:
            return (f"aggregate(zip_with({vec_expr}, transform(sequence(0, size({vec_expr}) - 1), "
                    f"i -> {plane_component(j, 'i')}), (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    elif dialect == "duckdb":
        def dot_j(j: int) -> str:
            return (f"list_dot_product({vec_expr}, list_transform(range(0, len({vec_expr})), "
                    f"i -> {plane_component(j, 'i')}))")
    else:
        raise ValueError(dialect)
    terms = [f"(CASE WHEN {dot_j(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes)]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
