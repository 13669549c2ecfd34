"""Multimodal-column query surface (binary payloads + typed metadata +
pandas-UDF decode stages; operators/multimodal.py).

Every query's codec stage is the deterministic md5 fake
(operators/multimodal.fake_decode), which makes the full
mapInPandas pipeline SQL-expressible: each oracle below recomputes the fake
decode in DuckDB. ``documents.text`` is verified pure-ASCII, so DuckDB
string functions over ``text`` operate on exactly the bytes Spark sees in
the ``payload`` binary column (md5/substr/length agree byte-for-byte).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_connect_oss_spark.operators import multimodal as MM
from kafka_connect_oss_spark.registry import register
from kafka_connect_oss_spark.sources.batch import load_table


def _hex_int(h_expr: str, start: int, n: int) -> str:
    """DuckDB: integer from ``n`` hex chars of a digest at 1-based ``start``."""
    return f"CAST('0x' || substr({h_expr}, {start}, {n}) AS BIGINT)"


#: modality assignment must match operators/multimodal.attach_binary
_MODALITY = ("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' "
             "WHEN 1 THEN 'audio' ELSE 'video' END")

_MM_BASE = f"""WITH mm AS (
  SELECT doc_id, {_MODALITY} AS modality, md5(text) AS h,
         CAST(length(text) AS BIGINT) AS byte_len, text
  FROM documents)"""


def _mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.attach_binary(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_catalog",
    f"""{_MM_BASE}
    SELECT doc_id, modality,
           CASE modality WHEN 'image' THEN 'png' WHEN 'audio' THEN 'wav'
                ELSE 'mp4' END AS fmt,
           byte_len,
           CASE WHEN modality = 'image'
                THEN CAST(16 + {_hex_int('h', 1, 4)} % 2032 AS INT) END AS width,
           CASE WHEN modality = 'image'
                THEN CAST(16 + {_hex_int('h', 5, 4)} % 2032 AS INT) END AS height,
           CASE WHEN modality = 'image'
                THEN CAST(1 + {_hex_int('h', 9, 1)} % 4 AS INT) END AS channels,
           CASE WHEN modality = 'audio'
                THEN CAST(8000 * (1 + {_hex_int('h', 1, 2)} % 6) AS INT)
                END AS sample_rate,
           CASE WHEN modality = 'audio'
                THEN byte_len * 1000 // (8000 * (1 + {_hex_int('h', 1, 2)} % 6))
                END AS duration_ms,
           CASE WHEN modality = 'video'
                THEN CAST((byte_len + {MM.FRAME_BYTES - 1}) // {MM.FRAME_BYTES}
                          AS INT) END AS n_frames
    FROM mm""",
)
def multimodal_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary ingest + typed metadata decode for all three modalities."""
    return MM.decode_metadata(_mm(spark, sf_dir))


@register(
    "multimodal_image_resize",
    f"""{_MM_BASE},
    img AS (
      SELECT doc_id,
             CAST(16 + {_hex_int('h', 1, 4)} % 2032 AS INT) AS width,
             CAST(16 + {_hex_int('h', 5, 4)} % 2032 AS INT) AS height
      FROM mm WHERE modality = 'image')
    SELECT doc_id, width, height,
           GREATEST(1, CAST(FLOOR(width * LEAST({MM.RESIZE_BOX}.0 / width,
                {MM.RESIZE_BOX}.0 / height, 1.0)) AS INT)) AS new_w,
           GREATEST(1, CAST(FLOOR(height * LEAST({MM.RESIZE_BOX}.0 / width,
                {MM.RESIZE_BOX}.0 / height, 1.0)) AS INT)) AS new_h
    FROM img""",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving fit-within-box resize plan (pixel op stubbed)."""
    return MM.image_resize_plan(_mm(spark, sf_dir))


@register(
    "multimodal_video_frames",
    f"""{_MM_BASE}
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(length(substr(text, CAST(i * {MM.FRAME_BYTES} + 1 AS INT),
                              {MM.FRAME_BYTES})) AS INT) AS frame_len,
           md5(substr(text, CAST(i * {MM.FRAME_BYTES} + 1 AS INT),
                      {MM.FRAME_BYTES})) AS frame_md5
    FROM mm, unnest(range(0, (byte_len + {MM.FRAME_BYTES - 1})
                             // {MM.FRAME_BYTES}, {MM.FRAME_STRIDE})) AS t(i)
    WHERE modality = 'video'""",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided pseudo-frame sampling, one row per sampled frame."""
    return MM.video_frame_sample(_mm(spark, sf_dir))


_EMBED_COLS = ", ".join(
    _hex_int(f"md5(text || '{j}')", 1, 8) + f" / 4294967296.0 AS v{j}"
    for j in range(MM.EMBED_DIMS))


@register(
    "multimodal_embed",
    f"""{_MM_BASE}
    SELECT doc_id, {_EMBED_COLS}
    FROM mm""",
)
def multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary -> fixed-dim feature vector (encoder stubbed, plumbing real)."""
    return MM.binary_embed(_mm(spark, sf_dir))


#: embedding components as a DuckDB list literal (same formula as
#: _EMBED_COLS, unaliased) for the near-dup oracle
_EMBED_LIST = "[" + ", ".join(
    _hex_int(f"md5(text || '{j}')", 1, 8) + " / 4294967296.0"
    for j in range(MM.EMBED_DIMS)) + "]"

#: cosine threshold for multimodal near-dup. With a real encoder,
#: near-identical media embed nearby and the threshold sits close to 1;
#: the deterministic md5 stand-in embeds every distinct payload
#: uniformly, so the threshold selects the top tail of the IN-BLOCK pair
#: distribution — a non-trivial, stable result that exercises the
#: identical plan (identical payloads still embed identically, score 1.0,
#: and always share a bucket). 0.97 keeps ~30-45 pairs per SF under the
#: (modality, centered-LSH-bucket) blocking; uniform random pairs above
#: 0.99 are almost never bucket-coherent, which is correct LSH behavior,
#: not missed recall — they are not near-dups.
_MM_COSINE = 0.97


#: sign-LSH planes for the near-dup block key. Bucket signs are computed on
#: the CENTERED raw embedding (x - 0.5 per component): the md5 stand-in
#: encoder emits components uniform in [0,1), and an all-positive vector
#: family makes hyperplane dot signs heavily biased (measured: one bucket
#: holds 63% of the catalog, only x2.3 candidate reduction); centering
#: restores sign balance (max bucket share 15%, x10.5 reduction with 4
#: planes). The oracle mirrors the identical centered arithmetic on the
#: same doubles, so buckets agree bit-for-bit.
_MM_PLANES = 4
_MM_CENTER_SPARK = "transform(cast(embedding as array<double>), x -> x - 0.5d)"
_MM_CENTER_DUCK = "list_transform(v, x -> x - 0.5)"


def _mm_near_dup_oracle() -> str:
    from kafka_connect_oss_spark.functions import vectors as V
    from kafka_connect_oss_spark.functions.rounding import round_sql

    ndot = "list_dot_product(a.nv, b.nv)"
    bucket = V.lsh_bucket_sql(_MM_CENTER_DUCK, _MM_PLANES, "duckdb")
    return f"""{_MM_BASE},
    e AS (SELECT doc_id, modality, {_EMBED_LIST} AS v FROM mm),
    n AS (SELECT doc_id, modality, {bucket} AS bucket,
                 {V.normalized_sql('v', 'duckdb')} AS nv
          FROM e)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {round_sql(ndot, 4)} AS cosine
    FROM n a JOIN n b ON a.modality = b.modality AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
    WHERE {round_sql(ndot, 4)} >= {_MM_COSINE}"""


@register("multimodal_near_dup", _mm_near_dup_oracle())
def multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: binary payload -> (stubbed) encoder embedding
    -> blocked cosine pairs — the media-dedup composition (same-content
    assets across the catalog), exercising mapInPandas feature extraction
    feeding the blocked pairwise operator end-to-end.

    Block key is (modality, sign-LSH bucket), NOT modality alone: modality
    has ~3 values, so blocking on it alone makes every block O(catalog) and
    the dot-product count quadratic in catalog size — the centered-plane
    bucket factor divides the candidate count by a measured ~10.5x with 4
    planes (scripts/probe_r05.py). LSH recall semantics: a pair is
    reported only if both sides hash to the same bucket; identical
    payloads embed identically and always share a bucket, and near-dup
    recall rises with payload similarity. The oracle mirrors the bucket
    computation exactly.

    The embedded catalog (doc_id, embedding, modality, bucket — the
    BINARY payload already dropped) is STAGED before the pairwise
    operator (r13): embedding_near_dup consumes its input on both
    self-join sides plus the block-sizes branch, so unstaged the
    MapInPandas binary_embed pass re-ran per branch (8 planned scans of
    the payload-bearing table; 8.9 -> 7.15 s min-of-4 at sf1, and the
    rep spread tightens ~4x)."""
    from pyspark.sql import functions as F

    from kafka_connect_oss_spark.functions import vectors as V
    from kafka_connect_oss_spark.operators import dedup
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    mm = _mm(spark, sf_dir)
    emb = MM.binary_embed(mm)
    arr = emb.select(
        "doc_id",
        F.array(*[F.col(f"v{j}") for j in range(MM.EMBED_DIMS)])
        .alias("embedding"))
    bucket = V.lsh_bucket_sql(_MM_CENTER_SPARK, _MM_PLANES, "spark")
    joined = stage_local(
        arr.join(mm.select("doc_id", "modality"), "doc_id")
        .withColumn("bucket", F.expr(bucket)))
    return dedup.embedding_near_dup(joined, threshold=_MM_COSINE,
                                    vec_col="embedding", id_col="doc_id",
                                    block_col=["modality", "bucket"])
