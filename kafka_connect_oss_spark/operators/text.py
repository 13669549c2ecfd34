"""Text-analysis operators (driver-mandated extension): stats, quality,
language-ID, token counting, fingerprinting — all built-in expressions
(no UDFs; linear in scanned bytes, no shuffle until the optional agg)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_oss_spark.functions import hashing as H
from kafka_connect_oss_spark.functions import rounding as R
from kafka_connect_oss_spark.functions import text as X


def text_stats(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-doc surface statistics (the quality-scoring raw features)."""
    tok = X.sql_tokens(text_col, "spark")
    return docs.select(
        id_col,
        F.length(text_col).alias("n_chars"),
        F.expr(f"size({tok})").alias("n_tokens"),
        F.expr(X.sql_bpe_token_count(text_col, "spark")).alias("n_bpe_tokens"),
        F.expr(f"size(array_distinct({tok}))").alias("n_distinct_tokens"),
        # nullif: empty-text docs have 0 tokens — 0/0 throws under ANSI
        # mode (Spark 4 default); NULL ratios mirror the oracle
        R.fround(F.expr(
            f"aggregate({tok}, 0, (acc, t) -> acc + length(t)) "
            f"/ CAST(nullif(size({tok}), 0) AS DOUBLE)"), 4)
        .alias("avg_token_len"),
        R.fround(F.expr(
            f"{X.sql_count_matching(tok, X.QUALITY_STOPWORDS, 'spark')} "
            f"/ CAST(nullif(size({tok}), 0) AS DOUBLE)"), 4)
        .alias("stopword_ratio"),
    )


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Composite quality heuristic (Gopher-rule-style, public recipe):
    length in range + type/token ratio + stopword presence. Integer/
    rational arithmetic -> oracle-exact. ``keep_cols`` ride along
    untouched (e.g. the source column for per-source quota sampling) —
    the op stays a pure projection either way."""
    tok = X.sql_tokens(text_col, "spark")
    n_tok = f"size({tok})"
    # nullif: zero-token docs would 0/0-throw under ANSI mode
    distinct_ratio = (f"(size(array_distinct({tok})) "
                      f"/ CAST(nullif({n_tok}, 0) AS DOUBLE))")
    stop_ratio = (f"({X.sql_count_matching(tok, X.QUALITY_STOPWORDS, 'spark')}"
                  f" / CAST(nullif({n_tok}, 0) AS DOUBLE))")
    return docs.select(
        id_col, *keep_cols,
        F.expr(f"CASE WHEN {n_tok} BETWEEN 10 AND 1000 THEN 1 ELSE 0 END")
        .alias("len_ok"),
        R.fround(F.expr(distinct_ratio), 4).alias("distinct_ratio"),
        R.fround(F.expr(stop_ratio), 4).alias("stopword_ratio"),
        R.fround(F.expr(
            f"(CASE WHEN {n_tok} BETWEEN 10 AND 1000 THEN CAST(0.4 AS DOUBLE) "
            f"ELSE CAST(0.0 AS DOUBLE) END) + "
            f"CAST(0.3 AS DOUBLE) * {distinct_ratio} + "
            f"CAST(0.3 AS DOUBLE) * (CASE WHEN {stop_ratio} > 0 "
            f"THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"), 4)
        .alias("quality"),
    )


def language_id(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID (n-gram-heuristic class). Deterministic
    argmax with fixed tie order en > es > de."""
    tok = X.sql_tokens(text_col, "spark")
    scores = {lang: X.sql_count_matching(tok, words, "spark")
              for lang, words in X.LANG_STOPWORDS.items()}
    s_en, s_es, s_de = scores["en"], scores["es"], scores["de"]
    pred = (f"CASE WHEN {s_en} >= {s_es} AND {s_en} >= {s_de} THEN 'en' "
            f"WHEN {s_es} >= {s_de} THEN 'es' ELSE 'de' END")
    return docs.select(
        id_col,
        F.expr(s_en).alias("score_en"),
        F.expr(s_es).alias("score_es"),
        F.expr(s_de).alias("score_de"),
        F.expr(pred).alias("pred_lang"),
    )


def repetition_signals(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-rule-style repetition signals (public recipe: Rae et al. 2021
    §A1.1 'repetitious text' filters, word-level):

    * ``dup_2gram_frac`` / ``dup_3gram_frac`` — fraction of word n-grams
      that are repeats of an earlier n-gram (1 - distinct/total);
    * ``top_token_frac`` — share of the most frequent token;
    * ``is_repetitive`` — the composite drop flag.

    The n-gram fractions are narrow per-row expressions (size /
    array_distinct over a shingle array — no shuffle). The top-token share
    is the one genuinely aggregate signal: explode -> two-level partial
    agg keyed by doc_id, which shuffles (doc_id, token-hash) pairs only —
    at 100 TB that is the standard word-count shape, never a per-doc sort.
    All ratios exact rationals rounded identically to the oracle."""
    tok = X.sql_tokens(text_col, "spark")
    sh2 = H.word_shingles(tok, 2, "spark")
    sh3 = H.word_shingles(tok, 3, "spark")
    base = docs.select(
        id_col,
        F.expr(f"size({tok})").alias("n_tokens"),
        F.expr(f"size({sh2})").alias("n2"),
        F.expr(f"size(array_distinct({sh2}))").alias("d2"),
        F.expr(f"size({sh3})").alias("n3"),
        F.expr(f"size(array_distinct({sh3}))").alias("d3"),
    )
    top = (docs.select(id_col, F.explode(F.expr(tok)).alias("w"))
           .groupBy(id_col, "w").count()
           .groupBy(id_col).agg(F.max("count").alias("top_cnt")))
    dup2 = R.fround(F.when(F.col("n2") == 0, F.lit(0.0)).otherwise(
        (F.col("n2") - F.col("d2")) / F.col("n2").cast("double")), 4)
    dup3 = R.fround(F.when(F.col("n3") == 0, F.lit(0.0)).otherwise(
        (F.col("n3") - F.col("d3")) / F.col("n3").cast("double")), 4)
    topf = R.fround(F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.coalesce(F.col("top_cnt"), F.lit(0)) /
        F.col("n_tokens").cast("double")), 4)
    return (base.join(top, id_col, "left")
            .select(id_col, "n_tokens",
                    dup2.alias("dup_2gram_frac"),
                    dup3.alias("dup_3gram_frac"),
                    topf.alias("top_token_frac"))
            .withColumn("is_repetitive",
                        F.when((F.col("dup_2gram_frac") > 0.6) |
                               (F.col("top_token_frac") > 0.2),
                               F.lit(1)).otherwise(F.lit(0))))


def fingerprints(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: md5 (content identity) + polynomial rolling
    hash (the shift-friendly primitive used by chunking/dedup schemes)."""
    norm = f"lower(trim({text_col}))"
    return docs.select(
        id_col,
        F.expr(f"md5({norm})").alias("md5_fp"),
        F.expr(H.rolling_hash(norm, "spark")).alias("rolling_fp"),
    )


#: PII patterns (applied in order). Written in the regex subset Java
#: (Spark) and RE2 (DuckDB) execute identically — no backrefs, no
#: lookaround — so the oracle reproduces every replacement bit-for-bit.
#: Email first: an address also contains digit runs a later pattern
#: could half-eat.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def redact_pii(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """PII scrub for a pretraining corpus: emails, IPv4 addresses, and
    phone-like digit runs replaced by typed placeholder tokens, with a
    per-type match count.

    A pure narrow pass — chained regexp_replace/regexp_count inside
    whole-stage codegen, no shuffle, no Python: at 100 TB the scrub is a
    projection over the scan, exactly the posture of the other text
    operators. Counts are computed on the ORIGINAL text (before any
    replacement) so one pattern's placeholder can never inflate another
    pattern's count.

    Returns (id_col, redacted_text, n_email, n_ipv4, n_phone).
    """
    out = docs.select(
        id_col, F.col(text_col),
        *[F.regexp_count(F.col(text_col), F.lit(pat))
          .alias(f"n_{name}") for name, pat, _ in PII_PATTERNS])
    redacted = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return out.select(
        id_col, redacted.alias("redacted_text"),
        *[f"n_{name}" for name, _, _ in PII_PATTERNS])


def redact_pii_oracle_sql(table_expr: str, text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """DuckDB rendering of redact_pii (RE2; 'g' flag because DuckDB's
    regexp_replace is first-match-only by default, unlike Spark's)."""
    counts = ", ".join(
        f"len(regexp_extract_all({text_col}, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS)
    red = text_col
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return (f"SELECT {id_col}, {red} AS redacted_text, {counts} "
            f"FROM {table_expr}")


def prune_frequent_tokens(docs: DataFrame, df_frac: float = 0.5,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Corpus-frequency token pruning: drop every token whose DOCUMENT
    frequency exceeds ``df_frac`` of the corpus — the classic boilerplate/
    stop-vocabulary filter of web-corpus curation (C4-style "remove terms
    on most pages"), token-level because the synthetic docs are one line.

    Spark-first shape, fully distributed end to end:

      * DF counts: per-doc DISTINCT tokens explode -> groupBy(token) —
        the only shuffle, carrying (token, partial count) pairs with
        map-side combine; vocabulary-sized, not corpus-sized.
      * the frequent set folds into ONE row (collect_list over tokens
        with DF > df_frac * n_docs — by construction at most 1/df_frac
        tokens can exceed the bound... per doc-slot, i.e. Zipf-bounded
        small) and cross-joins back BROADCAST: the corpus side stays a
        pure narrow ``filter(tokens, NOT array_contains(...))`` pass —
        order- and duplicate-preserving (array_except would dedup), zero
        driver collect, zero corpus shuffle.

    Returns (id_col, pruned_text, n_tokens, n_removed).
    """
    tok = X.sql_tokens(text_col, "spark")
    per_doc = docs.select(id_col,
                          F.expr(f"array_distinct({tok})").alias("_dt"))
    n = docs.select(F.count(F.lit(1)).alias("_n_docs"))
    freq = (per_doc.select(F.explode("_dt").alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
            .crossJoin(F.broadcast(n))
            .where(F.col("_df") > F.lit(df_frac) * F.col("_n_docs")))
    freq_arr = freq.agg(
        F.sort_array(F.collect_list("token")).alias("_freq_toks"))
    kept = f"filter({tok}, t -> NOT array_contains(_freq_toks, t))"
    return (docs.crossJoin(F.broadcast(freq_arr))
            .select(id_col,
                    F.expr(f"concat_ws(' ', {kept})").alias("pruned_text"),
                    F.expr(f"size({tok})").alias("n_tokens"),
                    F.expr(f"size({tok}) - size({kept})").alias("n_removed")))


def prune_frequent_tokens_oracle_sql(table_expr: str, df_frac: float = 0.5,
                                     text_col: str = "text",
                                     id_col: str = "doc_id") -> str:
    """DuckDB rendering of prune_frequent_tokens (COALESCE because an
    empty frequent set aggregates to NULL in DuckDB but to [] in Spark)."""
    dtok = X.sql_tokens(text_col, "duckdb")
    return f"""WITH tokd AS (
      SELECT {id_col}, {dtok} AS t FROM {table_expr}),
    dfc AS (SELECT token, COUNT(*) AS df FROM (
        SELECT {id_col}, UNNEST(list_distinct(t)) AS token FROM tokd)
        GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM tokd),
    freq AS (SELECT COALESCE(list(token ORDER BY token), []) AS ft
             FROM dfc, n WHERE df > {df_frac} * n_docs)
    SELECT {id_col},
           COALESCE(array_to_string(
               list_filter(t, x -> NOT list_contains(ft, x)), ' '), '')
             AS pruned_text,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(len(t) - len(list_filter(t, x -> NOT list_contains(ft, x)))
                AS INTEGER) AS n_removed
    FROM tokd, freq"""


def normalize_text(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Canonicalization pass ahead of dedup/tokenization: lowercase, map
    every non-[a-z0-9 ] character to a space, squeeze space runs, trim —
    the standard pre-minhash normalizer (near-dup robustness against
    case/punctuation noise; public recipe).

    Chained regexp_replace in the Java/RE2-identical subset (no backrefs,
    no lookaround), all inside whole-stage codegen: a pure narrow
    projection over the scan, zero shuffle at any corpus size.

    Returns (id_col, norm_text, n_chars, n_norm_chars).
    """
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " "),
        "  +", " "))
    return docs.select(
        id_col, norm.alias("norm_text"),
        F.length(text_col).alias("n_chars"),
        F.length(norm).alias("n_norm_chars"))


def normalize_text_oracle_sql(table_expr: str, text_col: str = "text",
                              id_col: str = "doc_id") -> str:
    """DuckDB rendering ('g' flag: DuckDB replaces first match only by
    default, unlike Spark)."""
    norm = (f"trim(regexp_replace(regexp_replace(lower({text_col}), "
            f"'[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g'))")
    return (f"SELECT {id_col}, {norm} AS norm_text, "
            f"length({text_col}) AS n_chars, "
            f"length({norm}) AS n_norm_chars FROM {table_expr}")


def chunk_documents(docs: DataFrame, size: int = 120, stride: int = 80,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Overlapping fixed-size character windows per document — the RAG /
    context-window prep step (chunk size ``size``, hop ``stride``; trailing
    chunks may be shorter). Chunk starts are 1, 1+stride, 1+2*stride, ...
    while start <= length, so every char lands in >= 1 chunk and chunking
    is a pure function of the text (no tokenizer state).

    A narrow per-row explode — no shuffle, no Python: at 100 TB the op is
    a projection over the scan with an output replication factor of
    ~size/stride. Empty docs emit one empty chunk (start pinned to 1) so
    the output row-set covers every input document.

    Returns (id_col, chunk_id, chunk_text, chunk_len).
    """
    ex = docs.select(
        id_col, F.col(text_col),
        F.explode(F.expr(
            f"sequence(1, greatest(1, length({text_col})), {stride})"))
        .alias("_s"))
    return ex.select(
        id_col,
        F.expr(f"CAST((_s - 1) DIV {stride} AS INT)").alias("chunk_id"),
        F.expr(f"substring({text_col}, _s, {size})").alias("chunk_text"),
        F.expr(f"length(substring({text_col}, _s, {size}))").alias("chunk_len"))


def chunk_documents_oracle_sql(table_expr: str, size: int = 120,
                               stride: int = 80, text_col: str = "text",
                               id_col: str = "doc_id") -> str:
    """DuckDB rendering of chunk_documents (generate_series is inclusive of
    the upper bound, exactly like Spark's sequence)."""
    return (f"SELECT {id_col}, CAST((s - 1) // {stride} AS INT) AS chunk_id, "
            f"substr({text_col}, s, {size}) AS chunk_text, "
            f"length(substr({text_col}, s, {size})) AS chunk_len "
            f"FROM {table_expr}, UNNEST(generate_series(1, "
            f"greatest(1, length({text_col})), {stride})) AS u(s)")


def rare_token_score(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Corpus-grounded rarity score: for each document, statistics of the
    corpus DOCUMENT FREQUENCY of its distinct tokens — the cheap stand-in
    for an LM perplexity filter (docs dominated by tokens no other doc
    uses are likely gibberish/OCR noise; docs of only ubiquitous tokens
    are boilerplate). Used as a band-pass in public curation recipes.

    Two shuffles, both compact: (1) distinct-token explode -> groupBy
    token for the DF table (vocabulary-sized with map-side combine);
    (2) re-join the exploded pairs to the DF table on token — AQE
    broadcasts the DF side when it fits, and degrades to a shuffle join
    when the vocabulary doesn't (never a forced broadcast: vocabulary
    grows with the corpus) — then one per-doc aggregation. Sums stay
    exact BIGINTs; the mean is a single double division rounded
    identically to the oracle.

    Docs with zero tokens have no rows (no tokens to score), same as the
    oracle. Returns (id_col, n_distinct_tokens, mean_df, min_df).
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    tok = X.sql_tokens(text_col, "spark")
    per_doc = _fan_out(docs).select(
        id_col, F.explode(F.expr(f"array_distinct({tok})")).alias("token"))
    dfreq = (per_doc.groupBy("token")
             .agg(F.count(F.lit(1)).cast("long").alias("df")))
    return (per_doc.join(dfreq, "token")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_distinct_tokens"),
                 F.sum("df").alias("_sum_df"),
                 F.min("df").alias("min_df"))
            .select(id_col, "n_distinct_tokens",
                    R.fround(F.col("_sum_df") /
                             F.col("n_distinct_tokens").cast("double"), 4)
                    .alias("mean_df"),
                    "min_df"))


def rare_token_score_oracle_sql(table_expr: str, text_col: str = "text",
                                id_col: str = "doc_id") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    return f"""WITH tokd AS (
      SELECT {id_col}, UNNEST(list_distinct({dtok})) AS token
      FROM {table_expr}),
    dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tokd GROUP BY token)
    SELECT {id_col}, COUNT(*) AS n_distinct_tokens,
           ROUND(CAST(SUM(df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
             AS mean_df,
           MIN(df) AS min_df
    FROM tokd JOIN dfc USING (token)
    GROUP BY {id_col}"""


def cross_source_overlap(docs: DataFrame, ngram: int = 3,
                         text_col: str = "text",
                         source_col: str = "source") -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, how
    many distinct word n-gram shingles they share, and the Jaccard of
    their shingle sets — the audit that finds mirrored/scraped-twice
    content BETWEEN datasets before mixture weights are chosen.

    Shape at 100 TB: ONE distinct over (source, shingle-hash) pairs (the
    only corpus-sized shuffle, carrying 8-byte hashes + a short key),
    staged once via the lazy ``lifecycle.stage_local`` because three
    consumers read it — Catalyst has no common-subplan materialization,
    so without it the corpus distinct executes once per consumer
    (measured 4x in the r05b probe plan). Round 7 replaced the eager
    persist/checkpoint/unpersist lifecycle here (2 pre-jobs of fixed
    overhead per call) with the lazy staged form: everything runs as ONE
    job at the caller's action. Pair counting is a groupBy(hash)
    collect_set + a narrow
    combination explode bounded by C(n_sources_holding_hash, 2) per hash
    — never a corpus self-join, no second corpus-sized shuffle; set
    sizes are a sources-sized aggregate of the same cached frame, joined
    back to the tiny pair table (AQE broadcasts).

    Returns (source_a, source_b, n_shared, jaccard) for pairs sharing
    >= 1 shingle, source_a < source_b.
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    tok = X.sql_tokens(text_col, "spark")
    hh = H.shingle_hashes(H.word_shingles(tok, ngram, "spark"), "spark")
    sh = stage_local(_fan_out(docs)
                     .select(F.col(source_col).alias("src"),
                             F.explode(F.expr(hh)).alias("h"))
                     .distinct())
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n_sh"))
    # sorted source set per hash -> every unordered pair, sa < sb by
    # construction; the explode emits C(|ss|, 2) rows per hash
    per_hash = sh.groupBy("h").agg(F.sort_array(F.collect_set("src"))
                                   .alias("ss"))
    combos = ("flatten(transform(ss, (x, i) -> "
              "transform(slice(ss, i + 2, size(ss)), "
              "y -> struct(x AS sa, y AS sb))))")
    pairs = (per_hash.select(F.explode(F.expr(combos)).alias("p"))
             .groupBy(F.col("p.sa").alias("source_a"),
                      F.col("p.sb").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("n_shared")))
    na = sizes.select(F.col("src").alias("source_a"),
                      F.col("n_sh").alias("_na"))
    nb = sizes.select(F.col("src").alias("source_b"),
                      F.col("n_sh").alias("_nb"))
    return (pairs.join(na, "source_a").join(nb, "source_b")
            .select("source_a", "source_b", "n_shared",
                    R.fround(F.col("n_shared") /
                             (F.col("_na") + F.col("_nb") -
                              F.col("n_shared")).cast("double"), 4)
                    .alias("jaccard")))


def cross_source_overlap_oracle_sql(table_expr: str, ngram: int = 3,
                                    text_col: str = "text",
                                    source_col: str = "source") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    hh = H.shingle_hashes(H.word_shingles(dtok, ngram, "duckdb"), "duckdb")
    return f"""WITH sh AS (
      SELECT DISTINCT {source_col} AS src, UNNEST({hh}) AS h
      FROM {table_expr}),
    sizes AS (SELECT src, COUNT(*) AS n_sh FROM sh GROUP BY src),
    pairs AS (SELECT a.src AS source_a, b.src AS source_b,
                     CAST(COUNT(*) AS BIGINT) AS n_shared
              FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src
              GROUP BY 1, 2)
    SELECT source_a, source_b, n_shared,
           ROUND(CAST(n_shared AS DOUBLE) /
                 CAST(na.n_sh + nb.n_sh - n_shared AS DOUBLE), 4) AS jaccard
    FROM pairs
    JOIN sizes na ON na.src = source_a
    JOIN sizes nb ON nb.src = source_b"""


def token_budget(docs: DataFrame, text_col: str = "text",
                 source_col: str = "source") -> DataFrame:
    """Per-source token accounting for mixture planning: document count,
    whitespace-token count, and each source's share of the corpus token
    budget — the first table anyone draws before setting sampling
    weights over a 100 TB mix.

    One groupBy(source) aggregation (map-side combined, sources-sized
    output) plus a single-row corpus total broadcast back — counts stay
    exact BIGINTs, the share is one double division rounded identically
    to the oracle. Returns (source, n_docs, n_tokens, token_share).

    The sources-sized aggregate is STAGED (r13 multi-scan audit): the
    scalar-total branch otherwise re-plans the whole scan+tokenize+agg
    subtree — AQE never collapsed it to a ReusedExchange, so the corpus
    was scanned AND tokenized twice at runtime.
    """
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    tok = X.sql_tokens(text_col, "spark")
    per_source = stage_local(
        docs.groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.expr(f"size({tok})")).cast("long")
             .alias("n_tokens")))
    total = per_source.agg(F.sum("n_tokens").alias("_total"))
    return (per_source.crossJoin(F.broadcast(total))
            .select("source", "n_docs", "n_tokens",
                    R.fround(F.col("n_tokens") /
                             F.col("_total").cast("double"), 4)
                    .alias("token_share")))


def token_budget_oracle_sql(table_expr: str, text_col: str = "text",
                            source_col: str = "source") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    return f"""WITH per AS (
      SELECT {source_col} AS source, COUNT(*) AS n_docs,
             CAST(SUM(len({dtok})) AS BIGINT) AS n_tokens
      FROM {table_expr} GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per)
    SELECT source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 4)
             AS token_share
    FROM per, tot"""


#: driver-side cache of collected benchmark hash sets — the same eval
#: suite is decontaminated against by several queries per session (plain
#: decontamination, the curated pipeline, and their test mirrors), and
#: re-collecting costs a full benchmark scan each time
_BENCH_HASH_CACHE: dict[tuple, list[int]] = {}


#: above this many distinct benchmark hashes the broadcast-literal plan
#: stops making sense (a ~8 MB+ literal array in every task closure) and
#: decontaminate() switches to the exploded semi-join
MAX_BROADCAST_BENCH_HASHES = 1_000_000


def benchmark_ngram_hashes(benchmark: DataFrame, text_col: str = "text",
                           ngram: int = 3,
                           cache_key: tuple | None = None,
                           max_hashes: int | None = MAX_BROADCAST_BENCH_HASHES,
                           ) -> list[int] | None:
    """Distinct word n-gram hashes of the benchmark/eval set, computed
    DRIVER-SIDE in pure Python — or ``None`` if the set exceeds
    ``max_hashes`` (caller falls back to the distributed semi-join).

    Benchmarks are small by definition (thousands of prompts), so the text
    is hashed here rather than through a generated Spark expression: the
    deep HOF md5-fold expression tree cost a measured ~4 s of Catalyst
    analysis/codegen for a 5-row job — pure fixed overhead. The Python
    fold below is bit-identical to functions/hashing.base_hash (md5 ->
    first-15-hex-chars -> BIGINT) over the same tokenization (split on
    ' ', drop empties), verified by test_pipeline_ops.

    Rows stream through ``toLocalIterator`` so an unexpectedly large
    benchmark is abandoned as soon as the bound is crossed — the driver
    never materializes more than ``max_hashes`` hashes (+ one row),
    instead of OOMing inside a blind ``collect()``.

    `cache_key` (e.g. ``(sf_dir, "docs<5", ngram)``) memoizes the result
    for the session — callers that rebuild the same benchmark frame reuse
    the collected list instead of re-scanning.
    """
    import hashlib

    key = (*cache_key, text_col, ngram) if cache_key is not None else None
    if key is not None and key in _BENCH_HASH_CACHE:
        return _BENCH_HASH_CACHE[key]
    out: set[int] = set()
    for row in benchmark.select(text_col).toLocalIterator():
        text = row[0]
        if text is None:
            continue
        toks = [t for t in text.split(" ") if t]
        for i in range(len(toks) - ngram + 1):
            shingle = " ".join(toks[i:i + ngram])
            digest = hashlib.md5(shingle.encode("utf-8")).hexdigest()
            out.add(int(digest[:15], 16))
        if max_hashes is not None and len(out) > max_hashes:
            return None
    hashes = sorted(out)
    if key is not None:
        _BENCH_HASH_CACHE[key] = hashes
    return hashes


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  ngram: int = 3,
                  bench_cache_key: tuple | None = None,
                  max_broadcast_hashes: int | None = MAX_BROADCAST_BENCH_HASHES,
                  ) -> DataFrame:
    """Benchmark decontamination: drop every training document sharing ANY
    word n-gram with the benchmark/eval set — the standard guard against
    test-set leakage in a pretraining corpus.

    Scale posture, two regimes behind one semantics:

    * benchmark fits ``max_broadcast_hashes`` (the normal case — eval
      suites are thousands of prompts): distinct n-gram hashes are
      computed once on the driver (`benchmark_ngram_hashes`) and inlined
      as a literal array — the corpus-side plan is then a PURE NARROW
      FILTER (hash shingles per row, array_intersect against the
      broadcast literal): zero shuffle over the 100 TB side, parallelism
      = input splits (fanned out when a tiny local scan arrives as one
      split).
    * benchmark exceeds the bound: exploded semi-join — the benchmark's
      hashes stay distributed (explode -> distinct), document shingles
      explode to (id, hash) rows, an inner join on the hash (AQE
      broadcasts the benchmark side when it still fits a broadcast
      threshold) yields contaminated ids, and a left-anti join removes
      them. Linear in corpus shingles, shuffles bounded by the hash join
      + the id anti-join; never collects anything to the driver.

    Both paths use the same tokenization and the same md5-prefix hash
    (functions/hashing, Spark dialect is bit-identical to the Python
    fold), so the clean set is identical — pinned by
    test_decontaminate_semi_join_fallback_matches_broadcast.

    Returns the CLEAN docs (id_col plus passthrough columns of `docs`).
    """
    from kafka_connect_oss_spark.operators.dedup import shingle_hash_pairs

    bench_hashes = benchmark_ngram_hashes(
        benchmark, text_col, ngram, cache_key=bench_cache_key,
        max_hashes=max_broadcast_hashes)
    doc_h = shingle_hash_pairs(docs, text_col, ngram, id_col,
                               distinct=False)
    if bench_hashes is None:
        # fallback: benchmark too large for a literal — distributed
        # semi-join on the shingle hash, same tokenization/hash pipeline
        bench_h = shingle_hash_pairs(
            benchmark, text_col, ngram, id_col,
            distinct=False).select("_h").distinct()
        contaminated = doc_h.join(bench_h, "_h").select(id_col).distinct()
        return docs.join(contaminated, id_col, "left_anti")
    if not bench_hashes:
        # nothing to scrub
        return docs
    # normal regime: hash membership against the broadcast literal set in
    # codegen (isin compiles to an InSet probe); contaminated ids are the
    # RARE case by construction, so the distinct + left-anti join is a
    # tiny-side broadcast under AQE
    contaminated = (doc_h.where(F.col("_h").isin(bench_hashes))
                    .select(id_col).distinct())
    return docs.join(contaminated, id_col, "left_anti")


def contamination_overlap(docs: DataFrame, benchmark: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          ngram: int = 3,
                          bench_cache_key: tuple | None = None,
                          max_broadcast_hashes: int | None =
                          MAX_BROADCAST_BENCH_HASHES) -> DataFrame:
    """Per-document contamination SCORE: the fraction of a doc's distinct
    word n-grams that appear anywhere in the benchmark/eval set.

    `decontaminate` is the binary guard (any hit -> drop); real curation
    pipelines also want the graded signal — rank docs by overlap, audit
    near-threshold cases, set per-dataset budgets. Same two regimes as
    `decontaminate` (broadcast-literal narrow filter when the benchmark
    hash set fits the driver bound, exploded hash join otherwise), same
    tokenization/hash family, so the score is engine-exact.

    Returns (id_col, n_shingles, n_hits, overlap_frac) — overlap_frac
    rounded to 4, 0.0 for shingle-less docs.
    """
    from kafka_connect_oss_spark.functions import rounding as R
    from kafka_connect_oss_spark.operators.dedup import shingle_hash_pairs

    bench_hashes = benchmark_ngram_hashes(
        benchmark, text_col, ngram, cache_key=bench_cache_key,
        max_hashes=max_broadcast_hashes)
    # distinct (id, hash) pairs via the explode-then-codegen fast path
    # (~37x the HOF array form at sf1); n_shingles = pairs per doc
    # matches array_distinct semantics exactly
    doc_h = shingle_hash_pairs(docs, text_col, ngram, id_col)
    if bench_hashes is None:
        # distributed regime: benchmark hashes stay a frame; the hit
        # count is one hash join + agg
        bench_h = shingle_hash_pairs(
            benchmark, text_col, ngram, id_col,
            distinct=False).select("_h").distinct()
        hits = (doc_h.join(bench_h, "_h")
                .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits")))
        per = (doc_h.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_shingles"))
               .join(hits, id_col, "left")
               .withColumn("n_hits", F.coalesce("n_hits", F.lit(0))))
    else:
        # normal regime: ONE map-side-combined aggregate carrying both
        # counts; membership is a codegen InSet probe (empty set -> 0)
        hit = (F.col("_h").isin(bench_hashes).cast("int")
               if bench_hashes else F.lit(0))
        per = (doc_h.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.sum(hit).alias("n_hits")))
    # shingle-less docs emit no pairs — restore them with zero counts
    scored = (docs.select(id_col)
              .join(per, id_col, "left")
              .withColumn("n_shingles",
                          F.coalesce("n_shingles", F.lit(0)).cast("int"))
              .withColumn("n_hits",
                          F.coalesce("n_hits", F.lit(0)).cast("int")))
    frac = F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
        F.col("n_hits") / F.col("n_shingles").cast("double"))
    return scored.select(id_col, "n_shingles", "n_hits",
                         R.fround(frac, 4).alias("overlap_frac"))


def novelty_score(docs: DataFrame, ngram: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Shingle novelty: the fraction of a document's DISTINCT word
    n-gram shingles whose first corpus occurrence (minimum doc id) is
    this document — the standard "how much of this doc is new text"
    signal a training pipeline uses to rank near-template/boilerplate
    documents below original content (complement of the cross-document
    duplication MinHash measures pairwise).

    Scale shape — JOIN-FREE (the r6 bench at sf0.1 measured the naive
    pairs-joins-firsts form at 9.4s; this form runs ~3x faster): the
    (id, shingle-hash) explode is staged ONCE (lazy
    ``lifecycle.stage_local`` — one job at the caller's action, no
    eager pre-jobs; round-7 change), and both outputs are aggregates
    of it:

      n_shingles per doc = groupBy(id).count            (doc-sized)
      n_novel    per doc = groupBy(hash).min(id)        (word-count shape)
                           -> groupBy(first-owner).count (doc-sized)

    so the only corpus-sized shuffle carries (hash, min-id partials) with
    map-side combine; the final join is DOC-sized x DOC-sized on
    checkpointed frames, never a corpus-sized hash join. Docs with fewer
    than `ngram` tokens have no shingles and emit no row (novelty
    undefined), mirroring SQL aggregate-over-empty.

    Returns (id_col, n_shingles, n_novel, novelty) with novelty rounded
    to 4 (1.0 = entirely first-seen text).
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    tok = X.sql_tokens(text_col, "spark")
    hh = H.shingle_hashes(H.word_shingles(tok, ngram, "spark"), "spark")
    pairs = stage_local(_fan_out(docs).select(
        F.col(id_col),
        F.explode(F.expr(f"array_distinct({hh})")).alias("_h")))
    totals = (pairs.groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_shingles")))
    novel = (pairs.groupBy("_h").agg(F.min(id_col).alias("_first"))
             .groupBy(F.col("_first").alias(id_col))
             .agg(F.count(F.lit(1)).cast("long").alias("n_novel")))
    return (totals.join(novel, id_col, "left")
            .withColumn("n_novel",
                        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long"))
            .select(id_col, "n_shingles", "n_novel",
                    R.fround(F.col("n_novel") /
                             F.col("n_shingles").cast("double"), 4)
                    .alias("novelty")))


def novelty_score_oracle_sql(table_expr: str, ngram: int = 3,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    hh = H.shingle_hashes(H.word_shingles(dtok, ngram, "duckdb"), "duckdb")
    return f"""WITH pairs AS (
      SELECT {id_col}, UNNEST(list_distinct({hh})) AS h FROM {table_expr}),
    firsts AS (SELECT h, MIN({id_col}) AS first_id FROM pairs GROUP BY h)
    SELECT p.{id_col}, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN p.{id_col} = f.first_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN p.{id_col} = f.first_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
    FROM pairs p JOIN firsts f USING (h)
    GROUP BY p.{id_col}"""


#: default BM25 probe terms — drawn from the synthetic corpus vocabulary
BM25_DEFAULT_TERMS = ("data", "model", "learning")


def _sql_quote(t: str, dialect: str = "spark") -> str:
    """Escape a caller-supplied term for an inline SQL string literal
    (round-6 advisor fix: a quote in a term broke expression parsing in
    both engines). Doubled quotes are the shared escape; Spark's
    non-ANSI parser additionally treats backslash as an escape char."""
    if dialect == "spark":
        t = t.replace("\\", "\\\\")
    return t.replace("'", "''")


def bm25_topk(docs: DataFrame, terms: tuple[str, ...] = BM25_DEFAULT_TERMS,
              k: int = 20, k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 keyword retrieval over the corpus (Robertson/Sparck-Jones
    probabilistic ranking, the Lucene default — public formula, the
    +1-smoothed idf variant so scores stay positive):

      score(d) = sum_t ln(1 + (N - df_t + .5)/(df_t + .5))
                 * tf_td*(k1+1) / (tf_td + k1*(1 - b + b*dl_d/avgdl))

    The retrieval primitive a training-data pipeline runs for targeted
    corpus search (query expansion, topic probes, decontamination
    triage). Scale shape: corpus stats (N, avgdl, per-term df) reduce in
    ONE map-side-combined aggregate to a single row, broadcast back;
    per-document tf/dl are narrow HOF expressions inside codegen over
    the scan; top-k is TakeOrderedAndProject (per-partition heaps), not
    a global sort. Zero data-sized shuffles at any corpus size; the
    term list is the only driver-side state.

    Returns the k highest-scoring docs as (id_col, score), score rounded
    to 6, ties broken by id.
    """
    tok = X.sql_tokens(text_col, "spark")
    base = docs.select(F.col(id_col), F.expr(tok).alias("_toks"))
    base = base.withColumn("_dl", F.size("_toks"))
    aggs = [F.count(F.lit(1)).alias("_n"),
            F.avg("_dl").alias("_avgdl")]
    for i, t in enumerate(terms):
        aggs.append(F.sum(F.array_contains("_toks", t).cast("int"))
                    .alias(f"_df{i}"))
    stats = base.agg(*aggs)
    scored = base.crossJoin(F.broadcast(stats))
    score = None
    for i, t in enumerate(terms):
        t = _sql_quote(t)
        tf = f"CAST(size(filter(_toks, w -> w = '{t}')) AS DOUBLE)"
        idf = f"ln(1.0 + (_n - _df{i} + 0.5) / (_df{i} + 0.5))"
        part = (f"({idf}) * {tf} * ({k1} + 1.0) / "
                f"({tf} + {k1} * (1.0 - {b} + {b} * _dl / _avgdl))")
        score = part if score is None else f"{score} + {part}"
    return (scored.select(F.col(id_col),
                          R.fround(F.expr(score), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def bm25_topk_oracle_sql(table_expr: str,
                         terms: tuple[str, ...] = BM25_DEFAULT_TERMS,
                         k: int = 20, k1: float = 1.2, b: float = 0.75,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(_toks, "
        f"'{_sql_quote(t, 'duckdb')}') THEN 1 ELSE 0 END) "
        f"AS _df{i}" for i, t in enumerate(terms))
    parts = []
    for i, t in enumerate(terms):
        t = _sql_quote(t, "duckdb")
        tf = f"CAST(len(list_filter(_toks, w -> w = '{t}')) AS DOUBLE)"
        idf = f"ln(1.0 + (_n - _df{i} + 0.5) / (_df{i} + 0.5))"
        parts.append(f"({idf}) * {tf} * ({k1} + 1.0) / "
                     f"({tf} + {k1} * (1.0 - {b} + {b} * _dl / _avgdl))")
    score = " + ".join(parts)
    return f"""WITH base AS (
      SELECT {id_col}, {dtok} AS _toks, len({dtok}) AS _dl
      FROM {table_expr}),
    stats AS (SELECT COUNT(*) AS _n, AVG(_dl) AS _avgdl, {dfs} FROM base)
    SELECT {id_col}, ROUND({score}, 6) AS score
    FROM base CROSS JOIN stats
    ORDER BY score DESC, {id_col} LIMIT {k}"""


def duplicate_spans(docs: DataFrame, size: int = 120, stride: int = 80,
                    min_docs: int = 2, min_len: int = 40,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Chunk-level substring duplication: fixed-size character windows
    (the chunk_documents grid) that recur across >= ``min_docs`` DISTINCT
    documents — the cheap, shuffle-bounded stand-in for suffix-array
    exact-substring dedup (the MassiveText/ExactSubstr idea at chunk
    granularity; public technique). A span shared by many docs marks
    boilerplate to cut before training; ``min_len`` drops trailing
    slivers too short to be meaningful.

    Scale shape: the chunk explode is narrow (~size/stride replication);
    the ONLY shuffle is a (16-byte md5)-keyed aggregate carrying
    (digest, id) pairs — never chunk text (the canonical span locator
    rides along as a min struct, so one representative (doc, chunk)
    coordinate survives per span without a second join). Output is
    bounded by the number of DISTINCT recurring spans, not the corpus.

    Returns (span_md5, n_docs, n_occurrences, rep_doc_id, rep_chunk_id)
    for spans of full ``min_len``+ length in >= min_docs distinct docs.
    """
    ch = chunk_documents(docs, size=size, stride=stride,
                         text_col=text_col, id_col=id_col)
    keyed = (ch.where(F.col("chunk_len") >= min_len)
             .select(F.md5("chunk_text").alias("span_md5"),
                     F.col(id_col), F.col("chunk_id")))
    return (keyed.groupBy("span_md5")
            .agg(F.countDistinct(id_col).cast("long").alias("n_docs"),
                 F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                 F.min(F.struct(F.col(id_col), F.col("chunk_id")))
                 .alias("_rep"))
            .where(F.col("n_docs") >= min_docs)
            .select("span_md5", "n_docs", "n_occurrences",
                    F.col(f"_rep.{id_col}").alias("rep_doc_id"),
                    F.col("_rep.chunk_id").alias("rep_chunk_id")))


def duplicate_spans_oracle_sql(table_expr: str, size: int = 120,
                               stride: int = 80, min_docs: int = 2,
                               min_len: int = 40, text_col: str = "text",
                               id_col: str = "doc_id") -> str:
    chunks = chunk_documents_oracle_sql(table_expr, size, stride,
                                        text_col, id_col)
    return f"""WITH chunks AS ({chunks}),
    keyed AS (SELECT md5(chunk_text) AS span_md5, {id_col}, chunk_id
              FROM chunks WHERE chunk_len >= {min_len}),
    spans AS (
      SELECT span_md5,
             CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             MIN({id_col}) AS rep_doc_id
      FROM keyed GROUP BY span_md5)
    SELECT s.span_md5, s.n_docs, s.n_occurrences, s.rep_doc_id,
           MIN(k.chunk_id) AS rep_chunk_id
    FROM spans s JOIN keyed k
      ON k.span_md5 = s.span_md5 AND k.{id_col} = s.rep_doc_id
    WHERE s.n_docs >= {min_docs}
    GROUP BY 1, 2, 3, 4"""


def weighted_sample(docs: DataFrame, k: int = 20,
                    weight_expr: str = "CAST(n_chars AS DOUBLE)",
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weight-proportional sampling WITHOUT replacement —
    the Efraimidis–Spirakis A-Res scheme (public algorithm: draw
    u_i ~ U(0,1], rank by key_i = u_i^(1/w_i), keep the top k; the
    selection is then exactly weighted-without-replacement). The
    "randomness" is a content-stable hash, NEVER rand(): re-runs,
    task retries, and different partitionings pick the SAME sample, the
    exactly-once lineage requirement every sampling op in this repo
    follows (corpus_mixture_sample's rule).

    This is how a pipeline takes a quality- or length-weighted corpus
    subsample (upweight long/high-quality docs) with reproducibility.

    Scale shape: u and the key are narrow codegen expressions over the
    scan; top-k is TakeOrderedAndProject (per-partition heaps + k-row
    driver merge) — zero data-sized shuffles at any corpus size, and the
    per-partition heaps make it exactly the distributed form the A-Res
    paper targets. Zero/negative weights sort last.

    Ranking uses the UNROUNDED log-domain key ln(u)/w (the A-Res paper's
    own numerically-stable form; monotone in u^(1/w), so the selection is
    identical in exact arithmetic): for realistic weights u^(1/w)
    compresses into a ~1e-3 band below 1.0, and ranking on a
    display-rounded key would bucket many docs together and break ties by
    id — an id-biased within-bucket selection that silently weakens the
    weighted-without-replacement property (round-6 advisor finding).
    skey = u^(1/w) rounded to 6 is returned for DISPLAY only.

    Returns the k sampled rows as (id_col, weight, skey rounded to 6),
    exact-key ties broken by id.
    """
    space = float(1 << 60)
    u = (f"(CAST({H.base_hash(f'CAST({id_col} AS STRING)', 'spark')} "
         f"AS DOUBLE) + 1.0) / {space!r}")
    rank_key = (f"CASE WHEN ({weight_expr}) > 0 "
                f"THEN ln({u}) / ({weight_expr}) ELSE -1e308 END")
    disp_key = (f"CASE WHEN ({weight_expr}) > 0 "
                f"THEN pow({u}, 1.0 / ({weight_expr})) ELSE 0.0 END")
    return (docs.select(F.col(id_col),
                        F.expr(weight_expr).alias("weight"),
                        R.fround(F.expr(disp_key), 6).alias("skey"),
                        F.expr(rank_key).alias("_rk"))
            .orderBy(F.col("_rk").desc(), F.col(id_col))
            .limit(k)
            .drop("_rk"))


def weighted_sample_oracle_sql(table_expr: str, k: int = 20,
                               weight_expr: str = "CAST(n_chars AS DOUBLE)",
                               text_col: str = "text",
                               id_col: str = "doc_id") -> str:
    space = float(1 << 60)
    u = (f"(CAST({H.base_hash(f'CAST({id_col} AS VARCHAR)', 'duckdb')} "
         f"AS DOUBLE) + 1.0) / {space!r}")
    rank_key = (f"CASE WHEN ({weight_expr}) > 0 "
                f"THEN ln({u}) / ({weight_expr}) ELSE -1e308 END")
    disp_key = (f"CASE WHEN ({weight_expr}) > 0 "
                f"THEN pow({u}, 1.0 / ({weight_expr})) ELSE 0.0 END")
    return (f"SELECT {id_col}, {weight_expr} AS weight, "
            f"ROUND({disp_key}, 6) AS skey "
            f"FROM {table_expr} "
            f"ORDER BY {rank_key} DESC, {id_col} LIMIT {k}")


def token_entropy(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document token-distribution Shannon entropy (nats) — the
    information-density quality signal: near-zero entropy marks
    degenerate/repetitive text (one token dominating), high entropy
    marks diverse vocabulary; used alongside the Gopher repetition
    rules to rank corpus segments (public technique).

    entropy = -sum_t (c_t / n) ln(c_t / n) over the doc's token counts,
    norm_entropy = entropy / ln(distinct_tokens) in [0, 1] (NULL when
    distinct = 1, where the ratio is 0/0).

    Scale shape: the same word-count aggregate repetition_signals runs —
    explode to (id, token), two-level partial agg keyed by (id, token),
    then an id-keyed entropy fold; shuffles carry (id, token, count)
    partials only. Empty docs emit no row (no tokens, SQL
    aggregate-over-empty semantics).

    Returns (id_col, n_tokens, n_distinct, entropy, norm_entropy)
    rounded to 4.
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    tok = X.sql_tokens(text_col, "spark")
    counts = (_fan_out(docs)
              .select(F.col(id_col), F.explode(F.expr(tok)).alias("_w"))
              .groupBy(id_col, "_w")
              .agg(F.count(F.lit(1)).alias("_c")))
    per = (counts.groupBy(id_col)
           .agg(F.sum("_c").cast("long").alias("n_tokens"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.sum(F.col("_c") * F.log(F.col("_c").cast("double")))
                .alias("_clogc")))
    n = F.col("n_tokens").cast("double")
    ent = F.log(n) - F.col("_clogc") / n
    return per.select(
        id_col, "n_tokens", "n_distinct",
        R.fround(ent, 4).alias("entropy"),
        R.fround(F.when(F.col("n_distinct") > 1,
                        ent / F.log(F.col("n_distinct").cast("double"))),
                 4).alias("norm_entropy"))


def token_entropy_oracle_sql(table_expr: str, text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    return f"""WITH tk AS (
      SELECT {id_col}, UNNEST({dtok}) AS w FROM {table_expr}),
    counts AS (SELECT {id_col}, w, COUNT(*) AS c FROM tk GROUP BY 1, 2),
    per AS (SELECT {id_col}, CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   SUM(c * ln(CAST(c AS DOUBLE))) AS clogc
            FROM counts GROUP BY 1)
    SELECT {id_col}, n_tokens, n_distinct,
           ROUND(ln(CAST(n_tokens AS DOUBLE))
                 - clogc / CAST(n_tokens AS DOUBLE), 4) AS entropy,
           ROUND(CASE WHEN n_distinct > 1 THEN
                 (ln(CAST(n_tokens AS DOUBLE))
                  - clogc / CAST(n_tokens AS DOUBLE))
                 / ln(CAST(n_distinct AS DOUBLE)) END, 4) AS norm_entropy
    FROM per"""


def unigram_nll(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-likelihood under the CORPUS unigram
    language model: nll = mean over token occurrences of -ln(tf_t / T)
    (tf = corpus term frequency, T = total corpus tokens) — the
    perplexity-filter proxy of the CCNet-style curation recipes (public
    technique; a real LM swaps in where the unigram model stands).
    High NLL = text unlike the corpus (gibberish/OCR noise), very low
    NLL = all-boilerplate; used as a band-pass beside rare_token_score's
    document-frequency view (occurrence-weighted vs distinct-token).

    Scale shape: ONE corpus-wide term-frequency aggregate (word-count
    shape, vocabulary-sized output with map-side combine), its 1-row
    total broadcast back, and one token->tf join (unforced — AQE
    broadcasts a vocabulary that fits, shuffles one that doesn't),
    then a per-doc mean. Shuffles carry (token, count) and
    (id, token) pairs only. Empty docs emit no row.

    The vocabulary-sized tf model is STAGED (r13 multi-scan audit):
    the scalar-total branch otherwise re-plans the scan+explode+agg
    subtree, tokenizing the corpus a third time at runtime (fit +
    total + apply); staged, the corpus is tokenized exactly twice —
    the inherent fit-then-apply minimum.

    Returns (id_col, n_tokens, nll) with nll in nats rounded to 4.
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    tok = X.sql_tokens(text_col, "spark")
    pairs = _fan_out(docs).select(
        F.col(id_col), F.explode(F.expr(tok)).alias("_w"))
    tf = stage_local(
        pairs.groupBy("_w").agg(F.count(F.lit(1)).cast("long").alias("_tf")))
    total = tf.agg(F.sum("_tf").cast("double").alias("_total"))
    return (pairs.join(tf, "_w")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 R.fround(F.avg(-F.log(F.col("_tf") / F.col("_total"))), 4)
                 .alias("nll")))


def unigram_nll_oracle_sql(table_expr: str, text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    return f"""WITH pairs AS (
      SELECT {id_col}, UNNEST({dtok}) AS w FROM {table_expr}),
    tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS tf FROM pairs GROUP BY w),
    total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS t FROM tf)
    SELECT p.{id_col}, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-ln(tf.tf / total.t)), 4) AS nll
    FROM pairs p JOIN tf ON p.w = tf.w CROSS JOIN total
    GROUP BY p.{id_col}"""


def dsir_importance(docs: DataFrame, target_source: str = "src0",
                    buckets: int = 1024, alpha: float = 0.5,
                    text_col: str = "text", id_col: str = "doc_id",
                    source_col: str = "source") -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al. 2023,
    public DSIR recipe): score every document by how much more likely its
    hashed unigram features are under a TARGET distribution (here: the
    docs of ``target_source``) than under the RAW pool (the whole
    corpus), with add-``alpha`` smoothing over ``buckets`` hashed
    feature buckets:

        log_weight(d) = sum over tokens w of
            ln p_target(bucket(w)) - ln p_raw(bucket(w))

    High scores mark raw docs that "look like" the target domain —
    the standard cheap alternative to a trained quality classifier for
    domain-matched pretraining selection. Feature hashing uses the
    cross-engine md5 fold (functions/hashing.base_hash), so the DuckDB
    oracle reproduces bucket ids bit-for-bit.

    Scale shape: two passes over the corpus, both narrow until their
    aggregate — (1) FIT: token-explode -> ONE word-count-shaped
    aggregate onto <= ``buckets`` rows (map-side combined; the shuffle
    carries bucket ids, never tokens or text), folded with its totals
    into a <= buckets-row log-ratio model; (2) SCORE: the same explode
    broadcast-joined to the model (no shuffle), then one id-keyed
    partial-aggregated sum. Model size is ``buckets``-bounded and
    scale-invariant; no driver-side collect anywhere.

    Returns (id_col, n_tokens, log_weight) for EVERY doc — token-less
    docs carry (0, 0.0). log_weight is in nats, rounded to 6 (the
    per-doc sum is order-jittered at ~1e-14, far below the rounding).
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    tok = X.sql_tokens(text_col, "spark")
    bucket = f"{H.base_hash('_w', 'spark')} % {buckets}"
    pairs = (_fan_out(docs)
             .select(F.col(id_col), F.col(source_col),
                     F.explode(F.expr(tok)).alias("_w"))
             .select(id_col, source_col, F.expr(bucket).alias("_b")))
    counts = pairs.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("_cr"),
        F.sum((F.col(source_col) == target_source).cast("long"))
        .alias("_ct"))
    # totals as an unpartitioned window over the <= buckets-row aggregate:
    # a separate .agg() branch would re-run the corpus explode+count a
    # second time (no CSE across DataFrame branches); the window costs one
    # single-partition exchange of <= buckets rows instead
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.lit(1))
    nr = F.sum("_cr").over(w).cast("double")
    nt = F.sum("_ct").over(w).cast("double")
    model = counts.select(
        "_b",
        (F.log((F.col("_ct") + alpha) / (nt + alpha * buckets))
         - F.log((F.col("_cr") + alpha) / (nr + alpha * buckets)))
        .alias("_lr"))
    scored = (pairs.join(F.broadcast(model), "_b")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                   F.sum("_lr").alias("_s")))
    return (docs.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_tokens", F.lit(0).cast("long"))
                    .alias("n_tokens"),
                    R.fround(F.coalesce(F.col("_s"), F.lit(0.0)), 6)
                    .alias("log_weight")))


def dsir_importance_oracle_sql(table_expr: str, target_source: str = "src0",
                               buckets: int = 1024, alpha: float = 0.5,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               source_col: str = "source") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    bucket = f"{H.base_hash('_w', 'duckdb')} % {buckets}"
    return f"""WITH ex AS (
      SELECT {id_col}, {source_col}, UNNEST({dtok}) AS _w
      FROM {table_expr}),
    pairs AS (SELECT {id_col}, {source_col}, {bucket} AS _b FROM ex),
    counts AS (SELECT _b, CAST(COUNT(*) AS BIGINT) AS _cr,
                      CAST(SUM(CASE WHEN {source_col} = '{target_source}'
                               THEN 1 ELSE 0 END) AS BIGINT) AS _ct
               FROM pairs GROUP BY _b),
    totals AS (SELECT CAST(SUM(_cr) AS DOUBLE) AS _nr,
                      CAST(SUM(_ct) AS DOUBLE) AS _nt FROM counts),
    model AS (SELECT _b, ln((_ct + {alpha}) / (_nt + {alpha} * {buckets}))
                       - ln((_cr + {alpha}) / (_nr + {alpha} * {buckets}))
                       AS _lr
              FROM counts CROSS JOIN totals),
    scored AS (SELECT p.{id_col}, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      SUM(m._lr) AS _s
               FROM pairs p JOIN model m USING (_b) GROUP BY p.{id_col})
    SELECT d.{id_col},
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           ROUND(COALESCE(s._s, 0.0), 6) AS log_weight
    FROM {table_expr} d LEFT JOIN scored s ON d.{id_col} = s.{id_col}"""


def tfidf_salient_terms(docs: DataFrame, k: int = 5,
                        text_col: str = "text", id_col: str = "doc_id",
                        source_col: str = "source") -> DataFrame:
    """Top-``k`` salient terms per source by corpus TF-IDF — the
    per-source vocabulary profile (which terms characterize a source's
    contribution to the mixture): classic smoothed tf-idf

        score(source, term) = tf * (ln((N + 1) / (df + 1)) + 1)

    with tf = total occurrences of the term in the source's documents,
    df = number of distinct documents (corpus-wide) containing the term,
    N = corpus document count (sklearn's smooth-idf formula, public).

    Shape: word-count aggregations only — one (doc, term) combine (map-
    side partial), a term-keyed df aggregate, a (source, term) tf
    aggregate, the N literal from a broadcast 1-row frame, then a per-
    source top-k window over the (small) per-source term profiles. No
    UDFs, no driver collect; the widest shuffle carries (doc_id, term,
    count) — strictly lighter than the token explode it follows.

    Determinism across engines: tf/df/N are exact integers; ln is the
    one float op and the score is rounded to 4 before the rank order
    (score DESC, term ASC), the same accepted-ulp posture as the BM25
    retrieval oracle. Returns (source, term, tf, df, score, rank).
    """
    from pyspark.sql import Window

    from kafka_connect_oss_spark.operators.dedup import _fan_out

    tok = X.sql_tokens(text_col, "spark")
    per_doc = (_fan_out(docs)
               .selectExpr(id_col, source_col, f"explode({tok}) AS term")
               .groupBy(source_col, id_col, "term")
               .agg(F.count(F.lit(1)).alias("_c")))
    term_df = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    source_tf = per_doc.groupBy(source_col, "term").agg(
        F.sum("_c").alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("_n"))
    scored = (source_tf.join(term_df, "term").crossJoin(F.broadcast(n))
              .withColumn("score", R.fround(
                  F.col("tf") *
                  (F.log((F.col("_n") + 1) /
                         (F.col("df") + 1).cast("double")) + 1), 4)))
    w = (Window.partitionBy(source_col)
         .orderBy(F.col("score").desc(), F.col("term")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(source_col, "term", "tf", "df", "score", "rank"))


def tfidf_salient_terms_oracle_sql(table_expr: str, k: int = 5,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   source_col: str = "source") -> str:
    """DuckDB oracle for tfidf_salient_terms — identical integer counts,
    identical double formula, rounded before the rank order."""
    dtok = X.sql_tokens(text_col, "duckdb")
    score = (f"round(tf * (ln((_n + 1) / CAST(df + 1 AS DOUBLE)) + 1), 4)")
    return f"""WITH ex AS (
      SELECT {id_col}, {source_col}, UNNEST({dtok}) AS term
      FROM {table_expr}),
    pd AS (SELECT {source_col}, {id_col}, term,
                  CAST(COUNT(*) AS BIGINT) AS _c
           FROM ex GROUP BY {source_col}, {id_col}, term),
    tdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM pd GROUP BY term),
    stf AS (SELECT {source_col}, term, CAST(SUM(_c) AS BIGINT) AS tf
            FROM pd GROUP BY {source_col}, term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n FROM {table_expr}),
    sc AS (SELECT {source_col}, term, tf, df, {score} AS score
           FROM stf JOIN tdf USING (term) CROSS JOIN n)
    SELECT {source_col}, term, tf, df, score, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY {source_col}
              ORDER BY score DESC, term) AS rank FROM sc)
    WHERE rank <= {k}"""


def bigram_nll(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-likelihood under the CORPUS bigram
    language model with add-1 (Laplace) smoothing:

        P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)

    c(w1 w2) = corpus bigram count, c(w1 ·) = corpus count of w1 as a
    bigram context, V = corpus vocabulary size. The order-sensitive
    sibling of ``unigram_nll``'s CCNet-style perplexity filter: token
    SALAD with plausible unigrams (shuffled text, keyword stuffing, bad
    OCR segment order) scores near the unigram model but far under the
    bigram model — the standard next rung of the perplexity-filter
    ladder before a real LM (public n-gram LM technique, e.g.
    Chen & Goodman 1996 smoothing study).

    Scale shape: word-count aggregations only — one (w1,w2) corpus
    count (map-side combine), context counts derived FROM that result
    (a second tiny agg over vocabulary-sized data, never a second
    corpus pass), a 1-row V broadcast, one bigram->model join (AQE
    broadcasts a vocabulary-sized model), one per-doc mean. Documents
    with < 2 tokens emit no row.

    The vocabulary-sized bigram model is STAGED (r13 multi-scan audit):
    the context-count branch derives FROM the bigram counts, but
    unstaged it re-planned the whole scan+explode+agg subtree —
    tokenizing the corpus once more than the fit + vocab + apply
    minimum of three passes.

    Returns (id_col, n_bigrams, nll) in nats rounded to 4.
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    tok = X.sql_tokens(text_col, "spark")
    big = (f"CASE WHEN size({tok}) < 2 THEN array() "
           f"ELSE transform(sequence(1, size({tok}) - 1), "
           f"i -> concat(element_at({tok}, i), ' ', "
           f"element_at({tok}, i + 1))) END")
    pairs = _fan_out(docs).select(
        F.col(id_col), F.explode(F.expr(big)).alias("_b"))
    bc = stage_local(pairs.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("_bc")))
    cc = (bc.groupBy(F.substring_index("_b", " ", 1).alias("_w1"))
          .agg(F.sum("_bc").alias("_cc")))
    v = (_fan_out(docs)
         .select(F.explode(F.expr(tok)).alias("_w"))
         .agg(F.countDistinct("_w").cast("double").alias("_v")))
    return (pairs
            .join(bc, "_b")
            .join(cc, F.substring_index(pairs["_b"], " ", 1) == cc["_w1"])
            .crossJoin(F.broadcast(v))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 R.fround(F.avg(-F.log((F.col("_bc") + 1)
                                       / (F.col("_cc") + F.col("_v")))), 4)
                 .alias("nll")))


def bigram_nll_oracle_sql(table_expr: str, text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    big = (f"CASE WHEN len({dtok}) < 2 THEN [] "
           f"ELSE list_transform(range(1, len({dtok})), "
           f"i -> {dtok}[i] || ' ' || {dtok}[i + 1]) END")
    return f"""WITH pairs AS (
      SELECT {id_col}, UNNEST({big}) AS b FROM {table_expr}),
    bc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS bc FROM pairs GROUP BY b),
    cc AS (SELECT split_part(b, ' ', 1) AS w1, SUM(bc) AS cc
           FROM bc GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
          FROM (SELECT UNNEST({dtok}) AS w FROM {table_expr}))
    SELECT p.{id_col}, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((bc.bc + 1) / (cc.cc + v.v))), 4) AS nll
    FROM pairs p JOIN bc ON p.b = bc.b
    JOIN cc ON split_part(p.b, ' ', 1) = cc.w1
    CROSS JOIN v
    GROUP BY p.{id_col}"""


def vocab_stats(docs: DataFrame, text_col: str = "text",
                source_col: str = "source") -> DataFrame:
    """Per-source vocabulary-richness profile: total token occurrences,
    distinct types, type-token ratio, and hapax share (fraction of the
    source's types occurring exactly once) — the classic lexical
    diversity screen for mixture design (a source whose TTR collapses is
    boilerplate/template-dominated; one whose hapax share explodes is
    OCR noise or ID-string soup).

    Word-count shape end-to-end: one (source, term) count with map-side
    combine, then a source-level aggregate over vocabulary-sized rows.
    All counts exact integers; the two ratios round once.

    Returns (source_col, n_tokens, n_types, ttr, hapax_share).
    """
    from kafka_connect_oss_spark.operators.dedup import _fan_out

    tok = X.sql_tokens(text_col, "spark")
    tf = (_fan_out(docs)
          .select(source_col, F.explode(F.expr(tok)).alias("_w"))
          .groupBy(source_col, "_w")
          .agg(F.count(F.lit(1)).cast("long").alias("_tf")))
    return (tf.groupBy(source_col)
            .agg(F.sum("_tf").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 R.fround(F.count(F.lit(1))
                          / F.sum("_tf").cast("double"), 4).alias("ttr"),
                 R.fround(F.sum(F.when(F.col("_tf") == 1, 1).otherwise(0))
                          / F.count(F.lit(1)).cast("double"), 4)
                 .alias("hapax_share")))


def vocab_stats_oracle_sql(table_expr: str, text_col: str = "text",
                           source_col: str = "source") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    return f"""WITH tf AS (
      SELECT {source_col}, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT {source_col}, UNNEST({dtok}) AS w FROM {table_expr})
      GROUP BY {source_col}, w)
    SELECT {source_col}, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(COUNT(*) / CAST(SUM(tf) AS DOUBLE), 4) AS ttr,
           ROUND(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS hapax_share
    FROM tf GROUP BY {source_col}"""


def zipf_profile(docs: DataFrame, text_col: str = "text",
                 source_col: str = "source") -> DataFrame:
    """Per-source Zipf fit: least-squares slope of log(frequency) against
    log(rank) over the source's term-frequency distribution, plus the
    fit's R² — the distributional-health screen next to ``vocab_stats``
    (natural text tracks Zipf's law with exponent ≈ 1, Zipf 1949 /
    Piantadosi 2014 review; machine-generated boilerplate flattens the
    curve, ID/hash soup steepens past ~1.5 — either tail is a
    source-level red flag no per-doc filter sees).

    zipf_slope = −cov(x,y)/var(x) with x = ln(rank), y = ln(tf);
    r2 = cov²/(var(x)·var(y)), NULL when degenerate (single type, or
    uniform tf where var(y) = 0 — both engines via nullif, no NaN
    divergence).

    Shape: one word-count shuffle (map-side combined), a per-source
    rank window over VOCABULARY-sized rows (never corpus-sized), then
    five scalar moments per source — the same cost envelope as
    ``vocab_stats``. Ranks tie-break (tf DESC, term) so the fit is
    byte-deterministic across engines and partitionings.

    Returns (source_col, n_types, zipf_slope, r2).
    """
    from pyspark.sql import Window

    from kafka_connect_oss_spark.operators.dedup import _fan_out

    tok = X.sql_tokens(text_col, "spark")
    tf = (_fan_out(docs)
          .select(source_col, F.explode(F.expr(tok)).alias("_w"))
          .groupBy(source_col, "_w")
          .agg(F.count(F.lit(1)).cast("long").alias("_tf")))
    w = Window.partitionBy(source_col).orderBy(F.col("_tf").desc(), "_w")
    xy = tf.select(
        source_col,
        F.log(F.row_number().over(w).cast("double")).alias("_x"),
        F.log(F.col("_tf").cast("double")).alias("_y"))
    agg = xy.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.covar_pop("_x", "_y").alias("_cov"),
        F.var_pop("_x").alias("_vx"),
        F.var_pop("_y").alias("_vy"))
    return agg.select(
        source_col, "n_types",
        R.fround(-F.col("_cov") / F.expr("nullif(_vx, 0D)"), 4)
        .alias("zipf_slope"),
        R.fround(F.col("_cov") * F.col("_cov")
                 / F.expr("nullif(_vx * _vy, 0D)"), 4).alias("r2"))


def zipf_profile_oracle_sql(table_expr: str, text_col: str = "text",
                            source_col: str = "source") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    return f"""WITH tf AS (
      SELECT {source_col}, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT {source_col}, UNNEST({dtok}) AS w FROM {table_expr})
      GROUP BY {source_col}, w),
    rk AS (SELECT {source_col}, tf, ROW_NUMBER() OVER (
               PARTITION BY {source_col} ORDER BY tf DESC, w) AS r
           FROM tf),
    xy AS (SELECT {source_col}, ln(CAST(r AS DOUBLE)) AS x,
                  ln(CAST(tf AS DOUBLE)) AS y FROM rk)
    SELECT {source_col}, CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(-covar_pop(x, y) / nullif(var_pop(x), 0), 4) AS zipf_slope,
           ROUND(covar_pop(x, y) * covar_pop(x, y)
                 / nullif(var_pop(x) * var_pop(y), 0), 4) AS r2
    FROM xy GROUP BY {source_col}"""


def curriculum_order(docs: DataFrame, n_bands: int = 4, n_shards: int = 8,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Deterministic curriculum layout: documents ordered
    highest-quality-band first, hash-shuffled within a band, sharded the
    way ``pack_sequences`` shards — the data-ordering counterpart of
    packing (public curriculum-learning recipe: coarse quality phases,
    random order inside a phase, Bengio et al. 2009 lineage).

    band = floor(quality * n_bands) clamped (quality ∈ [0,1] from
    ``quality_score``, exactly-1.0 docs land in the top band);
    shard = portable hash of the doc id (NOT id mod — adjacent ids
    spread across shards); pos_in_shard = row_number within the shard
    ordered (band DESC, shuffle-hash, id). The dataloader reads shards
    round-robin, so the realized global order interleaves shards while
    every shard individually descends through the curriculum — the
    same contract a range-partitioned sorted write would give, with
    the window partitioned BY SHARD so no single-task global sort
    exists at any scale.

    Determinism: band from exact rounded quality, shuffle key and
    shard from the shared engine-portable hash — byte-stable across
    engines, restarts, and partitionings.

    Returns (id_col, shard, band, pos_in_shard).
    """
    from pyspark.sql import Window

    q = quality_score(docs, text_col, id_col).select(id_col, "quality")
    band = F.expr(f"CAST(least({n_bands - 1}, "
                  f"floor(quality * {n_bands})) AS INT)")
    skey = F.expr(H.base_hash(
        f"concat('curr:', CAST({id_col} AS STRING))", "spark"))
    base = q.select(id_col, band.alias("band"),
                    F.pmod(skey, F.lit(n_shards)).cast("int").alias("shard"),
                    skey.alias("_sk"))
    w = (Window.partitionBy("shard")
         .orderBy(F.col("band").desc(), F.col("_sk"), F.col(id_col)))
    return (base.withColumn("pos_in_shard",
                            F.row_number().over(w).cast("long"))
            .select(id_col, "shard", "band", "pos_in_shard"))


def curriculum_order_oracle_sql(table_expr: str, n_bands: int = 4,
                                n_shards: int = 8, text_col: str = "text",
                                id_col: str = "doc_id") -> str:
    dtok = X.sql_tokens(text_col, "duckdb")
    quality = X.sql_quality_duckdb("t")
    skey = H.base_hash(f"'curr:' || CAST({id_col} AS VARCHAR)", "duckdb")
    return f"""WITH tok AS (
      SELECT {id_col}, {dtok} AS t FROM {table_expr}),
    q AS (SELECT {id_col}, {quality} AS quality FROM tok),
    b AS (SELECT {id_col},
                 CAST(least({n_bands - 1},
                            floor(quality * {n_bands})) AS INT) AS band,
                 CAST({skey} % {n_shards} AS INT) AS shard,
                 {skey} AS sk
          FROM q)
    SELECT {id_col}, shard, band,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard
               ORDER BY band DESC, sk, {id_col}) AS BIGINT) AS pos_in_shard
    FROM b"""


def _dup_span_intervals(docs: DataFrame, size: int, stride: int,
                        min_docs: int, min_len: int, text_col: str,
                        id_col: str) -> DataFrame:
    """Shared core of the exact-substring pair: per document, the MERGED
    1-based char intervals covered by chunks whose text recurs in
    >= ``min_docs`` distinct documents — `span_coverage` sums them (the
    decision signal), `span_dedup` excises them (the repair). One chunk
    explode staged once, one 16-byte-md5 shuffle, one md5 join back,
    one per-doc gaps-and-islands window. Returns (id_col, _s, _e), one
    row per merged island; islands are disjoint with _s(i+1) > _e(i)."""
    from pyspark.sql import Window

    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    keyed = stage_local(
        chunk_documents(docs, size=size, stride=stride,
                        text_col=text_col, id_col=id_col)
        .where(F.col("chunk_len") >= min_len)
        .select(F.md5("chunk_text").alias("span_md5"), F.col(id_col),
                F.col("chunk_id"), F.col("chunk_len")))
    dup = (keyed.groupBy("span_md5")
           .agg(F.countDistinct(id_col).alias("_nd"))
           .where(F.col("_nd") >= min_docs)
           .select("span_md5"))
    hits = (keyed.join(dup, "span_md5")
            .select(id_col,
                    F.expr(f"CAST(chunk_id AS BIGINT) * {stride} + 1")
                    .alias("_s"),
                    F.expr(f"CAST(chunk_id AS BIGINT) * {stride} "
                           f"+ chunk_len").alias("_e")))
    w = Window.partitionBy(id_col).orderBy("_s")
    prev_end = (F.max("_e")
                .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    brk = hits.withColumn(
        "_brk", F.when(F.col("_s") > F.coalesce(prev_end, F.lit(-1)), 1)
        .otherwise(0))
    isl = brk.withColumn(
        "_isl", F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (isl.groupBy(id_col, "_isl")
            .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
            .select(id_col, "_s", "_e"))


def span_coverage(docs: DataFrame, size: int = 120, stride: int = 80,
                  min_docs: int = 2, min_len: int = 40,
                  text_col: str = "text", id_col: str = "doc_id"
                  ) -> DataFrame:
    """Per-document duplicated-substring coverage: the fraction of each
    document's characters lying inside a chunk whose text recurs in
    >= ``min_docs`` DISTINCT documents — the per-doc DECISION signal of
    exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better": cut or down-weight docs that are
    mostly duplicated text). ``duplicate_spans`` locates the recurring
    spans themselves; this op scores the documents they cover.

    Shape: one chunk explode (narrow, ~size/stride replication, staged
    once via stage_local since it feeds both the span-frequency agg and
    the hit join), one 16-byte-md5 shuffle to find recurring spans, one
    md5-keyed join back, then a PER-DOCUMENT window (partition rows
    bounded by len/stride) that merges overlapping chunk intervals
    gaps-and-islands style — no global sort, no all-pairs, output exactly
    one row per input document. At 100 TB every stage keys on either the
    16-byte digest or the doc id.

    Returns (id_col, dup_chars, dup_coverage) — dup_coverage in [0, 1],
    1.0 = the whole document is cross-doc duplicated text.
    """
    ivs = _dup_span_intervals(docs, size, stride, min_docs, min_len,
                              text_col, id_col)
    per_doc = (ivs.groupBy(id_col)
               .agg(F.sum(F.col("_e") - F.col("_s") + 1).cast("long")
                    .alias("dup_chars")))
    return (docs.select(id_col, F.length(text_col).alias("_nc"))
            .join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long")
                    .alias("dup_chars"),
                    R.fround(F.coalesce(F.col("dup_chars"), F.lit(0))
                             / F.greatest(F.col("_nc"), F.lit(1))
                             .cast("double"), 4)
                    .alias("dup_coverage")))


def span_coverage_oracle_sql(table_expr: str, size: int = 120,
                             stride: int = 80, min_docs: int = 2,
                             min_len: int = 40, text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    from kafka_connect_oss_spark.functions.rounding import round_sql
    chunks = chunk_documents_oracle_sql(table_expr, size, stride,
                                        text_col, id_col)
    return f"""WITH chunks AS ({chunks}),
    keyed AS (SELECT md5(chunk_text) AS span_md5, {id_col}, chunk_id,
                     chunk_len
              FROM chunks WHERE chunk_len >= {min_len}),
    dup AS (SELECT span_md5 FROM keyed
            GROUP BY span_md5
            HAVING COUNT(DISTINCT {id_col}) >= {min_docs}),
    hits AS (SELECT k.{id_col},
                    CAST(k.chunk_id AS BIGINT) * {stride} + 1 AS s,
                    CAST(k.chunk_id AS BIGINT) * {stride} + k.chunk_len
                      AS e
             FROM keyed k JOIN dup d USING (span_md5)),
    brk AS (SELECT {id_col}, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                       PARTITION BY {id_col} ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS b
            FROM hits),
    isl AS (SELECT {id_col}, s, e,
                   SUM(b) OVER (PARTITION BY {id_col} ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
            FROM brk),
    merged AS (SELECT {id_col}, island, MAX(e) - MIN(s) + 1 AS clen
               FROM isl GROUP BY {id_col}, island),
    agg AS (SELECT {id_col}, SUM(clen) AS dup_chars
            FROM merged GROUP BY {id_col})
    SELECT t.{id_col},
           CAST(COALESCE(a.dup_chars, 0) AS BIGINT) AS dup_chars,
           {round_sql(f"COALESCE(a.dup_chars, 0) / CAST(greatest(length(t.{text_col}), 1) AS DOUBLE)", 4)}
             AS dup_coverage
    FROM {table_expr} t LEFT JOIN agg a ON a.{id_col} = t.{id_col}"""


def span_dedup(docs: DataFrame, size: int = 120, stride: int = 80,
               min_docs: int = 2, min_len: int = 40,
               text_col: str = "text", id_col: str = "doc_id"
               ) -> DataFrame:
    """Exact-substring dedup, the REPAIR half (Lee et al. 2021 cut the
    recurring substrings out of the corpus rather than dropping whole
    documents; `span_coverage` is the decision half over the same
    chunk grid): every merged cross-doc-duplicated interval is excised
    from the document text, keeping everything between intervals in
    order. The line/span pairing mirrors `line_dedup` one level down —
    lines for structured boilerplate, chunk spans for free-flowing
    copied passages a line split never isolates.

    The excision itself is ONE higher-order expression, no UDF: the
    per-doc interval array (already merged and disjoint, so a single
    left-to-right cursor is correct) folds through `aggregate`, each
    step appending the text between the cursor and the next interval
    and jumping the cursor past it; the finisher appends the tail.
    Cost on top of the shared interval core: one per-doc
    collect_list(struct) aggregate (bounded by intervals-per-doc
    <= len/stride) and one id-keyed join back to the text.

    Returns (id_col, clean_text, removed_chars) — removed_chars equals
    `span_coverage.dup_chars` by construction (pinned in tests), so the
    measurer prices exactly what the repairer cuts.
    """
    ivs = _dup_span_intervals(docs, size, stride, min_docs, min_len,
                              text_col, id_col)
    per_doc = (ivs.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col("_s").alias("s"),
                            F.col("_e").alias("e")))).alias("_ivs")))
    excise = F.expr(f"""aggregate(
        _ivs,
        struct(CAST('' AS STRING) AS acc, CAST(1 AS BIGINT) AS cur),
        (st, iv) -> struct(
            concat(st.acc, substr({text_col}, CAST(st.cur AS INT),
                                  CAST(iv.s - st.cur AS INT))),
            CAST(iv.e + 1 AS BIGINT)),
        st -> concat(st.acc,
                     substr({text_col}, CAST(st.cur AS INT),
                            length({text_col}) - CAST(st.cur AS INT)
                            + 1)))""")
    return (docs.join(per_doc, id_col, "left")
            .select(id_col,
                    F.when(F.col("_ivs").isNull(), F.col(text_col))
                    .otherwise(excise).alias("clean_text"),
                    F.coalesce(
                        F.expr("aggregate(_ivs, CAST(0 AS BIGINT), "
                               "(a, iv) -> a + iv.e - iv.s + 1)"),
                        F.lit(0)).cast("long").alias("removed_chars")))


def span_dedup_oracle_sql(table_expr: str, size: int = 120,
                          stride: int = 80, min_docs: int = 2,
                          min_len: int = 40, text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """DuckDB mirror of ``span_dedup``: the span_coverage interval chain
    (same chunk grid, same island merge), then the excision expressed as
    string_agg of the inter-interval segments (ordered by interval
    start, '' separator) plus the tail after the last interval — the
    relational form of the Spark fold's left-to-right cursor."""
    chunks = chunk_documents_oracle_sql(table_expr, size, stride,
                                        text_col, id_col)
    return f"""WITH chunks AS ({chunks}),
    keyed AS (SELECT md5(chunk_text) AS span_md5, {id_col}, chunk_id,
                     chunk_len
              FROM chunks WHERE chunk_len >= {min_len}),
    dup AS (SELECT span_md5 FROM keyed
            GROUP BY span_md5
            HAVING COUNT(DISTINCT {id_col}) >= {min_docs}),
    hits AS (SELECT k.{id_col},
                    CAST(k.chunk_id AS BIGINT) * {stride} + 1 AS s,
                    CAST(k.chunk_id AS BIGINT) * {stride} + k.chunk_len
                      AS e
             FROM keyed k JOIN dup d USING (span_md5)),
    brk AS (SELECT {id_col}, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                       PARTITION BY {id_col} ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS b
            FROM hits),
    isl AS (SELECT {id_col}, s, e,
                   SUM(b) OVER (PARTITION BY {id_col} ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
            FROM brk),
    merged AS (SELECT {id_col}, island, MIN(s) AS s, MAX(e) AS e
               FROM isl GROUP BY {id_col}, island),
    seg AS (SELECT {id_col}, s, e,
                   COALESCE(LAG(e) OVER (PARTITION BY {id_col}
                                         ORDER BY s), 0) AS pe
            FROM merged),
    pieces AS (SELECT g.{id_col},
                      string_agg(substr(t.{text_col},
                                        CAST(g.pe + 1 AS INT),
                                        CAST(g.s - g.pe - 1 AS INT)),
                                 '' ORDER BY g.s) AS head,
                      MAX(g.e) AS last_e,
                      SUM(g.e - g.s + 1) AS removed
               FROM seg g JOIN {table_expr} t USING ({id_col})
               GROUP BY g.{id_col})
    SELECT t.{id_col},
           CASE WHEN p.{id_col} IS NULL THEN t.{text_col}
                ELSE COALESCE(p.head, '')
                     || substr(t.{text_col}, CAST(p.last_e + 1 AS INT))
           END AS clean_text,
           CAST(COALESCE(p.removed, 0) AS BIGINT) AS removed_chars
    FROM {table_expr} t LEFT JOIN pieces p USING ({id_col})"""


def domain_profile(docs: DataFrame, text_col: str = "text",
                   source_col: str = "source", lang_col: str = "lang",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-source curation profile: volume, language spread, mean
    quality, exact-duplicate rate — the per-domain audit table of web
    corpus pipelines (CCNet / RefinedWeb lineage: curation decisions are
    made per source/domain, so the first question of any corpus review
    is "which domains carry the junk and the dups?").

    Shape: one corpus-wide md5 window (the exact-dup flag), one id-keyed
    join of the quality projection, then ONE aggregate keyed by source —
    output rows = distinct sources. avg(quality) sums doubles whose
    addends are already rounded rationals; the final round-4 absorbs
    summation-order epsilon on both engines.

    Returns (source_col, n_docs, total_chars, n_langs, mean_quality,
    dup_rate).
    """
    from pyspark.sql import Window

    q = quality_score(docs, text_col, id_col).select(id_col, "quality")
    w = Window.partitionBy(F.md5(text_col))
    base = docs.select(
        id_col, source_col, lang_col,
        F.length(text_col).alias("_nc"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("_dup"))
    return (base.join(q, id_col)
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_nc").cast("long").alias("total_chars"),
                 F.countDistinct(lang_col).cast("long").alias("n_langs"),
                 R.fround(F.avg("quality"), 4).alias("mean_quality"),
                 R.fround(F.sum(F.when(F.col("_dup"), 1).otherwise(0))
                          / F.count(F.lit(1)).cast("double"), 4)
                 .alias("dup_rate")))


def domain_profile_oracle_sql(table_expr: str, text_col: str = "text",
                              source_col: str = "source",
                              lang_col: str = "lang",
                              id_col: str = "doc_id") -> str:
    from kafka_connect_oss_spark.functions.rounding import round_sql
    dtok = X.sql_tokens(text_col, "duckdb")
    quality = X.sql_quality_duckdb("t")
    return f"""WITH tok AS (
      SELECT {id_col}, {source_col}, {lang_col}, {text_col}, {dtok} AS t
      FROM {table_expr}),
    q AS (SELECT {id_col}, {source_col}, {lang_col},
                 length({text_col}) AS nc, {quality} AS quality,
                 {id_col} <> MIN({id_col}) OVER (
                     PARTITION BY md5({text_col})) AS is_dup
          FROM tok)
    SELECT {source_col}, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nc) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT {lang_col}) AS BIGINT) AS n_langs,
           {round_sql('AVG(quality)', 4)} AS mean_quality,
           {round_sql("SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)", 4)}
             AS dup_rate
    FROM q GROUP BY {source_col}"""


def gopher_quality_flags(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         keep_cols: tuple = ()) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A — public recipe) as per-doc
    boolean flags plus the composite pass: word count in [50, 100000],
    mean word length in [3, 10], symbol-to-word ratio ('#' chars +
    '...' ellipses) <= 0.1, >= 80% of words containing an alphabetic
    character, and >= 2 stopword hits. Unlike ``quality_score`` (a
    graded composite), these are the hard accept/reject gates a corpus
    pipeline applies before any scoring.

    Pure projection — no shuffle, no UDF; every ratio is int/int IEEE
    division computed identically on both engines, NULL-guarded to
    false for empty documents.

    Returns (id_col, n_words, flag_word_count, flag_mean_word_len,
    flag_symbol_ratio, flag_alpha_words, flag_stopwords, pass_gopher);
    ``keep_cols`` carries extra input columns through the projection so
    a composing pipeline (``packing.publish_corpus_snapshot``) stays
    single-scan instead of joining the flags back on ``id_col``.
    """
    tok = X.sql_tokens(text_col, "spark")
    n = f"size({tok})"
    mean_len = (f"(aggregate({tok}, 0, (acc, x) -> acc + length(x)) "
                f"/ CAST(nullif({n}, 0) AS DOUBLE))")
    alpha_frac = (f"(size(filter({tok}, x -> x rlike '[A-Za-z]')) "
                  f"/ CAST(nullif({n}, 0) AS DOUBLE))")
    n_stop = X.sql_count_matching(tok, X.QUALITY_STOPWORDS, "spark")
    sym = (f"((length({text_col}) - length(replace({text_col}, '#', ''))) "
           f"+ (length({text_col}) "
           f"- length(replace({text_col}, '...', ''))) / 3)")
    sym_ratio = f"({sym} / CAST(nullif({n}, 0) AS DOUBLE))"
    return docs.select(
        id_col, *keep_cols,
        F.expr(n).cast("long").alias("n_words"),
        F.expr(f"{n} BETWEEN 50 AND 100000").alias("flag_word_count"),
        F.expr(f"coalesce({mean_len} >= 3.0 AND {mean_len} <= 10.0, "
               f"false)").alias("flag_mean_word_len"),
        F.expr(f"coalesce({sym_ratio} <= 0.1, false)")
        .alias("flag_symbol_ratio"),
        F.expr(f"coalesce({alpha_frac} >= 0.8, false)")
        .alias("flag_alpha_words"),
        F.expr(f"{n_stop} >= 2").alias("flag_stopwords"),
        F.expr(
            f"({n} BETWEEN 50 AND 100000) "
            f"AND coalesce({mean_len} >= 3.0 AND {mean_len} <= 10.0, false) "
            f"AND coalesce({sym_ratio} <= 0.1, false) "
            f"AND coalesce({alpha_frac} >= 0.8, false) "
            f"AND {n_stop} >= 2").alias("pass_gopher"))


def gopher_quality_flags_oracle_sql(table_expr: str,
                                    text_col: str = "text",
                                    id_col: str = "doc_id") -> str:
    n = "len(t)"
    mean_len = (f"(list_sum(list_transform(t, x -> length(x))) "
                f"/ CAST(nullif({n}, 0) AS DOUBLE))")
    alpha_frac = (f"(len(list_filter(t, x -> regexp_matches(x, "
                  f"'[A-Za-z]'))) / CAST(nullif({n}, 0) AS DOUBLE))")
    n_stop = X.sql_count_matching("t", X.QUALITY_STOPWORDS, "duckdb")
    sym = (f"((length({text_col}) - length(replace({text_col}, '#', ''))) "
           f"+ (length({text_col}) "
           f"- length(replace({text_col}, '...', ''))) / 3)")
    sym_ratio = f"({sym} / CAST(nullif({n}, 0) AS DOUBLE))"
    return f"""WITH tok AS (
      SELECT {id_col}, {text_col}, {X.sql_tokens(text_col, 'duckdb')} AS t
      FROM {table_expr})
    SELECT {id_col},
           CAST({n} AS BIGINT) AS n_words,
           {n} BETWEEN 50 AND 100000 AS flag_word_count,
           COALESCE({mean_len} >= 3.0 AND {mean_len} <= 10.0, FALSE)
             AS flag_mean_word_len,
           COALESCE({sym_ratio} <= 0.1, FALSE) AS flag_symbol_ratio,
           COALESCE({alpha_frac} >= 0.8, FALSE) AS flag_alpha_words,
           {n_stop} >= 2 AS flag_stopwords,
           ({n} BETWEEN 50 AND 100000)
             AND COALESCE({mean_len} >= 3.0 AND {mean_len} <= 10.0, FALSE)
             AND COALESCE({sym_ratio} <= 0.1, FALSE)
             AND COALESCE({alpha_frac} >= 0.8, FALSE)
             AND {n_stop} >= 2 AS pass_gopher
    FROM tok"""


def line_dedup(docs: DataFrame, min_df: int = 2, text_col: str = "text",
               id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """Corpus-level line deduplication — the RefinedWeb/CCNet boilerplate
    repair stage (Penedo et al. 2023 §"line-wise corrections"; CCNet's
    paragraph-hash dedup, Wenzek et al. 2019): a line whose normalized
    form (lower+trim) recurs in >= ``min_df`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, signatures) and is removed
    from every document's text; document-unique lines and blank lines
    survive, order preserved. This REPAIRS documents rather than
    dropping them — the complement of the doc-level tiers
    (``dedup_span_coverage`` measures the overlap; this removes the
    line-shaped part of it).

    Plan: posexplode(split) -> per-norm distinct-doc count (the only
    corpus-wide shuffle, on the normalized line key) -> hot set joined
    back (no driver-side collection of the hot set — at 100 TB the hot
    list is itself corpus-derived and unbounded, so membership is a
    join, not a broadcast literal) -> per-doc rebuild via
    array_sort(collect_list(struct(pos,line))) keeping original order.
    ``sep`` is treated literally (regex-quoted for the split).

    Returns (id_col, clean_text, n_lines, n_removed).
    """
    lines = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E"))
        .alias("pos", "line"))
    lines = lines.withColumn("_norm", F.lower(F.trim("line")))
    hot = (lines.where(F.col("_norm") != "")
           .groupBy("_norm")
           .agg(F.countDistinct(id_col).alias("_df"))
           .where(F.col("_df") >= min_df)
           .select("_norm", F.lit(True).alias("_hot")))
    flagged = lines.join(hot, "_norm", "left")
    keep = (F.col("_norm") == "") | F.col("_hot").isNull()
    return (flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(keep, F.struct("pos", "line")))),
                lambda x: x["line"]), sep).alias("clean_text"))
        .select(id_col, "clean_text", "n_lines", "n_removed"))


def line_dedup_oracle_sql(table_expr: str, min_df: int = 2,
                          text_col: str = "text", id_col: str = "doc_id",
                          sep_sql: str = "chr(10)") -> str:
    """DuckDB mirror of ``line_dedup``: same lower+trim normalization,
    same distinct-doc df, rebuild via list_filter against the hot list
    (a one-row cross join — fine at oracle scale; Spark uses the
    distributed join form)."""
    keep = (f"trim(x) = '' OR NOT list_contains(h.hot, lower(trim(x)))")
    return f"""WITH l AS (
      SELECT {id_col}, string_split({text_col}, {sep_sql}) AS ls
      FROM {table_expr}),
    e AS (SELECT {id_col}, unnest(ls) AS line FROM l),
    hotn AS (SELECT lower(trim(line)) AS n FROM e WHERE trim(line) <> ''
             GROUP BY 1 HAVING count(DISTINCT {id_col}) >= {min_df}),
    h AS (SELECT coalesce(list(n), []) AS hot FROM hotn)
    SELECT {id_col},
           coalesce(array_to_string(list_filter(ls, x -> {keep}),
                                    {sep_sql}), '') AS clean_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ls) - len(list_filter(ls, x -> {keep})) AS BIGINT)
             AS n_removed
    FROM l CROSS JOIN h"""
