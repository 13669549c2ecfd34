#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan evidence for the scale claims in
COVERAGE.md (pushdown, pruning, broadcast, partial agg, TopK, no stray
shuffles). Run from the repo root: python scripts/gen_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: query -> the plan properties a reviewer should check
SHOWCASE = {
    "q1_pricing_summary": (
        "filter pushed to the parquet scan (PushedFilters), 7-column pruned "
        "ReadSchema, map-side partial aggregation: one shuffle moves only "
        "(flag,status) x partial sums"),
    "q3_shipping_priority": (
        "selective dimension broadcast (BroadcastHashJoin on customer), "
        "filters pushed on all three scans, TakeOrderedAndProject top-k "
        "(per-partition heaps, no global sort)"),
    "r1_size_rotation_files": (
        "rotation = window functions partitioned by (topic, partition) — "
        "one shuffle keyed by the Kafka partition, the reference's own "
        "parallelism unit; file summary via partial-agg groupBy"),
    "dedup_minhash_lsh_pairs": (
        "signature computed once (InMemoryTableScan below every branch), "
        "band self-join on a compact BIGINT key, verify join only on "
        "surviving candidate pairs"),
    "sim_ann_ivf_topk": (
        "assignment = literal-centroid argmax on the RAW vector (zero "
        "shuffle, argmax invariant to the row norm; r7 — replaces the "
        "crossJoin+row_number exchange), probe list broadcast "
        "(BroadcastHashJoin), candidate set restricted to nprobe cids, "
        "normalized scoring only on candidates (no corpus self-join), "
        "TopK final"),
    "sim_ann_ivf_kmeans_topk": (
        "fitted-centroid IVF (faiss-style coarse quantizer): the numpy "
        "Lloyd's fit runs OUTSIDE the plan on a bounded deterministic "
        "hash-stride sample, so the plan is the same zero-shuffle "
        "literal-centroid argmax assign as sim_ann_ivf_topk — ONE "
        "Exchange total (the top-k), embeddings scanned at most 3x "
        "(query vector + assign + score), TakeOrderedAndProject final"),
    "multimodal_catalog": (
        "single ArrowEvalPython/MapInPandas stage over the scan — binary "
        "payloads never shuffle, parallelism = input splits (fan-out "
        "repartition only under small local scans)"),
    "sessions_per_user": (
        "one shuffle on user_id; lag + running-sum + final agg share the "
        "same (user_id, ts) sort — a single Window exec chain, no repeat "
        "exchanges"),
    "events_daily_pivot": (
        "static pivot value list = one aggregation pass (partial agg "
        "map-side), no extra distinct scan for the pivot domain"),
    "sketch_distinct_users_kmv": (
        "mergeable KMV: partial_collect_list BEFORE both exchanges (the "
        "approx_count_distinct shuffle shape), no Window/Sort — per-group "
        "state crossing the wire is K-min arrays, not user hashes"),
    "events_hourly_rollup_approx": (
        "same mergeable-sketch shape grouped by (hour, event_type): "
        "partial aggregation at every level, distinct pass shuffles "
        "(group, user) once, merge moves K-length arrays only"),
    "asof_purchase_attribution": (
        "as-of = union-tag + ONE window: a single Exchange on user_id, "
        "no range join, no BroadcastNestedLoopJoin — linear in "
        "|purchases| + |clicks|"),
    "range_join_purchase_errors": (
        "interval join as time-bucketed equi-join: SortMergeJoin/"
        "BroadcastHashJoin on (user_id, bucket), left side exploded "
        "exactly 2x, no nested-loop fallback"),
    "corpus_curated": (
        "quality gate + decontamination are NARROW (filters against "
        "broadcast literal hash set, no corpus shuffle); only the "
        "exact-dedup digest groupBy and the final per-lang agg exchange"),
    "sim_ann_pq_topk": (
        "PQ encode is a zero-exchange projection (literal codebooks); "
        "ADC scan + TakeOrdered, exact re-rank only on the candidate "
        "rows — no shuffle anywhere before the final TopK"),
    "events_signup_funnel": (
        "three shrinking groupBy-min frames joined forward on user_id — "
        "no per-user event-history sort/window; counts are single-row "
        "broadcast crossJoins"),
    "q21_waiting_suppliers": (
        "EXISTS/NOT-EXISTS collapsed to ONE per-order aggregate: lineitem "
        "scanned once, one exchange on orderkey (plus the expand for the "
        "two distinct counts); region-filtered supplier dim broadcast; "
        "TakeOrderedAndProject top-k — no lineitem self-joins"),
    "dedup_cleaned_corpus": (
        "NO broadcast hint on the drop-list join (drop side is O(corpus) "
        "on dup-dense data): plain equi-join on doc_id that AQE resolves "
        "by size at runtime; drops built from collapsed connectivity "
        "edges, never the quadratic pair expansion"),
    "multimodal_near_dup": (
        "MapInPandas embed (Arrow-batched, no payload shuffle) -> "
        "(modality, centered sign-LSH bucket) block key -> salt-grid "
        "self-join: candidate dots divided ~10x by the bucket factor and "
        "spread over block/cap tasks, never one task per modality"),
    "corpus_chunk_windows": (
        "narrow Generate (explode) directly over the pruned scan — zero "
        "Exchange at any corpus size; output replication bounded by "
        "size/stride"),
    "sim_random_projection": (
        "pure projection over the embeddings scan — zero Exchange; the "
        "±1 matrix is folded into the expression tree (no model-state "
        "join, no Python)"),
    "corpus_cross_source_overlap": (
        "ONE corpus-sized shuffle (distinct (source, shingle-hash)), "
        "staged lazily (Scan ExistingRDD below all three consumers — "
        "r7 lifecycle: zero pre-jobs, one job at the caller's action, "
        "storage GC-released), so repeated per-batch invocation holds "
        "no accumulating corpus-sized storage"),
    "dedup_incremental_status": (
        "append-batch classification: exact layer exchanges only (id, "
        "md5-digest) pairs; near layer (r8 EXACT recall rewrite) joins "
        "increment shingle hashes against the base-rep inverted index "
        "— r10 bounded build: a map-side-combined df count + LeftSemi "
        "drops over-cap shingles BEFORE collect_list materializes any "
        "posting array (the HAVING form bounded output but still "
        "buffered the hot key whole), postings staged once for the "
        "count and list subtrees; base reps collapsed one-per-distinct-"
        "content, verification join only on surviving candidate pairs; "
        "at deploy scale the postings table is bucketed by shingle "
        "hash so the base side never re-shuffles per batch"),
    "corpus_snapshot_diff": (
        "snapshot lineage audit (r8): each side collapses to (id, "
        "16-byte md5) narrow projections over the scan; ONE full-outer "
        "SortMergeJoin keyed by id (~24 bytes/row both sides) — with "
        "both snapshots' digest frames written bucketed by id the join "
        "plans with zero Exchange (operators/bucketing.py)"),
    "text_novelty_score": (
        "JOIN-FREE form: the (id, hash) explode staged lazily once "
        "(Scan ExistingRDD below both aggregates, r7 lifecycle); "
        "totals and first-owner counts reduce it to DOC-sized frames "
        "joined doc x doc — never a corpus-sized hash join; the one "
        "corpus-sized shuffle carries (hash, min-id) partials"),
    "text_bm25_topk": (
        "corpus stats (N, avgdl, per-term df) reduce map-side to ONE "
        "row broadcast back (BroadcastNestedLoopJoin of a 1-row side is "
        "the legitimate pattern); tf/dl narrow HOF expressions; "
        "TakeOrderedAndProject top-k — zero data-sized shuffles"),
    "sim_embedding_diversity": (
        "ONE wide codegen aggregate (dim element-sums + count, map-side "
        "combined, shuffle bounded by groups x (dim+1)) — the n^2 "
        "pairwise mean with NO self-join and NO explode"),
    "corpus_weighted_sample": (
        "A-Res weighted sampling: narrow hash-uniform key expression "
        "over the scan, TakeOrderedAndProject top-k (per-partition "
        "heaps) — zero data-sized shuffles"),
    "text_unigram_nll": (
        "corpus TF aggregate (word-count shape, map-side combined) "
        "STAGED (r13: Scan ExistingRDD under both the scalar total and "
        "the model join — unstaged, the corpus tokenized 3x), 1-row "
        "total broadcast, UNFORCED token join (AQE decides broadcast "
        "vs shuffle as the vocabulary grows), per-doc mean"),
    "text_token_entropy": (
        "single word-count aggregate keyed (id, token) with map-side "
        "combine, then an id-keyed entropy fold — no second corpus scan"),
    "dedup_containment_pairs": (
        "exact inverted-shingle-index candidates — r10 bounded build: "
        "df count + LeftSemi pre-filter ahead of collect_list so an "
        "ultra-hot shingle costs a counter, never an aggregation "
        "buffer; the postings are staged once (Scan ExistingRDD) and "
        "the count -> semi-join -> index chain runs inline from them "
        "(unstaged since r17, 48afd53): the surviving-shingle set "
        "broadcasts into the semi-join, so 3 shuffle Exchanges — df "
        "count, index collect_list, candidate distinct — where the "
        "staged form showed 2 and ran the count's Exchange in a "
        "separate job; verify join only on survivors, identity groups "
        "collapsed before hashing — BIGINT hashes and ids on every "
        "exchange, text never shuffles; rep-pair expansion + salted "
        "intra pairs reuse the staged members frame (Scan ExistingRDD "
        "below both branches)"),
    "dedup_lsh_recall_eval": (
        "r09 recall monitor: truth = blocked exact tier (quadratic only "
        "within (lang,source)); caught decided by TWO id joins of the "
        "8-slot signatures onto the small truth set — the global "
        "banded candidate pair set is never materialized"),
    "text_tfidf_salient_terms": (
        "word-count shapes only: (source,id,term) combine map-side, "
        "term-df and source-tf aggregates over vocabulary-sized rows, "
        "1-row N broadcast, per-source top-k window over per-source "
        "term profiles (WindowGroupLimit partial+final)"),
    "corpus_leakage_safe_split": (
        "r09: CC labels from the COLLAPSED connectivity graph (star "
        "edges, no intra-group pair explosion), split = narrow "
        "portable-hash projection on the labels — no extra shuffle "
        "beyond the CC loop itself"),
    "pack_efficiency_report": (
        "one cumsum window on the shard key (the layout's own single "
        "shuffle) + one shard-level partial-agg rollup — n_shards "
        "output rows, fragments derived in-expression, no second scan"),
    "text_bigram_nll": (
        "bigram word-count aggregate (map-side combined) STAGED (r13: "
        "the context-count agg derives from it — unstaged it re-ran "
        "the corpus explode, 4 passes vs the fit+vocab+apply minimum "
        "of 3); context counts a vocabulary-sized second agg; 1-row V "
        "broadcast; UNFORCED model join (AQE broadcasts while the "
        "model fits); per-doc partial avg map-side"),
    "text_vocab_stats": (
        "one (source, term) word-count aggregate with map-side "
        "combine, then a source-level rollup over vocabulary-sized "
        "rows — two exchanges total, both post-combine"),
    "sim_embedding_outliers": (
        "r09 engine-exact QC: posexplode -> (label, dim) partial-agg "
        "shuffle (64 x labels rows), centroids BROADCAST back, exact "
        "integer distance agg, per-label top-k via WindowGroupLimit "
        "(partial + final — heap pushdown, no global sort)"),
    "sim_centroid_drift": (
        "one (label, epoch, dim) partial-agg shuffle; epoch centroids "
        "self-join on labels-sized frames; exact-integer L1 — output "
        "rows = labels"),
    "sim_ann_sq8_adc_topk": (
        "SQ8 asymmetric scoring: dequantize-in-projection (codes never "
        "materialize a second corpus copy), 1-row broadcast query, "
        "TakeOrderedAndProject top-k — zero shuffles end to end"),
    "dedup_cluster_stats": (
        "CC labels (collapsed star-edge graph) -> two label-keyed "
        "partial aggregates (labels -> sizes -> histogram) + a 1-row "
        "corpus-count broadcast — output rows = distinct sizes"),
    "corpus_curriculum_order": (
        "quality projection (narrow codegen) -> ONE window partitioned "
        "BY SHARD (hash-spread, no single-task global sort at any "
        "scale) — the dataloader's per-shard curriculum positions"),
    "dedup_minhash_est_calibration": (
        "rep collapse -> staged signature (one materialization under "
        "band keys + both verify sides) -> band equi-join candidates "
        "-> integer slot-agreement buckets; histogram output rows <= "
        "N_MINHASH+1"),
    "corpus_quality_dup_profile": (
        "one md5-partition window (the exact-dup flag) + one fixed-"
        "band groupBy — fixed bands, not data-dependent quantiles, so "
        "the shape stays a plain aggregate at any corpus size"),
    "dedup_span_coverage": (
        "staged chunk explode (one materialization feeds the span-"
        "frequency agg AND the hit join) -> 16-byte-md5 shuffles only "
        "-> PER-DOC interval-merge window (partition rows bounded by "
        "len/stride, no global sort) -> one row per input document"),
    "corpus_domain_profile": (
        "one corpus md5 window + id-keyed quality join + ONE source-"
        "keyed aggregate — output rows = distinct sources"),
    "text_gopher_quality_flags": (
        "pure projection: zero Exchange, zero Window, single "
        "WholeStageCodegen span over the scan — the hard-gate filters "
        "stay scan-side at any scale"),
    "sim_ann_ivfpq_topk": (
        "three-stage funnel: literal-centroid argmax assign (zero "
        "shuffle), probe list broadcast (BroadcastHashJoin restricts "
        "the scan to nprobe cids), PQ codes + ADC as narrow "
        "projections over the candidates, two TakeOrderedAndProject "
        "heaps (ADC shortlist, exact re-rank) — no global sort, no "
        "corpus self-join"),
    "corpus_semantic_decontam": (
        "benchmark side broadcast (BroadcastNestedLoopJoin — the "
        "corpus is NEVER shuffled), per-id max_by partial aggregate "
        "collapses the |B| fan-out map-side: the only Exchange "
        "carries one row per train vector"),
    "text_zipf_profile": (
        "word-count shuffle with map-side combine (partial "
        "HashAggregate), rank Window over VOCABULARY-sized rows "
        "partitioned by source, one five-moment aggregate per source"),
    "corpus_shard_manifest": (
        "one narrow hash+length projection + ONE n_shards-group "
        "partial aggregate — zero Window, zero join; the Exchange "
        "carries n_shards rows per input partition"),
    "corpus_blocklist_filter": (
        "md5 projection + BroadcastHashJoin LeftAnti (the takedown "
        "list broadcasts, the corpus is never shuffled), then one "
        "source-keyed partial aggregate"),
    "text_line_dedup": (
        "r10: posexplode(split) -> ONE normalized-line-key shuffle for "
        "the distinct-doc df; hot set joined back DISTRIBUTED (no "
        "driver-collected literal — the hot list is corpus-derived and "
        "unbounded at scale); per-doc rebuild via "
        "array_sort(collect_list(struct)) on the doc-id aggregate; no "
        "cartesian, no BroadcastNestedLoop"),
    "dedup_takedown_expansion": (
        "r10 compliance expansion: base reps collapsed per distinct "
        "content, exact inverted-index candidates with the bounded "
        "posting build (df count + LeftSemi before collect_list), "
        "verify join only on candidates; the works side is "
        "request-sized — at deploy scale the _from_tables form reads "
        "bucketed postings co-located and only work shingles shuffle"),
    "dedup_ngram_jaccard_pairs": (
        "banded-candidate pipeline fully staged (Scan ExistingRDD on "
        "both verify sides, documents never re-scanned): the consumer "
        "plan has ZERO shuffle Exchanges — every corpus-sized exchange "
        "happened once at staging and is GC-released after the action"),
    "dedup_simhash_pairs": (
        "simhash signatures staged once; pigeonhole 16-bit block join "
        "on a broadcast build side, exact hamming verify only on "
        "candidate pairs — two Exchanges total"),
    "events_value_median_exact": (
        "exact median by rank arithmetic: ONE event_type-keyed "
        "Exchange; per-type counts broadcast back; rank Window reuses "
        "the same partitioning so no second shuffle"),
    "corpus_publish_decisions": (
        "r10 publisher verdict: Gopher gates ride the scan projection "
        "(keep_cols passthrough, no join-back), takedown verdict is a "
        "BroadcastHashJoin on the md5 digest, dup ranking is the "
        "digest-window min — ONE hash-partitioning Exchange for the "
        "entire per-doc decision"),
    # --- r13: the four priciest previously-unpinned TPC-H rows, pinned
    #     in test_plan_guards.PINS with these claims ---
    "q7_volume_shipping": (
        "both geo dims (supplier-region, customer-region) broadcast "
        "below the fact join; the orders<->lineitem fact-fact join is "
        "the one legitimate shuffle pair (SMJ at pin SF, AQE re-plans "
        "by size at runtime) + the final (region-pair, year) agg "
        "Exchange — 3 Exchanges, each fact scanned once, filters "
        "pushed on both"),
    "q8_market_share": (
        "promo flag projected BEFORE the part join so the shuffled row "
        "stays narrow; ASIA-customer dim chain broadcast; conditional "
        "and total sums ride ONE aggregation pass — 3 Exchanges, "
        "lineitem and orders each scanned once"),
    "q12_late_shipment_priority": (
        "the >60-day lag predicate is a JOIN-TIME condition on the "
        "orders<->lineitem broadcast join (non-late lines never leave "
        "the join); both priority-class conditional counts ride one "
        "year-key aggregate — a single shuffle Exchange total"),
    "q20_dominant_suppliers": (
        "per-part total as a window SUM over the (partkey, suppkey) "
        "aggregate (the q2 pattern — r13 rewrite of the pq-join-pt "
        "self-join): lineitem scanned ONCE (was 2), 3 Exchanges (was "
        "5); PROMO part filter a broadcast semi below the aggregate, "
        "supplier dim broadcast above it, share test exact integer"),
    "q15_top_supplier": (
        "the supplier-bounded revenue aggregate is staged (r13: both "
        "the scalar max and the equality join read the Scan "
        "ExistingRDD — unstaged, AQE never collapsed the duplicated "
        "subtree, final plan scanned lineitem twice); the singleton "
        "max and the supplier dim broadcast — 1 Exchange total"),
    "q17_small_quantity_revenue": (
        "correlated per-part average as a window over the "
        "brand-pruned rows' own partkey Exchange (r13 rewrite — the "
        "agg+broadcast-join form scanned lineitem twice and broadcast "
        "an aggregate bounded by the brand's PART COUNT, ~100 MB+ at "
        "100 TB): ONE scan, broadcast semi part filter, exact "
        "5*qty*n < sum(qty) integer compare"),
    # --- seated at r13 (registry_seated_r13; pins in test_plan_guards
    #     PINS) — plan evidence first recorded pre-seating at r12 ---
    "q2_min_cost_supplier": (
        "region + part filters applied as broadcast SEMI joins BELOW "
        "the (partkey, suppkey) MIN aggregate (both commute with the "
        "per-pair MIN; 8.70 -> 2.18 s sf1), correlated per-part MIN as "
        "one window over the partkey Exchange, supplier/part detail "
        "joins broadcast AFTER the aggregate, TakeOrderedAndProject "
        "final — two shuffle Exchanges total"),
    "q11_important_supply": (
        "nation-group suppliers broadcast into ONE pruned lineitem "
        "scan, partkey aggregate Exchange; the scalar (total, n_parts) "
        "crossJoin branch resolves to a ReusedExchange of that same "
        "aggregate on the AQE final plan — lineitem is scanned once"),
    "sketch_cms_calibration": (
        "ONE staged token explode (Scan ExistingRDD under both the "
        "sketch and the exact-top-k branches), d-way cell fan-out via "
        "a single explode of a literal struct array (no d-branch "
        "union), d*w-bounded sketch aggregate, exact top-k via "
        "TakeOrderedAndProject heap, k*d-cell estimate join broadcast"),
    # --- staged for r14 (registry_staged_r14; pins in test_plan_guards
    #     STAGED_PINS) — plan evidence recorded pre-seating ---
    "stream_cms_batch_equivalence": (
        "the row's own plan is the collected+re-staged d x w merge "
        "(bounded at d*w rows, zero Exchanges); the streaming work — "
        "multi-batch availableNow file stream, per-batch sketch "
        "partitions, cell-wise cms_merge — happens inside the builder "
        "and is attested by equality with the batch-sketch oracle"),
    "sketch_kmv_source_overlap": (
        "corpus scan/distinct/K-min fold staged ONCE (Scan ExistingRDD "
        "on both self-join sides — unstaged, Catalyst duplicates the "
        "whole corpus subtree per side: 2 scans, 7 Exchanges vs 1); "
        "pair stage is a sources-bounded BroadcastNestedLoopJoin; the "
        "one Exchange is the tiny ordered output"),
    # --- r15: the next cost tier of BENCH_SF1_r15's unpinned rows,
    #     pinned in test_plan_guards.PINS with these claims ---
    "dedup_embedding_cosine_pairs": (
        "norm-bucket banding keeps the candidate join banded, never "
        "all-pairs: the bucketed candidate sides meet in a "
        "BroadcastHashJoin and only candidates pay the exact cosine — "
        "6 Exchanges, 4 embeddings branches (norms + both pair sides "
        "+ verify), filters pushed"),
    "sim_ann_ivf_topk": (
        "centroid assignment is a literal-centroid broadcast argmax "
        "(no shuffle until the final top-k): probe-list filter pushed "
        "to the posting scan, ONE Exchange, "
        "TakeOrderedAndProject heap instead of a global sort"),
    "sim_hybrid_rrf_topk": (
        "reciprocal-rank fusion joins the lexical (BM25) and vector "
        "top-k LISTS, not the corpora: both rank Windows run over "
        "k-bounded frames, the fusion join is k x k (SMJ on the pin "
        "plan; AQE localizes the k-row sides at runtime), final "
        "TakeOrderedAndProject — 2 Exchanges, 2 scans per modality"),
}

KEEP = re.compile(
    r"PushedFilters|ReadSchema|Exchange|Broadcast|HashAggregate|Window|"
    r"TakeOrderedAndProject|InMemoryTableScan|MapInPandas|FlatMapGroupsInPandas|"
    r"Scan parquet|SortMergeJoin|BroadcastHashJoin|\(\d+\) ")


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .appName("gen-plans")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod  # noqa: F401 (registers all entries)
    # RETIRED_SEATS rows keep their plan evidence: read the full registry
    # (the driver view is a strict subset holding the same callables)
    from kafka_connect_oss_spark.registry import QUERIES as queries
    from kafka_connect_oss_spark.registry import staged_queries
    staged = staged_queries()
    out = [
        "# PLANS — physical-plan evidence (generated by scripts/gen_plans.py)",
        "",
        f"Source: `.explain(\"formatted\")` against `{SF_DIR}`. Each section",
        "lists what to verify; excerpts keep the operator tree plus scan/",
        "exchange/join/aggregate detail lines.",
        "",
    ]
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name, claim in SHOWCASE.items():
        df = (queries.get(name) or staged[name])(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(jmode)
        tree, details = plan.split("\n\n", 1)[0], plan
        kept = [ln for ln in details.splitlines()
                if KEEP.search(ln) or ln.startswith("==")]
        out += [f"## {name}", "", f"**Check:** {claim}", "", "```",
                tree, "", *kept[:60], "```", ""]

    # non-registry plan: ivf_assign's large-K broadcast-join path (r8) —
    # forced below threshold so the section shows the >4096-centroid shape
    from kafka_connect_oss_spark.operators import similarity
    from kafka_connect_oss_spark.sources.batch import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.kmeans_centroids(emb, n_centroids=8)
    df = similarity.ivf_assign(emb, cents, literal_max_k=2)
    plan = df._jdf.queryExecution().explainString(jmode)
    tree, details = plan.split("\n\n", 1)[0], plan
    kept = [ln for ln in details.splitlines()
            if KEEP.search(ln) or ln.startswith("==")]
    out += [
        "## ivf_assign — large-K broadcast-join path (r8, no registry "
        "query)", "",
        "**Check:** above IVF_LITERAL_MAX_K (4096) the centroids ship "
        "as a broadcast RELATION, not inlined literals (a ~50 MB SQL "
        "expression at K=100k x d=32 — the Catalyst analysis cliff, "
        "probe: 7.2/17.8/35.0s wall at K=512/2048/4096 on 500 rows for "
        "the literal form vs 6.9s join form at K=4096, and the join "
        "path completes K=65536; scripts/probe_r08.py): "
        "BroadcastNestedLoopJoin (corpus never shuffles for the join) "
        "-> per-pair dot -> partial max(struct(dd, -cid)) BEFORE the "
        "exchange, so the one Exchange carries exactly one row per "
        "vector, never K. Below the threshold the r07 zero-join "
        "literal plan is emitted byte-identically (forced here with "
        "literal_max_k=2 to show the large-K shape; parity + plan "
        "pinned by test_round8_ops). Consumed by semdedup_flags' "
        "~100k-cluster production knob.", "", "```",
        tree, "", *kept[:60], "```", ""]
    def emit(df, title: str, claim: str) -> None:
        plan = df._jdf.queryExecution().explainString(jmode)
        tree = plan.split("\n\n", 1)[0]
        kept = [ln for ln in plan.splitlines()
                if KEEP.search(ln) or ln.startswith("==")]
        out.extend([f"## {title}", "", f"**Check:** {claim}", "", "```",
                    tree, "", *kept[:60], "```", ""])

    # staged r11 seats (registry_staged) + the bloom-guarded regime (r10b)
    from kafka_connect_oss_spark import registry_staged as RS

    emit(RS.STAGED_QUERIES["corpus_expectations_report"](spark, SF_DIR),
         "corpus_expectations_report (staged r11 seat)",
         "the whole check battery is ONE aggregate over ONE documents "
         "scan (the unique check adds its standard distinct two-phase on "
         "already-aggregated rows, never a second data pass); the "
         "referential row is a key-distinct anti-join union'd on")
    emit(RS.STAGED_QUERIES["corpus_pagerank_centrality"](spark, SF_DIR),
         "corpus_pagerank_centrality (staged r11 seat)",
         "iteration N's plan is FLAT: one join of the staged edge list "
         "(Scan ExistingRDD — localCheckpoint blocks, prior rounds "
         "released) with round N-1's staged ranks + one dst-key "
         "aggregation; no lineage pile-up however many rounds ran")

    from kafka_connect_oss_spark.operators.text import decontaminate

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = docs.where("doc_id % 97 = 0")
    emit(decontaminate(docs, bench, max_broadcast_hashes=0,
                       bloom_bits=1 << 20),
         "decontaminate — bloom-guarded large-benchmark regime (r10b)",
         "benchmark too big to inline as a literal: the corpus shingle "
         "stream hits the broadcast Bloom bitmap FIRST (membership "
         "absorbed into the BroadcastNestedLoopJoin condition, probe "
         "side a bare projection with zero Exchange) and only surviving "
         "candidates reach the exact verify join — no false negatives, "
         "so the clean set is identical to the unguarded fallback")

    # r11 additions: the composite export, the containment single-pass
    # rewrite, and the r12 staged seats
    from kafka_connect_oss_spark import registry_staged_r12 as R12
    from kafka_connect_oss_spark.operators import dedup as DD
    from kafka_connect_oss_spark.registry import QUERIES

    emit(QUERIES["corpus_training_order_export"](spark, SF_DIR),
         "corpus_training_order_export (r11)",
         "the chained export shares ONE hash Exchange on shard between "
         "the shuffle window and the pack cumsum window (both sort "
         "within shard); the epoch plan is a sources-sized broadcast, "
         "epoch expansion is a Generate with no shuffle, and the "
         "manifest is a map-side-combined n_shards-group aggregate")
    emit(DD.containment_pairs(load_table(spark, SF_DIR, "documents")),
         "dedup_containment_pairs (r11 single-pass rewrite)",
         "the scan->shingle->distinct pipeline appears ONCE (staged "
         "via localCheckpoint); the bounded index builds inline from "
         "the staged postings — the df count and the index groupBy "
         "each pay a hash(_h) Exchange (the semi-join broadcasts the "
         "surviving shingles, so no partitioning is reused), "
         "candidates double-explode from the index itself — no "
         "probe-side re-scan")
    emit(R12.STAGED_QUERIES["corpus_drift_report"](spark, SF_DIR),
         "corpus_drift_report (staged r12 seat)",
         "two map-side-combined word-count aggregates, ONE full-outer "
         "SortMergeJoin on (source, word), a sources-sized broadcast of "
         "the totals, one final per-source aggregate — nothing keyed "
         "finer than (source, word), no windows")
    emit(R12.STAGED_QUERIES["text_span_dedup"](spark, SF_DIR),
         "text_span_dedup (staged r12 seat)",
         "the shared interval core (one staged chunk explode + one "
         "16-byte-md5 shuffle + per-doc islands window) feeds a per-doc "
         "collect_list bounded by intervals-per-doc and ONE id-keyed "
         "join back to the text; the excision is a higher-order "
         "aggregate fold in codegen, no UDF")
    emit(R12.STAGED_QUERIES["text_bpe_encode"](spark, SF_DIR),
         "text_bpe_encode (staged r12 seat)",
         "after the bounded deterministic fit, scoring is ONE "
         "mapInPandas over a narrow (id, text) projection — merge table "
         "ships in the closure, no shuffle before the output projection")
    emit(R12.STAGED_QUERIES["pack_nosplit_layout"](spark, SF_DIR),
         "pack_nosplit_layout (staged r12 seat)",
         "ONE hash Exchange on shard -> Sort -> FlatMapGroupsInPandas "
         "over (id, n_tokens) pairs only (column-pruned scan, text "
         "never enters the Arrow pass); next-fit state is sequential "
         "per shard by design — no window, no driver state")

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
