"""Plan-regression guard (r11 VERDICT item 6).

PLANS.md documents, per showcase query, the physical-plan properties the
scale story depends on (pushdown, broadcast, TopK heaps, bounded
Exchange counts). PLANS.md is regenerated by hand, so an edit that
silently added a shuffle used to surface only at a judge read. This
module turns those "Check:" lines into assertions: each pinned query's
`explain("formatted")` output must keep its required markers, avoid its
forbidden ones, and not grow new shuffle Exchanges.

Pin discipline:

* ceilings are the EXACT counts measured at the pin round (r12) with
  the conftest session configs (AQE on, shuffle.partitions=8) at the
  PIN SF (sf0.001) — explainString of an unexecuted plan is
  deterministic given configs + data, so `<=` only fires when an edit
  adds a shuffle. Join strategy (broadcast vs shuffle) IS
  size-dependent, so ceiling assertions apply only at the pin SF and
  are skipped when the suite runs at another SPARK_GRAFT_TEST_SF_DIR;
* markers are structural (TakeOrderedAndProject from orderBy+limit,
  MapInPandas from the Arrow path, PushedFilters from filter
  expressions), not size-dependent join choices, so they hold at any SF;
* CartesianProduct is forbidden everywhere — no pinned query may ever
  plan an unconditioned cross product.
"""

import re

import pytest

import kafka_connect_oss_spark.registry_llm  # noqa: F401 (registers entries)
import kafka_connect_oss_spark.registry_multimodal  # noqa: F401
import kafka_connect_oss_spark.registry_relational  # noqa: F401
import kafka_connect_oss_spark.registry_seated  # noqa: F401
import kafka_connect_oss_spark.registry_seated_r12  # noqa: F401
import kafka_connect_oss_spark.registry_seated_r13  # noqa: F401
import kafka_connect_oss_spark.registry_seated_r14  # noqa: F401
import kafka_connect_oss_spark.registry_seated_r15  # noqa: F401
import kafka_connect_oss_spark.registry_seated_r16  # noqa: F401
import kafka_connect_oss_spark.registry_seated_r17  # noqa: F401
import kafka_connect_oss_spark.registry_tpch  # noqa: F401
from kafka_connect_oss_spark.registry import QUERIES

#: name -> pinned plan properties. max_exchanges counts shuffle
#: Exchange nodes only (BroadcastExchange / ReusedExchange excluded).
#: one_scan_of lists table names whose parquet files may be scanned at
#: most once (the "ONE corpus scan" claims).
PINS: dict[str, dict] = {
    # TPC-H showcase rows (PLANS.md Check lines)
    "q1_pricing_summary": {
        "max_exchanges": 1, "require": ["PushedFilters: ["]},
    "q3_shipping_priority": {
        "max_exchanges": 1,
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin",
                    "PushedFilters: ["]},
    "q9_product_profit": {
        "max_exchanges": 1,
        "require": ["BroadcastHashJoin", "PushedFilters: ["]},
    # r17: the two countDistincts became a two-level aggregate, so the
    # Expand node (3x row replication into the first shuffle) is gone
    # and now FORBIDDEN — plans/r17/q21_waiting_suppliers_{before,after}
    "q21_waiting_suppliers": {
        "max_exchanges": 3,
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin"],
        "forbid": ["Expand"],
        "one_scan_of": ["lineitem"]},
    # q7/q8: geo dims broadcast below the fact join; the orders<->
    # lineitem fact-fact join is the one legitimate shuffle pair (SMJ
    # at the pin SF; AQE re-plans at runtime) + the final agg Exchange
    "q7_volume_shipping": {
        "max_exchanges": 3,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "orders"]},
    "q8_market_share": {
        "max_exchanges": 3,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "orders"]},
    # q12: conditional counts ride ONE orders<->lineitem broadcast join
    # (lag predicate join-time) into a single year-key agg Exchange
    "q12_late_shipment_priority": {
        "max_exchanges": 1,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "orders"]},
    # q20: (partkey,suppkey) agg Exchange + window partkey Exchange
    # (the q2 pattern — no pq-join-pt self-join) + the distinct; part
    # and supplier dims broadcast; ONE lineitem scan (was 2 pre-r13)
    "q20_dominant_suppliers": {
        "max_exchanges": 3,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "part"]},
    # r13: the rest of the 22 TPC-H shapes, pinned at their measured
    # sf0.001 ceilings so every TPC-H row is now plan-guarded
    "q4_order_priority": {
        "max_exchanges": 1,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "orders"]},
    "q5_nation_revenue": {
        "max_exchanges": 1,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem"]},
    "q6_forecast_revenue": {
        "max_exchanges": 1, "require": ["PushedFilters: ["],
        "one_scan_of": ["lineitem"]},
    "q10_returned_items": {
        "max_exchanges": 1,
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin",
                    "PushedFilters: ["],
        "one_scan_of": ["lineitem", "orders", "customer"]},
    "q13_customer_distribution": {
        "max_exchanges": 2,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["orders", "customer"]},
    "q14_promo_revenue": {
        "max_exchanges": 1,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "part"]},
    # q15: the supplier-bounded revenue aggregate is staged (r13 — AQE
    # never reused the duplicated scan subtree), so lineitem appears
    # inside the staged pipeline only: ZERO parquet scans in this plan
    "q15_top_supplier": {
        "max_exchanges": 1, "require": ["BroadcastHashJoin"],
        "one_scan_of": ["lineitem"]},
    "q16_parts_supplier_relationship": {
        "max_exchanges": 2,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "part", "supplier"]},
    # q17: window form (r13 — was agg + part-count-sized broadcast +
    # a second lineitem scan): one partkey Exchange over the
    # brand-pruned rows + the final scalar agg
    "q17_small_quantity_revenue": {
        "max_exchanges": 2,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "part"]},
    "q18_large_volume_customers": {
        "max_exchanges": 1,
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin",
                    "PushedFilters: ["],
        "one_scan_of": ["lineitem", "orders", "customer"]},
    "q19_discounted_revenue": {
        "max_exchanges": 1,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["lineitem", "part"]},
    # q22: the scalar balance-stat branch re-plans the nation-filtered
    # customer scan (dim-scale; the classic Q22 shape) — orders pinned
    # to one scan, customer deliberately not pinned
    "q22_dormant_customers": {
        "max_exchanges": 2,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "one_scan_of": ["orders"]},
    # dedup tiers — banded/blocked candidates, staged pipelines
    "dedup_minhash_lsh_pairs": {"max_exchanges": 1},
    # r17 (48afd53) unstaged the capped posting frame: the df-count
    # Exchange that ran in the staged job is now inline (the cap's
    # semi-join broadcasts, so the index groupBy pays its own), 2 -> 3;
    # the count+index chain runs in one job instead of two (PLANS.md)
    "dedup_containment_pairs": {"max_exchanges": 3},
    "dedup_lsh_recall_eval": {"max_exchanges": 3},
    "dedup_multi_signal": {"max_exchanges": 4},
    # r17 CC rewrite: the min-label loop runs over the rep-pair
    # subgraph only (one round fewer, clone mass out of every round —
    # plans/r17/cc_round_{before,after}.txt); the member-attach chain
    # (identity groups + one rep-keyed label join) moved INTO the final
    # consumer plan, 2 -> 3 Exchanges here while the loop-phase jobs
    # shrank (PLANS.md)
    "dedup_clusters": {"max_exchanges": 3},
    "corpus_leakage_safe_split": {"max_exchanges": 3},
    # iteration flatness: 5 unrolled pagerank rounds = 5 dst-key
    # aggregation Exchanges over staged (Scan ExistingRDD) edges —
    # lineage pile-up would multiply this
    "corpus_pagerank_centrality": {"max_exchanges": 5},
    # blocked multimodal candidates (never all-pairs); the embedded
    # catalog is staged (r13), so the MapInPandas embed pass lives
    # inside the staged pipeline (Scan ExistingRDD on every consumer)
    # and runs once instead of per self-join branch
    "multimodal_near_dup": {
        "max_exchanges": 8, "require": ["Scan ExistingRDD"]},
    # training-order composition: shuffle window + pack cumsum share the
    # shard Exchange; epoch expansion is Generate-only
    "corpus_training_order_export": {"max_exchanges": 7},
    "corpus_global_shuffle": {
        "max_exchanges": 1, "forbid": ["rangepartitioning"]},
    # r12 seats
    "text_bpe_encode": {
        "max_exchanges": 0, "require": ["MapInPandas"]},
    "pack_nosplit_layout": {"max_exchanges": 1},
    "text_span_dedup": {"max_exchanges": 3},
    "corpus_drift_report": {"max_exchanges": 11},
    # ANN: scoring is projection + TopK heaps, never a corpus self-join
    "sim_topk_bruteforce": {
        "max_exchanges": 1, "require": ["TakeOrderedAndProject"]},
    "sim_ann_ivfpq_topk": {
        "max_exchanges": 1, "require": ["TakeOrderedAndProject"]},
    "corpus_semantic_decontam": {"max_exchanges": 2},
    # per-source top-k via heap pushdown, not a global sort
    "text_tfidf_salient_terms": {
        "max_exchanges": 6, "require": ["WindowGroupLimit"]},
    # r13 staged-model rows: the bounded model frame is staged, so the
    # scalar/context branches read Scan ExistingRDD instead of
    # re-tokenizing the corpus — documents appears at most once (apply
    # pass) / twice (bigram: vocab pass + apply pass) in the plan
    "corpus_token_budget": {
        "max_exchanges": 1, "require": ["Scan ExistingRDD"],
        "one_scan_of": ["documents"]},
    "text_unigram_nll": {
        "max_exchanges": 3, "require": ["Scan ExistingRDD"],
        "one_scan_of": ["documents"]},
    # r13 seats (pinned at r12 pre-seating; moved here with the seating)
    # q2: supply agg Exchange + window-min Exchange; dims broadcast;
    # final orderBy+limit is a TopK heap
    "q2_min_cost_supplier": {
        "max_exchanges": 2,
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin",
                    "PushedFilters: ["]},
    # q11: partkey agg + scalar SinglePartition + its static duplicate
    # (the totals branch collapses to a ReusedExchange on the AQE final
    # plan) + the ordered-output rangepartitioning over the tiny
    # filtered set
    "q11_important_supply": {
        "max_exchanges": 4,
        "require": ["BroadcastHashJoin", "PushedFilters: ["]},
    # cms: one staged token explode shared by the sketch and the exact
    # top-k (Scan ExistingRDD); cms cell agg + exact token agg = 2
    # Exchanges; top-k is a heap; the k*d-cell estimate join broadcasts
    # the sketch
    "sketch_cms_calibration": {
        "max_exchanges": 2,
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin"]},
    # corpus scan/distinct/K-min fold staged ONCE (Scan ExistingRDD on
    # both self-join sides — without it Catalyst duplicates the whole
    # corpus subtree per side: 2 scans, 7 Exchanges); pair stage is a
    # sources-bounded broadcast nested-loop; 1 Exchange = the tiny
    # ordered output (seated r14)
    "sketch_kmv_source_overlap": {
        "max_exchanges": 1,
        "require": ["Scan ExistingRDD", "BroadcastNestedLoopJoin"]},
    # stream_cms_batch_equivalence is deliberately NOT pinned (r13
    # ADVICE item 3): the row returns a collected+re-staged d x w local
    # relation, so a plan pin would run the whole streaming pipeline to
    # assert properties that are true by construction and pin nothing
    # about the streaming work — its real guarantee is the batch-sketch
    # oracle equality in the driver compare / parity sweep.
    #
    # r14: the four priciest previously-unpinned rows (r13 VERDICT item
    # 4) — ceilings measured at the pin SF with conftest configs.
    # ONE corpus-sized shuffle: the distinct (source, shingle) frame is
    # staged lazily (Scan ExistingRDD below all three consumers — no
    # direct documents scan appears in the plan at all), pair stage
    # broadcast
    "corpus_cross_source_overlap": {
        "max_exchanges": 4,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin"],
        "scan_ceilings": {"documents": 0}},
    # CC labels from the collapsed star-edge graph (staged ExistingRDD)
    # -> label-keyed partial aggregates; the 1-row corpus-count frame
    # joins via BroadcastNestedLoopJoin; 2 documents scans = the
    # member-attach identity keying + the corpus count (the rep labels
    # themselves are checkpointed — Scan ExistingRDD). r17 CC rewrite:
    # 5 -> 6 Exchanges — the attach chain moved into the final plan
    # while the loop phase shrank (see dedup_clusters pin + PLANS.md)
    "dedup_cluster_stats": {
        "max_exchanges": 6,
        "require": ["Scan ExistingRDD", "BroadcastNestedLoopJoin"],
        "scan_ceilings": {"documents": 2}},
    # r13 staged-model rewrite: the fitted bigram/context counts are a
    # staged local model (Scan ExistingRDD), so the corpus tokenizes
    # twice (vocab + apply), not four times; V is a 1-row broadcast and
    # the model join stays unforced (AQE broadcasts while it fits)
    "text_bigram_nll": {
        "max_exchanges": 4,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin"],
        "scan_ceilings": {"documents": 2}},
    # fitted-centroid IVF: the numpy Lloyd's fit happens OUTSIDE the
    # plan (bounded deterministic sample collect); assignment is a
    # literal-centroid argmax — zero shuffle until the single top-k
    # Exchange; embeddings scans = query vector + assign + score
    "sim_ann_ivf_kmeans_topk": {
        "max_exchanges": 1,
        "require": ["TakeOrderedAndProject", "BroadcastHashJoin",
                    "PushedFilters: ["],
        "scan_ceilings": {"embeddings": 3}},
    # r14 second batch: the next tier of the sf0.1 cost ranking, pinned
    # at their measured shapes so an edit that adds a shuffle or
    # re-scans a staged frame fails CI (streaming rows excluded — see
    # the STAGED_PINS note).
    # takedown seeds -> exact-dup digests -> shingle near-dup -> union;
    # the candidate joins broadcast the (small) takedown frontier.
    # r17: the works frame, the corpus digest/rep frame and the works
    # shingle pass are all staged once (previously the wpost/wsig/
    # digest-union subtrees each re-ran the works chain and breps was
    # re-aggregated per consumer) — every documents scan now lives
    # inside a one-shot staged materialization, so the consumer plan
    # pins to ZERO direct parquet scans (and the PushedFilters marker
    # moved inside the staged subplans with them);
    # plans/r17/dedup_takedown_expansion_{before,after}.txt
    "dedup_takedown_expansion": {
        "max_exchanges": 10,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin"],
        "scan_ceilings": {"documents": 0}},
    # the banded-candidate pipeline is fully staged (ExistingRDD on
    # both verify sides): the consumer plan has ZERO shuffle Exchanges
    "dedup_ngram_jaccard_pairs": {
        "max_exchanges": 0,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin"],
        "scan_ceilings": {"documents": 0}},
    # keep-decision window over cluster labels + anti-join back to the
    # corpus; label frame staged once
    "dedup_cleaned_corpus": {
        "max_exchanges": 8,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin", "Window",
                    "PushedFilters: ["],
        "scan_ceilings": {"documents": 4}},
    # greedy max-min selection: candidate distances against collected
    # picks — one embeddings scan, two Exchanges (agg + order)
    "sim_embedding_diversity": {
        "max_exchanges": 2,
        "scan_ceilings": {"embeddings": 1}},
    # simhash signatures staged once; pigeonhole block join broadcast,
    # hamming verify on candidates only
    "dedup_simhash_pairs": {
        "max_exchanges": 2,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin"]},
    # exact median by rank: ONE (type)-keyed Exchange; counts frame is
    # a broadcast; rank via Window over the same partitioning
    "events_value_median_exact": {
        "max_exchanges": 1,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin", "Window"]},
    # line explode -> (line-hash) first-arrival -> doc reassembly:
    # two documents scans (explode + reassemble), three Exchanges
    "text_line_dedup": {
        "max_exchanges": 3,
        "require": ["BroadcastHashJoin"],
        "scan_ceilings": {"documents": 2}},
    # novelty vs staged reference n-gram table: corpus scan feeds the
    # per-doc score; model join broadcast
    "text_novelty_score": {
        "max_exchanges": 3,
        "require": ["Scan ExistingRDD", "BroadcastHashJoin"]},
    # r15 batch: the next cost tier of BENCH_SF1_r15's unpinned rows,
    # pinned at their measured shapes (streaming rows stay unpinned —
    # lazy sink reads, the r13 ADVICE 3 rationale).
    # norm-bucketed cosine candidate pairs: banded join broadcast, the
    # per-pair verify on candidates only; four embeddings branches
    # (norms + both pair sides + verify)
    "dedup_embedding_cosine_pairs": {
        "max_exchanges": 6,
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "scan_ceilings": {"embeddings": 4}},
    # malformed-JSON routing: ONE events scan forked into ok/dlq
    # branches, one Exchange — a second scan here would double-decode
    "e3_json_dlq_routing": {
        "max_exchanges": 1,
        "scan_ceilings": {"events": 1}},
    # SQ8 asymmetric-distance top-k: query vector + quantized scan,
    # single top-k Exchange, TakeOrderedAndProject (never global sort)
    "sim_ann_sq8_adc_topk": {
        "max_exchanges": 1,
        "require": ["TakeOrderedAndProject", "PushedFilters: ["],
        "scan_ceilings": {"embeddings": 2}},
    # n-gram frequency top-k: one documents scan -> explode -> count ->
    # TakeOrderedAndProject; the single Exchange is the count shuffle
    "text_ngram_topk": {
        "max_exchanges": 1,
        "require": ["TakeOrderedAndProject"],
        "scan_ceilings": {"documents": 1}},
    # IVF probe top-k: centroid assign is a broadcast argmax; the four
    # embeddings branches are query/assign/probe/score, one Exchange
    "sim_ann_ivf_topk": {
        "max_exchanges": 1,
        "require": ["BroadcastHashJoin", "TakeOrderedAndProject",
                    "PushedFilters: ["],
        "scan_ceilings": {"embeddings": 4}},
    # BM25 ranking: corpus stats + per-doc score = two documents
    # branches; one Exchange, top-k via TakeOrderedAndProject
    "text_bm25_topk": {
        "max_exchanges": 1,
        "require": ["TakeOrderedAndProject"],
        "scan_ceilings": {"documents": 2}},
    # reciprocal-rank fusion of the lexical + vector top-k lists: both
    # rank windows then a k-sized join (SMJ at the pin SF — both sides
    # are k rows, AQE localizes it at runtime); two scans per modality
    "sim_hybrid_rrf_topk": {
        "max_exchanges": 2,
        "require": ["TakeOrderedAndProject", "Window",
                    "PushedFilters: ["],
        "scan_ceilings": {"documents": 2, "embeddings": 2}},
}

#: next staging cohort's pins land here pre-seating (the parametrize
#: below unions both dicts; move into PINS with the seating). Every
#: streaming golden cohort (r15: asof/incremental-dedup; r16:
#: sessionize/windowed-topk; r17 staged: ingest-qc/drift-monitor) is
#: deliberately unpinned — each row returns a lazy read of the sink
#: its streaming pipeline just wrote, so a plan pin would re-run the
#: whole pipeline only to assert the trivial scan-the-sink plan (the
#: r13 ADVICE 3 rationale); their guarantees are the oracle equalities
#: plus the load-bearing pins in their test_staged_seats_r1N modules
#: (cross-batch cut / fold-ablation / batches-distinguishable).
STAGED_PINS: dict[str, dict] = {}

_EXCHANGE = re.compile(r"^\(\d+\) Exchange$", re.M)


def _plan(spark, name: str, sf_dir: str) -> str:
    # hermetic: a cached fragment left by another test would be
    # substituted into this plan by the session-global CacheManager,
    # changing Exchange counts (observed with a module-scoped .cache())
    spark.catalog.clearCache()
    if name in QUERIES:
        df = QUERIES[name](spark, sf_dir)
    else:
        from kafka_connect_oss_spark.registry import staged_queries
        df = staged_queries()[name](spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(jmode)


#: the SF the Exchange ceilings were measured at (size-dependent join
#: choices make them meaningless at other SFs; markers still assert)
PIN_SF = "sf0.001"


@pytest.mark.parametrize("name", sorted(PINS) + sorted(STAGED_PINS))
def test_plan_pins(name, spark, sf_dir):
    pin = PINS.get(name) or STAGED_PINS[name]
    plan = _plan(spark, name, sf_dir)
    if sf_dir.rstrip("/").endswith(PIN_SF):
        n_ex = len(_EXCHANGE.findall(plan))
        assert n_ex <= pin["max_exchanges"], (
            f"{name}: {n_ex} shuffle Exchanges (pinned ceiling "
            f"{pin['max_exchanges']}) — an edit added a shuffle; if the "
            f"new plan is intentional, update the pin AND PLANS.md "
            f"together")
    for marker in pin.get("require", ()):
        assert marker in plan, f"{name}: lost pinned plan marker {marker!r}"
    for marker in pin.get("forbid", ()):
        assert marker not in plan, f"{name}: forbidden {marker!r} in plan"
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct"
    for table in pin.get("one_scan_of", ()):
        scans = len(re.findall(rf"Location.*{table}", plan))
        assert scans <= 1, f"{name}: {table} scanned {scans}x (pinned 1)"
    # like one_scan_of but with an explicit per-table ceiling (0 = the
    # table is fully staged and must not be re-scanned by the plan);
    # ceilings are structural (branch counts), so they hold at any SF
    for table, ceil in pin.get("scan_ceilings", {}).items():
        scans = len(re.findall(rf"Location.*{table}", plan))
        assert scans <= ceil, (
            f"{name}: {table} scanned {scans}x (pinned ceiling {ceil}) — "
            f"a staged frame regressed to a repeated parquet scan")
