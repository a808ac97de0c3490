"""Regenerate PLANS.md: formatted physical plans + commentary for the
headline queries at sf0.1 under the engine session confs.

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark import (
        get_spark,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        composites,
        curation,
        dashboard,
        dedup,
        events,
        relational,
        retrieval,
        similarity,
        text,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.functions import (
        scale,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.plans.audit import (
        formatted_plan,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto,
    )

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")

    sections = [
        ("tpch_q1_pricing_summary", relational.q1_pricing_summary,
         "Scan → partial hash agg → single exchange → final agg → sort. Filter "
         "pushed to the parquet scan; only the 6 needed columns read; the whole "
         "pre-shuffle pipeline is one WholeStageCodegen span."),
        ("tpch_q5_region_revenue", relational.q5_region_revenue,
         "6-way join planned as 5 BroadcastHashJoins (every dimension — and, at "
         "this SF via AQE, orders/supplier — broadcasts) + exactly one shuffle for "
         "the final aggregation. At larger SF the planner degrades gracefully to "
         "sort-merge on the fact⋈fact edges; bucketing (functions/scale.py) "
         "removes even that exchange for recurring joins."),
        ("med_q13_ml_dataset", dashboard.q13_ml_dataset,
         "The entire medications derivation collapses into ONE parquet scan over "
         "exactly the 4 part columns it needs (ReadSchema) with the price filter "
         "evaluated in the same codegen stage — no materialization of the "
         "intermediate 'table'."),
        ("events_tumbling_5min", events.tumbling_5min,
         "Event-time tumbling window = hash aggregation on (window, type): "
         "partial agg before the exchange, no global sort anywhere. The same "
         "expression tree runs under Structured Streaming with a watermark."),
        ("sim_knn_bruteforce", similarity.knn_bruteforce,
         "Query side (20 rows) broadcast; per-row norms computed once before the "
         "nested-loop pair generation; top-k via partitioned window on the small "
         "pair set. No Python in the plan — the cosine is a Catalyst fold."),
        ("dedup_minhash_lsh", lambda s, d: dedup.minhash_lsh_pairs(s, d),
         "LSH banding end-to-end WITHOUT the all-pairs join: signature agg (one "
         "doc_id exchange) → band-key self-join (broadcast build side) → distinct "
         "candidate pairs (localCheckpoint-materialized) → exact verify via two shuffle-hash joins onto per-doc "
         "token-hash arrays, Jaccard evaluated as size(array_intersect)/union in "
         "the join stage. Work is linear in |candidates|; the only quadratic term "
         "is the candidate set the banding itself admits."),
        ("dedup_jaccard_pairs (adaptive bitmask strategy)",
         lambda s, d: dedup.ngram_jaccard_pairs(s, d),
         "On this fixture the vocabulary probe (early-terminating distinct) "
         "finds ≤64 distinct tokens, so the pair stage dispatches to the "
         "dictionary-bitmask plan: token sets collapse to one 64-bit word via "
         "a broadcast dictionary lookup + bit_or aggregate, and the pair join "
         "is a broadcast self-join computing exact Jaccard from "
         "bit_count(a & b) — no token-equality self-join anywhere (the Σdf² "
         "blowup the inverted index pays on hot tokens). Bit-identical output "
         "to the general path, which real (>64-token) corpora still use."),
        ("dedup_jaccard_max_df", lambda s, d: dedup.ngram_jaccard_pairs(s, d, max_df=1000),
         "The 100-TB configuration of the inverted-index near-dup join: tokens "
         "with document frequency above max_df are dropped before the token "
         "self-join (the df <= 1000 filter below is the posting-list bound), then "
         "candidates are exact-verified against FULL token sets. Without the cap, "
         "one stopword with df=k contributes k² join rows."),
        ("retrieval_hybrid_rrf", retrieval.hybrid_rrf_search,
         "Hybrid lexical+dense retrieval fused by RRF: the BM25 side joins "
         "the corpus term table against a BROADCAST per-query term list and "
         "broadcast df/stats scalars; the dense side is the broadcast-query "
         "exact anchor (IVF serving is the scale swap — ranks, hence the "
         "fusion, carry over). The fuse itself is a full-outer join of two "
         "bounded (query, doc, rank) lists + one partitioned window — at any "
         "corpus size the fusion cost is O(queries × list_k)."),
        ("text_topic_serving", lambda s, d: __import__(
            "full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.text",
            fromlist=["text"]).topic_clusters_serving(s, d),
         "Frozen-model topic serving: the plan is one documents scan → "
         "stateless hashing/IDF/centroid transforms (reloaded Spark ML "
         "models, JVM BLAS) → the label join — no IDF or KMeans FIT stage "
         "anywhere (the build entry pays those once; serving measured 1.2 s "
         "vs 2.8 s warmed build at sf0.1)."),
        ("text_bigram_logprob", text.bigram_logprob,
         "Interpolated bigram LM scoring: bigram pairs come from ARRAY "
         "SLICING of the per-doc token array (arrays_zip of the array "
         "offset by one) — a narrow projection, no window and no shuffle "
         "to form pairs. Everything after is token-keyed hash aggregates "
         "with map-side partials and equi-joins against Zipf-bounded LM "
         "tables (bigram counts, context totals, unigram backoff) plus "
         "one broadcast 1-row corpus total; surprisal is quantized to "
         "BIGINT milli-nats so the per-doc sums are order-independent "
         "across partial aggregation."),
        ("text_source_divergence", text.source_divergence,
         "KL(source ‖ corpus): ONE (source, token) count table feeds both "
         "distributions (corpus counts are a second agg over it), joined "
         "back token-keyed; the final per-source aggregate is a handful "
         "of rows. Same quantized-surprisal contract as the LM entries, "
         "so the divergence is computed from identical integer terms on "
         "both engines."),
        ("tpch_q10_returned_items", relational.q10_returned_items,
         "Q10 shape: the quarter date window and returnflag filter both "
         "push into their parquet scans (PushedFilters) before any join, "
         "nation broadcasts, the customer-grain aggregate is the only "
         "full-width exchange, and the top-20 is TakeOrderedAndProject — "
         "no global sort of the joined fact."),
        ("tpch_q17_small_qty_revenue", relational.q17_small_quantity_revenue,
         "Q17's correlated scalar subquery decorrelated to a WINDOW over "
         "l_partkey: the brand filter broadcasts into the lineitem scan, "
         "then exactly ONE hash exchange computes the per-part sum+count "
         "and the 5·qty·cnt < sum predicate runs map-side — one lineitem "
         "scan, one shuffle, vs two of each for the naive self-join "
         "decorrelation."),
        ("tpch_q18_large_volume_customers", relational.q18_large_volume_customers,
         "Q18: the groupBy-HAVING qualifying set (~1 in 400 orders) "
         "broadcasts as a left-semi filter into orders, the surviving "
         "orders broadcast-join customer, and the enriched set broadcasts "
         "into the second lineitem pass — lineitem is scanned twice "
         "(inherent to Q18) but never shuffled on a join key; the only "
         "exchange is the first pass's l_orderkey aggregate; top-100 is "
         "TakeOrderedAndProject."),
        ("tpch_q19_banded_revenue", relational.q19_banded_revenue,
         "Q19's OR-of-ANDs predicate pushes WHOLESALE into both parquet "
         "scans (the quantity-band disjunction into lineitem, the "
         "brand+size disjunction into part) — visible as Or(...) inside "
         "PushedFilters on each scan. Part broadcasts, the residual OR "
         "evaluates in codegen, and the single-row aggregate makes the "
         "whole plan exchange-free: zero shuffles at any SF."),
        ("tpch_q21_waiting_suppliers", relational.q21_waiting_suppliers,
         "Q21's EXISTS + NOT-EXISTS self-correlation rewritten as ONE "
         "per-order aggregate (countDistinct suppliers / late suppliers) "
         "plus a broadcast-back of the tiny qualifying-order set — the "
         "classic plan's two lineitem self-joins (semi + anti) never "
         "materialize; lineitem is read twice but only shuffles on "
         "l_orderkey for the aggregate."),
        ("tpch_q2_min_cost_supplier", relational.q2_min_cost_supplier,
         "Q2's region-correlated MIN subquery decorrelated to a window "
         "over the derived partsupp AFTER the region restriction: one "
         "exchange for the partsupp pair-aggregate, one for the "
         "ps_partkey window, every dimension broadcast. The naive plan "
         "derives partsupp twice and joins the min back; this one never "
         "rescans."),
        ("tpch_q8_market_share", relational.q8_market_share,
         "Q8, the widest join graph in the pack (8 relations): every "
         "dimension prunes then broadcasts (type-filtered part, "
         "region-restricted customer nations, name-carrying supplier "
         "side), so lineitem flows through three BroadcastHashJoins "
         "before its only shuffle — the orders equi-join — and the "
         "numerator/denominator pair computes in ONE aggregate pass via "
         "CASE, not two scans."),
        ("dedup_containment_pairs", dedup.containment_pairs,
         "Directed containment (|A∩B|/|A|) over the contracted rep "
         "frame.  On the tiny-vocab fixture the adaptive dispatch picks "
         "the 64-bit-mask broadcast self-join (bit_count(a & b) per "
         "pair — the inverted index would generate Σ df² ≈ 775 M "
         "candidate rows here); both directions of each undirected "
         "candidate come from ONE inline explode, then the direction-"
         "preserving group expansion.  On a real vocabulary the plan "
         "switches to the max_df-bounded inverted index with exact "
         "array re-verify, same output."),
        ("text_topic_clusters", lambda s, d: __import__(
            "full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.text",
            fromlist=["text"]).topic_clusters(s, d),
         "Hashed TF-IDF (fixed-width feature space, no vocabulary "
         "broadcast) into a seeded KMeans fit, then cluster labels from "
         "exact per-cluster document frequencies: one count aggregate "
         "plus a rank-≤-n window (WindowGroupLimit) — the lossy hashed "
         "centroids are never inverted.  The ML fit is the only "
         "iterative stage; labeling is two exchanges."),
        ("text_ngram_topk", lambda s, d: __import__(
            "full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.text",
            fromlist=["text"]).ngram_topk(s, d),
         "Corpus top-k n-grams with NO join anywhere: n-grams built "
         "in-row (transform over the token array, Generate), one hash "
         "aggregate with map-side partials, TakeOrderedAndProject top-k. "
         "The only exchange is the n-gram aggregate — at 100 TB the "
         "reduce side sees one row per distinct n-gram, not per "
         "occurrence."),
        ("sim_ann_ivf_pq", similarity.ann_ivf_pq,
         "IVF-PQ composition: the candidate join scans CODES, not raw "
         "embeddings — the probed-lists join (codes ⋈ broadcast probes on "
         "list_id) carries (vec_id, list_id, m, code) int rows, scored via a "
         "second broadcast join onto the per-query ADC lookup table and one "
         "(query, vec) hash aggregate. Raw embedding arrays appear only in "
         "the codebook fit upstream and the final O(Q·k·RERANK) exact "
         "re-rank joins; the corpus-sized middle of the plan is 4-bit "
         "arithmetic. At 100 TB the codes table is ~64× smaller than the "
         "embeddings it indexes."),
        ("sim_ann_ivf_pq_serving", similarity.ann_ivf_pq_serving,
         "The amortized IVF-PQ serving path: the quantizers arrive as "
         "FROZEN parquet (centroids/codebook/codes built once by "
         "ivf_pq_build_index) — no KMeans stage anywhere in this plan; "
         "what remains is the true per-query cost: two broadcast LUT "
         "builds, the codes ⋈ probes ⋈ LUT compressed scan, one "
         "(query, vec) aggregate, and the O(Q·k) exact re-rank. The "
         "codes table is partitioned by list_id on disk, so a probe's "
         "scan prunes to its lists' files."),
        ("events_gapfill_locf", events.hourly_gapfill_locf,
         "Gap filling without a calendar table: the dense hour grid is "
         "generated IN-ROW (sequence + explode over the broadcast global "
         "bounds) — no shuffle to build it; grid ⋈ hourly aggregate is one "
         "hash join; LOCF is an ignore-nulls last() over a per-type window "
         "whose partition size is the hour count, independent of event "
         "volume."),
        ("events_retention_cohorts", events.retention_cohorts,
         "Cohort retention: the (user, day) distinct and the per-user MIN "
         "shuffle on the same key (AQE reuses the exchange), the cohort "
         "join is co-partitioned, and the final (cohort, age) aggregate "
         "is day-range-bounded — output and last exchange stay tiny at "
         "any event volume."),
        ("join_fuzzy_part_names", relational.fuzzy_name_join,
         "Blocked edit-distance join: the first-character block key makes "
         "this a broadcast HASH join (no nested loop in the plan), the "
         "length band is a residual filter, and levenshtein runs only on "
         "blocked candidates. At 100 TB the block key becomes q-gram "
         "prefixes — more keys, same geometry."),
        ("agg_rollup_cube (composite)", composites.agg_rollup_cube,
         "Composite driver entry: the ROLLUP and CUBE subtrees survive side by "
         "side under one union — each keeps its own Expand + hash-aggregate "
         "pipeline, so the driver's single correctness row value-checks both "
         "grouping-set plans."),
        ("text_pii_redaction", curation.pii_redaction,
         "Pattern scrub is a single map-only projection over the scan — zero "
         "exchanges; every regex count and the chained replace run in one "
         "codegen stage. At 100 TB this is pure scale-out."),
        ("text_chunk_windows", curation.chunk_windows,
         "Overlapping context windows as split → sequence/transform → "
         "posexplode: narrow end-to-end (Generate over an in-row array), no "
         "shuffle; chunk text is sliced from the token array, never "
         "re-tokenized."),
        ("agg_equidepth_histogram", curation.equidepth_histogram,
         "Equi-depth WITHOUT a global sort or unpartitioned ntile: the k bucket "
         "edges come from one exact-percentile aggregate, broadcast back "
         "(BroadcastNestedLoopJoin over a 1-row side), bucketing + count/min/"
         "max/avg is a plain hash aggregate."),
        ("agg_heavy_hitters", curation.heavy_hitters,
         "Skew diagnostic: per-key hash aggregate FIRST (map-side partials "
         "absorb the hot keys), the ordered window + limit then runs over "
         "≤|distinct keys| aggregated rows — the raw table is never globally "
         "sorted."),
        ("text_bm25_search", retrieval.bm25_search,
         "BM25: the query-term filter lands inside the tokenize stage (only "
         "matching terms survive the first aggregate), df table and (N, avgdl) "
         "scalars broadcast, global top-k is TakeOrderedAndProject — the "
         "corpus-sized side is shuffled once, on (doc_id, term)."),
        ("text_tfidf_top_terms", retrieval.tfidf_top_terms,
         "Per-doc top-terms: vocabulary-sized df table broadcast; the per-doc "
         "ranking window is partitioned by doc_id and planned as "
         "WindowGroupLimit (partial top-k BEFORE the exchange, Spark 3.5+), so "
         "no partition ever holds more than k rows per doc post-shuffle."),
        ("text_boilerplate_scrub", curation.boilerplate_scrub,
         "CCNet-style sub-document dedup: segmenting is a narrow "
         "generate (no shuffle); the df ranking aggregates to the "
         "distinct-segment table and top-64 is TakeOrderedAndProject; "
         "the scrub itself is a BroadcastHashJoin LeftAnti — the corpus "
         "never shuffles for the filter, only the per-doc reassembly "
         "groupBy. At 100 TB the boilerplate set stays top-k-bounded, "
         "so the broadcast side is constant-size by construction."),
        ("text_substring_dedup", curation.substring_dedup,
         "Global first-occurrence substring dedup: the election is "
         "row_number()=1 over (seg_text) — ONE shuffle of the segment "
         "table by segment key (the honest cost of global semantics; "
         "no broadcast shortcut exists since the winner set is "
         "corpus-sized), then the per-doc reassembly groupBy. Same "
         "dedup-by-key exchange as dedup_exact, at sub-document "
         "granularity."),
        ("join_lateral_top2_orders", relational.lateral_top2_orders,
         "Correlated LATERAL ... LIMIT 2 as the analyst writes it: "
         "Catalyst decorrelates to row_number over (o_custkey) with "
         "WindowGroupLimit pushed BELOW the exchange (per-task top-2 "
         "pruning) and a plain equi-join back to customers — the same "
         "single-shuffle plan as the hand-written window top-k; no "
         "nested-loop, no per-row subquery execution."),
        ("lake_partitioned_scan", deltaproto.partitioned_scan_entry,
         "Delta table PARTITIONED BY (lang), range-clustered on doc_id. "
         "`read_delta_pruned` drops every file whose doc_id stats miss "
         "[0, 249] before Spark plans anything (no footer reads), and "
         "each partition group carries `lang` as a typed literal, so "
         "Catalyst folds `lang = 'en'` per group and prunes the other "
         "langs' scans outright: ONE parquet scan over the surviving en "
         "file(s), doc_id bounds pushed into it, partial agg before the "
         "single exchange."),
        ("lake_dv_roundtrip", deltaproto.dv_roundtrip_entry,
         "Two stacked deletion-vector deletes applied at scan time: ONE "
         "parquet scan over every live file exposes "
         "`_metadata.row_index`, the decoded DV positions (file, row) "
         "are a small local relation broadcast into a LeftAnti "
         "BroadcastHashJoin, then the per-source aggregate. No data "
         "file was rewritten by either delete; the read rent is one "
         "broadcast anti-join."),
        ("scale.bloom_pruned_revenue (runtime Bloom-filter pruning)",
         lambda s, d: (
             scale.set_runtime_bloom(s, application_side_min="0", disable_broadcast=True),
             scale.bloom_pruned_revenue(s, d),
         )[1],
         "Selective fact⋈fact join with the runtime Bloom gates opened "
         "(demo thresholds; at cluster scale the defaults fire once the "
         "application side scans ≥10GB): Catalyst builds a Bloom filter "
         "from the urgent-order keys (bloom_filter_agg) and evaluates "
         "might_contain INSIDE the lineitem scan stage — non-matching "
         "lines die before the shuffle, the semi-join reduction. This "
         "section intentionally runs LAST: the conf change stays local "
         "to it."),
    ]

    out = [
        "# PLANS — physical-plan evidence for headline queries",
        "",
        'Generated by `.explain("formatted")` at sf0.1 under the engine session',
        "(`session.py` confs, AQE on). Regenerate: `python tools/dump_plans.py`.",
        "",
    ]
    for name, fn, commentary in sections:
        plan = formatted_plan(fn(spark, sf))
        head = plan.split("\n\n")[0]
        scans = "\n".join(
            l for l in plan.splitlines()
            if re.search(
                r"PushedFilters|ReadSchema|Location|bloom_filter_agg|might_contain", l
            )
        )
        out.append(f"## {name}\n")
        out.append(commentary + "\n")
        out.append("```\n" + head.strip() + "\n\n" + scans.strip() + "\n```\n")

    # --- AQE skew-join demo: needs EXECUTION (the skew split only
    # exists in the final adaptive plan) and fixture-scale thresholds
    skew_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2048",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2048",
    }
    saved = {k: spark.conf.get(k) for k in skew_confs}
    try:
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
            events,
        )

        skew_df = events.skewed_hot_user_join(spark, sf)
        skew_df.collect()
        final = skew_df._jdf.queryExecution().executedPlan().toString()
        keep = "\n".join(
            l for l in final.splitlines()
            if re.search(r"SortMergeJoin|AQEShuffleRead|HashAggregate|Exchange", l)
        )
        out.append("## join_skewed_hot_user (AQE skew-split, executed plan)\n")
        out.append(
            "One key holds ~1/3 of the fact; the dim side's MERGE hint forces "
            "the sort-merge join a fact⋈fact edge gets at 100 TB. AQE detects "
            "the hot partition at runtime and splits it into advisory-sized "
            "sub-reads (`SortMergeJoin(skew=true)`, `AQEShuffleRead ... "
            "skewed`) — thresholds lowered to fixture scale for the demo; "
            "defaults fire at 256 MB partitions in production. Skew splitting "
            "works at map-output granularity and requires the join shuffle "
            "directly under the sort — see the operator docstring for both "
            "preconditions. Result parity with the plain join is "
            "oracle-checked (CORRECTNESS join_skewed_hot_user).\n"
        )
        out.append("```\n" + keep.strip() + "\n```\n")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    out.append(
        "\n## Scaling check — q1 on replicated lineitem (32 cores)\n\n"
        "Replicating the sf0.1 `lineitem` in memory (union ×N, repartitioned to 32)\n"
        "and re-running the Q1 aggregation, warm:\n\n"
        "| rows | wall |\n|---|---|\n"
        "| 600 K (×1) | 0.43 s |\n| 2.4 M (×4) | 0.69 s |\n| 4.8 M (×8) | 0.84 s |\n\n"
        "8× the data costs 1.9× the time: per-query fixed overhead amortizes and the\n"
        "partial-aggregation pipeline is embarrassingly parallel — the shuffle carries\n"
        "only (group × partial-state) rows (6 groups here), independent of input size.\n"
        "This is the property that holds at 100 TB: map-side work scales out with\n"
        "executors; the exchange stays tiny.\n"
        "\n## Scaling check — near-dup pair operators (sf0.01 → sf0.1, 32 cores)\n\n"
        "The `documents` fixture is adversarial for pair ops: a ~31-token total\n"
        "vocabulary means every one of the 12.5 M doc pairs at sf0.1 shares ≥1\n"
        "token (965 K pairs exceed Jaccard 0.9), so the OUTPUT itself grows\n"
        "quadratically — near-dup on this corpus is output-bound, which no\n"
        "candidate-pruning scheme can beat. The same tiny vocabulary triggers\n"
        "the adaptive dictionary-bitmask strategy (token set = one 64-bit word,\n"
        "|A∩B| = bit_count(a & b)) for the jaccard pair stage and the LSH\n"
        "verify; the general inverted-index / array_intersect paths remain the\n"
        "plan for real vocabularies. Measured steady-state wall (2 warm runs —\n"
        "see bench.py HEAVY), fresh lineage, 10× docs = 100× pairs:\n\n"
        "| op | sf0.01 | sf0.1 | growth |\n|---|---|---|---|\n"
        "| dedup_jaccard_pairs (exact, bitmask) | 1.9 s | 2.6 s | 1.4× |\n"
        "| dedup_jaccard_pairs (max_df=1000, inverted) | 1.9 s | 2.8 s | 1.5× |\n"
        "| dedup_minhash_lsh (bitmask verify) | 2.9 s | 7.6 s | 2.6× |\n"
        "| dedup_clusters (CC, pointer-doubled) | 3.3 s | 4.2 s | 1.3× |\n\n"
        "(Timings are fresh-lineage: the LSH candidate list is\n"
        "localCheckpoint-materialized inside the operator, so no cross-run\n"
        "cache is in play — an earlier persist()-based variant let Spark's\n"
        "CacheManager silently serve the warm run's candidates to the timed\n"
        "run, understating minhash by ~2×.)\n\n"
        "Sub-linear growth in the pair count because the per-pair kernels\n"
        "(bit_count / hash-join + counting) stay in codegen and the 497×\n"
        "larger intermediate join parallelizes across all cores. On a real\n"
        "large-vocabulary corpus the same plans are posting-list-bounded\n"
        "(max_df) or banding-pruned, and candidates ≪ n².\n"
        "\n## Scale-stability sweep — sf0.1 replicated ×4 / ×10, disjoint namespaces (32 cores)\n\n"
        "`tools/scale_stability.py` (SPARK_DRIVER_MEM=48g at ×10): the sf0.1\n"
        "fixtures replicated with per-replica token suffixes and offset\n"
        "user/vector ids, so replicas share NO tokens/keys and the join/pair\n"
        "structure grows linearly with input — the curve isolates engine\n"
        "scaling from output growth. One warm pass, one timed pass per cell,\n"
        "one process, plans identical to the pinned sections above:\n\n"
        "| op | ×1 (sf0.1) | ×4 | ×10 | wall growth at 10× input |\n"
        "|---|---|---|---|---|\n"
        "| dedup_minhash_lsh | 6.0 s / 6.3 M pairs | 19.9 s / 25.0 M | 19.4 s / 61.6 M | 3.2× for 10× rows AND 10× pairs |\n"
        "| dedup_clusters (CC) | 3.9 s | 11.4 s | 25.0 s | 6.4× (pointer-doubled loop, same diameter per replica) |\n"
        "| sim_ann_ivf_pq (build+query) | 6.5 s | 6.8 s | 7.5 s | 1.2× — KMeans fit is the fixed cost |\n"
        "| sim_ann_ivf_pq_serving (frozen index) | 1.3 s | 1.6 s | 1.5 s | ~flat: probes scan nprobe/nlist of the codes |\n"
        "| events_funnel | 1.3 s | 1.2 s | 1.3 s | flat — per-stage filtered aggs, 1 M rows is still overhead-dominated on 32 cores |\n"
        "| events_hll_daily_users | 0.43 s | 0.44 s | 0.39 s | flat — sketch agg is map-side partials + tiny exchange |\n"
        "| text_boilerplate_scrub | 1.5 s | 2.0 s | 3.1 s | 2.1× — df agg + broadcast anti-join + one reassembly shuffle |\n"
        "| text_substring_dedup | 1.6 s | 1.3 s | 1.6 s | flat — one segment-key shuffle, WindowGroupLimit prunes repeats map-side |\n\n"
        "Every family is at-or-below linear in input rows; minhash is the\n"
        "one whose OUTPUT also grew 10× (61.6 M verified pairs — the\n"
        "adversarial fixture makes each replica internally near-duplicate),\n"
        "and its wall still grew only 3.2×. The ×10 minhash run needs a\n"
        "driver heap above the 8 GB default ONLY because local[32] holds the\n"
        "61.6 M-pair localCheckpoint in one process; on a cluster those\n"
        "blocks spread across executors. Nothing crosses replica boundaries:\n"
        "candidate counts, CC edges, and per-list ANN scans all scale with\n"
        "their replica, which is exactly the 100-TB contract (work per\n"
        "partition bounded, no cross-input quadratic term).\n\n"
        "Measurement discipline learned re-running this sweep: the ×10\n"
        "minhash cell is warmup-sensitive far beyond bench.py's 2-pass\n"
        "protocol — a cold JVM pass measured 232 s, then 35 s, then ~25 s\n"
        "steady-state (same plan, same rows). Sweep cells are comparable\n"
        "only within one process on an otherwise idle box; a concurrent\n"
        "pytest session inflated the same cell 8×.\n"
        "\nRound-7 adjudication of the r5→r6 `dedup_jaccard_pairs` bench delta\n"
        "(1.69 s → 2.53 s): an idle-box A/B at sf0.1 (4 warmed runs, vanilla\n"
        "local[32] session, gc between runs) measured a stable 3.1–3.3 s;\n"
        "bench's tuned session reports 2.5–2.6 s — i.e. r6's number matches\n"
        "this table's 2.6 s steady state, and **r5's 1.69 s was the outlier**\n"
        "(most plausibly a CacheManager-warm artifact of r5's session layout).\n"
        "The pinned expectation for future rounds is 2.6 s ± 15% under bench.\n"
        "\n**Round-7 updates to this table** (same protocol, default 8 GiB heap\n"
        "with `SPARK_GRAFT_CHECKPOINT_STORAGE=DISK_ONLY` — see below):\n\n"
        "| op | ×1 (sf0.1) | ×4 | ×10 | wall growth at 10× input |\n"
        "|---|---|---|---|---|\n"
        "| dedup_minhash_lsh | 6.2 s / 6.3 M pairs | 12.0 s / 25.0 M | 23.1 s / 61.6 M | 3.7× at DEFAULT heap (the 48g requirement is gone) |\n"
        "| dedup_clusters (CC) | 6.3 s | 10.2 s | 16.3 s | **2.6×** (was 6.4× in r6) |\n"
        "\n(Bench-tier note: at the sf0.1 fixture the entry reads 4.6–6.5 s\n"
        "across days/runs — the restricted loop adds a final singleton join\n"
        "whose fixed cost shows at fixture scale; the ×10 curve is what the\n"
        "change buys.  The pre-change sweep measured the SAME ~6.0 s ×1 cell,\n"
        "so the fixture-scale spread is box variance, not a regression.)\n"
        "\nTwo r7 changes produced the CC drop, both verified oracle-neutral:\n\n"
        "1. `_cc_min_label_loop` iterates ONLY over edge-incident vertices\n"
        "   (singletons can never change label; they rejoin once at the end).\n"
        "   Phase profile at ×10 after the fix: loop 3.9 s, member join 1.0 s\n"
        "   — the loop is ~flat in scale and the wall was mining-bound.\n"
        "2. `_rep_jaccard_pairs_inverted` gained the classic LENGTH FILTER\n"
        "   (jaccard ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|)) applied INSIDE the\n"
        "   token self-join, with set sizes riding the posting rows (exploded\n"
        "   from `groups` directly — joining them on afterwards re-shuffled\n"
        "   the full posting list twice and measured 70 s at ×10).  The\n"
        "   post-aggregate size joins are gone entirely: the plan is one\n"
        "   self-join + one aggregate.  ×10 mining dropped 27.5 s → ~10 s.\n"
        "\nThe ×1/×10 strategy flip is worth knowing when reading the ratio: ×1's\n"
        "tiny fixture vocabulary dispatches to the bitmask path while ×10's\n"
        "10×-larger vocabulary takes the inverted-index path, so the ratio\n"
        "compares different physical strategies; within the inverted strategy\n"
        "growth is ~linear in input+output, which is the floor for an operator\n"
        "that must touch every posting.\n"
        "\n**Default-heap sweeps** (r7): every heavy materialization now routes\n"
        "through `functions.scale.checkpoint_df`, which honors\n"
        "`SPARK_GRAFT_CHECKPOINT_STORAGE=<StorageLevel>`.  With `DISK_ONLY`,\n"
        "the ×10 minhash sweep (61.6 M-pair checkpoint) passes at the default\n"
        "8 GiB single-JVM heap — 23.1 s vs ~25 s steady state at 48g, i.e.\n"
        "within noise — so the 48g requirement documented above is now an\n"
        "option, not a prerequisite.  Default (unset) keeps localCheckpoint's\n"
        "MEMORY_AND_DISK, the right level on a real cluster where blocks\n"
        "spread across executors.\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
