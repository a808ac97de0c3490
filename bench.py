"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full computation, no
driver collect, no result materialization skew). The headline set spans
every subsystem: dashboard aggs, TPC-H joins, windows, event analytics,
text ops, dedup, similarity search.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # med_q01_q07_overview / med_q04_q12_breakdowns are the r3 composite
    # entries covering the former med_q01_overview + med_q07 and
    # med_q04 + med_q12_coverage_status rows — each times BOTH plans
    "med_q01_q07_overview",
    "med_q02_price_by_disease_area",
    "med_q06_most_expensive",
    "med_q09_manufacturer_size",
    "med_q04_q12_breakdowns",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue",
    "tpch_q10_returned_items",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume_customers",
    # r6 full-TPC-H additions: the widest join graph (q8), the
    # decorrelated-window min (q2), and the aggregate-rewritten
    # double-correlation (q21)
    "tpch_q8_market_share",
    "tpch_q2_min_cost_supplier",
    "tpch_q21_waiting_suppliers",
    "join_asof_latest_order",
    "join_skewed_hot_user",
    "join_left_order_linecounts",
    # window_top3_running / events_windowed_counts / events_hourly_daily /
    # text_doc_profile are the r2 composite entries covering the former
    # window_top3 + window_running / events_tumbling_5min +
    # events_sliding_10min / events_hourly_activity +
    # events_daily_rollup_from_hourly / text_token_stats +
    # text_quality_score (+fingerprint) rows — each times BOTH plans
    "window_top3_running",
    "events_windowed_counts",
    "events_sessionization",
    "events_hourly_daily",
    "events_hll_daily_users",
    "events_gapfill_locf",
    "events_retention_cohorts",
    "events_hourly_anomalies",
    "events_trailing_hour",
    "events_value_time_stats",
    "window_analytics_pack",
    "text_doc_profile",
    "text_train_prep",
    # r3 curation/retrieval surface
    "text_pii_redaction",
    "text_chunk_windows",
    "text_bm25_search",
    "retrieval_hybrid_rrf",
    "retrieval_hybrid_rrf_serving",
    "text_ngram_topk",
    "text_topic_clusters",
    "text_topic_serving",
    "text_bigram_logprob",
    "text_source_divergence",
    "events_funnel",
    # r6 seventh batch: corpus-wide heavy-hitter mining + broadcast
    # anti-join scrub
    "text_boilerplate_scrub",
    "text_substring_dedup",
    "join_lateral_top2_orders",
    "events_props_variant",
    "dedup_exact",
    # heavy LLM-data ops so round-over-round regressions are visible
    "dedup_jaccard_pairs",
    "dedup_containment_pairs",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_embedding_clustered",
    "sim_ann_ivf",
    "sim_ann_ivf_pq",
    "sim_ann_ivf_pq_serving",
    "sim_knn_bruteforce",
    "sim_label_centroids",
    # r8 lakehouse entries (build-once caches under spark-warehouse;
    # the timed pass measures the serving read + aggregate, like the
    # ANN/topic serving entries)
    "lake_documents_roundtrip",
    "lake_partitioned_scan",
    "lake_changes_feed",
    "lake_dv_roundtrip",
    "lake_incremental_view",
    "lake_delta_interop",
    "lake_iceberg_interop",
    "lake_iceberg_v2_deletes",
    "lake_bloom_lookup",
    "lake_iceberg_eq_upsert",
    "mm_image_jpeg_pipeline",
    "mm_image_png_pipeline",
    "mm_video_mjpeg_pipeline",
    "mm_audio_adpcm_pipeline",
    # r9 batch-6 codecs/containers + transform-partitioned Iceberg
    "mm_audio_g711_pipeline",
    "mm_audio_mp3_meta",
    "mm_video_mp4_pipeline",
    "lake_iceberg_transforms",
    "lake_delta_generated",
    "dedup_incremental_pairs",
    "dedup_incremental_minhash",
    "events_cep_pattern",
    "lake_iceberg_meta",
    "lake_delta_meta",
    # r10: the reference SQL through spark.sql + the three new
    # metadata scanners + TPC-H text through the front end
    "med_q02_sql_frontend",
    "mm_audio_flac_meta",
    "mm_video_avc1_meta",
    "mm_audio_ogg_meta",
    "tpch_q6_sql_frontend",
    # r10 session 3: Iceberg v3 deletion vectors + row lineage, Delta
    # row tracking, TPC-H through the SQL front end
    "lake_iceberg_v3_dv",
    "lake_iceberg_row_lineage",
    "lake_delta_row_tracking",
    "lake_iceberg_upsert_atomic",
    "lake_iceberg_defaults",
    "tpch_q1_sql_frontend",
    "tpch_q18_sql_frontend",
    # r11: VARIANT through the lake read tier (Delta variantType +
    # Iceberg v3 variant), DV-masked variant_get scans
    "lake_delta_variant",
    "lake_iceberg_variant",
    "lake_iceberg_changes_eq",
    "mm_audio_ogg_chain",
    # r12: streamed hours-partitioned target, UniForm both directions,
    # partition/NDV statistics, the ALTER-matrix read
    "lake_iceberg_stream_hours",
    "lake_uniform_dv",
    "lake_uniform_rev",
    "lake_iceberg_pstats",
    "lake_iceberg_ndv",
    "lake_delta_evolution",
    # r13: decimal+nested tier, stats-driven join advice, the uuid/
    # fixed/time type-matrix completion
    "lake_iceberg_decimal",
    "lake_advised_join",
    "lake_iceberg_exotic",
    "lake_delta_defaults",
    "lake_iceberg_maint",
    # r14: the SQL write lifecycle (MERGE/DELETE/UPDATE/ALTER/travel as
    # SQL text) + cross-format named-catalog resolution
    "lake_delta_merge_sql",
    "lake_iceberg_delete_sql",
    "lake_delta_sql_lifecycle",
    "lake_iceberg_sql_lifecycle",
    "lake_named_catalog",
    "lake_sql_maintenance",
    "lake_sql_cdf_restore",
    "lake_convert_in_place",
    "lake_delta_delete_pred_sql",
    "lake_iceberg_update_pred_sql",
]

#: Entries whose plans span dozens of codegen stages (banding joins,
#: iterative CC, IVF probe): ONE warm pass leaves the JVM mid-tier —
#: measured on minhash at sf0.1, successive identical runs go
#: 24s → 14s → 13.5s → ~9.5s steady state, and single-warm timings
#: bounce ±40% between processes.  These get extra warm passes so the
#: timed run measures steady-state throughput, not C2 compilation.
HEAVY = {
    "dedup_jaccard_pairs",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "sim_ann_ivf",
    "sim_ann_ivf_pq",
    # serving entries: the first warm pass also builds the on-disk index,
    # so the timed pass measures the frozen-index query path only
    "sim_ann_ivf_pq_serving",
    "retrieval_hybrid_rrf_serving",
    "dedup_containment_pairs",
    "text_topic_clusters",
    # first warm pass builds the on-disk topic index
    "text_topic_serving",
    "dedup_embedding_clustered",
    # first warm pass builds the cached lakes / delta log
    "lake_documents_roundtrip",
    "lake_partitioned_scan",
    "lake_changes_feed",
    "lake_dv_roundtrip",
    "lake_incremental_view",
    # first warm pass builds the r13 lake fixtures
    "lake_iceberg_decimal",
    "lake_advised_join",
    "lake_iceberg_exotic",
    "lake_delta_defaults",
    "lake_iceberg_maint",
    "lake_delta_interop",
    "lake_iceberg_interop",
    "lake_iceberg_v2_deletes",
    "lake_bloom_lookup",
    "lake_iceberg_eq_upsert",
    # first warm pass builds the transform-partitioned orders table /
    # generated-column table / incremental posting index
    "lake_iceberg_transforms",
    "lake_delta_generated",
    "dedup_incremental_pairs",
    "dedup_incremental_minhash",
    "lake_iceberg_meta",
    "lake_delta_meta",
    # first warm pass runs the full v3 lifecycle (upgrade + DV writes)
    "lake_iceberg_v3_dv",
    "lake_iceberg_row_lineage",
    # first warm pass runs the row-tracking lifecycle (enable/DV/update)
    "lake_delta_row_tracking",
    # first warm pass lands the atomic-upsert fixture
    "lake_iceberg_upsert_atomic",
    # first warm pass lands the two-era defaults fixture
    "lake_iceberg_defaults",
    # first warm pass lands the variant fixtures (write + DV delete)
    "lake_delta_variant",
    "lake_iceberg_variant",
    # shares the upsert fixture; warm pass builds it if absent
    "lake_iceberg_changes_eq",
    # first warm pass runs the SQL lifecycle (merge/delete/update/alter
    # statements) that builds the r14 fixtures
    "lake_delta_merge_sql",
    "lake_iceberg_delete_sql",
    "lake_delta_sql_lifecycle",
    "lake_iceberg_sql_lifecycle",
    "lake_named_catalog",
    "lake_sql_maintenance",
    "lake_sql_cdf_restore",
    "lake_convert_in_place",
    "lake_delta_delete_pred_sql",
    "lake_iceberg_update_pred_sql",
}

#: KMeans-family + iterative entries whose single-run walls bounce
#: ±20% between identical processes even after the extra warmups
#: (measured across BENCH_r5–r7 with unchanged plans — the round-over-
#: round diff was dominated by this noise, not regressions).  These
#: report the MEDIAN OF 3 timed passes on top of their warmups, so a
#: bench delta on an unchanged entry means something again.  Steady-
#: state bands are pinned in PLANS.md (bench-noise governance).
VARIANCE_PRONE = {
    "sim_ann_ivf",
    "sim_ann_ivf_pq",
    "sim_ann_ivf_pq_serving",
    "dedup_embedding_clustered",
    "dedup_clusters",
    "text_topic_clusters",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # warm-cache benchmark: persist each table's first materialization
    # (engine buffer pool — sources/catalog.py); scans of the
    # single-row-group fixtures are serial, so this amortizes them
    os.environ.setdefault("SPARK_GRAFT_CACHE", "1")

    import __spark_entry__ as entry
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark import (
        get_spark,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources.catalog import (
        TABLE_NAMES,
        load_table,
    )

    spark = get_spark("bench")
    queries = entry.queries()

    # warm the JVM/codegen path once (tiny query, not timed) and
    # populate the buffer pool for every table the headline set touches
    queries["med_q02_price_by_disease_area"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    if os.environ.get("SPARK_GRAFT_CACHE") == "1":
        for t in TABLE_NAMES:
            load_table(spark, sf_dir, t).count()

    # flag-gated noise damping (r14): parse ONCE before the loop so a
    # malformed value fails fast instead of poisoning every entry's
    # failure-isolation handler
    min_passes = int(os.environ.get("SPARK_GRAFT_BENCH_MIN_PASSES", "0"))

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        # failure isolation: one broken operator must never erase the
        # round's perf signal — record its error and keep timing the rest
        try:
            # warm run(s) amortize whole-stage-codegen JIT for this plan;
            # the timed run rebuilds the DataFrame (fresh lineage, so no
            # shuffle-stage reuse — full recomputation, warm JVM)
            for _ in range(2 if name in HEAVY else 1):
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            # construction is inside the timed region: iterative operators
            # (dedup_clusters' CC loop) do their work eagerly while
            # building.  Light (sub-second) plans take the median of 3
            # timed passes so JIT/GC noise stops masquerading as
            # round-over-round regressions; heavy plans run once on top
            # of their extra warmups.
            reps = (
                3
                if name in VARIANCE_PRONE or name not in HEAVY
                else 1
            )
            # SPARK_GRAFT_BENCH_MIN_PASSES=N runs at least N timed
            # passes per entry and reports the MIN — the best proxy for
            # the plan's cost on a contended box (host noise only ever
            # ADDS wall time).  Off by default so the driver contract
            # and round-over-round medians are unchanged.
            if min_passes >= 2:
                reps = max(reps, min_passes)
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
            timings[name] = round(
                min(runs) if min_passes >= 2 else sorted(runs)[len(runs) // 2],
                3,
            )
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            # drop the dead DataFrame/RDD references NOW: the heavy
            # dedup entries localCheckpoint multi-million-row frames,
            # and with CPython's lazy collection the JVM ContextCleaner
            # never hears about them — storage blocks pile up across
            # the 40+ entry session and later heavy entries slow 2-3×
            # under eviction pressure (measured: session totals bounce
            # 50s → 87s without this).  Outside the timed region.
            import gc

            gc.collect()

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # per-FAMILY rollup (first name token: med/tpch/join/window/events/
    # text/retrieval/dedup/sim/lake/mm): the stdout line is capped at
    # ~2000 chars and the 92-entry per-query map no longer fits, so the
    # driver-visible signal is one subtotal per subsystem — granular
    # enough to localize a regression round-over-round, small enough to
    # survive the cap.  Full per-entry detail always lands in
    # bench_result.json (PLANS.md documents the family → entry map).
    families: dict[str, float] = {}
    fam_counts: dict[str, int] = {}
    for k, v in timings.items():
        fam = k.split("_", 1)[0]
        families[fam] = round(families.get(fam, 0.0) + v, 2)
        fam_counts[fam] = fam_counts.get(fam, 0) + 1
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "families": families,
        "family_counts": fam_counts,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    # full-precision artifact, readable whole (the stdout line is
    # capped — see below).  ALSO written per core count
    # (bench_result_c{N}.json) so a scaling pass at a second
    # $SPARK_GRAFT_CPUS doesn't overwrite the main run's detail — the
    # r15 PERF gap (per_query empty because the 8-core run clobbered
    # the file) cannot recur.
    repo = os.path.dirname(os.path.abspath(__file__))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    for artifact in ["bench_result.json"] + (
        [f"bench_result_c{cpus}.json"] if cpus.isdigit() else []
    ):
        with open(os.path.join(repo, artifact), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    # stdout contract: ONE JSON line — but the driver keeps only the
    # LAST 2000 stdout chars, and r8's 64-entry default-separator line
    # outgrew that (BENCH_r08 parsed null).  Emit compact separators +
    # 2-decimal timings (~29 chars/entry); if the headline set ever
    # outgrows even that, keep the LARGEST-wall entries that still fit
    # (a deterministic, most-informative prefix — heavy entries are
    # where regressions live) and report how many were elided; the
    # family rollup and bench_result.json always carry the full set.
    line = ""
    for ndigits in (2, 1):
        line_obj = dict(
            out, queries={k: round(v, ndigits) for k, v in timings.items()}
        )
        line_obj.pop("family_counts", None)
        line = json.dumps(line_obj, separators=(",", ":"))
        if len(line) <= 1985:
            break
    if len(line) > 1985:
        # trim the per-query map from the LINE only, heaviest-first:
        # per-entry seconds are what the round-over-round and scaling
        # comparisons need, so ship as many as the stdout cap admits
        # instead of none (detail stays complete in the artifact)
        by_wall = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
        line_obj["n_queries"] = len(timings)
        line_obj["detail"] = "bench_result.json"
        lo, hi = 0, len(by_wall)
        while lo < hi:  # largest prefix count that fits the cap
            mid = (lo + hi + 1) // 2
            line_obj["queries"] = {k: round(v, 1) for k, v in by_wall[:mid]}
            line_obj["queries_omitted"] = len(by_wall) - mid
            if len(json.dumps(line_obj, separators=(",", ":"))) <= 1985:
                lo = mid
            else:
                hi = mid - 1
        line_obj["queries"] = {k: round(v, 1) for k, v in by_wall[:lo]}
        line_obj["queries_omitted"] = len(by_wall) - lo
        if lo == 0:
            line_obj.pop("queries")
        line = json.dumps(line_obj, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
