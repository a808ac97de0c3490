"""Batch/stream parity via Trigger.AvailableNow (SURVEY.md §7a)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
    events as batch_events,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    load_table,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.streaming import (
    jobs,
)


def test_stream_tumbling_matches_batch(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    assert stream.isStreaming
    result = jobs.run_available_now(
        batch_events.tumbling_counts(jobs.watermarked(stream)),
        "t_tumbling",
        output_mode="complete",
    )
    got = sorted(tuple(r) for r in result.collect())
    expected = sorted(
        tuple(r) for r in batch_events.tumbling_5min(spark, sf_dir).collect()
    )
    assert got == expected


def test_stream_session_window_matches_batch(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        batch_events.session_counts(jobs.watermarked(stream)),
        "t_sessions",
        output_mode="complete",
    )
    got = sorted(tuple(r) for r in result.collect())
    expected = sorted(
        tuple(r) for r in batch_events.session_window_agg(spark, sf_dir).collect()
    )
    assert got == expected


def test_stream_sliding_matches_batch(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        batch_events.sliding_counts(jobs.watermarked(stream)),
        "t_sliding",
        output_mode="complete",
    )
    got = {r.window_start: r.events for r in result.collect()}
    expected = {
        r.window_start: r.events
        for r in batch_events.sliding_10min_every_5(spark, sf_dir).collect()
    }
    assert got == expected


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    import pyspark.sql.functions as F

    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        jobs.stateful_user_totals_stream(stream), "t_state", output_mode="update"
    )
    # update mode emits one row per (user, micro-batch); the final row
    # per user (max events) is the lifetime total
    final = (
        result.groupBy("user_id").agg(F.max("events").alias("events")).collect()
    )
    got = {r.user_id: r.events for r in final}
    expected = {
        r.user_id: r.cnt
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == expected


def test_stateful_sessionizer_emits_closed_sessions(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        jobs.stateful_sessionizer_stream(stream), "t_sessionizer"
    )
    emitted = {
        (r.user_id, r.session_start, r.session_end, r.events)
        for r in result.collect()
    }
    batch = {
        (r.user_id, r.session_start, r.session_end, r.events)
        for r in batch_events.sessionization(spark, sf_dir)
        .select("user_id", "session_start", "session_end", "events")
        .collect()
    }
    # every emitted (closed) session must be exactly a batch session
    assert emitted <= batch, f"bogus sessions: {sorted(emitted - batch)[:3]}"
    # every session closed by a later event (non-final per user) must emit
    import collections

    finals = {}
    for u, s, e, n in batch:
        if u not in finals or s > finals[u][0]:
            finals[u] = (s, e, n)
    non_final = {
        (u, s, e, n) for (u, s, e, n) in batch if (s, e, n) != finals[u]
    }
    assert non_final <= emitted, (
        f"missing closed sessions: {sorted(non_final - emitted)[:3]}"
    )
    assert emitted, "no sessions emitted"


def test_transform_with_state_running_max(spark, sf_dir):
    import pytest
    import pyspark.sql.functions as F

    if not jobs.transform_with_state_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.events_stream(spark, sf_dir)
        result = jobs.run_available_now(
            jobs.running_max_transform_with_state(stream),
            "t_twsip",
            output_mode="update",
        )
        # last update per type = lifetime max
        got = {
            r.event_type: r.max_value
            for r in result.groupBy("event_type")
            .agg(F.max("max_value").alias("max_value"))
            .collect()
        }
        expected = {
            r.event_type: r.mx
            for r in load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.max("value").alias("mx"))
            .collect()
        }
        assert got == expected
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        batch_events.click_purchase_join(jobs.watermarked(stream)), "t_ssjoin"
    )
    got = {(r.purchase_id, r.click_id) for r in result.collect()}
    expected = {
        (r.purchase_id, r.click_id)
        for r in batch_events.click_purchase_join(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert got == expected
    assert got, "join produced no pairs"


def test_foreach_batch_sink_writes_all_rows(spark, sf_dir, tmp_path):
    stream = jobs.events_stream(spark, sf_dir)
    out = str(tmp_path / "sink")
    jobs.foreach_batch_to_parquet(stream, out)
    written = spark.read.parquet(out)
    assert written.count() == load_table(spark, sf_dir, "events").count()


def test_stream_dedup_within_watermark(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        jobs.dedup_within_watermark_stream(stream), "t_dedup"
    )
    n_events = load_table(spark, sf_dir, "events").count()
    # fixture has unique event_ids → dedup is lossless
    assert result.count() == n_events


def test_stream_static_user_dim_enrichment_matches_batch(spark, sf_dir):
    """Stream-static broadcast join: every streamed event is enriched
    with the batch-derived user dimension; result must equal the same
    join done fully in batch."""
    dim = jobs.user_dim_batch(spark, sf_dir)
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        jobs.static_enriched_stream(stream, dim), "t_static_enrich"
    )
    batch_events_df = batch_events.load_table(spark, sf_dir, "events")
    expected = (
        batch_events_df.join(dim, "user_id")
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("epoch_s"),
            "event_type",
            "value",
            "user_events",
            "user_value_rank",
        )
    )
    got = sorted(tuple(r) for r in result.collect())
    want = sorted(tuple(r) for r in expected.collect())
    assert got == want


def test_corpus_registry_incremental_dedup(spark, sf_dir, tmp_path):
    """First drain builds the registry = batch exact_dedup keeper set;
    re-ingesting the SAME corpus (fresh checkpoint → new batch ids)
    adds ZERO fingerprints — the incremental anti-join path."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        dedup,
    )

    reg = str(tmp_path / "registry")
    jobs.corpus_registry_ingest(jobs.documents_stream(spark, sf_dir), reg)
    first = spark.read.parquet(reg + "/batch=*")
    batch = dedup.exact_dedup(spark, sf_dir)
    expected = {
        (r.fingerprint, r.keeper_doc_id) for r in batch.collect()
    }
    assert {
        (r.fingerprint, r.keeper_doc_id) for r in first.collect()
    } == expected

    # second pass over the same file: every fingerprint already seen
    jobs.corpus_registry_ingest(jobs.documents_stream(spark, sf_dir), reg)
    second = spark.read.parquet(reg + "/batch=*")
    assert second.count() == len(expected)


def test_near_dup_registry_single_drain_matches_batch(spark, sf_dir, tmp_path):
    """One AvailableNow drain (the whole fixture arrives as one batch)
    must emit exactly the batch minhash_lsh_pairs output — same pairs,
    bit-equal jaccard values (identical hash family and exact verify)."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        dedup,
    )

    reg = str(tmp_path / "neardup")
    jobs.near_dup_registry_ingest(jobs.documents_stream(spark, sf_dir), reg)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in spark.read.parquet(reg + "/pairs/batch=*").collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert got == want
    assert len(want) > 0


def test_near_dup_registry_incremental_two_batches(spark, sf_dir, tmp_path):
    """The corpus split across two arrival batches must yield, across
    all pairs/batch=* partitions, exactly the batch operator's output
    on the full corpus: batch-1 covers A×A, batch-2 covers B×B plus
    B×registry(A)."""
    import glob as g
    import shutil

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", docs.filter(F.col("doc_id") <= median)),
        ("b", docs.filter(F.col("doc_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    reg = str(tmp_path / "neardup2")
    stream = jobs.documents_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    jobs.near_dup_registry_ingest(stream, reg)
    batch_dirs = g.glob(reg + "/pairs/batch=*")
    assert len(batch_dirs) == 2
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in spark.read.parquet(reg + "/pairs/batch=*").collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert got == want


def test_corpus_curation_gate_stream_matches_batch(spark, sf_dir):
    """The stateless ingestion gate (quality verdict + PII scrub +
    split assignment) must emit exactly the batch twin's rows when the
    corpus is drained through the streaming source."""
    got = jobs.run_available_now(
        jobs.corpus_curation_gate(jobs.documents_stream(spark, sf_dir)),
        "curation_gate",
    )
    want = jobs.corpus_curation_gate(load_table(spark, sf_dir, "documents"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the gate actually gates: at least two verdict classes appear
    assert got.select("verdict").distinct().count() >= 2


def test_hourly_rollup_registry_matches_batch(spark, sf_dir, tmp_path):
    """Single-drain: the partial-aggregate registry merged on read must
    equal the batch rollup over the full events table (mergeable
    metrics, sums of sums exact)."""
    reg = str(tmp_path / "rollup")
    jobs.hourly_rollup_registry_ingest(jobs.events_stream(spark, sf_dir), reg)
    got = jobs.hourly_rollup_read(spark, reg)
    want = batch_events.hourly_partials(load_table(spark, sf_dir, "events"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_hourly_rollup_registry_two_batches_and_retry(spark, sf_dir, tmp_path):
    """Events split across two arrival batches: partials from both
    batches merge to the full-table rollup; re-writing one batch's
    partition (the retry path) must not change the merged result."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            # cast-first: load_table may surface ts as TIMESTAMP_NTZ
            # (µs fixtures); session tz is UTC so the cast is lossless
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    reg = str(tmp_path / "rollup2")
    jobs.hourly_rollup_registry_ingest(stream, reg)
    assert len(g.glob(reg + "/batch=*")) == 2
    got = jobs.hourly_rollup_read(spark, reg)
    want = batch_events.hourly_partials(load_table(spark, sf_dir, "events"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # retry path: re-ingesting the same source (fresh checkpoint →
    # batch ids replay 0/1) overwrites the same partitions; the merged
    # rollup must be unchanged, not doubled
    jobs.hourly_rollup_registry_ingest(stream, reg)
    assert len(g.glob(reg + "/batch=*")) == 2
    again = jobs.hourly_rollup_read(spark, reg)
    assert again.exceptAll(want).count() == 0
    assert want.exceptAll(again).count() == 0


def test_trending_topk_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streamed per-window top-k must equal the batch twin on every
    window the watermark closed, and must cover ALL windows that close
    before the final watermark (only trailing open windows may be
    held back)."""
    out = str(tmp_path / "trend")
    jobs.trending_topk_ingest(jobs.events_stream(spark, sf_dir), out)
    cols = ["window_start", "event_type", "events", "total_value", "rank"]
    got = spark.read.parquet(out + "/batch=*").select(cols)
    batch = batch_events.top_k_per_window(
        batch_events.tumbling_counts(load_table(spark, sf_dir, "events")),
        jobs.TRENDING_K,
    ).select(cols)
    streamed_windows = [r[0] for r in got.select("window_start").distinct().collect()]
    assert streamed_windows, "stream emitted no closed windows"
    expected = batch.filter(F.col("window_start").isin(streamed_windows))
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # closed-window coverage: window_end <= max_ts - delay must be present
    max_ts = (
        load_table(spark, sf_dir, "events")
        .agg(F.max(F.unix_timestamp("ts")))
        .collect()[0][0]
    )
    must_close = {
        r[0]
        for r in batch.select("window_start").distinct().collect()
        if r[0] + 300 <= max_ts - 600
    }
    assert must_close.issubset(set(streamed_windows))


def test_registry_compaction_preserves_contents(spark, sf_dir, tmp_path):
    """K ingest batches compact to ceil(K/N) batch dirs of one data
    file each; the registry's merged contents are unchanged, and a
    post-compaction ingest still anti-joins against the compacted
    store (no resurrection of seen fingerprints)."""
    import glob as g
    import shutil

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        d = tmp_path / f"_d{i}"
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{i}.parquet")

    reg = str(tmp_path / "reg")
    stream = jobs.documents_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    jobs.corpus_registry_ingest(stream, reg)
    assert len(g.glob(reg + "/batch=*")) == 4
    before = sorted(
        r.fingerprint
        for r in spark.read.parquet(reg + "/batch=*").select("fingerprint").collect()
    )

    merged = jobs.compact_registry(spark, reg, group_size=2)
    assert merged == 2
    dirs = g.glob(reg + "/batch=*")
    assert len(dirs) == 2  # ceil(4/2)
    for d in dirs:
        assert len(g.glob(d + "/part-*.parquet")) == 1
    after = sorted(
        r.fingerprint
        for r in spark.read.parquet(reg + "/batch=*").select("fingerprint").collect()
    )
    assert after == before

    # re-ingest the full corpus post-compaction: every fingerprint is
    # already registered, so the replayed batches land empty
    jobs.corpus_registry_ingest(
        jobs.documents_stream(spark, str(src), glob="*.parquet", max_files_per_trigger=1),
        reg,
    )
    total = sorted(
        r.fingerprint
        for r in spark.read.parquet(reg + "/batch=*").select("fingerprint").collect()
    )
    assert total == before


def test_hourly_rollup_compaction_matches_batch(spark, sf_dir, tmp_path):
    """Compacted rollup partials re-aggregate (sums of sums) and the
    merged read still equals the batch twin."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    reg = str(tmp_path / "rollup")
    jobs.hourly_rollup_registry_ingest(stream, reg)
    assert len(g.glob(reg + "/batch=*")) == 2
    assert jobs.compact_hourly_rollup_registry(spark, reg, group_size=2) == 1
    assert len(g.glob(reg + "/batch=*")) == 1
    got = jobs.hourly_rollup_read(spark, reg)
    want = batch_events.hourly_partials(load_table(spark, sf_dir, "events"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_funnel_stream_matches_batch_two_batches(spark, sf_dir, tmp_path):
    """Per-user funnel reach maintained across two arrival batches must
    reproduce the batch funnel's users-per-stage exactly — including
    the cross-batch case where a later-arriving earlier event moves a
    frontier."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    # split by event_id (uncorrelated with time) so each user's events
    # straddle both batches in arbitrary event-time order
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    result = jobs.run_available_now(
        jobs.funnel_stage_stream(stream), "t_funnel", output_mode="update"
    )
    # reach is monotone per user; the max update per user is final
    final = result.groupBy("user_id").agg(
        F.max("stage_reached").alias("reach")
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        events as ev_ops,
    )

    want = {
        r.stage_ord: r.users for r in ev_ops.funnel(spark, sf_dir).collect()
    }
    for stage_ord in want:
        got = final.filter(F.col("reach") >= stage_ord).count()
        assert got == want[stage_ord], f"stage {stage_ord}: {got} != {want[stage_ord]}"


def test_ann_registry_incremental_build_and_query(spark, sf_correct, tmp_path):
    """IVF registry built across two arrival batches against a frozen
    first-batch codebook: every vector assigned exactly once, retry
    replaces rather than duplicates, and querying the registry reaches
    the standard ANN recall floor vs brute force."""
    import glob as g
    import shutil

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        similarity,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    n_total = emb.count()
    median = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", emb.filter(F.col("vec_id") <= median)),
        ("b", emb.filter(F.col("vec_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    reg = str(tmp_path / "annreg")
    stream = jobs.embeddings_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    jobs.ann_registry_ingest(stream, reg)
    assert len(g.glob(reg + "/lists/batch=*")) == 2
    lists = spark.read.parquet(reg + "/lists/batch=*")
    assert lists.count() == n_total
    assert lists.select("vec_id").distinct().count() == n_total

    # retry: fresh checkpoint replays batch ids 0/1 → same registry
    jobs.ann_registry_ingest(
        jobs.embeddings_stream(spark, str(src), glob="*.parquet", max_files_per_trigger=1),
        reg,
    )
    assert spark.read.parquet(reg + "/lists/batch=*").count() == n_total

    queries = (
        emb.filter(F.col("vec_id") < similarity.N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            similarity.norm_col(F.col("embedding")).alias("q_norm"),
        )
    )
    got = jobs.ann_registry_query(
        spark, reg, queries, k=similarity.TOP_K
    ).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    assert len(by_query) == similarity.N_QUERY_VECS
    assert all(len(v) == similarity.TOP_K for v in by_query.values())
    exact = {
        r.query_id: r.neighbor_id
        for r in similarity.knn_bruteforce(spark, sf_correct)
        .filter(F.col("rank") == 1)
        .collect()
    }
    approx = {r.query_id: r.neighbor_id for r in got if r.rank == 1}
    hits = sum(1 for q, n in approx.items() if exact.get(q) == n)
    assert hits / len(approx) >= 0.4


def test_cdc_latest_value_matches_batch(spark, sf_dir, tmp_path):
    """Streaming CDC apply across two out-of-commit-order arrival
    batches must converge to each user's latest-event row, exactly as
    the batch latest-per-key computation over the full table."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    # split by event_id so each user's changes scatter across batches
    # out of event-time order — the hard CDC case
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    tgt = str(tmp_path / "latest")
    jobs.cdc_latest_value_ingest(stream, tgt, key="user_id")

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
    )

    got = {
        r.user_id: (r.ts, r.event_id)
        for r in dp.read_delta(spark, tgt).collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), *[F.desc(c) for c in ev.columns if c not in ("user_id", "ts")]
    )
    want = {
        r.user_id: (r.ts, r.event_id)
        for r in ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert got == want


def test_hll_rollup_registry_merge_law(spark, sf_dir, tmp_path):
    """Sketch partials from two arrival batches must union to EXACTLY
    the whole-corpus sketch estimate (union law), survive compaction
    unchanged, and land within 5% of the exact distinct count."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    reg = str(tmp_path / "hll")
    jobs.hll_rollup_registry_ingest(stream, reg)
    assert len(g.glob(reg + "/batch=*")) == 2

    got = {
        (r.day_start, r.event_type): r.approx_users
        for r in jobs.hll_rollup_read(spark, reg).collect()
    }
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        events as ev_ops,
    )

    want = {
        (r.day_start, r.event_type): r.approx_users
        for r in ev_ops.hll_daily_users(spark, sf_dir).collect()
    }
    assert got == want  # union of partials == sketch of the whole

    exact = {
        (r.day_start, r.event_type): r.n
        for r in ev.groupBy(
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_start"),
            "event_type",
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05

    assert jobs.compact_hll_rollup_registry(spark, reg, group_size=2) == 1
    assert len(g.glob(reg + "/batch=*")) == 1
    again = {
        (r.day_start, r.event_type): r.approx_users
        for r in jobs.hll_rollup_read(spark, reg).collect()
    }
    assert again == want


def test_quantile_sketch_registry_union_law_and_error_bound(spark, sf_dir, tmp_path):
    """Histogram-partial quantile registry: partials from two arrival
    batches merge to EXACTLY the single-pass histogram (union law is
    count addition), estimates survive compaction bit-identically, and
    every in-range quantile lands within one bin width of the exact
    F.percentile answer."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def make_stream(max_files):
        return (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", str(src))
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", max_files)
            .load()
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )

    QS = (0.5, 0.9, 0.99)
    # two-batch arrival
    reg2 = str(tmp_path / "qs2")
    jobs.quantile_sketch_registry_ingest(make_stream(1), reg2)
    assert len(g.glob(reg2 + "/bins/batch=*")) == 2
    got2 = {
        (r.event_type, r.q): (r.approx_value, r.total)
        for r in jobs.quantile_sketch_read(spark, reg2, QS).collect()
    }

    # single-batch arrival: the whole corpus in one partial.  NOTE the
    # frozen range differs (first batch = whole corpus here), so the
    # union law is asserted on the two-batch registry vs a replayed
    # merge of its own partials, and the estimates are compared via the
    # shared error bound below rather than bit-for-bit across regs.
    rng = spark.read.parquet(reg2 + "/range").first()
    lo, hi, nb = rng["lo"], rng["hi"], rng["bins"]
    width = (hi - lo) / nb

    # exact answers: the rank-⌈q·n⌉ order statistic (percentile_disc).
    # That is the histogram's guarantee target — the hit bin CONTAINS
    # that order statistic, so the estimate is within one bin width of
    # it.  (The interpolating percentile() can sit between two sparse
    # tail points a gap >> bin width apart — not a histogram defect.)
    import math

    by_type = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    exact = {}
    for etype, xs in by_type.items():
        xs.sort()
        for q in QS:
            exact[(etype, q)] = xs[math.ceil(q * len(xs)) - 1]
    assert set(exact) == set(got2)
    for key, (approx, _total) in got2.items():
        ex = exact[key]
        if lo <= ex < hi:
            assert abs(approx - ex) <= width + 1e-9, (key, approx, ex, width)

    # totals must equal exact row counts (no row lost to overflow bins)
    counts = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    for (etype, _q), (_a, total) in got2.items():
        assert total == counts[etype]

    # compaction: bit-identical estimates, fewer dirs
    assert jobs.compact_quantile_sketch_registry(spark, reg2, group_size=2) == 1
    assert len(g.glob(reg2 + "/bins/batch=*")) == 1
    got_compact = {
        (r.event_type, r.q): (r.approx_value, r.total)
        for r in jobs.quantile_sketch_read(spark, reg2, QS).collect()
    }
    assert got_compact == got2


def test_hourly_rollup_anomaly_read_matches_batch(spark, sf_dir, tmp_path):
    """Anomaly scoring on read over the continuous-aggregate registry
    must equal the batch z-score operator exactly: count partials
    merge losslessly, and both paths run the same scoring stage."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        events as ev_ops,
    )

    reg = str(tmp_path / "rollup_anom")
    jobs.hourly_rollup_registry_ingest(jobs.events_stream(spark, sf_dir), reg)
    got = {
        (r.event_type, r.hour_start): (r.events, r.z_score, r.is_anomaly)
        for r in jobs.hourly_rollup_anomaly_read(spark, reg).collect()
    }
    want = {
        (r.event_type, r.hour_start): (r.events, r.z_score, r.is_anomaly)
        for r in ev_ops.hourly_anomalies(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_hourly_rollup_gapfill_read_matches_batch(spark, sf_dir, tmp_path):
    """Gap-filled continuous aggregate on read equals the same
    gap-fill stage over the batch rollup: count/sum partials merge
    losslessly, both paths share the grid+LOCF code."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        events as ev_ops,
    )

    reg = str(tmp_path / "rollup_gf")
    jobs.hourly_rollup_registry_ingest(jobs.events_stream(spark, sf_dir), reg)
    got = jobs.hourly_rollup_gapfill_read(spark, reg)
    want = ev_ops.gapfill_locf_counts(
        batch_events.hourly_partials(load_table(spark, sf_dir, "events"))
    )
    g = {(r.event_type, r.hour_start): (r.events, r.value_sum, r.value_sum_locf) for r in got.collect()}
    w = {(r.event_type, r.hour_start): (r.events, r.value_sum, r.value_sum_locf) for r in want.collect()}
    assert g == w and len(g) > 0
    # at least one truly gap-filled row exists in the fixture
    assert any(ev == 0 for ev, _s, _l in g.values()) or len(g) == sum(
        1 for v in g.values() if v[0] > 0
    )


def test_registry_asof_snapshot_and_compaction_horizon(spark, tmp_path):
    """As-of reads reproduce the registry exactly as it stood after a
    given batch; compaction coarsens history and mid-span snapshots
    raise with the nearest available alternatives."""
    import pytest as _pytest

    reg = str(tmp_path / "rollup_reg")
    for b in range(6):
        spark.createDataFrame(
            [(f"2026-01-01 0{b}:00:00", "click", 10 + b, float(b))],
            "hour_start string, event_type string, events long, value_sum double",
        ).write.parquet(f"{reg}/batch={b}")

    asof3 = jobs.read_registry_asof(spark, reg, 3)
    assert asof3.count() == 4  # batches 0..3 only
    full = jobs.read_registry_asof(spark, reg)
    assert full.count() == 6
    roll = jobs.hourly_rollup_read_asof(spark, reg, 3)
    assert roll.agg({"events": "sum"}).collect()[0][0] == 10 + 11 + 12 + 13

    jobs.compact_registry(spark, reg, group_size=3)  # -> 0-2, 3-5
    assert jobs.read_registry_asof(spark, reg, 2).count() == 3
    assert jobs.read_registry_asof(spark, reg, 5).count() == 6
    with _pytest.raises(ValueError, match="nearest available"):
        jobs.read_registry_asof(spark, reg, 4)
    with _pytest.raises(ValueError, match="no batches at or before"):
        jobs.read_registry_asof(spark, reg, -1)


def test_trailing_hour_stream_matches_batch_split_semantics(
    spark, sf_dir, tmp_path
):
    """Per-event trailing-hour stats maintained across two time-ordered
    arrival batches must equal the batch RANGE-frame split at the
    current row (full seconds strictly before + same-second peers up to
    this event_id).  The split boundary is second-aligned so no peer
    group straddles batches — the operator's documented ordering
    contract."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    median_sec = ev.select(secs.alias("s")).approxQuantile("s", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", ev.filter(secs <= median_sec)),
        ("b", ev.filter(secs > median_sec)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    result = jobs.run_available_now(
        jobs.trailing_hour_stream(stream), "t_trailing", output_mode="update"
    )
    streamed = {
        r.event_id: (r.trailing_events, round(r.trailing_value, 2))
        for r in result.collect()
    }

    from pyspark.sql import Window

    cents = F.round(F.col("value") * 100).cast("bigint")
    w_prior = (
        Window.partitionBy("user_id").orderBy(secs).rangeBetween(-3600, -1)
    )
    w_peer = (
        Window.partitionBy("user_id", secs.alias("s"))
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch = ev.select(
        "event_id",
        (
            F.coalesce(F.count("*").over(w_prior), F.lit(0))
            + F.count("*").over(w_peer)
        ).alias("trailing_events"),
        (
            (
                F.coalesce(F.sum(cents).over(w_prior), F.lit(0))
                + F.sum(cents).over(w_peer)
            )
            / 100.0
        ).alias("trailing_value"),
    )
    expected = {
        r.event_id: (r.trailing_events, round(r.trailing_value, 2))
        for r in batch.collect()
    }
    assert streamed == expected


def test_scrub_registry_forgets_everywhere_including_snapshots(
    spark, tmp_path
):
    """Scrubbed subjects vanish from current AND as-of reads (deletion
    rewrites history); untouched batch dirs keep their files; reruns
    are idempotent; a crash between the two renames recovers."""
    import os
    import shutil

    reg = str(tmp_path / "reg")
    for b in range(4):
        spark.createDataFrame(
            [(b * 10 + i, f"u{b * 10 + i}") for i in range(3)],
            "doc_id long, payload string",
        ).write.parquet(f"{reg}/batch={b}")
    files_before = {
        b: sorted(os.listdir(f"{reg}/batch={b}")) for b in range(4)
    }

    n = jobs.scrub_registry(spark, reg, "doc_id", [11, 30])
    assert n == 2  # only batches 1 and 3 contained the subjects
    current = {r.doc_id for r in spark.read.parquet(f"{reg}/batch=*").collect()}
    assert current == {0, 1, 2, 10, 12, 20, 21, 22, 31, 32}
    # as-of snapshot no longer resurrects the forgotten row
    asof1 = {
        r.doc_id for r in jobs.read_registry_asof(spark, reg, 1).collect()
    }
    assert 11 not in asof1 and asof1 == {0, 1, 2, 10, 12}
    # untouched dirs byte-identical (same files), rerun is a no-op
    assert sorted(os.listdir(f"{reg}/batch=0")) == files_before[0]
    assert sorted(os.listdir(f"{reg}/batch=2")) == files_before[2]
    assert jobs.scrub_registry(spark, reg, "doc_id", [11, 30]) == 0

    # crash simulation: original parked, new dir never published
    parked = f"{reg}/_scrub_old__batch=2"
    os.rename(f"{reg}/batch=2", parked)
    assert not os.path.isdir(f"{reg}/batch=2")
    jobs.scrub_registry(spark, reg, "doc_id", [999])  # entry sweep recovers
    assert os.path.isdir(f"{reg}/batch=2") and not os.path.isdir(parked)
    assert {
        r.doc_id for r in spark.read.parquet(f"{reg}/batch=2").collect()
    } == {20, 21, 22}


def test_expire_registry_retention_horizon(spark, tmp_path):
    """Rows below the retention horizon vanish from current and as-of
    reads; within-horizon dirs keep their files; scrub still works
    after the shared-loop refactor."""
    import os

    reg = str(tmp_path / "ttl_reg")
    for b in range(3):
        spark.createDataFrame(
            [(f"2026-01-0{b + 1} 00:00:00", "click", 5 + b)],
            "hour_start string, event_type string, events long",
        ).write.parquet(f"{reg}/batch={b}")
    files_b2 = sorted(os.listdir(f"{reg}/batch=2"))

    n = jobs.expire_registry(spark, reg, "hour_start", "2026-01-03 00:00:00")
    assert n == 2  # batches 0 and 1 held expired rows; batch 2 untouched
    left = {r.hour_start for r in spark.read.parquet(f"{reg}/batch=*").collect()}
    assert left == {"2026-01-03 00:00:00"}
    assert sorted(os.listdir(f"{reg}/batch=2")) == files_b2
    # as-of cannot resurrect expired data
    assert jobs.read_registry_asof(spark, reg, 1).count() == 0
    # idempotent
    assert jobs.expire_registry(spark, reg, "hour_start", "2026-01-03 00:00:00") == 0


def test_stream_stream_left_outer_join_matches_batch(spark, sf_dir):
    """Matched rows must equal the inner join exactly; null rows must
    be genuine batch-unmatched purchases; and every unmatched purchase
    old enough for the final watermark to have passed its join window
    must have emitted its null row (trailing purchases the drained
    stream could not yet declare unmatched are the only legal gap)."""
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        batch_events.click_purchase_join(jobs.watermarked(stream), "left_outer"),
        "t_ssouter",
        output_mode="append",
    ).collect()
    got_matched = {
        (r.purchase_id, r.click_id) for r in result if r.click_id is not None
    }
    got_nulls = {r.purchase_id for r in result if r.click_id is None}

    inner = {
        (r.purchase_id, r.click_id)
        for r in batch_events.click_purchase_join(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert got_matched == inner

    ev = load_table(spark, sf_dir, "events")
    purchases = {
        r.event_id: r.t
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("event_id", F.unix_timestamp("ts").alias("t"))
        .collect()
    }
    matched_ids = {pid for pid, _ in inner}
    unmatched = set(purchases) - matched_ids
    # null rows are genuine unmatched purchases, emitted at most once
    assert got_nulls <= unmatched
    null_rows = [r.purchase_id for r in result if r.click_id is None]
    assert len(null_rows) == len(set(null_rows))
    # watermark-mature unmatched purchases MUST have emitted
    max_t = ev.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0]
    horizon = max_t - 10 * 60 - 30 * 60  # watermark delay + join window
    mature = {p for p in unmatched if purchases[p] < horizon}
    # outer rows flush when a LATER trigger advances the watermark past
    # them; the drained stream's final trigger can leave the newest
    # boundary row un-flushed — allow exactly that engine latency
    missing = mature - got_nulls
    assert len(missing) <= 1, f"unflushed mature outer rows: {sorted(missing)}"
    assert len(got_nulls) >= len(mature) - 1
    assert got_nulls, "outer join emitted no null rows"


def test_registry_asof_schema_evolution(spark, tmp_path):
    """Additive schema evolution across registry batches: the merged
    read surfaces the union schema with NULLs for pre-upgrade rows,
    while an as-of read before the upgrade keeps the old schema —
    time travel and schema history stay consistent."""
    reg = str(tmp_path / "evo_reg")
    spark.createDataFrame(
        [(1, "a")], "doc_id long, payload string"
    ).write.parquet(f"{reg}/batch=0")
    spark.createDataFrame(
        [(2, "b", "en")], "doc_id long, payload string, lang string"
    ).write.parquet(f"{reg}/batch=1")

    merged = jobs.read_registry_asof(spark, reg, merge_schema=True)
    assert set(merged.columns) == {"doc_id", "payload", "lang"}
    rows = {r.doc_id: r.lang for r in merged.collect()}
    assert rows == {1: None, 2: "en"}

    before = jobs.read_registry_asof(spark, reg, 0, merge_schema=True)
    assert set(before.columns) == {"doc_id", "payload"}


# --------------------------------------------------------------------------
# Incremental boilerplate-segment registry
# --------------------------------------------------------------------------


def test_boilerplate_registry_matches_batch_union_law(spark, sf_dir, tmp_path):
    """df partials summed across arrivals == one batch pass over the
    union (doc-disjoint micro-batches), and the elected top-k set is
    identical to the batch miner's."""
    import glob as g
    import shutil

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.curation import (
        BOILER_TOP_K,
        with_segments,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        d = tmp_path / f"_d{i}"
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{i}.parquet")

    reg = str(tmp_path / "reg")
    jobs.boilerplate_registry_ingest(
        jobs.documents_stream(spark, str(src), glob="*.parquet", max_files_per_trigger=1),
        reg,
    )
    assert len(g.glob(reg + "/batch=*")) == 3

    # union law: merged dfs equal the batch-computed dfs exactly
    merged = {
        (r.seg_text, r.df)
        for r in spark.read.parquet(reg + "/batch=*")
        .groupBy("seg_text")
        .agg(F.sum("df").alias("df"))
        .collect()
    }
    batch = {
        (r.seg_text, r.df)
        for r in with_segments(docs)
        .groupBy("seg_text")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    assert merged == batch

    # elected boilerplate set == batch election (same total order)
    streamed_topk = [
        (r.seg_text, r.df)
        for r in jobs.boilerplate_topk_read(spark, reg).collect()
    ]
    batch_topk = [
        (r.seg_text, r.df)
        for r in with_segments(docs)
        .groupBy("seg_text")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), "seg_text")
        .limit(BOILER_TOP_K)
        .collect()
    ]
    assert streamed_topk == batch_topk

    # idempotence: re-ingesting the same arrivals overwrites, never
    # double counts
    jobs.boilerplate_registry_ingest(
        jobs.documents_stream(spark, str(src), glob="*.parquet", max_files_per_trigger=1),
        reg,
    )
    again = {
        (r.seg_text, r.df)
        for r in spark.read.parquet(reg + "/batch=*")
        .groupBy("seg_text")
        .agg(F.sum("df").alias("df"))
        .collect()
    }
    assert again == batch


# --------------------------------------------------------------------------
# Stream-static dimension enrichment
# --------------------------------------------------------------------------


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast join: the streamed per-(tier, type)
    rollup equals the batch join exactly (the static side is fixed, so
    enrichment is stateless and trigger-count-invariant)."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    dim = jobs.user_tier_dim(spark, sf_dir)
    out = str(tmp_path / "enriched")
    jobs.foreach_batch_to_parquet(jobs.enriched_events(stream, dim), out)
    landed = spark.read.parquet(out + "/batch=*")
    got = {
        (r.tier, r.event_type): (r.events, r.users)
        for r in landed.groupBy("tier", "event_type")
        .agg(F.count("*").alias("events"), F.countDistinct("user_id").alias("users"))
        .collect()
    }
    want = {
        (r.tier, r.event_type): (r.events, r.users)
        for r in jobs.enriched_events(load_table(spark, sf_dir, "events"), dim)
        .groupBy("tier", "event_type")
        .agg(F.count("*").alias("events"), F.countDistinct("user_id").alias("users"))
        .collect()
    }
    assert got == want
    # every event enriched exactly once (join lost/duplicated nothing)
    assert landed.count() == ev.count()
    assert landed.select("event_id").distinct().count() == ev.count()


# --------------------------------------------------------------------------
# Streaming data-quality gate
# --------------------------------------------------------------------------


def test_dq_gate_stream_partitions_rows_and_names_failures(spark, tmp_path):
    """The gate partitions every input row into pass XOR quarantine,
    and quarantined rows carry the names of exactly the rules they
    violated (NULL predicate = violation, matching the batch
    auditor)."""
    import glob as g
    import shutil

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.constraints import (
        RowRule,
    )

    rows = [
        (1, 10.0, "F"),
        (2, -5.0, "O"),      # bad_v
        (3, None, "F"),      # bad_v (NULL)
        (4, 7.0, "X"),       # bad_status
        (5, -1.0, "X"),      # bad_v AND bad_status
    ]
    df = spark.createDataFrame(rows, "id long, v double, status string")
    src = tmp_path / "src"
    src.mkdir()
    d = tmp_path / "_d"
    df.coalesce(1).write.parquet(str(d))
    shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / "0.parquet")

    stream = (
        spark.readStream.schema("id long, v double, status string")
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .load()
    )
    rules = [
        RowRule("bad_v", F.col("v") > 0),
        RowRule("bad_status", F.col("status").isin("F", "O")),
    ]
    out, quar = str(tmp_path / "ok"), str(tmp_path / "quarantine")
    jobs.dq_gate_stream(stream, rules, out, quar)

    passed = {r.id for r in spark.read.parquet(out + "/batch=*").collect()}
    quarantined = {
        r.id: sorted(r.failed_rules)
        for r in spark.read.parquet(quar + "/batch=*").collect()
    }
    assert passed == {1}
    assert quarantined == {
        2: ["bad_v"],
        3: ["bad_v"],
        4: ["bad_status"],
        5: ["bad_status", "bad_v"],
    }
    # partition law: pass + quarantine == input, no overlap
    assert passed.isdisjoint(quarantined)
    assert passed | set(quarantined) == {r[0] for r in rows}


def test_hourly_rollup_seasonal_read_matches_batch(spark, sf_dir, tmp_path):
    """Seasonal (hour-of-day, leave-one-out) scoring on read over the
    registry equals the batch seasonal operator exactly — same lossless
    partial merge, same scoring stage."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        events as ev_ops,
    )

    reg = str(tmp_path / "rollup_seasonal")
    jobs.hourly_rollup_registry_ingest(jobs.events_stream(spark, sf_dir), reg)
    got = {
        (r.event_type, r.hour_epoch): (r.events, r.z_score, r.is_anomaly)
        for r in jobs.hourly_rollup_seasonal_read(spark, reg).collect()
    }
    want = {
        (r.event_type, r.hour_epoch): (r.events, r.z_score, r.is_anomaly)
        for r in ev_ops.seasonal_anomalies(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


# --------------------------------------------------------------------------
# Streaming drift monitor
# --------------------------------------------------------------------------


def test_drift_monitor_zero_on_matching_and_fires_on_skew(spark, sf_dir, tmp_path):
    """PSI ≈ 0 when the stream replays the baseline corpus; PSI blows
    up when the stream is skewed to one type (the monitor actually
    detects drift, not just runs)."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    baseline = jobs.baseline_type_distribution(spark, sf_dir)

    def stream_of(df, name):
        src = tmp_path / name
        src.mkdir()
        d = tmp_path / f"_{name}"
        df.withColumn(
            "ts", F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / "0.parquet")
        schema = (
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        return (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("path", str(src))
            .option("pathGlobFilter", "*.parquet")
            .load()
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )

    out_same = str(tmp_path / "psi_same")
    jobs.drift_monitor_stream(stream_of(ev, "same"), baseline, out_same)
    same = spark.read.parquet(out_same + "/batch=*").collect()
    assert len(same) > 0
    psi_same = sum(r.psi_term for r in same if r.psi_term is not None)
    assert abs(psi_same) < 1e-9  # identical distribution ⇒ PSI exactly ~0

    out_skew = str(tmp_path / "psi_skew")
    jobs.drift_monitor_stream(
        stream_of(ev.filter(F.col("event_type") == "click"), "skew"),
        baseline,
        out_skew,
    )
    skew = spark.read.parquet(out_skew + "/batch=*").collect()
    psi_skew = sum(r.psi_term for r in skew if r.psi_term is not None)
    assert psi_skew > 0.2  # conventional "significant drift" threshold
    # absent types are visible with NULL psi (not silently dropped)
    absent = [r for r in skew if r.batch_events == 0]
    assert absent and all(r.psi_term is None for r in absent)


def test_registry_diff_tracks_appends_and_scrubs(spark, tmp_path):
    """DIFF between snapshots: appends show as adds; a scrub's
    deletions show as removes — the change-data-feed read on the
    registry."""
    reg = str(tmp_path / "diff_reg")
    for b in range(5):
        spark.createDataFrame(
            [(b, f"user{b % 2}", float(b))],
            "batch_val long, subject string, v double",
        ).write.parquet(f"{reg}/batch={b}")

    d = jobs.registry_diff(spark, reg, 1, 4)
    rows = {(r.batch_val, r.change) for r in d.collect()}
    assert rows == {(2, "added"), (3, "added"), (4, "added")}

    # scrub user1 (batches 1 and 3) and diff the full registry against
    # its pre-scrub self via a copied snapshot
    import shutil

    snap = str(tmp_path / "pre_scrub")
    shutil.copytree(reg, snap)
    jobs.scrub_registry(spark, reg, column="subject", values=["user1"])
    before = spark.read.parquet(snap + "/batch=*")
    after = spark.read.parquet(reg + "/batch=*")
    removed = before.exceptAll(after).collect()
    assert {r.batch_val for r in removed} == {1, 3}
    assert after.filter(F.col("subject") == "user1").count() == 0


def test_dashboard_registry_serves_batch_dashboard(spark, sf_dir, tmp_path):
    """Incremental dashboard serving: medications replayed in
    micro-batches into the partial-aggregate registry must serve
    med_q05 / med_q14 EXACTLY as the batch builders compute them, the
    overview KPIs must match a direct aggregate over the cleaned
    relation, and re-ingesting the same arrivals must not change any
    read (idempotence — overwrite-per-batch, never double count)."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        dashboard,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.medications import (
        medications,
    )

    landing = str(tmp_path / "med_landing")
    reg = str(tmp_path / "med_registry")

    jobs.dashboard_registry_ingest(
        jobs.medications_stream(spark, sf_dir, landing), reg
    )
    # > 1 micro-batch actually happened (file-per-trigger replay)
    import glob as _glob

    n_batches = len(_glob.glob(f"{reg}/batch=*"))
    assert n_batches >= 2

    got05 = jobs.dashboard_form_distribution_read(spark, reg).collect()
    want05 = dashboard.q05_form_distribution(spark, sf_dir).collect()
    assert [tuple(r) for r in got05] == [tuple(r) for r in want05]

    got14 = sorted(
        map(tuple, jobs.dashboard_class_balance_read(spark, reg).collect())
    )
    want14 = sorted(
        map(tuple, dashboard.q14_class_balance(spark, sf_dir).collect())
    )
    assert got14 == want14

    med = medications(spark, sf_dir)
    want_over = med.agg(
        F.count("*").cast("bigint").alias("total_medications"),
        F.round(F.avg("price"), 0).cast("double").alias("avg_price_DA"),
        F.max("price").alias("most_expensive_DA"),
    ).collect()
    got_over = jobs.dashboard_overview_read(spark, reg).collect()
    assert [tuple(r) for r in got_over] == [tuple(r) for r in want_over]

    # idempotence: replay the same landing into the same registry
    jobs.dashboard_registry_ingest(
        jobs.medications_stream(spark, sf_dir, landing), reg
    )
    assert len(_glob.glob(f"{reg}/batch=*")) == n_batches
    again05 = jobs.dashboard_form_distribution_read(spark, reg).collect()
    assert [tuple(r) for r in again05] == [tuple(r) for r in want05]


def test_lake_stream_sink_exactly_once_and_cdc(spark, sf_dir, tmp_path):
    """Streaming into a Delta table: one txn-keyed commit per
    micro-batch, a replayed batch id is a NO-OP (exactly-once on top of
    at-least-once delivery), and the change feed of a version range
    holds exactly the rows those commits added — an overwrite shows up
    as exact delete + insert legs."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
        deltastream,
    )

    deltastream.register(spark)
    path = str(tmp_path / "lake_stream")
    stream = jobs.documents_stream(spark, sf_dir, max_files_per_trigger=1)
    q = (
        stream.writeStream.format("deltaproto")
        .option("path", path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    docs = load_table(spark, sf_dir, "documents")
    assert dp.read_delta(spark, path).count() == docs.count()
    vs = dp.delta_versions(path)
    assert len(vs) >= 1

    # retry of an already-committed batch id: no new version, no dupes
    app, last_batch = next(iter(dp.delta_txn_versions(spark, path).items()))
    replay = dp.read_delta(spark, path).limit(5)
    assert dp.write_delta(replay, path, txn=(app, last_batch)) == vs[-1]
    assert dp.delta_versions(path) == vs
    assert dp.read_delta(spark, path).count() == docs.count()

    # CDF: rows added after version `mid` are exactly the later commits
    mid = vs[len(vs) // 2]
    changes = dp.read_changes_delta(spark, path, since_version=mid + 1)
    upto = dp.read_delta(spark, path, version=mid)
    assert changes.count() == docs.count() - upto.count()
    # disjointness: no doc appears in both the snapshot and the delta
    assert upto.join(changes, "doc_id", "inner").count() == 0

    # an overwrite is an exact delete of the old snapshot + its inserts
    v_over = dp.write_delta(replay.limit(3), path, mode="overwrite")
    legs = {
        r["_change_type"]: r["count"]
        for r in dp.read_changes_delta(spark, path, since_version=v_over)
        .groupBy("_change_type")
        .count()
        .collect()
    }
    assert legs == {"delete": docs.count(), "insert": 3}


def test_gated_registry_matches_ungated_and_prunes(spark, sf_dir, tmp_path):
    """The membership-gated ingest commits EXACTLY the keeper set of
    the batch operator (gate false positives cost a verify, never a
    wrong answer), re-ingest adds zero fingerprints (the sketch path's
    no-false-negative law end-to-end), and the per-batch sketch stays
    sketch-sized (≤ n_buckets rows regardless of batch size)."""
    import glob as _glob

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        dedup,
    )

    reg = str(tmp_path / "gated_registry")
    jobs.corpus_registry_ingest_gated(
        jobs.documents_stream(spark, sf_dir, max_files_per_trigger=1), reg
    )
    got = {
        (r.fingerprint, r.keeper_doc_id)
        for r in spark.read.parquet(reg + "/batch=*").collect()
    }
    expected = {
        (r.fingerprint, r.keeper_doc_id)
        for r in dedup.exact_dedup(spark, sf_dir).collect()
    }
    assert got == expected

    for sk in _glob.glob(reg + "/_sketch/batch=*"):
        n = spark.read.parquet(sk).count()
        assert n <= jobs.MEMBERSHIP_BUCKETS

    # full replay: every fingerprint already known — nothing new lands
    jobs.corpus_registry_ingest_gated(
        jobs.documents_stream(spark, sf_dir, max_files_per_trigger=1), reg
    )
    assert spark.read.parquet(reg + "/batch=*").count() == len(expected)

    # FALLBACK path: a registry seeded by the UNGATED ingest has no
    # sketches — the gated ingest must fall back to the exact
    # anti-join, never silently skip dedup
    reg2 = str(tmp_path / "seeded_ungated")
    jobs.corpus_registry_ingest(jobs.documents_stream(spark, sf_dir), reg2)
    jobs.corpus_registry_ingest_gated(
        jobs.documents_stream(spark, sf_dir, max_files_per_trigger=1), reg2
    )
    assert spark.read.parquet(reg2 + "/batch=*").count() == len(expected)


def test_minilake_datasource_batch_and_stream(spark, sf_dir, tmp_path):
    """format('deltaproto'): batch read equals the snapshot; the stream's
    offsets are log versions — the first micro-batch is the committed
    history, appends BETWEEN triggers arrive as exactly their delta
    rows, and a checkpoint restart resumes from the stored version
    without re-emitting consumed commits."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
        deltastream,
    )

    deltastream.register(spark)
    path = str(tmp_path / "lake_src")
    df1 = spark.range(40).withColumn("v", F.col("id") * 2)
    df2 = spark.range(40, 50).withColumn("v", F.col("id") * 2)
    dp.write_delta(df1, path)

    # batch parity with the native snapshot read
    got = spark.read.format("deltaproto").load(path)
    want = dp.read_delta(spark, path)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # stream: drain history, append, drain the delta — same checkpoint
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain() -> None:
        q = (
            spark.readStream.format("deltaproto")
            .load(path)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 40
    dp.write_delta(df2, path)
    drain()
    result = spark.read.parquet(out)
    assert result.count() == 50  # only the 10 new rows were appended
    assert sorted(map(tuple, result.collect())) == sorted(
        map(tuple, dp.read_delta(spark, path).collect())
    )


def test_stream_stream_full_outer_join_matches_batch(spark, sf_dir):
    """Full-outer twin: matched rows equal the batch inner join; null
    rows in EACH direction are genuine batch-unmatched rows of that
    side; and every unmatched row old enough for the final watermark
    to have passed its join window must have emitted (the boundary-row
    engine latency of the left-outer test applies per side)."""
    stream = jobs.events_stream(spark, sf_dir)
    result = jobs.run_available_now(
        batch_events.click_purchase_join(jobs.watermarked(stream), "full_outer"),
        "t_ssfull",
        output_mode="append",
    ).collect()
    got_matched = {
        (r.purchase_id, r.click_id)
        for r in result
        if r.click_id is not None and r.purchase_id is not None
    }
    got_null_clicks = {r.purchase_id for r in result if r.click_id is None}
    got_null_purch = {r.click_id for r in result if r.purchase_id is None}

    inner = {
        (r.purchase_id, r.click_id)
        for r in batch_events.click_purchase_join(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert got_matched == inner

    ev = load_table(spark, sf_dir, "events")
    purchases = {
        r.event_id: r.t
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("event_id", F.unix_timestamp("ts").alias("t"))
        .collect()
    }
    clicks = {
        r.event_id: r.t
        for r in ev.filter(F.col("event_type") == "click")
        .select("event_id", F.unix_timestamp("ts").alias("t"))
        .collect()
    }
    unmatched_p = set(purchases) - {pid for pid, _ in inner}
    unmatched_c = set(clicks) - {cid for _, cid in inner}
    assert got_null_clicks <= unmatched_p
    assert got_null_purch <= unmatched_c
    # emitted at most once per side
    null_p_rows = [r.purchase_id for r in result if r.click_id is None]
    null_c_rows = [r.click_id for r in result if r.purchase_id is None]
    assert len(null_p_rows) == len(set(null_p_rows))
    assert len(null_c_rows) == len(set(null_c_rows))

    max_t = ev.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0]
    horizon = max_t - 10 * 60 - 30 * 60  # watermark delay + join window
    mature_p = {p for p in unmatched_p if purchases[p] < horizon}
    mature_c = {c for c in unmatched_c if clicks[c] < horizon}
    missing_p = mature_p - got_null_clicks
    missing_c = mature_c - got_null_purch
    assert len(missing_p) <= 1, f"unflushed purchases: {sorted(missing_p)}"
    assert len(missing_c) <= 1, f"unflushed clicks: {sorted(missing_c)}"
    assert got_null_clicks and got_null_purch


def test_minilake_datasource_writer_two_phase_commit(spark, sf_dir, tmp_path):
    """format('deltaproto') WRITE path (the streaming sink): tasks land
    files and each micro-batch commits as exactly ONE log version
    regardless of task count, a later batch appends, the sink
    enforces the table schema, and the written table reads back
    identically through read_delta and the DataSource reader."""
    import pytest

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
        deltastream,
    )

    deltastream.register(spark)
    src = str(tmp_path / "src")
    path = str(tmp_path / "lake_write")
    ckpt = str(tmp_path / "ckpt")

    def drain(schema="id bigint, v bigint", ckpt_dir=ckpt):
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("deltaproto")
            .option("path", path)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    spark.range(60).withColumn("v", F.col("id") * 3).repartition(4).write.parquet(src)
    drain()
    hist = dp.delta_history(path)
    assert [h["operation"] for h in hist] == ["STREAMING UPDATE"]
    assert hist[0]["n_added"] > 1  # several task files, one commit
    assert dp.read_delta(spark, path).count() == 60

    spark.range(60, 75).withColumn("v", F.col("id") * 3).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert len(dp.delta_history(path)) == 2
    snap = dp.read_delta(spark, path)
    assert snap.count() == 75

    # read-back parity through the DataSource reader
    got = spark.read.format("deltaproto").load(path)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, snap.collect())
    )

    # schema contract: a type-changed stream fails loudly
    with pytest.raises(Exception, match="schema differs"):
        drain("id bigint, v string", str(tmp_path / "ckpt_bad"))
    assert len(dp.delta_versions(path)) == 2


def test_minilake_native_stream_sink_exactly_once(spark, sf_dir, tmp_path):
    """writeStream.format('deltaproto'): one txn-keyed commit per
    micro-batch; a re-drain from a FRESH checkpoint replays the same
    batch ids and commits nothing (exactly-once over at-least-once
    replay), leaving no duplicate rows and no new versions."""
    import tempfile

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
        deltastream,
    )

    deltastream.register(spark)
    path = str(tmp_path / "native_sink_lake")

    def drain():
        stream = jobs.documents_stream(spark, sf_dir, max_files_per_trigger=1)
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                stream.writeStream.format("deltaproto")
                .option("path", path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)

    drain()
    docs = load_table(spark, sf_dir, "documents")
    assert dp.read_delta(spark, path).count() == docs.count()
    vs = dp.delta_versions(path)
    assert len(vs) >= 1
    assert all(
        any("txn" in a for a in dp._read_actions(path, v)) for v in vs
    )

    # fresh checkpoint → the engine replays batch ids from 0; every
    # commit must no-op
    drain()
    assert dp.delta_versions(path) == vs
    assert dp.read_delta(spark, path).count() == docs.count()
    # replayed batches left no visible duplicates
    assert (
        dp.read_delta(spark, path)
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_lake_stream_source_feeds_dedup_registry(spark, sf_dir, tmp_path):
    """Composition across the format's quadrants: documents land in a
    Delta table (with injected exact duplicates), the table's
    format('deltaproto') STREAM SOURCE feeds the incremental dedup
    registry, and the registry's keeper set equals the batch
    exact-dedup answer over the snapshot.  New appends then flow
    through as deltas — the registry adds only genuinely new
    fingerprints."""
    import glob

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
        deltastream,
    )

    deltastream.register(spark)
    lake = str(tmp_path / "corpus_lake")
    reg = str(tmp_path / "registry")

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    dupes = docs.limit(20).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    dp.write_delta(docs, lake)
    dp.write_delta(dupes, lake)

    stream = spark.readStream.format("deltaproto").load(lake)
    jobs.corpus_registry_ingest(stream, reg)

    registry = spark.read.parquet(*glob.glob(f"{reg}/batch=*"))
    snap = dp.read_delta(spark, lake)
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
    )
    want = (
        snap.select(F.md5(normalized).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"))
    )
    assert registry.count() == want.count()
    joined = registry.join(
        want, registry.fingerprint == want.fp, "inner"
    ).filter(F.col("keeper_doc_id") == F.col("keeper"))
    assert joined.count() == want.count()

    # a new append flows through as a delta: one genuinely-new doc +
    # one more duplicate → exactly one new registry fingerprint
    n_before = registry.count()
    fresh = spark.createDataFrame(
        [(20_000_001, "an entirely new never seen document body")],
        "doc_id long, text string",
    )
    more_dupes = docs.limit(1).withColumn(
        "doc_id", F.col("doc_id") + 30_000_000
    )
    dp.write_delta(fresh.unionByName(more_dupes), lake)
    stream2 = spark.readStream.format("deltaproto").load(lake)
    jobs.corpus_registry_ingest(stream2, reg)
    after = spark.read.parquet(*glob.glob(f"{reg}/batch=*"))
    assert after.count() == n_before + 1


def test_minilake_native_stream_sink_enforces_schema(spark, sf_dir, tmp_path):
    """The native stream sink applies a write-time schema contract: a
    type-changed stream fails at start instead of committing a
    divergent schema."""
    import tempfile

    import pytest

    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        deltaproto as dp,
        deltastream,
    )

    deltastream.register(spark)
    path = str(tmp_path / "schema_sink_lake")
    dp.write_delta(
        spark.range(5).withColumn("text", F.lit("x")).withColumnRenamed(
            "id", "doc_id"
        ),
        path,
    )
    bad_stream = (
        jobs.documents_stream(spark, sf_dir, max_files_per_trigger=1)
        .select("doc_id", F.col("lang").alias("text"))
        .withColumn("text", F.col("text").cast("binary"))
    )
    with tempfile.TemporaryDirectory() as ckpt:
        with pytest.raises(Exception, match="schema differs"):
            q = (
                bad_stream.writeStream.format("deltaproto")
                .option("path", path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            q.processAllAvailable()
    assert len(dp.delta_versions(path)) == 1  # nothing committed


def test_cep_stream_matches_batch_two_batches(spark, sf_dir, tmp_path):
    """Per-user CEP journeys maintained across two arrival batches
    (split by event_id, so each user's events arrive out of event-time
    order) must reproduce the batch cep_pattern rows EXACTLY —
    journey string and both regex counters."""
    import glob as g
    import shutil

    ev = load_table(spark, sf_dir, "events")
    median = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    for name, half in [
        ("a", ev.filter(F.col("event_id") <= median)),
        ("b", ev.filter(F.col("event_id") > median)),
    ]:
        d = tmp_path / f"_{name}"
        half.withColumn(
            "ts",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)"),
        ).coalesce(1).write.parquet(str(d))
        shutil.move(g.glob(f"{d}/part-*.parquet")[0], src / f"{name}.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", str(src))
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    result = jobs.run_available_now(
        jobs.cep_pattern_stream(stream), "t_cep", output_mode="update"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        result.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        events as ev_ops,
    )

    got = {
        r.user_id: (r.n_events, r.journey, r.n_conversions,
                    r.n_error_recoveries)
        for r in final.collect()
    }
    want = {
        r.user_id: (r.n_events, r.journey, r.n_conversions,
                    r.n_error_recoveries)
        for r in ev_ops.cep_pattern(spark, sf_dir).collect()
    }
    assert got == want and got


# --------------------------------------------------------------------------
# Shared bodies on degenerate input; the single drain
# --------------------------------------------------------------------------

#: name -> (body over an events frame, streaming output mode); a None
#: mode means the body runs per micro-batch (`trending_topk_ingest`)
ZERO_ROW_BODIES = {
    "tumbling_counts": (batch_events.tumbling_counts, "complete"),
    "sliding_counts": (batch_events.sliding_counts, "complete"),
    "session_counts": (batch_events.session_counts, "complete"),
    **{
        f"click_purchase_join_{how}": (
            lambda ev, how=how: batch_events.click_purchase_join(ev, how),
            "append",
        )
        for how in ("inner", "left_outer", "full_outer")
    },
    "hourly_partials": (batch_events.hourly_partials, "complete"),
    "top_k_per_window": (
        lambda ev: batch_events.top_k_per_window(
            batch_events.tumbling_counts(ev), jobs.TRENDING_K
        ),
        None,
    ),
}


@pytest.mark.parametrize("name", sorted(ZERO_ROW_BODIES))
def test_shared_body_on_zero_rows(spark, tmp_path, name):
    """Every body shared by a batch entry and a stream gives zero rows,
    and raises nothing, on a zero-row static frame and on a stream
    whose only file holds zero rows."""
    import glob as g

    body, mode = ZERO_ROW_BODIES[name]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    empty = spark.createDataFrame([], schema)
    assert body(empty).count() == 0

    src = str(tmp_path / "src")
    empty.coalesce(1).write.parquet(src)
    assert g.glob(src + "/part-*.parquet")
    stream = spark.readStream.schema(schema).parquet(src)
    if mode is None:
        out = str(tmp_path / "out")
        jobs.trending_topk_ingest(stream, out)
        landed = g.glob(out + "/batch=*")
        assert not landed or spark.read.parquet(*landed).count() == 0
        return
    result = jobs.run_available_now(
        body(jobs.watermarked(stream)), f"t_zero_{name}", output_mode=mode
    )
    assert result.count() == 0


def test_streaming_jobs_drain_only_through_one_helper():
    """`.start()` and `.awaitTermination(` appear in `streaming/jobs.py`
    only inside `_drain`: every job drains through the one helper."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(jobs))
    drain = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_drain"
    )
    inside = {id(n) for n in ast.walk(drain)}
    sites = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("start", "awaitTermination")
    ]
    assert len(sites) == 2
    assert all(id(n) in inside for n in sites)
