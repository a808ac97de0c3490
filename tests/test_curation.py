"""Invariant tests for the corpus-curation and retrieval operators
(operators/curation.py, operators/retrieval.py).  Value-parity against
DuckDB is covered by tools/check_oracle.py / the driver gate; these
tests pin the semantic guarantees the SQL comparison can't express
(determinism, partition laws, ranking laws, scrub idempotence).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
    curation,
    retrieval,
)
from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    load_table,
)


# --------------------------------------------------------------------------
# PII / pattern redaction
# --------------------------------------------------------------------------


def test_pii_counts_consistent_and_scrub_complete(spark, sf_dir):
    out = curation.pii_redaction(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs  # 1:1, no doc dropped
    # total = sum of per-rule counts
    parts = sum(F.col(f"n_{name}") for name, _, _ in curation.REDACTION_RULES)
    assert out.filter(parts != F.col("n_redactions")).count() == 0
    # the scrub removed every match: re-scanning clean_text finds none
    for name, pattern, _ in curation.REDACTION_RULES:
        remaining = out.filter(
            F.regexp_count(F.col("clean_text"), F.lit(pattern)) > 0
        ).count()
        assert remaining == 0, f"rule {name} left matches in clean_text"


def test_pii_redaction_hits_fixture_terms(spark, sf_dir):
    """The denylist rule must actually fire on the fixture (guards
    against a silently dead regex)."""
    out = curation.pii_redaction(spark, sf_dir)
    assert out.agg(F.sum("n_term")).first()[0] > 0
    assert (
        out.filter(F.col("clean_text").contains("<TERM>")).count()
        == out.filter(F.col("n_term") > 0).count()
    )


def test_pii_redaction_idempotent(spark, sf_dir):
    """Scrubbing already-scrubbed text changes nothing (replacement
    tokens match no rule)."""
    out = curation.pii_redaction(spark, sf_dir).select("doc_id", "clean_text")
    twice = out.select("doc_id", F.col("clean_text").alias("t"))
    for _, pattern, repl in curation.REDACTION_RULES:
        twice = twice.withColumn("t", F.regexp_replace("t", pattern, repl))
    joined = out.join(twice, "doc_id")
    assert joined.filter(F.col("clean_text") != F.col("t")).count() == 0


# --------------------------------------------------------------------------
# Context-window chunking
# --------------------------------------------------------------------------


def test_chunk_layout_laws(spark, sf_dir):
    W, S = curation.CHUNK_TOKENS, curation.CHUNK_STRIDE
    chunks = curation.chunk_windows(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.min("start_tok").alias("first_start"),
        F.max(F.col("start_tok") + F.col("chunk_tokens") - 1).alias("last_covered"),
        F.max("chunk_tokens").alias("max_len"),
    )
    j = per_doc.join(docs, "doc_id")
    assert j.count() == docs.count()  # every doc chunked
    assert j.filter(F.col("first_start") != 1).count() == 0
    assert j.filter(F.col("last_covered") != F.col("n_tok")).count() == 0  # full coverage
    assert j.filter(F.col("max_len") > W).count() == 0
    # consecutive chunks advance by exactly the stride
    strides = (
        chunks.groupBy("doc_id")
        .agg(F.collect_list(F.struct("chunk_idx", "start_tok")).alias("cs"))
        .select(
            F.explode(
                F.expr(
                    "filter(transform(array_sort(cs), (c, i) -> c.start_tok - i * "
                    f"{S}), x -> x != 1)"
                )
            )
        )
    )
    assert strides.count() == 0
    # chunk_text token count equals chunk_tokens
    bad_text = chunks.filter(
        F.size(F.split(F.col("chunk_text"), r"\s+")) != F.col("chunk_tokens")
    )
    assert bad_text.count() == 0


def test_chunk_single_chunk_short_docs(spark, sf_dir):
    W = curation.CHUNK_TOKENS
    chunks = curation.chunk_windows(spark, sf_dir)
    short = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n"))
        .filter(F.col("n") <= W)
    )
    per = chunks.groupBy("doc_id").count().join(short, "doc_id")
    assert per.filter(F.col("count") != 1).count() == 0


# --------------------------------------------------------------------------
# Dataset split
# --------------------------------------------------------------------------


def test_split_total_disjoint_deterministic(spark, sf_correct):
    out = curation.train_split(spark, sf_correct)
    n_docs = load_table(spark, sf_correct, "documents").count()
    assert out.count() == n_docs
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # hash split tracks the 96/2/2 target within fixture-size noise
    assert counts["train"] / n_docs == pytest.approx(0.96, abs=0.04)
    # deterministic: a second build is identical
    again = curation.train_split(spark, sf_correct)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


def test_split_stable_under_corpus_growth(spark):
    """A doc's split never changes when the corpus grows: sf0.001 docs
    are a subset of sf0.01 docs and must get identical assignments."""
    small = curation.train_split(spark, "/root/testdata/sf0.001").select(
        "doc_id", F.col("split").alias("s_small")
    )
    big = curation.train_split(spark, "/root/testdata/sf0.01").select(
        "doc_id", F.col("split").alias("s_big")
    )
    j = small.join(big, "doc_id")
    assert j.count() == small.count()
    assert j.filter(F.col("s_small") != F.col("s_big")).count() == 0


# --------------------------------------------------------------------------
# Mixture weights
# --------------------------------------------------------------------------


def test_mixture_weights_normalized_and_tempered(spark, sf_correct):
    out = curation.mixture_weights(spark, sf_correct).collect()
    total_w = sum(r["mix_weight"] for r in out)
    assert total_w == pytest.approx(1.0, abs=1e-9)
    # α < 1 compresses the range: the weight ratio between the largest
    # and smallest stratum is strictly smaller than their char ratio
    big = max(out, key=lambda r: r["chars"])
    small = min(out, key=lambda r: r["chars"])
    assert big["chars"] > small["chars"]
    assert (big["mix_weight"] / small["mix_weight"]) < (big["chars"] / small["chars"])
    # epochs ∝ weight/chars: small strata repeat more per unit size
    for r in out:
        assert r["epochs"] == pytest.approx(
            r["mix_weight"] * curation.TOKEN_BUDGET / r["chars"], rel=1e-12
        )


# --------------------------------------------------------------------------
# Heavy hitters
# --------------------------------------------------------------------------


def test_heavy_hitters_ranking_laws(spark, sf_correct):
    out = curation.heavy_hitters(spark, sf_correct).orderBy("rank").collect()
    assert len(out) == curation.HH_TOP_K
    assert [r["rank"] for r in out] == list(range(1, curation.HH_TOP_K + 1))
    events_desc = [r["events"] for r in out]
    assert events_desc == sorted(events_desc, reverse=True)
    cum = 0.0
    for r in out:
        assert r["share"] > 0
        cum += r["share"]
        assert r["cum_share"] == pytest.approx(cum, abs=1e-9)
    assert out[-1]["cum_share"] <= 1.0 + 1e-9


# --------------------------------------------------------------------------
# Equi-depth histogram
# --------------------------------------------------------------------------


def test_equidepth_buckets_partition_and_balance(spark, sf_correct):
    k = curation.EQUIDEPTH_BUCKETS
    out = curation.equidepth_histogram(spark, sf_correct).orderBy("bucket").collect()
    orders = load_table(spark, sf_correct, "orders")
    n = orders.count()
    assert [r["bucket"] for r in out] == list(range(1, k + 1))
    assert sum(r["n_orders"] for r in out) == n  # partition: every row in exactly one bucket
    # buckets are ordered, non-overlapping ranges
    for a, b in zip(out, out[1:]):
        assert a["max_price"] <= b["min_price"]
    # equi-depth: each bucket within 25% of n/k (continuous values ⇒ few ties)
    for r in out:
        assert r["n_orders"] == pytest.approx(n / k, rel=0.25)


# --------------------------------------------------------------------------
# TF-IDF / BM25
# --------------------------------------------------------------------------


def test_tfidf_rank_laws_and_rare_term_wins(spark, sf_correct):
    out = retrieval.tfidf_top_terms(spark, sf_correct)
    assert out.filter(F.col("term_rank") > retrieval.TFIDF_TOP_TERMS).count() == 0
    # within a doc: rank 1 has the max tfidf
    per = out.groupBy("doc_id").agg(
        F.max("tfidf").alias("mx"),
        F.max(F.when(F.col("term_rank") == 1, F.col("tfidf"))).alias("r1"),
    )
    assert per.filter(F.col("mx") != F.col("r1")).count() == 0
    # the rare fixture term ('dup', df≈5%) must be the top term of every
    # doc containing it — idf dwarfs the common-term scores
    docs_with_dup = (
        load_table(spark, sf_correct, "documents")
        .filter(F.col("text").rlike(r"\bdup\b"))
        .count()
    )
    assert docs_with_dup > 0
    top_dup = out.filter((F.col("term") == "dup") & (F.col("term_rank") == 1)).count()
    assert top_dup == docs_with_dup


def test_bm25_ranking_laws(spark, sf_correct):
    out = retrieval.bm25_search(spark, sf_correct).orderBy("rank").collect()
    assert len(out) == retrieval.BM25_TOP_K
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(r["score"] > 0 for r in out)
    # every top hit contains ≥1 query term; docs with the rare term
    # dominate the head of the ranking
    docs = load_table(spark, sf_correct, "documents")
    dup_ids = {r["doc_id"] for r in docs.filter(F.col("text").rlike(r"\bdup\b")).collect()}
    head = [r["doc_id"] for r in out[:5]]
    assert all(d in dup_ids for d in head)


def test_bm25_custom_query_and_empty_result(spark, sf_dir):
    none = retrieval.bm25_search(spark, sf_dir, query=["zzzznotaterm"])
    assert none.count() == 0
    some = retrieval.bm25_search(spark, sf_dir, query=["spark"], top=5)
    assert some.count() == 5


def test_bm25_empty_corpus_matches_oracle(spark, sf_dir, tmp_path):
    """A documents table with no rows has a NULL avgdl; BM25 must
    return no hits (like its DuckDB twin), not crash on the scalars."""
    import duckdb

    import __spark_entry__ as entry

    load_table(spark, sf_dir, "documents").limit(0).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = entry.queries()["text_bm25_search"](spark, str(tmp_path))
    assert out.collect() == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    assert con.execute(entry.oracle_sql()["text_bm25_search"]).fetchall() == []
    con.close()


# --------------------------------------------------------------------------
# Per-source document cap
# --------------------------------------------------------------------------


def test_cap_per_source_laws(spark, sf_correct):
    out = curation.cap_per_source(spark, sf_correct)
    per = (
        out.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.min("cap_rank").alias("mn"),
            F.max("cap_rank").alias("mx"),
            F.count_distinct("cap_rank").alias("nd"),
        )
        .collect()
    )
    for r in per:
        # ranks dense 1..n, never above the cap
        assert r["n"] <= curation.CAP_PER_SOURCE
        assert r["mn"] == 1 and r["mx"] == r["n"] and r["nd"] == r["n"]
    # fixture has 25 docs per source, so the cap binds everywhere
    assert all(r["n"] == curation.CAP_PER_SOURCE for r in per)
    # deterministic: a rebuild picks the same survivors
    again = curation.cap_per_source(spark, sf_correct)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


def test_cap_survivors_stable_under_new_sources(spark, sf_correct):
    """Adding MORE sources must not change an existing source's
    survivors (the hash ranks only compare within a partition)."""
    docs = load_table(spark, sf_correct, "documents")
    one_source = docs.orderBy("source").first()["source"]
    full = curation.cap_per_source(spark, sf_correct).filter(
        F.col("source") == one_source
    )
    # rebuild the cap over a corpus restricted to that single source
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators.curation import (
        CAP_PER_SOURCE,
        CAP_SALT,
    )
    from pyspark.sql import Window

    rank_key = F.conv(
        F.substring(F.md5(F.concat(F.lit(CAP_SALT), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("source").orderBy(rank_key, "doc_id")
    solo = (
        docs.filter(F.col("source") == one_source)
        .withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= CAP_PER_SOURCE)
        .select("source", "cap_rank", "doc_id", "lang", "n_chars")
    )
    assert full.exceptAll(solo).count() == 0 and solo.exceptAll(full).count() == 0


def test_cap_plan_pushes_group_limit_before_exchange(spark, sf_correct):
    """The rank<=k filter must compile to a WindowGroupLimit (per-task
    k-row heap) so a hot domain never materializes a full per-source
    sort; behavior gate is the laws test above, this pins the scale
    property."""
    plan = (
        curation.cap_per_source(spark, sf_correct)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


# --------------------------------------------------------------------------
# One-pass column profiler
# --------------------------------------------------------------------------


def test_column_profile_laws_and_single_scan(spark, sf_correct):
    out = curation.column_profile(spark, sf_correct)
    rows = {r["col_name"]: r for r in out.collect()}
    assert set(rows) == {n for n, _ in curation.PROFILE_COLS}
    n = load_table(spark, sf_correct, "orders").count()
    for r in rows.values():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["n_distinct"] <= n - r["n_nulls"]
    # kind routing: numeric slots filled for num/date, string slots for str
    kinds = dict(curation.PROFILE_COLS)
    for name, r in rows.items():
        if kinds[name] == "str":
            assert r["min_num"] is None and r["min_str"] <= r["max_str"]
        else:
            assert r["min_str"] is None and r["min_num"] <= r["max_num"]
    # the profile is ONE aggregation over ONE scan — never per-column rescans
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints final + initial plans; count scans in the final one only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1


def test_curation_ledger_partition_and_precedence(spark, sf_correct):
    """Every doc exactly once; reasons from the fixed stage set; kept
    set has ≤1 doc per fingerprint and per near-dup cluster and ≤cap_k
    per source; duplicate keepers were never quality-dropped; split
    only on kept rows."""
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.operators import (
        curation as cur,
        dedup,
    )
    from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
        load_table,
    )

    ledger = cur.curate_corpus(spark, sf_correct, cap_k=10).collect()
    total = load_table(spark, sf_correct, "documents").count()
    assert len(ledger) == total
    assert len({r.doc_id for r in ledger}) == total

    by_id = {r.doc_id: r for r in ledger}
    valid = {"quality", "exact_duplicate", "near_duplicate", "source_cap"}
    for r in ledger:
        if r.status == "kept":
            assert r.reason is None and r.split in {"train", "val", "test"}
        else:
            assert r.reason in valid and r.split is None
        if r.reason in {"exact_duplicate", "near_duplicate"}:
            keeper = by_id[r.keeper_doc_id]
            assert keeper.reason != "quality"  # keepers survived stage 1

    kept = [r for r in ledger if r.status == "kept"]
    # ≤ cap_k per source
    from collections import Counter

    per_source = Counter(r.source for r in kept)
    assert max(per_source.values()) <= 10
    # ≤1 kept member per near-dup cluster
    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(spark, sf_correct).collect()
    }
    kept_clusters = Counter(clusters[r.doc_id] for r in kept)
    assert max(kept_clusters.values()) == 1


# --------------------------------------------------------------------------
# Boilerplate-segment scrubbing
# --------------------------------------------------------------------------


def test_boilerplate_scrub_partition_and_reassembly(spark, sf_correct):
    out = curation.boilerplate_scrub(spark, sf_correct)
    docs = load_table(spark, sf_correct, "documents")
    rows = out.collect()
    assert len(rows) == docs.count()  # 1:1 ledger, full scrubs included
    for r in rows:
        # partition law: every segment is either kept or dropped
        assert r.segs_kept + r.segs_dropped == r.segs_total
        # reassembled text token count == kept segments' token footprint
        n_clean = len(r.clean_text.split()) if r.clean_text else 0
        assert n_clean <= r.segs_kept * curation.SEG_TOKENS
        assert n_clean >= r.segs_kept  # every kept segment has ≥1 token
    # non-degenerate on the fixture: the heavy-hitter set scrubs something
    assert sum(r.segs_dropped for r in rows) > 0
    # ...but never everything
    assert sum(r.segs_kept for r in rows) > 0


def test_boilerplate_set_is_rank_deterministic(spark, sf_correct):
    """Two independent runs elect the identical boilerplate set and
    produce byte-identical clean text (total-order tie-break)."""
    a = {r.doc_id: r.clean_text for r in curation.boilerplate_scrub(spark, sf_correct).collect()}
    b = {r.doc_id: r.clean_text for r in curation.boilerplate_scrub(spark, sf_correct).collect()}
    assert a == b


def test_boilerplate_scrubbed_segments_absent(spark, sf_correct):
    """No kept document retains any boilerplate segment at an aligned
    position: re-segmenting each doc and anti-joining against the
    recomputed heavy-hitter set finds zero surviving occurrences."""
    docs = load_table(spark, sf_correct, "documents")
    seg_tokens = curation.SEG_TOKENS
    arr = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("a")
    ).withColumn("n_segs", F.ceil(F.size("a") / F.lit(seg_tokens)).cast("int"))
    segs = arr.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, n_segs - 1),"
                f" i -> concat_ws(' ', slice(a, i * {seg_tokens} + 1, {seg_tokens})))"
            )
        ).alias("seg_text"),
    )
    boiler = {
        r.seg_text
        for r in segs.groupBy("seg_text")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), "seg_text")
        .limit(curation.BOILER_TOP_K)
        .collect()
    }
    # direct check: per doc, the number of original segments hitting the
    # recomputed heavy-hitter set equals the operator's segs_dropped
    kept_pairs = segs.join(
        spark.createDataFrame([(s,) for s in sorted(boiler)], "seg_text string"),
        "seg_text",
        "left_semi",
    )
    scrub_counts = {
        r.doc_id: r.segs_dropped
        for r in curation.boilerplate_scrub(spark, sf_correct).collect()
    }
    hit_counts = {
        r.doc_id: r.n
        for r in kept_pairs.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    for doc_id, dropped in scrub_counts.items():
        assert hit_counts.get(doc_id, 0) == dropped


# --------------------------------------------------------------------------
# Leakage-proof split
# --------------------------------------------------------------------------


def test_leakproof_split_groups_never_straddle(spark):
    # sf0.1 is the one fixture scale with multi-doc fingerprint groups
    # (sf0.001/sf0.01 are all-singleton, which would make this vacuous);
    # the operator is a narrow map, so the bigger input stays cheap.
    out = curation.split_leakproof(spark, "/root/testdata/sf0.1")
    # every fingerprint group maps to exactly one split
    per_group = out.groupBy("fingerprint").agg(
        F.countDistinct("split").alias("n_splits"), F.count("*").alias("n_docs")
    )
    assert per_group.filter(F.col("n_splits") > 1).count() == 0
    # non-vacuous: this corpus HAS multi-doc fingerprint groups
    assert per_group.filter(F.col("n_docs") > 1).count() > 0


def test_leakproof_split_covers_and_balances(spark, sf_correct):
    rows = curation.split_leakproof(spark, sf_correct).collect()
    n = len(rows)
    assert n == load_table(spark, sf_correct, "documents").count()
    from collections import Counter

    c = Counter(r.split for r in rows)
    assert set(c) <= {"train", "val", "test"}
    # hash split targets 96/2/2 over GROUPS; allow generous slack at sf0.01
    assert c["train"] / n > 0.85


# --------------------------------------------------------------------------
# Exact substring dedup (first occurrence wins)
# --------------------------------------------------------------------------


def test_substring_dedup_first_occurrence_law(spark, sf_correct):
    out = curation.substring_dedup(spark, sf_correct).collect()
    docs = load_table(spark, sf_correct, "documents")
    assert len(out) == docs.count()
    for r in out:
        assert r.segs_kept + r.segs_dropped == r.segs_total
    # every distinct segment survives exactly once corpus-wide: total
    # kept == number of distinct segments
    segs = curation.with_segments(docs)
    n_distinct = segs.select("seg_text").distinct().count()
    assert sum(r.segs_kept for r in out) == n_distinct
    # the smallest doc_id holding a segment is the one that keeps it:
    # doc 0's segments are all first occurrences, so doc 0 loses only
    # its own internal repeats
    first = next(r for r in out if r.doc_id == 0)
    own = [r.seg_text for r in segs.filter(F.col("doc_id") == 0).collect()]
    assert first.segs_kept == len(set(own))


def test_hybrid_rrf_serving_rank_overlap_and_shape(spark, sf_correct):
    """The serving hybrid (frozen IVF-PQ dense arm) must agree with the
    exact hybrid wherever ANN recall holds: identical lexical arm, and
    a pinned top-10 overlap floor per query after fusion."""
    exact = retrieval.hybrid_rrf_search(spark, sf_correct).collect()
    served = retrieval.hybrid_rrf_serving(spark, sf_correct).collect()
    assert len(served) == len(exact)
    by_q_exact: dict = {}
    by_q_served: dict = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["doc_id"])
    for r in served:
        by_q_served.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert set(by_q_exact) == set(by_q_served)
    overlaps = [
        len(by_q_exact[q] & by_q_served[q]) / len(by_q_exact[q])
        for q in by_q_exact
    ]
    # identical lexical arm + high-recall ANN arm: most of the fused
    # top-10 must survive the dense-arm swap
    assert sum(overlaps) / len(overlaps) >= 0.6, overlaps
    # lexical ranks are bit-identical between the two entries
    lex_exact = {
        (r["query_id"], r["doc_id"]): r["lex_rank"]
        for r in exact
        if r["lex_rank"] is not None
    }
    for r in served:
        key = (r["query_id"], r["doc_id"])
        if r["lex_rank"] is not None and key in lex_exact:
            assert r["lex_rank"] == lex_exact[key]
