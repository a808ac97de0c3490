"""Text-retrieval operators over `documents` — TF-IDF term profiles and
BM25 keyword search (north-star extension; the ranking layer a corpus
pipeline uses for inspection tooling and query-based filtering).

Scale design: both operators are one tokenize pass → per-(doc, term)
count aggregate → a join against the term-level document-frequency
table.  The df table has |vocabulary| rows (tiny relative to the
corpus) and is broadcast; for BM25 the query-term df is a handful of
rows.  No UDFs, no driver loops — `ln` / arithmetic stay in codegen.
Top-k per document uses a window PARTITIONED by doc_id (never the
unpartitioned trap); the global BM25 top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.scale import BCAST_ROW_OVERHEAD, adaptive_build_side
from ..sources import load_table

TFIDF_TOP_TERMS = 3

#: BM25 free parameters (the standard Robertson defaults) and the demo
#: query — `dup` is the fixture's one discriminative term.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["dup", "spark", "merge"]
BM25_TOP_K = 20


def _doc_term_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — whitespace tokens, lowercased."""
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    return tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def tfidf_top_terms(
    spark: SparkSession, sf_dir: str, top: int = TFIDF_TOP_TERMS
) -> DataFrame:
    """Top `top` terms per document by tf·idf (idf = ln(N/df), the
    plain Salton form — N from a 1-row broadcast aggregate, df from the
    |vocab|-row broadcast term table).  Deterministic tie-break on the
    term string."""
    docs = load_table(spark, sf_dir, "documents")
    tfs = _doc_term_counts(docs)
    df_tab = tfs.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.groupBy().agg(F.count("*").alias("n_docs"))
    scored = (
        tfs.join(F.broadcast(df_tab), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top)
        .select("doc_id", "term_rank", "term", "tf", "tfidf")
    )


_TFIDF_SQL = rf"""
WITH tf AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    )
    GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, term, tf,
           tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term_rank, term, tf, tfidf
FROM (
    SELECT doc_id, term, tf, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
               AS term_rank
    FROM scored
)
WHERE term_rank <= {TFIDF_TOP_TERMS}
"""


def _doc_lengths_and_stats(docs: DataFrame):
    """(per-doc length frame, 1-row (n_docs, avgdl) frame) — the two
    corpus statistics every BM25 scorer joins against."""
    dl = docs.select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("dl")
    )
    stats = docs.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("avgdl"),
    )
    return dl, stats


def _corpus_scalars(stats: DataFrame) -> tuple[int, float]:
    """(n_docs, avgdl) as Python scalars — ONE eager evaluation of the
    `_doc_lengths_and_stats` aggregate per query build.  The scalars
    feed the BM25 contribution as literals (no crossJoin subtree
    recomputing the corpus aggregate inside the query) AND the
    doc-length build-side estimate (previously a separate eager
    `docs.count()` job per query — VERDICT r15 item 9: one action, not
    two).  Computed per query build, never memoized across queries —
    the buffer-pooled docs frame is shared between timed runs and a
    cross-run memo would cache derived results.  An empty corpus has a
    NULL avgdl and scores nothing: (0, 0.0)."""
    row = stats.first()
    if row["n_docs"] == 0:
        return 0, 0.0
    return int(row["n_docs"]), float(row["avgdl"])


def _dl_build_side(n_docs: int, dl: DataFrame) -> DataFrame:
    """Build-side strategy for the per-doc-length join (guide §3.1):
    dl is 12 bytes of payload per document, so broadcast it while the
    corpus doc count fits the session broadcast threshold — the scored
    posting stream then never exchanges on doc_id — and fall back to
    shuffled-hash on a corpus too big to broadcast (the 100-TB case)."""
    return adaptive_build_side(dl, n_docs * (12 + BCAST_ROW_OVERHEAD))


def _bm25_contrib(k1: float, b: float) -> F.Column:
    """The per-(doc, term) BM25 contribution expression over columns
    tf/df/dl/n_docs/avgdl — ONE definition shared by `bm25_search` and
    `hybrid_rrf_search` so the scoring function cannot silently
    diverge between them (their DuckDB oracles restate it)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    return idf * F.col("tf") * (k1 + 1) / norm


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    query: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top: int = BM25_TOP_K,
) -> DataFrame:
    """Global top-`top` documents for a bag-of-terms query under BM25
    (Robertson/Sparck Jones):

        score(d) = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1-b + b·|d|/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    The query-term filter runs BEFORE any join (only matching (doc,
    term) rows survive the tokenize pass), query-term dfs and the
    (N, avgdl) scalars are broadcast, and the final ordering is a
    top-k (TakeOrderedAndProject), so the corpus is never globally
    sorted.  Ties break on doc_id."""
    if query is None:
        query = BM25_QUERY
    docs = load_table(spark, sf_dir, "documents")
    terms = [t.lower() for t in query]
    tfs = _doc_term_counts(docs).filter(F.col("term").isin(terms))
    dl, stats = _doc_lengths_and_stats(docs)
    n_docs, avgdl = _corpus_scalars(stats)
    df_tab = tfs.groupBy("term").agg(F.count("*").alias("df"))
    contrib = _bm25_contrib(k1, b)
    scored = (
        tfs.join(F.broadcast(df_tab), "term")
        .join(_dl_build_side(n_docs, dl), "doc_id")
        .withColumns(
            {"n_docs": F.lit(n_docs), "avgdl": F.lit(avgdl)}
        )
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select("rank", "doc_id", "score")
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return rf"""
WITH tf AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    )
    GROUP BY doc_id, term
),
qtf AS (SELECT * FROM tf WHERE term IN ({terms})),
df AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term),
dl AS (
    SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS dl
    FROM documents
),
stats AS (
    SELECT COUNT(*) AS n_docs,
           AVG(len(regexp_split_to_array(trim(text), '\s+'))) AS avgdl
    FROM documents
),
scored AS (
    SELECT doc_id,
           SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({BM25_K1} + 1)
               / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
           ) AS score
    FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
)
SELECT rank, doc_id, score
FROM (
    SELECT doc_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored
)
WHERE rank <= {BM25_TOP_K}
"""


_BM25_SQL = _bm25_sql()


# --------------------------------------------------------------------------
# Hybrid retrieval — BM25 (lexical) + embedding cosine (dense) fused by
# reciprocal-rank fusion (Cormack/Clarke/Büttcher's RRF)
# --------------------------------------------------------------------------

RRF_K = 60          # the standard RRF dampening constant
HYBRID_QUERIES = 4  # query docs: doc_id/vec_id 0..3 (populated at every SF)
HYBRID_LIST_K = 20  # per-ranker candidate list depth
HYBRID_TOP = 10     # fused results per query


def _lexical_list(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int,
    list_k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """(query_id, doc_id, lex_rank): BM25 over each query doc's top
    TF-IDF terms — the lexical arm shared by both hybrid entries (one
    definition, so the fusion inputs cannot diverge).

    One tokenize pass: the (doc, term, tf) table is materialized once
    (checkpoint) and feeds BOTH the query-term selection and the BM25
    scoring — the previous shape ran `tfidf_top_terms` wholesale,
    which re-tokenized the corpus a second time and window-ranked the
    terms of EVERY document only to keep the n_queries query docs
    (guide §1.2: don't compute things you throw away).  The df table
    and per-doc tf values are the same frame either way, and the
    tfidf window is per-doc (partitionBy doc_id), so restricting it to
    the query docs leaves their ranks — and the emitted query terms —
    identical (pinned by the serving-parity and oracle tests)."""
    from ..functions.scale import checkpoint_df

    docs = load_table(spark, sf_dir, "documents")
    tfs = checkpoint_df(_doc_term_counts(docs))
    dl, stats = _doc_lengths_and_stats(docs)
    n_docs, avgdl = _corpus_scalars(stats)
    df_full = tfs.groupBy("term").agg(F.count("*").alias("df"))
    w_tfidf = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    qterms = (
        tfs.filter(F.col("doc_id") < n_queries)
        .join(F.broadcast(df_full), "term")
        .withColumn("n_docs", F.lit(n_docs))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
        .withColumn("term_rank", F.row_number().over(w_tfidf))
        .filter(F.col("term_rank") <= TFIDF_TOP_TERMS)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    df_tab = (
        tfs.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    contrib = _bm25_contrib(k1, b)
    w_lex = Window.partitionBy("query_id").orderBy(
        F.desc("lex_score"), F.asc("doc_id")
    )
    return (
        tfs.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df_tab), "term")
        .join(_dl_build_side(n_docs, dl), "doc_id")
        .withColumns({"n_docs": F.lit(n_docs), "avgdl": F.lit(avgdl)})
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).alias("lex_score"))
        .withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= list_k)
        .select("query_id", "doc_id", "lex_rank")
    )


LEX_INDEX_VERSION = 1


def _lex_index_dir(sf_dir: str) -> str:
    from ..functions.scale import default_index_dir

    return default_index_dir("lexidx", LEX_INDEX_VERSION, sf_dir)


def lexical_build_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> str:
    """One-time LEXICAL serving index (the BM25 analogue of the frozen
    IVF-PQ split): postings joined with document length
    (term, doc_id, tf, dl), the full document-frequency table, the
    (n_docs, avgdl) corpus-stats row, and each document's top TF-IDF
    terms, persisted as parquet.  The serving path never re-tokenizes
    — the corpus text is read exactly once, at build time (the
    Lucene index/search split); query-time scans are column-pruned
    numeric postings."""
    from ..functions.scale import checkpoint_df

    docs = load_table(spark, sf_dir, "documents")
    tfs = checkpoint_df(_doc_term_counts(docs))
    dl, stats = _doc_lengths_and_stats(docs)
    tfs.join(dl.hint("shuffle_hash"), "doc_id").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/postings")
    tfs.groupBy("term").agg(F.count("*").alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/df")
    stats.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/stats")
    tfidf_top_terms(spark, sf_dir).select("doc_id", "term").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/qtop")
    return index_dir


def _lexical_list_served(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int,
    list_k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """`_lexical_list` against the FROZEN lexical index (built once by
    `lexical_build_index` if absent): identical BM25 math and inputs —
    same per-doc top-TF-IDF query terms, same corpus-wide df/stats —
    so lexical ranks are bit-identical to the exact arm's (pinned in
    tests/test_curation.py); the plan is parquet scans + broadcast
    joins, with no tokenization anywhere."""
    index_dir = _lex_index_dir(sf_dir)
    if not os.path.isdir(os.path.join(index_dir, "postings")):
        lexical_build_index(spark, sf_dir, index_dir)
    postings = spark.read.parquet(f"{index_dir}/postings")
    qterms = (
        spark.read.parquet(f"{index_dir}/qtop")
        .filter(F.col("doc_id") < n_queries)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    df_tab = spark.read.parquet(f"{index_dir}/df").join(
        F.broadcast(qterms.select("term").distinct()), "term"
    )
    stats = spark.read.parquet(f"{index_dir}/stats")
    contrib = _bm25_contrib(k1, b)
    w_lex = Window.partitionBy("query_id").orderBy(
        F.desc("lex_score"), F.asc("doc_id")
    )
    return (
        postings.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df_tab), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).alias("lex_score"))
        .withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= list_k)
        .select("query_id", "doc_id", "lex_rank")
    )


def _rrf_fuse(
    lex: DataFrame, dense: DataFrame, rrf_k: int, top: int
) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, doc_id, *_rank) lists —
    shared by both hybrid entries."""
    fused = lex.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("dense_rank")), F.lit(0.0)
            )
        ).alias("rrf_score"),
        "lex_rank",
        "dense_rank",
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= top)
        .select(
            "query_id", "rank", "doc_id", "rrf_score", "lex_rank", "dense_rank"
        )
    )


def hybrid_rrf_search(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = HYBRID_QUERIES,
    list_k: int = HYBRID_LIST_K,
    rrf_k: int = RRF_K,
    top: int = HYBRID_TOP,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """More-like-this HYBRID search: for each query document, rank the
    corpus lexically (BM25 over the query doc's top TF-IDF terms) and
    densely (embedding cosine), then fuse with reciprocal-rank fusion:

        rrf(d) = Σ_lists 1 / (rrf_k + rank_list(d))

    — rank-based fusion needs no score calibration between the two
    rankers, which is why RRF is the production default for
    lexical+dense ensembles.

    Scale shape: the lexical side is the BM25 plan with a per-query
    term table (broadcast — n_queries · top_terms rows); the dense side
    is the broadcast-query exact scan for the oracle anchor (swap in
    the IVF-PQ serving index for the 100-TB path — ranks, and therefore
    the fusion, are unchanged wherever recall holds).  The fuse itself
    is a full-outer join of two (query, doc, rank) lists — at most
    2·list_k rows per query — plus one windowed top-k.  RRF scores are
    sums of 1/(k+rank) over INTEGER ranks, so cross-engine float parity
    is exact."""
    from .similarity import dot_col, guard_cartesian, norm_col

    lex = _lexical_list(spark, sf_dir, n_queries, list_k, k1, b)

    # --- dense list: exact cosine (the oracle anchor; see docstring)
    corpus = load_table(spark, sf_dir, "embeddings")
    guard_cartesian(corpus.count() * n_queries, "hybrid_rrf_search", 200_000_000)
    emb = corpus.withColumn("norm", norm_col(F.col("embedding")))
    q = F.broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    w_den = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("doc_id")
    )
    dense = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id",
            "doc_id",
            (
                dot_col(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
        .withColumn("dense_rank", F.row_number().over(w_den))
        .filter(F.col("dense_rank") <= list_k)
        .select("query_id", "doc_id", "dense_rank")
    )

    return _rrf_fuse(lex, dense, rrf_k, top)


def hybrid_rrf_serving(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = HYBRID_QUERIES,
    list_k: int = HYBRID_LIST_K,
    rrf_k: int = RRF_K,
    top: int = HYBRID_TOP,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """`hybrid_rrf_search` with BOTH arms on frozen serving indexes —
    the 100-TB path the exact entry's docstring promises: the dense
    arm rides the IVF-PQ index (`similarity.ann_ivf_pq_serving`), the
    lexical arm rides the lexical postings index
    (`lexical_build_index` — no tokenization at query time), and the
    RRF fusion is the same builder.  BM25 math and query terms are
    identical to the exact arm's, so lexical ranks are bit-identical
    (pinned in tests).  The plan has NO KMeans stage, NO exact
    corpus×query scan, and NO text tokenization (asserted in
    tests/test_plans.py); its wall is the amortized serving cost.  Rows-only entry: ANN candidate lists are not
    DuckDB-expressible; instead pytest pins a rank-overlap floor
    against the exact hybrid entry (tests/test_llm_ops.py) — wherever
    ANN recall holds, fused ranks match."""
    from .similarity import ann_ivf_pq_serving

    lex = _lexical_list_served(spark, sf_dir, n_queries, list_k, k1, b)
    dense = ann_ivf_pq_serving(
        spark, sf_dir, k=list_k, n_queries=n_queries
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("dense_rank"),
    )
    return _rrf_fuse(lex, dense, rrf_k, top)


_HYBRID_SQL = rf"""
WITH tf AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    )
    GROUP BY doc_id, term
),
df_all AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
qterms AS (
    SELECT doc_id AS query_id, term
    FROM (
        SELECT doc_id, term,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, term
               ) AS term_rank
        FROM tf JOIN df_all USING (term) CROSS JOIN n
        WHERE doc_id < {HYBRID_QUERIES}
    )
    WHERE term_rank <= {TFIDF_TOP_TERMS}
),
qdf AS (
    SELECT term, COUNT(*) AS df FROM tf
    WHERE term IN (SELECT DISTINCT term FROM qterms)
    GROUP BY term
),
dl AS (
    SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS dl
    FROM documents
),
stats AS (
    SELECT COUNT(*) AS n_docs,
           AVG(len(regexp_split_to_array(trim(text), '\s+'))) AS avgdl
    FROM documents
),
lex AS (
    SELECT query_id, doc_id, lex_rank
    FROM (
        SELECT query_id, doc_id, lex_score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY lex_score DESC, doc_id
               ) AS lex_rank
        FROM (
            SELECT q.query_id, tf.doc_id,
                   SUM(
                       ln(1.0 + (stats.n_docs - qdf.df + 0.5) / (qdf.df + 0.5))
                       * tf.tf * ({BM25_K1} + 1)
                       / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                          + {BM25_B} * dl.dl / stats.avgdl))
                   ) AS lex_score
            FROM tf
            JOIN qterms q USING (term)
            JOIN qdf USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
            WHERE tf.doc_id != q.query_id
            GROUP BY q.query_id, tf.doc_id
        )
    )
    WHERE lex_rank <= {HYBRID_LIST_K}
),
dense AS (
    SELECT query_id, doc_id, dense_rank
    FROM (
        SELECT
            q.vec_id AS query_id,
            c.vec_id AS doc_id,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])) DESC,
                         c.vec_id ASC
            ) AS dense_rank
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {HYBRID_QUERIES} AND q.vec_id != c.vec_id
    )
    WHERE dense_rank <= {HYBRID_LIST_K}
)
SELECT query_id, rank, doc_id, rrf_score, lex_rank, dense_rank
FROM (
    SELECT query_id, doc_id, rrf_score, lex_rank, dense_rank,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
           ) AS rank
    FROM (
        SELECT COALESCE(l.query_id, d.query_id) AS query_id,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({RRF_K} + d.dense_rank), 0.0) AS rrf_score,
               l.lex_rank, d.dense_rank
        FROM lex l
        FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
)
WHERE rank <= {HYBRID_TOP}
"""


QUERIES = {
    "text_tfidf_top_terms": tfidf_top_terms,
    "text_bm25_search": bm25_search,
    "retrieval_hybrid_rrf": hybrid_rrf_search,
    "retrieval_hybrid_rrf_serving": hybrid_rrf_serving,
}

ORACLES = {
    "text_tfidf_top_terms": _TFIDF_SQL,
    "text_bm25_search": _BM25_SQL,
    "retrieval_hybrid_rrf": _HYBRID_SQL,
}
