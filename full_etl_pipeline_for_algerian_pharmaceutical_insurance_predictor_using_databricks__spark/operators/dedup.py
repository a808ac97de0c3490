"""Deduplication operators over `documents` / `embeddings` — exact,
token-set Jaccard, MinHash-LSH, SimHash, embedding-cosine near-dup
(north-star extension, SURVEY.md §7b).

Scale design:
- Exact dedup is a hash-groupBy on a fingerprint — one shuffle on the
  hash, arbitrary scale.
- EVERY quadratic stage runs on CONTRACTED documents: docs with
  identical token sets collapse to one representative first
  (`_contract`), the pair stage runs rep-level, and member pairs are
  expanded afterwards (`_expand_rep_pairs`).  Web corpora carry heavy
  exact-duplicate mass, and a duplicate group of m docs costs C(m,2)
  pairs in every downstream join — contraction removes that factor from
  the O(n²) stage and reintroduces it only in the output-sized
  expansion.  On the near-clique fixture this halves the LSH candidate
  volume and cuts rep-level jaccard output 33× (29k rep pairs → 965k
  doc pairs).
- Jaccard near-dup uses the inverted-index self-join formulation
  (token → posting list → pair counts). At 100 TB you bound posting
  lists by dropping ultra-high-df tokens (`max_df`) — the classic
  prefix-filter; the parameter is first-class here.
- MinHash-LSH banding turns all-pairs into per-band hash joins:
  candidates = pairs agreeing on ≥1 band, then exact-verify. Only
  built-in expressions (xxhash64, aggregate, transform) — no UDFs.
- SimHash packs token hashes into a 64-bit signature per doc; near-dup
  = small Hamming distance, found via band-exact match on signature
  quarters (each ≤k-bit-different pair must agree on ≥1 quarter when
  k ≤ 3).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.scale import (
    BCAST_ROW_OVERHEAD,
    adaptive_build_side,
    checkpoint_df,
)
from ..sources import load_table, local_rows_df

# --------------------------------------------------------------------------
# shared tokenization
# --------------------------------------------------------------------------


def _token_sets(docs: DataFrame, shingle_n: int | None = None) -> DataFrame:
    """doc_id → exploded distinct tokens (normalized).

    ``shingle_n=None`` tokenizes on whitespace (word sets); an integer
    emits character n-gram shingles of that width instead — the classic
    near-dup unit (robust to word-boundary edits), built with
    sequence+transform+substring so the whole expansion stays in
    expression codegen.

    The fixture parquet is a single row group, so without help every
    operator downstream of the scan (tokenize, hash, even the probe
    side of a broadcast self-join) runs in ONE task.  If the input has
    fewer partitions than the cluster has slots, spread the *document*
    rows (cheap — pre-explode) first; on a real multi-file 100 TB input
    partitions >> slots and this is a no-op, costing nothing.
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism)
    if shingle_n is None:
        tokens = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        return docs.select(
            "doc_id", F.explode(F.array_distinct(tokens)).alias("token")
        )
    # normalize ONCE per doc in its own projection: referencing
    # trim(lower(text)) inside the transform lambda would re-run the
    # O(L) rewrite at every shingle position (O(L²) per doc).
    # greatest(..., 1): sequence(1, 0) would run DESCENDING ([1, 0]);
    # docs shorter than n emit their whole text as the one shingle
    normed = docs.select(
        "doc_id", F.trim(F.lower(F.col("text"))).alias("t")
    )
    tokens = F.expr(
        f"transform(sequence(1, greatest(length(t) - {shingle_n} + 1, 1)),"
        f" i -> substring(t, i, {shingle_n}))"
    )
    return normed.select("doc_id", F.explode(F.array_distinct(tokens)).alias("token"))


def _doc_token_arrays(
    docs: DataFrame, shingle_n: int | None = None
) -> DataFrame:
    """(doc_id, tokens, set_size) per document, computed PER ROW: the
    distinct token (or shingle) array of `_token_sets`, interned to
    sorted xxhash64 longs — without ever exploding.  Same
    normalization, same hash family, same dedup semantics (post-hash
    `array_distinct` collapses 2⁻⁶⁴-scale collisions exactly like the
    exploded path's `collect_set`), so the output is row-identical to
    `_token_sets` + groupBy(doc_id) — minus one full corpus-token-
    stream exchange per query (guide §2.4: remove shuffles outright).
    `set_size` counts distinct PRE-hash tokens, matching the exploded
    formulation's `count(*)`.  NULL-text docs are dropped to match the
    exploded path exactly: `explode` emits no row for them, so the
    groupBy never saw such a doc_id — without this filter the per-row
    path would keep them as a phantom NULL-token group."""
    docs = docs.filter(F.col("text").isNotNull())
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism)
    if shingle_n is None:
        toks = F.array_distinct(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        )
        base = docs.select("doc_id", toks.alias("_toks"))
    else:
        # normalize ONCE per doc (see _token_sets: the lambda would
        # otherwise re-run the O(L) rewrite per shingle position)
        normed = docs.select(
            "doc_id", F.trim(F.lower(F.col("text"))).alias("t")
        )
        shingles = F.expr(
            f"transform(sequence(1, greatest(length(t) - {shingle_n} + 1, 1)),"
            f" i -> substring(t, i, {shingle_n}))"
        )
        base = normed.select(
            "doc_id", F.array_distinct(shingles).alias("_toks")
        )
    return base.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(F.transform("_toks", lambda t: F.xxhash64(t)))
        ).alias("tokens"),
        F.size("_toks").cast("bigint").alias("set_size"),
    )


def _contract_docs(
    docs: DataFrame, shingle_n: int | None = None
) -> DataFrame:
    """`_contract` over a documents frame, skipping the exploded token
    stream: the per-doc token-hash arrays come from the narrow per-row
    fold above, so contraction costs ONE shuffle (the identical-set
    groupBy) instead of two.  Output is identical to
    `_contract(_token_sets(docs, shingle_n))` (pinned in
    tests/test_adaptive_build.py); `_contract` stays for callers that
    genuinely hold a token STREAM (the streaming dedup registry,
    synthetic-stream property tests)."""
    sets_ = _doc_token_arrays(docs, shingle_n)
    groups = (
        sets_.groupBy("tokens", "set_size")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .select(
            F.element_at("members", 1).alias("rep"),
            "tokens",
            "set_size",
            "members",
            F.size("members").alias("n_members"),
        )
    )
    groups = checkpoint_df(groups)
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if groups.rdd.getNumPartitions() < parallelism:
        groups = groups.repartition(parallelism)
    return groups


def _contract(tok: DataFrame) -> DataFrame:
    """Collapse docs with IDENTICAL token sets into one representative.

    Returns a materialized groups table:
        rep        — smallest doc_id of the group (its representative)
        tokens     — sorted token-hash array<long> of the shared set
        set_size   — |token set|
        members    — sorted array of all doc_ids sharing the set
        n_members  — group size

    Tokens are interned to xxhash64 longs: grouping and
    `array_intersect` over fixed-width longs are several× cheaper than
    over strings, and |hashed set| = |token set| barring a 2⁻⁶⁴-scale
    collision, so Jaccard values are unchanged.

    localCheckpoint (not persist — CacheManager plan-matching, see
    minhash below) because every caller fans out into several branches
    (pair stage, verify arrays, expansion) that would each re-run the
    tokenize+double-groupBy otherwise.  The checkpoint freezes whatever
    partitioning AQE chose for the tiny groups shuffle (often ONE
    partition at fixture scale), so the rep-level frame is re-spread to
    the cluster's parallelism before the quadratic stage.
    """
    sets_ = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(F.xxhash64("token"))).alias("tokens"),
        F.count("*").alias("set_size"),
    )
    groups = (
        sets_.groupBy("tokens", "set_size")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .select(
            F.element_at("members", 1).alias("rep"),
            "tokens",
            "set_size",
            "members",
            F.size("members").alias("n_members"),
        )
    )
    groups = checkpoint_df(groups)
    parallelism = tok.sparkSession.sparkContext.defaultParallelism
    if groups.rdd.getNumPartitions() < parallelism:
        groups = groups.repartition(parallelism)
    return groups


def _groups_stats(groups: DataFrame) -> tuple[int, int, int]:
    """(n_reps, n_docs, n_tokens) for a contracted groups frame — the
    planning statistic behind the adaptive build-side choice below.
    One tiny aggregate over the already-materialized checkpoint
    (groups is always `checkpoint_df`'d by `_contract`), computed once
    per frame and memoized on the DataFrame object so the several
    joins of one pipeline share it."""
    st = getattr(groups, "_graft_groups_stats", None)
    if st is None:
        row = groups.agg(
            F.count("*").alias("r"),
            F.sum("n_members").alias("d"),
            F.sum("set_size").alias("t"),
        ).first()
        st = (int(row["r"] or 0), int(row["d"] or 0), int(row["t"] or 0))
        groups._graft_groups_stats = st
    return st


# Join-strategy choice for rep-level build sides (guide §3.1): shared
# engine-wide in functions/scale.py; estimates here come from exact
# counts over the materialized groups checkpoint.
_build_side = adaptive_build_side
_BCAST_ROW_OVERHEAD = BCAST_ROW_OVERHEAD


def _rep_tokens(groups: DataFrame) -> DataFrame:
    """rep-level exploded token list (doc_id = rep, token = hash<long>)
    — the input to every rep-level pair stage."""
    return groups.select(
        F.col("rep").alias("doc_id"), F.explode("tokens").alias("token")
    )


def _rep_arrays(groups: DataFrame) -> DataFrame:
    """rep-level (doc_id, tokens, set_size) for `_verify_pairs_exact`."""
    return groups.select(F.col("rep").alias("doc_id"), "tokens", "set_size")


def _rep_arrays_bytes(groups: DataFrame) -> int:
    """Estimated broadcast size of `_rep_arrays(groups)`: the token
    hash arrays (8 B/long) plus per-row key/size/overhead."""
    n_reps, _, n_tokens = _groups_stats(groups)
    return n_tokens * 8 + n_reps * (16 + _BCAST_ROW_OVERHEAD)


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    groups: DataFrame,
    threshold: float,
    value_col: str = "jaccard",
    intra_value: Column | None = None,
    include_intra: bool | None = None,
) -> DataFrame:
    """Expand rep-level qualifying pairs back to member doc pairs.

    Cross-group: every (a ∈ G1, b ∈ G2) inherits the rep pair's value
    (identical sets ⇒ identical overlap arithmetic).  Intra-group:
    members share the exact set, so the value is the identical-set
    constant (`intra_value` — jaccard 1.0 / hamming 0); pairs are
    generated narrow (per-row combination expression over the sorted
    members array — no shuffle, no join) and only when the constant
    passes the caller's threshold (`include_intra`, defaulting to the
    jaccard rule 1.0 ≥ threshold).  Output keeps the doc_a < doc_b
    convention via least/greatest (groups are disjoint, so cross pairs
    never tie).
    """
    # the membership table is 2 longs × n_docs — broadcast it when it
    # fits (the rep-pair frame, often millions of rows, then never
    # shuffles); shuffled-hash above the threshold (guide §3.1).
    # Measured at sf0.1: 2.8 s → 0.5 s per expansion.
    _, n_docs, _ = _groups_stats(groups)
    members_bytes = n_docs * (16 + _BCAST_ROW_OVERHEAD)
    ma = _build_side(
        groups.select(F.col("rep").alias("rep_a"), F.explode("members").alias("da")),
        members_bytes,
    )
    mb = _build_side(
        groups.select(F.col("rep").alias("rep_b"), F.explode("members").alias("db")),
        members_bytes,
    )
    cross = (
        rep_pairs.select(
            F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b"), value_col
        )
        .join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            value_col,
        )
    )
    if include_intra is None:
        include_intra = threshold <= 1.0
    if not include_intra:
        return cross
    if intra_value is None:
        intra_value = F.lit(1.0)
    # members is sorted, so slicing past each index yields doc_a < doc_b
    # by construction
    intra_pairs = F.flatten(
        F.expr(
            "transform(members, (x, i) ->"
            " transform(slice(members, i + 2, size(members)),"
            " y -> struct(x AS doc_a, y AS doc_b)))"
        )
    )
    intra = (
        groups.filter(F.col("n_members") > 1)
        .select(F.explode(intra_pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", intra_value.alias(value_col))
    )
    return cross.unionByName(intra)


def _verify_pairs_exact(
    pairs: DataFrame,
    tok_arrays: DataFrame,
    threshold: float,
    est_bytes: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard for CANDIDATE pairs only.

    Two hash joins on doc_id bring each side's token array onto the
    candidate row; the intersection is `array_intersect` (hash-set
    semijoin per row, O(|A|+|B|), JVM-side).  Work is linear in
    |candidates| — never the all-pairs join — which is the whole point
    of banding/prefix-filter candidate generation at 100 TB.
    """
    # Build-side strategy (guide §3.1): the candidate side has no
    # useful stats (it arrives from a checkpoint), so the planner
    # would default to sort-merge — two O(|candidates| log) sorts for
    # nothing.  When the caller can bound the rep-array side
    # (`est_bytes`) and it fits the broadcast threshold, broadcast it —
    # the candidate frame then never shuffles; otherwise a shuffled
    # hash join builds per-partition hash maps over the doc side
    # (O(docs/parts) rows each) and streams candidates through: the
    # right plan at any scale, and 4-5× faster than sort-merge here
    # (35.7s → 7.7s at sf0.1).
    a = _build_side(
        tok_arrays.select(
            F.col("doc_id").alias("doc_a"),
            F.col("tokens").alias("tokens_a"),
            F.col("set_size").alias("size_a"),
        ),
        est_bytes,
    )
    b = _build_side(
        tok_arrays.select(
            F.col("doc_id").alias("doc_b"),
            F.col("tokens").alias("tokens_b"),
            F.col("set_size").alias("size_b"),
        ),
        est_bytes,
    )
    shared = F.size(F.array_intersect("tokens_a", "tokens_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            shared.alias("shared"),
            (shared / (F.col("size_a") + F.col("size_b") - shared)).alias("jaccard"),
        )
        # `shared >= 1` keeps parity with the inverted-index formulation,
        # which can only emit pairs sharing ≥1 token
        .filter((F.col("jaccard") >= threshold) & (F.col("shared") >= 1))
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------------
# 1. Exact dedup (hash groupBy on canonical fingerprint)
# --------------------------------------------------------------------------


def exact_fingerprints(docs: DataFrame) -> DataFrame:
    """Group by normalized-text md5 fingerprint; keep the smallest
    doc_id.  One row per distinct content with its duplicate count — a
    body over any documents frame (the table here, one micro-batch in
    the streaming dedup registries)."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " "))
    return (
        docs.select("doc_id", F.md5(normalized).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("copies"),
        )
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`exact_fingerprints` over the documents table."""
    return exact_fingerprints(load_table(spark, sf_dir, "documents"))


_EXACT_SQL = """
SELECT
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
    MIN(doc_id) AS keeper_doc_id,
    COUNT(*) AS copies
FROM documents
GROUP BY 1
"""

# --------------------------------------------------------------------------
# 2. Token-set Jaccard near-dup (inverted-index self-join)
# --------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.9


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = None,
    shingle_n: int | None = None,
) -> DataFrame:
    """All doc pairs with token-set Jaccard ≥ threshold.

    inverted index join: |A∩B| from the token-equality self-join,
    |A∪B| = |A|+|B|-|A∩B|. Jaccard is an int/int division — exact
    across engines.

    ``max_df`` is the posting-list bound (classic prefix filter): tokens
    whose document frequency exceeds it are dropped from CANDIDATE
    GENERATION only — a single stopword otherwise makes the token-
    equality self-join quadratic in its df.  Candidates are then
    exact-verified against the FULL token sets, so any pair sharing at
    least one sub-cap token gets its true Jaccard.  The only pairs the
    cap can lose are those whose entire overlap is hot tokens — at
    threshold 0.9 such a pair would need ~all its tokens hotter than
    max_df, which is the pair you least want anyway.  (Identical-set
    pairs are immune: contraction finds them without candidate
    generation.)  ``None`` = exact (the oracle-checked default; at
    100 TB you always set it).

    Both paths run rep-level (see `_contract`): the self-join and the
    verify touch one row per distinct token set, and duplicate groups
    re-enter only in the output-sized expansion.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = _contract_docs(docs, shingle_n)
    rep_pairs = _rep_jaccard_pairs(groups, threshold, max_df)
    return _expand_rep_pairs(rep_pairs, groups, threshold)


#: Largest rep-level vocabulary for which the dictionary-bitmask pair
#: strategy applies (one 64-bit word per token set).
_BITMASK_VOCAB_MAX = 64


def _rep_vocab(groups: DataFrame, bound: int) -> list[int] | None:
    """The rep-level token vocabulary if it has ≤ `bound` distinct
    tokens, else None.  Cost: one early-terminating distinct — the
    `limit(bound + 1)` stops the scan once the bound is disproved, so
    on a real large-vocabulary corpus this planning probe collects at
    most `bound + 1` longs to the driver, never the full vocabulary."""
    rows = (
        _rep_tokens(groups).select("token").distinct().limit(bound + 1).collect()
    )
    return [r.token for r in rows] if len(rows) <= bound else None


def _rep_masks(groups: DataFrame, vocab: list[int] | None = None) -> DataFrame:
    """(doc_id=rep, mask, sz): each rep's token set as ONE 64-bit word.

    The ≤64-token vocabulary is already in hand (the caller proved the
    bound via `_rep_vocab`, a driver-side collect of at most 65 longs),
    so the mask is a PER-ROW fold over the materialized `tokens` array
    against a literal token→bit map — no distinct job, no broadcast
    join, no explode/groupBy shuffle.  `vocab=None` re-probes (one
    extra distinct job; production dispatch sites always pass the
    vocabulary they already collected)."""
    if vocab is None:
        vocab = _rep_vocab(groups, _BITMASK_VOCAB_MAX)
        if vocab is None:
            raise ValueError("rep vocabulary exceeds the bitmask bound")
    entries: list[Column] = []
    for i, t in enumerate(sorted(vocab)):
        bit = 1 << i
        if bit >= 1 << 63:  # keep the top bit representable as signed long
            bit -= 1 << 64
        entries += [F.lit(t).cast("long"), F.lit(bit).cast("long")]
    bitmap = F.create_map(*entries)
    # a token absent from the vocab means the caller handed a stale or
    # partial vocabulary — fail loudly instead of letting the NULL mask
    # silently drop the row downstream
    mask = F.aggregate(
        F.col("tokens"),
        F.lit(0).cast("long"),
        lambda acc, t: acc.bitwiseOR(
            F.coalesce(
                F.element_at(bitmap, t),
                F.raise_error(
                    F.concat(
                        F.lit("_rep_masks: token not in vocab: "), t.cast("string")
                    )
                ).cast("long"),
            )
        ),
    )
    return groups.select(
        F.col("rep").alias("doc_id"),
        mask.alias("mask"),
        F.col("set_size").alias("sz"),
    )


def _verify_pairs_masks(
    pairs: DataFrame,
    masks: DataFrame,
    threshold: float,
    est_bytes: int | None = None,
) -> DataFrame:
    """`_verify_pairs_exact` on bitmask token sets: two hash joins
    bring each side's 64-bit mask onto the candidate row; the exact
    intersection is `bit_count(a & b)` — 3 bitwise ops per candidate
    instead of an array hash-set intersection.  Same int/int jaccard
    arithmetic, bit-identical output.  Build side per `_build_side`:
    broadcast when the mask table provably fits (the candidate frame
    then never shuffles), shuffled-hash otherwise."""
    a = _build_side(
        masks.select(
            F.col("doc_id").alias("doc_a"),
            F.col("mask").alias("ma"),
            F.col("sz").alias("sa"),
        ),
        est_bytes,
    )
    b = _build_side(
        masks.select(
            F.col("doc_id").alias("doc_b"),
            F.col("mask").alias("mb"),
            F.col("sz").alias("sb"),
        ),
        est_bytes,
    )
    inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("shared"),
            (inter / (F.col("sa") + F.col("sb") - inter)).alias("jaccard"),
        )
        .filter((F.col("jaccard") >= threshold) & (F.col("shared") >= 1))
        .select("doc_a", "doc_b", "jaccard")
    )


def _rep_jaccard_pairs_bitmask(
    groups: DataFrame, threshold: float, vocab: list[int] | None = None
) -> DataFrame:
    """Dictionary-domain pair strategy for TINY vocabularies: when every
    distinct token fits a dense id < 64, a token set is one 64-bit word
    (`bit_or(1 << tid)`), |A∩B| is `bit_count(mask_a & mask_b)`, and the
    pair stage is a broadcast self-join over the (already contracted)
    rep masks — 3 bitwise ops per pair instead of a token-equality
    self-join whose volume is Σ_token df² (~150 M intermediate rows on
    the sf0.1 fixture, where all 5 000 docs draw on a ~31-word
    vocabulary).  Exact same jaccard arithmetic (int bit_count / int
    union), so output is bit-identical to the inverted-index path; the
    caller verifies the vocabulary bound before dispatching here."""
    masks = _rep_masks(groups, vocab)
    a = masks.select(
        F.col("doc_id").alias("doc_a"), F.col("mask").alias("ma"), F.col("sz").alias("sa")
    )
    b = masks.select(
        F.col("doc_id").alias("doc_b"), F.col("mask").alias("mb"), F.col("sz").alias("sb")
    )
    inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
    jac = inter / (F.col("sa") + F.col("sb") - inter)
    return (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"), inter.alias("_inter"))
        # `_inter >= 1` keeps parity with the inverted-index formulation,
        # which can only emit pairs sharing ≥1 token
        .filter((F.col("jaccard") >= threshold) & (F.col("_inter") >= 1))
        .select("doc_a", "doc_b", "jaccard")
    )


def _rep_vocab_size(groups: DataFrame, bound: int) -> int | None:
    """Exact rep-level vocabulary size if it is ≤ `bound`, else None.
    Cost: one early-terminating distinct over the token stream — the
    scan stops once `bound + 1` distinct tokens surface, so on a real
    large-vocabulary corpus this planning probe is bounded, not a full
    vocabulary count."""
    vocab = _rep_vocab(groups, bound)
    return len(vocab) if vocab is not None else None


def _rep_jaccard_pairs(
    groups: DataFrame, threshold: float, max_df: int | None = None
) -> DataFrame:
    """Rep-level Jaccard pairs (doc_a, doc_b, jaccard) with
    doc_a < doc_b, both representatives.

    Physical strategy is ADAPTIVE on the vocabulary statistic (the
    engine-side analogue of dictionary-encoded execution): a tiny
    vocabulary (≤ 64 distinct tokens across all reps) dispatches to the
    bitmask pair join (`_rep_jaccard_pairs_bitmask`); otherwise — every
    real corpus — the inverted-index self-join below runs, with the
    `max_df` prefix bound as the 100-TB knob.

    The `shuffle_hash` hints matter: every input derives from the
    checkpointed groups table, which has no stats, so the planner would
    fall back to sort-merge for the size joins (two pointless
    O(pairs·log) sorts — see `_verify_pairs_exact`)."""
    if max_df is None:
        vocab = _rep_vocab(groups, _BITMASK_VOCAB_MAX)
        if vocab is not None:
            return _rep_jaccard_pairs_bitmask(groups, threshold, vocab)
    return _rep_jaccard_pairs_inverted(groups, threshold, max_df)


def _rep_jaccard_pairs_inverted(
    groups: DataFrame, threshold: float, max_df: int | None = None
) -> DataFrame:
    """The general inverted-index formulation (see `_rep_jaccard_pairs`);
    separately callable so parity tests can pit it against the bitmask
    strategy on the same input."""
    rep_tok = _rep_tokens(groups)
    # Length filter (the classic size-ratio prune of the similarity-join
    # literature): jaccard(A,B) >= t forces min(|A|,|B|) >= t*max(|A|,|B|),
    # so posting pairs whose set sizes differ by more than (1-t) can be
    # dropped INSIDE the token self-join, before the per-pair count
    # aggregate ever sees them.  Exactness is untouched — every dropped
    # pair is provably below threshold.
    rep_sized = groups.select(
        F.col("rep").alias("doc_id"),
        "set_size",
        F.explode("tokens").alias("token"),
    )
    size_compatible = (
        F.col("t1.set_size") >= threshold * F.col("t2.set_size")
    ) & (F.col("t2.set_size") >= threshold * F.col("t1.set_size"))
    if max_df is not None:
        # document frequency counts DOCUMENTS, not distinct sets — a
        # token appearing in one 10k-duplicate group is as hot as one in
        # 10k singletons — so weight each rep by its group size.
        rep_w = groups.select(F.col("rep").alias("doc_id"), "n_members")
        doc_freq = (
            _rep_tokens(groups)
            .join(rep_w.hint("shuffle_hash"), "doc_id")
            .groupBy("token")
            .agg(F.sum("n_members").alias("df"))
        )
        join_tok = rep_sized.join(
            doc_freq.filter(F.col("df") <= max_df), "token"
        ).select("doc_id", "token", "set_size")
        t1 = join_tok.alias("t1")
        t2 = join_tok.alias("t2")
        candidates = (
            t1.join(t2, F.col("t1.token") == F.col("t2.token"))
            .filter((F.col("t1.doc_id") < F.col("t2.doc_id")) & size_compatible)
            .select(
                F.col("t1.doc_id").alias("doc_a"),
                F.col("t2.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        return _verify_pairs_exact(
            candidates, _rep_arrays(groups), threshold, _rep_arrays_bytes(groups)
        )
    t1 = rep_sized.alias("t1")
    t2 = rep_sized.alias("t2")
    # sizes ride the posting rows, so the final jaccard needs no extra
    # size joins — one self-join + one aggregate is the whole plan
    shared = (
        t1.join(t2, F.col("t1.token") == F.col("t2.token"))
        .filter((F.col("t1.doc_id") < F.col("t2.doc_id")) & size_compatible)
        .groupBy(
            F.col("t1.doc_id").alias("doc_a"),
            F.col("t2.doc_id").alias("doc_b"),
            F.col("t1.set_size").alias("size_a"),
            F.col("t2.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared") / (
        F.col("size_a") + F.col("size_b") - F.col("shared")
    )
    return (
        shared.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


_JACCARD_SQL = rf"""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
),
sizes AS (
    SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id
),
shared AS (
    SELECT t1.doc_id AS doc_a, t2.doc_id AS doc_b, COUNT(*) AS shared
    FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
    GROUP BY 1, 2
)
SELECT
    doc_a,
    doc_b,
    shared / (s1.set_size + s2.set_size - shared) AS jaccard
FROM shared
JOIN sizes s1 ON doc_a = s1.doc_id
JOIN sizes s2 ON doc_b = s2.doc_id
WHERE shared / (s1.set_size + s2.set_size - shared) >= {JACCARD_THRESHOLD}
"""

# --------------------------------------------------------------------------
# 2b. Directed containment pairs — |A∩B| / |A|
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_df: int | None = None,
) -> DataFrame:
    """DIRECTED near-dup pairs by token-set containment:
    (doc_a, doc_b) with |A∩B| / |A| ≥ threshold — "doc_a is mostly
    inside doc_b".  The asymmetric complement of `ngram_jaccard_pairs`:
    a 50-word quote fully embedded in a 5 000-word article has Jaccard
    ≈ 0.01 (invisible to symmetric dedup) but containment 1.0 — the
    boilerplate / quotation / wrapper-page case every corpus-curation
    pipeline needs (same trade Broder's resemblance-vs-containment
    split draws).

    Same scale architecture as the Jaccard path: the contracted rep
    frame (one row per distinct token set), the token-equality
    inverted-index self-join for shared counts (undirected, a < b —
    HALF the candidate volume; both directions derive from one count),
    the `max_df` posting-list bound for candidate generation with
    exact array re-verification, and group expansion at the end.
    containment = int shared / int size — exact across engines, so the
    DuckDB oracle value-matches bit for bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = _contract_docs(docs)
    rep_pairs = _rep_containment_pairs(groups, threshold, max_df)
    return _expand_rep_pairs_directed(rep_pairs, groups, threshold)


def _both_directions(
    pairs: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, inter, size_a, size_b) → directed containment
    rows: each undirected candidate emits up to two oriented rows via
    one inline explode — shared counts and sizes are direction-
    independent, so doubling the candidate join instead would be pure
    waste."""
    both = F.array(
        F.struct(
            F.col("doc_a").alias("da"),
            F.col("doc_b").alias("db"),
            (F.col("inter") / F.col("size_a")).alias("containment"),
        ),
        F.struct(
            F.col("doc_b").alias("da"),
            F.col("doc_a").alias("db"),
            (F.col("inter") / F.col("size_b")).alias("containment"),
        ),
    )
    return (
        pairs.filter(F.col("inter") >= 1)
        .select(F.explode(both).alias("p"))
        .select(
            F.col("p.da").alias("doc_a"),
            F.col("p.db").alias("doc_b"),
            F.col("p.containment").alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _rep_containment_pairs_bitmask(
    groups: DataFrame, threshold: float, vocab: list[int]
) -> DataFrame:
    """Dictionary-bitmask strategy for ≤64-token vocabularies — the
    containment twin of `_rep_jaccard_pairs_bitmask`.  On a tiny-vocab
    corpus the inverted index degenerates (every token's posting list
    is ~the whole corpus, Σ df² candidate rows); one 64-bit mask per
    rep and a broadcast self-join with `bit_count(a & b)` replaces all
    of it.  Same int/int arithmetic → bit-identical to the
    inverted-index path (parity-tested)."""
    masks = _rep_masks(groups, vocab)
    a = masks.select(
        F.col("doc_id").alias("doc_a"), F.col("mask").alias("ma"),
        F.col("sz").alias("size_a"),
    )
    b = masks.select(
        F.col("doc_id").alias("doc_b"), F.col("mask").alias("mb"),
        F.col("sz").alias("size_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b")).select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("ma").bitwiseAND(F.col("mb"))).alias("inter"),
        "size_a",
        "size_b",
    )
    return _both_directions(pairs, threshold)


def _rep_containment_pairs(
    groups: DataFrame, threshold: float, max_df: int | None = None
) -> DataFrame:
    """Rep-level directed containment pairs (doc_a, doc_b, containment).

    Strategy dispatch mirrors `_rep_jaccard_pairs`: a ≤64-token
    vocabulary takes the bitmask broadcast self-join; otherwise the
    undirected (t1.doc < t2.doc) inverted-index candidates below, with
    `max_df` as the 100-TB posting bound."""
    if max_df is None:
        vocab = _rep_vocab(groups, _BITMASK_VOCAB_MAX)
        if vocab is not None:
            return _rep_containment_pairs_bitmask(groups, threshold, vocab)
    rep_tok = _rep_tokens(groups)
    # NOTE: the symmetric Jaccard length filter does NOT apply here —
    # containment(A→B) = |A∩B|/|A| is one-directional (a 5-token set
    # fully inside a 100-token set scores 1.0), so a size-ratio prune
    # would drop exactly the pairs this operator exists to find.  The
    # only valid bound (|B| ≥ t·|A|) is direction-specific and the
    # candidates below are undirected; the exact verify keeps both
    # directions correct.
    if max_df is not None:
        # df counts DOCUMENTS (weight reps by group size) — see
        # `_rep_jaccard_pairs_inverted`; dropped-token candidates are
        # re-verified against the FULL arrays below, so the bound only
        # prunes generation, never corrupts a surviving pair's value
        rep_w = groups.select(F.col("rep").alias("doc_id"), "n_members")
        doc_freq = (
            rep_tok.join(rep_w.hint("shuffle_hash"), "doc_id")
            .groupBy("token")
            .agg(F.sum("n_members").alias("df"))
        )
        join_tok = rep_tok.join(
            doc_freq.filter(F.col("df") <= max_df), "token"
        ).select("doc_id", "token")
    else:
        join_tok = rep_tok
    t1 = join_tok.alias("t1")
    t2 = join_tok.alias("t2")
    candidates = (
        t1.join(t2, F.col("t1.token") == F.col("t2.token"))
        .filter(F.col("t1.doc_id") < F.col("t2.doc_id"))
        .groupBy(
            F.col("t1.doc_id").alias("doc_a"), F.col("t2.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_cand"))
    )
    # exact intersection from the full token arrays (required under
    # max_df, where shared_cand undercounts; with max_df=None it equals
    # shared_cand and the optimizer-friendly single formulation keeps
    # both modes on one verified code path)
    arrays = _rep_arrays(groups)
    arrays_bytes = _rep_arrays_bytes(groups)
    a = _build_side(
        arrays.select(
            F.col("doc_id").alias("doc_a"),
            F.col("tokens").alias("tokens_a"),
            F.col("set_size").alias("size_a"),
        ),
        arrays_bytes,
    )
    b = _build_side(
        arrays.select(
            F.col("doc_id").alias("doc_b"),
            F.col("tokens").alias("tokens_b"),
            F.col("set_size").alias("size_b"),
        ),
        arrays_bytes,
    )
    inter = F.size(F.array_intersect("tokens_a", "tokens_b"))
    pairs = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", inter.alias("inter"), "size_a", "size_b")
    )
    return _both_directions(pairs, threshold)


def _expand_rep_pairs_directed(
    rep_pairs: DataFrame,
    groups: DataFrame,
    threshold: float,
    value_col: str = "containment",
) -> DataFrame:
    """`_expand_rep_pairs` for DIRECTED values: cross-group expansion
    preserves orientation (no least/greatest canonicalization), and
    intra-group members — identical sets, containment exactly 1.0 —
    emit BOTH ordered directions of each member pair."""
    _, n_docs, _ = _groups_stats(groups)
    members_bytes = n_docs * (16 + _BCAST_ROW_OVERHEAD)
    ma = _build_side(
        groups.select(F.col("rep").alias("rep_a"), F.explode("members").alias("da")),
        members_bytes,
    )
    mb = _build_side(
        groups.select(F.col("rep").alias("rep_b"), F.explode("members").alias("db")),
        members_bytes,
    )
    cross = (
        rep_pairs.select(
            F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b"), value_col
        )
        .join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.col("da").alias("doc_a"), F.col("db").alias("doc_b"), value_col
        )
    )
    if 1.0 < threshold:
        return cross
    ordered = F.flatten(
        F.expr(
            "transform(members, (x, i) ->"
            " transform(slice(members, i + 2, size(members)),"
            " y -> struct(x AS doc_a, y AS doc_b)))"
        )
    )
    intra_half = (
        groups.filter(F.col("n_members") > 1)
        .select(F.explode(ordered).alias("p"))
        .select("p.doc_a", "p.doc_b", F.lit(1.0).alias(value_col))
    )
    intra = intra_half.unionByName(
        intra_half.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            value_col,
        )
    )
    return cross.unionByName(intra)


_CONTAINMENT_SQL = rf"""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
),
sizes AS (
    SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id
),
shared AS (
    SELECT t1.doc_id AS doc_a, t2.doc_id AS doc_b, COUNT(*) AS shared
    FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
    GROUP BY 1, 2
),
directed AS (
    SELECT doc_a, doc_b, shared / s1.set_size AS containment
    FROM shared JOIN sizes s1 ON doc_a = s1.doc_id
    UNION ALL
    SELECT doc_b AS doc_a, doc_a AS doc_b, shared / s2.set_size AS containment
    FROM shared JOIN sizes s2 ON doc_b = s2.doc_id
)
SELECT doc_a, doc_b, containment
FROM directed
WHERE containment >= {CONTAINMENT_THRESHOLD}
"""

# --------------------------------------------------------------------------
# 3. MinHash + LSH banding (no SQL oracle — verified by invariant tests)
# --------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
CANDIDATE_VERIFY_THRESHOLD = 0.5


def _minhash_signature(tok: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """doc_id → array<long> MinHash signature. Hash family: xxhash64 of
    the token salted per hash index — all JVM-side.  Works over raw
    string tokens or interned token hashes (the signature only needs a
    consistent random family over token identity)."""
    hashes = [
        F.min(
            F.xxhash64(F.concat(F.lit(f"mh{i}:"), F.col("token").cast("string")))
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sig = tok.groupBy("doc_id").agg(*hashes)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("signature")
    )


def _rep_minhash_signature(
    groups: DataFrame, n_hashes: int = N_HASHES
) -> DataFrame:
    """`_minhash_signature` for the contracted rep frame, as a PER-ROW
    fold: each signature slot is `array_min(transform(tokens, ...))`
    over the already-materialized `tokens` array — no explode, no
    groupBy shuffle.  Same hash family (xxhash64 of the per-slot-salted
    token string), so output is bit-identical to the exploded
    formulation; the explode+agg form stays for incremental callers
    that only hold a token stream (streaming registry)."""

    def slot(i: int) -> Column:
        return F.array_min(
            F.transform(
                F.col("tokens"),
                lambda t: F.xxhash64(
                    F.concat(F.lit(f"mh{i}:"), t.cast("string"))
                ),
            )
        )

    return groups.select(
        F.col("rep").alias("doc_id"),
        F.array(*[slot(i) for i in range(n_hashes)]).alias("signature"),
    )


def _band_table(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): each signature sliced into N_BANDS
    contiguous row groups, each keyed by one xxhash64 of the slice —
    the standard LSH banding table both the self-join and the
    incremental probe bucket on."""
    rows_per_band = N_HASHES // N_BANDS
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("signature")[i].cast("string")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        )
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CANDIDATE_VERIFY_THRESHOLD,
    shingle_n: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, exact-verified.

    sig → N_BANDS band keys (xxhash64 of the band slice) → self-join
    per band key → distinct candidate pairs → verify with exact
    token-set Jaccard ≥ threshold, computed for the CANDIDATES ONLY
    (two doc_id hash joins onto per-doc token arrays + array_intersect)
    — the all-pairs join is never materialized, which is the point of
    banding at scale.

    Runs rep-level end-to-end (`_contract`): identical token sets have
    identical signatures, hence identical band keys, so banding on
    representatives + member expansion emits exactly the pairs banding
    on raw docs would — while a duplicate group of m docs stops costing
    C(m,2) rows in the band join, the distinct, and the verify.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = _contract_docs(docs, shingle_n)
    sig = _rep_minhash_signature(groups)
    bands = _band_table(sig)
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    candidates = (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.band_key") == F.col("b2.band_key")),
        )
        .filter(F.col("b1.doc_id") < F.col("b2.doc_id"))
        .select(
            F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b")
        )
        .distinct()
        # materialize the deduped candidate set: it is the narrow waist
        # of the pipeline (pairs, two longs each), and without this the
        # band-join/distinct subtree re-executes under the verify joins
        # (measured 54s → 14s at sf0.1).  localCheckpoint, not persist:
        # a persist() entry is plan-matched by the CacheManager across
        # CALLS (a later identical invocation silently reads the old
        # cache — poison for benchmarks) and is never unpersisted;
        # checkpoint blocks are reclaimed when the DataFrame is GC'd.
        # At cluster scale this is the same "materialize the candidate
        # list" step every LSH pipeline has — checkpoint_df so the
        # storage level is environment-selectable (DISK_ONLY keeps the
        # 61.6 M-pair ×10 sweep inside the default single-JVM heap).
    )
    candidates = checkpoint_df(candidates)
    # adaptive verify: same dictionary-bitmask strategy as
    # _rep_jaccard_pairs — exact bit_count intersection when the rep
    # vocabulary fits one word, array_intersect otherwise
    vocab = (
        _rep_vocab(groups, _BITMASK_VOCAB_MAX) if shingle_n is None else None
    )
    if vocab is not None:
        n_reps, _, _ = _groups_stats(groups)
        verified = _verify_pairs_masks(
            candidates,
            _rep_masks(groups, vocab),
            threshold,
            n_reps * (24 + _BCAST_ROW_OVERHEAD),
        )
    else:
        verified = _verify_pairs_exact(
            candidates, _rep_arrays(groups), threshold, _rep_arrays_bytes(groups)
        )
    return _expand_rep_pairs(verified, groups, threshold)


# --------------------------------------------------------------------------
# 3b. Incremental MinHash-LSH: probe new arrivals against a FROZEN
#     band index — the fixed-size sibling of the exact posting index
# --------------------------------------------------------------------------

#: Bump when the incremental LSH index layout changes.
_INC_LSH_VERSION = 2


def _ensure_incremental_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once LSH index over the BASE corpus (doc_id % 10 != 0),
    REP-LEVEL like the full self-join pipeline: exact-duplicate groups
    are contracted first (`_contract`), then the index stores

        groups/ — rep, tokens, set_size, members, n_members
        bands/  — (rep as doc_id, band, band_key): N_BANDS fixed-width
                  keys per DISTINCT token set

    Index size tracks *distinct-set* count, not token volume — and
    contraction is what keeps the probe subquadratic on real corpora,
    where exact-dup classes are huge: banding raw doc_ids would emit
    |class_new| × |class_base| candidate rows per duplicated template
    (measured 1.18 M candidate pairs from a 500-doc batch at sf0.1;
    rep-level it is a few thousand), all paying array_intersect."""
    from ..functions.scale import default_index_dir

    root = default_index_dir("dedup_inc_lsh", _INC_LSH_VERSION, sf_dir)
    bands_out = os.path.join(root, "bands")
    groups_out = os.path.join(root, "groups")
    if not os.path.exists(os.path.join(bands_out, "_SUCCESS")):
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        groups = _contract_docs(docs)
        groups.write.mode("overwrite").parquet(groups_out)
        _band_table(_rep_minhash_signature(groups)).write.mode(
            "overwrite"
        ).parquet(bands_out)
    return root


def incremental_minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CANDIDATE_VERIFY_THRESHOLD,
) -> DataFrame:
    """Near-dup screening of newly arrived documents against the
    frozen MinHash-LSH band index — the shape a 100-TB corpus actually
    maintains: the index holds N_BANDS fixed-width keys per distinct
    token set (size tracks corpus content, not token volume — the
    reason LSH, not postings, is what scales to web crawls), the new
    batch's band keys broadcast against it, and only candidate REP
    pairs are verified with exact Jaccard before member expansion.

    Same hash family, banding, contraction and verify threshold as
    `dedup_minhash_lsh`, so the output equals that entry's cross-set
    slice exactly (pinned in pytest); identical-set cross pairs
    surface naturally (identical sets ⇒ identical signatures ⇒ same
    band keys ⇒ verified at jaccard 1.0).  Rows-only for the driver
    (xxhash64 has no DuckDB twin).

    Build sides are PINNED, not left to statistics — every broadcast
    is batch-bounded, every corpus-sized index scan streams:
      1. band probe: broadcast(new bands) ⇄ stream index bands
      2. verify: broadcast(candidates ⋈ new rep arrays) ⇄ stream
         index groups   (AQE's fixture-scale instinct is the reverse —
         broadcast the whole corpus — which inverts at 100 TB)
      3. expansion: broadcast(verified ⋈ new members) ⇄ stream index
         members
    """
    root = _ensure_incremental_lsh_index(spark, sf_dir)
    base_bands = spark.read.parquet(os.path.join(root, "bands"))
    base_groups = spark.read.parquet(os.path.join(root, "groups"))
    new_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_groups = _contract_docs(new_docs)
    new_bands = _band_table(_rep_minhash_signature(new_groups))
    candidates = (
        base_bands.join(
            F.broadcast(
                new_bands.select(
                    F.col("doc_id").alias("rep_new"), "band", "band_key"
                )
            ),
            ["band", "band_key"],
        )
        .select("rep_new", F.col("doc_id").alias("rep_base"))
        .distinct()
    )
    probe = F.broadcast(
        candidates.join(
            new_groups.select(
                F.col("rep").alias("rep_new"),
                F.col("tokens").alias("_tn"),
                F.col("set_size").alias("size_new"),
            ),
            "rep_new",
        )
    )
    shared_col = F.size(F.array_intersect("_tn", "_tb"))
    verified = (
        probe.join(
            base_groups.select(
                F.col("rep").alias("rep_base"),
                F.col("tokens").alias("_tb"),
                F.col("set_size").alias("size_base"),
            ),
            "rep_base",
        )
        .withColumn("shared", shared_col)
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.col("size_new") + F.col("size_base") - F.col("shared")),
        )
        .filter((F.col("jaccard") >= threshold) & (F.col("shared") >= 1))
        .select("rep_new", "rep_base", "jaccard")
    )
    new_members = new_groups.select(
        F.col("rep").alias("rep_new"), F.explode("members").alias("doc_new")
    )
    base_members = base_groups.select(
        F.col("rep").alias("rep_base"), F.explode("members").alias("doc_base")
    )
    expanded = F.broadcast(verified.join(new_members, "rep_new")).join(
        base_members, "rep_base"
    )
    return expanded.select("doc_new", "doc_base", "jaccard")


# --------------------------------------------------------------------------
# 4. SimHash (64-bit) — rows-only
# --------------------------------------------------------------------------


def _rep_simhash(rep_tok: DataFrame) -> DataFrame:
    """64-bit SimHash per doc_id of the given token stream: per-bit
    majority vote over token hashes, assembled with shifts — pure
    expression algebra (the per-doc bit loop is an unrolled sum, not a
    UDF)."""
    tok = rep_tok.withColumn("h", F.xxhash64("token"))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    votes = tok.groupBy("doc_id").agg(*bit_votes)
    sim = None
    for b in range(64):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash.  The vote aggregation runs once per
    DISTINCT token set (`_contract`); members inherit their rep's
    signature through the membership join — identical sets vote
    identically, so the values are unchanged."""
    groups = _contract_docs(load_table(spark, sf_dir, "documents"))
    rep_sig = _rep_simhash(_rep_tokens(groups)).select(
        F.col("doc_id").alias("rep_id"), "simhash"
    )
    members = groups.select(
        F.col("rep").alias("rep_id"), F.explode("members").alias("doc_id")
    )
    n_reps, _, _ = _groups_stats(groups)
    return members.join(
        _build_side(rep_sig, n_reps * (16 + _BCAST_ROW_OVERHEAD)), "rep_id"
    ).select("doc_id", "simhash")


def simhash_near_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming distance ≤ k via quarter-banding: any pair
    within k ≤ 3 bit flips agrees exactly on ≥1 of the 4 16-bit
    quarters (pigeonhole), so candidates come from 4 hash joins, not
    an all-pairs scan.  Rep-level like the rest of the module:
    identical token sets have identical signatures (all 4 quarters
    agree), so quarter-banding representatives + member expansion
    (intra-group hamming = 0) emits exactly the doc-level pairs while
    duplicate groups stop multiplying the quarter-join buckets."""
    groups = _contract_docs(load_table(spark, sf_dir, "documents"))
    sig = _rep_simhash(_rep_tokens(groups))
    quarters = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * q)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias(f"q{q}")
                    for q in range(4)
                ]
            )
        ).alias("q", "qval"),
    )
    a = quarters.alias("a")
    b = quarters.alias("b")
    popcount = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    rep_pairs = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q")) & (F.col("a.qval") == F.col("b.qval")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            popcount.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return _expand_rep_pairs(
        rep_pairs,
        groups,
        max_hamming,
        value_col="hamming",
        intra_value=F.lit(0).cast("integer"),
        include_intra=max_hamming >= 0,
    )


# --------------------------------------------------------------------------
# 5. Embedding-cosine near-dup (oracle via DOUBLE[] cosine — bit-exact)
# --------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.4


def _cosine(a: Column, b: Column) -> Column:
    """Sequential-fold cosine in double — bit-identical to DuckDB's
    list_cosine_similarity over DOUBLE[] (verified empirically)."""
    va = F.transform(a, lambda x: x.cast("double"))
    vb = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(va, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(vb, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


_EXACT_CAP_SENTINEL = object()


def embedding_near_dup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    max_pairs: int | None | object = _EXACT_CAP_SENTINEL,
) -> DataFrame:
    """All vector pairs with cosine ≥ threshold (brute force — the
    LSH-bucketed scale path lives in operators.similarity).

    `max_pairs` guards the n² pair volume (default: the shared
    exact-tier cap, `similarity.EXACT_PAIR_CAP`); pass None to override
    deliberately."""
    from .similarity import EXACT_PAIR_CAP, guard_cartesian

    if max_pairs is _EXACT_CAP_SENTINEL:
        max_pairs = EXACT_PAIR_CAP
    emb = load_table(spark, sf_dir, "embeddings")
    if max_pairs is not None:
        # count() reuses the one loaded DataFrame and is skipped when
        # the guard is disabled — no second table scan per call
        n = emb.count()
        guard_cartesian(n * (n - 1) // 2, "embedding_near_dup", max_pairs)
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_clustered(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    n_clusters: int = 16,
    n_assign: int = 2,
) -> DataFrame:
    """Embedding near-dup at scale (the SemDeDup shape): a coarse
    KMeans partitions the corpus into `n_clusters` cells; candidate
    pairs are generated ONLY within a cell, so the pair volume drops
    from n² to ~n²·n_assign²/k — the published trade (Abbas et al.,
    SemDeDup 2023): near-identical vectors land in the same Voronoi
    cell with overwhelming probability.  `n_assign` registers each
    vector in its `n_assign` nearest cells (overlapping clusters), the
    standard fix for the pairs a hard partition loses at cell
    boundaries — on a weakly-clustered corpus it is the recall knob.

    Spark shape: one KMeans fit (distributed), one scan computing each
    vector's nearest cells against the broadcast centroid table, and a
    self-join on cell — a hash-partitioned equi-join whose per-cell
    fan-out AQE splits, never a cartesian; multi-assigned duplicates
    collapse with one pair-key distinct BEFORE the cosine is computed.
    Same cosine expression as the exact tier, so emitted pairs are
    bit-identical to `embedding_near_dup`'s (the recall test exploits
    this: clustered output ⊆ exact output)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .similarity import sqdist_col

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))
    )
    emb = checkpoint_df(emb)
    km = KMeans(
        k=n_clusters, seed=7, maxIter=5, featuresCol="vec", predictionCol="cell0"
    )
    model = km.fit(emb.select("vec"))
    centroids = local_rows_df(spark, 
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cell"))
    assigned = (
        emb.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "cell",
            sqdist_col(
                F.col("embedding").cast("array<double>"), F.col("centroid")
            ).alias("dist"),
        )
        .withColumn("nearness", F.row_number().over(wv))
        .filter(F.col("nearness") <= n_assign)
        .select("vec_id", "cell")
    )
    pairs = (
        assigned.select(F.col("vec_id").alias("vec_a"), "cell")
        .join(assigned.select(F.col("vec_id").alias("vec_b"), "cell"), "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # deliberately NOT `_build_side` here (measured 3.6 s → 15.5 s when
    # these became broadcasts at sf0.1): the per-pair cosine is the
    # expensive part of this stage, and the vec_a exchange the
    # broadcast would remove is ALSO what spreads that arithmetic
    # across the cluster — AQE coalesces the byte-small candidate
    # distinct to a handful of partitions, so a broadcast join leaves
    # the cosine nearly serial.  The shuffled-hash exchange of the
    # narrow pair frame is cheap insurance at any scale.
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        pairs.join(ea.hint("shuffle_hash"), "vec_a")
        .join(eb.hint("shuffle_hash"), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            _cosine(F.col("emb_a"), F.col("emb_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_dedup_keepers(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_DUP_THRESHOLD,
    n_clusters: int = 16,
    n_assign: int = 2,
    max_iter: int = 20,
) -> DataFrame:
    """SemDeDup end-to-end: semantic-duplicate GROUPS with one keeper
    each.  Pairs from the clustered near-dup miner
    (`embedding_near_dup_clustered`) feed the same pointer-doubled
    min-label CC loop the token tier uses (`_cc_min_label_loop`);
    keeper = min vec_id per component (singletons keep themselves).
    Output: (vec_id, keeper_id, is_keeper) — filter `is_keeper` for the
    deduplicated corpus, join back for the drop list.

    Scale: pair volume is the clustered miner's ~n²·n_assign²/k, the CC
    loop is O(log diameter) shuffle rounds on the (tiny) duplicate
    subgraph plus singleton vertices, exactly the token-tier physics."""
    emb_ids = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    pairs = (
        embedding_near_dup_clustered(spark, sf_dir, threshold, n_clusters, n_assign)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    pairs = checkpoint_df(pairs)
    edges = checkpoint_df(
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
    )
    labels = _cc_min_label_loop(emb_ids, edges, max_iter)
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("keeper_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


_EMB_NEAR_DUP_SQL = f"""
SELECT
    a.vec_id AS vec_a,
    b.vec_id AS vec_b,
    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      >= {COSINE_DUP_THRESHOLD}
"""


# --------------------------------------------------------------------------
# 6. Duplicate clustering — connected components over near-dup pairs
# --------------------------------------------------------------------------


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 20
) -> DataFrame:
    """Group near-duplicates into clusters: connected components over
    the Jaccard-pair graph via iterative min-label propagation
    (each vertex repeatedly adopts the smallest label among itself and
    its neighbors until fixpoint). cluster_id = min doc_id in the
    component; singletons cluster with themselves.

    The iterative pattern done Spark-right: every iteration is one
    shuffle join + aggregate plus a label-table self-join for POINTER
    DOUBLING (label ← label(label) — labels decrease monotonically, so
    the shortcut only jumps further down the component), and
    `localCheckpoint()` truncates the lineage so plans don't grow
    exponentially. With doubling, iterations = O(log diameter) instead
    of O(diameter) (measured: a diameter-8 pair graph converges in 4
    rounds, not 8); `max_iter` bounds adversarial chains. The same loop
    at 100 TB is the standard large-graph CC.

    The whole CC runs on the CONTRACTED graph (`_contract`): vertices
    are distinct-token-set representatives, edges are rep-level jaccard
    pairs (33× fewer than doc pairs on the fixture — duplicate groups
    are cliques, pure edge waste to a min-label loop), and members
    inherit their rep's component label in one final join.  min-rep per
    component = min doc_id per component, so the output is unchanged."""
    groups = _contract_docs(load_table(spark, sf_dir, "documents"))
    docs = groups.select(F.col("rep").alias("doc_id"))
    # materialize the pair list BEFORE mirroring: the two union branches
    # are separate subtrees to Spark (no cross-branch CSE), so an
    # un-checkpointed union would run the whole near-dup join twice
    pairs = checkpoint_df(
        _rep_jaccard_pairs(groups, JACCARD_THRESHOLD).select("doc_a", "doc_b")
    )
    # pairs' lineage would replay every iteration otherwise
    edges = checkpoint_df(
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
    )
    # Size the loop's shuffle parallelism to the graph.  Each iteration
    # is a short standalone query over checkpointed (stats-less) inputs,
    # so AQE can coalesce tasks but every exchange still plans at the
    # session's shuffle-partition count — on a small rep graph that is
    # pure scheduling overhead, ~2× the loop's wall time (measured
    # 4.6s → 2.1s at sf0.1).  ~2M edge-rows per partition, capped at
    # defaultParallelism, so a 100-TB rep graph still uses the full
    # cluster.  The conf is restored after the loop.
    sc = spark.sparkContext
    n_edges = edges.count()
    loop_parts = max(1, min(sc.defaultParallelism, n_edges // 2_000_000 + 1))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        labels = _cc_min_label_loop(docs, edges, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    members = groups.select(
        F.col("rep").alias("rep_id"), F.explode("members").alias("doc_id")
    )
    n_reps, _, _ = _groups_stats(groups)
    rep_labels = _build_side(
        labels.select(F.col("doc_id").alias("rep_id"), "cluster_id"),
        n_reps * (16 + _BCAST_ROW_OVERHEAD),
    )
    return members.join(rep_labels, "rep_id").select("doc_id", "cluster_id")


def _cc_min_label_loop(
    docs: DataFrame, edges: DataFrame, max_iter: int
) -> DataFrame:
    """Min-label propagation with pointer doubling (see dedup_clusters).

    The loop iterates ONLY over edge-incident vertices: a singleton
    (no edges) can never change its label, yet it used to ride through
    every per-iteration join and checkpoint.  On a dedup graph the
    duplicate subgraph is a small fraction of the corpus, so dropping
    singletons shrinks each round's label table from |V| to
    |V_incident| — the r7 fix for the worst ×10 scale curve.  Isolated
    vertices rejoin once at the end with themselves as cluster_id
    (identical output: a singleton's component min is itself)."""
    # verts needs no checkpoint of its own: its lineage is one distinct
    # over the (caller-checkpointed) edge frame, and it is only consumed
    # until the first iteration's `stepped` checkpoint replaces it
    verts = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    labels = verts.select("doc_id", F.col("doc_id").alias("cluster_id"))
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("neighbor_min"))
        )
        after_min = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce("neighbor_min", "cluster_id")
            ).alias("cluster_id"),
            (
                F.coalesce("neighbor_min", "cluster_id") < F.col("cluster_id")
            ).alias("ch_min"),
        )
        # pointer doubling: label(x) ← label(label(x)).  Every label is
        # itself a doc_id with labels[c] <= c, so the left join always
        # hits and the shortcut is monotone non-increasing.  The lookup
        # table is the PREVIOUS (checkpointed) labels — reusing
        # `after_min` for both sides would re-run the edge join twice
        # per iteration (no cross-branch CSE).  Convergence requires
        # BOTH steps quiescent — that fixpoint equals the plain
        # neighbor-min fixpoint (component min everywhere).
        lut = labels.select(
            F.col("doc_id").alias("l_doc"), F.col("cluster_id").alias("l_cluster")
        )
        # carry a changed flag through the checkpoint so convergence is a
        # cheap filter-count on the already-materialized frame, not a
        # second join of new labels against old
        stepped = (
            after_min.join(lut, after_min.cluster_id == lut.l_doc, "left")
            .select(
                "doc_id",
                F.coalesce("l_cluster", "cluster_id").alias("cluster_id"),
                (
                    F.col("ch_min")
                    | (F.coalesce("l_cluster", "cluster_id") < F.col("cluster_id"))
                ).alias("changed"),
            )
        )
        stepped = checkpoint_df(stepped)
        changed = stepped.filter("changed").count()
        new_labels = stepped.select("doc_id", "cluster_id")
        # drop the superseded checkpoint's cached blocks — only the
        # newest labels table should stay pinned
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


# Oracle: transitive closure by recursive CTE (fine at test scale;
# the Spark side is the one built for big graphs).
_CLUSTERS_SQL = rf"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({_JACCARD_SQL})
),
edges AS (
    SELECT doc_a, doc_b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.node = e.doc_a
)
SELECT src AS doc_id, MIN(node) AS cluster_id
FROM reach
GROUP BY src
"""


# --------------------------------------------------------------------------
# Incremental dedup: screen NEW arrivals against a FROZEN corpus index
# --------------------------------------------------------------------------

#: Bump when the incremental index layout changes.
_INC_INDEX_VERSION = 1


def _ensure_incremental_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once posting index over the BASE corpus (doc_id % 10 != 0):
    one parquet table (token xxhash64, doc_id, set_size).  The
    build/serve split every serving entry uses — at 100 TB the index
    is maintained incrementally (append new postings per ingest
    batch), never rebuilt."""
    from ..functions.scale import default_index_dir

    out = os.path.join(
        default_index_dir("dedup_inc", _INC_INDEX_VERSION, sf_dir),
        "base_postings",
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        tok = _token_sets(docs).select(
            "doc_id", F.xxhash64("token").alias("token")
        )
        sizes = tok.groupBy("doc_id").agg(F.count("*").alias("set_size"))
        tok.join(sizes, "doc_id").select(
            "token", "doc_id", "set_size"
        ).write.mode("overwrite").parquet(out)
    return out


def incremental_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Near-dup screening of NEWLY ARRIVED documents (doc_id % 10 == 0,
    the 'tenth shard just landed' slice) against the frozen base-corpus
    posting index — the INCREMENTAL maintenance shape a 100-TB corpus
    actually runs: per ingest batch, tokenize ONLY the new docs and
    broadcast their postings against the stored index (the index side
    never shuffles — a broadcast hash join streams over its scan),
    length-prune with the standard two-sided bound, count shared
    tokens, and keep exact Jaccard ≥ threshold.  Wall cost tracks the
    BATCH size, not the corpus: the full-corpus `dedup_jaccard_pairs`
    self-join never reruns.  Jaccard is int/int — exact across
    engines, so the DuckDB oracle (cross-set pairs off raw text)
    value-matches bit for bit."""
    index_path = _ensure_incremental_index(spark, sf_dir)
    base = spark.read.parquet(index_path)
    new_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_tok = _token_sets(new_docs).select(
        "doc_id", F.xxhash64("token").alias("token")
    )
    new_sizes = new_tok.groupBy("doc_id").agg(
        F.count("*").alias("set_size")
    )
    new_post = new_tok.join(new_sizes, "doc_id").select(
        F.col("doc_id").alias("doc_new"),
        "token",
        F.col("set_size").alias("size_new"),
    )
    size_compatible = (
        F.col("size_new") >= threshold * F.col("set_size")
    ) & (F.col("set_size") >= threshold * F.col("size_new"))
    shared = (
        base.join(F.broadcast(new_post), "token")
        .filter(size_compatible)
        .groupBy(
            "doc_new",
            F.col("doc_id").alias("doc_base"),
            "size_new",
            F.col("set_size").alias("size_base"),
        )
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared") / (
        F.col("size_new") + F.col("size_base") - F.col("shared")
    )
    return shared.select(
        "doc_new", "doc_base", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


_INC_JACCARD_SQL = rf"""
WITH tok AS (
    SELECT DISTINCT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
    FROM documents
),
sizes AS (
    SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id
),
shared AS (
    SELECT n.doc_id AS doc_new, b.doc_id AS doc_base, COUNT(*) AS shared
    FROM tok n JOIN tok b ON n.token = b.token
    WHERE n.doc_id % 10 = 0 AND b.doc_id % 10 != 0
    GROUP BY 1, 2
)
SELECT
    doc_new,
    doc_base,
    shared / (sn.set_size + sb.set_size - shared) AS jaccard
FROM shared
JOIN sizes sn ON doc_new = sn.doc_id
JOIN sizes sb ON doc_base = sb.doc_id
WHERE shared / (sn.set_size + sb.set_size - shared) >= {JACCARD_THRESHOLD}
"""


QUERIES = {
    "dedup_exact": exact_dedup,
    "dedup_clusters": dedup_clusters,
    "dedup_jaccard_pairs": ngram_jaccard_pairs,
    "dedup_containment_pairs": containment_pairs,
    "dedup_minhash_lsh": minhash_lsh_pairs,
    "dedup_simhash_pairs": simhash_near_pairs,
    "dedup_embedding_cosine": embedding_near_dup,
    "dedup_embedding_clustered": embedding_near_dup_clustered,
    "dedup_embedding_keepers": embedding_dedup_keepers,
    "dedup_incremental_pairs": incremental_jaccard_pairs,
    "dedup_incremental_minhash": incremental_minhash_pairs,
}

#: dedup_minhash_lsh / dedup_simhash_pairs depend on xxhash64 (no DuckDB
#: equivalent) — rows-only checks; invariants covered in tests/test_dedup.py.
ORACLES = {
    "dedup_exact": _EXACT_SQL,
    "dedup_clusters": _CLUSTERS_SQL,
    "dedup_jaccard_pairs": _JACCARD_SQL,
    "dedup_containment_pairs": _CONTAINMENT_SQL,
    "dedup_embedding_cosine": _EMB_NEAR_DUP_SQL,
    "dedup_incremental_pairs": _INC_JACCARD_SQL,
}
