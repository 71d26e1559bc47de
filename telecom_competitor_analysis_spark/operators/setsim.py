"""Prefix-filtered set-similarity self-join (the PPJoin family,
Xiao et al., WWW'08 "Efficient Similarity Joins for Near Duplicate
Detection").

The reference's dedup story stops at exact surrogate-key matches
(/root/reference/dags/bigquery.py:100-122); the engine's near-dup
family (MinHash-LSH, SimHash, shingle-Jaccard) covers the
probabilistic/banded side. This operator adds the third classic
candidate-generation strategy: EXACT set-similarity join via prefix
filtering — no hashing, no false negatives, candidates from an
equi-join on a provably sufficient token prefix.

Prefix-filter theorem (self-join, overlap form): order every set's
tokens by one GLOBAL total order (here: ascending document frequency,
ties by token — rarest first). If |A ∩ B| / |A ∪ B| ≥ t then A and B
must share at least one token among the first ``|S| - ceil(t·|S|) + 1``
tokens of each set's ordering (otherwise the remaining suffixes are too
short to reach the required overlap ``ceil(t/(1+t)·(|A|+|B|))``).
So the candidate join only touches each set's PREFIX, and rare-first
ordering makes those prefix tokens the most selective join keys the
set has. Completeness is a theorem, not a heuristic — the oracle is
the brute-force any-shared-token form and must agree exactly.

Stopword pruning (``max_df_frac``): tokens appearing in more than a
fraction of the corpus carry no similarity signal and would dominate
the candidate join (a df=N token alone generates N²/2 candidates).
Similarity is therefore DEFINED over the pruned token sets — the
standard PPJoin+IDF practice — and the cap is part of the operator's
semantics, applied identically in the oracle. Residual hot prefix
tokens can still appear when many documents are genuinely near-equal;
those candidates all VERIFY, so the quadratic term is bounded by the
true output size, not by corpus size.

Scale shape: one shuffle for the df window (the shared df cap), one
per-doc window (row_number over (df, word)) for the prefix, one
equi-join on prefix tokens for candidates, then an O(candidates)
verify against the per-doc sorted token arrays (array_intersect — no
re-explode). Every stage keys on doc_id or word; nothing is global.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.dedup import df_cap

JACCARD_MICRO = 1_000_000


def pruned_token_sets(
    docs: DataFrame,
    id_col: str,
    tokens_col: Column,
    max_df_frac: float = 0.2,
    max_df_abs: int = 1000,
) -> DataFrame:
    """(id, word, df) rows for the stopword-pruned distinct-token sets:
    tokens kept iff df * round(1/max_df_frac) <= n_docs AND
    df <= max_df_abs (integer-exact predicates — both engines evaluate
    them identically).

    The ABSOLUTE cap is the scale guard, not a tuning knob: a token
    sitting just under the relative cap alone has df = Θ(N) and
    generates Θ(N²) candidate pairs — quadratic in corpus size
    (measured: a ×10 replication probe went 1.3 s → 477 s with only
    the relative cap). With the absolute cap every token contributes
    ≤ max_df_abs²/2 candidates regardless of N, so total candidate
    volume is linear in vocabulary size. It is ``operators/dedup.df_cap``,
    the shingle families' one cap; the relative cap is a filter on the
    ``df`` it keeps.

    ``max_df_frac`` must be the reciprocal of a positive integer (1/n)
    so the relative predicate stays integer-exact; a non-reciprocal
    value (e.g. 0.15 → inv 7) would silently enforce a different
    effective threshold than requested, so it is rejected."""
    if max_df_frac <= 0:
        raise ValueError(
            "max_df_frac must be the reciprocal of a positive integer "
            f"(1/n for integer n >= 1), got {max_df_frac}"
        )
    inv = round(1.0 / max_df_frac)
    if inv < 1 or abs(inv * max_df_frac - 1.0) > 1e-9:
        raise ValueError(
            "max_df_frac must be the reciprocal of a positive integer "
            f"(1/n for integer n >= 1), got {max_df_frac}"
        )
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens_col)).alias("word"),
    )
    n_docs = docs.select(F.count("*").alias("n_docs"))
    return (
        df_cap(tok, "word", max_df_abs, keep_df=True)
        .join(F.broadcast(n_docs))
        .where(F.col("df") * F.lit(inv) <= F.col("n_docs"))
        .select("id", "word", "df")
    )


def prefix_filter_pairs(
    token_sets: DataFrame,
    threshold_pct: int,
) -> DataFrame:
    """All pairs (id_a < id_b) of token sets with Jaccard >= t over the
    given (id, word, df) rows, via prefix-filter candidates + exact
    array verify. ``threshold_pct`` is an integer percentage so the
    prefix length and the final predicate are exact integer arithmetic
    (t=50 → keep iff 2·|∩| ≥ |∪|).

    Returns (id_a, id_b, inter_size, union_size, jaccard_micro)."""
    # per-set size + rare-first rank; prefix length = sz - ceil(t·sz) + 1
    w = Window.partitionBy("id").orderBy("df", "word")
    ranked = token_sets.withColumn("rn", F.row_number().over(w)).withColumn(
        "sz", F.count("*").over(Window.partitionBy("id"))
    )
    # ceil(t·sz) with integer arithmetic: -floordiv(-t*sz, 100)
    prefix = ranked.where(
        F.col("rn")
        <= F.col("sz") + F.floor(F.lit(-threshold_pct) * F.col("sz") / 100) + 1
    ).select("id", "word")

    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "word")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    arrays = token_sets.groupBy("id").agg(
        F.array_sort(F.collect_list("word")).alias("arr")
    )
    return (
        cand.join(arrays.withColumnRenamed("id", "id_a"), "id_a")
        .withColumnRenamed("arr", "arr_a")
        .join(arrays.withColumnRenamed("id", "id_b"), "id_b")
        .withColumnRenamed("arr", "arr_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("inter_size"),
            F.size(F.array_union("arr_a", "arr_b"))
            .cast("long")
            .alias("union_size"),
        )
        .where(
            F.col("inter_size") * 100 >= F.lit(threshold_pct) * F.col("union_size")
        )
        .withColumn(
            "jaccard_micro",
            F.expr(f"inter_size * {JACCARD_MICRO} div union_size"),
        )
    )


def rank_token_sets(token_sets: DataFrame) -> DataFrame:
    """(id, word, rn, sz) rows: each set's tokens ranked by the GLOBAL
    rare-first order (ascending df, ties by token) plus the set size —
    the shared input of the prefix/positional filters. One exchange on
    id serves both window passes."""
    w_rank = Window.partitionBy("id").orderBy("df", "word")
    return token_sets.withColumn(
        "rn", F.row_number().over(w_rank)
    ).withColumn("sz", F.count("*").over(Window.partitionBy("id"))).select(
        "id", "word", "rn", "sz"
    )


def containment_prefix_candidates(
    ranked: DataFrame,
    threshold_pct: int,
) -> DataFrame:
    """LOSSLESS candidate pairs for the asymmetric CONTAINMENT join
    max(|A∩B|/|A|, |A∩B|/|B|) = |A∩B| / min(|A|,|B|) ≥ t, via the
    containment extension of prefix filtering (Xiao et al. WWW'08 §5).

    Theorem (containment form): the required overlap for a qualifying
    pair is o ≥ ceil(t · m) with m = min(|A|,|B|) — the SMALLER set's
    size. Under one global token order (ascending df, ties by token),
    if none of the smaller set S's first ``|S| - ceil(t·|S|) + 1``
    tokens appears in the other set, the remaining suffix of S is too
    short to reach o — so every qualifying pair shares a token between
    the smaller set's PREFIX and the larger set's FULL token list.
    Candidates are therefore prefix(smaller) ⋈ all(other) on the token,
    gated so the prefix side is the ≤-size side (equal sizes take one
    direction by id) — a strict subset of the ungated any-shared-token
    join (prefix × full vs full × full per posting list), with zero
    false negatives. The brute-force oracle proves losslessness on
    every run, the q_setsim_join pattern.

    POSITIONAL filter (§4.2, also lossless): for each candidate pair
    take the match row with the SMALLEST prefix rank i in the smaller
    set — by minimality no smaller-ranked token of the smaller set is
    shared, so overlap ≤ 1 + min(sz_p − i, sz_q − j) with j the token's
    rank in the larger set; pairs whose bound can't reach ceil(t·sz_p)
    are pruned BEFORE the exact verify (the aggregate replaces the
    plain distinct — same shuffle, far fewer survivors).

    ``ranked`` = (id, word, rn, sz) rows from ``rank_token_sets`` —
    callers MUST pass a materialized frame (localCheckpoint/persist/
    parquet): the candidate join consumes it on BOTH sides and Spark
    shares nothing across join sides, so an unmaterialized ranked
    frame re-runs the whole tokenize/df/rank pipeline once per side
    (measured 19.8 s vs 3.9 s at sf0.1; AQE's broadcast conversion
    also defeats ReusedExchange here, so in-condition gating of one
    self-joined subplan does NOT save the recompute — measured).

    Returns distinct candidate pairs with the exact set sizes riding
    along: (id_a, id_b, n_a, n_b) with id_a < id_b and n_x the size of
    x's token set — downstream verify only needs the shared-token
    count."""
    # ceil(t·sz) with integer arithmetic: -floordiv(-t*sz, 100)
    prefix = ranked.where(
        F.col("rn")
        <= F.col("sz")
        + F.floor(F.lit(-threshold_pct) * F.col("sz") / 100)
        + 1
    ).select("id", "word", "rn", "sz")
    full = ranked.select("id", "word", "rn", "sz")
    matches = (
        prefix.alias("p")
        .join(full.alias("q"), "word")
        .where(
            (F.col("p.sz") < F.col("q.sz"))
            | (
                (F.col("p.sz") == F.col("q.sz"))
                & (F.col("p.id") < F.col("q.id"))
            )
        )
        .select(
            F.col("p.id").alias("pid"),
            F.col("q.id").alias("qid"),
            F.col("p.sz").alias("sz_p"),
            F.col("q.sz").alias("sz_q"),
            F.col("p.rn").alias("i"),
            F.col("q.rn").alias("j"),
        )
    )
    # min-i match per pair (the roles p=smaller/q=larger are fixed per
    # pair by the size gate, so (pid, qid) identifies the pair); the
    # struct min is partial-aggregable map-side
    g = matches.groupBy("pid", "qid", "sz_p", "sz_q").agg(
        F.min(F.struct("i", "j")).alias("s")
    )
    ubound = F.lit(1) + F.least(
        F.col("sz_p") - F.col("s.i"), F.col("sz_q") - F.col("s.j")
    )
    kept = g.where(ubound * 100 >= F.lit(threshold_pct) * F.col("sz_p"))
    swap = F.col("pid") > F.col("qid")
    return kept.select(
        F.least(F.col("pid"), F.col("qid")).alias("id_a"),
        F.greatest(F.col("pid"), F.col("qid")).alias("id_b"),
        F.when(swap, F.col("sz_q")).otherwise(F.col("sz_p")).alias("n_a"),
        F.when(swap, F.col("sz_p")).otherwise(F.col("sz_q")).alias("n_b"),
    )
