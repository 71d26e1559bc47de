"""Corpus quality signals and benchmark decontamination.

These are the curation-side text-quality operators a training-data
pipeline runs between ingestion and dedup (reference analogue: the
scrapers' ad-hoc validation in dags/viking_scraper.py:88-107 is the
closest thing — the reference has no corpus layer, so this module is
extension surface, modeled on the published Gopher / C4 / CCNet
filtering rules).

Everything here is native-column Spark: explodes + partial-aggregated
groupBys, no Python in the hot path, no collect. Per-doc signals shuffle
on the doc id (or (doc id, token) with map-side combine) — never on the
document body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.text import words
from telecom_competitor_analysis_spark.operators.dedup import (
    df_cap,
    ensure_parallelism,
    shingle_postings,
    shingle_rows,
)


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction
    of the doc occupied by its single most frequent word, and the
    duplicate-bigram fraction. Docs scoring high on either are
    boilerplate/spam candidates that repetition filters drop before
    training.

    Returns (id, n_words, n_distinct_words, top_word_count,
    top_word_fraction, n_bigrams, n_distinct_bigrams,
    dup_bigram_fraction).

    Scale shape: two explode pipelines over the same scan. Word counts
    aggregate on (id, word) then (id) — both stages partial-aggregate
    map-side, and the second groupBy reuses the first's hash
    partitioning prefix. Bigrams ride shingle_rows' single window pass
    (one shuffle on the doc id). The final join is id-to-id, one row per
    doc on each side; AQE picks the strategy. Per-doc work is O(doc
    length) — no step is quadratic in the document or the corpus.
    """
    src = ensure_parallelism(df)
    toks = src.select(
        F.col(id_col), F.explode(words(F.trim(F.col(text_col)))).alias("w")
    )
    word_stats = (
        toks.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("c").alias("top_word_count"),
        )
    )
    bigram_stats = (
        shingle_rows(src, id_col, text_col, w=2)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("word").alias("n_distinct_bigrams"),
        )
    )
    # left join: a 1-word doc emits no bigram rows but must still score
    # (0 bigrams, 0 duplication) rather than silently vanish.
    n_big = F.coalesce(F.col("n_bigrams"), F.lit(0))
    n_big_distinct = F.coalesce(F.col("n_distinct_bigrams"), F.lit(0))
    scored = (
        word_stats.join(bigram_stats, on=id_col, how="left")
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            "top_word_count",
            (
                F.col("top_word_count").cast("double") / F.col("n_words")
            ).alias("top_word_fraction"),
            n_big.alias("n_bigrams"),
            n_big_distinct.alias("n_distinct_bigrams"),
            F.when(
                n_big > 0,
                (n_big - n_big_distinct).cast("double") / n_big,
            )
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_fraction"),
        )
    )
    # NULL-text docs explode to zero rows and would bypass the signal
    # table entirely (unscored docs sail through any downstream
    # repetition filter); emit them as explicit zero-signal rows instead.
    null_docs = src.filter(F.col(text_col).isNull()).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_words"),
        F.lit(0).cast("long").alias("n_distinct_words"),
        F.lit(0).cast("long").alias("top_word_count"),
        F.lit(0.0).alias("top_word_fraction"),
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(0).cast("long").alias("n_distinct_bigrams"),
        F.lit(0.0).alias("dup_bigram_fraction"),
    )
    return scored.unionByName(null_docs)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 8,
    max_df: int = 1000,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents that share at
    least one w-word n-gram with any benchmark/eval document, so they can
    be dropped before training (the standard eval-contamination sweep;
    published pipelines use w≈8-13).

    Returns (corpus_id, bench_id, n_shared_shingles) — one row per
    contaminated (corpus doc, benchmark doc) pair.

    Scale shape: inverted-index join on the n-gram, never corpus ×
    benchmark. Both sides reduce to distinct (id, shingle) rows; the join
    hashes on the shingle, and ``max_df`` drops corpus-hot shingles
    (boilerplate n-grams that would both blow up the join and
    false-positive the sweep) through ``operators/dedup.df_cap``, the
    shingle family's one cap: a window count over the join's own
    shuffle key. The benchmark side is bounded by construction (eval
    sets are small), so it skips the under-split guard and AQE will
    broadcast it; we stay declarative rather than forcing the hint."""
    c = df_cap(
        shingle_postings(corpus, id_col, text_col, w, id_name="corpus_id"),
        "sh",
        max_df,
    )
    b = (
        shingle_rows(benchmark, id_col, text_col, w)
        .select(F.col(id_col).alias("bench_id"), F.col("word").alias("sh"))
        .distinct()
    )
    return (
        c.join(b, on="sh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 30,
    max_words: int = 10_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopwords: int = 2,
    max_top_word_fraction: float = 0.2,
    min_distinct_fraction: float = 0.3,
    max_dup_bigram_fraction: float = 0.3,
) -> DataFrame:
    """Gopher-style document screening (Rae et al. 2021 §A1.1.2, the
    rule family every LLM-data pipeline reimplements): per document,
    one boolean per rule plus the conjunction — word-count band, mean
    word length band, minimum stop-word occurrences, most-frequent-word
    share cap, distinct-word floor, duplicate-bigram cap. Emitting the
    per-rule booleans (not just the verdict) is deliberate: rule-level
    pass rates are the dataset-health dashboard that says WHICH screen
    is eating the corpus.

    Scale shape: repetition_signals' two partial-agg pipelines plus one
    map-only projection (stop-word count, character sum), joined
    id-to-id — per-doc work O(doc length), nothing corpus-quadratic."""
    from telecom_competitor_analysis_spark.functions.text import (
        stopword_count,
        sum_word_len,
    )

    rep = repetition_signals(df, id_col, text_col)
    base = df.select(
        F.col(id_col),
        sum_word_len(F.trim(F.col(text_col))).alias("__swl"),
        stopword_count(F.trim(F.col(text_col))).alias("__stop"),
    )
    j = rep.join(base, on=id_col)
    # NULL-text docs arrive from repetition_signals as zero-signal rows
    # (n_words=0, __swl/__stop NULL): every ratio rule is guarded on
    # n_words > 0 (no ANSI divide-by-zero) and every rule coalesces a
    # NULL verdict to False — an unscorable doc FAILS screens, it never
    # sails through as NULL.
    has_words = F.col("n_words") > 0
    mean_wl = F.col("__swl").cast("double") / F.col("n_words")
    rules = {
        "r_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "r_mean_word_len": F.when(
            has_words,
            (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len),
        ),
        "r_stopwords": F.col("__stop") >= min_stopwords,
        "r_top_word": F.col("top_word_fraction") <= max_top_word_fraction,
        "r_distinct": F.when(
            has_words,
            (F.col("n_distinct_words").cast("double") / F.col("n_words"))
            >= min_distinct_fraction,
        ),
        "r_dup_bigrams": F.col("dup_bigram_fraction")
        <= max_dup_bigram_fraction,
    }
    rules = {
        name: F.coalesce(c.cast("boolean"), F.lit(False))
        for name, c in rules.items()
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return j.select(
        F.col(id_col),
        F.col("n_words"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes"),
    )


def classifier_weights(
    n_buckets: int = 64, seed: int = 0
) -> list[int]:
    """Deterministic pseudo-weights for the hashed linear quality
    scorer, in integer micro-units: bucket b's weight is derived from
    md5('qw|{seed}|{b}') and lands uniformly in [-1e6, +1e6]. Like the
    LSH hyperplanes (operators/similarity.py), the weights depend only
    on constants, so they are generated driver-side (hashlib) and
    inlined identically into the DuckDB oracle — a stand-in for a
    trained fasttext-style model's weight vector, with the exact same
    serving shape (the real pipeline would broadcast the trained
    vector instead)."""
    import hashlib

    return [
        int(hashlib.md5(f"qw|{seed}|{b}".encode()).hexdigest()[:8], 16)
        % 2_000_001
        - 1_000_000
        for b in range(n_buckets)
    ]


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
    seed: int = 0,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Model-based quality filtering, the fasttext-classifier stage of
    GPT-3/LLaMA-style pipelines (hashing-trick bag-of-words × a fixed
    weight vector → score → keep/drop): each word hashes to one of
    ``n_buckets`` feature buckets (first two hex chars of md5, mod
    n_buckets — portable to any engine), the doc's score is the SUM of
    its words' bucket weights in exact integer micro-units, and the
    verdict is score ≥ 0.

    Scale shape: this is pure MODEL INFERENCE and it plans as a
    map-only projection — the per-doc sum is an ``aggregate`` fold over
    the words array inside one codegen'd expression, the weight vector
    is an array LITERAL (broadcast-by-constant-folding; n_buckets ≪
    dictionary size is the hashing trick's point), and there is NO
    explode, NO shuffle, NO Python. At 100 TB this runs at scan speed;
    plan-asserted zero exchanges. Integer micro scoring keeps the sum
    partial-order-free (exact, any engine, any partitioning).

    Returns (id, *extra_cols, n_words, score_micro, keep)."""
    w = classifier_weights(n_buckets, seed)
    weights = F.array(*[F.lit(x).cast("long") for x in w])
    bucket = lambda word: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(word), 1, 2), 16, 10).cast("int"),
        F.lit(n_buckets),
    )
    ws = words(F.trim(F.col(text_col)))
    score = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, word: acc
        + F.element_at(weights, bucket(word) + F.lit(1)),
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.size(ws).cast("long").alias("n_words"),
        score.alias("score_micro"),
        (score >= 0).alias("keep"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 10,
    min_line_words: int = 5,
    badwords: tuple[str, ...] = ("dup",),
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    §2.2) — the sub-document complement of the doc-level gopher_rules:
    each document is segmented into lines, lines failing a rule are cut,
    the document is reassembled from its surviving lines, and documents
    left with too few lines are dropped entirely. C4's published rules,
    adapted to this corpus: a line must carry at least ``min_line_words``
    words (C4: "only retained lines that ... contained at least 5
    words") and must not contain a blocklisted word (C4's bad-word /
    "javascript" rule; ``badwords`` defaults to the corpus boilerplate
    marker). Docs keep >= ``min_kept_lines`` lines or are dropped (C4:
    "discarded any page with fewer than 3 sentences").

    Segmentation is deterministic fixed-width word windows (``w`` words
    — same convention as dedup.paragraph_dedup: the synthetic corpus has
    no newline boundaries; in the wild swap in split(text, '\\n')).

    Returns (id, n_lines, n_kept, n_drop_short, n_drop_badword,
    n_kept_words, clean_md5) for surviving docs; clean_md5 pins the
    reassembled text content without shipping it.

    Rule attribution precedence: a line failing BOTH rules counts as
    short (first rule wins), so the drop counts partition the dropped
    lines exactly: n_lines = n_kept + n_drop_short + n_drop_badword.

    Scale shape: the whole operator is ONE narrow projection with ZERO
    exchanges — scan -> project -> filter; at 100 TB it runs at scan
    speed and composes map-side with any downstream shuffle.

    Evaluation shape (the q_mutation_recall lesson, measured here too):
    the first cut materialized a line ARRAY via ``slice(ws, i*w+1, w)``
    inside a transform lambda and re-referenced it five times — every
    reference re-evaluated the inlined split, and every slice copied a
    window, landing the ×100 probe at 16×. This form never builds line
    arrays at all: only the TAIL chunk can be short (full chunks carry
    exactly ``w`` words — validated min_line_words <= w), badword lines
    are ``array_distinct`` of the badword occurrences' chunk ids (one
    flat indexed transform), and the surviving text is one flat
    word-level pass gated on (chunk != short tail) AND (chunk not in
    bad set). Every lambda is single-level over the word array.
    """
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    if min_line_words > w:
        raise ValueError(
            f"min_line_words ({min_line_words}) > w ({w}) would mark every"
            " line short; use a window at least as wide as the rule"
        )
    # under-split guard: the per-row array/digest work is compute-heavy,
    # and a single-file local scan serializes it onto one core (measured
    # 6.2x at the x10 probe before this line; 1.5x after). On a real
    # cluster the scan is well-split and the gate conf makes this a
    # no-op — the plan stays scan -> project -> filter, zero exchanges.
    df = ensure_parallelism(df)
    ws = F.split(F.trim(F.col(text_col)), " ")
    bad = F.array(*[F.lit(b) for b in badwords])
    base = df.select(
        F.col(id_col),
        ws.alias("__ws"),
        F.size(ws).cast("bigint").alias("__n"),
    )
    n = F.col("__n")
    n_lines = F.ceil(n / F.lit(float(w))).cast("bigint")
    tail_len = n % w
    # the tail chunk is the only possibly-short line (min_line_words<=w)
    tail_short = (tail_len > 0) & (tail_len < min_line_words)
    chunk = lambda i: (i / w).cast("bigint")  # noqa: E731
    # distinct chunk ids containing a badword (one flat indexed pass)
    bad_chunks = F.array_distinct(
        F.filter(
            F.transform(
                F.col("__ws"),
                lambda wrd, i: F.when(F.array_contains(bad, wrd), chunk(i)),
            ),
            lambda c: c.isNotNull(),
        )
    )
    stage = base.select(
        F.col(id_col),
        F.col("__ws"),
        n.alias("__n"),
        n_lines.alias("n_lines"),
        tail_len.alias("__tail_len"),
        tail_short.alias("__tail_short"),
        bad_chunks.alias("__bad"),
    )
    tail_idx = F.col("n_lines") - 1
    # badword lines exclude a short tail (short-first attribution)
    bad_not_short = F.when(
        F.col("__tail_short"),
        F.array_remove(F.col("__bad"), tail_idx),
    ).otherwise(F.col("__bad"))
    counted = stage.select(
        F.col(id_col),
        F.col("__ws"),
        F.col("n_lines"),
        F.col("__n"),
        F.col("__tail_len"),
        F.col("__tail_short"),
        F.col("__tail_short").cast("bigint").alias("n_drop_short"),
        bad_not_short.alias("__badl"),
    )
    n_drop_badword = F.size(F.col("__badl")).cast("bigint")
    # words lost to dropped lines: the short tail's words + w per full
    # bad chunk (a non-short bad TAIL has tail_len words, not w)
    bad_tail_not_short = F.array_contains(
        F.col("__badl"), F.col("n_lines") - 1
    ) & (F.col("__tail_len") > 0)
    lost_bad = (
        F.size(F.col("__badl")).cast("bigint") * w
        - F.when(
            bad_tail_not_short, F.lit(w) - F.col("__tail_len")
        ).otherwise(F.lit(0))
    )
    lost_short = F.when(
        F.col("__tail_short"), F.col("__tail_len")
    ).otherwise(F.lit(0))
    # surviving text: one flat word pass gated on the chunk verdicts
    keep_word = lambda wrd, i: F.when(  # noqa: E731
        ~(
            (F.col("__tail_short") & (chunk(i) == F.col("n_lines") - 1))
            | F.array_contains(F.col("__badl"), chunk(i))
        ),
        wrd,
    )
    clean = F.array_join(
        F.filter(
            F.transform(F.col("__ws"), keep_word), lambda x: x.isNotNull()
        ),
        " ",
    )
    out = counted.select(
        F.col(id_col),
        F.col("n_lines"),
        (F.col("n_lines") - F.col("n_drop_short") - n_drop_badword)
        .cast("bigint")
        .alias("n_kept"),
        F.col("n_drop_short"),
        n_drop_badword.alias("n_drop_badword"),
        (F.col("__n") - lost_short - lost_bad)
        .cast("bigint")
        .alias("n_kept_words"),
        F.md5(clean).alias("clean_md5"),
    )
    return out.filter(F.col("n_kept") >= F.lit(min_kept_lines))
