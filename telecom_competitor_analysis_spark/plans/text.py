"""Text analytics: tokenization, vocabulary and n-gram statistics, BPE,
language identification, PII scrubbing, entropy and readability, and the
corpus-level frequency-law fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.text import (
    bpe_ish_token_count,
    lang_id_heuristic,
    n_distinct_words,
    n_words,
    stopword_count,
    sum_word_len,
    words,
)
from telecom_competitor_analysis_spark.operators.dedup import shingle_rows
from telecom_competitor_analysis_spark.plans.dedup import (
    _POSITIONAL_GRAMS_CTES,
)
from telecom_competitor_analysis_spark.plans.registry import query
from telecom_competitor_analysis_spark.plans.stats import OLS_SLOPE_MICRO_EXPR
from telecom_competitor_analysis_spark.sources.readers import load_table


# BPE merge candidates (q_bpe_merges): adjacent char pairs
# over the distinct vocabulary, weighted by word frequency.
@query("""
    WITH tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word, COUNT(*)::BIGINT AS freq
        FROM tok GROUP BY word
        HAVING len(word) >= 2
    ),
    idx AS (
        SELECT word, freq,
               UNNEST(generate_series(1, len(word) - 1)) AS i
        FROM vocab
    ),
    counts AS (
        SELECT substr(word, i, 2) AS pair,
               SUM(freq)::BIGINT AS n_occurrences
        FROM idx GROUP BY 1
    )
    SELECT CAST(row_number() OVER (
               ORDER BY n_occurrences DESC, pair ASC
           ) AS INT) AS rank,
           pair, n_occurrences
    FROM counts
    ORDER BY rank
    LIMIT 30
""")
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate mining (Sennrich et al. 2016, the statistic
    one merge iteration maximizes): corpus-wide adjacent character-pair
    frequencies, weighted by word occurrence counts — the top-30 pairs
    are the first merges a tokenizer trained on this corpus would
    learn.

    Scale shape: pair extraction runs over the DISTINCT vocabulary
    (one groupBy(word) collapses the token stream first — the pair
    explode touches |vocab| short strings, not the corpus), weighted by
    the aggregated frequency; then one groupBy(pair) and a
    constant-bound top-30. Character slicing is a narrow
    transform-over-sequence (substr is char-based in both engines, so
    CJK text is pair-split identically)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(words(F.trim(F.col("text")))).alias("word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = vocab.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("n_occurrences")
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 30)
        .select("rank", "pair", "n_occurrences")
    )


# OOV rate per language (q_oov_rate): corpus-wide top-512
# vocabulary, per-lang out-of-vocabulary token share.
@query("""
    WITH tok AS (
        SELECT lang, unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    counts_lw AS (
        SELECT lang, word, COUNT(*)::BIGINT AS n FROM tok GROUP BY 1, 2
    ),
    counts_w AS (
        SELECT word, SUM(n)::BIGINT AS n_total FROM counts_lw GROUP BY 1
    ),
    vocab AS (
        SELECT word FROM counts_w
        ORDER BY n_total DESC, word ASC LIMIT 512
    )
    SELECT lang,
           SUM(n)::BIGINT AS n_tokens,
           SUM(CASE WHEN v.word IS NULL THEN n ELSE 0 END)::BIGINT
               AS n_oov,
           round(
               CAST(SUM(CASE WHEN v.word IS NULL THEN n ELSE 0 END)
                    AS DOUBLE) / SUM(n), 6
           ) AS oov_rate
    FROM counts_lw c LEFT JOIN vocab v USING (word)
    GROUP BY lang
""")
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage planning: per-language out-of-vocabulary
    rate against the corpus-wide top-512 vocabulary — the table that
    decides whether a shared vocab starves a language (the fertility
    signal's set-membership twin).

    Scale shape: ONE corpus-scale explode into per-(lang, word) counts
    (persisted — it feeds both the vocab ranking and the per-language
    rollup; the q_dsir_weights pattern); the global word counts DERIVE
    from that aggregate, the top-512 vocab broadcasts back, and the
    OOV rollup is O(langs × vocab). The vocab selection is sort+limit
    — TakeOrderedAndProject, the distributed partial top-k
    (plan-asserted) — NOT a global row_number window, which for an
    unpartitioned spec plans a single-partition Window regardless of
    the rank bound."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(words(F.trim(F.col("text")))).alias("word")
    )
    counts_lw = (
        tok.groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    counts_w = counts_lw.groupBy("word").agg(
        F.sum("n").cast("bigint").alias("n_total")
    )
    vocab = (
        counts_w.orderBy(F.col("n_total").desc(), F.col("word").asc())
        .limit(512)
        .select("word")
    )
    flagged = counts_lw.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), on="word", how="left"
    )
    return flagged.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.round(
            F.sum(
                F.when(F.col("__in").isNull(), F.col("n")).otherwise(0)
            ).cast("double")
            / F.sum("n"),
            6,
        ).alias("oov_rate"),
    )


# q_word_freq — corpus top-50 words by occurrence with doc frequency.
@query("""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    c AS (
        SELECT word,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM tok GROUP BY word
    )
    SELECT
        CAST(row_number() OVER (
            ORDER BY n_occurrences DESC, word ASC) AS INT) AS rank,
        word, n_occurrences, n_docs
    FROM c
    QUALIFY rank <= 50
""")
def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide top-50 words by occurrence count
    with document frequency. One explode + one partial-aggregated groupBy
    on the word (the classic first step of tokenizer/vocab training);
    top-k via a single global window over the 50-row aggregate, not a
    global sort of the token stream."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words(F.trim(F.col("text")))).alias("word")
    )
    counts = tok.groupBy("word").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 50)
        .select("rank", "word", "n_occurrences", "n_docs")
    )


# q_group_topk_words — per-language top-10 words by occurrence.
@query("""
    WITH tok AS (
        SELECT lang, unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    c AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM tok GROUP BY lang, word
    )
    SELECT
        lang,
        CAST(row_number() OVER (
            PARTITION BY lang
            ORDER BY n_occurrences DESC, word ASC) AS INT) AS rank,
        word, n_occurrences
    FROM c
    QUALIFY rank <= 10
""")
def q_group_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 words (the per-stratum variant of
    q_word_freq — per-language vocab/stopword profiling). Constant rank
    bound → WindowGroupLimit keeps map-side top-10 per lang before the
    exchange."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(words(F.trim(F.col("text")))).alias("word")
    )
    counts = tok.groupBy("lang", "word").agg(
        F.count("*").alias("n_occurrences")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_occurrences").desc(), F.col("word").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("lang", "rank", "word", "n_occurrences")
    )


# q_common_ngrams — top-20 3-word shingles by distinct-document frequency.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    sh AS (
        SELECT DISTINCT
            t.doc_id,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS ngram
        FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    c AS (
        SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sh GROUP BY ngram
    )
    SELECT
        CAST(row_number() OVER (ORDER BY n_docs DESC, ngram ASC) AS INT)
            AS rank,
        ngram, n_docs
    FROM c
    QUALIFY rank <= 20
""")
def q_common_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate n-gram mining: top-20 3-word shingles by the number of
    DISTINCT documents containing them (the CCNet-style boilerplate
    signal — an n-gram present in many documents is template text, not
    content). Distinct-per-doc explode, then one groupBy on the shingle."""
    from telecom_competitor_analysis_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", "text", w=3).distinct()
    counts = sh.groupBy(F.col("word").alias("ngram")).agg(
        F.count("*").alias("n_docs")
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("ngram").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
        .select("rank", "ngram", "n_docs")
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


_PHONE_RE = r"\b555-[0-9]{4}\b"


# q_pii_scrub — identical synthetic PII injection, then regex masking.
@query(r"""
    WITH s AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth
        FROM documents
    )
    SELECT
        doc_id,
        regexp_replace(
            regexp_replace(
                synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g'),
            '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS scrubbed_text,
        CAST(len(regexp_extract_all(
            synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(synth, '\b555-[0-9]{4}\b'))
            AS BIGINT) AS n_phones
    FROM s
""")
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-mask emails and phone numbers, with per-doc
    match counts for audit. The testdata corpus contains no PII, so a
    deterministic synthetic email + phone is appended per document (both
    engines construct the identical string) — the scrub then provably
    removes it. Map-only regexp_replace / regexp_extract_all; at 100 TB
    this is a pure narrow stage with zero shuffle. The scan gets the
    shared ensure_parallelism guard: three regex passes per row are
    compute-bound, and a small parquet's 1-2 splits would serialize
    them onto 1-2 cores (the r9 full-surface ×10 sweep caught exactly
    that — 14× wall on 10× data from a 2-split scan; with the guard
    the ×10 run lands at 0.8 s, BELOW the sf0.1 time, because 32-way
    splits amortize the fixed stage cost)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    masked = F.regexp_replace(
        F.regexp_replace(synth, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        masked.alias("scrubbed_text"),
        F.size(F.regexp_extract_all(synth, F.lit(_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(synth, F.lit(_PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
    )


@query("""
        SELECT
            doc_id,
            len(string_split(text, ' '))::BIGINT AS n_words,
            len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct_words,
            CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                 AS BIGINT) AS sum_word_len,
            CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                 AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len,
            len(list_filter(string_split(text, ' '),
                w -> lower(w) IN ('the','a','of','and','to','in','is')))::BIGINT
                AS stopword_count,
            CAST(len(list_filter(string_split(text, ' '),
                w -> lower(w) IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                / len(string_split(text, ' ')) AS stopword_ratio
        FROM documents
    """)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring stats: word counts, length sums, stopword ratio.
    All exact integer aggregates over arrays; the two ratios are single
    well-defined double divisions."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        n_words(t).alias("n_words"),
        n_distinct_words(t).alias("n_distinct_words"),
        sum_word_len(t).alias("sum_word_len"),
        (sum_word_len(t).cast("double") / n_words(t)).alias("avg_word_len"),
        stopword_count(t).alias("stopword_count"),
        (stopword_count(t).cast("double") / n_words(t)).alias("stopword_ratio"),
    )


@query(r"""
        SELECT
            doc_id,
            len(string_split(text, ' '))::BIGINT AS ws_tokens,
            len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT
                AS bpe_tokens
        FROM documents
    """)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_words(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


# PMI collocations (q_pmi_pairs): ±2-window unordered
# pairs, min count 5, PMI in double with the operand order written
# identically to the Spark side, rounded 6; top-100 deterministic.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    toks AS (
        SELECT doc_id, arr[i] AS w
        FROM t, unnest(generate_series(1, len(arr))) AS g(i)
    ),
    pairs AS (
        SELECT least(arr[i], arr[i + 1]) AS x,
               greatest(arr[i], arr[i + 1]) AS y
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS g(i)
        WHERE arr[i] != arr[i + 1]
        UNION ALL
        SELECT least(arr[i], arr[i + 2]),
               greatest(arr[i], arr[i + 2])
        FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
        WHERE arr[i] != arr[i + 2]
    ),
    cxy AS (
        SELECT x, y, COUNT(*)::BIGINT AS c_xy
        FROM pairs GROUP BY x, y HAVING COUNT(*) >= 5
    ),
    cw AS (SELECT w, COUNT(*)::BIGINT AS c_w FROM toks GROUP BY w),
    tot AS (
        SELECT CAST(SUM(len(arr)) AS BIGINT) AS n_tokens,
               CAST(SUM(greatest(len(arr) - 1, 0))
                    + SUM(greatest(len(arr) - 2, 0)) AS BIGINT) AS n_pairs
        FROM t
    )
    SELECT
        cxy.x,
        cxy.y,
        cxy.c_xy,
        round(ln(
            (cxy.c_xy::DOUBLE / tot.n_pairs::DOUBLE)
            / ((cx.c_w::DOUBLE / tot.n_tokens::DOUBLE)
               * (cy.c_w::DOUBLE / tot.n_tokens::DOUBLE))
        ), 6) AS pmi
    FROM cxy
    JOIN cw cx ON cx.w = cxy.x
    JOIN cw cy ON cy.w = cxy.y
    CROSS JOIN tot
    ORDER BY pmi DESC, cxy.x ASC, cxy.y ASC
    LIMIT 100
""")
def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-100 word pairs by pointwise mutual
    information over a ±2-word co-occurrence window (the classic
    phrase-detection signal; word2vec-era pipelines ship exactly this
    to merge 'new york'-style units before training). Pairs are
    unordered-canonicalized (least, greatest), self-pairs excluded,
    min count 5 (PMI is noise below that).

    Exactness: all counts are exact integers off partial-agg shuffles;
    PMI is computed in double with an operand order written identically
    in both engines and rounded to 6 (the tfidf discipline). The
    normalizers are DEFINED from doc lengths — N = Σ tokens, P = Σ
    co-occurrence slots (len-1) + (len-2) — so they are map-only
    aggregates off the scan and the pair WINDOW has exactly one
    consumer (deriving P by counting pair rows would duplicate the
    whole window subtree into the total's branch; Spark reuses nothing
    across the two consumers — plan-asserted single Window). Word/pair
    counts partial-aggregate, N and P are a one-row broadcast, the
    word-count join is AQE's choice, and the top-100 is a
    TakeOrderedAndProject — never a global sort of the pair
    vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(words(F.trim(F.col("text")))).alias("pos", "w"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    # BOTH leads come off ONE window pass (a union of per-offset
    # branches would re-scan and re-exchange the token table per
    # offset), then explode to pair rows
    pair_rows = (
        toks.select(
            "w",
            F.lead("w", 1).over(win).alias("lw1"),
            F.lead("w", 2).over(win).alias("lw2"),
        )
        .select(
            F.explode(
                F.array(F.col("lw1"), F.col("lw2"))
            ).alias("lw"),
            "w",
        )
        .filter(F.col("lw").isNotNull() & (F.col("w") != F.col("lw")))
        .select(
            F.least(F.col("w"), F.col("lw")).alias("x"),
            F.greatest(F.col("w"), F.col("lw")).alias("y"),
        )
    )
    c_xy = (
        pair_rows.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    c_w = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    doc_len = docs.select(
        F.size(words(F.trim(F.col("text")))).cast("long").alias("L")
    )
    totals = F.broadcast(
        doc_len.agg(
            F.sum("L").alias("n_tokens"),
            (
                F.sum(F.greatest(F.col("L") - 1, F.lit(0)))
                + F.sum(F.greatest(F.col("L") - 2, F.lit(0)))
            ).alias("n_pairs"),
        )
    )
    joined = (
        c_xy.join(c_w.withColumnRenamed("w", "x").withColumnRenamed(
            "c_w", "c_x"), on="x")
        .join(c_w.withColumnRenamed("w", "y").withColumnRenamed(
            "c_w", "c_y"), on="y")
        .crossJoin(totals)
    )
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") / F.col("n_pairs").cast("double"))
            / (
                (F.col("c_x").cast("double") / F.col("n_tokens").cast("double"))
                * (F.col("c_y").cast("double") / F.col("n_tokens").cast("double"))
            )
        ),
        6,
    )
    return (
        joined.select("x", "y", "c_xy", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(100)
    )


# Tokenizer fertility per language (q_fertility): exact
# integer token sums, one rounded double division.
@query(r"""
    WITH d AS (
        SELECT
            lang,
            len(string_split(text, ' '))::BIGINT AS ws,
            len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT
                AS bpe
        FROM documents
    )
    SELECT
        lang,
        COUNT(*)::BIGINT AS n_docs,
        CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        round(CAST(SUM(bpe) AS BIGINT) / CAST(SUM(ws) AS BIGINT), 6)
            AS fertility
    FROM d GROUP BY lang
""")
def q_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word, aggregated per lang — the signal a multilingual mix designer
    watches (a language whose tokenizer fragments words 2× costs 2× the
    budget per word; CC-mix papers report exactly this ratio). Exact
    integer token sums; the ratio is ONE double division rounded to 6
    (cross-engine bit-stable). Map-side counts, one partial-agg shuffle
    on lang. The scan carries the shared ensure_parallelism guard —
    the BPE-ish regex pass is compute-bound and a small parquet's 1-2
    splits serialize it (r9 full-surface ×10 sweep: 6.2× → 1.6× with
    the guard)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "lang",
            n_words(F.col("text")).alias("ws"),
            bpe_ish_token_count(F.col("text")).alias("bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            F.round(
                F.col("bpe_tokens") / F.col("ws_tokens"), 6
            ).alias("fertility"),
        )
    )


@query("""
        WITH scored AS (
            SELECT
                doc_id,
                len(list_filter(string_split(lower(text), ' '),
                    w -> w IN ('the','and','of','is'))) AS en,
                len(list_filter(string_split(lower(text), ' '),
                    w -> w IN ('el','la','de','que'))) AS es,
                len(list_filter(string_split(lower(text), ' '),
                    w -> w IN ('der','die','und','das'))) AS de
            FROM documents
        )
        SELECT
            doc_id,
            CASE
                WHEN en >= es AND en >= de AND en > 0 THEN 'en'
                WHEN es >= de AND es > 0 THEN 'es'
                WHEN de > 0 THEN 'de'
                ELSE 'unknown'
            END AS pred_lang
        FROM scored
    """)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic argmax)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", lang_id_heuristic(F.col("text")).alias("pred_lang")
    )


# q_chunk_overlap — 32-token windows at stride 16; DuckDB list_slice is
# inclusive-end and clamps, matching Spark slice(arr, start, 32).
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    )
    SELECT
        doc_id,
        CAST((i - 1) // 16 AS INT) AS chunk_idx,
        array_to_string(list_slice(arr, i, i + 31), ' ') AS chunk_text,
        CAST(len(list_slice(arr, i, i + 31)) AS INT) AS n_tokens
    FROM t, unnest(generate_series(1, len(arr), 16)) AS g(i)
""")
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (RAG / context-window prep): word
    windows of 32 tokens at stride 16, emitted as
    (doc_id, chunk_idx, chunk_text, n_tokens). One tokenize + one
    sequence-explode — map-only, zero shuffles; trailing short chunks
    kept (standard chunker behavior)."""
    docs = load_table(spark, sf_dir, "documents")
    w, s = 32, 16
    d = docs.select(
        "doc_id",
        words(F.trim(F.col("text"))).alias("arr"),
    ).select(
        "doc_id",
        "arr",
        F.posexplode(
            F.sequence(F.lit(1), F.size("arr"), F.lit(s))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice(F.col("arr"), F.col("start"), w)
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("int").alias("n_tokens"),
    )


@query("""
        WITH scored AS (
            SELECT
                doc_id,
                CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> w IN ('fast','small','the')))
                  - len(list_filter(string_split(lower(text), ' '),
                    w -> w IN ('slow','large','error'))) AS BIGINT)
                    AS sentiment_score
            FROM documents
        )
        SELECT
            doc_id,
            sentiment_score,
            CASE WHEN sentiment_score > 0 THEN 'pos'
                 WHEN sentiment_score < 0 THEN 'neg'
                 ELSE 'neutral' END AS sentiment
        FROM scored
    """)
def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment scoring (the Spark-text-classification shape,
    deterministic lexicon counts instead of a trained model): positive vs
    negative marker hits → score and label. Map-only."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ")
    pos = F.size(F.filter(w, lambda x: x.isin("fast", "small", "the")))
    neg = F.size(F.filter(w, lambda x: x.isin("slow", "large", "error")))
    score = (pos - neg).cast("long")
    return docs.select(
        "doc_id",
        score.alias("sentiment_score"),
        F.when(score > 0, F.lit("pos"))
        .when(score < 0, F.lit("neg"))
        .otherwise(F.lit("neutral"))
        .alias("sentiment"),
    )


@query("""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text IS NOT NULL
    ),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE word <> '' GROUP BY doc_id, word
    ),
    df AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
    ),
    n AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, word, tf, df,
           round(tf * ln(n_docs / CAST(df AS DOUBLE)), 6) AS tfidf_r,
           CAST(row_number() OVER (
                PARTITION BY doc_id
                ORDER BY tf * ln(n_docs / CAST(df AS DOUBLE)) DESC,
                         word ASC) AS INT) AS rank
    FROM tf JOIN df USING (word) CROSS JOIN n
    QUALIFY rank <= 3
""")
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tf × ln(N/df)) — corpus-level
    term weighting, the feature-extraction counterpart of the per-doc
    q_text_stats. Exact integer tf/df; the weight is one division + ln,
    rounded to 6; ranking uses the unrounded weight with a word
    tie-break (equal (tf, df) ⇒ equal weight in both engines)."""
    from telecom_competitor_analysis_spark.operators.features import (
        tfidf_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, "doc_id", "text", k=3)


# q_bigram_lm — add-one-smoothed bigram LM self-scoring (operators/lm.py).
@query("""
    WITH t AS (
        SELECT doc_id AS id, string_split(trim(text), ' ') AS arr
        FROM documents
    ),
    bg AS (
        SELECT id, arr[i] AS w1, arr[i + 1] AS w2
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS g(i)
    ),
    cbg AS (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c_bg
        FROM bg GROUP BY w1, w2
    ),
    cctx AS (
        SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c_ctx FROM bg GROUP BY w1
    ),
    v AS (
        SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
        FROM t, unnest(arr) AS u(w)
    )
    SELECT
        id AS doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        round(
            CAST(SUM(CAST(round(
                ln((c_bg + 1.0) / (c_ctx + v)) * 1000000.0, 0
            ) AS BIGINT)) AS DOUBLE)
            / (CAST(COUNT(*) AS DOUBLE) * 1000000.0),
            6
        ) AS avg_logp
    FROM bg
    JOIN cbg USING (w1, w2)
    JOIN cctx USING (w1)
    CROSS JOIN v
    GROUP BY id
""")
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under the add-one-
    smoothed corpus bigram model (operators/lm.py) — the exact,
    portable stand-in for CCNet's KenLM perplexity filter. Map-only
    bigram zip; counts partial-aggregate; per-bigram log-probs rounded
    to micro-units before the per-doc sum."""
    from telecom_competitor_analysis_spark.operators.lm import (
        bigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


# Positional phrase retrieval (q_phrase_search): global
# top-1 3-gram (ties → smallest), then per-doc occurrence rollup.
@query(_POSITIONAL_GRAMS_CTES + """,
    top1 AS (
        SELECT gram FROM g GROUP BY gram
        ORDER BY COUNT(*) DESC, gram ASC LIMIT 1
    )
    SELECT doc_id,
           gram AS phrase,
           COUNT(*)::BIGINT AS n_hits,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM g JOIN top1 USING (gram)
    GROUP BY doc_id, gram
""")
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase retrieval: mine the corpus's single most
    frequent 3-word phrase (ties → lexicographically smallest), then
    report every document containing it with occurrence count and
    first position — the exact-phrase-query shape of a positional
    inverted index, composed from the same lead-window 3-gram stage as
    q_dup_span_stats.

    Scale shape: 3-grams via two leads on ONE doc_id window exchange;
    the global top-1 phrase is sort+limit → TakeOrderedAndProject (the
    distributed partial top-k, plan-asserted — never a single-partition
    global window); the 1-row phrase BROADCASTS back onto the gram
    stream, so the retrieval leg is a map-side semi-filter followed by
    a partial-agg per-doc rollup. At 100 TB the gram stream would come
    from a materialized positional index (the build_shingle_index
    pattern); the probe side is unchanged."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        positional_ngrams,
    )

    docs = load_table(spark, sf_dir, "documents")
    grams = positional_ngrams(docs, "doc_id", "text", n=3)
    top1 = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .orderBy(F.col("n_total").desc(), F.col("gram").asc())
        .limit(1)
    )
    return (
        grams.join(F.broadcast(top1), on="gram")
        .groupBy("doc_id", "gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .select("doc_id", F.col("gram").alias("phrase"), "n_hits", "first_pos")
    )


# q_char_entropy (q_char_entropy) — per-doc character
# Shannon entropy under the repo's log convention: every ln()
# micro-rounded to an integer immediately, exact integer sums, ONE
# final rounded division per doc.
@query("""
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents
    ),
    pc AS (
        SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM chars WHERE ch != '' GROUP BY doc_id, ch
    ),
    agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * CAST(round(ln(c) * 1000000, 0) AS BIGINT))
                    AS BIGINT) AS sclnc_micro
        FROM pc GROUP BY doc_id
    )
    SELECT doc_id, n,
           round((CAST(round(ln(n) * 1000000, 0) AS BIGINT)
                  - sclnc_micro / n) / 1000000.0, 6) AS entropy
    FROM agg
""")
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    low-quality-text signal (gibberish and character floods sit at the
    extremes; C4/Gopher-family heuristic). Cross-engine exact via the
    repo's log convention (q_bigram_lm): each ln() is micro-rounded to
    an integer immediately, the per-doc aggregation sums exact
    integers, and ONE final division is rounded to 6 — so the float
    boundary is a single deterministic op per doc, never an
    association-sensitive sum. H = ln(n) − Σc·ln(c)/n over character
    counts. Scale shape: the char explode is linear in bytes and
    collapses map-side in the (doc_id, ch) pre-aggregate; both
    aggregates share the doc_id exchange lineage."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    # the char explode is the compute-heavy map stage — guard the
    # under-split local scan (×10 probe: 4.5× on a 2-split scan)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        per_char.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(
                F.col("c")
                * F.round(F.log(F.col("c").cast("double")) * 1_000_000)
                .cast("long")
            ).cast("long").alias("sclnc_micro"),
        )
        .select(
            "doc_id",
            "n",
            F.round(
                (
                    F.round(F.log(F.col("n").cast("double")) * 1_000_000)
                    .cast("long")
                    - F.col("sclnc_micro") / F.col("n")
                )
                / F.lit(1_000_000.0),
                6,
            ).alias("entropy"),
        )
    )


# q_vocab_coverage (q_vocab_coverage) — top-20 words with
# cumulative corpus share (exact integer ppm, floor division).
@query("""
    WITH toks AS (
        SELECT unnest(string_split(trim(lower(text)), ' ')) AS word
        FROM documents
    ),
    c AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY word
    ),
    top AS (
        SELECT word, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS INT)
                   AS rank
        FROM c
        ORDER BY cnt DESC, word ASC
        LIMIT 20
    )
    SELECT rank, word, cnt,
           CAST(SUM(cnt) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
                * 1000000 // (SELECT COUNT(*) FROM toks) AS BIGINT)
               AS coverage_ppm
    FROM top
""")
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design readout ("how
    much of the corpus do the top-k vocabulary entries cover"): top-20
    words by frequency with the cumulative corpus share of each prefix
    in exact integer ppm. Scale shape: the global top-20 is a
    DISTRIBUTED sort-limit (TakeOrderedAndProject — never a
    single-partition window over the full vocabulary, which at web
    scale is billions of n-grams); the cumulative window then runs over
    exactly 20 rows, and the corpus total arrives as a broadcast 1-row
    aggregate. Ties break on the word for a deterministic curve."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(words(F.trim(F.lower(F.col("text"))))).alias("word")
    )
    counts = toks.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(20)
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("__total"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
            ),
        )
        .withColumn("cum_cnt", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "word",
            "cnt",
            F.expr("CAST(cum_cnt * 1000000 DIV __total AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
    )


# q_heavy_hitters (q_heavy_hitters) — the PLAIN exact
# threshold count over all bigrams: the Spark side's Misra-Gries
# candidate pass is answer-transparent (guaranteed superset + exact
# verify), so a hash match proves the bounded-state summary lossless.
# generate_series(1, 0) is empty in DuckDB, mirroring the size >= 2
# guard; the threshold compare is exact integer arithmetic.
@query("""
    WITH t AS (
        SELECT string_split(trim(lower(text)), ' ') AS arr FROM documents
    ),
    g AS (
        SELECT arr[i] || ' ' || arr[i + 1] AS token
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS s(i)
    ),
    c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY token
    )
    SELECT token, cnt FROM c
    WHERE cnt * 800 > (SELECT COUNT(*) FROM g)
""")
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (bigrams above 1/800 of all bigram
    occurrences) via the Misra-Gries candidate + exact verify pattern
    (operators/freq.py): bounded per-task summary state, candidate set
    broadcast into the verify count — the full bigram vocabulary is
    NEVER shuffled. The oracle is the plain threshold count, so a green
    run proves the bounded-state candidate pass lossless on this corpus
    (the same proof shape as q_setsim_join's prefix filter). k = 800
    counters is BELOW the bigram vocabulary (~916 at sf0.01), so the MG
    decrement path genuinely fires here — this is not a vocabulary that
    fits the summary trivially. Threshold compare is exact integer
    arithmetic (cnt·800 > N)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )
    from telecom_competitor_analysis_spark.operators.freq import (
        heavy_hitters,
    )
    from telecom_competitor_analysis_spark.operators.lm import bigram_rows

    # under-split guard on the DOC scan (before the explode): the MG
    # summary is the one Python-bound stage here, and a single parquet
    # split serializes it onto one core (measured 4.7× at the ×10 probe
    # on a 2-split scan); repartitioning docs is doc-granular — the
    # token stream itself is never shuffled
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    bigrams = bigram_rows(
        docs.select("doc_id", F.lower(F.col("text")).alias("text")),
        "doc_id",
        "text",
    ).select(F.concat_ws(" ", "w1", "w2").alias("token"))
    return heavy_hitters(bigrams, "token", inv_frac=800)


# Per-doc 3-gram novelty (q_ngram_novelty): distinct
# (doc, gram) universe, df = docs per gram, novelty = df==1 fraction
# in integer micro.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    sh AS (
        SELECT DISTINCT
            t.doc_id,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS sh
        FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    d AS (
        SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_micro
    FROM sh JOIN d USING (sh)
    GROUP BY doc_id
""")
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the cross-corpus complement of the
    intra-doc q_quality_repetition: for each doc, the fraction of its
    distinct 3-gram shingles that occur in NO other document
    (document frequency exactly 1 over the distinct (doc, gram)
    universe). Low novelty = the doc is assembled from corpus
    boilerplate (near-dup / template suspect even when no single pair
    crosses the Jaccard threshold); high novelty = unique content worth
    its training tokens. The same readout, run against a TRUSTED corpus
    instead, is the memorization-risk screen.

    Integer-exact: novelty in micro units via integer division — no FP
    boundary between engines.

    Scale shape: shingle_rows' single window pass (doc-id partitioned),
    distinct on (doc, gram) with map-side combine, then df via a
    partial-aggregated groupBy(gram) JOINED back on the gram key, and
    the per-doc rollup shuffles on the doc id. The df side is
    deliberately a groupBy + join, NOT a count window over
    partitionBy(gram): an unbounded-frame window BUFFERS its whole
    partition, so one boilerplate gram shared by 10⁹ docs is a
    single-task OOM at scale, while the groupBy collapses map-side and
    the join is AQE-skew-splittable (r8 review finding — the window
    form shipped first). No pairing stage at all: unlike the
    Jaccard/containment family this never joins doc against doc, so
    there is no candidate blowup to cap."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        shingle_rows(docs, "doc_id", "text", w=3)
        .select(F.col("doc_id"), F.col("word").alias("sh"))
        .distinct()
    )
    # df==1 accounting needs NO gram-keyed join-back: a unique gram
    # carries its single owner through the same aggregate that counts
    # it (min == only), so the per-gram leg collapses straight to a
    # per-doc novel count — the ×100 probe measured the join-back form
    # shipping all gram rows through a second gram-keyed exchange for
    # nothing (25.4 s → 15.6 s after this cut).
    novel = (
        grams.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    totals = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    return totals.join(novel, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.expr(
            "CAST(COALESCE(n_novel, 0) * 1000000 DIV n_grams AS BIGINT)"
        ).alias("novelty_micro"),
    )


# Corpus drift (q_corpus_drift): KS over the n_words ECDF
# + TVD over the source mix, halves split on doc_id % 2; all integer
# micro arithmetic mirrored verbatim (window cumsum over the bounded
# per-value rollup).
@query("""
    WITH d AS (
        SELECT CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END AS cand,
               len(string_split(trim(text), ' ')) AS n_words,
               source
        FROM documents
    ),
    v AS (
        SELECT n_words,
               SUM(1 - cand) AS cr, SUM(cand) AS cc
        FROM d GROUP BY n_words
    ),
    c AS (
        SELECT n_words,
               SUM(cr) OVER () AS n_ref,
               SUM(cc) OVER () AS n_cand,
               SUM(cr) OVER (ORDER BY n_words
                             ROWS UNBOUNDED PRECEDING) AS cum_r,
               SUM(cc) OVER (ORDER BY n_words
                             ROWS UNBOUNDED PRECEDING) AS cum_c
        FROM v
    ),
    kd AS (
        SELECT n_words, n_ref, n_cand,
               abs(cum_r * 1000000 // n_ref
                   - cum_c * 1000000 // n_cand) AS d_micro
        FROM c
    ),
    ks AS (
        SELECT 'ks_n_words' AS metric,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cand AS BIGINT) AS n_cand,
               CAST(MAX(d_micro) AS BIGINT) AS stat_micro,
               CAST(arg_max(n_words,
                    lpad(CAST(d_micro AS VARCHAR), 8, '0') || '|'
                    || lpad(CAST(n_words AS VARCHAR), 6, '0'))
                    AS VARCHAR) AS arg
        FROM kd GROUP BY n_ref, n_cand
    ),
    s AS (
        SELECT source, SUM(1 - cand) AS cr, SUM(cand) AS cc
        FROM d GROUP BY source
    ),
    sd AS (
        SELECT source,
               SUM(cr) OVER () AS n_ref,
               SUM(cc) OVER () AS n_cand,
               cr, cc
        FROM s
    ),
    sd2 AS (
        SELECT source, n_ref, n_cand,
               abs(cr * 1000000 // n_ref - cc * 1000000 // n_cand)
                   AS d_micro
        FROM sd
    ),
    tvd AS (
        SELECT 'tvd_source' AS metric,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cand AS BIGINT) AS n_cand,
               CAST(SUM(d_micro) // 2 AS BIGINT) AS stat_micro,
               arg_max(source,
                   lpad(CAST(d_micro AS VARCHAR), 8, '0') || '|'
                   || source) AS arg
        FROM sd2 GROUP BY n_ref, n_cand
    )
    SELECT * FROM ks UNION ALL SELECT * FROM tvd
""")
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots — the
    check a refreshed training corpus passes before a retrain: a
    Kolmogorov-Smirnov statistic on the document-length ECDF (numeric
    drift) and the total-variation distance on the source mix
    (categorical drift). Snapshots here are the deterministic split
    doc_id % 7 < 3 (decorrelated from the corpus's source/length
    derivations — a % 2 split IS the source parity, which pins TVD at
    the useless maximum 1.0; caught on first output inspection) so
    both engines split identically; in production the two sides are yesterday's and
    today's partitions. Complements q_embedding_drift (semantic space)
    with the surface-statistics drift the cheap monitors watch.

    Integer-exact: ECDF values and probabilities in micro via integer
    division, |differences| of micros, max/sum — no FP anywhere, so
    the statistic is bit-identical across engines and shuffle orders.

    Scale shape: each leg is ONE partial-aggregated groupBy over the
    corpus (per distinct word count / per source — both bounded
    cardinality), then windows over the AGGREGATED rows only (the
    ECDF cumsum runs over ≤|distinct lengths| rows, never the corpus;
    same q_shard_balance pattern). For an unbounded-cardinality
    numeric column, pre-bin before this query — the ECDF rollup is
    exact only because the value domain is bounded."""
    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 7 < 3).cast("int").alias("cand"),
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_words"),
        "source",
    )
    # KS leg: ECDF difference can only change at observed values
    per_v = docs.groupBy("n_words").agg(
        F.sum(1 - F.col("cand")).alias("cr"),
        F.sum("cand").alias("cc"),
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("n_words").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ks = (
        per_v.withColumn("n_ref", F.sum("cr").over(w_all))
        .withColumn("n_cand", F.sum("cc").over(w_all))
        .withColumn("cum_r", F.sum("cr").over(w_cum))
        .withColumn("cum_c", F.sum("cc").over(w_cum))
        .withColumn(
            "d_micro",
            F.abs(
                F.expr(
                    "cum_r * 1000000 DIV n_ref - cum_c * 1000000 DIV n_cand"
                )
            ),
        )
        .groupBy("n_ref", "n_cand")
        .agg(
            F.max("d_micro").cast("long").alias("stat_micro"),
            # composite tie-break as a zero-padded string key — DuckDB's
            # arg_max takes no struct key, so both engines order by the
            # SAME lexicographic (d_micro, n_words) encoding
            F.max_by(
                F.col("n_words"),
                F.concat(
                    F.lpad(F.col("d_micro").cast("string"), 8, "0"),
                    F.lit("|"),
                    F.lpad(F.col("n_words").cast("string"), 6, "0"),
                ),
            )
            .cast("string")
            .alias("arg"),
        )
        .select(
            F.lit("ks_n_words").alias("metric"),
            F.col("n_ref").cast("long"),
            F.col("n_cand").cast("long"),
            "stat_micro",
            "arg",
        )
    )
    # TVD leg: half the L1 distance between the source mixes
    per_s = docs.groupBy("source").agg(
        F.sum(1 - F.col("cand")).alias("cr"),
        F.sum("cand").alias("cc"),
    )
    tvd = (
        per_s.withColumn("n_ref", F.sum("cr").over(w_all))
        .withColumn("n_cand", F.sum("cc").over(w_all))
        .withColumn(
            "d_micro",
            F.abs(
                F.expr("cr * 1000000 DIV n_ref - cc * 1000000 DIV n_cand")
            ),
        )
        .groupBy("n_ref", "n_cand")
        .agg(
            F.expr("CAST(SUM(d_micro) DIV 2 AS BIGINT)").alias("stat_micro"),
            F.max_by(
                F.col("source"),
                F.concat(
                    F.lpad(F.col("d_micro").cast("string"), 8, "0"),
                    F.lit("|"),
                    F.col("source"),
                ),
            ).alias("arg"),
        )
        .select(
            F.lit("tvd_source").alias("metric"),
            F.col("n_ref").cast("long"),
            F.col("n_cand").cast("long"),
            "stat_micro",
            "arg",
        )
    )
    return ks.unionByName(tvd)


# Zipf fit (q_zipf_fit): q_scaling_fit's OLS discipline on
# (ln rank, ln freq) of the top-1000 words.
@query("""
    WITH tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
    ),
    f AS (
        SELECT w, COUNT(*)::BIGINT AS f FROM tok
        WHERE w != '' GROUP BY w
    ),
    top AS (SELECT w, f FROM f ORDER BY f DESC, w ASC LIMIT 1000),
    r AS (
        SELECT row_number() OVER (ORDER BY f DESC, w ASC) AS r, f
        FROM top
    ),
    p AS (
        SELECT CAST(round(ln(r) * 1000, 0) AS BIGINT) AS x,
               CAST(round(ln(f) * 1000, 0) AS BIGINT) AS y
        FROM r
    ),
    s AS (
        SELECT COUNT(*)::BIGINT AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM p
    )
    SELECT n AS n_words,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_micro,
           CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx)) * sx) // n AS BIGINT)
               AS intercept_milli_micro
    FROM s
""")
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: OLS slope of ln(freq)
    on ln(rank) for the top-1000 words (slope ≈ −1 on natural text —
    THE corpus-health smoke test: a slope far from −1 flags template
    spam, boilerplate floods, or tokenizer damage before any deeper
    audit runs). Same exactness discipline as q_scaling_fit:
    milli-rounded logs → exact integer moment sums → two micro-rounded
    integer divisions; the rank tie-break (freq desc, word asc) is
    total, so ranks are deterministic.

    Scale shape: the word count partial-aggregates map-side to
    vocab-cardinality; the top-1000 is TakeOrderedAndProject (never a
    global sort); the rank window and the OLS sums run over exactly
    1000 rows."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words(F.trim(F.col("text")))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    top = freq.orderBy(F.col("f").desc(), F.col("w").asc()).limit(1000)
    wnd = Window.orderBy(F.col("f").desc(), F.col("w").asc())
    pts = top.select(
        F.round(
            F.log(F.row_number().over(wnd).cast("double")) * 1000
        )
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    # int64 headroom bound (the SPEARMAN_EXPR discipline): the slope
    # numerator is (n·sxy − sx·sy)·1e6 = slope · D · 1e6 where
    # D = n·sxx − sx² = n²·var(x). At n = 1000 with x = milli-ln-rank,
    # var(ln rank) ≈ 1 → var(x) ≈ 1e6 milli², so D ≈ 1e12 and the
    # numerator ≈ |slope|·1e18 — under 2^63 ≈ 9.2e18 for |slope| < ~9.
    # Natural text sits at slope ≈ −1; |slope| ≥ 9 means a degenerate
    # corpus (near-constant vocab), and on overflow Spark wraps while
    # DuckDB raises, so the engines would diverge instead of failing
    # together — hence this documented bound.
    return s.select(
        F.col("n").alias("n_words"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " DIV (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000"
            " DIV (n * sxx - sx * sx)) * sx) DIV n AS BIGINT)"
        ).alias("intercept_milli_micro"),
    )


# Heaps'-law fit (q_heaps_fit): exponentially spaced
# cumulative prefixes via bin()-length buckets; cumulative vocab from
# each word's first-occurrence doc; shared all-double OLS slope text.
@query(f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, w
        FROM (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        )
        WHERE w != ''
    ),
    tok_bkt AS (
        SELECT CAST(length(bin(doc_id + 1)) AS INT) AS k,
               CAST(COUNT(*) AS BIGINT) AS nt
        FROM toks GROUP BY 1
    ),
    voc_bkt AS (
        SELECT CAST(length(bin(first_doc + 1)) AS INT) AS k,
               CAST(COUNT(*) AS BIGINT) AS nv
        FROM (
            SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w
        )
        GROUP BY 1
    ),
    cum AS (
        SELECT k,
               CAST(SUM(COALESCE(nt, 0)) OVER (
                   ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tokens,
               CAST(SUM(COALESCE(nv, 0)) OVER (
                   ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_vocab
        FROM tok_bkt FULL OUTER JOIN voc_bkt USING (k)
    ),
    pts AS (
        SELECT
            CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1000) AS BIGINT)
                AS x,
            CAST(round(ln(CAST(cum_vocab AS DOUBLE)) * 1000) AS BIGINT)
                AS y
        FROM cum WHERE cum_tokens > 0 AND cum_vocab > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts
    ),
    sl AS (
        SELECT n, sx, sy, {OLS_SLOPE_MICRO_EXPR} AS beta_micro FROM s
    )
    SELECT n AS n_points,
           beta_micro,
           CAST((sy * 1000000 - beta_micro * sx) // n AS BIGINT)
               AS intercept_milli_micro
    FROM sl
""")
def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: OLS of ln(distinct words) on
    ln(total tokens) across the per-source points — the
    vocabulary-scaling exponent β (V ≈ K·N^β, β ≈ 0.4-0.6 on natural
    text: β near 1 flags ID/hash floods inflating the vocab, β near 0
    flags template spam repeating a tiny vocabulary — the
    vocabulary-side twin of q_zipf_fit's frequency-side slope).

    Same discipline as q_scaling_fit: milli-rounded logs → exact
    integer moment sums → the shared all-double slope text
    (OLS_SLOPE_MICRO_EXPR — SECOND consumer of the r10 overflow-safe
    form) → integer intercept off the rounded slope.

    The growth CURVE comes from exponentially spaced cumulative
    prefixes (checkpoint k = docs with id < 2^k, i.e. the bin()-length
    buckets — the integer-log2 rule again): cumulative tokens per
    checkpoint from the per-bucket token rollup, cumulative vocabulary
    from each word's FIRST-occurrence doc (vocab at k = words first
    seen before 2^k) — cumulative-distinct without ever recounting the
    corpus per checkpoint. Per-source points would be degenerate (the
    sources are near-equal sized → no x-spread; measured β = 0.02);
    prefix checkpoints span the doc-count decades the law is about.

    Scale shape: one token explode → per-bucket partial-aggregable
    token counts + per-word min-doc (partial min) → two cumulative
    windows over ≤ 64 checkpoint rows (the bounded-rollup rule) → OLS
    over the checkpoints."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(words(F.trim(F.col("text")))).alias("w"),
    ).where(F.col("w") != "")
    tok_bkt = toks.select(
        F.expr("CAST(length(bin(doc_id + 1)) AS INT)").alias("k")
    ).groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("nt"))
    voc_bkt = (
        toks.groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(
            F.expr("CAST(length(bin(first_doc + 1)) AS INT)").alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    wk = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        tok_bkt.join(voc_bkt, on="k", how="outer")
        .select(
            "k",
            F.coalesce(F.col("nt"), F.lit(0)).alias("nt"),
            F.coalesce(F.col("nv"), F.lit(0)).alias("nv"),
        )
        .select(
            "k",
            F.sum("nt").over(wk).cast("long").alias("cum_tokens"),
            F.sum("nv").over(wk).cast("long").alias("cum_vocab"),
        )
        .filter((F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0))
    )
    pts = cum.select(
        F.round(F.log(F.col("cum_tokens").cast("double")) * 1000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")) * 1000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_points"),
        "sx",
        "sy",
        F.expr(OLS_SLOPE_MICRO_EXPR).alias("beta_micro"),
    ).select(
        "n_points",
        "beta_micro",
        F.expr(
            "CAST((sy * 1000000 - beta_micro * sx) DIV n_points"
            " AS BIGINT)"
        ).alias("intercept_milli_micro"),
    )


# Per-side JS term, ONE shared text per engine: (c_this/n_this) ·
# ln(2·p_this/(p_this+p_other)) with the probability ratio expanded to
# the cross-multiplied double form 2·c_this·n_other /
# (c_this·n_other + c_other·n_this) — every product goes DOUBLE before
# multiplying (int64 c·N would overflow at ~1e6·1e12), micro-rounded
# PER TERM so the vocab sum is an exact order-free integer.
def js_term_expr(c_this: str, c_other: str, n_this: str,
                 n_other: str) -> str:
    ct, co, nt, no = c_this, c_other, n_this, n_other
    return (
        f"CASE WHEN {ct} = 0 THEN CAST(0 AS BIGINT)"
        f" ELSE CAST(round((CAST({ct} AS DOUBLE) / {nt})"
        f" * ln((2.0 * CAST({ct} AS DOUBLE) * {no})"
        f" / (CAST({ct} AS DOUBLE) * {no}"
        f" + CAST({co} AS DOUBLE) * {nt}))"
        " * 1000000, 0) AS BIGINT) END"
    )


# Jensen-Shannon divergence (q_js_divergence): per-word
# micro-rounded terms via the shared js_term_expr text, halves by
# doc_id parity, normalizers from the vocab rollup.
@query(f"""
    WITH toks AS (
        SELECT doc_id % 2 = 0 AS is_p, w
        FROM (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        )
        WHERE w != ''
    ),
    counts AS MATERIALIZED (
        SELECT w,
               CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT)
                   AS cp,
               CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT)
                   AS cq
        FROM toks GROUP BY w
    ),
    tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(cq) AS BIGINT) AS nq
        FROM counts
    ),
    terms AS (
        SELECT {js_term_expr("cp", "cq", "np", "nq")} AS tp,
               {js_term_expr("cq", "cp", "nq", "np")} AS tq
        FROM counts CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
           CAST(SUM(tp) AS BIGINT) AS kl_p_micro,
           CAST(SUM(tq) AS BIGINT) AS kl_q_micro,
           CAST((SUM(tp) + SUM(tq)) // 2 AS BIGINT) AS js_micro
    FROM terms
""")
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the two corpus halves' word
    distributions (doc_id parity = the two snapshots — the
    q_corpus_overlap/q_corpus_drift convention): the bounded, symmetric
    distribution-drift metric (0 ≤ JS ≤ ln 2) that KS-on-lengths and
    TVD-on-sources (q_corpus_drift) don't give — content drift at the
    vocabulary level, the number a crawl pipeline alarms on before a
    new snapshot poisons the mix.

    JS = ½·KL(P‖M) + ½·KL(Q‖M) with M the midpoint; each per-word term
    is micro-rounded BEFORE the sum (js_term_expr — the shared text
    with every product in DOUBLE; the q_ndcg order-free-integer-sum
    rule), words absent from one side contribute p·ln 2 naturally.
    The total-count normalizers enter as a 1-row broadcast (the
    q_pmi_pairs pattern — never a window over the data-scaled vocab).

    Scale shape: one token explode → (word, side) partial-aggregated
    counts → pivot to (cp, cq) via one more partial-aggregable groupBy
    → map-side terms → a 1-row sum."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_p"),
        F.explode(words(F.trim(F.col("text")))).alias("w"),
    ).where(F.col("w") != "")
    counts = (
        toks.groupBy("w")
        .agg(
            F.sum(F.when(F.col("is_p"), 1).otherwise(0))
            .cast("long")
            .alias("cp"),
            F.sum(F.when(~F.col("is_p"), 1).otherwise(0))
            .cast("long")
            .alias("cq"),
        )
    )
    totals = F.broadcast(
        counts.agg(
            F.sum("cp").cast("long").alias("np"),
            F.sum("cq").cast("long").alias("nq"),
        )
    )
    terms = counts.crossJoin(totals).select(
        F.expr(js_term_expr("cp", "cq", "np", "nq")).alias("tp"),
        F.expr(js_term_expr("cq", "cp", "nq", "np")).alias("tq"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("tp").cast("long").alias("kl_p_micro"),
        F.sum("tq").cast("long").alias("kl_q_micro"),
        F.expr(
            "CAST((SUM(tp) + SUM(tq)) DIV 2 AS BIGINT)"
        ).alias("js_micro"),
    )


BPE_APPLY_TOPM = 8  # merges applied, in mined rank order


BPE_APPLY_TOPWORDS = 20


# One merge round as a left-to-right fold over the space-delimited token
# string (Sennrich et al. 2016's replace pass): the incoming char x
# fuses into the accumulator's LAST token iff that token is exactly the
# merge's left symbol {a} and x is the right symbol {b}. "Last token
# equals a" is spelled acc = a (single-token acc) OR acc ends with
# ' '||a — substr, not LIKE, so no pattern-escaping hazard when a is a
# regex/LIKE metacharacter. SHARED lambda body between Spark
# (aggregate(..., '', (acc, x) -> BODY)) and DuckDB
# (list_reduce(list_prepend('', ...), (acc, x) -> BODY)) — both spell
# the same fold over the same list with the same '' init, so merged
# tokenizations can never drift. A missing merge row (corpus with fewer
# than TOPM mined pairs) arrives as NULL a/b: every CASE guard is NULL
# -> ELSE, an identity round in both engines.
BPE_MERGE_LAMBDA = (
    "CASE WHEN acc = '' THEN x "
    "WHEN (acc = {a} OR substr(acc, length(acc) - 1, 2) = concat(' ', {a}))"
    " AND x = {b} THEN concat(acc, x) "
    "ELSE concat(acc, ' ', x) END"
)


# BPE merge application (q_bpe_apply): mine the top-8 char
# pairs (the q_bpe_merges text, LIMIT 8), then 8 unrolled merge rounds
# over the space-delimited char string. Each round's fold body is the
# SHARED text BPE_MERGE_LAMBDA — Spark spells the fold
# aggregate(split(t,' '), '', ...), DuckDB list_reduce(list_prepend('',
# string_split(t,' ')), ...): same '' init, same element order, same
# lambda. A missing merge row arrives as NULL a/b = identity round in
# both engines. All CTEs MATERIALIZED (the 431 s inline-per-reference
# lesson).
def _bpe_apply_oracle() -> str:
    rounds = []
    for r in range(1, BPE_APPLY_TOPM + 1):
        body = BPE_MERGE_LAMBDA.format(a="m.a", b="m.b")
        rounds.append(f"""
    r{r} AS MATERIALIZED (
        SELECT word, freq,
               list_reduce(list_prepend('', string_split(t, ' ')),
                           (acc, x) -> {body}) AS t
        FROM r{r - 1},
             (SELECT min(substr(pair, 1, 1)) AS a,
                     min(substr(pair, 2, 1)) AS b
              FROM merges WHERE rank = {r}) m
    )""")
    return f"""
    WITH tok AS MATERIALIZED (
        SELECT unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    vocab AS MATERIALIZED (
        SELECT word, COUNT(*)::BIGINT AS freq
        FROM tok WHERE word != '' GROUP BY word
    ),
    mine AS MATERIALIZED (
        SELECT substr(word, i, 2) AS pair, SUM(freq)::BIGINT AS cnt
        FROM (SELECT word, freq,
                     UNNEST(generate_series(1, len(word) - 1)) AS i
              FROM vocab WHERE len(word) >= 2)
        GROUP BY 1
    ),
    merges AS MATERIALIZED (
        SELECT CAST(row_number() OVER (
                   ORDER BY cnt DESC, pair ASC) AS INT) AS rank,
               pair
        FROM mine
        ORDER BY rank LIMIT {BPE_APPLY_TOPM}
    ),
    r0 AS MATERIALIZED (
        SELECT word, freq,
               array_to_string(string_split(word, ''), ' ') AS t
        FROM vocab
    ),{",".join(rounds)}
    SELECT rank, word, freq, t AS bpe_tokens,
           CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
    FROM (SELECT *, CAST(row_number() OVER (
              ORDER BY freq DESC, word ASC) AS INT) AS rank
          FROM r{BPE_APPLY_TOPM})
    WHERE rank <= {BPE_APPLY_TOPWORDS}
    ORDER BY rank
"""


@query(_bpe_apply_oracle())
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION (r10 VERDICT item 7) — the tokenization
    step itself, closing the tokenizer story: q_bpe_merges MINES the
    candidate pair table; this query APPLIES the top-8 mined merges, in
    rank order, to every vocabulary word (Sennrich et al. 2016's
    left-to-right replace pass per merge), and reports the top-20 words
    by frequency with their merged tokenization and post-merge token
    count — the table a tokenizer-regression check diffs between
    corpus snapshots.

    Exactness: the application is pure string folding (no FP anywhere);
    the per-round fold body is the SHARED text BPE_MERGE_LAMBDA, so the
    two engines run literally the same merge rule. Overlap semantics
    match Sennrich's scan ("aaa" + merge (a,a) -> ["aa","a"]): a token
    produced by a merge can never re-match as the LEFT symbol of the
    same merge (left symbols are single chars, merged tokens are 2+).

    Scale shape: merges are applied to the DISTINCT VOCABULARY (one
    groupBy(word) collapses the corpus token stream first — the
    q_bpe_merges discipline), so the 8 fold rounds touch |vocab| short
    strings, not corpus tokens. The 8-row merge table is
    localCheckpointed (bounded state, the MMR/kcore discipline —
    without it each of the 8 crossJoin references re-derives the
    corpus-wide mining), and each round enters as a 1-row broadcast
    aggregate, never a driver collect. The top-20 report rows are
    selected BEFORE the fold via orderBy().limit() (distributed
    TakeOrderedAndProject — r12 ADVICE), so the fold rounds and the
    final ranking window touch 20 rows, not |vocab|."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(words(F.trim(F.col("text")))).alias("word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .filter(F.col("word") != "")
    )
    mine = (
        vocab.filter(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    wm = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    merges = (
        mine.withColumn("rank", F.row_number().over(wm).cast("int"))
        .filter(F.col("rank") <= BPE_APPLY_TOPM)
        .select("rank", "pair")
    ).localCheckpoint()
    # Take the top-20 report rows FIRST (orderBy().limit() plans as a
    # distributed TakeOrderedAndProject — the q_burstiness idiom; r12
    # ADVICE flagged the old shape, which ranked AFTER the fold via an
    # unpartitioned row_number over the full post-merge vocabulary,
    # forcing a single-partition global sort of |vocab| rows). The fold
    # is per-row and rank depends only on (freq, word), so folding just
    # the 20 survivors is semantics-identical and strictly cheaper.
    cur = (
        vocab.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(BPE_APPLY_TOPWORDS)
        .withColumn("t", F.concat_ws(" ", F.split(F.col("word"), "")))
    )
    for r in range(1, BPE_APPLY_TOPM + 1):
        m = F.broadcast(
            merges.filter(F.col("rank") == r).agg(
                F.min(F.substring("pair", 1, 1)).alias(f"__a{r}"),
                F.min(F.substring("pair", 2, 1)).alias(f"__b{r}"),
            )
        )
        cur = (
            cur.crossJoin(m)
            .withColumn(
                "t",
                F.expr(
                    "aggregate(split(t, ' '), '', (acc, x) -> "
                    + BPE_MERGE_LAMBDA.format(a=f"__a{r}", b=f"__b{r}")
                    + ")"
                ),
            )
            .drop(f"__a{r}", f"__b{r}")
        )
    # The unpartitioned row_number now ranks the 20 pre-limited
    # survivors, not the full vocabulary.
    wt = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
    return cur.withColumn(
        "rank", F.row_number().over(wt).cast("int")
    ).select(
        "rank",
        "word",
        "freq",
        F.col("t").alias("bpe_tokens"),
        F.size(F.split(F.col("t"), " ")).cast("long").alias("n_tokens"),
    )


# Distinct-n diversity per source (q_distinct_ngrams):
# unigram/bigram distinct ratios in integer micro; bigram slots only
# for docs with >= 2 words (Spark's sequence(1,0) would DESCEND, so
# both engines guard the length — DuckDB's generate_series(1,0) is
# empty, making the guard a no-op here but keeping the texts aligned).
@query("""
    WITH ws AS MATERIALIZED (
        SELECT source, string_split(trim(text), ' ') AS ws
        FROM documents
    ),
    uni AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS d1
        FROM (SELECT source, unnest(ws) AS w FROM ws)
        GROUP BY source
    ),
    big AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(COUNT(DISTINCT bg) AS BIGINT) AS d2
        FROM (SELECT source,
                     unnest(list_transform(
                         generate_series(1, len(ws) - 1),
                         i -> concat(ws[i], ' ', ws[i + 1]))) AS bg
              FROM ws WHERE len(ws) >= 2)
        GROUP BY source
    )
    SELECT u.source, u.n_tokens,
           CAST(u.d1 * 1000000 // u.n_tokens AS BIGINT)
               AS distinct1_micro,
           b.n_bigrams,
           CAST(b.d2 * 1000000 // b.n_bigrams AS BIGINT)
               AS distinct2_micro
    FROM uni u JOIN big b USING (source)
""")
def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (Li et al. NAACL 2016's
    distinct-1/distinct-2, the standard text-diversity readout): the
    fraction of a source's unigram and bigram slots filled by DISTINCT
    grams. Complements the repetition family from the other side:
    q_quality_repetition flags duplication WITHIN a doc,
    q_ngram_novelty scores a doc against the REST of the corpus — this
    is the per-SOURCE aggregate a mixing decision reads (a low
    distinct-2 source is template spam; its tokens buy less training
    signal than its count suggests).

    Integer-exact: counts and distinct counts are exact aggregates,
    ratios are single integer micro divisions.

    Scale shape: both legs are partial-aggregable groupBys keyed on
    (source, gram) then source; the bigram explode is corpus-linear and
    map-side; no window, no join wider than |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(
        "source", words(F.trim(F.col("text"))).alias("ws")
    )
    uni = (
        ws.select("source", F.explode("ws").alias("w"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("w").cast("long").alias("d1"),
        )
    )
    big = (
        ws.filter(F.size("ws") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i ->"
                    " concat(element_at(ws, i), ' ',"
                    " element_at(ws, i + 1)))"
                )
            ).alias("bg"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.countDistinct("bg").cast("long").alias("d2"),
        )
    )
    return uni.join(big, on="source").select(
        "source",
        "n_tokens",
        F.expr("CAST(d1 * 1000000 DIV n_tokens AS BIGINT)").alias(
            "distinct1_micro"
        ),
        "n_bigrams",
        F.expr("CAST(d2 * 1000000 DIV n_bigrams AS BIGINT)").alias(
            "distinct2_micro"
        ),
    )


# Character entropy rate (q_char_entropy_rate): per-lang
# H(bigram) - H(unigram), each via the micro-rounded-ln convention
# (q_char_entropy) — one rounded division per entropy, one rounded
# subtraction for the rate.
@query("""
    WITH base AS MATERIALIZED (
        SELECT lang, trim(text) AS ns FROM documents
        WHERE len(trim(text)) >= 1
    ),
    uni AS (
        SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT lang, unnest(string_split(ns, '')) AS g FROM base)
        WHERE g != '' GROUP BY lang, g
    ),
    bi AS (
        SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT lang, substr(ns, i, 2) AS g
              FROM base,
                   unnest(generate_series(1, len(ns) - 1)) AS t(i)
              WHERE len(ns) >= 2)
        GROUP BY lang, g
    ),
    h1 AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_chars,
               round((CAST(round(ln(SUM(c)) * 1000000, 0) AS BIGINT)
                      - CAST(SUM(c * CAST(round(ln(c) * 1000000, 0)
                            AS BIGINT)) AS BIGINT) / SUM(c))
                     / 1000000.0, 6) AS h_uni
        FROM uni GROUP BY lang
    ),
    h2 AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               round((CAST(round(ln(SUM(c)) * 1000000, 0) AS BIGINT)
                      - CAST(SUM(c * CAST(round(ln(c) * 1000000, 0)
                            AS BIGINT)) AS BIGINT) / SUM(c))
                     / 1000000.0, 6) AS h_bi
        FROM bi GROUP BY lang
    )
    SELECT h1.lang, h1.n_chars, h2.n_bigrams, h1.h_uni, h2.h_bi,
           round(h2.h_bi - h1.h_uni, 6) AS entropy_rate
    FROM h1 JOIN h2 USING (lang)
""")
def q_char_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level ENTROPY RATE per language — the conditional
    bigram entropy H(X₂|X₁) = H(bigrams) − H(unigrams), the
    predictability statistic that q_char_entropy's per-doc unigram
    entropy cannot express (two corpora can share a character
    histogram while one is shuffled noise: same H(X), very different
    H(X₂|X₁)). Per language because orthography drives the number —
    the multilingual-pipeline readout for "how compressible is this
    script" next to q_fertility's tokens-per-word.

    Cross-engine exact via the repo's log convention (q_char_entropy /
    q_bigram_lm): every ln(count) is micro-rounded to an integer
    immediately, per-language sums are exact int64, and each entropy
    is ONE final rounded division; the rate is a single subtraction of
    two such deterministic doubles, rounded once more.

    Scale shape: both gram explodes are corpus-linear and collapse
    map-side into (lang, gram) pre-aggregates (alphabet² ≈ bounded
    cells per language); the scan carries ensure_parallelism (the
    chrf/char_entropy compute-bound-map class)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    base = docs.select("lang", F.trim(F.col("text")).alias("ns")).filter(
        F.length("ns") >= 1
    )
    uni = (
        base.select(
            "lang", F.explode(F.split(F.col("ns"), "")).alias("g")
        )
        .filter(F.col("g") != "")
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bi = (
        base.filter(F.length("ns") >= 2)
        .select(
            "lang",
            F.explode(
                F.sequence(F.lit(1), F.length("ns") - 1)
            ).alias("i"),
            "ns",
        )
        .select("lang", F.expr("substring(ns, i, 2)").alias("g"))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    def entropy(per_gram: DataFrame, n_name: str, h_name: str) -> DataFrame:
        return per_gram.groupBy("lang").agg(
            F.sum("c").cast("long").alias(n_name),
            F.round(
                (
                    F.round(
                        F.log(F.sum("c").cast("double")) * 1_000_000
                    ).cast("long")
                    - F.sum(
                        F.col("c")
                        * F.round(
                            F.log(F.col("c").cast("double")) * 1_000_000
                        ).cast("long")
                    ).cast("long")
                    / F.sum("c").cast("long")
                )
                / F.lit(1_000_000.0),
                6,
            ).alias(h_name),
        )

    h1 = entropy(uni, "n_chars", "h_uni")
    h2 = entropy(bi, "n_bigrams", "h_bi")
    return h1.join(h2, on="lang").select(
        "lang",
        "n_chars",
        "n_bigrams",
        "h_uni",
        "h_bi",
        F.round(F.col("h_bi") - F.col("h_uni"), 6).alias("entropy_rate"),
    )


# Variance-to-mean ratio over ALL docs (zeros included), rearranged to
# integer inputs: VMR = (N·Σx² − n_occ²) / (N·n_occ). ONE shared double
# text — every operand cast double in the same order, one round, so the
# scalar expression tree is bit-identical IEEE in both engines (the
# OLS_SLOPE_MICRO_EXPR discipline). Operand bound: N·Σx² must stay
# under 2^53 for the double products to be exact — ≈ 2e14 at the ×100
# probe, safe to ×~3000 corpus growth.
BURSTINESS_EXPR = (
    "CAST(round((CAST({N} AS DOUBLE) * CAST(sx2 AS DOUBLE)"
    " - CAST(n_occ AS DOUBLE) * CAST(n_occ AS DOUBLE)) * 1000000.0"
    " / (CAST({N} AS DOUBLE) * CAST(n_occ AS DOUBLE)), 0) AS BIGINT)"
)


# Burstiness (q_burstiness): the shared double text
# BURSTINESS_EXPR over exact integer aggregates; distributed top-20 by
# (n_occ DESC, word ASC).
@query(f"""
    WITH per_dw AS MATERIALIZED (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS x
        FROM (SELECT doc_id,
                     unnest(string_split(trim(text), ' ')) AS w
              FROM documents)
        WHERE w != '' GROUP BY doc_id, w
    ),
    per_w AS MATERIALIZED (
        SELECT w,
               CAST(SUM(x) AS BIGINT) AS n_occ,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(x * x) AS BIGINT) AS sx2
        FROM per_dw GROUP BY w
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM documents),
    top AS (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY n_occ DESC, w ASC) AS INT) AS rank
        FROM per_w ORDER BY n_occ DESC, w ASC LIMIT 20
    )
    SELECT rank, w AS word, n_occ, df,
           {BURSTINESS_EXPR.format(N="(SELECT N FROM nd)")}
               AS vmr_micro,
           CAST(n_occ * 1000000 // df AS BIGINT) AS occ_per_doc_micro
    FROM top
""")
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (Church & Gale 1995): variance-to-mean ratio of
    per-document counts for the top-20 corpus words — the dispersion
    statistic completing the corpus-linguistics panel (q_zipf_fit:
    rank-frequency; q_heaps_fit: vocabulary growth;
    q_gini_concentration: source concentration; burstiness: does a
    word spread evenly or clump?). VMR ≈ 1 is Poisson scatter;
    VMR ≫ 1 means the word clumps into few documents — content words
    clump, function words don't, and a "function-looking" word with
    high VMR is template boilerplate the dedup family should see.

    Zeros count: variance is over ALL N docs, rearranged to
    VMR = (N·Σx² − n_occ²)/(N·n_occ) so only exact integer aggregates
    enter the ONE shared double text (BURSTINESS_EXPR).

    Scale shape: one (doc, word) pre-aggregate (map-side combine), one
    per-word rollup, a DISTRIBUTED top-20 sort-limit
    (TakeOrderedAndProject — never a full-vocab window), the rank
    window over exactly 20 rows, N as a 1-row broadcast aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("N"))
    per_dw = (
        docs.select(
            "doc_id", F.explode(words(F.trim(F.col("text")))).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    per_w = per_dw.groupBy("w").agg(
        F.sum("x").cast("long").alias("n_occ"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
    )
    top = per_w.orderBy(F.col("n_occ").desc(), F.col("w").asc()).limit(20)
    wr = Window.orderBy(F.col("n_occ").desc(), F.col("w").asc())
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("int"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "rank",
            F.col("w").alias("word"),
            "n_occ",
            "df",
            F.expr(BURSTINESS_EXPR.format(N="N")).alias("vmr_micro"),
            F.expr("CAST(n_occ * 1000000 DIV df AS BIGINT)").alias(
                "occ_per_doc_micro"
            ),
        )
    )


BPE_CURVE_CHECKPOINTS = (2, 4, 8)


# BPE compression curve (q_bpe_compression_curve): the
# q_bpe_apply CTE chain (same mined merges, same shared fold lambda),
# with the curve read off the r0/r2/r4/r8 round CTEs directly — each
# is MATERIALIZED, so the chain evaluates once.
def _bpe_curve_oracle() -> str:
    rounds = []
    for r in range(1, BPE_APPLY_TOPM + 1):
        body = BPE_MERGE_LAMBDA.format(a="m.a", b="m.b")
        rounds.append(f"""
    r{r} AS MATERIALIZED (
        SELECT word, freq,
               list_reduce(list_prepend('', string_split(t, ' ')),
                           (acc, x) -> {body}) AS t
        FROM r{r - 1},
             (SELECT min(substr(pair, 1, 1)) AS a,
                     min(substr(pair, 2, 1)) AS b
              FROM merges WHERE rank = {r}) m
    )""")
    legs = ",\n".join(
        f"""
    p{r} AS (
        SELECT CAST({r} AS INT) AS n_merges,
               CAST(SUM(freq * len(string_split(t, ' '))) AS BIGINT)
                   AS total_tokens
        FROM r{r}
    )"""
        for r in BPE_CURVE_CHECKPOINTS
    )
    union = "\n        UNION ALL ".join(
        [
            "SELECT CAST(0 AS INT) AS n_merges,"
            " (SELECT C FROM wc) AS total_tokens"
        ]
        + [f"SELECT n_merges, total_tokens FROM p{r}"
           for r in BPE_CURVE_CHECKPOINTS]
    )
    return f"""
    WITH tok AS MATERIALIZED (
        SELECT unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    vocab AS MATERIALIZED (
        SELECT word, COUNT(*)::BIGINT AS freq
        FROM tok WHERE word != '' GROUP BY word
    ),
    mine AS MATERIALIZED (
        SELECT substr(word, i, 2) AS pair, SUM(freq)::BIGINT AS cnt
        FROM (SELECT word, freq,
                     UNNEST(generate_series(1, len(word) - 1)) AS i
              FROM vocab WHERE len(word) >= 2)
        GROUP BY 1
    ),
    merges AS MATERIALIZED (
        SELECT CAST(row_number() OVER (
                   ORDER BY cnt DESC, pair ASC) AS INT) AS rank,
               pair
        FROM mine
        ORDER BY rank LIMIT {BPE_APPLY_TOPM}
    ),
    wc AS MATERIALIZED (
        SELECT CAST(SUM(freq) AS BIGINT) AS W,
               CAST(SUM(freq * len(word)) AS BIGINT) AS C
        FROM vocab
    ),
    r0 AS MATERIALIZED (
        SELECT word, freq,
               array_to_string(string_split(word, ''), ' ') AS t
        FROM vocab
    ),{",".join(rounds)},{legs},
    curve AS (
        {union}
    )
    SELECT n_merges, total_tokens,
           CAST(total_tokens * 1000000 // (SELECT W FROM wc) AS BIGINT)
               AS tokens_per_word_micro,
           CAST(total_tokens * 1000000 // (SELECT C FROM wc) AS BIGINT)
               AS compression_micro
    FROM curve
"""


@query(_bpe_curve_oracle())
def q_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer compression-vs-merges response curve — the BPE knob
    curve joining the knob-response family (q_nprobe_sweep: IVF probes;
    q_band_tuning: LSH bands; this: merge-table size): corpus token
    count after applying 0 / 2 / 4 / 8 mined merges, with
    tokens-per-word and compression-vs-characters in integer micro.
    The marginal gain per extra merge is exactly the number a
    vocab-size decision reads (flat tail ⇒ stop merging).

    Single-pass: the fold chain (same shared BPE_MERGE_LAMBDA rounds
    as q_bpe_apply) carries a token-count SNAPSHOT column at each
    checkpoint, so the vocabulary is traversed once and the curve
    falls out of ONE aggregate exploded into its 4 rows — never one
    corpus pass per checkpoint.

    Scale shape: identical to q_bpe_apply (vocab-bounded folds, 8-row
    localCheckpointed merge table, 1-row broadcast merge rounds) plus
    a single 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(words(F.trim(F.col("text")))).alias("word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .filter(F.col("word") != "")
    )
    mine = (
        vocab.filter(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    wm = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    merges = (
        mine.withColumn("rank", F.row_number().over(wm).cast("int"))
        .filter(F.col("rank") <= BPE_APPLY_TOPM)
        .select("rank", "pair")
    ).localCheckpoint()
    cur = vocab.withColumn(
        "t", F.concat_ws(" ", F.split(F.col("word"), ""))
    )
    for r in range(1, BPE_APPLY_TOPM + 1):
        m = F.broadcast(
            merges.filter(F.col("rank") == r).agg(
                F.min(F.substring("pair", 1, 1)).alias(f"__a{r}"),
                F.min(F.substring("pair", 2, 1)).alias(f"__b{r}"),
            )
        )
        cur = (
            cur.crossJoin(m)
            .withColumn(
                "t",
                F.expr(
                    "aggregate(split(t, ' '), '', (acc, x) -> "
                    + BPE_MERGE_LAMBDA.format(a=f"__a{r}", b=f"__b{r}")
                    + ")"
                ),
            )
            .drop(f"__a{r}", f"__b{r}")
        )
        if r in BPE_CURVE_CHECKPOINTS:
            cur = cur.withColumn(
                f"nt{r}", F.size(F.split(F.col("t"), " ")).cast("long")
            )
    agg = cur.agg(
        F.sum("freq").cast("long").alias("W"),
        F.sum(F.col("freq") * F.length("word")).cast("long").alias("C"),
        *[
            F.sum(F.col("freq") * F.col(f"nt{r}"))
            .cast("long")
            .alias(f"T{r}")
            for r in BPE_CURVE_CHECKPOINTS
        ],
    )
    points = ", ".join(
        ["struct(CAST(0 AS INT) AS m, C AS t)"]
        + [
            f"struct(CAST({r} AS INT) AS m, T{r} AS t)"
            for r in BPE_CURVE_CHECKPOINTS
        ]
    )
    return agg.select(
        F.expr(f"explode(array({points}))").alias("p"), "W", "C"
    ).select(
        F.col("p.m").alias("n_merges"),
        F.col("p.t").alias("total_tokens"),
        F.expr("CAST(p.t * 1000000 DIV W AS BIGINT)").alias(
            "tokens_per_word_micro"
        ),
        F.expr("CAST(p.t * 1000000 DIV C AS BIGINT)").alias(
            "compression_micro"
        ),
    )


# q_readability (q_readability): Flesch-Kincaid per
# source; syllables = [aeiouy]+ runs in the lowered text, sentences =
# [.!?]+ runs floored at 1; FK in integer milli with per-term
# truncating division (all ratios positive -> DIV == //).
@query("""
    WITH d AS (
        SELECT source,
               len(string_split(trim(text), ' '))::BIGINT AS w,
               GREATEST(CAST(1 AS BIGINT),
                        len(regexp_extract_all(text, '[.!?]+'))::BIGINT)
                   AS s,
               len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
                   AS y
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(s) AS BIGINT) AS n_sentences,
           CAST(SUM(y) AS BIGINT) AS n_syllables,
           CAST(SUM(w) * 1000 // SUM(s) AS BIGINT)
               AS words_per_sentence_milli,
           CAST(SUM(y) * 1000 // SUM(w) AS BIGINT)
               AS syllables_per_word_milli,
           CAST(SUM(w) * 390 // SUM(s)
                + SUM(y) * 11800 // SUM(w) - 15590 AS BIGINT)
               AS fk_grade_milli
    FROM d GROUP BY source
""")
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability per source — the classic text-quality
    screen next to the Gopher rules and C4 line filter (readability
    gates are standard curation signals: too-low grade = fragment spam,
    too-high = OCR garbage / legalese). Syllables via the vowel-group
    approximation (runs of [aeiouy] in the lowered text — the standard
    cheap estimator; consonant-only tokens count zero, documented
    bias identical in both engines), sentences via terminal-punctuation
    runs with a floor of 1.

    FK grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59, carried in integer
    MILLI with per-term truncating division (both ratios positive, so
    Spark DIV == DuckDB //). Aggregates are per-source sums — exact
    integers; the three divisions happen once per source.

    Scale shape: one map-side regexp pass per doc, one
    partial-aggregated groupBy(source); no window, no join."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        n_words(F.trim(F.col("text"))).alias("w"),
        F.greatest(
            F.lit(1).cast("long"),
            F.size(
                F.expr("regexp_extract_all(text, '[.!?]+', 0)")
            ).cast("long"),
        ).alias("s"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
        )
        .cast("long")
        .alias("y"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("s").cast("long").alias("n_sentences"),
        F.sum("y").cast("long").alias("n_syllables"),
        F.expr("CAST(SUM(w) * 1000 DIV SUM(s) AS BIGINT)").alias(
            "words_per_sentence_milli"
        ),
        F.expr("CAST(SUM(y) * 1000 DIV SUM(w) AS BIGINT)").alias(
            "syllables_per_word_milli"
        ),
        F.expr(
            "CAST(SUM(w) * 390 DIV SUM(s)"
            " + SUM(y) * 11800 DIV SUM(w) - 15590 AS BIGINT)"
        ).alias("fk_grade_milli"),
    )


COVERAGE_FRACTIONS = (25, 50, 75)


# q_coverage_curve (q_coverage_curve): held-out bigram
# coverage at nested train fractions; ONE per-gram min-train-bucket
# aggregate serves all three points.
@query("""
    WITH ws AS (
        SELECT (((strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                % 100) AS bucket,
               string_split(trim(text), ' ') AS arr
        FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT bucket, arr[i] || ' ' || arr[i + 1] AS gram
        FROM ws, unnest(generate_series(1, len(arr) - 1)) g(i)
        WHERE len(arr) >= 2
    ),
    train_min AS (
        SELECT gram, CAST(MIN(bucket) AS INT) AS tmin
        FROM grams WHERE bucket < 90 GROUP BY gram
    ),
    test_grams AS (
        SELECT DISTINCT gram FROM grams WHERE bucket >= 90
    ),
    jt AS (
        SELECT t.gram, tm.tmin
        FROM test_grams t LEFT JOIN train_min tm USING (gram)
    )
    SELECT CAST(f.f AS INT) AS f,
           CAST(COUNT(*) AS BIGINT) AS test_grams,
           CAST(SUM(CASE WHEN jt.tmin < f.f THEN 1 ELSE 0 END)
                AS BIGINT) AS covered,
           CAST(SUM(CASE WHEN jt.tmin < f.f THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS coverage_micro
    FROM jt, (SELECT UNNEST([25, 50, 75]) AS f) f
    GROUP BY f.f
""")
def q_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram coverage vs training-set size — the data-
    scaling readout a corpus-growth decision reads (does doubling the
    crawl still buy unseen bigrams, or has coverage saturated?): docs
    hash into 100 md5 buckets; buckets >= 90 are the FROZEN held-out
    set, and the training prefixes are buckets < 25 / < 50 / < 75
    (nested by construction, so the curve is monotone — pinned by
    test). Coverage at f = fraction of the held-out set's DISTINCT
    bigrams that appear in train_f.

    ONE pass for all three points: per held-out bigram, the MINIMUM
    train bucket among the docs containing it (tmin); covered at f
    iff tmin < f — three conditional sums over the joined gram table,
    never three corpus scans (the q_bpe_compression_curve snapshot
    discipline).

    Scale shape: one distinct (bucket-class, gram) collapse of the
    bigram stream, one grams-keyed join of the bounded per-gram
    aggregates, a 3-row output."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2),"
            " 16, 10) AS INT) % 100"
        ).alias("bucket"),
        words(F.trim(F.col("text"))).alias("ws"),
    ).filter(F.size("ws") >= 2)
    grams = ws.select(
        "bucket",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), i ->"
                " concat(element_at(ws, i), ' ',"
                " element_at(ws, i + 1)))"
            )
        ).alias("gram"),
    )
    train_min = (
        grams.filter(F.col("bucket") < 90)
        .groupBy("gram")
        .agg(F.min("bucket").cast("int").alias("tmin"))
    )
    test_grams = (
        grams.filter(F.col("bucket") >= 90).select("gram").distinct()
    )
    jt = test_grams.join(train_min, on="gram", how="left")
    fr = spark.createDataFrame(
        [(f,) for f in COVERAGE_FRACTIONS], "f int"
    )
    return (
        jt.crossJoin(F.broadcast(fr))
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("test_grams"),
            F.sum(
                F.when(
                    F.col("tmin") < F.col("f"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("covered"),
            F.expr(
                "CAST(SUM(CASE WHEN tmin < f THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(1) AS BIGINT)"
            ).alias("coverage_micro"),
        )
        .select(F.col("f").cast("int"), "test_grams", "covered", "coverage_micro")
    )
