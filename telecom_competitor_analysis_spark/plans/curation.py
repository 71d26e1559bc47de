"""Training-data curation: quality rules and classifiers, domain caps
and mixing weights, decontamination, budgeted assembly, sharding and
sequence packing, preference-pair construction, multimodal plumbing, and
the composite curation pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.text import (
    n_distinct_words,
    n_words,
    words,
)
from telecom_competitor_analysis_spark.operators.multimodal import (
    as_media_table,
    decode_media,
    frame_sample,
    SNIFF_CASE,
    SNIFF_FAMILY_CASE,
)
from telecom_competitor_analysis_spark.plans.dedup import (
    _materialized_lsh_pairs,
    _NEARDUP_CC_CTES,
)
from telecom_competitor_analysis_spark.plans.registry import query, rows_only
from telecom_competitor_analysis_spark.plans.stats import sdiv_expr
from telecom_competitor_analysis_spark.plans.text import q_bigram_lm
from telecom_competitor_analysis_spark.sources.readers import load_table


# Temperature mix (q_temperature_mix): n^0.3 micro-rounded
# once per language; all shares are single double divisions of exact
# integers (no cross-row double sums).
@query("""
    WITH per_lang AS (
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               SUM(len(string_split(trim(text), ' ')))::BIGINT AS n_tokens
        FROM documents GROUP BY lang
    ),
    scaled AS (
        SELECT *, CAST(round(pow(n_tokens, 0.3) * 1000000.0, 0) AS BIGINT)
                      AS s_micro
        FROM per_lang
    ),
    tot AS (
        SELECT SUM(n_tokens)::BIGINT AS tot_tokens,
               SUM(s_micro)::BIGINT AS tot_s
        FROM scaled
    )
    SELECT lang, n_docs, n_tokens,
           CAST(round(n_tokens * 1000000.0 / tot_tokens, 0) AS BIGINT)
               AS p_raw_micro,
           CAST(round(s_micro * 1000000.0 / tot_s, 0) AS BIGINT)
               AS p_temp_micro,
           CAST(round(s_micro * 10000.0 / tot_s, 0) AS BIGINT)
               AS expected_docs_10k
    FROM scaled, tot
""")
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling mix (XLM-R / mT5:
    p_l ∝ n_l^α, α=0.3): per language, the raw token share, the
    temperature-flattened sampling probability, and the expected number
    of documents drawn for a 10k-doc batch — the table a multilingual
    pretraining loader is configured from.

    Exactness: n_l^α is micro-rounded ONCE per language (the only
    transcendental); every share is then a single double division of
    exact integers, so no cross-row double sum exists anywhere (Σ
    micro-units is integer addition — same discipline as
    q_dsir_weights / q_bigram_lm).

    Scale shape: one partial-aggregated groupBy(lang) over the corpus
    (5 rows out), then a broadcast of the 1-row totals; everything
    after the first exchange is O(languages)."""
    alpha = 0.3
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(words(F.trim(F.col("text")))))
        .cast("bigint")
        .alias("n_tokens"),
    )
    scaled = per_lang.withColumn(
        "s_micro",
        F.round(F.pow(F.col("n_tokens"), F.lit(alpha)) * 1000000.0, 0).cast(
            "bigint"
        ),
    )
    tot = scaled.agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.sum("s_micro").cast("bigint").alias("tot_s"),
    )
    return scaled.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * 1000000.0 / F.col("tot_tokens"), 0)
        .cast("bigint")
        .alias("p_raw_micro"),
        F.round(F.col("s_micro") * 1000000.0 / F.col("tot_s"), 0)
        .cast("bigint")
        .alias("p_temp_micro"),
        F.round(F.col("s_micro") * 10000.0 / F.col("tot_s"), 0)
        .cast("bigint")
        .alias("expected_docs_10k"),
    )


# DSIR importance weights (q_dsir_weights): hashed-unigram
# LM log-ratio per 64-bucket, micro-rounded ONCE, then exact integer
# per-doc sums. Bucket = first md5 byte mod 64 via the strpos nibble
# idiom; ln structure mirrors the Spark expression term-for-term.
_DSIR_NIB = "strpos('0123456789abcdef', substr(md5(word), {i}, 1)) - 1"


@query(f"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    bk AS (
        SELECT doc_id, lang,
               CAST((({_DSIR_NIB.format(i=1)}) * 16
                     + ({_DSIR_NIB.format(i=2)})) % 64 AS INT) AS b
        FROM tok
    ),
    agg AS (
        SELECT b, COUNT(*)::BIGINT AS c_r,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c_t
        FROM bk GROUP BY b
    ),
    tot AS (SELECT SUM(c_r)::BIGINT AS R, SUM(c_t)::BIGINT AS T FROM agg),
    lam AS (
        SELECT b,
               CAST(round((
                   ln((c_t + 1.0) / (T + 64.0))
                   - ln((c_r + 1.0) / (R + 64.0))
               ) * 1000000.0, 0) AS BIGINT) AS lam_micro
        FROM agg, tot
    ),
    per AS (
        SELECT doc_id, lang, b, COUNT(*)::BIGINT AS n
        FROM bk GROUP BY 1, 2, 3
    ),
    w AS (
        SELECT p.doc_id, p.lang,
               SUM(p.n)::BIGINT AS n_tokens,
               SUM(p.n * l.lam_micro)::BIGINT AS logw_micro
        FROM per p JOIN lam l USING (b)
        GROUP BY 1, 2
    )
    SELECT CAST(row_number() OVER (
               ORDER BY logw_micro DESC, doc_id ASC
           ) AS INT) AS rank,
           doc_id, lang, n_tokens, logw_micro
    FROM w
    ORDER BY rank
    LIMIT 100
""")
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    every raw document by its importance weight for a TARGET
    distribution (here lang='en' — the pretraining-mix target), using
    hashed-unigram bag-of-words language models. Top-100 docs by
    log-weight are the selected batch.

    Exactness: the per-bucket log-likelihood ratio
    ln(p_target(b)) − ln(p_raw(b)) (Laplace +1 over 64 buckets) is
    rounded ONCE to integer micro-units; each document's log-weight is
    then Σ count·λ_micro — pure integer arithmetic, so the sum is
    identical under any partitioning/add order (the q_bigram_lm
    discipline; never sum raw doubles in a declared query).

    Scale shape: the corpus-scale token stream is exploded and
    aggregated exactly ONCE — per-(doc, bucket) counts; the 64-row
    bucket LM derives from THAT aggregate (sum over docs), never from
    a second pass over the tokens (measured at the ×10 probe: 4.6× →
    2.6× for 10× tokens, even paying the cache cold). The LM and its
    totals broadcast; the final top-100 is a constant-bound rank over
    one row per document. Nothing global-sorts the corpus and the LM
    state is O(buckets), not O(vocab)."""
    n_buckets = 64
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(words(F.trim(F.col("text")))).alias("word"),
    )
    bk = tok.select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5("word"), 1, 2), 16, 10).cast("int"),
            F.lit(n_buckets),
        ).alias("b"),
    )
    # the per-(doc,bucket) count table feeds BOTH the LM fit and the
    # scoring join, and Spark shares nothing across join sides — persist
    # it so the corpus-scale explode runs once (it is ~50× smaller than
    # the token stream: ≤64 int rows per doc). Same cache-lifetime
    # caveat as semdedup_prune: the result is lazy, so the cache lives
    # until the session ends or the caller clears it.
    per = (
        bk.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    agg = per.groupBy("b").agg(
        F.sum("n").cast("bigint").alias("c_r"),
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("c_t"),
    )
    tot = agg.agg(
        F.sum("c_r").cast("bigint").alias("R"),
        F.sum("c_t").cast("bigint").alias("T"),
    )
    lam = agg.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("c_t") + F.lit(1.0))
                    / (F.col("T") + F.lit(float(n_buckets)))
                )
                - F.log(
                    (F.col("c_r") + F.lit(1.0))
                    / (F.col("R") + F.lit(float(n_buckets)))
                )
            )
            * 1000000.0,
            0,
        )
        .cast("bigint")
        .alias("lam_micro"),
    )
    weights = (
        per.join(F.broadcast(lam), on="b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lam_micro"))
            .cast("bigint")
            .alias("logw_micro"),
        )
    )
    w = Window.orderBy(F.col("logw_micro").desc(), F.col("doc_id").asc())
    return (
        weights.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 100)
        .select("rank", "doc_id", "lang", "n_tokens", "logw_micro")
    )


# Sharded curriculum interleave (q_curriculum_order):
# quartile tiers of the lexical-diversity score, round-robin positions
# within (shard, tier).
@query("""
    WITH scored AS (
        SELECT doc_id,
               CAST(round(
                   CAST(len(list_distinct(string_split(trim(text), ' ')))
                        AS DOUBLE)
                   / len(string_split(trim(text), ' ')) * 1000000.0, 0
               ) AS BIGINT) AS score_micro,
               CAST(((strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || '|cur'), 1, 1)
                     ) - 1) * 16
                     + strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR) || '|cur'), 2, 1)
                     ) - 1) % 8 AS INT) AS shard
        FROM documents
    ),
    cuts AS (
        SELECT quantile_cont(score_micro, 0.25) AS q1,
               quantile_cont(score_micro, 0.5) AS q2,
               quantile_cont(score_micro, 0.75) AS q3
        FROM scored
    ),
    tiered AS (
        SELECT doc_id, score_micro, shard,
               CAST(CASE
                   WHEN score_micro <= q1 THEN 0
                   WHEN score_micro <= q2 THEN 1
                   WHEN score_micro <= q3 THEN 2
                   ELSE 3 END AS INT) AS tier
        FROM scored, cuts
    )
    SELECT shard, doc_id, tier, score_micro,
           CAST((row_number() OVER (
               PARTITION BY shard, tier
               ORDER BY score_micro DESC, doc_id ASC
           ) - 1) * 4 + tier AS BIGINT) AS position
    FROM tiered
""")
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded curriculum ordering: every training shard interleaves
    the four quality tiers round-robin (tier from exact quartiles of a
    lexical-diversity score), so each worker's stream anneals through
    the same quality mix — the deterministic loader-side form of
    curriculum/annealing schedules.

    Scale shape: quartile cutoffs are a 3-value percentile aggregate
    broadcast for a map-side CASE (the q_perplexity_mix move — never a
    global ntile sort); the position window partitions by
    (shard, tier) — 32 balanced partitions, NOT 4 corpus-quarter hot
    partitions, because a curriculum is consumed per worker shard
    anyway (the q_training_shards insight). Positions within a shard
    are unique by construction (pos = rank·4 + tier) but deliberately
    sparse once short tiers exhaust — it is an ORDER, not an index."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    score = F.round(
        n_distinct_words(t).cast("double") / n_words(t) * 1000000.0, 0
    ).cast("bigint")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|cur")))
    scored = docs.select(
        "doc_id",
        score.alias("score_micro"),
        F.pmod(
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int"), F.lit(8)
        ).alias("shard"),
    )
    cuts = scored.agg(
        F.percentile(F.col("score_micro"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("score_micro"), F.lit(0.5)).alias("q2"),
        F.percentile(F.col("score_micro"), F.lit(0.75)).alias("q3"),
    )
    tiered = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "score_micro",
        "shard",
        F.when(F.col("score_micro") <= F.col("q1"), 0)
        .when(F.col("score_micro") <= F.col("q2"), 1)
        .when(F.col("score_micro") <= F.col("q3"), 2)
        .otherwise(3)
        .cast("int")
        .alias("tier"),
    )
    w = Window.partitionBy("shard", "tier").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return tiered.select(
        "shard",
        "doc_id",
        "tier",
        "score_micro",
        ((F.row_number().over(w) - 1) * 4 + F.col("tier"))
        .cast("bigint")
        .alias("position"),
    )


DOMAIN_BLOCKLIST = ("src7", "src13")  # literal, shared with the oracle


DOMAIN_CAP = 15


# Per-domain contribution cap (q_domain_cap): blocklist
# filter + first-DOMAIN_CAP-by-doc_id per source. Literals mirror
# DOMAIN_BLOCKLIST / DOMAIN_CAP.
@query("""
    SELECT doc_id, source, lang,
           CAST(rank_in_domain AS INT) AS rank_in_domain
    FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (
                   PARTITION BY source ORDER BY doc_id ASC
               ) AS rank_in_domain
        FROM documents
        WHERE source NOT IN ('src7', 'src13')
    )
    WHERE rank_in_domain <= 15
""")
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style source hygiene: drop blocklisted domains
    entirely, then cap every remaining domain's contribution at
    DOMAIN_CAP documents (first-come by doc_id — the deterministic
    ingestion-order proxy), so no single domain can dominate the mix
    (the anti-spam / anti-boilerplate counterpart of the per-language
    token budget).

    Scale shape: the blocklist is a pushed-down NOT IN scan filter
    (never a join — the list is a policy literal, not data); the cap is
    a LITERAL rank bound, so WindowGroupLimit keeps at most cap rows
    per domain map-side before the single source exchange — a 100 TB
    spam domain ships cap rows, not itself."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    return (
        docs.filter(~F.col("source").isin(*DOMAIN_BLOCKLIST))
        .select("doc_id", "source", "lang")
        .withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= DOMAIN_CAP)
    )


# Quality-stratified mix (q_perplexity_mix): exact quartile
# cutoffs of the bigram-LM score (quantile_cont == F.percentile), bucket
# by CASE, per-bucket average summed in integer micro-units.
@query(f"""
    WITH scored AS (
        SELECT * FROM ({q_bigram_lm.oracle})
    ),
    cuts AS (
        SELECT
            quantile_cont(avg_logp, 0.25) AS q1,
            quantile_cont(avg_logp, 0.5) AS q2,
            quantile_cont(avg_logp, 0.75) AS q3
        FROM scored
    ),
    bucketed AS (
        SELECT
            n_bigrams,
            CAST(round(avg_logp * 1000000.0, 0) AS BIGINT) AS score_micro,
            CAST(CASE
                WHEN avg_logp <= q1 THEN 1
                WHEN avg_logp <= q2 THEN 2
                WHEN avg_logp <= q3 THEN 3
                ELSE 4 END AS INT) AS bucket
        FROM scored, cuts
    )
    SELECT
        bucket,
        COUNT(*)::BIGINT AS n_docs,
        CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
        round(
            CAST(SUM(score_micro) AS DOUBLE) / (COUNT(*) * 1000000.0), 6
        ) AS avg_score
    FROM bucketed
    GROUP BY bucket
""")
def q_perplexity_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified corpus mix (the CCNet head/middle/tail move,
    one bucket finer): documents bucketed by exact quartiles of their
    bigram-LM score, reported as (bucket, n_docs, total_bigrams,
    avg_score) — the table a data-mix decision reads before assigning
    sampling weights per quality band.

    Scale shape: quartile CUTOFFS come from a 3-value percentile
    aggregate broadcast back for a map-side CASE — NOT a global
    ntile() window, whose single-partition sort of every score is the
    anti-pattern at corpus scale. The per-bucket average is summed in
    integer micro-units (scores are already round(x, 6)) so the
    aggregate is shuffle-order-exact."""
    from telecom_competitor_analysis_spark.operators.lm import (
        bigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r12 optimization (guide §5): `scores` feeds TWO consumers (the
    # quartile-cutoff aggregate and the bucketed rollup) and its
    # lineage is the whole bigram-LM scoring pipeline — persist the
    # narrow per-doc score frame so the LM pass runs once per action
    # (the q_quality_calibration shape).
    scores = bigram_lm_scores(docs, "doc_id", "text").persist()
    cuts = scores.agg(
        F.percentile(F.col("avg_logp"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("avg_logp"), F.lit(0.5)).alias("q2"),
        F.percentile(F.col("avg_logp"), F.lit(0.75)).alias("q3"),
    )
    bucketed = scores.crossJoin(F.broadcast(cuts)).select(
        "n_bigrams",
        F.round(F.col("avg_logp") * 1_000_000.0, 0)
        .cast("bigint")
        .alias("score_micro"),
        F.when(F.col("avg_logp") <= F.col("q1"), 1)
        .when(F.col("avg_logp") <= F.col("q2"), 2)
        .when(F.col("avg_logp") <= F.col("q3"), 3)
        .otherwise(4)
        .cast("int")
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.round(
            F.sum("score_micro").cast("double")
            / (F.count(F.lit(1)) * 1_000_000.0),
            6,
        ).alias("avg_score"),
    )


# Gopher screening rules (q_gopher_rules): word/bigram CTEs
# identical to the q_quality_repetition oracle; rule thresholds inline.
@query("""
    WITH w AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    wc AS (
        SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2
    ),
    ws AS (
        SELECT
            doc_id,
            CAST(SUM(c) AS BIGINT) AS n_words,
            COUNT(*)::BIGINT AS n_distinct_words,
            MAX(c)::BIGINT AS top_word_count
        FROM wc
        GROUP BY doc_id
    ),
    t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    bg AS (
        SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS b
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS g(i)
    ),
    bs AS (
        SELECT
            doc_id,
            COUNT(*)::BIGINT AS n_bigrams,
            COUNT(DISTINCT b)::BIGINT AS n_distinct_bigrams
        FROM bg
        GROUP BY doc_id
    ),
    base AS (
        SELECT
            doc_id,
            CAST(list_sum(list_transform(string_split(trim(text), ' '),
                x -> length(x))) AS BIGINT) AS swl,
            len(list_filter(string_split(trim(text), ' '),
                x -> lower(x) IN ('the','a','of','and','to','in','is')))
                ::BIGINT AS stop
        FROM documents
    ),
    scored AS (
        SELECT
            ws.doc_id,
            ws.n_words,
            ws.n_distinct_words,
            CAST(ws.top_word_count AS DOUBLE) / ws.n_words AS twf,
            CASE WHEN COALESCE(bs.n_bigrams, 0) > 0
                 THEN CAST(bs.n_bigrams - bs.n_distinct_bigrams AS DOUBLE)
                      / bs.n_bigrams
                 ELSE 0.0 END AS dbf,
            base.swl,
            base.stop
        FROM ws
        LEFT JOIN bs USING (doc_id)
        JOIN base USING (doc_id)
    )
    SELECT
        doc_id,
        n_words,
        (n_words >= 30 AND n_words <= 10000) AS r_word_count,
        (CAST(swl AS DOUBLE) / n_words >= 3.0
         AND CAST(swl AS DOUBLE) / n_words <= 10.0) AS r_mean_word_len,
        (stop >= 2) AS r_stopwords,
        (twf <= 0.2) AS r_top_word,
        (CAST(n_distinct_words AS DOUBLE) / n_words >= 0.3) AS r_distinct,
        (dbf <= 0.3) AS r_dup_bigrams,
        -- lateral column aliases: ONE copy of each threshold
        (r_word_count AND r_mean_word_len AND r_stopwords
         AND r_top_word AND r_distinct AND r_dup_bigrams) AS passes
    FROM scored
    UNION ALL
    -- NULL-text docs (zero-signal rows in repetition_signals): every
    -- guarded/NULL rule coalesces to FALSE on the Spark side; the two
    -- zero-fraction rules (top-word 0.0, dup-bigram 0.0) hold
    SELECT
        doc_id, 0, FALSE, FALSE, FALSE, TRUE, FALSE, TRUE, FALSE
    FROM documents
    WHERE text IS NULL
""")
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document screening rules
    (operators/quality.py::gopher_rules): six named boolean rules +
    the conjunction, per doc — the rule-level health dashboard of the
    quality gate (which screen is eating the corpus), next to the
    scalar signals of q_quality_repetition and the composite keep/drop
    of q_corpus_curate."""
    from telecom_competitor_analysis_spark.operators.quality import (
        gopher_rules,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs, "doc_id", "text")


@query("""
        SELECT
            doc_id AS media_id,
            (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS media_type,
            octet_length(encode(text))::BIGINT AS byte_len
        FROM documents
    """)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata path: opaque binary payload + typed metadata;
    this query reads ONLY metadata (column pruning keeps the bytes out of
    the scan entirely)."""
    docs = load_table(spark, sf_dir, "documents")
    media = as_media_table(docs, "doc_id", "text")
    return media.select("media_id", "media_type", "byte_len")


@rows_only
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract via Arrow-batched mapInPandas (stubbed
    decoder, real plumbing). Rows-only: binary + stub features are not
    SQL-expressible."""
    docs = load_table(spark, sf_dir, "documents")
    media = as_media_table(docs, "doc_id", "text")
    return decode_media(media)


# q_frame_sample — frame count from container metadata (multimodal.py::
# with_frame_count: n_frames = 1 + byte_len % 8, byte_len = utf-8 bytes of
# text per as_media_table), sampled every 2nd index. Both engines emit an
# inclusive arithmetic sequence 0,2,... <= n_frames-1.
@query("""
    WITH media AS (
        SELECT
            doc_id AS media_id,
            CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
            END AS media_type,
            strlen(text) AS byte_len
        FROM documents
    )
    SELECT
        media_id,
        media_type,
        CAST(f AS BIGINT) AS frame_idx
    FROM media,
         unnest(generate_series(
             0, CAST(1 + byte_len % 8 AS BIGINT) - 1, 2)) AS t(f)
""")
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: explode the sampled frame index space (every 2nd
    frame). ORACLE-CHECKED since round 5: the frame count comes from
    container metadata (with_frame_count — a pure column expression over
    byte_len, the way real containers expose their frame count in the
    header), so the whole plan is SQL-expressible; only
    q_multimodal_decode still exercises the stubbed byte-decode path."""
    from telecom_competitor_analysis_spark.operators.multimodal import (
        with_frame_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = as_media_table(docs, "doc_id", "text")
    return frame_sample(with_frame_count(media), every_nth=2)


@query("""
        WITH scored AS (
            SELECT
                doc_id, text,
                CASE
                    WHEN len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('the','and','of','is'))) >=
                         len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('el','la','de','que')))
                     AND len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('the','and','of','is'))) >=
                         len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('der','die','und','das')))
                     AND len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('the','and','of','is'))) > 0
                    THEN 'en'
                    WHEN len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('el','la','de','que'))) >=
                         len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('der','die','und','das')))
                     AND len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('el','la','de','que'))) > 0
                    THEN 'es'
                    WHEN len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('der','die','und','das'))) > 0
                    THEN 'de'
                    ELSE 'unknown'
                END AS pred_lang,
                len(string_split(text, ' '))::BIGINT AS n_words,
                CAST(len(list_filter(string_split(text, ' '),
                    w -> lower(w) IN ('the','a','of','and','to','in','is')))
                    AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
        ),
        kept AS (
            SELECT * FROM scored
            WHERE pred_lang = 'en' AND n_words BETWEEN 5 AND 10000
              AND stop_ratio >= 0.0
        ),
        keepers AS (
            SELECT doc_id, text, pred_lang, n_words FROM (
                SELECT k.*,
                       MIN(doc_id) OVER (PARTITION BY md5(trim(text))) AS keeper
                FROM kept k
            ) WHERE doc_id = keeper
        ),
        t AS (SELECT doc_id, string_split(trim(text), ' ') AS arr FROM keepers),
        sh_all AS (
            SELECT DISTINCT t.doc_id,
                   arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS sh
            FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
        ),
        -- document-frequency cap (mirrors shingle_jaccard_pairs max_df)
        sh AS (
            SELECT sh_all.* FROM sh_all
            JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
              USING (sh)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        shared AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        drops AS (
            SELECT DISTINCT id_b AS doc_id
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.5
        )
        SELECT k.doc_id, k.pred_lang, k.n_words
        FROM keepers k
        LEFT JOIN drops d ON d.doc_id = k.doc_id
        WHERE d.doc_id IS NULL
    """)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite curation pipeline: language filter → word-count
    quality gate → exact dedup (min-id keeper) → shingle-Jaccard near-dup
    drop (higher id of each ≥0.5 pair). The flagship training-data
    operation; fully deterministic, hence oracle-checkable end-to-end."""
    from telecom_competitor_analysis_spark.operators.curate import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    return curate_corpus(
        docs, min_words=5, max_words=10_000, near_dup_threshold=0.5
    )


# Deterministic training shards (q_training_shards): shard =
# first md5 byte mod 8, position = rank of the next 16 nibbles within
# the shard. The nibble→int conversion uses the strpos idiom (see KMV).
_NIB = "strpos('0123456789abcdef', substr(hh, {i}, 1)) - 1"


@query(f"""
    WITH h AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || '|shard') AS hh
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               CAST((({_NIB.format(i=1)}) * 16 + ({_NIB.format(i=2)})) % 8
                    AS INT) AS shard,
               substr(hh, 3, 16) AS ord_key
        FROM h
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY ord_key ASC, doc_id ASC
           ) AS INT) AS pos
    FROM s
""")
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data sharding (the WebDataset/epoch-shuffle
    primitive): every doc gets a shard by hash and a stable position
    WITHIN its shard by a second hash — a reproducible global shuffle
    with no RNG state, no coordination, and resume-from-position
    support (skip pos <= checkpoint on restart). Changing the salt
    string re-shuffles the corpus for a new epoch.

    Scale shape: the hash is map-side; ONE exchange on shard; the
    within-shard order is exactly the per-shard sort a shard writer
    needs anyway (each shard file is written sorted once) — n_shards is
    the parallelism knob, so no shard outgrows an executor."""
    docs = load_table(spark, sf_dir, "documents")
    n_shards = 8
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|shard")))
    d = docs.select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int"),
            F.lit(n_shards),
        ).alias("shard"),
        F.substring(h, 3, 16).alias("__ord"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("__ord").asc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


# q_mix_rebalance — every language downsampled to the smallest language's
# count, same md5 rank ordering.
@query("""
    WITH c AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    m AS (SELECT MIN(n) AS target FROM c)
    SELECT doc_id, lang, source
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR) || '|bal') ASC, doc_id ASC
    ) <= (SELECT target FROM m)
""")
def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced corpus: every language downsampled to the smallest
    language's count, membership by deterministic md5 rank. Two-pass form
    (round 5): the quota agg runs eagerly, then the sample re-plans with
    a literal bound so WindowGroupLimit prunes map-side — see
    rebalance_to_min for the lazy single-plan alternative."""
    from telecom_competitor_analysis_spark.operators.curate import (
        rebalance_to_min,
    )

    docs = load_table(spark, sf_dir, "documents")
    return rebalance_to_min(docs, "doc_id", "lang").select(
        "doc_id", "lang", "source"
    )


@query("""
        WITH t AS (
            SELECT doc_id, source,
                   len(string_split(text, ' '))::BIGINT AS n_tokens
            FROM documents
        )
        SELECT doc_id, source, n_tokens,
               CAST(floor((SUM(n_tokens) OVER w - n_tokens) / 2048)
                    AS BIGINT) AS chunk_id,
               CAST((SUM(n_tokens) OVER w - n_tokens) % 2048
                    AS BIGINT) AS chunk_offset
        FROM t
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents concatenated in
    (source, doc_id) order and cut every 2048 whitespace tokens; emits
    each doc's chunk_id and offset. Per-source window cumsum — parallel
    across sources, no global-order bottleneck."""
    from telecom_competitor_analysis_spark.operators.curate import (
        sequence_pack,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", n_words(F.col("text")).alias("n_tokens")
    )
    return sequence_pack(toks, "doc_id", "n_tokens", "source", seq_len=2048)


# q_corpus_diff — full-outer digest join between two deterministic
# snapshot slices, classified and counted.
@query("""
    WITH old AS (
        SELECT doc_id, md5(trim(text)) AS dig_a
        FROM documents WHERE doc_id % 2 = 0
    ),
    new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 5 = 0 THEN trim(text) || ' v2'
                        ELSE trim(text) END) AS dig_b
        FROM documents WHERE doc_id % 3 != 0
    ),
    j AS (
        SELECT
            CASE WHEN dig_a IS NULL THEN 'added'
                 WHEN dig_b IS NULL THEN 'removed'
                 WHEN dig_a != dig_b THEN 'changed'
                 ELSE 'unchanged' END AS status
        FROM old FULL OUTER JOIN new USING (doc_id)
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j GROUP BY status
""")
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (dataset versioning): classify every doc as
    added / removed / changed / unchanged between two snapshots via ONE
    full-outer join on doc_id comparing content digests — the corpus-
    level generalization of the reference's per-row change detection
    (C1). Snapshots are deterministic slices of the documents table:
    old = even ids, new = ids not divisible by 3, with every 5th id's
    text revised (so all four classes occur). Digest-only shuffle — the
    bodies never move."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.md5(F.trim(F.col("text"))).alias("dig_a")
    )
    new_text = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.trim(F.col("text")), F.lit(" v2"))
    ).otherwise(F.trim(F.col("text")))
    new = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5(new_text).alias("dig_b")
    )
    j = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("dig_a").isNull(), F.lit("added"))
        .when(F.col("dig_b").isNull(), F.lit("removed"))
        .when(F.col("dig_a") != F.col("dig_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query("""
        WITH w AS (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
            FROM documents
        ),
        wc AS (
            SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2
        ),
        ws AS (
            SELECT
                doc_id,
                CAST(SUM(c) AS BIGINT) AS n_words,
                COUNT(*)::BIGINT AS n_distinct_words,
                MAX(c)::BIGINT AS top_word_count
            FROM wc
            GROUP BY doc_id
        ),
        t AS (
            SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
        ),
        bg AS (
            SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS b
            FROM t, unnest(generate_series(1, len(arr) - 1)) AS g(i)
        ),
        bs AS (
            SELECT
                doc_id,
                COUNT(*)::BIGINT AS n_bigrams,
                COUNT(DISTINCT b)::BIGINT AS n_distinct_bigrams
            FROM bg
            GROUP BY doc_id
        )
        -- LEFT JOIN + COALESCE mirrors repetition_signals: a 1-word doc
        -- has no bigram rows but must still score (0, 0, 0.0); NULL-text
        -- docs get explicit zero-signal rows (they unnest to no rows and
        -- would otherwise vanish from the signal table).
        SELECT
            ws.doc_id,
            n_words,
            n_distinct_words,
            top_word_count,
            CAST(top_word_count AS DOUBLE) / n_words AS top_word_fraction,
            COALESCE(n_bigrams, 0) AS n_bigrams,
            COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams,
            CASE WHEN COALESCE(n_bigrams, 0) > 0
                 THEN CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams
                 ELSE 0.0 END AS dup_bigram_fraction
        FROM ws
        LEFT JOIN bs ON ws.doc_id = bs.doc_id
        UNION ALL
        SELECT
            doc_id, 0, 0, 0, 0.0, 0, 0, 0.0
        FROM documents
        WHERE text IS NULL
    """)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (top-word
    fraction, duplicate-bigram fraction) — the boilerplate/spam filter
    signals a curation pipeline computes before training. All exact
    integer aggregates; the two fractions are single well-defined double
    divisions."""
    from telecom_competitor_analysis_spark.operators.quality import (
        repetition_signals,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id", "text")


@query("""
        WITH t AS (
            SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
        ),
        sh_all AS (
            SELECT DISTINCT
                t.doc_id,
                arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS sh
            FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
        ),
        bench AS (
            SELECT doc_id AS bench_id, sh FROM sh_all WHERE doc_id % 100 = 0
        ),
        corp_all AS (
            SELECT doc_id AS corpus_id, sh FROM sh_all WHERE doc_id % 100 <> 0
        ),
        -- corpus-side df cap (mirrors decontaminate max_df)
        corp AS (
            SELECT corp_all.* FROM corp_all
            JOIN (
                SELECT sh FROM corp_all GROUP BY sh HAVING COUNT(*) <= 1000
            ) USING (sh)
        )
        SELECT
            corpus_id,
            bench_id,
            COUNT(*) AS n_shared_shingles
        FROM corp
        JOIN bench USING (sh)
        GROUP BY 1, 2
    """)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: corpus docs sharing ≥1 w-gram
    with any doc of a held-out eval set (here: every 100th doc plays the
    benchmark role; w=3 because the synthetic vocabulary is tiny —
    production default in the operator is w=8). Inverted-index join on
    the n-gram, never corpus × benchmark."""
    from telecom_competitor_analysis_spark.operators.quality import (
        decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", w=3)


# Budget-constrained corpus assembly (q_token_budget_fill):
# running per-language token sum in quality order; a doc is admitted iff
# the budget had room before it (boundary doc included). Docs under the
# min_doc_len=10 quality floor are excluded (mirrors the Spark side,
# where the floor also makes the rank-cap pre-filter provably lossless —
# the oracle needs no rank cap: the cap is answer-preserving, so the
# capped Spark plan must equal this uncapped SQL).
@query("""
    WITH d AS (
        SELECT
            doc_id,
            lang,
            len(string_split(trim(text), ' '))::BIGINT AS n_words
        FROM documents
        WHERE len(string_split(trim(text), ' ')) >= 10
    ),
    c AS (
        SELECT
            doc_id,
            lang,
            n_words,
            SUM(n_words) OVER (
                PARTITION BY lang
                ORDER BY n_words DESC, doc_id ASC
                ROWS UNBOUNDED PRECEDING
            )::BIGINT AS cum_tokens
        FROM d
    )
    SELECT doc_id, lang, n_words, cum_tokens
    FROM c
    WHERE cum_tokens - n_words < 5000
""")
def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus assembly: per language, admit documents
    in quality order (word count desc, doc_id tie-break) until a
    5 000-token budget fills — the training-mix step that turns "we
    want X tokens of lang Y, best first" into a plan. A doc is admitted
    iff the budget had room BEFORE it (cum - n_words < budget), so the
    boundary doc that crosses the line is included — every budget is
    met, slightly overshooting rather than undershooting.

    Scale shape: one shuffle on lang, two window passes over the SAME
    (partitionBy, orderBy) — one exchange total. The cumsum bound is
    data-dependent, so WindowGroupLimit cannot prune it directly;
    instead a rank-cap PRE-FILTER with the LITERAL bound
    budget/min_doc_len runs first (r6 VERDICT item 4). With every doc
    holding ≥ min_doc_len tokens, an admitted row at rank r has
    cum_before ≥ (r-1)·min_doc_len, and admission (cum_before < budget)
    forces r ≤ budget/min_doc_len — so the cap drops no admissible row,
    and row_number ≤ literal restores map-side WindowGroupLimit pruning:
    a 100 TB stratum ships at most `cap` rows into the cumsum, never the
    stratum. min_doc_len doubles as the corpus-assembly quality floor
    (docs under 10 tokens are excluded — also what keeps the cap at
    budget/10 = 500, under Spark's window.group.limit.threshold of 1000
    so InferWindowGroupLimit actually fires; an unbounded-length-floor
    cap of `budget` would exceed the threshold and plan as a full
    window)."""
    docs = load_table(spark, sf_dir, "documents")
    budget = 5_000
    min_doc_len = 10
    cap = budget // min_doc_len
    d = docs.select(
        "doc_id",
        "lang",
        F.size(words(F.trim(F.col("text")))).cast("long").alias("n_words"),
    ).filter(F.col("n_words") >= min_doc_len)
    order = Window.partitionBy("lang").orderBy(
        F.col("n_words").desc(), F.col("doc_id").asc()
    )
    ranked = (
        d.withColumn("__rk", F.row_number().over(order))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )
    w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ranked.withColumn("cum_tokens", F.sum("n_words").over(w))
        .filter(F.col("cum_tokens") - F.col("n_words") < budget)
        .select("doc_id", "lang", "n_words", "cum_tokens")
    )


def _classifier_weights_sql(n_buckets: int = 64, seed: int = 0) -> str:
    """Weight vector literal for the hashed linear scorer — generated
    by the SAME code as the Spark side (operators/quality.py), inlined
    as a DuckDB BIGINT[] literal."""
    from telecom_competitor_analysis_spark.operators.quality import (
        classifier_weights,
    )

    return (
        "["
        + ", ".join(f"{w}::BIGINT" for w in classifier_weights(n_buckets, seed))
        + "]"
    )


def _md5_bucket_sql(expr: str, n_buckets: int) -> str:
    """SQL for the portable hash bucket (first two hex chars of md5,
    mod n_buckets) used by operators/quality.py::hashed_linear_score —
    the same strpos hex parse as the curriculum shard hash."""
    h = f"md5({expr})"
    return (
        f"(((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" % {n_buckets})"
    )


# Hashed linear quality scorer (q_quality_classifier):
# per-word bucket weight lookup summed in exact integer micro-units.
# The scoring fold is computed ONCE in the inner query; keep derives
# from score_micro (r7 review: the expression was inlined twice, a
# drift hazard between score and verdict).
@query(f"""
    SELECT doc_id, lang, n_words, score_micro, score_micro >= 0 AS keep
    FROM (
        SELECT doc_id,
               lang,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_words,
               CAST(list_sum(list_transform(
                   string_split(trim(text), ' '),
                   w -> ({_classifier_weights_sql(64, 0)})[
                       {_md5_bucket_sql('w', 64)} + 1]
               )) AS BIGINT) AS score_micro
        FROM documents
    )
""")
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fasttext-classifier stage of
    GPT-3/LLaMA data pipelines): hashed bag-of-words features × a fixed
    weight vector → per-doc score → keep/drop verdict
    (operators/quality.py::hashed_linear_score). The weight vector here
    is a deterministic md5-derived stand-in with the exact serving
    shape of a trained model (integer micro-units, broadcast as an
    array literal).

    Scale shape: pure map-only inference — the score is an ``aggregate``
    fold over the words array inside one codegen'd projection; no
    explode, no shuffle, no Python anywhere (plan-asserted ZERO
    exchanges). At 100 TB this runs at parquet-scan speed, the ideal
    shape for a per-document model pass."""
    from telecom_competitor_analysis_spark.operators.quality import (
        hashed_linear_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    return hashed_linear_score(
        docs, "doc_id", "text", n_buckets=64, seed=0, extra_cols=("lang",)
    )


# q_skyline (q_skyline) — the naive NOT EXISTS dominance
# form over distinct (x, y) representatives: the Spark side's bucketed
# local-skyline + suffix-max decomposition must reproduce it exactly.
@query("""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_words,
               CAST(len(list_distinct(string_split(trim(text), ' ')))
                    * 1000000
                    // len(string_split(trim(text), ' ')) AS BIGINT)
                   AS distinct_ppm
        FROM documents
    ),
    p AS (
        SELECT n_words, distinct_ppm, MIN(doc_id) AS doc_id
        FROM d GROUP BY n_words, distinct_ppm
    )
    SELECT doc_id, n_words, distinct_ppm
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.n_words >= a.n_words
          AND b.distinct_ppm >= a.distinct_ppm
          AND (b.n_words != a.n_words OR b.distinct_ppm != a.distinct_ppm)
    )
""")
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal document selection under (word count, lexical
    diversity) — the multi-objective curation frontier
    (operators/skyline.py::skyline_2d). Both dimensions exact integers
    (diversity as distinct-word ppm, floor division), duplicates
    collapse to the min doc_id representative. The oracle is the naive
    NOT EXISTS dominance anti-join, so green proves the bucketed
    local-skyline + suffix-max decomposition lossless — the same
    candidate+verify proof shape as q_setsim_join / q_heavy_hitters,
    here with zero Python and no O(n²) stage."""
    from telecom_competitor_analysis_spark.operators.skyline import (
        skyline_2d,
    )

    docs = load_table(spark, sf_dir, "documents")
    arr = words(F.trim(F.col("text")))
    d = docs.select(
        "doc_id",
        F.size(arr).cast("long").alias("n_words"),
        # BIGINT before the multiply: size() is INT32, and a real web
        # doc with >=2148 distinct tokens would overflow (ANSI throws)
        F.expr(
            "CAST(size(array_distinct(split(trim(text), ' '))) AS BIGINT)"
            " * 1000000 DIV size(split(trim(text), ' '))"
        ).alias("distinct_ppm"),
    )
    return skyline_2d(d, "n_words", "distinct_ppm", "doc_id")


# Sizing report (q_sizing_report): exact integer ceil-sqrt
# via a +-1 adjustment of the double sqrt — identical arithmetic on the
# Spark side, so both engines agree even when the double sqrt lands a
# hair under/over an exact square.
@query("""
    WITH counts AS (
        SELECT 'documents' AS corpus, COUNT(*) AS n FROM documents
        UNION ALL
        SELECT 'embeddings' AS corpus, COUNT(*) AS n FROM embeddings
    ),
    a AS (
        SELECT corpus, n,
               CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS a0
        FROM counts
    ),
    k AS (
        SELECT corpus, n,
               GREATEST(CAST(1 AS BIGINT), CASE
                   WHEN (a0 - 1) * (a0 - 1) >= n THEN a0 - 1
                   WHEN a0 * a0 < n THEN a0 + 1
                   ELSE a0 END) AS n_anchors
        FROM a
    )
    SELECT corpus,
           CAST(n AS BIGINT) AS n_rows,
           CAST(n_anchors AS BIGINT) AS n_anchors,
           CAST(8 * GREATEST(1, (n + n_anchors - 1) // n_anchors)
                AS BIGINT) AS max_bucket_size,
           CAST(GREATEST(1, (n + 63) // 64) AS BIGINT) AS kmeans_k
    FROM k
""")
def q_sizing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistic knob sizing as a QUERY (jobs/sizing.py's laws,
    observable): per corpus, the row count and the index geometry the
    nightly build would use — n_anchors = ⌈√n⌉ (exact integer ceil-sqrt
    via a ±1 adjustment of the double sqrt), bucket cap = 8 × mean
    occupancy (floor 8 so an empty corpus reports the same value
    sized_max_bucket_size(0) returns), kmeans k = ⌈n/64⌉. The "who picks the knob at 100 TB"
    answer, auditable next to the ivf_bucket_stats/lsh_band_stats
    health queries. Scale shape: two columnless count aggregates (the
    cheapest distributed statistic there is) + map-side arithmetic."""
    def counted(table: str) -> DataFrame:
        return (
            load_table(spark, sf_dir, table)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(table).alias("corpus"), F.col("n"))
        )

    u = counted("documents").unionByName(counted("embeddings"))
    return (
        u.withColumn(
            "__a0", F.expr("CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT)")
        )
        .withColumn(
            "n_anchors",
            F.expr(
                "GREATEST(CAST(1 AS BIGINT), CASE"
                " WHEN (__a0 - 1) * (__a0 - 1) >= n THEN __a0 - 1"
                " WHEN __a0 * __a0 < n THEN __a0 + 1"
                " ELSE __a0 END)"
            ),
        )
        .select(
            "corpus",
            F.col("n").cast("long").alias("n_rows"),
            F.col("n_anchors").cast("long").alias("n_anchors"),
            F.expr(
                "CAST(8 * GREATEST(1, (n + n_anchors - 1) DIV n_anchors)"
                " AS BIGINT)"
            ).alias("max_bucket_size"),
            F.expr(
                "CAST(GREATEST(1, (n + 63) DIV 64) AS BIGINT)"
            ).alias("kmeans_k"),
        )
    )


# Shard balance (q_shard_balance): shard hash identical to
# q_training_shards; integer ppm share.
@query(f"""
    WITH h AS (
        SELECT doc_id, n_chars,
               md5(CAST(doc_id AS VARCHAR) || '|shard') AS hh
        FROM documents
    ),
    s AS (
        SELECT n_chars,
               CAST((({_NIB.format(i=1)}) * 16 + ({_NIB.format(i=2)})) % 8
                    AS INT) AS shard
        FROM h
    ),
    per AS (
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM s GROUP BY shard
    ),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM per)
    SELECT shard, n_docs, n_chars,
           CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm
    FROM per, t
""")
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard balance audit — the observability twin of
    q_training_shards: per shard, document count, total characters (the
    token-volume proxy a shard writer actually packs), and the shard's
    ppm share of the corpus. At 100 TB hash-sharding is only as good as
    its balance, and this is the report that proves it (a skewed shard
    = one straggler writer). Scale shape: one map-side hash + one
    8-group aggregate; the corpus total comes from an unpartitioned
    window over the ALREADY-AGGREGATED rows — bounded by n_shards (a
    constant), so the "global window" is 8 rows, never data-sized, and
    the documents scan happens exactly once (a separate total
    aggregate would re-execute the scan subtree). Integer ppm, no
    doubles."""
    docs = load_table(spark, sf_dir, "documents")
    n_shards = 8
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|shard")))
    per = (
        docs.select(
            F.pmod(
                F.conv(F.substring(h, 1, 2), 16, 10).cast("int"),
                F.lit(n_shards),
            ).alias("shard"),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    return per.select(
        "shard",
        "n_docs",
        "n_chars",
        F.expr(
            "CAST(n_docs * 1000000 DIV SUM(n_docs) OVER () AS BIGINT)"
        ).alias("share_ppm"),
    )


# Model-vs-rules calibration (q_quality_calibration):
# composes the classifier and Gopher oracles verbatim as CTEs; decile
# cutoffs are exact quantile_cont == F.percentile (the q_perplexity_mix
# precedent), bucketing is a strict-greater count over the 9 cutoffs in
# both engines.
@query(f"""
    WITH model AS (
        SELECT doc_id, score_micro
        FROM ({q_quality_classifier.oracle})
        WHERE score_micro IS NOT NULL
    ),
    gopher AS (
        SELECT doc_id, passes FROM ({q_gopher_rules.oracle})
    ),
    j AS (
        SELECT m.doc_id, m.score_micro, g.passes
        FROM model m JOIN gopher g USING (doc_id)
    ),
    cuts AS (
        SELECT quantile_cont(score_micro,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM j
    ),
    b AS (
        SELECT j.score_micro, j.passes,
               CAST(1 + len(list_filter(qs, c -> j.score_micro > c))
                    AS INT) AS decile
        FROM j, cuts
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score_micro >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_model_keep,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gopher_pass,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS gopher_pass_rate_micro
    FROM b GROUP BY decile
""")
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-vs-rules calibration table — the quality-gate diagnostic
    every model-filtered pipeline keeps: bucket the corpus into deciles
    of the classifier score (exact percentile cutoffs, the
    q_perplexity_mix convention) and report how often the INDEPENDENT
    Gopher rule gate passes in each decile. A well-calibrated score
    shows pass-rate rising monotonically with the decile; a flat table
    means the model learned something the rules don't measure (or
    nothing at all). Scale shape: two map-side scoring passes share one
    scan each, one exact-percentile aggregate broadcast back as 9
    cutoff literals, then a 10-group aggregate — no global sort, no
    per-row window (decile = count of cutoffs below the score)."""
    from telecom_competitor_analysis_spark.operators.quality import (
        gopher_rules,
        hashed_linear_score,
    )

    # NULL-text docs are unscorable; the filter is a plain pushed scan
    # predicate here, and score_micro IS NULL ⇔ text IS NULL, which is
    # the equivalent (pushdown-free) form the composed oracle uses
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    model = hashed_linear_score(docs, "doc_id", "text").select(
        "doc_id", "score_micro"
    )
    gopher = gopher_rules(docs, "doc_id", "text").select("doc_id", "passes")
    # r12 optimization (guide §5): `j` feeds TWO consumers (the decile
    # cutoff aggregate and the bucketed rollup) and its lineage holds
    # BOTH text-scoring passes (hashed linear score + Gopher gate, each
    # a full tokenize) — the before plan re-derived them per consumer
    # (18 parquet scans). The frame is three narrow columns; persist it
    # so the scoring join runs once (the q_conformal_coverage shape).
    j = model.join(gopher, on="doc_id").persist()
    cuts = j.agg(
        F.percentile(
            F.col("score_micro"),
            F.lit([i / 10.0 for i in range(1, 10)]),
        ).alias("__cuts")
    )
    b = j.join(F.broadcast(cuts)).select(
        "score_micro",
        "passes",
        F.expr(
            "CAST(1 + size(filter(__cuts, c -> score_micro > c)) AS INT)"
        ).alias("decile"),
    )
    return b.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("score_micro") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_model_keep"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0))
        .cast("long")
        .alias("n_gopher_pass"),
        F.expr(
            "CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("gopher_pass_rate_micro"),
    )


# C4 line-level cleaning (q_line_filter): fixed 10-word
# lines, min-5-words + badword rules with short-first attribution,
# >= 3 kept lines to survive; list_slice's inclusive end mirrors
# Spark slice(start, length) on in-range windows and both truncate
# the tail chunk.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    l AS (
        SELECT doc_id,
               list_transform(
                   generate_series(
                       0, CAST(ceil(len(arr) / 10.0) AS INT) - 1),
                   i -> list_slice(arr, i * 10 + 1, i * 10 + 10)) AS lines
        FROM t
    ),
    c AS (
        SELECT doc_id,
               len(lines) AS n_lines,
               list_filter(lines,
                   ln -> len(ln) >= 5 AND NOT list_has_any(ln, ['dup']))
                   AS kept,
               len(list_filter(lines, ln -> len(ln) < 5)) AS n_drop_short,
               len(list_filter(lines,
                   ln -> len(ln) >= 5 AND list_has_any(ln, ['dup'])))
                   AS n_drop_badword
        FROM l
    )
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(n_drop_short AS BIGINT) AS n_drop_short,
           CAST(n_drop_badword AS BIGINT) AS n_drop_badword,
           CAST(len(flatten(kept)) AS BIGINT) AS n_kept_words,
           md5(array_to_string(
               list_transform(kept, ln -> array_to_string(ln, ' ')), ' '))
               AS clean_md5
    FROM c
    WHERE len(kept) >= 3
""")
def q_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (operators/quality.py::
    c4_line_filter): cut lines under 5 words or carrying the
    boilerplate marker word, reassemble each doc from its survivors,
    drop docs left with fewer than 3 lines — the sub-document
    complement of the doc-level q_gopher_rules screen. The whole
    operator is one narrow projection (scan -> project -> filter, zero
    exchanges), so at 100 TB it runs at scan speed."""
    from telecom_competitor_analysis_spark.operators.quality import (
        c4_line_filter,
    )

    docs = load_table(spark, sf_dir, "documents")
    return c4_line_filter(
        docs,
        "doc_id",
        "text",
        w=10,
        min_line_words=5,
        badwords=("dup",),
        min_kept_lines=3,
    )


# DPO preference pairs (q_preference_pairs): chosen =
# min (pc, suppkey) per part; rejected clears the integer 1.5x margin
# (2*pc >= 3*chosen); rank filter runs AFTER the margin WHERE (SQL
# window functions evaluate post-WHERE, matching the Spark order).
@query("""
    WITH q AS (
        SELECT l_partkey, l_suppkey,
               MIN(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS pc
        FROM lineitem GROUP BY 1, 2
    ),
    ch AS (
        SELECT l_partkey, l_suppkey AS chosen_suppkey, pc AS chosen_pc,
               ROW_NUMBER() OVER (
                   PARTITION BY l_partkey ORDER BY pc, l_suppkey) AS rn
        FROM q
    ),
    c1 AS (
        SELECT l_partkey, chosen_suppkey, chosen_pc FROM ch WHERE rn = 1
    ),
    r AS (
        SELECT q.l_partkey, c1.chosen_suppkey,
               q.l_suppkey AS rejected_suppkey,
               c1.chosen_pc, q.pc,
               ROW_NUMBER() OVER (
                   PARTITION BY q.l_partkey
                   ORDER BY q.pc DESC, q.l_suppkey) AS pair_rank
        FROM q JOIN c1 USING (l_partkey)
        WHERE q.l_suppkey != c1.chosen_suppkey
          AND q.pc * 2 >= c1.chosen_pc * 3
    )
    SELECT l_partkey, chosen_suppkey, rejected_suppkey,
           chosen_pc AS chosen_price_cents,
           pc AS rejected_price_cents,
           pc - chosen_pc AS margin_cents,
           CAST(pair_rank AS INT) AS pair_rank
    FROM r
    WHERE pair_rank <= 3
""")
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-PAIR construction (Rafailov et al. 2023,
    arXiv:2305.18290 trains on exactly this shape) — the dataset-build
    step upstream of q_bradley_terry's rating aggregation: per prompt
    group (a part), pair the CHOSEN response (cheapest quote,
    deterministic (price, supplier) tie-break) against each REJECTED
    response whose price clears a 1.5x margin (integer form:
    2*rejected >= 3*chosen — no FP threshold), keeping at most 3
    rejected per prompt ranked worst-first. Margin floor + per-prompt
    cap are the two knobs every preference-data build exposes: the
    floor keeps ambiguous pairs out of the loss, the cap stops hot
    prompts from dominating the epoch.

    Scale shape: quotes collapse to one row per (part, supplier) via a
    partial-aggregable groupBy; the chosen side is min(struct) per part
    (partial-aggregable, one row per part — no window over the raw
    quotes); the join back is part-keyed; the only window runs AFTER
    the margin filter over per-part groups bounded by suppliers-per-
    part (~4 in TPC-H shape), so WindowGroupLimit never sees a hot
    partition."""
    li = load_table(spark, sf_dir, "lineitem")
    quotes = (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("pc"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("pc").alias("pc"))
    )
    # r12 optimization (guide §2.4): the chosen side was a second
    # groupBy(l_partkey) + join back, which re-derived the quotes
    # aggregate (two lineitem scans) and paid extra exchanges. The
    # same min(struct) over a part-partitioned window computes it
    # in-place (per-part groups are bounded by suppliers-per-part),
    # and the rank window below reuses the SAME partitioning — one
    # quotes derivation, one part-keyed exchange for both windows.
    j = quotes.withColumn(
        "c",
        F.min(F.struct("pc", "l_suppkey")).over(
            Window.partitionBy("l_partkey")
        ),
    ).where(
        (F.col("l_suppkey") != F.col("c.l_suppkey"))
        & (F.col("pc") * 2 >= F.col("c.pc") * 3)
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("pc").desc(), F.col("l_suppkey")
    )
    return (
        j.withColumn("pair_rank", F.row_number().over(w))
        .filter(F.col("pair_rank") <= 3)
        .select(
            "l_partkey",
            F.col("c.l_suppkey").alias("chosen_suppkey"),
            F.col("l_suppkey").alias("rejected_suppkey"),
            F.col("c.pc").alias("chosen_price_cents"),
            F.col("pc").alias("rejected_price_cents"),
            (F.col("pc") - F.col("c.pc")).alias("margin_cents"),
            F.col("pair_rank").cast("int").alias("pair_rank"),
        )
    )


# DoReMi multiplicative-weights step (q_doremi_step):
# all-integer micro arithmetic mirrored verbatim; excess is vs the
# min-proxy domain so every operand is non-negative.
@query("""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
                   AS n_words,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY source
    ),
    p AS (
        SELECT *, CAST(n_chars * 1000000 // n_words AS BIGINT)
                      AS proxy_micro
        FROM per
    ),
    lo AS (SELECT MIN(proxy_micro) AS min_proxy FROM p),
    fac AS (
        SELECT source, n_docs, n_words, proxy_micro,
               proxy_micro - min_proxy AS excess_micro,
               CAST(1000000 + (500000 * (proxy_micro - min_proxy))
                    // 1000000 AS BIGINT) AS factor_micro
        FROM p, lo
    ),
    tot AS (
        SELECT SUM(factor_micro) AS sum_f, COUNT(*) AS k FROM fac
    )
    SELECT source, n_docs, n_words, proxy_micro,
           CAST(excess_micro AS BIGINT) AS excess_micro,
           factor_micro,
           CAST(factor_micro * 1000000 // sum_f AS BIGINT) AS w_micro,
           CAST((9 * (factor_micro * 1000000 // sum_f)
                 + (1000000 // k)) // 10 AS BIGINT) AS w_smoothed_micro
    FROM fac, tot
""")
def q_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023,
    arXiv:2305.10429): the domain weights a mixture-trained run updates
    from per-domain EXCESS LOSS — the learned-weights capstone of the
    mixing family (q_temperature_mix is the static-heuristic mix,
    q_domain_cap the hard ceiling, q_mix_rebalance the quota form;
    this is the feedback step that moves weight toward domains the
    model finds hardest). The multiplicative-weights form
    w ← w·(1 + η·excess) replaces DoReMi's exp(η·excess) — same
    first-order update, ALL-INTEGER (the repo's micro-unit rule: no
    transcendental, no FP boundary; contrast q_temperature_mix, which
    must round one pow() per language).

    Loss proxy: per-domain mean characters-per-word in micro (an
    integer-exact compressibility stand-in for reference-model loss —
    harder/denser text scores higher); excess = proxy − min(proxy), so
    the factor is ≥ 1M and every division sees positive operands.
    Final weights smooth 9:1 with uniform (DoReMi's c·u + (1−c)·α,
    c = 0.1), starting from uniform w0 (iteration 1 collapses to
    normalizing the factors — same algebraic collapse q_bradley_terry
    documents for its iteration 1).

    Scale shape: ONE partial-aggregated groupBy(source) over the
    corpus (8 rows out); the min/sum renormalizers are windows OVER
    THE 8 AGGREGATED ROWS (the q_shard_balance pattern — an agg +
    crossJoin formulation re-scans the corpus once per renormalizer
    leg because each leg re-derives its lineage; the window keeps it
    to one scan), so everything after the single corpus exchange is
    O(domains)."""
    eta_micro = 500_000  # η = 0.5
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), " ")))
        .cast("long")
        .alias("n_words"),
        F.sum(F.length(F.col("text"))).cast("long").alias("n_chars"),
    )
    per = per.withColumn(
        "proxy_micro", F.expr("CAST(n_chars * 1000000 DIV n_words AS BIGINT)")
    )
    w = Window.partitionBy()
    fac = per.select(
        "source",
        "n_docs",
        "n_words",
        "proxy_micro",
        (F.col("proxy_micro") - F.min("proxy_micro").over(w)).alias(
            "excess_micro"
        ),
    ).withColumn(
        "factor_micro",
        F.expr(
            f"CAST(1000000 + ({eta_micro} * excess_micro)"
            " DIV 1000000 AS BIGINT)"
        ),
    )
    fac = fac.withColumn("sum_f", F.sum("factor_micro").over(w)).withColumn(
        "k", F.count(F.lit(1)).over(w)
    )
    return fac.select(
        "source",
        "n_docs",
        "n_words",
        "proxy_micro",
        "excess_micro",
        "factor_micro",
        F.expr("CAST(factor_micro * 1000000 DIV sum_f AS BIGINT)").alias(
            "w_micro"
        ),
        F.expr(
            "CAST((9 * (factor_micro * 1000000 DIV sum_f)"
            " + (1000000 DIV k)) DIV 10 AS BIGINT)"
        ).alias("w_smoothed_micro"),
    )


# T5 span corruption (q_span_corruption): 0-based word
# index i0 = i - 1, chunk c = i0 // 3, every 7th chunk masked,
# sentinel ordinal c // 7 — every formula mirrored verbatim.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(arr) AS BIGINT) AS n_words,
               list_transform(generate_series(1, len(arr)), i ->
                   CASE WHEN ((i - 1) // 3) % 7 = 0 AND (i - 1) % 3 = 0
                        THEN '<extra_id_' ||
                             CAST(((i - 1) // 3) // 7 AS VARCHAR) || '>'
                        WHEN ((i - 1) // 3) % 7 = 0 THEN NULL
                        ELSE arr[i] END) AS inp,
               list_transform(generate_series(1, len(arr)), i ->
                   CASE WHEN ((i - 1) // 3) % 7 = 0 AND (i - 1) % 3 = 0
                        THEN '<extra_id_' ||
                             CAST(((i - 1) // 3) // 7 AS VARCHAR) || '>'
                             || ' ' || arr[i]
                        WHEN ((i - 1) // 3) % 7 = 0 THEN arr[i]
                        ELSE NULL END) AS tgt
        FROM t
    )
    SELECT doc_id, n_words,
           CAST(len(list_filter(tgt, x -> x IS NOT NULL)) AS BIGINT)
               AS n_masked_words,
           CAST(len(list_filter(inp,
                x -> x IS NOT NULL AND starts_with(x, '<extra_id_')))
               AS BIGINT) AS n_spans,
           CAST(len(list_filter(tgt, x -> x IS NOT NULL)) * 1000000
                // n_words AS BIGINT) AS corruption_micro,
           md5(array_to_string(list_filter(inp, x -> x IS NOT NULL), ' '))
               AS inputs_md5,
           md5(array_to_string(list_filter(tgt, x -> x IS NOT NULL), ' '))
               AS targets_md5
    FROM m
""")
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pair construction (Raffel et al. 2020,
    arXiv:1910.10683 §3.1.4: mask contiguous spans, mean length 3,
    ~15% of tokens; each masked span collapses to one sentinel in the
    input and reappears after the same sentinel in the target) — the
    denoising-objective sibling of q_sequence_pack's causal-LM packing.
    Deterministic span choice so both engines rebuild bit-identically:
    words chunk into 3-word spans, every 7th chunk is masked (14.3%
    token corruption, T5's operating point), sentinel ordinal =
    chunk_idx div 7 (⟨extra_id_0⟩, ⟨extra_id_1⟩, … in order).

    Returns per doc: token accounting (n_words, n_masked_words,
    n_spans, corruption_micro) and md5 digests of the input and target
    strings — the content pin without shipping the text (the
    q_dup_span_remove convention).

    Scale shape: map-only — two flat transforms (token → replacement
    or null) + null-filters + joins + digests over the word-array
    ATTRIBUTE, one level deep (the q_mutation_recall lesson: never
    nest HOFs over inlined array expressions; a single transform over
    an attribute array is the safe shape). Zero exchanges under the
    cluster setting (plan-asserted); at 100 TB the pair build runs at
    scan speed."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    arrs = docs.select(
        F.col("doc_id"), F.split(F.trim(F.col("text")), " ").alias("ws")
    )
    sentinel = lambda c: F.concat(  # noqa: E731
        F.lit("<extra_id_"), (c / 7).cast("long").cast("string"), F.lit(">")
    )

    def tok_in(w, i):
        c = (i / 3).cast("long")
        masked = c % 7 == 0
        return (
            F.when(masked & (i % 3 == 0), sentinel(c))
            .when(masked, F.lit(None).cast("string"))
            .otherwise(w)
        )

    def tok_tgt(w, i):
        c = (i / 3).cast("long")
        masked = c % 7 == 0
        return F.when(
            masked & (i % 3 == 0), F.concat(sentinel(c), F.lit(" "), w)
        ).when(masked, w)

    keep = lambda x: x.isNotNull()  # noqa: E731
    out = arrs.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(
            F.filter(F.transform("ws", tok_tgt), keep)
        ).cast("long").alias("__tgt_toks"),
        F.transform("ws", tok_in).alias("__in"),
        F.transform("ws", tok_tgt).alias("__tgt"),
    )
    n_spans = F.size(
        F.filter(F.col("__in"), lambda x: x.startswith("<extra_id_"))
    ).cast("long")
    return out.select(
        "doc_id",
        "n_words",
        F.col("__tgt_toks").alias("n_masked_words"),
        n_spans.alias("n_spans"),
        F.expr(
            "CAST(__tgt_toks * 1000000 DIV n_words AS BIGINT)"
        ).alias("corruption_micro"),
        F.md5(F.array_join(F.filter(F.col("__in"), keep), " ")).alias(
            "inputs_md5"
        ),
        F.md5(F.array_join(F.filter(F.col("__tgt"), keep), " ")).alias(
            "targets_md5"
        ),
    )


# Length-bucket batching audit (q_length_buckets): bucket =
# bit-length of the token count, ceiling = 2^bits − 1; all-integer.
@query("""
    WITH toks AS (
        SELECT
            CAST(length(bin(len(string_split(trim(text), ' '))))
                 AS INT) AS bucket_bits,
            CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                AS n_tokens
        FROM documents WHERE text IS NOT NULL
    )
    SELECT bucket_bits,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST((CAST(1 AS BIGINT) << bucket_bits) - 1 AS BIGINT)
               AS pad_to,
           CAST(COUNT(*) * ((CAST(1 AS BIGINT) << bucket_bits) - 1)
                AS BIGINT) AS capacity,
           CAST((COUNT(*) * ((CAST(1 AS BIGINT) << bucket_bits) - 1)
                 - SUM(n_tokens)) * 1000000
                // (COUNT(*) * ((CAST(1 AS BIGINT) << bucket_bits) - 1))
                AS BIGINT) AS waste_micro
    FROM toks GROUP BY bucket_bits
""")
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket batching audit — the padding-waste table a training
    pipeline reads before choosing bucket boundaries (sequences batched
    by power-of-2 length bucket pad to the bucket ceiling; waste =
    padded-but-dead tokens, the q_sequence_pack concern measured from
    the BUCKETING side). Bucket = bit-length of the whitespace token
    count (the bin()-length integer-log2 rule q_semdedup_scaled
    introduced); ceiling = 2^bits − 1, the largest count in the bucket.

    All-integer: per bucket (n_docs, sum_tokens, pad_to, capacity =
    n_docs·pad_to, waste_micro = (capacity − sum)·1e6 div capacity).
    One partial-aggregable groupBy over a map-only token count; output
    is bucket-cardinality (≈ log2 of the longest doc)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.expr(
            "CAST(length(bin(size(split(trim(text), ' ')))) AS INT)"
        ).alias("bucket_bits"),
        F.size(F.split(F.trim(F.col("text")), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    return (
        toks.groupBy("bucket_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .select(
            "bucket_bits",
            "n_docs",
            "sum_tokens",
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), bucket_bits) - 1"
                " AS BIGINT)"
            ).alias("pad_to"),
            F.expr(
                "CAST(n_docs * (shiftleft(CAST(1 AS BIGINT), bucket_bits)"
                " - 1) AS BIGINT)"
            ).alias("capacity"),
            F.expr(
                "CAST((n_docs * (shiftleft(CAST(1 AS BIGINT),"
                " bucket_bits) - 1) - sum_tokens) * 1000000"
                " DIV (n_docs * (shiftleft(CAST(1 AS BIGINT),"
                " bucket_bits) - 1)) AS BIGINT)"
            ).alias("waste_micro"),
        )
    )


# (rule_id, term, action) — the inline stand-in for the blocklist TABLE
# a safety/compliance screen broadcasts; terms chosen so the synthetic
# corpus exercises both hit and zero-hit rules (zero-hit rules MUST
# still report, which is why the join below is a LEFT join from rules).
BLOCKLIST_RULES = (
    (1, "slow", "flag"),
    (2, "error", "flag"),
    (3, "crash", "drop"),
    (4, "spam", "drop"),
    (5, "the", "flag"),
    (6, "hack", "drop"),
)


# Blocklist screen (q_blocklist_screen): the rules VALUES
# literal is generated from the SAME Python tuple as the Spark
# createDataFrame, so the two engines can never screen different rules.
# SQL-escape by doubling single quotes (r12 ADVICE): safe today's
# hardcoded terms, and a future rule containing an apostrophe becomes a
# correct literal instead of a broken (or injectable) VALUES clause.
_BLOCKLIST_VALUES = ",\n        ".join(
    "({}, '{}', '{}')".format(
        rid, term.replace("'", "''"), action.replace("'", "''")
    )
    for rid, term, action in BLOCKLIST_RULES
)


@query(f"""
    WITH rules(rule_id, term, action) AS (
        VALUES {_BLOCKLIST_VALUES}
    ),
    tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
        FROM documents
    ),
    hits AS (
        SELECT r.rule_id,
               CAST(COUNT(*) AS BIGINT) AS h,
               CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS d,
               CAST(MIN(t.doc_id) AS BIGINT) AS fd
        FROM tok t JOIN rules r ON t.w = r.term
        GROUP BY r.rule_id
    )
    SELECT CAST(r.rule_id AS INT) AS rule_id, r.term, r.action,
           CAST(COALESCE(h.d, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
           h.fd AS first_doc
    FROM rules r LEFT JOIN hits h USING (rule_id)
""")
def q_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening with per-rule attribution — the
    safety/compliance sweep every curation pipeline runs (which rule
    fired, how often, on how many docs) and the audit table that
    decides whether a rule is earning its false-positive budget. Exact
    WORD match against the token stream via a broadcast equi-join —
    never a per-rule LIKE scan over the corpus (r rules × corpus
    substring scans; the equi-join is one pass with the rules table as
    the broadcast build side).

    Zero-hit rules still report (n_docs = n_hits = 0, null first_doc):
    the final join is LEFT from the rules table.

    Scale shape: token explode is map-side; one partial-aggregated
    groupBy(rule); the rules side is O(rules) rows broadcast at both
    join points."""
    rules = spark.createDataFrame(
        list(BLOCKLIST_RULES), "rule_id int, term string, action string"
    )
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words(F.trim(F.col("text")))).alias("w")
    )
    hits = (
        tok.join(F.broadcast(rules), tok["w"] == rules["term"])
        .groupBy("rule_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("h"),
            F.countDistinct("doc_id").cast("long").alias("d"),
            F.min("doc_id").cast("long").alias("fd"),
        )
    )
    return (
        rules.join(hits, on="rule_id", how="left")
        .select(
            "rule_id",
            "term",
            "action",
            F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
            F.col("fd").alias("first_doc"),
        )
    )


# ECE bins (q_ece): classifier + Gopher oracles composed
# verbatim (the q_quality_calibration pattern); confidence is min-max
# normalized score in integer micro with the bounds as a 1-row
# aggregate; 10 equal-width bins, top edge folded into bin 9.
@query(f"""
    WITH model AS (
        SELECT doc_id, score_micro
        FROM ({q_quality_classifier.oracle})
        WHERE score_micro IS NOT NULL
    ),
    gopher AS (
        SELECT doc_id, passes FROM ({q_gopher_rules.oracle})
    ),
    j AS (
        SELECT m.doc_id, m.score_micro, g.passes
        FROM model m JOIN gopher g USING (doc_id)
    ),
    bounds AS (
        SELECT MIN(score_micro) AS min_s, MAX(score_micro) AS max_s
        FROM j
    ),
    b AS (
        SELECT j.passes,
               CASE WHEN bounds.max_s = bounds.min_s
                    THEN CAST(500000 AS BIGINT)
                    ELSE CAST((j.score_micro - bounds.min_s) * 1000000
                         // (bounds.max_s - bounds.min_s) AS BIGINT)
               END AS conf_micro
        FROM j, bounds
    ),
    binned AS (
        SELECT passes, conf_micro,
               CAST(least(9, conf_micro // 100000) AS INT) AS bin
        FROM b
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(conf_micro) // COUNT(*) AS BIGINT)
               AS avg_conf_micro,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS pass_micro,
           CAST(abs(SUM(conf_micro) // COUNT(*)
                - SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 1000000
                // COUNT(*)) AS BIGINT) AS gap_micro
    FROM binned GROUP BY bin
""")
def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error table (Guo et al. ICML 2017's fixed
    confidence bins) for the hashed quality classifier against the
    independent Gopher rule gate — the OTHER calibration readout next
    to q_quality_calibration: that one buckets by score DECILE (equal
    mass, monotonicity diagnostic); this one buckets by normalized
    confidence (equal width, the |confidence − accuracy| gap that ECE
    averages). A sharp model with honest scores shows small gaps; big
    gaps in the high-confidence bins are what reliability diagrams
    exist to catch before a score threshold ships.

    Exactness: confidence = min-max normalized score in integer micro
    (bounds enter as a 1-row broadcast aggregate); per-bin mean
    confidence and pass rate are single integer divisions; the gap is
    an integer |difference|.

    Scale shape: two map-side scoring passes, one 1-row bounds
    aggregate broadcast back, one 10-group aggregate — no sort, no
    window, no per-row join."""
    from telecom_competitor_analysis_spark.operators.quality import (
        gopher_rules,
        hashed_linear_score,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    model = hashed_linear_score(docs, "doc_id", "text").select(
        "doc_id", "score_micro"
    )
    gopher = gopher_rules(docs, "doc_id", "text").select("doc_id", "passes")
    # r12 optimization (guide §5): `j` feeds TWO consumers (the min/max
    # bounds aggregate and the binned rollup), and each re-derivation
    # pays both full-tokenize scoring passes (18 parquet scans in the
    # before plan). Persist the 3-column frame — the
    # q_quality_calibration / q_conformal_coverage shape.
    j = model.join(gopher, on="doc_id").persist()
    bounds = j.agg(
        F.min("score_micro").alias("min_s"),
        F.max("score_micro").alias("max_s"),
    )
    b = j.crossJoin(F.broadcast(bounds)).select(
        "passes",
        F.expr(
            "CASE WHEN max_s = min_s THEN CAST(500000 AS BIGINT)"
            " ELSE CAST((score_micro - min_s) * 1000000"
            " DIV (max_s - min_s) AS BIGINT) END"
        ).alias("conf_micro"),
    )
    binned = b.select(
        "passes",
        "conf_micro",
        F.expr("CAST(least(9, conf_micro DIV 100000) AS INT)").alias(
            "bin"
        ),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("CAST(SUM(conf_micro) DIV COUNT(1) AS BIGINT)").alias(
            "avg_conf_micro"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("pass_micro"),
        F.expr(
            "CAST(abs(SUM(conf_micro) DIV COUNT(1)"
            " - SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(1)) AS BIGINT)"
        ).alias("gap_micro"),
    )


FRESHNESS_HALF_LIFE_DAYS = 7


FRESHNESS_MAX_BUCKET = 16


# Freshness decay (q_freshness_decay): dyadic half-life,
# per-event integer shift-divide; anchor = max event date (UTC session
# in both engines). Every division rides the shared sign-split text
# sdiv_expr (r12 ADVICE: vc can go negative — refunds — and Spark DIV
# truncates while DuckDB // floors; they agree only on non-negatives).
_FRESH_DEC = sdiv_expr("vc", "(CAST(1 AS BIGINT) << b)", "//")


_FRESH_RATIO = sdiv_expr(f"SUM({_FRESH_DEC}) * 1000000", "SUM(vc)", "//")


@query(f"""
    WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(round(value * 100, 0) AS BIGINT) AS vc
        FROM events
    ),
    anchor AS (SELECT MAX(d) AS anchor FROM e),
    b AS (
        SELECT event_type, vc,
               least({FRESHNESS_MAX_BUCKET},
                     date_diff('day', d, (SELECT anchor FROM anchor))
                     // {FRESHNESS_HALF_LIFE_DAYS}) AS b
        FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(vc) AS BIGINT) AS raw_cents,
           CAST(SUM({_FRESH_DEC}) AS BIGINT) AS decayed_cents,
           CAST({_FRESH_RATIO} AS BIGINT) AS retention_micro
    FROM b GROUP BY event_type
""")
def q_freshness_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential freshness weighting with a DYADIC half-life — the
    recency-weighted aggregate a training-mix or trending-topics stage
    computes over an event log (yesterday's signal counts double last
    week's). Weight = 2^-b where b = age-in-half-lives (7-day
    half-life, capped at 16); because the base is 2 and ages are
    integer buckets, the per-event decayed value is a plain integer
    shift-divide (value_cents DIV 2^b) — no transcendental, no float
    sum, no cross-engine FP boundary anywhere. The floor happens ONCE
    per event (documented bias, identical in both engines); summed
    decayed mass is then exact int64 (≤ raw cents sum ≈ 3e9 at sf0.1,
    ×100 ≈ 3e11 — five orders inside the audit bound).

    The anchor is max(event date) — a 1-row broadcast aggregate, so
    the query is reproducible on a frozen corpus (production would pin
    the anchor to the run date).

    Scale shape: one 1-row anchor aggregate broadcast to the scan, one
    map-side bucket/shift projection, one partial-aggregated
    groupBy(event_type)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    anchor = ev.agg(F.max("d").alias("anchor"))
    b = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "vc",
        F.expr(
            f"CAST(least({FRESHNESS_MAX_BUCKET}, datediff(anchor, d)"
            f" DIV {FRESHNESS_HALF_LIFE_DAYS}) AS INT)"
        ).alias("b"),
    )
    # Signed-division hazard (r12 ADVICE): value_cents can go negative
    # (refunds), and Spark's DIV truncates while DuckDB's // floors —
    # they agree only on non-negatives. Every division here rides the
    # shared sign-split text sdiv_expr so a negative vc (or a negative
    # decayed/raw sum in the ratio) can never diverge cross-engine.
    dec = sdiv_expr("vc", "shiftleft(CAST(1 AS BIGINT), b)", "DIV")
    ratio = sdiv_expr(
        f"SUM({dec}) * 1000000", "SUM(vc)", "DIV"
    )
    return b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vc").cast("long").alias("raw_cents"),
        F.sum(F.expr(dec)).cast("long").alias("decayed_cents"),
        F.expr(f"CAST({ratio} AS BIGINT)").alias("retention_micro"),
    )


# Feature-hash collision audit (q_feature_hash_collisions):
# the scorer's own 64-bucket md5 hash (_md5_bucket_sql), bucket-load
# histogram + the empty-bucket row.
@query(f"""
    WITH vocab AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS word
              FROM documents)
        WHERE word != '' GROUP BY word
    ),
    loads AS MATERIALIZED (
        SELECT {_md5_bucket_sql("word", 64)} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS load,
               CAST(SUM(freq) AS BIGINT) AS mass
        FROM vocab GROUP BY 1
    ),
    hist AS (
        SELECT load,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(mass) AS BIGINT) AS token_mass
        FROM loads GROUP BY load
    ),
    empty AS (
        SELECT CAST(0 AS BIGINT) AS load,
               CAST(64 - COUNT(*) AS BIGINT) AS n_buckets,
               CAST(0 AS BIGINT) AS token_mass
        FROM loads HAVING 64 - COUNT(*) > 0
    )
    SELECT * FROM hist UNION ALL SELECT * FROM empty
""")
def q_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit of the quality classifier's OWN
    feature space (operators/quality.py::hashed_linear_score hashes
    every word into 64 buckets; distinct words sharing a bucket share a
    weight — feature aliasing): the bucket-load histogram over the
    distinct vocabulary, with the token mass riding on each load class,
    plus the empty-bucket row (load 0 — wasted feature slots). The
    table that says whether 64 buckets is enough before the score
    threshold ships.

    Same portable bucket function as the scorer (first two hex chars
    of md5, mod 64 — the _md5_bucket_sql convention), so the audit
    measures the production hash, not a lookalike.

    Scale shape: one groupBy(word) vocabulary collapse, one 64-group
    aggregate, one histogram aggregate over ≤ 64 rows, and a 1-row
    union for the empty-bucket class."""
    n_buckets = 64
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(words(F.trim(F.col("text")))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    loads = vocab.select(
        F.pmod(
            F.conv(F.substring(F.md5("word"), 1, 2), 16, 10).cast("int"),
            F.lit(n_buckets),
        ).alias("bucket"),
        "freq",
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("load"),
        F.sum("freq").cast("long").alias("mass"),
    )
    hist = loads.groupBy("load").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("mass").cast("long").alias("token_mass"),
    )
    empty = loads.agg(
        F.lit(0).cast("long").alias("load"),
        (F.lit(n_buckets) - F.count(F.lit(1)))
        .cast("long")
        .alias("n_buckets"),
        F.lit(0).cast("long").alias("token_mass"),
    ).filter(F.col("n_buckets") > 0)
    return hist.unionByName(empty)


# Media sniff (q_media_sniff): payload = header || utf8
# bytes rebuilt in SQL; sniff and family are the SHARED case texts over
# the 8-hex-char prefix (DuckDB hexes then slices — blob substring
# does not exist here; same value as Spark's slice-then-hex).
_sniff = SNIFF_CASE.format(h="left(hex(payload), 8)")


@query(f"""
    WITH media AS (
        SELECT doc_id AS media_id,
               (CASE doc_id % 5
                WHEN 0 THEN '\\xFF\\xD8\\xFF'::BLOB
                WHEN 1 THEN '\\x89\\x50\\x4E\\x47'::BLOB
                WHEN 2 THEN '\\x52\\x49\\x46\\x46'::BLOB
                WHEN 3 THEN '\\x47\\x49\\x46\\x38'::BLOB
                ELSE ''::BLOB END) || encode(text) AS payload,
               CASE (doc_id % 3) + 1
                   WHEN 1 THEN 'image' WHEN 2 THEN 'audio'
                   ELSE 'video' END AS media_type
        FROM documents
    ),
    sniffed AS (
        SELECT media_type,
               {_sniff} AS sniffed
        FROM media
    ),
    fam AS (
        SELECT media_type, sniffed,
               {SNIFF_FAMILY_CASE.format(s="sniffed")} AS sniffed_family
        FROM sniffed
    )
    SELECT media_type, sniffed,
           (sniffed_family != 'unknown'
            AND sniffed_family != media_type) AS is_mismatch,
           CAST(COUNT(*) AS BIGINT) AS n_files
    FROM fam GROUP BY media_type, sniffed, sniffed_family
""")
def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type audit over the multimodal binary column
    — the declared-vs-actual format check every media-ingest pipeline
    runs before wasting decode budget (a 'video' row whose payload
    starts FFD8FF is a mislabeled JPEG; q_frame_dedup and the decode
    stage downstream both key on the declaration being true). Payloads
    carry real container signatures (JPEG/PNG/RIFF/GIF, stamped
    deterministically — operators/multimodal.py), sniffing reads ONLY
    the first 4 payload bytes, and the (declared, sniffed) contingency
    table with mismatch flags is the audit output.

    Scale shape: entirely map-side until one bounded aggregate (the
    contingency table is ≤ |types| × |formats| rows); the Spark side
    hexes a 4-byte SLICE of the blob (O(1) per row), the oracle hexes
    then slices — same value by construction."""
    from telecom_competitor_analysis_spark.operators.multimodal import (
        sniff_media,
        with_container_header,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = with_container_header(
        as_media_table(docs, "doc_id", "text")
    )
    s = sniff_media(media)
    return (
        s.groupBy("media_type", "sniffed", "sniffed_family")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"))
        .select(
            "media_type",
            "sniffed",
            F.expr(
                "sniffed_family != 'unknown'"
                " AND sniffed_family != media_type"
            ).alias("is_mismatch"),
            "n_files",
        )
    )


PACK_SEQ_LEN = 512


PACK_SHARDS = 32


# q_pack_efficiency (q_pack_efficiency): two packing
# strategies over the SAME portable md5 doc_id shards (32), L=512.
# The concat leg is one window cumsum; the FFD leg replays
# first-fit-decreasing EXACTLY via a recursive CTE whose state is each
# shard's open-bin load list — one doc per shard per iteration in
# (n desc, doc_id) order, first-fit index found by a correlated
# unnest-with-ordinality subquery (a correlated LAMBDA inside a
# recursive term sends DuckDB's planner into a rewrite blowup — the
# unnest form is the workaround; input CTEs MATERIALIZED so the
# recursion never re-derives the tokenization).
_PACK_SHARD = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", 32)


@query(f"""
    WITH RECURSIVE t AS MATERIALIZED (
        SELECT doc_id,
               len(string_split(trim(text), ' '))::BIGINT AS n_raw,
               LEAST(len(string_split(trim(text), ' '))::BIGINT, 512)
                   AS n,
               {_PACK_SHARD} AS shard
        FROM documents
    ),
    c AS (
        SELECT shard, n, n_raw,
               SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n AS start
        FROM t
    ),
    cagg AS (
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_raw) AS BIGINT) AS total_tokens,
               CAST((SUM(n) + 511) // 512 AS BIGINT) AS n_seqs,
               CAST(SUM(LEAST(n, 512 - (start % 512))) AS BIGINT)
                   AS used_tokens
        FROM c GROUP BY shard
    ),
    d AS MATERIALIZED (
        SELECT shard, n, doc_id,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY n DESC, doc_id) AS rk
        FROM t
    ),
    pack AS (
        SELECT shard, 0::BIGINT AS rk, CAST([] AS BIGINT[]) AS bins
        FROM (SELECT DISTINCT shard FROM d)
        UNION ALL
        SELECT sub.shard, sub.rk,
               CASE WHEN sub.p IS NULL THEN list_append(sub.bins, sub.n)
                    ELSE sub.bins[1:sub.p - 1]
                         || [sub.bins[sub.p] + sub.n]
                         || sub.bins[sub.p + 1:]
               END
        FROM (
            SELECT d.shard, d.rk, d.n, pack.bins,
                   (SELECT MIN(u.ord) FROM (
                        SELECT unnest(pack.bins) AS b,
                               generate_subscripts(pack.bins, 1) AS ord
                    ) u WHERE u.b + d.n <= 512) AS p
            FROM pack JOIN d
              ON d.shard = pack.shard AND d.rk = pack.rk + 1
        ) sub
    ),
    fbins AS (
        SELECT p.shard, p.bins
        FROM pack p
        JOIN (SELECT shard, MAX(rk) AS mrk FROM pack GROUP BY shard) m
          ON p.shard = m.shard AND p.rk = m.mrk
    ),
    fagg AS (
        SELECT f.shard,
               tt.n_docs, tt.total_tokens,
               CAST(len(f.bins) AS BIGINT) AS n_seqs,
               CAST(list_sum(f.bins) AS BIGINT) AS used_tokens
        FROM fbins f
        JOIN (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_raw) AS BIGINT) AS total_tokens
              FROM t GROUP BY shard) tt USING (shard)
    ),
    lab AS (
        SELECT 'concat_trunc' AS strategy, * FROM cagg
        UNION ALL
        SELECT 'ffd_sorted' AS strategy, * FROM fagg
    )
    SELECT strategy, CAST(shard AS INT) AS shard, n_docs, total_tokens,
           n_seqs, used_tokens,
           CAST(total_tokens - used_tokens AS BIGINT) AS trunc_tokens,
           CAST(used_tokens * 1000000 // (n_seqs * 512) AS BIGINT)
               AS fill_micro
    FROM lab
""")
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing strategy comparison (r11 VERDICT item 4) — the
    production packing decision as a measured table: q_sequence_pack
    ships concat-and-chunk and q_length_buckets measures padding waste,
    but what a training pipeline actually decides is WHICH packing
    discipline to run. Two strategies over the same 32 hash shards
    (portable md5 bucket of doc_id — the feature-hash convention, so
    the oracle shards identically), L=512, docs longer than L truncated
    to L in both:

    - ``concat_trunc``: docs laid out in (shard, doc_id) arrival order
      by running cumsum; a doc straddling a sequence boundary keeps
      only the tokens up to the boundary (the no-split discipline's
      naive form — boundary overhang is dropped). n_seqs =
      ceil(tokens/L); loss is the size-biased boundary overhang.
    - ``ffd_sorted``: first-fit-decreasing WITHIN each shard
      (operators/curate.py::ffd_pack — length-sorted greedy first-fit,
      Johnson's 11/9·OPT+1 packer): docs placed whole, a new sequence
      opens only when none of the open ones has room. Zero boundary
      loss; the cost is per-sequence slack, which FFD minimizes by
      letting short docs fill long docs' gaps.

    Per (strategy, shard): doc/token counts, sequences formed, used
    tokens, truncated tokens, and fill_micro = used·1e6 div (n_seqs·L)
    — the readout a pipeline compares before committing a packing job
    (on this corpus FFD fills ~96% vs concat-trunc's ~91% at sf0.1,
    pinned directionally by test).

    Exactness: all-integer (counts, cumsums, capped keeps, one micro
    division). The FFD leg is deterministic ((n desc, doc_id) order,
    first-fit index), and the DuckDB oracle replays it EXACTLY via a
    recursive CTE carrying each shard's open-bin load list — the
    sequential-per-shard algorithm is the same algorithm in both
    engines, just spelled as recursion there and as a per-group loop
    here.

    Scale shape: lengths-only columns shuffle (the text never moves);
    ONE exchange on the shard key total — both strategies are computed
    inside a single applyInPandas group per shard
    (operators/curate.py::pack_efficiency_stats; separate DataFrame
    branches would re-derive the tokenized input per consumer and pay
    a second window exchange). FFD is sequential per shard by nature,
    so the shard count is the parallelism knob — the 100 TB scale
    unit, exactly like the shingle/IVF build shards."""
    from telecom_competitor_analysis_spark.operators.curate import (
        pack_efficiency_stats,
    )
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    L = PACK_SEQ_LEN
    docs = load_table(spark, sf_dir, "documents")
    t = ensure_parallelism(
        docs.select(
            "doc_id",
            n_words(F.trim(F.col("text"))).alias("n_raw"),
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.col("doc_id").cast("string")), 1, 2
                    ),
                    16,
                    10,
                ).cast("int"),
                F.lit(PACK_SHARDS),
            ).alias("shard"),
        )
    )
    stats = pack_efficiency_stats(t, "doc_id", "n_raw", "shard", seq_len=L)
    return stats.select(
        "strategy",
        F.col("shard").cast("int"),
        "n_docs",
        "total_tokens",
        "n_seqs",
        "used_tokens",
        (F.col("total_tokens") - F.col("used_tokens"))
        .cast("long")
        .alias("trunc_tokens"),
        F.expr(
            f"CAST(used_tokens * 1000000 DIV (n_seqs * {L}) AS BIGINT)"
        ).alias("fill_micro"),
    )


CONFORMAL_TARGET_MICRO = 900_000


# q_conformal_coverage (q_conformal_coverage): the q_ece
# composition (classifier + gopher oracles as subqueries), md5-parity
# calibration split, exact conformal order statistic, coverage and
# rejection on the test half.
@query(f"""
    WITH model AS (
        SELECT doc_id, score_micro
        FROM ({q_quality_classifier.oracle})
        WHERE score_micro IS NOT NULL
    ),
    gopher AS (
        SELECT doc_id, passes FROM ({q_gopher_rules.oracle})
    ),
    scored AS MATERIALIZED (
        SELECT m.doc_id, m.score_micro, g.passes,
               ((strpos('0123456789abcdef',
                        substr(md5(CAST(m.doc_id AS VARCHAR)), 1, 1))
                 - 1) % 2) = 0 AS is_cal
        FROM model m JOIN gopher g USING (doc_id)
    ),
    cal_good AS (
        SELECT score_micro, doc_id,
               row_number() OVER (ORDER BY score_micro ASC, doc_id ASC)
                   AS rn
        FROM scored WHERE is_cal AND passes
    ),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal_good),
    thr AS (
        SELECT cg.score_micro AS threshold_micro, nc.n_cal
        FROM cal_good cg, nc
        WHERE cg.rn = (1000000 - 900000) * (nc.n_cal + 1) // 1000000
    )
    SELECT t.threshold_micro, t.n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN s.passes THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test_good,
           CAST(SUM(CASE WHEN s.passes AND s.score_micro >=
                    t.threshold_micro THEN 1 ELSE 0 END) * 1000000
                // SUM(CASE WHEN s.passes THEN 1 ELSE 0 END) AS BIGINT)
               AS coverage_micro,
           CAST(SUM(CASE WHEN NOT s.passes AND s.score_micro <
                    t.threshold_micro THEN 1 ELSE 0 END) * 1000000
                // GREATEST(SUM(CASE WHEN NOT s.passes THEN 1 ELSE 0
                    END), 1) AS BIGINT) AS rejection_micro,
           CAST(900000 AS BIGINT) AS target_micro
    FROM scored s, thr t
    WHERE NOT s.is_cal
    GROUP BY t.threshold_micro, t.n_cal
""")
def q_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal quality-filter calibration (Vovk et al.; the
    Angelopoulos-Bates recipe applied to data curation): before
    shipping a score threshold that keeps "90% of good documents", set
    it from a held-out calibration split with a finite-sample
    guarantee and AUDIT the achieved coverage on the test split. The
    split is the portable md5 parity of doc_id (deterministic, both
    engines); "good" = the independent Gopher gate; the threshold is
    the k-th smallest calibration score among good docs with
    k = floor(α·(n+1)), α = 10% — the conformal lower bound that
    guarantees ≥ 90% of good test docs score at or above it (up to
    the finite-sample 1/(n+1) slack). Reported: the threshold, the
    achieved coverage of good test docs, and the rejection rate of bad
    test docs (the filter's efficiency — a threshold that keeps all
    the good docs by keeping everything is useless).

    All-integer: scores are the classifier's score_micro, the order
    statistic is exact (row_number over the bounded calibration good
    set), rates are micro divisions.

    Scale shape: two map-side scoring passes, one exact order
    statistic over the calibration good docs (single bounded window —
    at 100 TB the calibration split is a capped sample by design),
    three partial-aggregated counts."""
    from telecom_competitor_analysis_spark.operators.quality import (
        gopher_rules,
        hashed_linear_score,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    scored = (
        hashed_linear_score(docs, "doc_id", "text")
        .select("doc_id", "score_micro")
        .join(
            gopher_rules(docs, "doc_id", "text").select(
                "doc_id", "passes"
            ),
            on="doc_id",
        )
        .withColumn(
            "is_cal",
            F.expr(
                "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 1),"
                " 16, 10) AS INT) % 2 = 0"
            ),
        )
        # r12 optimization (guide §5): `scored` is consumed THREE times
        # (n_cal, the threshold order statistic, and the test rollup),
        # and its lineage holds BOTH text-scoring passes (hashed linear
        # score + Gopher gate, each a full tokenize) joined on doc_id —
        # the before plan re-derived all of it per consumer. The frame
        # is narrow (doc_id, score_micro, passes, is_cal); persist it
        # so the scoring join runs once. At cluster scale this is the
        # scored-calibration table a conformal pipeline materializes
        # anyway.
        .persist()
    )
    cal_good = scored.filter(F.col("is_cal") & F.col("passes"))
    n_cal = cal_good.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    w = Window.orderBy(F.col("score_micro").asc(), F.col("doc_id").asc())
    thr = (
        cal_good.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(n_cal))
        .filter(
            F.col("rn")
            == F.expr(
                f"CAST((1000000 - {CONFORMAL_TARGET_MICRO})"
                " * (n_cal + 1) DIV 1000000 AS BIGINT)"
            )
        )
        .select(
            F.col("score_micro").alias("threshold_micro"), "n_cal"
        )
    )
    test = scored.filter(~F.col("is_cal"))
    return (
        test.crossJoin(F.broadcast(thr))
        .groupBy("threshold_micro", "n_cal")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.col("passes").cast("int"))
            .cast("long")
            .alias("n_test_good"),
            F.expr(
                "CAST(SUM(CASE WHEN passes AND score_micro >="
                " threshold_micro THEN 1 ELSE 0 END) * 1000000"
                " DIV SUM(CASE WHEN passes THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("coverage_micro"),
            F.expr(
                "CAST(SUM(CASE WHEN NOT passes AND score_micro <"
                " threshold_micro THEN 1 ELSE 0 END) * 1000000"
                " DIV GREATEST(SUM(CASE WHEN NOT passes THEN 1 ELSE 0"
                " END), 1) AS BIGINT)"
            ).alias("rejection_micro"),
        )
        .withColumn(
            "target_micro",
            F.lit(CONFORMAL_TARGET_MICRO).cast("long"),
        )
    )


# q_keeper_policy_diff (q_keeper_policy_diff): per CC
# cluster, keepers under min-id / longest / best-score; arg_max via
# the lpad-string composite (the _LP_CTES convention) so the (value
# desc, id asc) tie order is identical to Spark's max_by(struct).
@query(
    _NEARDUP_CC_CTES
    + """
    , lab AS MATERIALIZED (
        SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id
    ),
    nw AS (
        SELECT doc_id AS id,
               len(string_split(trim(text), ' '))::BIGINT AS nw
        FROM documents
    ),
    score AS (
        SELECT doc_id AS id, score_micro
        FROM (""" + q_quality_classifier.oracle + """)
    ),
    j AS (
        SELECT lab.cluster_id, lab.id, nw.nw, score.score_micro
        FROM lab JOIN nw USING (id) JOIN score USING (id)
    ),
    per AS (
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(id) AS BIGINT) AS keep_minid,
               CAST(arg_max(id,
                    lpad(CAST(nw AS VARCHAR), 10, '0') || '|'
                    || lpad(CAST(999999999999 - id AS VARCHAR), 12,
                            '0')) AS BIGINT) AS keep_longest,
               CAST(arg_max(id,
                    lpad(CAST(score_micro + 100000000 AS VARCHAR), 12,
                         '0') || '|'
                    || lpad(CAST(999999999999 - id AS VARCHAR), 12,
                            '0')) AS BIGINT) AS keep_quality
        FROM j GROUP BY cluster_id
    )
    SELECT cluster_id, n_members, keep_minid, keep_longest,
           keep_quality,
           keep_longest != keep_minid AS longest_differs,
           keep_quality != keep_minid AS quality_differs
    FROM per WHERE n_members >= 2
"""
)
def q_keeper_policy_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship POLICY comparison — the decision
    q_canonical_docs already takes (keep best-quality), laid next to
    its rivals: per multi-node near-dup cluster, the keeper under
    min-id (the cheap default), longest-doc, and best-classifier-score
    policies, with difference flags. The table a curation rollout
    reads before freezing its survivorship rule: if longest and
    best-score rarely disagree with min-id, the cheap policy is free;
    where they disagree is exactly the mass at stake. Ties break to
    the lowest doc_id everywhere (total order, both engines).

    Scale shape: components from the shared materialized pair graph;
    features are two map-side passes joined on doc_id; per-cluster
    keepers are one partial-aggregable max_by/min per policy over one
    groupBy(cluster_id)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
    )
    from telecom_competitor_analysis_spark.operators.quality import (
        hashed_linear_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    lab = dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    # r12 optimization (guide §2.4): hashed_linear_score already emits
    # n_words from the SAME tokenization (size(words(trim(text)))), so
    # the separate word-count pass and the doc_id self-join the before
    # plan paid are free — one map-side projection supplies both
    # features.
    feats = hashed_linear_score(docs, "doc_id", "text").select(
        F.col("doc_id").alias("id"),
        F.col("n_words").alias("nw"),
        "score_micro",
    )
    j = lab.join(feats, on="id")
    per = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("id").cast("long").alias("keep_minid"),
        F.max_by("id", F.struct(F.col("nw"), -F.col("id")))
        .cast("long")
        .alias("keep_longest"),
        F.max_by("id", F.struct(F.col("score_micro"), -F.col("id")))
        .cast("long")
        .alias("keep_quality"),
    )
    return per.filter(F.col("n_members") >= 2).select(
        "cluster_id",
        "n_members",
        "keep_minid",
        "keep_longest",
        "keep_quality",
        (F.col("keep_longest") != F.col("keep_minid")).alias(
            "longest_differs"
        ),
        (F.col("keep_quality") != F.col("keep_minid")).alias(
            "quality_differs"
        ),
    )
