"""Statistics, evaluation and sampling: exact and sketched aggregates,
percentiles, deterministic samples and splits, generation and ranking
metrics, privacy audits and confidence intervals. Also the shared
exact-integer SQL expression builders (``sdiv_expr`` and friends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.text import (
    lang_id_heuristic,
    words,
)
from telecom_competitor_analysis_spark.operators.dedup import shingle_rows
from telecom_competitor_analysis_spark.plans.dedup import (
    _materialized_lsh_pairs,
    _NEARDUP_CC_CTES,
)
from telecom_competitor_analysis_spark.plans.registry import query, rows_only
from telecom_competitor_analysis_spark.sources.readers import load_table


@rows_only
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — rows-only check: estimates
    are engine-specific by design. At 100 TB this replaces exact distinct
    counts that would otherwise need a full shuffle of the key universe."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey").alias("approx_customers")
    )


@rows_only
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch (rows-only: sketch estimates are
    engine-specific). The 100 TB path for percentiles — fixed-size state,
    mergeable across partitions."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_percentile(F.col("value"), F.lit(0.5), F.lit(1000)).alias(
            "p50_est"
        ),
        F.approx_percentile(F.col("value"), F.lit(0.95), F.lit(1000)).alias(
            "p95_est"
        ),
    )


@query("""
        SELECT
            l_returnflag,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            round(stddev_samp(l_quantity), 6) AS stddev_qty,
            round(var_samp(l_quantity), 6) AS var_qty,
            round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
            round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
        FROM lineitem
        GROUP BY l_returnflag
    """)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 statistical aggregates — stddev/variance/correlation/
    covariance per group (the descriptive-statistics surface DuckDB and
    Spark share: stddev_samp / var_samp / corr / covar_samp). All four
    are partial-aggregable co-moment sketches (one shuffle of constant-
    size state per group). Doubles are rounded to 6: the normalized
    stats (corr) and the small-magnitude ones (stddev/var of qty,
    covar qty·discount) keep cross-engine float noise far below the
    rounding step."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.stddev_samp(q), 6).alias("stddev_qty"),
        F.round(F.var_samp(q), 6).alias("var_qty"),
        F.round(F.corr(q, F.col("l_extendedprice")), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp(q, F.col("l_discount")), 6).alias(
            "covar_qty_disc"
        ),
    )


@query("""
        SELECT
            event_type,
            median(value) AS median_value,
            COUNT(*) AS n
        FROM events
        GROUP BY event_type
    """)
def q_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group (both engines interpolate the middle pair
    identically on doubles)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.median(F.col("value")).alias("median_value"),
        F.count(F.lit(1)).alias("n"),
    )


# q_kmv_distinct — K-Minimum-Values sketch (k=64), Bar-Yossef estimator
# (k-1)/u_k. u is exact integer arithmetic over the first 13 hex nibbles
# scaled by 16^13 = 2^52 (every partial sum < 2^53 — exact in double),
# so the estimate is bit-identical across engines.
_KMV_U = "(" + " + ".join(
    "CAST(strpos('0123456789abcdef', substr(__h, {pos}, 1)) - 1 AS DOUBLE)"
    " * {scale!r}".format(pos=i + 1, scale=float(16 ** (12 - i)))
    for i in range(13)
) + ") / 4503599627370496.0"


@query(f"""
    WITH hashes AS (
        SELECT DISTINCT
            l_returnflag AS g,
            md5(CAST(l_partkey AS VARCHAR)) AS __h
        FROM lineitem
    ),
    ranked AS (
        SELECT g, __h,
               row_number() OVER (PARTITION BY g ORDER BY __h) AS rn
        FROM hashes
    ),
    pg AS (
        SELECT g,
               MAX(CASE WHEN rn = 64 THEN {_KMV_U} END) AS u_k,
               COUNT(*) AS n_seen
        FROM ranked WHERE rn <= 64 GROUP BY g
    ),
    exact AS (
        SELECT l_returnflag AS g,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
        FROM lineitem GROUP BY 1
    )
    SELECT
        pg.g AS l_returnflag,
        CASE WHEN n_seen < 64 THEN CAST(n_seen AS BIGINT)
             ELSE CAST(round(63.0 / u_k, 0) AS BIGINT) END AS est_distinct,
        n_exact
    FROM pg JOIN exact USING (g)
""")
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-count sketch (operators/dedup.py::
    kmv_distinct, k=64) over distinct parts per return flag — the
    ORACLE-CHECKED sketch: KMV's estimate is a pure function of the k
    smallest md5 values, so both engines reproduce it bit-for-bit,
    unlike HLL's implementation-private registers (q_approx_distinct
    stays rows-only for exactly that reason). Exact counts ride along
    so the sketch error is a visible, checked quantity."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        kmv_distinct,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_returnflag", "l_partkey", k=64)


@query("""
        SELECT
            lang,
            CASE WHEN substr(md5(doc_id::VARCHAR || '|split'), 1, 2) < 'cd'
                 THEN 'train' ELSE 'test' END AS split,
            COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1, 2
    """)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based split assignment (~80/20 by first md5
    byte), counted per (lang, split). Stable under re-runs and
    reshuffling — the splitting primitive a 100 TB pipeline needs (no
    sampling state, no coordination)."""
    from telecom_competitor_analysis_spark.operators.curate import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", hash_split(F.col("doc_id")))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


MIX_RATES = {"en": 0.9, "fr": 0.5, "de": 0.5, "es": 0.25, "zh": 0.1}


MIX_DEFAULT_RATE = 0.05


def _hex_bound_chars() -> int:
    from telecom_competitor_analysis_spark.operators.curate import (
        HEX_BOUND_CHARS,
    )

    return HEX_BOUND_CHARS


def _mix_bound_case() -> str:
    """CASE expression for the stratified-sample rate bounds — generated
    from the SAME Python constants the Spark query uses
    (MIX_RATES via curate._hex_bound), so the two engines
    cannot drift."""
    from telecom_competitor_analysis_spark.operators.curate import _hex_bound

    whens = "\n            ".join(
        f"WHEN '{k}' THEN '{_hex_bound(v)}'" for k, v in sorted(MIX_RATES.items())
    )
    return (
        "CASE lang\n            "
        + whens
        + f"\n            ELSE '{_hex_bound(MIX_DEFAULT_RATE)}' END"
    )


@query(f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, {_hex_bound_chars()})
          < {_mix_bound_case()}
""")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-mix weighting): keep
    90% of English docs, 50% fr/de, 25% es, 10% zh, 5% anything else —
    membership decided by md5(doc_id), so the mix is reproducible,
    shuffle-independent, and a pure zero-shuffle filter at any scale."""
    from telecom_competitor_analysis_spark.operators.curate import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", MIX_RATES, MIX_DEFAULT_RATE
    ).select("doc_id", "lang", "source")


# q_sample_exact_n — exactly 50 per language by md5 rank (id tie-break).
@query("""
    SELECT doc_id, lang, source
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR) || '|bal') ASC, doc_id ASC
    ) <= 50
""")
def q_sample_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50-per-language sample by deterministic md5 rank — the
    exact-quota twin of q_stratified_sample (eval-set carve-outs need
    exact sizes, not binomial ones). Constant bound → WindowGroupLimit
    prunes map-side."""
    from telecom_competitor_analysis_spark.operators.curate import (
        sample_exact_n,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sample_exact_n(docs, "doc_id", "lang", n=50).select(
        "doc_id", "lang", "source"
    )


# q_winsorize — per-group [p1, p99] clip; quantile_cont's linear
# interpolation matches Spark's exact percentile on integer inputs.
@query("""
    WITH d AS (
        SELECT
            l_orderkey,
            l_linenumber,
            l_returnflag,
            CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS price_cents
        FROM lineitem
    ),
    b AS (
        SELECT *,
               quantile_cont(price_cents, 0.01)
                   OVER (PARTITION BY l_returnflag) AS p01,
               quantile_cont(price_cents, 0.99)
                   OVER (PARTITION BY l_returnflag) AS p99
        FROM d
    )
    SELECT
        l_orderkey,
        l_linenumber,
        l_returnflag,
        price_cents,
        round(least(greatest(CAST(price_cents AS DOUBLE), p01), p99), 2)
            AS clipped_cents
    FROM b
""")
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip to the per-group [p1, p99] band) — the
    outlier-capping step before stats/training. Exact percentiles via a
    partial-aggregable groupBy (3 output rows for l_returnflag), then a
    broadcast join-back to clip — NOT a whole-partition window: the group
    key has 3 distinct values, so a `percentile().over(partitionBy(key))`
    window would buffer ~1/3 of the table per window partition at any
    scale (the round-4 verdict's one weak plan). The agg side still sorts
    per group to get exact percentiles, but only the (key, price) pairs
    ride that shuffle — the clip itself is a map-side broadcast join.
    Prices in integer cents, clip arithmetic in double with an explicit
    round so both engines emit identical values.

    r13 (guide §6/§2.6 — scan parallelism): the testdata parquet is one
    row group, so the percentile's partial aggregation ran on the single
    scan split (one core buffering all 600k rows). The shared
    under-split guard repartitions first; interleaved A/B best-of-3:
    3.65 s -> 2.42 s, rows identical. On a well-split cluster scan the
    guard is a no-op."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    li = ensure_parallelism(load_table(spark, sf_dir, "lineitem"))
    cents = F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint")
    d = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        cents.alias("price_cents"),
    )
    bounds = d.groupBy("l_returnflag").agg(
        F.percentile(F.col("price_cents"), F.lit(0.01)).alias("__p01"),
        F.percentile(F.col("price_cents"), F.lit(0.99)).alias("__p99"),
    )
    clipped = F.round(
        F.least(
            F.greatest(F.col("price_cents").cast("double"), F.col("__p01")),
            F.col("__p99"),
        ),
        2,
    )
    return d.join(F.broadcast(bounds), on="l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "price_cents",
        clipped.alias("clipped_cents"),
    )


@query("""
        SELECT
            l_returnflag,
            quantile_cont(l_quantity, 0.25) AS p25,
            quantile_cont(l_quantity, 0.5) AS p50,
            quantile_cont(l_quantity, 0.75) AS p75,
            quantile_cont(l_quantity, 0.875) AS p87_5,
            COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """)
def q_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75/p87.5) per group —
    multi-point F.percentile vs DuckDB quantile_cont. Both engines use
    the same type-7 linear interpolation; every requested p is DYADIC
    (k/2^m), so with integral l_quantity the interpolation position's
    fraction and the interpolated value are exactly representable
    doubles in both engines and hash-match bit-for-bit regardless of the
    data distribution (a non-dyadic p like 0.9 would be bit-exact only
    when the position happens to land on equal neighbors — a
    data-dependent gate, not a guarantee). Complements q_approx_quantile
    (the sketch path) with a hard-oracle exact path."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("p25"),
        F.percentile("l_quantity", 0.5).alias("p50"),
        F.percentile("l_quantity", 0.75).alias("p75"),
        F.percentile("l_quantity", 0.875).alias("p87_5"),
        F.count(F.lit(1)).alias("n"),
    )


# q_weighted_sample — Efraimidis-Spirakis A-ES keys u^(1/w); u from the
# portable Knuth multiplicative hash (curate.py::weighted_sample_topk).
@query("""
    WITH d AS (
        SELECT
            doc_id,
            lang,
            CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS wt,
            (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5)
                / 4294967296.0 AS u
        FROM documents
    )
    SELECT
        doc_id,
        lang,
        CAST(row_number() OVER (
            PARTITION BY lang
            ORDER BY pow(u, 1.0 / wt) DESC, doc_id ASC
        ) AS INT) AS rank
    FROM d
    QUALIFY rank <= 20
""")
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis A-ES,
    operators/curate.py::weighted_sample_topk): top-20 docs per language
    with inclusion probability ∝ word count — the corpus-mix up-weighting
    step, reproducible across engines (portable arithmetic hash, rank-
    only output)."""
    from telecom_competitor_analysis_spark.operators.curate import (
        weighted_sample_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(words(F.trim(F.col("text")))).alias("n_words"),
    )
    return weighted_sample_topk(d, "doc_id", "lang", "n_words", k=20)


# Weighted majority-vote label aggregation (q_label_vote):
# winner by total micro weight, ties to the smallest label.
@query("""
    WITH votes AS (
        SELECT user_id,
               event_type AS label,
               CAST(round(value * 1000000, 0) AS BIGINT) AS w_micro
        FROM events
    ),
    per_label AS (
        SELECT user_id, label,
               SUM(w_micro)::BIGINT AS weight_micro,
               COUNT(*)::BIGINT AS n_votes
        FROM votes GROUP BY user_id, label
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY weight_micro DESC, label ASC
               ) AS rn,
               SUM(weight_micro) OVER (PARTITION BY user_id) AS total
        FROM per_label
    )
    SELECT user_id, label, weight_micro, n_votes,
           round(CAST(weight_micro AS DOUBLE) / total, 6) AS vote_share
    FROM ranked WHERE rn = 1
""")
def q_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted majority-vote label aggregation — the annotation-
    resolution stage of SFT/RLHF data pipelines (N raters per example →
    one gold label): per user, each event casts a vote for its
    event_type weighted by ``value`` (exact integer micro-units); the
    winning label is the max total weight, ties to the
    lexicographically smallest label; the vote share quantifies
    agreement (low share = send back for re-annotation).

    Scale shape: partial-aggregable groupBy (user, label) collapses the
    vote stream map-side; the winner pick and the per-user total share
    ONE user_id window exchange (label cardinality per user is tiny, so
    the window input is |users|×|labels|, not |events|). Integer micro
    weights keep the sums exact under any partitioning."""
    events = load_table(spark, sf_dir, "events")
    votes = events.select(
        "user_id",
        F.col("event_type").alias("label"),
        F.round(F.col("value") * 1_000_000, 0).cast("long").alias("w_micro"),
    )
    per_label = votes.groupBy("user_id", "label").agg(
        F.sum("w_micro").alias("weight_micro"),
        F.count(F.lit(1)).cast("long").alias("n_votes"),
    )
    w_user = Window.partitionBy("user_id")
    w_rank = w_user.orderBy(
        F.col("weight_micro").desc(), F.col("label").asc()
    )
    return (
        per_label.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("__total", F.sum("weight_micro").over(w_user))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "label",
            "weight_micro",
            "n_votes",
            F.round(
                F.col("weight_micro").cast("double") / F.col("__total"), 6
            ).alias("vote_share"),
        )
    )


# Leakage-safe split (q_leakage_safe_split): the shared
# component CTE chain with the hash split taken on the component
# label — whole near-dup clusters land in one split.
@query(
    _NEARDUP_CC_CTES
    + """,
    cl AS (
        SELECT id, MIN(label) AS cluster_id
        FROM cc
        GROUP BY id
    )
    SELECT id AS doc_id,
           cluster_id,
           CASE WHEN substr(
                    md5(CAST(cluster_id AS VARCHAR) || '|split'), 1, 2
                ) < 'cd' THEN 'train' ELSE 'test' END AS split
    FROM cl
"""
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the hash split is taken on the
    near-dup CLUSTER id, not the document id, so an entire connected
    component of near-duplicates lands in one split — the guard
    against the classic evaluation leak where a test doc's near-twin
    sits in train (exactly the contamination q_decontaminate measures
    after the fact; this op prevents it structurally — no LSH pair can
    straddle the split, pinned by test). Composes two existing pieces:
    the MATERIALIZED pair graph's connected components
    (q_dedup_clusters' operator) and hash_split (q_train_test_split's
    primitive) applied to the component label.

    Scale shape: the pair graph is the shared materialized artifact
    (built once); min-label propagation is the O(log diameter)
    pointer-doubling loop; the split itself is a map-side md5 on the
    |docs|-row labeled table — no new shuffle beyond the component
    computation. Returns (doc_id, cluster_id, split)."""
    from telecom_competitor_analysis_spark.operators.curate import hash_split
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    clusters = dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    return clusters.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        hash_split(F.col("cluster_id")).alias("split"),
    )


# q_corpus_overlap (q_corpus_overlap) — KMV sketch algebra
# over the distinct-3-shingle universes of the two doc_id-parity halves;
# md5 ordering is engine-portable so the k=64 sketches (and hence the
# estimate) are bit-identical. Exact intersection rides along.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id % 2 AS side,
               arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS sh
        FROM t, unnest(generate_series(1, len(arr) - 2)) AS u(i)
    ),
    va AS (SELECT DISTINCT sh FROM g WHERE side = 0),
    vb AS (SELECT DISTINCT sh FROM g WHERE side = 1),
    ha AS (SELECT md5(sh) AS h FROM va ORDER BY h LIMIT 64),
    hb AS (SELECT md5(sh) AS h FROM vb ORDER BY h LIMIT 64),
    merged AS (
        SELECT DISTINCT h
        FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)
        ORDER BY h LIMIT 64
    ),
    hits AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS est_overlap_hits
        FROM merged JOIN ha USING (h) JOIN hb USING (h)
    ),
    ex AS (
        SELECT CAST((SELECT COUNT(*) FROM va JOIN vb USING (sh)) AS BIGINT)
                   AS exact_inter,
               CAST((SELECT COUNT(*) FROM va) AS BIGINT) AS na,
               CAST((SELECT COUNT(*) FROM vb) AS BIGINT) AS nb
    )
    SELECT CAST(64 AS BIGINT) AS k,
           hits.est_overlap_hits,
           CAST(hits.est_overlap_hits * 1000000 // 64 AS BIGINT)
               AS est_jaccard_micro,
           ex.exact_inter,
           ex.na + ex.nb - ex.exact_inter AS exact_union,
           CAST(ex.exact_inter * 1000000 // (ex.na + ex.nb - ex.exact_inter)
                AS BIGINT) AS exact_jaccard_micro
    FROM hits, ex
""")
def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation via KMV sketch ALGEBRA (Beyer et al.
    SIGMOD'07) — the crawl-to-crawl content-drift check run before
    committing a new snapshot to the training mix. Universe = distinct
    3-word shingles of each corpus half (doc_id parity = the two
    snapshots); each side is summarized by its k=64 smallest
    md5(shingle) values, and the two sketches COMBINE closed-form:
    merge → k smallest of the union; Jaccard ≈ |merged ∩ A ∩ B| / k.
    At 100 TB each side's sketch is one distributed partial top-k
    (TakeOrderedAndProject — no global sort, no shuffle of the shingle
    sets); the estimate itself is sketch-only arithmetic, so two
    snapshots are compared without ever co-shuffling their contents.
    The exact intersection (one equi-join) rides along as the accuracy
    mirror — at scale one would drop it and keep only the sketches.
    md5 is engine-portable, so the estimate is bit-identical in the
    DuckDB oracle (same convention as q_kmv_distinct)."""
    from telecom_competitor_analysis_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", "text", w=3).select(
        (F.col("doc_id") % 2).alias("side"), F.col("word").alias("sh")
    )
    vocab = sh.distinct()
    va = vocab.where(F.col("side") == 0).select("sh")
    vb = vocab.where(F.col("side") == 1).select("sh")
    ha = va.select(F.md5("sh").alias("h")).orderBy("h").limit(64)
    hb = vb.select(F.md5("sh").alias("h")).orderBy("h").limit(64)
    merged = ha.union(hb).distinct().orderBy("h").limit(64)
    hits = (
        merged.join(ha, "h").join(hb, "h").agg(F.count("*").alias("est_overlap_hits"))
    )
    exact = (
        va.join(vb, "sh")
        .agg(F.count("*").alias("exact_inter"))
        .crossJoin(va.agg(F.count("*").alias("na")))
        .crossJoin(vb.agg(F.count("*").alias("nb")))
    )
    return (
        hits.crossJoin(exact)
        .select(
            F.lit(64).cast("long").alias("k"),
            F.col("est_overlap_hits").cast("long"),
            F.expr("est_overlap_hits * 1000000 div 64")
            .cast("long")
            .alias("est_jaccard_micro"),
            F.col("exact_inter").cast("long"),
            (F.col("na") + F.col("nb") - F.col("exact_inter"))
            .cast("long")
            .alias("exact_union"),
            F.expr("exact_inter * 1000000 div (na + nb - exact_inter)")
            .cast("long")
            .alias("exact_jaccard_micro"),
        )
    )


# q_impute_median (q_impute_median) — group-median fill
# with global fallback over the simulated event_id % 7 dropout;
# quantile_cont ↔ F.percentile (the q_percentile_exact convention).
@query("""
    WITH ev AS (
        SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
        FROM events
    ),
    present AS (SELECT * FROM ev WHERE event_id % 7 != 0),
    by_type AS (
        SELECT event_type, quantile_cont(v, 0.5) AS type_median
        FROM present GROUP BY event_type
    ),
    gmed AS (SELECT quantile_cont(v, 0.5) AS global_median FROM present)
    SELECT
        ev.event_id,
        ev.event_type,
        round(
            CASE WHEN ev.event_id % 7 = 0
                 THEN COALESCE(bt.type_median, g.global_median)
                 ELSE ev.v END,
            6
        ) AS value_filled,
        ev.event_id % 7 = 0 AS imputed
    FROM ev
    LEFT JOIN by_type bt USING (event_type)
    CROSS JOIN gmed g
""")
def q_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data repair by group-median imputation — the missing-value fill
    every feature pipeline runs before training (median, not mean:
    robust to the heavy tails the winsorize/outlier queries measure).
    Missingness is SIMULATED deterministically (event_id % 7 — the
    testdata carries no nulls; the rule is transparent and mirrored in
    the oracle): a missing value takes its event_type's median of
    present values, falling back to the global median for a type with
    no present values at all (the coalesce chain every imputer needs).

    Scale shape: medians are per-GROUP aggregates broadcast back (the
    winsorize discipline — never a window over the 5-value type key),
    the global median is a broadcast 1-row aggregate, and the fill
    itself is a map-side coalesce. The percentile↔quantile_cont
    convention matches q_percentile_exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    missing = F.col("event_id") % 7 == 0
    present = ev.filter(~missing)
    by_type = present.groupBy("event_type").agg(
        F.percentile(F.col("v"), F.lit(0.5)).alias("type_median")
    )
    glob = present.agg(
        F.percentile(F.col("v"), F.lit(0.5)).alias("global_median")
    )
    return (
        ev.join(F.broadcast(by_type), on="event_type", how="left")
        .crossJoin(F.broadcast(glob))
        .select(
            "event_id",
            "event_type",
            F.round(
                F.when(
                    missing,
                    F.coalesce(
                        F.col("type_median"), F.col("global_median")
                    ),
                ).otherwise(F.col("v")),
                6,
            ).alias("value_filled"),
            missing.alias("imputed"),
        )
    )


# Bradley-Terry MM ratings (q_bradley_terry): two unrolled
# iterations, all-integer arithmetic (micro ratings, n*1e12 // (pi+pj)
# terms, W*1e12 // denom updates with floor 1000) — truncating integer
# division agrees across engines on positive operands.
@query("""
    WITH li AS (
        SELECT l_partkey, l_suppkey,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        FROM lineitem
    ),
    raw AS (
        SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, a.pc AS pa, b.pc AS pb
        FROM li a
        JOIN li b ON a.l_partkey = b.l_partkey
                 AND a.l_suppkey < b.l_suppkey
        WHERE a.pc != b.pc
    ),
    pairs AS (
        SELECT sa, sb,
               SUM(CASE WHEN pa < pb THEN 1 ELSE 0 END) AS w,
               COUNT(*) AS n
        FROM raw GROUP BY sa, sb
    ),
    sym AS (
        SELECT sa AS i, sb AS j, w, n FROM pairs
        UNION ALL
        SELECT sb AS i, sa AS j, n - w AS w, n FROM pairs
    ),
    wins AS (
        SELECT i, CAST(SUM(w) AS BIGINT) AS W,
               CAST(SUM(n) AS BIGINT) AS n_comp
        FROM sym GROUP BY i
    ),
    -- iteration 1: p0 = 1 everywhere, so each term is exactly
    -- n*500000 and the denominator collapses to n_comp*500000
    p1 AS (
        SELECT i,
               GREATEST(CAST(W * 1000000000000 // (n_comp * 500000)
                             AS BIGINT), 1000) AS p
        FROM wins
    ),
    d2 AS (
        SELECT sym.i,
               GREATEST(CAST(SUM(sym.n * 1000000000000 // (pi.p + pj.p))
                             AS BIGINT), 1) AS den
        FROM sym
        JOIN p1 pi ON pi.i = sym.i
        JOIN p1 pj ON pj.i = sym.j
        GROUP BY sym.i
    ),
    p2 AS (
        SELECT wins.i,
               GREATEST(CAST(W * 1000000000000 // den AS BIGINT), 1000)
                   AS p
        FROM wins JOIN d2 USING (i)
    )
    SELECT p2.i AS s_suppkey,
           wins.W AS wins,
           wins.n_comp AS n_comparisons,
           CAST(p2.p AS BIGINT) AS rating_micro
    FROM p2 JOIN wins ON wins.i = p2.i
""")
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference-strength ratings via two unrolled MM
    iterations (Hunter 2004, "MM algorithms for generalized
    Bradley-Terry models") — the aggregation that turns PAIRWISE
    comparisons into per-item scores: the RLHF reward-data shape
    (which completion wins) and the classic ranking-from-duels
    statistic. Comparisons here: two suppliers quoting the SAME part
    are compared, cheaper price wins (ties dropped); ratings answer
    "which supplier prices strongest overall" with strength-of-
    opposition weighting that plain win-rate lacks.

    Cross-engine exactness (the kmeans/pagerank unrolled-iteration
    discipline): ratings live in integer micro units, every MM term is
    one integer division (n_ij·10¹² div (p_i+p_j)), so per-item
    denominators are integer SUMS — shuffle-order-free — and the
    update (W_i·10¹² div denom, floor 1000 micro) is exact in both
    engines; no float ever enters.

    Scale shape: comparisons come from a self-join BLOCKED ON THE PART
    KEY (pair volume ∝ rows · rows-per-part, never corpus²), collapse
    immediately to per-supplier-pair counts, and each MM iteration is
    two broadcast-size joins (the ratings table has one row per item)
    + one integer-sum aggregate. Fixed 2 iterations keeps the plan
    static; production would loop to a tolerance with the same body.

    Multiplicity pre-aggregation (grouping identical (part, supplier,
    price) triples to a multiplicity m, pair weights m_a·m_b) would be
    exact here but was measured MOOT on this data: every triple is
    distinct at sf0.01 and sf0.1, so it would add one corpus-wide
    exchange for zero pair reduction. n_comparisons counts duplicate
    quotes with multiplicity (pinned on a planted-duplicate fixture in
    tests/test_eval_metrics.py)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
    )
    # r13 (guide §3.1 — pick the join strategy deliberately): the planner
    # broadcast the whole 600k-row comparison side (its size estimate
    # sits under the 10 MB auto-broadcast threshold), which (a) builds a
    # 600k-row hash relation single-threaded and (b) leaves the 9M-pair
    # probe stage at the parquet scan's split parallelism. Forcing the
    # shuffled-hash join repartitions both sides on l_partkey first, so
    # the pair generation runs at full core count: the pairs subtree
    # measured 8.0-10.3 s broadcast vs 1.2-2.5 s shuffle_hash
    # (interleaved A/B, sf0.1, cold). Plan-only change — same rows.
    a, b = li.alias("a"), li.hint("shuffle_hash").alias("b")
    raw = a.join(
        b,
        (F.col("a.l_partkey") == F.col("b.l_partkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
    ).where(F.col("a.pc") != F.col("b.pc"))
    pairs = raw.groupBy(
        F.col("a.l_suppkey").alias("sa"),
        F.col("b.l_suppkey").alias("sb"),
    ).agg(
        F.sum(F.when(F.col("a.pc") < F.col("b.pc"), 1).otherwise(0)).alias("w"),
        F.count(F.lit(1)).alias("n"),
    )
    # persisted: the MM iterations read it 5×; measured 12.30 → 4.94 s
    # (without → with) on 4 cores at sf0.1 (NOTES.md)
    pairs = pairs.persist()
    sym = pairs.select(
        F.col("sa").alias("i"), F.col("sb").alias("j"), "w", "n"
    ).unionByName(
        pairs.select(
            F.col("sb").alias("i"),
            F.col("sa").alias("j"),
            (F.col("n") - F.col("w")).alias("w"),
            "n",
        )
    )
    wins = sym.groupBy("i").agg(
        F.sum("w").cast("long").alias("W"),
        F.sum("n").cast("long").alias("n_comp"),
    )
    # iteration 1: p0 = 1.0 for everyone, so each term is exactly
    # n·10¹² div 2·10⁶ = n·500000 (no truncation) and the denominator
    # collapses algebraically to n_comp·500000 — no second aggregate
    # over sym, no join (r8 review finding).
    # int64 headroom bound (the r10 q_scaling_fit audit rule): W·10¹²
    # caps wins-per-supplier at 9.2e6 — ×100 grow-dims measures
    # W ≈ 4.5e6 (within 2×); past that, drop the rating unit to 1e9
    # (the same MM arithmetic, 3 fewer digits) before the corpus does
    # it for you by wrapping.
    p1 = wins.select(
        "i",
        F.greatest(
            F.expr("W * 1000000000000 DIV (n_comp * 500000)"),
            F.lit(1000),
        ).alias("p"),
    )
    # iteration 2: strength-of-opposition enters through p1
    d2 = (
        sym.join(p1.select(F.col("i").alias("__ii"), F.col("p").alias("pi")),
                 sym["i"] == F.col("__ii"))
        .join(p1.select(F.col("i").alias("__jj"), F.col("p").alias("pj")),
              sym["j"] == F.col("__jj"))
        .groupBy("i")
        .agg(
            F.greatest(
                F.sum(F.expr("n * 1000000000000 DIV (pi + pj)")), F.lit(1)
            ).alias("den")
        )
    )
    p2 = wins.join(d2, on="i").select(
        "i",
        F.greatest(
            F.expr("W * 1000000000000 DIV den"), F.lit(1000)
        ).alias("p"),
    )
    return wins.join(p2, on="i").select(
        F.col("i").alias("s_suppkey"),
        F.col("W").alias("wins"),
        F.col("n_comp").alias("n_comparisons"),
        F.col("p").cast("long").alias("rating_micro"),
    )


# k-anonymity audit (q_k_anonymity): the same two grouping
# sets and k = 5 accounting.
@query("""
    WITH classes AS (
        SELECT c_mktsegment, c_nationkey,
               GROUPING(c_nationkey) AS lvl,
               COUNT(*) AS n
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey),
                                (c_mktsegment))
    )
    SELECT CAST(lvl AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_classes,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS n_risky_rows,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS risky_micro
    FROM classes GROUP BY lvl
""")
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer table's
    quasi-identifiers — the privacy gate a training corpus with
    user-derived records passes before release: any QI equivalence
    class smaller than k re-identifies its members. Two generalization
    levels in ONE grouping-sets pass: level 0 = (mktsegment, nation),
    level 1 = (mktsegment) — the audit shows how much generalizing the
    nation away repairs anonymity. Per level: class count, smallest
    class, risky classes (size < k = 5), rows they expose, and the
    exposure rate in integer micro.

    Scale shape: one GROUPING SETS aggregate over the table (both
    levels share the single scan/shuffle — the same one-pass trick as
    q_grouping_sets), then a ≤ 2-group rollup of the class rows."""
    k = 5
    cust = load_table(spark, sf_dir, "customer")
    cust.select("c_mktsegment", "c_nationkey").createOrReplaceTempView(
        "__kanon_qi"
    )
    classes = spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               GROUPING(c_nationkey) AS lvl,
               COUNT(*) AS n
        FROM __kanon_qi
        GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey),
                                (c_mktsegment))
        """
    )
    return (
        classes.groupBy(F.col("lvl").cast("int").alias("level"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("n").cast("long").alias("min_class_size"),
            F.sum((F.col("n") < k).cast("int")).cast("long").alias(
                "n_risky_classes"
            ),
            F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_risky_rows"),
            F.expr(
                f"CAST(SUM(CASE WHEN n < {k} THEN n ELSE 0 END) * 1000000"
                " DIV SUM(n) AS BIGINT)"
            ).alias("risky_micro"),
        )
    )


# Inter-annotator agreement (q_annotator_agreement): the
# three synthetic annotators mirror the Spark derivation verbatim;
# p_o >> p_e by construction so the truncating integer divisions agree.
@query("""
    WITH ann AS (
        SELECT vec_id,
               CASE WHEN (vec_id * 7 + 0) % 10 < 8 THEN label
                    ELSE (label + 1 + (vec_id + 0) % 9) % 10 END AS l0,
               CASE WHEN (vec_id * 7 + 13) % 10 < 8 THEN label
                    ELSE (label + 1 + (vec_id + 1) % 9) % 10 END AS l1,
               CASE WHEN (vec_id * 7 + 26) % 10 < 8 THEN label
                    ELSE (label + 1 + (vec_id + 2) % 9) % 10 END AS l2
        FROM embeddings
    ),
    p AS (
        SELECT 0 AS k_a, 1 AS k_b, l0 AS lab_a, l1 AS lab_b FROM ann
        UNION ALL
        SELECT 0, 2, l0, l2 FROM ann
        UNION ALL
        SELECT 1, 2, l1, l2 FROM ann
    ),
    main AS (
        SELECT k_a, k_b, COUNT(*) AS n,
               SUM(CASE WHEN lab_a = lab_b THEN 1 ELSE 0 END) AS n_agree
        FROM p GROUP BY 1, 2
    ),
    ma AS (
        SELECT k_a, k_b, lab_a AS c, COUNT(*) AS na
        FROM p GROUP BY 1, 2, 3
    ),
    mb AS (
        SELECT k_a, k_b, lab_b AS c, COUNT(*) AS nb
        FROM p GROUP BY 1, 2, 3
    ),
    pe AS (
        SELECT k_a, k_b, SUM(na * nb) AS pe_num
        FROM ma JOIN mb USING (k_a, k_b, c)
        GROUP BY 1, 2
    ),
    f AS (
        SELECT main.k_a, main.k_b,
               CAST(n AS BIGINT) AS n,
               CAST(n_agree AS BIGINT) AS n_agree,
               CAST(n_agree * 1000000 // n AS BIGINT) AS p_o_micro,
               CAST(pe_num * 1000000 // (n * n) AS BIGINT) AS p_e_micro
        FROM main JOIN pe USING (k_a, k_b)
    )
    SELECT k_a, k_b, n, n_agree, p_o_micro, p_e_micro,
           CAST((p_o_micro - p_e_micro) * 1000000
                // (1000000 - p_e_micro) AS BIGINT) AS kappa_micro
    FROM f
""")
def q_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement for label/preference data: pairwise
    observed agreement and Cohen's kappa (Cohen 1960) per annotator
    pair — the data-quality gate every RLHF/classification labeling
    pipeline runs before q_label_vote aggregates the labels (raw
    agreement overstates quality when the label marginals are skewed;
    kappa subtracts the chance-agreement floor p_e = Σ_c p_a(c)·p_b(c)).

    Three synthetic annotators are derived deterministically from the
    embeddings labels (80% ground-truth fidelity, class-dependent
    confusion — both engines rebuild them bit-identically). All-integer
    arithmetic: p_o/p_e in micro via integer division, kappa_micro =
    (p_o−p_e)·1M div (1M−p_e). By construction p_o ≫ p_e (0.8
    fidelity vs ~0.1 chance), so the numerator stays positive and
    truncating integer division agrees across engines.

    Scale shape: the three per-annotator labels are one map-side
    projection; the 3 pairs per row come from an in-row explode (NO
    self-join on the row id — the classic formulation joins the long
    label table to itself on item id, which shuffles the full table;
    building the pair structs inside the row skips that entirely);
    then one count-agg per pair plus class-marginal aggs joined on
    (pair, class) — every aggregate partial, every join on
    bounded-cardinality keys (3 pairs × ≤ 10 classes)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
    )

    def lab(k: int):
        return F.when(
            (F.col("vec_id") * 7 + k * 13) % 10 < 8, F.col("label")
        ).otherwise(
            (F.col("label") + 1 + (F.col("vec_id") + k) % 9) % 10
        )

    la = [lab(k).alias(f"l{k}") for k in range(3)]
    wide = emb.select(*la)

    def pair_struct(i: int, j: int):
        return F.struct(
            F.lit(i).cast("int").alias("k_a"),
            F.lit(j).cast("int").alias("k_b"),
            F.col(f"l{i}").alias("lab_a"),
            F.col(f"l{j}").alias("lab_b"),
        )

    p = wide.select(
        F.explode(
            F.array(pair_struct(0, 1), pair_struct(0, 2), pair_struct(1, 2))
        ).alias("p")
    ).select("p.*")
    main = p.groupBy("k_a", "k_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lab_a") == F.col("lab_b")).cast("int")).alias("n_agree"),
    )
    ma = p.groupBy("k_a", "k_b", F.col("lab_a").alias("c")).agg(
        F.count(F.lit(1)).alias("na")
    )
    mb = p.groupBy("k_a", "k_b", F.col("lab_b").alias("c")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    pe = (
        ma.join(mb, ["k_a", "k_b", "c"])
        .groupBy("k_a", "k_b")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("pe_num"))
    )
    return (
        main.join(pe, ["k_a", "k_b"])
        .select(
            "k_a",
            "k_b",
            F.col("n").cast("long").alias("n"),
            F.col("n_agree").cast("long").alias("n_agree"),
            F.expr("CAST(n_agree * 1000000 DIV n AS BIGINT)").alias(
                "p_o_micro"
            ),
            F.expr("CAST(pe_num * 1000000 DIV (n * n) AS BIGINT)").alias(
                "p_e_micro"
            ),
        )
        .withColumn(
            "kappa_micro",
            F.expr(
                "CAST((p_o_micro - p_e_micro) * 1000000"
                " DIV (1000000 - p_e_micro) AS BIGINT)"
            ),
        )
    )


# ROUGE-2 recall over (even ref, odd cand) doc pairs
# (q_rouge_n): clipped counts per Lin 2004.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    g AS (
        SELECT doc_id, doc_id // 2 AS pair_id, doc_id % 2 = 0 AS is_ref,
               arr[i] || ' ' || arr[i + 1] AS gram
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS s(i)
    ),
    ref AS (
        SELECT pair_id, gram, COUNT(*) AS rc, MIN(doc_id) AS ref_id
        FROM g WHERE is_ref GROUP BY 1, 2
    ),
    cand AS (
        SELECT pair_id, gram, COUNT(*) AS cc
        FROM g WHERE NOT is_ref GROUP BY 1, 2
    ),
    cids AS (
        SELECT pair_id, MIN(doc_id) AS cand_id
        FROM g WHERE NOT is_ref GROUP BY 1
    ),
    cl AS (
        SELECT r.pair_id, MIN(r.ref_id) AS ref_id,
               SUM(r.rc) AS nrb,
               SUM(LEAST(r.rc, COALESCE(c.cc, 0))) AS noc
        FROM ref r
        LEFT JOIN cand c ON r.pair_id = c.pair_id AND r.gram = c.gram
        GROUP BY 1
    )
    SELECT cl.pair_id, cl.ref_id, cids.cand_id,
           CAST(nrb AS BIGINT) AS n_ref_bigrams,
           CAST(noc AS BIGINT) AS n_overlap_clipped,
           CAST(noc * 1000000 // nrb AS BIGINT) AS rouge2_recall_micro
    FROM cl JOIN cids USING (pair_id)
""")
def q_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 recall between paired documents (Lin 2004) — the
    n-gram-overlap eval metric of every summarization/distillation
    pipeline, and the lexical twin of the embedding-side q_maxsim
    family: each even doc plays the REFERENCE, its odd successor the
    CANDIDATE (pair = doc_id div 2). Counts are CLIPPED per ROUGE's
    definition: each reference bigram occurrence can be matched at most
    as many times as the candidate contains it —
    Σ_g min(cnt_ref(g), cnt_cand(g)) / Σ_g cnt_ref(g), micro-rounded
    integer division (exact cross-engine).

    Scale shape: bigram rows keep multiplicity (no distinct pass);
    per-(pair, gram) counts partial-aggregate map-side; the clip join
    keys on (pair, gram) — the same key the counts were hashed on —
    and the final rollup keys on the pair. Nothing is corpus-global."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        shingle_rows,
    )

    docs = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(docs, "doc_id", "text", 2).select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        F.col("doc_id"),
        F.col("word").alias("gram"),
    )
    # r12 optimization (guide §2.4, the q_bleu/q_chrf conditional-
    # aggregate fold): the before plan filtered `grams` THREE times
    # (ref counts, cand counts, cand ids — each a full bigram pass)
    # and joined the rollups back. ONE (pair, gram) aggregate emits
    # rc/cc/both ids side by side; ref-gram groups have rc > 0 and
    # cand-only groups contribute least(0, cc) = 0 to the clip sum, so
    # the pair rollup over the UNFILTERED frame reproduces the old
    # ref-leg sums exactly, and the both-sides-exist inner join becomes
    # the two NULL-presence filters.
    pg = grams.groupBy("pair_id", "gram").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("rc"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cc"),
        F.min(F.when(F.col("is_ref"), F.col("doc_id"))).alias("ref_gid"),
        F.min(F.when(~F.col("is_ref"), F.col("doc_id"))).alias("cand_gid"),
    )
    clipped = (
        pg.groupBy("pair_id")
        .agg(
            F.min("ref_gid").alias("ref_id"),
            F.min("cand_gid").alias("cand_id"),
            F.sum("rc").cast("long").alias("n_ref_bigrams"),
            F.sum(F.least(F.col("rc"), F.col("cc")))
            .cast("long")
            .alias("n_overlap_clipped"),
        )
        .filter(
            F.col("ref_id").isNotNull() & F.col("cand_id").isNotNull()
        )
    )
    return clipped.select(
        "pair_id",
        "ref_id",
        "cand_id",
        "n_ref_bigrams",
        "n_overlap_clipped",
        F.expr(
            "CAST(n_overlap_clipped * 1000000 DIV n_ref_bigrams AS BIGINT)"
        ).alias("rouge2_recall_micro"),
    )


# the pass@k product, written ONCE as SQL text and parsed by BOTH
# engines: identical literal text → identical left-associated IEEE
# operation order → bit-identical doubles (the q_winrate_ci convention;
# exact integer arithmetic can't express the k-term product without
# overflowing int64 at probe scale)
PASS_AT_K = 5


_PASS_PRODUCT_SQL = " * ".join(
    f"(CAST(n - c - {i} AS DOUBLE) / (n - {i}))" for i in range(PASS_AT_K)
)


PASS_AT_K_EXPR = (
    f"CAST(CASE WHEN c = 0 THEN 0"
    f" WHEN n - c < {PASS_AT_K} THEN 1000000"
    f" ELSE CAST(round((1.0 - {_PASS_PRODUCT_SQL}) * 1000000, 0) AS BIGINT)"
    f" END AS BIGINT)"
)


# pass@k (q_pass_at_k): n/c exact integers; the k-term
# product is the SAME SQL text both engines parse (identical IEEE op
# order -> bit-identical), micro-rounded once.
@query(f"""
    WITH per AS (
        SELECT doc_id % 40 AS task_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3') THEN 1 ELSE 0 END AS ok
        FROM documents
    ),
    a AS (
        SELECT task_id, COUNT(*) AS n, SUM(ok) AS c
        FROM per GROUP BY 1
    )
    SELECT task_id,
           CAST(n AS BIGINT) AS n,
           CAST(c AS BIGINT) AS c,
           {PASS_AT_K_EXPR} AS pass_at_k_micro,
           CAST(5 AS BIGINT) AS k
    FROM a
""")
def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k estimator (Chen et al. 2021, arXiv:2107.03374
    §2.1) — THE eval aggregation of code-generation pipelines: per task
    with n samples of which c pass, pass@k = 1 − C(n−c,k)/C(n,k),
    computed in the numerically-stable product form
    1 − Π_{i<k}(n−c−i)/(n−i). Tasks are doc_id % 40; a sample "passes"
    by a deterministic md5 coin (first hex nibble ≤ 3, P = 1/4), so
    both engines derive identical outcomes from the raw table.

    Exactness: n and c are exact integer aggregates; the k-term product
    is the ONE floating stage, evaluated from identical SQL text in
    both engines (identical left-assoc IEEE order → bit-identical),
    then micro-rounded once. Degenerate branches are integer-exact:
    c=0 → 0; n−c<k → 1 (C(n−c,k)=0).

    Scale shape: one partial-aggregable groupBy(task) — output is
    task-cardinality at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    per_task = (
        docs.select(
            (F.col("doc_id") % 40).alias("task_id"),
            F.when(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
                .isin("0", "1", "2", "3"),
                1,
            )
            .otherwise(0)
            .alias("ok"),
        )
        .groupBy("task_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ok").cast("long").alias("c"),
        )
    )
    return per_task.select(
        "task_id",
        "n",
        "c",
        F.expr(PASS_AT_K_EXPR).alias("pass_at_k_micro"),
    ).withColumn("k", F.lit(PASS_AT_K).cast("long"))


# Wilson 95% score interval, written ONCE as SQL text (identical
# literal text parsed by both engines → identical IEEE op order →
# bit-identical doubles, then ONE micro-round per bound). w/n are
# exact integer aggregates.
def _wilson_sql(bound: str) -> str:
    sign = "-" if bound == "low" else "+"
    return (
        "CAST(round(("
        " ((CAST(w AS DOUBLE) / n) + 1.9208 / n"
        f"  {sign} 1.96 * sqrt("
        "    (CAST(w AS DOUBLE) / n) * (1.0 - CAST(w AS DOUBLE) / n) / n"
        "    + 0.9604 / (n * n)))"
        " / (1.0 + 3.8416 / n)"
        ") * 1000000, 0) AS BIGINT)"
    )


# Wilson-CI win rates (q_winrate_ci): identical formula
# text both engines; ties count for the k_b side by convention.
@query(f"""
    WITH m AS (
        SELECT user_id, event_type AS t_a, value AS v_a,
               LEAD(event_type) OVER win AS t_b,
               LEAD(value) OVER win AS v_b
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    nrm AS (
        SELECT LEAST(t_a, t_b) AS k_a, GREATEST(t_a, t_b) AS k_b,
               CASE WHEN t_a < t_b
                    THEN CASE WHEN v_a > v_b THEN 1 ELSE 0 END
                    ELSE CASE WHEN v_b > v_a THEN 1 ELSE 0 END
               END AS win_a
        FROM m WHERE t_b IS NOT NULL AND t_a <> t_b
    ),
    a AS (
        SELECT k_a, k_b, COUNT(*) AS n, SUM(win_a) AS w
        FROM nrm GROUP BY 1, 2
    )
    SELECT k_a, k_b,
           CAST(n AS BIGINT) AS n,
           CAST(w AS BIGINT) AS w,
           CAST(w * 1000000 // n AS BIGINT) AS winrate_micro,
           {_wilson_sql("low")} AS ci_low_micro,
           {_wilson_sql("high")} AS ci_high_micro
    FROM a
""")
def q_winrate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise win rates with Wilson 95% confidence intervals — the
    model-arena scoreboard (how chat-eval leaderboards report head-to-
    head results; Wilson 1927 is the interval of choice because it
    stays inside [0,1] at small n). Matches are consecutive events per
    user (lead window over the ts order): the two event types play the
    two models, the higher value wins; the pair is normalized
    (k_a < k_b) and wins are counted for the k_a side. Ties count as
    k_b wins (a deterministic convention, stated rather than hidden).

    Exactness: n and w are exact integers; the Wilson bounds are the
    one floating stage — both engines evaluate the IDENTICAL formula
    text (same literals 1.96/1.9208/0.9604/3.8416, same op order, and
    sqrt is correctly rounded per IEEE in both JVMs and libm), then
    each bound micro-rounds once.

    Scale shape: one user-keyed window (the sessionize exchange), one
    partial-aggregable groupBy on the type pair — output is
    pair-cardinality at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("t_a"),
        F.col("value").alias("v_a"),
        F.lead("event_type").over(w_user).alias("t_b"),
        F.lead("value").over(w_user).alias("v_b"),
    ).filter(F.col("t_b").isNotNull() & (F.col("t_a") != F.col("t_b")))
    norm = m.select(
        F.least("t_a", "t_b").alias("k_a"),
        F.greatest("t_a", "t_b").alias("k_b"),
        F.when(
            F.col("t_a") < F.col("t_b"), (F.col("v_a") > F.col("v_b"))
        )
        .otherwise(F.col("v_b") > F.col("v_a"))
        .cast("int")
        .alias("win_a"),
    )
    agg = norm.groupBy("k_a", "k_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("win_a").cast("long").alias("w"),
    )
    return agg.select(
        "k_a",
        "k_b",
        "n",
        "w",
        F.expr("CAST(w * 1000000 DIV n AS BIGINT)").alias("winrate_micro"),
        F.expr(_wilson_sql("low")).alias("ci_low_micro"),
        F.expr(_wilson_sql("high")).alias("ci_high_micro"),
    )


# OLS slope over integer moment sums, micro-rounded, ONE shared text
# (the SPEARMAN_EXPR convention: identical literal text parsed by both
# engines → identical IEEE op order → bit-identical doubles). All-double
# because the integer numerator (n·sxy − sx·sy)·1e6 ≈ slope·n²·var(x)·1e6
# exceeds int64 at the ×100 probe (2.5e20 measured) — Spark wraps
# silently there while DuckDB's HUGEINT sums do not: the all-integer
# form was a silent cross-engine divergence waiting at the first scale
# decade. Degenerate variance (den ≤ 0) → 0.
OLS_SLOPE_MICRO_EXPR = (
    "CAST(round(CASE"
    " WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0"
    " THEN 0.0"
    " ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    " END * 1000000, 0) AS BIGINT)"
)


# Per-source log-log OLS fit (q_scaling_fit): milli-
# rounded logs -> exact integer sums -> the SHARED all-double slope
# text (OLS_SLOPE_MICRO_EXPR; the previous integer numerator wrapped
# Spark's int64 at x100 while DuckDB's HUGEINT sums kept going — a
# silent divergence), then an integer intercept off the rounded slope.
@query((f"""
    WITH p AS (
        SELECT source,
               CAST(round(ln(len(string_split(trim(text), ' '))) * 1000)
                    AS BIGINT) AS x,
               CAST(round(ln(n_chars) * 1000) AS BIGINT) AS y
        FROM documents
    ),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM p GROUP BY 1
    ),
    sl AS (
        SELECT source, n, sx, sy,
               {{OLS_SLOPE}} AS slope_micro
        FROM s
    )
    SELECT source,
           n,
           slope_micro,
           CAST((sy * 1000000 - slope_micro * sx) // n AS BIGINT)
               AS intercept_milli_micro
    FROM sl
""").replace(
    "{OLS_SLOPE}", OLS_SLOPE_MICRO_EXPR
))
def q_scaling_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source power-law fit (the scaling-law regression shape,
    Kaplan et al. 2020: fit y = a·x^b by ordinary least squares on
    log-log points — here chars vs words per document, i.e. the
    bytes-per-token scaling of each source). Closed-form OLS from
    distributed sums: b = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²).

    Exactness: x/y are MILLI-rounded logs (round(ln·1e3) — an integer
    immediately, the q_char_entropy convention at e3 scale so the
    second-moment sums stay far inside int64 at the ×100 probe:
    x ≈ 6e3 → Σxx ≈ 2e13 at 500k docs/source, n·Σxy ≈ 3e17); all five
    sums are exact integer aggregates. The slope COMBINATION is
    all-double via ONE shared text (OLS_SLOPE_MICRO_EXPR — the
    SPEARMAN_EXPR discipline), micro-rounded once: the previous
    all-integer form computed (n·sxy − sx·sy)·1e6 in int64, which is
    ≈ slope·n²·var(x)·1e6 ≈ 2.5e20 at the ×100 probe — PAST int64,
    where Spark wraps silently while DuckDB (HUGEINT sums) keeps
    going: a silent cross-engine divergence at the first scale decade
    (measured r10; the r9 ADVICE flagged the same pattern in
    q_zipf_fit, where the top-1000 cap bounds it instead). The
    intercept stays integer off the rounded slope column — its terms
    (sy·1e6, slope_micro·sx) are ≈ 5e15 at ×100, safe past ×10⁴.

    Scale shape: one partial-aggregable groupBy(source) — five integer
    sums collapse map-side; output is source-cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    x = F.round(
        F.log(F.size(F.split(F.trim(F.col("text")), " ")).cast("double"))
        * 1000
    ).cast("long")
    y = F.round(F.log(F.col("n_chars").cast("double")) * 1000).cast("long")
    s = (
        docs.select("source", x.alias("x"), y.alias("y"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    return s.select(
        "source",
        "n",
        "sx",
        "sy",
        F.expr(OLS_SLOPE_MICRO_EXPR).alias("slope_micro"),
    ).select(
        "source",
        "n",
        "slope_micro",
        # intercept in milli-log units, micro-rounded: (sy - b*sx)/n
        # with the rounded micro slope applied — integer-exact (bound
        # in the docstring)
        F.expr(
            "CAST((sy * 1000000 - slope_micro * sx) DIV n AS BIGINT)"
        ).alias("intercept_milli_micro"),
    )


# BLEU-2 combination, written ONCE as SQL text (the q_pass_at_k /
# q_winrate_ci convention): identical literal text parsed by both engines
# → identical IEEE op order → bit-identical doubles, then ONE micro-round.
# exp/ln precedent: the PMI/BM25/DSIR oracles already round-after-exp/ln.
BLEU2_EXPR = (
    "CAST(round(CASE WHEN d1 = 0 OR d2 = 0 OR n1 = 0 OR n2 = 0 THEN 0.0"
    " ELSE (CASE WHEN cand_len >= ref_len THEN 1.0"
    " ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END)"
    " * sqrt((CAST(n1 AS DOUBLE) / d1) * (CAST(n2 AS DOUBLE) / d2))"
    " END * 1000000, 0) AS BIGINT)"
)


# BLEU-2 with brevity penalty (q_bleu): precision-side
# clipped counts; the BP·sqrt(p1·p2) combination is the SAME text both
# engines parse (BLEU2_EXPR), micro-rounded once.
@query(f"""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    g AS (
        SELECT doc_id, doc_id // 2 AS pair_id, doc_id % 2 = 0 AS is_ref,
               1 AS n, arr[i] AS gram
        FROM t, unnest(generate_series(1, len(arr))) AS s(i)
        UNION ALL
        SELECT doc_id, doc_id // 2, doc_id % 2 = 0,
               2, arr[i] || ' ' || arr[i + 1]
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS s(i)
    ),
    ref AS (
        SELECT pair_id, n, gram, COUNT(*) AS rc
        FROM g WHERE is_ref GROUP BY 1, 2, 3
    ),
    cand AS (
        SELECT pair_id, n, gram, COUNT(*) AS cc, MIN(doc_id) AS cand_id
        FROM g WHERE NOT is_ref GROUP BY 1, 2, 3
    ),
    pern AS (
        SELECT c.pair_id, c.n, MIN(c.cand_id) AS cand_id,
               SUM(c.cc) AS den, SUM(LEAST(c.cc, COALESCE(r.rc, 0))) AS num
        FROM cand c
        LEFT JOIN ref r
          ON r.pair_id = c.pair_id AND r.n = c.n AND r.gram = c.gram
        GROUP BY 1, 2
    ),
    flat AS (
        SELECT pair_id, MIN(cand_id) AS cand_id,
           CAST(COALESCE(SUM(CASE WHEN n = 1 THEN num END), 0) AS BIGINT)
               AS n1,
           CAST(COALESCE(SUM(CASE WHEN n = 1 THEN den END), 0) AS BIGINT)
               AS d1,
           CAST(COALESCE(SUM(CASE WHEN n = 2 THEN num END), 0) AS BIGINT)
               AS n2,
           CAST(COALESCE(SUM(CASE WHEN n = 2 THEN den END), 0) AS BIGINT)
               AS d2
        FROM pern GROUP BY 1
    ),
    lens AS (
        SELECT doc_id, doc_id // 2 AS pair_id, doc_id % 2 = 0 AS is_ref,
               len(arr)::BIGINT AS wlen
        FROM t
    ),
    rl AS (
        SELECT pair_id, MIN(doc_id) AS ref_id, MIN(wlen) AS ref_len
        FROM lens WHERE is_ref GROUP BY 1
    ),
    cl AS (
        SELECT pair_id, MIN(wlen) AS cand_len
        FROM lens WHERE NOT is_ref GROUP BY 1
    )
    SELECT rl.pair_id, CAST(rl.ref_id AS BIGINT) AS ref_id,
           CAST(flat.cand_id AS BIGINT) AS cand_id,
           CAST(rl.ref_len AS BIGINT) AS ref_len,
           CAST(cl.cand_len AS BIGINT) AS cand_len,
           n1, d1, n2, d2,
           {BLEU2_EXPR} AS bleu2_micro
    FROM rl JOIN cl USING (pair_id) JOIN flat USING (pair_id)
""")
def q_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 with brevity penalty (Papineni et al. 2002) over the same
    (even ref, odd cand) doc pairing as q_rouge_n — the PRECISION-side
    twin: CANDIDATE n-gram occurrences are clipped by the reference
    count (p_n = Σ_g min(cnt_cand, cnt_ref) / Σ_g cnt_cand for
    n ∈ {1, 2}), combined as BP · sqrt(p1·p2) with
    BP = exp(1 − r/c) when the candidate is shorter than the
    reference. The n/d terms per n are exact integer aggregates; the
    combination is ONE shared SQL text both engines parse (BLEU2_EXPR),
    micro-rounded once; degenerate pairs (empty candidate, zero
    overlap, no bigrams) take the integer-exact 0 branch.

    Scale shape (the q_rouge_n discipline): gram rows keep multiplicity
    (no distinct pass); per-(pair, n, gram) counts partial-aggregate
    map-side; the clip join keys on the same (pair, n, gram) the counts
    were hashed on; the rollup keys on the pair. Nothing is
    corpus-global."""
    docs = load_table(spark, sf_dir, "documents")
    uni = shingle_rows(docs, "doc_id", "text", 1)
    bi = shingle_rows(docs, "doc_id", "text", 2)
    grams = (
        uni.withColumn("n", F.lit(1))
        .unionByName(bi.withColumn("n", F.lit(2)))
        .select(
            (F.col("doc_id") / 2).cast("long").alias("pair_id"),
            (F.col("doc_id") % 2 == 0).alias("is_ref"),
            "doc_id",
            "n",
            F.col("word").alias("gram"),
        )
    )
    # r12 optimization (guide §2.4, the q_chrf single-pass rebuild
    # pattern): the before plan filtered `grams` twice (ref leg, cand
    # leg — each re-deriving BOTH shingle passes) and joined the two
    # count tables back on (pair, n, gram). ONE conditional aggregate
    # over the same key produces rc and cc side by side; groups with
    # no candidate occurrence (cc = 0) are exactly the rows the old
    # left join never saw, so they are filtered — identical clip sums.
    pg = grams.groupBy("pair_id", "n", "gram").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("rc"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cc"),
        F.min(F.when(~F.col("is_ref"), F.col("doc_id"))).alias("cand_id"),
    )
    per_n = (
        pg.filter(F.col("cc") > 0)
        .groupBy("pair_id", "n")
        .agg(
            F.min("cand_id").alias("cand_id"),
            F.sum("cc").cast("long").alias("den"),
            F.sum(F.least(F.col("cc"), F.col("rc")))
            .cast("long")
            .alias("num"),
        )
    )
    flat = per_n.groupBy("pair_id").agg(
        F.min("cand_id").alias("cand_id"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("n") == nn, F.col(col))), F.lit(0)
            )
            .cast("long")
            .alias(f"{col[0]}{nn}")
            for nn in (1, 2)
            for col in ("num", "den")
        ],
    )
    lens = docs.select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        "doc_id",
        F.size(words(F.trim(F.col("text")))).cast("long").alias("wlen"),
    )
    # same one-pass fold for the length legs: the before plan filtered
    # `lens` twice and inner-joined the halves; presence flags keep the
    # both-sides-exist semantics of that inner join exactly.
    lens_agg = (
        lens.groupBy("pair_id")
        .agg(
            F.min(F.when(F.col("is_ref"), F.col("doc_id"))).alias("ref_id"),
            F.min(F.when(F.col("is_ref"), F.col("wlen"))).alias("ref_len"),
            F.min(F.when(~F.col("is_ref"), F.col("wlen"))).alias(
                "cand_len"
            ),
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("__nr"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("__nc"),
        )
        .filter((F.col("__nr") > 0) & (F.col("__nc") > 0))
        .drop("__nr", "__nc")
    )
    return (
        lens_agg
        .join(flat, "pair_id")
        .select(
            "pair_id",
            "ref_id",
            "cand_id",
            "ref_len",
            "cand_len",
            "n1",
            "d1",
            "n2",
            "d2",
            F.expr(BLEU2_EXPR).alias("bleu2_micro"),
        )
    )


def _poisson1_cdf_hex() -> list[str]:
    """Inverse-CDF thresholds for Poisson(1) as 8-hex-digit string
    literals scaled to 2^32 — ONE Python source inlined into BOTH
    engines (the _hyperplane_bucket_sql convention). Lexicographic
    compare of lowercase fixed-width hex == numeric compare, so the
    md5-prefix uniform never needs a hex→int parse in either engine."""
    import math

    out, cum, term = [], 0.0, math.exp(-1.0)
    for k in range(7):
        cum += term
        out.append(format(int(cum * 2**32), "08x"))
        term /= k + 1
    return out


POISSON1_HEX = _poisson1_cdf_hex()


BOOTSTRAP_B = 32


def _poisson_weight_sql(u_expr: str) -> str:
    """CASE mapping an 8-hex-digit uniform to a Poisson(1) draw, capped
    at 7 (P ≈ 8e-5 beyond). Shared text; only the uniform's hash-input
    expression differs per engine (it must produce identical STRINGS,
    not identical syntax)."""
    branches = " ".join(
        f"WHEN {u_expr} < '{h}' THEN {k}"
        for k, h in enumerate(POISSON1_HEX)
    )
    return f"CASE {branches} ELSE 7 END"


# Poisson bootstrap CI (q_bootstrap_ci): weights from the
# SAME md5-hex inverse-CDF table (_poisson_weight_sql over POISSON1_HEX,
# one Python source); ranks 2 and B-1 of the 32 replicate means.
@query(f"""
    WITH reps AS (
        SELECT source, doc_id, n_chars, r.rep,
               substring(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(r.rep AS VARCHAR)), 1, 8) AS u
        FROM documents,
             unnest(generate_series(0, {BOOTSTRAP_B - 1})) AS r(rep)
    ),
    wtd AS (
        SELECT source, rep, n_chars,
               CAST({_poisson_weight_sql("u")} AS BIGINT) AS w
        FROM reps
    ),
    per_rep AS (
        SELECT source, rep,
               CASE WHEN SUM(w) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(CAST(SUM(w * n_chars) AS BIGINT) * 1000000
                              // CAST(SUM(w) AS BIGINT) AS BIGINT)
               END AS m
        FROM wtd GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, m,
               row_number() OVER (PARTITION BY source
                                  ORDER BY m ASC, rep ASC) AS rn
        FROM per_rep
    ),
    ci AS (
        SELECT source,
               CAST(MAX(CASE WHEN rn = 2 THEN m END) AS BIGINT)
                   AS boot_lo_micro,
               CAST(MAX(CASE WHEN rn = {BOOTSTRAP_B - 1} THEN m END)
                    AS BIGINT) AS boot_hi_micro
        FROM ranked GROUP BY 1
    ),
    pt AS (
        SELECT source, COUNT(*)::BIGINT AS n_docs,
               CAST(CAST(SUM(n_chars) AS BIGINT) * 1000000
                    // COUNT(*) AS BIGINT) AS point_mean_micro
        FROM documents GROUP BY 1
    )
    SELECT pt.source, pt.n_docs, pt.point_mean_micro,
           ci.boot_lo_micro, ci.boot_hi_micro,
           CAST({BOOTSTRAP_B} AS BIGINT) AS b
    FROM pt JOIN ci USING (source)
""")
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-source mean
    document length (Chamandy et al. 2012, "Estimating Uncertainty for
    Massive Data Streams") — THE bootstrap that works at 100 TB:
    classical resampling needs n draws with global coordination per
    replicate; the Poisson bootstrap instead gives every row an
    INDEPENDENT Poisson(1) replication weight per replicate, entirely
    map-side, and the per-replicate weighted means converge to the
    classical bootstrap at O(1/n). Weights are drawn deterministically:
    uniform = first 8 md5 hex digits of 'doc_id:rep' compared against
    inverse-CDF thresholds inlined from one Python source
    (POISSON1_HEX) — no RNG state, both engines derive identical
    weights from the raw table.

    The interval is the percentile bootstrap on B = 32 replicate means
    (micro-rounded integer division each): ranks 2 and 31 of the
    sorted 32 — the ~93.75% central interval. All arithmetic integer.

    Scale shape: the explode is a constant ×32 map-side fanout of
    (source, rep) partial aggregates — the shuffle carries
    32·|sources| rows, not 32·n; the order-statistic window runs over
    exactly 32 rows per source."""
    docs = load_table(spark, sf_dir, "documents")
    reps = (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.explode(
                F.sequence(F.lit(0), F.lit(BOOTSTRAP_B - 1))
            ).alias("rep"),
        )
        .withColumn(
            "u",
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                8,
            ),
        )
        .withColumn("w", F.expr(_poisson_weight_sql("u")).cast("long"))
    )
    per_rep = (
        reps.groupBy("source", "rep")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("sw"),
            F.sum("w").cast("long").alias("cnt"),
        )
        .select(
            "source",
            "rep",
            # int64 headroom (the r10 q_scaling_fit audit rule):
            # sw·1e6 ≈ n·x̄·1e6 with x̄ ≈ 1e4 chars → safe to ~1e8
            # docs/source; past that, mean in MILLI (·1e3) or the
            # shared-double-text form — the replicate PERCENTILE rank
            # is unchanged by the unit.
            F.expr(
                "CASE WHEN cnt = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(sw * 1000000 DIV cnt AS BIGINT) END"
            ).alias("m"),
        )
    )
    wnd = Window.partitionBy("source").orderBy(
        F.col("m").asc(), F.col("rep").asc()
    )
    ranked = per_rep.withColumn("rn", F.row_number().over(wnd))
    ci = ranked.groupBy("source").agg(
        F.max(F.when(F.col("rn") == 2, F.col("m")))
        .cast("long")
        .alias("boot_lo_micro"),
        F.max(F.when(F.col("rn") == BOOTSTRAP_B - 1, F.col("m")))
        .cast("long")
        .alias("boot_hi_micro"),
    )
    point = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(sum(n_chars) * 1000000 DIV count(1) AS BIGINT)"
        ).alias("point_mean_micro"),
    )
    return point.join(ci, "source").withColumn(
        "b", F.lit(BOOTSTRAP_B).cast("long")
    )


# Pearson-over-double-ranks combination, ONE shared text. The exact
# integer sums can reach ~4n³ (double-rank ≤ 2n), so the COMBINATION is
# all-double (int64 would overflow in n·sxx at ×1000); the sums
# themselves stay int64-exact through the ×100 probe (documented bound:
# Σ c·dr² ≈ 4n³ → 7.8e15 at n = 125k docs/source).
SPEARMAN_EXPR = (
    "CAST(round(CASE"
    " WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0"
    " OR CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <= 0 THEN 0.0"
    " ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    " * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
    " END * 1000000, 0) AS BIGINT)"
)


# Spearman over double-ranks (q_rank_correlation): integer
# moment sums, shared-text double combination.
@query(f"""
    WITH d AS (
        SELECT source, n_chars::BIGINT AS xv,
               len(string_split(trim(text), ' '))::BIGINT AS yv
        FROM documents
    ),
    g AS (
        SELECT source, xv, yv, COUNT(*)::BIGINT AS c
        FROM d GROUP BY 1, 2, 3
    ),
    xc AS (
        SELECT source, xv, CAST(SUM(c) AS BIGINT) AS cnt
        FROM g GROUP BY 1, 2
    ),
    xr AS (
        SELECT source, xv,
               CAST(2 * (COALESCE(SUM(cnt) OVER (
                   PARTITION BY source ORDER BY xv ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + 1) + cnt - 1 AS BIGINT) AS dr_x
        FROM xc
    ),
    yc AS (
        SELECT source, yv, CAST(SUM(c) AS BIGINT) AS cnt
        FROM g GROUP BY 1, 2
    ),
    yr AS (
        SELECT source, yv,
               CAST(2 * (COALESCE(SUM(cnt) OVER (
                   PARTITION BY source ORDER BY yv ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + 1) + cnt - 1 AS BIGINT) AS dr_y
        FROM yc
    ),
    s AS (
        SELECT g.source,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * dr_x) AS BIGINT) AS sx,
               CAST(SUM(c * dr_y) AS BIGINT) AS sy,
               CAST(SUM(c * dr_x * dr_y) AS BIGINT) AS sxy,
               CAST(SUM(c * dr_x * dr_x) AS BIGINT) AS sxx,
               CAST(SUM(c * dr_y * dr_y) AS BIGINT) AS syy
        FROM g
        JOIN xr ON xr.source = g.source AND xr.xv = g.xv
        JOIN yr ON yr.source = g.source AND yr.yv = g.yv
        GROUP BY 1
    )
    SELECT source, n, {SPEARMAN_EXPR} AS spearman_micro FROM s
""")
def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two per-document quality
    signals (chars vs whitespace tokens), per source — the
    metric-agreement audit a curation pipeline runs before trusting a
    cheap signal as a proxy for an expensive one (and the
    q_quality_calibration companion: calibration bins ask 'is the
    classifier right', Spearman asks 'do two signals ORDER the corpus
    the same way'). Ties take AVERAGE ranks via the double-rank trick:
    2·min_rank + ties − 1 is an integer equal to twice the average
    rank, and Pearson is affine-invariant, so Pearson over double-ranks
    IS Spearman — no fractional ranks anywhere. The five sums are
    exact integer aggregates; the combination is one shared double
    text (SPEARMAN_EXPR), micro-rounded once.

    Scale shape: ranks are computed over DISTINCT VALUES, not rows —
    per-(source, value) counts partial-aggregate map-side first, the
    rank window scans value-cardinality rows (a cumsum of counts), and
    the moment sums re-weight by the counts. No data-scaled window
    anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("xv"),
        F.size(words(F.trim(F.col("text")))).cast("long").alias("yv"),
    )
    g = d.groupBy("source", "xv", "yv").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )

    def double_ranks(col: str) -> DataFrame:
        per = g.groupBy("source", col).agg(
            F.sum("c").cast("long").alias("cnt")
        )
        wnd = (
            Window.partitionBy("source")
            .orderBy(F.col(col).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return per.select(
            "source",
            col,
            (
                2 * (F.coalesce(F.sum("cnt").over(wnd), F.lit(0)) + 1)
                + F.col("cnt")
                - 1
            )
            .cast("long")
            .alias(f"dr_{col}"),
        )

    joined = g.join(double_ranks("xv"), ["source", "xv"]).join(
        double_ranks("yv"), ["source", "yv"]
    )
    sums = joined.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("dr_xv")).cast("long").alias("sx"),
        F.sum(F.col("c") * F.col("dr_yv")).cast("long").alias("sy"),
        F.sum(F.col("c") * F.col("dr_xv") * F.col("dr_yv"))
        .cast("long")
        .alias("sxy"),
        F.sum(F.col("c") * F.col("dr_xv") * F.col("dr_xv"))
        .cast("long")
        .alias("sxx"),
        F.sum(F.col("c") * F.col("dr_yv") * F.col("dr_yv"))
        .cast("long")
        .alias("syy"),
    )
    return sums.select(
        "source", "n", F.expr(SPEARMAN_EXPR).alias("spearman_micro")
    )


# l-diversity audit (q_l_diversity): QI = (nation,
# floor(acctbal/1000)), sensitive = mktsegment, l = 3. floor over the
# same IEEE division in both engines — never CAST(double AS BIGINT),
# whose rounding rule differs (Spark truncates, DuckDB rounds).
@query("""
    WITH classes AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(DISTINCT c_mktsegment) AS l_div,
               COUNT(*) AS n
        FROM customer GROUP BY 1, 2
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_classes,
        CAST(MIN(l_div) AS BIGINT) AS min_l_diversity,
        CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_risky_classes,
        CAST(SUM(CASE WHEN l_div < 3 THEN n ELSE 0 END) AS BIGINT)
            AS n_risky_rows,
        CAST(SUM(CASE WHEN l_div < 3 THEN n ELSE 0 END) * 1000000
             // SUM(n) AS BIGINT) AS risky_micro
    FROM classes
""")
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the sibling of
    q_k_anonymity that k-anonymity alone cannot answer: a QI class can
    be large (k-anonymous) yet expose everyone in it when all members
    share one sensitive value. QI = (nation, account-balance band of
    1000), sensitive = market segment; a class with fewer than l = 3
    DISTINCT segments lets an attacker who locates a target's class
    infer the segment with high confidence.

    The balance band is floor(c_acctbal / 1000) — floor over the same
    IEEE division in both engines (never CAST(double AS BIGINT), whose
    rounding rule differs between Spark-truncate and DuckDB-round).

    Scale shape: one partial-aggregable two-level aggregate (class
    grouping counts distinct sensitive values, then a 1-row rollup);
    output is a single summary row."""
    l_min = 3
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        F.col("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(
        F.countDistinct("c_mktsegment").alias("l_div"),
        F.count(F.lit(1)).alias("n"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l_div").cast("long").alias("min_l_diversity"),
        F.sum((F.col("l_div") < l_min).cast("int"))
        .cast("long")
        .alias("n_risky_classes"),
        F.sum(F.when(F.col("l_div") < l_min, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
        F.expr(
            f"CAST(SUM(CASE WHEN l_div < {l_min} THEN n ELSE 0 END)"
            " * 1000000 DIV SUM(n) AS BIGINT)"
        ).alias("risky_micro"),
    )


def chrf_f_expr(div: str) -> str:
    """Per-order chrF F-beta (beta = 2) in integer micro, ONE shared
    text per engine: 5·P·R / (4·P + R) with P, R already micro ints —
    5e12 max numerator, well inside int64; 0 when both sides are 0."""
    return (
        "CASE WHEN 4 * p_micro + r_micro = 0 THEN 0"
        f" ELSE 5 * p_micro * r_micro {div} (4 * p_micro + r_micro) END"
    )


CHRF_ORDERS = (1, 2)


# chrF (q_chrf): char 1-/2-gram clipped-count F2 over the
# q_bleu pairing; P/R in integer micro, per-order F via the shared
# text chrf_f_expr, final score = sum over orders div 2.
@query(f"""
    WITH base AS (
        SELECT doc_id // 2 AS pair_id,
               doc_id % 2 = 0 AS is_ref,
               doc_id,
               replace(trim(text), ' ', '') AS ns
        FROM documents
    ),
    g1 AS (
        SELECT pair_id, is_ref, doc_id, 1 AS n, substr(ns, i, 1) AS gram
        FROM base, unnest(generate_series(1, length(ns))) AS g(i)
        WHERE length(ns) >= 1
    ),
    g2 AS (
        SELECT pair_id, is_ref, doc_id, 2 AS n, substr(ns, i, 2) AS gram
        FROM base, unnest(generate_series(1, length(ns) - 1)) AS g(i)
        WHERE length(ns) >= 2
    ),
    grams AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
    ref AS (
        SELECT pair_id, n, gram, COUNT(*) AS rc
        FROM grams WHERE is_ref GROUP BY 1, 2, 3
    ),
    refden AS (
        SELECT pair_id, n, CAST(SUM(rc) AS BIGINT) AS den_r
        FROM ref GROUP BY 1, 2
    ),
    cand AS (
        SELECT pair_id, n, gram, COUNT(*) AS cc, MIN(doc_id) AS cand_id
        FROM grams WHERE NOT is_ref GROUP BY 1, 2, 3
    ),
    pern0 AS (
        SELECT c.pair_id, c.n, MIN(c.cand_id) AS cand_id,
               CAST(SUM(c.cc) AS BIGINT) AS den_c,
               CAST(SUM(LEAST(c.cc, COALESCE(r.rc, 0))) AS BIGINT) AS clip
        FROM cand c
        LEFT JOIN ref r
          ON r.pair_id = c.pair_id AND r.n = c.n AND r.gram = c.gram
        GROUP BY 1, 2
    ),
    pern1 AS (
        SELECT p.pair_id, p.n, p.cand_id,
               CAST(clip * 1000000 // den_c AS BIGINT) AS p_micro,
               CAST(clip * 1000000 // den_r AS BIGINT) AS r_micro
        FROM pern0 p
        JOIN refden d ON d.pair_id = p.pair_id AND d.n = p.n
    ),
    pern AS (
        SELECT pair_id, n, cand_id,
               CAST({chrf_f_expr("//")} AS BIGINT) AS f_micro
        FROM pern1
    )
    SELECT pair_id,
           CAST(MIN(cand_id) AS BIGINT) AS cand_id,
           CAST(COALESCE(SUM(CASE WHEN n = 1 THEN f_micro END), 0)
                AS BIGINT) AS f1_micro,
           CAST(COALESCE(SUM(CASE WHEN n = 2 THEN f_micro END), 0)
                AS BIGINT) AS f2_micro,
           CAST(SUM(f_micro) // 2 AS BIGINT) AS chrf_micro
    FROM pern GROUP BY pair_id
""")
def q_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF (Popović 2015) — the character n-gram F-score that completes
    the MT/eval-metric family (q_bleu = word-precision, q_rouge_n =
    word-recall, chrF = character F2, the tokenization-robust member
    that scores morphology-rich and unsegmented text fairly). Same
    synthetic pairing as q_bleu: pair_id = doc_id div 2, even doc =
    reference, odd = candidate. Whitespace is stripped (the chrF
    convention); orders n ∈ {1, 2} of the standard 1..6 keep the gram
    stream at 2× corpus characters.

    All-integer: per-order clipped counts → P/R in micro → F2 via the
    shared text chrf_f_expr (exact int64 arithmetic in both engines);
    the final score averages the fixed 2 orders (a missing order — a
    side shorter than n characters — contributes 0, mirrored in the
    oracle).

    Scale shape: char-gram explode is 2 rows per character (the
    q_char_entropy cost class) and is traversed exactly ONCE — ref and
    cand counts come out of a single groupBy(pair, order, gram) with
    conditional aggregates (the r10 verdict's refden leg re-derived the
    pipeline a third time; measured 60.8 s at ×100). Every aggregate
    partial-aggregates on (pair, order, gram) then (pair, order) then
    (pair) — no window over a data-scaled partition, no pair-vs-pair
    stage. The scan carries the shared ensure_parallelism guard: the
    whitespace-strip + char-gram explode is compute-bound, and a small
    parquet's 1-2 splits serialize it (×10 probe: 10.2× before the
    guard — the q_fertility class)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        "doc_id",
        F.regexp_replace(F.trim(F.col("text")), " ", "").alias("ns"),
    )
    gram_parts = []
    for n in CHRF_ORDERS:
        gram_parts.append(
            base.filter(F.length("ns") >= n)
            .select(
                "pair_id",
                "is_ref",
                "doc_id",
                F.lit(n).cast("int").alias("n"),
                F.explode(
                    F.sequence(F.lit(1), F.length("ns") - n + 1)
                ).alias("i"),
                "ns",
            )
            .select(
                "pair_id",
                "is_ref",
                "doc_id",
                "n",
                F.expr(f"substring(ns, i, {n})").alias("gram"),
            )
        )
    grams = gram_parts[0]
    for gp in gram_parts[1:]:
        grams = grams.unionByName(gp)
    # One pass over the gram stream: ref and cand counts as conditional
    # aggregates of the SAME groupBy — the subtree has a single consumer,
    # so the explode runs once (not once per leg; least() must be guarded
    # because both engines' least() skips NULLs, which would wrongly
    # credit ref-only grams).
    merged = grams.groupBy("pair_id", "n", "gram").agg(
        F.sum(F.when(F.col("is_ref"), F.lit(1))).alias("rc"),
        F.sum(F.when(~F.col("is_ref"), F.lit(1))).alias("cc"),
        F.min(F.when(~F.col("is_ref"), F.col("doc_id"))).alias("cand_id"),
    )
    per_n = (
        merged.groupBy("pair_id", "n")
        .agg(
            F.min("cand_id").alias("cand_id"),
            F.sum("cc").cast("long").alias("den_c"),
            F.sum("rc").cast("long").alias("den_r"),
            F.sum(
                F.when(
                    F.col("cc").isNotNull(),
                    F.least(F.col("cc"), F.coalesce(F.col("rc"), F.lit(0))),
                )
            )
            .cast("long")
            .alias("clip"),
        )
        .filter("den_c IS NOT NULL AND den_r IS NOT NULL")
        .select(
            "pair_id",
            "n",
            "cand_id",
            F.expr("CAST(clip * 1000000 DIV den_c AS BIGINT)").alias(
                "p_micro"
            ),
            F.expr("CAST(clip * 1000000 DIV den_r AS BIGINT)").alias(
                "r_micro"
            ),
        )
        .select(
            "pair_id",
            "n",
            "cand_id",
            F.expr(chrf_f_expr("DIV")).cast("long").alias("f_micro"),
        )
    )
    return per_n.groupBy("pair_id").agg(
        F.min("cand_id").cast("long").alias("cand_id"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("n") == nn, F.col("f_micro"))),
                F.lit(0),
            )
            .cast("long")
            .alias(f"f{nn}_micro")
            for nn in CHRF_ORDERS
        ],
        F.expr(
            "CAST(sum(f_micro) DIV 2 AS BIGINT)"
        ).alias("chrf_micro"),
    )


# Leakage-safe group k-fold (q_group_kfold): connected
# components (the q_dedup_clusters recursive CTE), fold = component's
# min doc id mod 5, 5-row balance sheet.
@query(
    _NEARDUP_CC_CTES
    + """,
    comp AS (
        SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id
    )
    SELECT CAST(cluster_id % 5 AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_components
    FROM comp GROUP BY 1
"""
)
def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUP k-fold assignment — the k-fold generalization
    of q_leakage_safe_split's train/test hash split: the fold is taken
    on the near-dup CLUSTER id (connected component of the materialized
    LSH pair graph), so no fold's eval docs have a near-twin in another
    fold's train set — the grouped-CV discipline (sklearn GroupKFold)
    at corpus scale, with the group = the dup component. fold =
    cluster_id mod 5 (cluster_id is the component's min doc id —
    deterministic, the dedup_clusters contract).

    Returns the 5-row fold balance sheet (fold, n_docs, n_components)
    — the skew check run before trusting the folds (a mega-component
    lands whole in one fold BY DESIGN; this shows the resulting
    imbalance). Scale shape: component labels from the shared
    materialized pair graph + pointer-doubling min-label loop; the fold
    map and rollup are one partial-aggregable pass."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    clusters = dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    return (
        clusters.select(
            (F.col("cluster_id") % 5).cast("int").alias("fold"),
            "cluster_id",
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id")
            .cast("long")
            .alias("n_components"),
        )
    )


# Metadata PMI (q_mi_lang_source): cell counts once,
# marginals as windows over the bounded cell table, one shared ln text
# micro-rounded once.
@query("""
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM documents GROUP BY 1, 2
    ),
    e AS (
        SELECT lang, source, n_xy,
               CAST(SUM(n_xy) OVER (PARTITION BY lang) AS BIGINT) AS n_x,
               CAST(SUM(n_xy) OVER (PARTITION BY source) AS BIGINT)
                   AS n_y,
               CAST(SUM(n_xy) OVER () AS BIGINT) AS n_total
        FROM cells
    )
    SELECT lang, source, n_xy,
           CAST(round(ln((CAST(n_xy AS DOUBLE) * n_total)
                / (CAST(n_x AS DOUBLE) * n_y)) * 1000000, 0) AS BIGINT)
               AS pmi_micro
    FROM e
""")
def q_mi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata association audit: pointwise mutual information between
    the lang and source columns — the scraping-bias detector (a source
    that over-represents one language skews any per-language mix
    computed from source quotas; q_pmi_pairs measures word collocation,
    this measures METADATA collocation, same statistic one level up).
    Per (lang, source) cell: observed count and PMI in integer micro.

    Exactness: cell/marginal/total counts are exact integers computed
    as WINDOWS OVER THE AGGREGATED CELL TABLE (bounded langs×sources
    rows — the q_shard_balance pattern: never a second corpus scan per
    marginal); the single ln runs on one shared expression text and
    micro-rounds once (the PMI/BM25 round-after-transcendental
    precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    w_l = Window.partitionBy("lang")
    w_s = Window.partitionBy("source")
    w_all = Window.partitionBy()
    enriched = cells.select(
        "lang",
        "source",
        "n_xy",
        F.sum("n_xy").over(w_l).cast("long").alias("n_x"),
        F.sum("n_xy").over(w_s).cast("long").alias("n_y"),
        F.sum("n_xy").over(w_all).cast("long").alias("n_total"),
    )
    return enriched.select(
        "lang",
        "source",
        "n_xy",
        F.expr(
            "CAST(round(ln((CAST(n_xy AS DOUBLE) * n_total)"
            " / (CAST(n_x AS DOUBLE) * n_y)) * 1000000, 0) AS BIGINT)"
        ).alias("pmi_micro"),
    )


# Gini concentration (q_gini_concentration): sorted
# per-source token totals, two truncating divisions mirrored textually.
@query("""
    WITH per_src AS (
        SELECT source,
               CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
                   AS t
        FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT t,
               CAST(row_number() OVER (
                   ORDER BY t ASC, source ASC) AS BIGINT) AS i
        FROM per_src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(t) AS BIGINT) AS total_tokens,
           CAST(2 * SUM(i * t) * 1000000 // (COUNT(*) * SUM(t))
                - (COUNT(*) + 1) * 1000000 // COUNT(*) AS BIGINT)
               AS gini_micro
    FROM ranked
""")
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the token mass across sources — the
    corpus-concentration audit a mix designer reads next to
    q_temperature_mix/q_domain_cap (G near 0 = balanced mix, G near 1
    = one source owns the corpus; the single number that says whether
    capping/temperature reweighting has anything to do). Exact discrete
    Gini over the SORTED per-source token totals:
    G = 2·Σ i·t_(i) / (n·T) − (n+1)/n, ranks ascending with the
    (tokens, source) total tie order.

    All-integer: two truncating divisions mirrored textually in both
    engines; the rank window runs over the BOUNDED per-source rollup
    (the q_shard_balance rule). int64 bound: 2·Σ i·t_i·1e6 ≤
    2·n²·T·1e6 — safe to T ≈ 10¹² tokens at n ≤ 32 sources (the
    q_scaling_fit audit rule, documented here).

    Scale shape: one partial-aggregable groupBy(source), one window
    over ≤ |sources| rows, one 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source",
            F.size(F.split(F.trim(F.col("text")), " "))
            .cast("long")
            .alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("t"))
    )
    w = Window.orderBy(F.col("t").asc(), F.col("source").asc())
    ranked = per_src.select(
        "t", F.row_number().over(w).cast("long").alias("i")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.expr(
            "CAST(2 * SUM(i * t) * 1000000 DIV (COUNT(1) * SUM(t))"
            " - (COUNT(1) + 1) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("gini_micro"),
    )


T_CLOSENESS_THRESHOLD_MICRO = 200_000  # t = 0.2


# t-closeness (q_t_closeness): q_l_diversity's QI classes,
# TVD between class and global segment distributions; absent cells
# enter with probability 0 via the class x segment cross join.
@query(f"""
    WITH base AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer
    ),
    cls_seg AS (
        SELECT c_nationkey, bal_band, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_cs
        FROM base GROUP BY 1, 2, 3
    ),
    cls AS (
        SELECT c_nationkey, bal_band, CAST(SUM(n_cs) AS BIGINT) AS n_c
        FROM cls_seg GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM base),
    seg AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) * 1000000 // (SELECT n_tot FROM tot)
                    AS BIGINT) AS p_g_micro
        FROM base GROUP BY c_mktsegment
    ),
    cells AS (
        SELECT cls.c_nationkey, cls.bal_band, cls.n_c,
               abs(CAST(COALESCE(cs.n_cs, 0) * 1000000 // cls.n_c
                        AS BIGINT) - seg.p_g_micro) AS d
        FROM cls CROSS JOIN seg
        LEFT JOIN cls_seg cs
          ON cs.c_nationkey = cls.c_nationkey
         AND cs.bal_band = cls.bal_band
         AND cs.c_mktsegment = seg.c_mktsegment
    ),
    per_class AS (
        SELECT c_nationkey, bal_band, n_c,
               CAST(SUM(d) // 2 AS BIGINT) AS t_micro
        FROM cells GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MAX(t_micro) AS BIGINT) AS max_t_micro,
           CAST(SUM(CASE WHEN t_micro > {T_CLOSENESS_THRESHOLD_MICRO}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes,
           CAST(SUM(CASE WHEN t_micro > {T_CLOSENESS_THRESHOLD_MICRO}
                    THEN n_c ELSE 0 END) AS BIGINT) AS n_risky_rows
    FROM per_class
""")
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian ICDE 2007) —
    completing the release-privacy ladder: q_k_anonymity bounds class
    SIZE, q_l_diversity bounds distinct sensitive VALUES, t-closeness
    bounds how far a class's sensitive-value DISTRIBUTION may sit from
    the global one (an l-diverse class that is 98% one segment still
    leaks; distance does what counting can't). Same QI classes as
    q_l_diversity (nation × 1000-wide balance band), sensitive =
    market segment; distance = total variation (the categorical EMD),
    threshold t = 0.2.

    Exactness: class and global probabilities are micro-rounded ONCE
    each (integer DIV), TVD is an integer |diff| sum halved — absent
    (class, segment) cells enter as probability 0 via the class ×
    segment cross join, which is what makes TVD see one-sided mass.

    Scale shape: one (class, segment) aggregate, one class rollup, the
    ≤ 5-row segment table broadcast-crossed against |classes| rows, one
    class-keyed aggregate, one 1-row summary."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    cls_seg = base.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cs")
    )
    cls = cls_seg.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n_cs").cast("long").alias("n_c")
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    seg = (
        base.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_s"))
        .crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            F.expr("CAST(n_s * 1000000 DIV n_tot AS BIGINT)").alias(
                "p_g_micro"
            ),
        )
    )
    grid = cls.crossJoin(F.broadcast(seg))
    cells = grid.join(
        cls_seg, ["c_nationkey", "bal_band", "c_mktsegment"], "left"
    ).select(
        "c_nationkey",
        "bal_band",
        "n_c",
        F.expr(
            "abs(CAST(coalesce(n_cs, 0) * 1000000 DIV n_c AS BIGINT)"
            " - p_g_micro)"
        ).alias("d"),
    )
    per_class = cells.groupBy("c_nationkey", "bal_band", "n_c").agg(
        F.expr("CAST(SUM(d) DIV 2 AS BIGINT)").alias("t_micro")
    )
    thr = T_CLOSENESS_THRESHOLD_MICRO
    return per_class.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("t_micro").cast("long").alias("max_t_micro"),
        F.sum(F.when(F.col("t_micro") > thr, 1).otherwise(0))
        .cast("long")
        .alias("n_risky_classes"),
        F.sum(F.when(F.col("t_micro") > thr, F.col("n_c")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
    )


# MAD outlier rule in exact arithmetic: |x - med| > 3 * 1.4826 * mad
# spelled as 10000*dev > 44478*mad — both sides exact doubles on the
# cents grid (dev <= 5e11, 44478*mad <= 2.3e12, far under 2^53), so
# the comparison is bit-identical across engines. 1.4826 is the
# normal-consistency constant (sigma ~= 1.4826*MAD for Gaussian data).
MAD_RULE = "(10000 * dev > 44478 * mad)"


# MAD anomaly screen (q_anomaly_mad): grouped medians via
# quantile_cont at the dyadic 0.5 (exact on the cents grid), fence =
# the shared MAD_RULE text, worst-z on the quarter-cent grid.
@query(f"""
    WITH o AS MATERIALIZED (
        SELECT o_orderstatus,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
        FROM orders
    ),
    med AS MATERIALIZED (
        SELECT o_orderstatus, quantile_cont(pc, 0.5) AS med,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM o GROUP BY o_orderstatus
    ),
    dev AS MATERIALIZED (
        SELECT o.o_orderstatus, abs(o.pc - m.med) AS dev
        FROM o JOIN med m USING (o_orderstatus)
    ),
    mad AS MATERIALIZED (
        SELECT o_orderstatus, quantile_cont(dev, 0.5) AS mad
        FROM dev GROUP BY o_orderstatus
    ),
    agg AS (
        SELECT d.o_orderstatus,
               CAST(SUM(CASE WHEN {MAD_RULE} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               CAST(SUM(CASE WHEN {MAD_RULE} THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT) AS outlier_micro,
               MAX(d.dev) AS max_dev
        FROM dev d JOIN mad USING (o_orderstatus)
        GROUP BY d.o_orderstatus
    )
    SELECT m.o_orderstatus, m.n_orders,
           m.med AS median_cents,
           mad.mad AS mad_cents,
           a.n_outliers, a.outlier_micro,
           CAST(CAST(round(a.max_dev * 4, 0) AS BIGINT) * 10000000
                // (14826 * GREATEST(CAST(round(mad.mad * 4, 0)
                AS BIGINT), 1)) AS BIGINT) AS worst_z_milli
    FROM med m
    JOIN mad USING (o_orderstatus)
    JOIN agg a USING (o_orderstatus)
""")
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    anomaly screen that survives the outliers it hunts (mean/stddev
    z-scores are dragged by the very tail they're meant to flag; the
    median/MAD pair has a 50% breakdown point). Per order status:
    median order total, MAD, and how many orders sit beyond the
    standard 3-sigma-equivalent fence (|x − med| > 3·1.4826·MAD).
    Completes the robust-stats family: q_winsorize CLAMPS tails,
    q_impute_median FILLS holes, this one FLAGS anomalies.

    Exactness: totals live in integer cents; both medians are exact
    type-7 interpolations at the dyadic p = 0.5 (F.percentile ==
    quantile_cont, the q_percentile_exact precedent — midpoints of
    cents land on exact .5 doubles, deviations on exact .25 quarters);
    the fence comparison is the integer-scaled MAD_RULE text.

    Scale shape: two grouped percentile aggregates (3 status groups),
    each broadcast back to the scan — no global sort, no window over a
    data-scaled partition."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    med = orders.groupBy("o_orderstatus").agg(
        F.percentile(F.col("pc"), F.lit(0.5)).alias("med"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    dev = orders.join(F.broadcast(med), on="o_orderstatus").select(
        "o_orderstatus",
        "pc",
        F.abs(F.col("pc") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("o_orderstatus").agg(
        F.percentile(F.col("dev"), F.lit(0.5)).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), on="o_orderstatus").select(
        "o_orderstatus",
        F.expr(MAD_RULE).cast("int").alias("is_out"),
        "dev",
    )
    agg = flagged.groupBy("o_orderstatus").agg(
        F.sum("is_out").cast("long").alias("n_outliers"),
        F.expr(
            "CAST(SUM(is_out) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("outlier_micro"),
        F.max("dev").alias("max_dev"),
    )
    # worst robust-z in milli, all on the exact quarter-cent grid:
    # med sits on the .5 grid so dev does too (4*dev integer), mad on
    # the .25 grid (4*mad integer); z = dev/(1.4826*mad) spelled as
    # (4*dev)*1e7 DIV (14826*(4*mad)) — numerator <= 2e15, exact. On
    # this uniform synthetic corpus max dev ~= 2*MAD, so the worst z
    # sits near 1.35 and n_outliers is legitimately 0 at every SF —
    # the z column is what proves the fence arithmetic actually ran.
    return (
        med.join(mad, on="o_orderstatus")
        .join(agg, on="o_orderstatus")
        .select(
            "o_orderstatus",
            "n_orders",
            F.col("med").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
            "n_outliers",
            "outlier_micro",
            F.expr(
                "CAST(CAST(round(max_dev * 4) AS BIGINT) * 10000000"
                " DIV (14826 * GREATEST(CAST(round(mad * 4) AS BIGINT),"
                " 1)) AS BIGINT)"
            ).alias("worst_z_milli"),
        )
    )


def sdiv_expr(x: str, m: str, div: str) -> str:
    """Sign-split integer division — ONE shared text so a NEGATIVE
    numerator can never diverge between Spark's truncating DIV and
    DuckDB's flooring //: both engines divide the absolute value (where
    truncate == floor) and re-apply the sign."""
    return (
        f"CASE WHEN {x} < 0 THEN -((-({x})) {div} ({m}))"
        f" ELSE ({x}) {div} ({m}) END"
    )


DP_EPSILON_MICRO = 500_000


DP_NOISE_LEVELS = 64


def _laplace_micro_table(
    eps_micro: int = DP_EPSILON_MICRO,
    levels: int = DP_NOISE_LEVELS,
    sensitivity: int = 1,
) -> list[int]:
    """Quantized Laplace(Δ/ε) noise table in integer micro: entry k is
    the inverse CDF at the midpoint quantile (k+0.5)/levels. The ln
    runs HERE, in Python, once — both engines consume the same integer
    literals (the q_rbo / band-tuning convention), so no transcendental
    executes in either engine and the release is bit-identical."""
    import math

    b = sensitivity * 1_000_000 / eps_micro  # Laplace scale Δ/ε
    out = []
    for k in range(levels):
        q = (k + 0.5) / levels - 0.5
        x = -b * math.copysign(1.0, q) * math.log(1.0 - 2.0 * abs(q))
        out.append(round(x * 1_000_000))
    return out


# q_dp_histogram (q_dp_histogram): Laplace-mechanism
# release over the (mktsegment, nation) QI classes. Same md5-hex
# uniform (first 2 hex digits -> one of 64 levels) and the SAME
# integer-micro quantized inverse-CDF noise table inlined from
# _laplace_micro_table — the ln ran once in Python; neither engine
# executes a transcendental.
_DP_TABLE = "[" + ", ".join(
    f"CAST({v} AS BIGINT)" for v in _laplace_micro_table()
) + "]"


@query(f"""
    WITH classes AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS true_n
        FROM customer GROUP BY 1, 2
    ),
    noised AS (
        SELECT *,
               (((strpos('0123456789abcdef',
                         substr(md5(c_mktsegment || ':' ||
                                    CAST(c_nationkey AS VARCHAR)), 1, 1))
                  - 1) * 16
                 + strpos('0123456789abcdef',
                          substr(md5(c_mktsegment || ':' ||
                                     CAST(c_nationkey AS VARCHAR)), 2, 1))
                 - 1) // {256 // DP_NOISE_LEVELS}) AS bucket
        FROM classes
    )
    SELECT c_mktsegment,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           true_n,
           ({_DP_TABLE})[bucket + 1] AS noise_micro,
           GREATEST(CAST(0 AS BIGINT),
                    true_n * 1000000 + ({_DP_TABLE})[bucket + 1])
               AS released_micro,
           CAST({DP_EPSILON_MICRO} AS BIGINT) AS epsilon_micro,
           CAST(1 AS BIGINT) AS sensitivity
    FROM noised
""")
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram RELEASE (Dwork et al. 2006's
    Laplace mechanism) over the customer quasi-identifier classes —
    the step the privacy family audits toward but never took: k-anon /
    l-div / t-closeness MEASURE re-identification risk of the
    (mktsegment, nation) classes; this query RELEASES their counts
    with calibrated noise. Counting-query sensitivity Δ=1, ε=0.5;
    classes are disjoint, so the whole histogram costs ε=0.5 by
    parallel composition (the accounting columns carry it).

    Deterministic noise — the rare DP form an oracle can check: the
    per-class uniform is the first 8 md5 hex digits of the class key
    (the q_bootstrap_ci convention), mapped to one of 64 quantized
    Laplace inverse-CDF levels whose integer-micro values are inlined
    from ONE Python source (_laplace_micro_table) in BOTH engines.
    Quantized inverse-CDF noise is the standard reproducible-DP
    mechanism shape (seeded noise for auditable releases); the 64-level
    quantization truncates the tails at the ±(1/128) quantiles —
    documented mechanism property, identical in both engines. Released
    counts clamp at 0 (post-processing — DP is preserved).

    This is the engine's AUDIT view: true_n rides along so tests and
    the oracle can verify the mechanism arithmetic; a production
    release projects only the released columns.

    Scale shape: one partial-aggregated groupBy over the table, then
    map-side hash + table lookup on the ≤ |classes| result — no second
    shuffle, no window, no per-row noise draw over data rows."""
    eps = DP_EPSILON_MICRO
    levels = DP_NOISE_LEVELS
    table = _laplace_micro_table(eps, levels, 1)
    arr = "array(" + ", ".join(f"CAST({v} AS BIGINT)" for v in table) + ")"
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    noised = classes.withColumn(
        "__bucket",
        F.expr(
            "CAST(conv(substring(md5(concat(c_mktsegment, ':',"
            " CAST(c_nationkey AS STRING))), 1, 2), 16, 10) AS INT)"
            f" DIV {256 // levels}"
        ),
    ).withColumn(
        "noise_micro",
        F.expr(f"element_at({arr}, CAST(__bucket + 1 AS INT))"),
    )
    return noised.select(
        "c_mktsegment",
        F.col("c_nationkey").cast("long"),
        "true_n",
        "noise_micro",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("true_n") * 1_000_000 + F.col("noise_micro"),
        ).alias("released_micro"),
        F.lit(eps).cast("long").alias("epsilon_micro"),
        F.lit(1).cast("long").alias("sensitivity"),
    )


CM_DEPTH = 4


CM_WIDTH = 256


# q_countmin_audit (q_countmin_audit): d=4 x w=256
# Count-Min over the vocabulary-collapsed token stream; bucket =
# first-2-hex-md5('word:j') (256 buckets = the full 2-hex space);
# point estimate = min over the 4 rows; audited against the exact
# top-20. Integer throughout.
@query("""
    WITH vocab AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS word
              FROM documents)
        WHERE word != '' GROUP BY word
    ),
    total AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens FROM vocab),
    hashed AS (
        SELECT v.word, v.freq, j.j,
               (((strpos('0123456789abcdef',
                         substr(md5(v.word || ':' ||
                                    CAST(j.j AS VARCHAR)), 1, 1)) - 1)
                 * 16
                 + strpos('0123456789abcdef',
                          substr(md5(v.word || ':' ||
                                     CAST(j.j AS VARCHAR)), 2, 1)) - 1))
                   AS bucket
        FROM vocab v, (SELECT UNNEST(range(4)) AS j) j
    ),
    sketch AS MATERIALIZED (
        SELECT j, bucket, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM hashed GROUP BY 1, 2
    ),
    top AS (
        SELECT word, freq AS true_freq FROM vocab
        ORDER BY freq DESC, word ASC LIMIT 20
    ),
    est AS (
        SELECT h.word, t.true_freq,
               CAST(MIN(s.cnt) AS BIGINT) AS cm_est
        FROM top t
        JOIN hashed h ON h.word = t.word
        JOIN sketch s ON s.j = h.j AND s.bucket = h.bucket
        GROUP BY 1, 2
    )
    SELECT word, true_freq, cm_est,
           CAST(cm_est - true_freq AS BIGINT) AS overestimate,
           CAST(2 * (SELECT n_tokens FROM total) // 256 AS BIGINT)
               AS bound,
           cm_est - true_freq
               <= 2 * (SELECT n_tokens FROM total) // 256
               AS within_bound
    FROM est
""")
def q_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency audit (Cormode & Muthukrishnan 2005)
    — the FREQUENCY member completing the sketch-accuracy family:
    q_bloom_fpp_audit audits membership, q_kmv_distinct distinctness,
    q_heavy_hitters top-k; this builds the d=4 × w=256 Count-Min over
    the corpus token stream and audits its point estimates against the
    exact counts of the top-20 words. The one-sided error is the
    mechanism's signature — CM can only OVERestimate (every counter a
    word hashes to holds its true count plus colliding mass; the min
    over 4 rows picks the least-polluted one), pinned by test. The
    ``bound`` column carries the standard 2N/w Markov budget; the
    per-word flag shows which estimates beat it (a probabilistic
    guarantee, reported not asserted).

    Portable hashing: row j's bucket = first-2-hex-md5('word:j') —
    256 buckets exactly spans the 2-hex space, so both engines derive
    identical sketches from the raw table.

    Scale shape: ONE groupBy(word) collapses the token stream (the
    q_bpe_merges discipline); the ×4 row-explode runs over |vocab|
    aggregated rows, not corpus tokens; the sketch is a 1024-row
    aggregate, broadcast back to the top-20 probe words. Nothing after
    the vocabulary collapse scales with the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(words(F.trim(F.col("text")))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    total = vocab.agg(F.sum("freq").cast("long").alias("n_tokens"))
    hashed = vocab.select(
        "word",
        "freq",
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("j"),
    ).withColumn(
        "bucket",
        F.expr(
            "CAST(conv(substring(md5(concat(word, ':',"
            " CAST(j AS STRING))), 1, 2), 16, 10) AS INT)"
        ),
    )
    sketch = hashed.groupBy("j", "bucket").agg(
        F.sum("freq").cast("long").alias("cnt")
    )
    top = (
        vocab.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(20)
        .select("word", F.col("freq").alias("true_freq"))
    )
    probes = top.select(
        "word",
        "true_freq",
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("j"),
    ).withColumn(
        "bucket",
        F.expr(
            "CAST(conv(substring(md5(concat(word, ':',"
            " CAST(j AS STRING))), 1, 2), 16, 10) AS INT)"
        ),
    )
    est = (
        probes.join(F.broadcast(sketch), on=["j", "bucket"])
        .groupBy("word", "true_freq")
        .agg(F.min("cnt").cast("long").alias("cm_est"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "word",
        "true_freq",
        "cm_est",
        (F.col("cm_est") - F.col("true_freq"))
        .cast("long")
        .alias("overestimate"),
        F.expr(f"CAST(2 * n_tokens DIV {CM_WIDTH} AS BIGINT)").alias(
            "bound"
        ),
        F.expr(
            f"cm_est - true_freq <= 2 * n_tokens DIV {CM_WIDTH}"
        ).alias("within_bound"),
    )


AMS_ROWS = 8


# q_ams_f2 (q_ams_f2): 8-row AMS +/-1 sketch of the word
# frequency second moment vs the exact self-join size; sign = parity
# of the first md5 hex digit of 'word:r'; estimator = lower median
# (rank 4 of 8).
@query("""
    WITH vocab AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS word
              FROM documents)
        WHERE word != '' GROUP BY word
    ),
    tf2 AS (SELECT CAST(SUM(freq * freq) AS BIGINT) AS true_f2
            FROM vocab),
    z AS (
        SELECT r.r,
               CAST(SUM(CASE WHEN
                    ((strpos('0123456789abcdef',
                             substr(md5(v.word || ':' ||
                                        CAST(r.r AS VARCHAR)), 1, 1))
                      - 1) % 2) = 0
                    THEN v.freq ELSE -v.freq END) AS BIGINT) AS z
        FROM vocab v, (SELECT UNNEST(range(8)) AS r) r
        GROUP BY 1
    ),
    est AS (
        SELECT r, z, CAST(z * z AS BIGINT) AS est,
               row_number() OVER (ORDER BY z * z ASC, r ASC) AS rn
        FROM z
    ),
    med AS (
        SELECT
            CAST(MAX(CASE WHEN rn = 4 THEN est END) AS BIGINT)
                AS median_est,
            CAST(MIN(est) AS BIGINT) AS min_est,
            CAST(MAX(est) AS BIGINT) AS max_est
        FROM est
    )
    SELECT t.true_f2, m.median_est, m.min_est, m.max_est,
           CAST(abs(m.median_est - t.true_f2) * 1000000 // t.true_f2
                AS BIGINT) AS err_micro
    FROM med m, tf2 t
""")
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment sketch audit (Alon, Matias & Szegedy 1996 —
    the Gödel-prize F2 estimator): estimate Σ f_w² of the corpus word
    distribution from 8 one-pass ±1-sign sums, against the exact
    self-join size. F2 IS the exact-dup self-join's pair volume (each
    word group contributes f² join rows), so this sketch is the
    planner's shuffle-volume forecast BEFORE running a dedup join —
    the sizing-report move with sublinear state.

    Deterministic signs: word's sign in row r = parity of the first
    md5 hex digit of 'word:r' (the portable-hash convention). Each
    row's Z_r = Σ sign·f_w is an exact int64 (|Z| ≤ N ≈ 2.7e5 at
    sf0.1, ×100 ≈ 2.7e7 → Z² ≤ 7.3e14, inside int64 to ~×1000; past
    that the micro unit drops per the audit rule); est_r = Z_r², and
    the estimator is the LOWER MEDIAN (rank 4 of 8) — integer, no
    mean-of-medians float.

    Scale shape: one groupBy(word) vocabulary collapse, a ×8
    map-side sign fanout over |vocab| rows, an 8-row aggregate, and
    order statistics over exactly 8 rows."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(words(F.trim(F.col("text")))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    true_f2 = vocab.agg(
        F.sum(F.col("freq") * F.col("freq")).cast("long").alias("true_f2")
    )
    z = (
        vocab.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(0), F.lit(AMS_ROWS - 1))).alias(
                "r"
            ),
        )
        .withColumn(
            "sign",
            F.expr(
                "CASE WHEN CAST(conv(substring(md5(concat(word, ':',"
                " CAST(r AS STRING))), 1, 1), 16, 10) AS INT) % 2 = 0"
                " THEN 1 ELSE -1 END"
            ),
        )
        .groupBy("r")
        .agg(F.sum(F.col("sign") * F.col("freq")).cast("long").alias("z"))
        .withColumn("est", (F.col("z") * F.col("z")).cast("long"))
    )
    wr = Window.orderBy(F.col("est").asc(), F.col("r").asc())
    med = (
        z.withColumn("rn", F.row_number().over(wr))
        .agg(
            F.max(F.when(F.col("rn") == AMS_ROWS // 2, F.col("est")))
            .cast("long")
            .alias("median_est"),
            F.min("est").cast("long").alias("min_est"),
            F.max("est").cast("long").alias("max_est"),
        )
    )
    return med.crossJoin(F.broadcast(true_f2)).select(
        "true_f2",
        "median_est",
        "min_est",
        "max_est",
        F.expr(
            "CAST(abs(median_est - true_f2) * 1000000 DIV true_f2"
            " AS BIGINT)"
        ).alias("err_micro"),
    )


HLL_REGISTERS = 64


HLL_ALPHA_MICRO = 709_000  # alpha_64 (Flajolet et al. 2007, m=64)


def _hll_rho_sql(w: str) -> str:
    """Leading-zero rank of a 26-bit suffix: rho = 27 - floor(log2(w))
    - ... spelled as a generated CASE ladder (no log in either engine;
    w = 0 -> the max rank 27)."""
    branches = " ".join(
        f"WHEN {w} >= {1 << (26 - k)} THEN {k}" for k in range(1, 27)
    )
    return f"CASE {branches} ELSE 27 END"


def _hll_lc_table() -> list[int]:
    """Linear-counting estimates m·ln(m/V) for V = 1..m, precomputed in
    Python and inlined as integer literals in BOTH engines (the
    Laplace/RBO table convention — no ln executes in either engine)."""
    import math

    m = HLL_REGISTERS
    return [round(m * math.log(m / v)) for v in range(1, m + 1)]


# q_hll_audit (q_hll_audit): identical md5 32-bit hash,
# top-6-bit register pick, CASE-ladder leading-zero rank (shared
# generated text), dyadic-scaled harmonic sum, staged integer
# divisions in the SAME order, linear-counting table inlined from the
# one Python source.
_HLL_LC = "[" + ", ".join(
    f"CAST({v} AS BIGINT)" for v in _hll_lc_table()
) + "]"


@query(f"""
    WITH users AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
        SELECT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS h
        FROM users
    ),
    split AS (
        SELECT event_type,
               CAST(h // {1 << 26} AS INT) AS j,
               h % {1 << 26} AS w
        FROM hashed
    ),
    regs AS (
        SELECT event_type, j,
               CAST(MAX({_hll_rho_sql("w")}) AS INT) AS mj
        FROM split GROUP BY 1, 2
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_present,
               CAST(SUM(CAST(1 AS BIGINT) << (27 - mj)) AS BIGINT)
                   AS s_present
        FROM regs GROUP BY 1
    ),
    est0 AS (
        SELECT event_type,
               CAST({HLL_REGISTERS} - n_present AS BIGINT) AS n_zero,
               s_present + ({HLL_REGISTERS} - n_present)
                   * (CAST(1 AS BIGINT) << 27) AS s_total
        FROM sums
    ),
    est1 AS (
        SELECT event_type, n_zero,
               CAST({HLL_ALPHA_MICRO}
                    * (CAST({HLL_REGISTERS * HLL_REGISTERS} AS BIGINT)
                       * (CAST(1 AS BIGINT) << 27) // s_total)
                    // 1000000 AS BIGINT) AS est_raw
        FROM est0
    ),
    est2 AS (
        SELECT event_type, n_zero, est_raw,
               CAST(CASE WHEN n_zero > 0
                         AND est_raw * 2 < {5 * HLL_REGISTERS}
                    THEN ({_HLL_LC})[CAST(n_zero AS INT)]
                    ELSE est_raw END AS BIGINT) AS est
        FROM est1
    ),
    exact AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT)
                   AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT e.event_type, x.exact_distinct, e.n_zero, e.est_raw, e.est,
           CAST(abs(e.est - x.exact_distinct) * 1000000
                // x.exact_distinct AS BIGINT) AS err_micro
    FROM est2 e JOIN exact x USING (event_type)
""")
def q_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog audited against exact distinct counts
    (Flajolet et al. 2007) — the DETERMINISTIC twin of the rows-only
    q_approx_distinct (Spark's built-in HLL is seed-opaque; this one
    is portable md5 hashing end-to-end, so the DuckDB oracle rebuilds
    the identical sketch and the audit is oracle-CHECKED, completing
    the sketch-accuracy family: Bloom membership, KMV distinctness,
    Misra-Gries top-k, Count-Min frequency, AMS F2 — and now HLL
    cardinality). Per event_type: m=64 registers from a 32-bit md5
    hash (top 6 bits pick the register, the 26-bit suffix's
    leading-zero rank is the register value via a generated CASE
    ladder — no log in either engine); raw estimate
    α·m²/Σ2^-M_j computed exactly in integers by scaling the harmonic
    sum by 2²⁷ (dyadic — the freshness-decay move); the small-range
    regime applies linear counting m·ln(m/V) through a 64-entry
    Python-precomputed table (the Laplace-table convention). The
    staged integer divisions are the SAME text in both engines — the
    estimate is deterministic, not merely close.

    Scale shape: one groupBy(event_type, user) distinct collapse, one
    64-register aggregate per group, a ≤64-row register rollup —
    sketch state is O(m) per group, the entire point of HLL at
    100 TB."""
    m = HLL_REGISTERS
    lc = _hll_lc_table()
    lc_arr = "array(" + ", ".join(
        f"CAST({v} AS BIGINT)" for v in lc
    ) + ")"
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("event_type", "user_id").distinct()
    hashed = users.select(
        "event_type",
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        ).alias("h"),
    ).select(
        "event_type",
        F.expr(f"CAST(h DIV {1 << 26} AS INT)").alias("j"),
        F.expr(f"h % {1 << 26}").alias("w"),
    )
    regs = hashed.select(
        "event_type", "j", F.expr(_hll_rho_sql("w")).alias("rho")
    ).groupBy("event_type", "j").agg(
        F.max("rho").cast("int").alias("mj")
    )
    sums = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 27 - mj)"))
        .cast("long")
        .alias("s_present"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    est = sums.select(
        "event_type",
        "n_present",
        (F.lit(m) - F.col("n_present")).cast("long").alias("n_zero"),
        F.expr(
            f"s_present + ({m} - n_present)"
            f" * shiftleft(CAST(1 AS BIGINT), 27)"
        ).alias("s_total"),
    ).select(
        "event_type",
        "n_zero",
        F.expr(
            f"CAST({HLL_ALPHA_MICRO} * (CAST({m * m} AS BIGINT)"
            f" * shiftleft(CAST(1 AS BIGINT), 27) DIV s_total)"
            f" DIV 1000000 AS BIGINT)"
        ).alias("est_raw"),
    ).select(
        "event_type",
        "n_zero",
        "est_raw",
        F.expr(
            f"CASE WHEN n_zero > 0 AND est_raw * 2 < {5 * m}"
            f" THEN element_at({lc_arr}, CAST(n_zero AS INT))"
            " ELSE est_raw END"
        )
        .cast("long")
        .alias("est"),
    )
    return est.join(exact, on="event_type").select(
        "event_type",
        "exact_distinct",
        "n_zero",
        "est_raw",
        "est",
        F.expr(
            "CAST(abs(est - exact_distinct) * 1000000"
            " DIV exact_distinct AS BIGINT)"
        ).alias("err_micro"),
    )


# q_temporal_split (q_temporal_split): 80%-of-day-range
# cut, per-(type, user) side collapse, spanning-user leakage rate.
@query("""
    WITH e AS (
        SELECT event_type, user_id, CAST(ts AS DATE) AS d FROM events
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM e),
    sided AS (
        SELECT event_type, user_id,
               e.d < b.d0 + CAST(date_diff('day', b.d0, b.d1) * 4 // 5
                                 AS INT) AS is_train
        FROM e, bounds b
    ),
    per_user AS (
        SELECT event_type, user_id,
               MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
               MAX(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_test,
               CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_train_rows,
               CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_test_rows
        FROM sided GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(SUM(n_train_rows) AS BIGINT) AS train_rows,
           CAST(SUM(n_test_rows) AS BIGINT) AS test_rows,
           CAST(SUM(in_train) AS BIGINT) AS train_users,
           CAST(SUM(in_test) AS BIGINT) AS test_users,
           CAST(SUM(in_train * in_test) AS BIGINT) AS spanning_users,
           CAST(SUM(in_train * in_test) * 1000000
                // GREATEST(SUM(in_test), 1) AS BIGINT) AS leak_micro
    FROM per_user GROUP BY event_type
""")
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split with a leakage audit — the eval
    split every forecasting/recsys pipeline needs next to the
    group-based q_leakage_safe_split: cut the event log at 80% of its
    day range (integer date arithmetic off a 2-value broadcast
    aggregate), then measure the classic temporal-leakage hazard —
    users active on BOTH sides (a user-level feature computed over
    train silently encodes test-period behavior for them). Per
    event_type: row counts per side, user counts per side, spanning
    users, and the spanning rate over test users in micro.

    Scale shape: one 2-value bounds aggregate broadcast to the scan,
    one (event_type, user, side) partial-aggregated collapse, one
    per-type rollup — no window, no self-join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("d")
    )
    bounds = ev.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    sided = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "user_id",
        F.expr(
            "d < d0 + CAST(datediff(d1, d0) * 4 DIV 5 AS INT)"
        ).alias("is_train"),
    )
    per_user = sided.groupBy("event_type", "user_id").agg(
        F.max(F.col("is_train").cast("int")).alias("in_train"),
        F.max((~F.col("is_train")).cast("int")).alias("in_test"),
        F.sum(F.col("is_train").cast("int"))
        .cast("long")
        .alias("n_train_rows"),
        F.sum((~F.col("is_train")).cast("int"))
        .cast("long")
        .alias("n_test_rows"),
    )
    return per_user.groupBy("event_type").agg(
        F.sum("n_train_rows").cast("long").alias("train_rows"),
        F.sum("n_test_rows").cast("long").alias("test_rows"),
        F.sum("in_train").cast("long").alias("train_users"),
        F.sum("in_test").cast("long").alias("test_users"),
        F.sum(F.col("in_train") * F.col("in_test"))
        .cast("long")
        .alias("spanning_users"),
        F.expr(
            "CAST(SUM(in_train * in_test) * 1000000"
            " DIV GREATEST(SUM(in_test), 1) AS BIGINT)"
        ).alias("leak_micro"),
    )


# q_lang_confusion (q_lang_confusion): the q_lang_id
# heuristic scored against the declared lang labels; row-normalized
# micro over each declared language's total.
@query("""
    WITH scored AS (
        SELECT lang,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('the','and','of','is'))) AS en,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('el','la','de','que'))) AS es,
               len(list_filter(string_split(lower(text), ' '),
                   w -> w IN ('der','die','und','das'))) AS de
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE
                   WHEN en >= es AND en >= de AND en > 0 THEN 'en'
                   WHEN es >= de AND es > 0 THEN 'es'
                   WHEN de > 0 THEN 'de'
                   ELSE 'unknown'
               END AS pred_lang
        FROM scored
    ),
    cells AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2
    )
    SELECT lang, pred_lang, n_docs,
           CAST(n_docs * 1000000 //
                SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS row_micro,
           lang = pred_lang AS is_match
    FROM cells
""")
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the EVAL the detector family was
    missing: q_lang_id predicts, but nothing graded it against the
    corpus's declared ``lang`` labels (the standard audit before a
    lang-filter ships: per (declared, predicted) cell, how much mass
    moves where, and which declared languages the heuristic loses).
    Cells carry the count and the row-normalized rate (micro, over the
    declared language's total) plus the diagonal flag — accuracy is
    the flagged rows' mass.

    Scale shape: one map-side detection pass, one partial-aggregated
    groupBy on the (|langs|²-bounded) cell key, one window over the
    bounded matrix for row totals."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", lang_id_heuristic(F.col("text")).alias("pred_lang")
    )
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    wl = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.expr(
            "CAST(n_docs * 1000000 DIV SUM(n_docs)"
            " OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("row_micro"),
        (F.col("lang") == F.col("pred_lang")).alias("is_match"),
    )


QSKETCH_BINS = 256


QSKETCH_PCTS = (25, 50, 75, 90, 99)


# q_quantile_sketch_audit (q_quantile_sketch_audit):
# 256-bin equi-width histogram; interpolated estimate vs the exact
# k-th order statistic (k = 1 + p·(n−1) // 100, lower order stat),
# exact side via the same two-pass bin localization.
@query("""
    WITH o AS MATERIALIZED (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    bounds AS (
        SELECT MIN(cents) AS lo, MAX(cents) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM o
    ),
    binned AS MATERIALIZED (
        SELECT o.o_orderkey, o.cents,
               CAST(LEAST(255, (o.cents - b.lo) * 256
                          // (b.hi - b.lo + 1)) AS INT) AS bin
        FROM o, bounds b
    ),
    hist AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt,
               MIN(cents) AS bin_min, MAX(cents) AS bin_max
        FROM binned GROUP BY bin
    ),
    cum AS (
        SELECT bin, cnt, bin_min, bin_max,
               SUM(cnt) OVER (ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) - cnt
                   AS cum_before
        FROM hist
    ),
    targets AS (
        SELECT p.p, 1 + p.p * (b.n - 1) // 100 AS k,
               c.bin, c.cnt, c.cum_before, c.bin_min, c.bin_max
        FROM (SELECT UNNEST([25, 50, 75, 90, 99]) AS p) p,
             bounds b
        JOIN cum c
          ON c.cum_before < 1 + p.p * (b.n - 1) // 100
         AND c.cum_before + c.cnt >= 1 + p.p * (b.n - 1) // 100
    ),
    exact AS (
        SELECT t.p, r.cents AS exact_cents
        FROM targets t
        JOIN (
            SELECT bin, cents,
                   row_number() OVER (PARTITION BY bin
                                      ORDER BY cents, o_orderkey) AS rn
            FROM binned
            WHERE bin IN (SELECT bin FROM targets)
        ) r ON r.bin = t.bin AND r.rn = t.k - t.cum_before
    ),
    est AS (
        SELECT p,
               CAST(bin_min + (bin_max - bin_min)
                    * (k - cum_before - 1)
                    // GREATEST(cnt - 1, 1) AS BIGINT) AS est_cents
        FROM targets
    )
    SELECT CAST(e.p AS INT) AS p, x.exact_cents, e.est_cents,
           CAST(e.est_cents - x.exact_cents AS BIGINT) AS err_cents,
           CAST(abs(e.est_cents - x.exact_cents) * 1000000
                // x.exact_cents AS BIGINT) AS err_micro
    FROM est e JOIN exact x USING (p)
""")
def q_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-quantile sketch audited against EXACT order statistics
    — the QUANTILE member completing the sketch-accuracy family
    (membership/distinct/top-k/frequency/F2/cardinality all have
    audits; quantiles didn't). A 256-bin equi-width histogram over
    order price cents (bounds from a 2-value broadcast aggregate) is
    the bounded sketch; its interpolated quantile estimate is audited
    against the exact k-th order statistic at p25/p50/p75/p90/p99,
    computed WITHOUT a global sort via the classic two-pass
    distributed selection: the exact histogram localizes rank k to one
    bin, and a per-target window ranks only that bin's rows (~n/256 of
    the data per target). Rank k = 1 + p·(n−1) div 100 — the lower
    order statistic, integer-exact in both engines (interpolated
    percentile_cont crosses the FP boundary; this never does).

    Scale shape: one partial-aggregated 256-group histogram, a
    256-row cumulative window (bounded), a 5-row broadcast of
    (target, bin, k, cum_before), and per-target in-bin windows over
    ~n/256 rows each. No global sort anywhere — that is the sketch's
    point."""
    B = QSKETCH_BINS
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    bounds = o.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binned = o.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "cents",
        F.least(
            F.lit(B - 1),
            F.expr(f"(cents - lo) * {B} div (hi - lo + 1)"),
        )
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("cents").alias("bin_min"),
        F.max("cents").alias("bin_max"),
    )
    wb = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bin",
        "cnt",
        "bin_min",
        "bin_max",
        (F.sum("cnt").over(wb) - F.col("cnt")).alias("cum_before"),
    )
    pcts = spark.createDataFrame(
        [(p,) for p in QSKETCH_PCTS], "p int"
    )
    # checkpointed: both the exact leg and the estimate read targets;
    # measured 1.21 → 1.00 s (without → with) on 4 cores at sf0.1
    # (NOTES.md)
    targets = (
        pcts.crossJoin(F.broadcast(bounds))
        .select(
            "p", F.expr("1 + p * (n - 1) DIV 100").alias("k"), "n"
        )
        .join(
            cum,
            (F.col("cum_before") < F.col("k"))
            & (F.col("cum_before") + F.col("cnt") >= F.col("k")),
        )
        .select(
            "p", "k", "bin", "cnt", "cum_before", "bin_min", "bin_max"
        )
    ).localCheckpoint()
    exact = (
        binned.join(
            F.broadcast(
                targets.select(
                    "p", F.col("bin").alias("tbin"), "k", "cum_before"
                )
            ),
            F.col("bin") == F.col("tbin"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("p").orderBy(
                    F.col("cents").asc(), F.col("o_orderkey").asc()
                )
            ),
        )
        .filter(F.col("rn") == F.col("k") - F.col("cum_before"))
        .select("p", F.col("cents").alias("exact_cents"))
    )
    est = targets.select(
        "p",
        F.expr(
            "CAST(bin_min + (bin_max - bin_min)"
            " * (k - cum_before - 1) DIV GREATEST(cnt - 1, 1)"
            " AS BIGINT)"
        ).alias("est_cents"),
    )
    return est.join(exact, on="p").select(
        F.col("p").cast("int"),
        "exact_cents",
        "est_cents",
        (F.col("est_cents") - F.col("exact_cents"))
        .cast("long")
        .alias("err_cents"),
        F.expr(
            "CAST(abs(est_cents - exact_cents) * 1000000"
            " DIV exact_cents AS BIGINT)"
        ).alias("err_micro"),
    )


# q_aa_calibration (q_aa_calibration): md5-parity A/A
# split, per-user purchase conversion, 2×2 chi-square with the SAME
# staged integer divisions (the signed determinant stage through
# sdiv_expr).
_AA_DET_R1 = sdiv_expr("(a * d - b * c) * 1000", "a + b", "//")


_AA_CHI_B = sdiv_expr(f"({_AA_DET_R1}) * (a * d - b * c)", "c + d", "//")


@query(f"""
    WITH spend AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS vc
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(SUM(vc) AS BIGINT) AS total_vc,
               CAST(COUNT(*) AS BIGINT) AS n_u
        FROM spend
    ),
    per_user AS (
        SELECT s.user_id,
               CASE WHEN s.vc * t.n_u > t.total_vc
                    THEN 1 ELSE 0 END AS converted,
               ((strpos('0123456789abcdef',
                        substr(md5(CAST(s.user_id AS VARCHAR)), 1, 1))
                 - 1) % 2) = 0 AS arm_a
        FROM spend s, tot t
    ),
    cells AS (
        SELECT
            CAST(SUM(CASE WHEN arm_a AND converted = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN arm_a AND converted = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN NOT arm_a AND converted = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN NOT arm_a AND converted = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM per_user
    )
    SELECT a, b, c, d,
           CAST(a + b + c + d AS BIGINT) AS n_users,
           CAST(({_AA_CHI_B}) * (a + b + c + d) * 1000
                // ((a + c) * (b + d)) AS BIGINT) AS chi2_micro,
           CAST(({_AA_CHI_B}) * (a + b + c + d) * 1000
                // ((a + c) * (b + d)) AS BIGINT) > 3841000
               AS significant
    FROM cells
""")
def q_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A-test calibration of the experimentation pipeline — the
    pre-flight every A/B system runs: split users into two arms by a
    hash that CANNOT correlate with behavior (md5 parity of user_id,
    the portable-hash convention), measure a real metric (user
    converted = above-average purchase spend, decided by integer
    cross-multiplication so no division runs), and verify the pipeline finds
    NO effect. The test statistic is the 2×2 chi-square
    n·(ad−bc)²/(r1·r2·c1·c2), carried entirely in integers by staged
    division (the determinant's first division is milli-scaled and
    routed through the shared sign-split sdiv_expr — ad−bc is SIGNED,
    where Spark DIV truncates and DuckDB // floors; every later stage
    is non-negative). Intermediates stay under int64 to ×100 by
    construction (bounds in-line). ``significant`` flags
    χ² > 3.841 (the 95% critical value) — an A/A run that trips it
    indicts the split hash or the metric plumbing, not the users.

    Scale shape: one (user, arm) collapse with a partial-aggregated
    max-flag, one 2×2 aggregate — nothing after the per-user collapse
    scales with events."""
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("vc")
    )
    tot = spend.agg(
        F.sum("vc").cast("long").alias("total_vc"),
        F.count(F.lit(1)).cast("long").alias("n_u"),
    )
    per_user = spend.crossJoin(F.broadcast(tot)).select(
        "user_id",
        # above-average purchase spend, decided by integer
        # cross-multiplication (vc/1 > total/n without any division)
        F.expr(
            "CASE WHEN vc * n_u > total_vc THEN 1 ELSE 0 END"
        ).alias("converted"),
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 1),"
            " 16, 10) AS INT) % 2 = 0"
        ).alias("arm_a"),
    )
    cells = per_user.agg(
        F.sum(F.expr("CASE WHEN arm_a AND converted = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("a"),
        F.sum(F.expr("CASE WHEN arm_a AND converted = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("b"),
        F.sum(
            F.expr("CASE WHEN NOT arm_a AND converted = 1 THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.expr("CASE WHEN NOT arm_a AND converted = 0 THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("d"),
    )
    det_milli_over_r1 = sdiv_expr("(a * d - b * c) * 1000", "a + b", "DIV")
    chi_b = sdiv_expr(
        f"({det_milli_over_r1}) * (a * d - b * c)", "c + d", "DIV"
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("long")
        .alias("n_users"),
        F.expr(
            f"CAST(({chi_b}) * (a + b + c + d) * 1000"
            " DIV ((a + c) * (b + d)) AS BIGINT)"
        ).alias("chi2_micro"),
    ).withColumn(
        "significant", F.col("chi2_micro") > 3_841_000
    )


# q_hll_merge (q_hll_merge): register-wise max merge of
# two md5-digit-2 halves vs the single-pass registers — identical by
# the max-merge algebra; same hash/rho chain as q_hll_audit.
@query(f"""
    WITH users AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
        SELECT event_type,
               ((strpos('0123456789abcdef',
                        substr(md5(CAST(user_id AS VARCHAR)), 2, 1))
                 - 1) % 2) AS half,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS h
        FROM users
    ),
    split AS (
        SELECT event_type, half,
               CAST(h // {1 << 26} AS INT) AS j,
               h % {1 << 26} AS w
        FROM hashed
    ),
    rho AS MATERIALIZED (
        SELECT event_type, half, j,
               {_hll_rho_sql("w")} AS rho
        FROM split
    ),
    whole AS (
        SELECT event_type, j, CAST(MAX(rho) AS INT) AS mj_whole
        FROM rho GROUP BY 1, 2
    ),
    merged AS (
        SELECT event_type, j, CAST(MAX(mj_half) AS INT) AS mj_merged
        FROM (SELECT event_type, half, j,
                     CAST(MAX(rho) AS INT) AS mj_half
              FROM rho GROUP BY 1, 2, 3)
        GROUP BY 1, 2
    )
    SELECT w.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_registers,
           CAST(SUM(CASE WHEN w.mj_whole != m.mj_merged
                    THEN 1 ELSE 0 END) AS BIGINT)
               AS register_mismatches,
           SUM(CAST(1 AS BIGINT) << (27 - w.mj_whole))
               = SUM(CAST(1 AS BIGINT) << (27 - m.mj_merged))
               AS estimates_equal
    FROM whole w JOIN merged m USING (event_type, j)
    GROUP BY w.event_type
""")
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY pin — the property that makes sketches viable
    at 100 TB at all: per-executor register sets combine losslessly
    (register-wise max), so distinct-counting never reshuffles raw
    keys. Users are split into two halves by an independent hash digit
    (md5 hex digit 2 — q_aa_calibration's arm uses digit 1), each
    half builds its own m=64 register set per event_type, the halves
    merge by MAX per register, and the merged registers are compared
    against the single-pass whole-corpus registers: they must be
    IDENTICAL (max over a partitioned set is the set max —
    register_mismatches pins 0), hence identical estimates. The same
    audit shape as q_rollup_incremental/q_gram_incremental, applied to
    the sketch algebra.

    Scale shape: the same bounded-register chain as q_hll_audit run
    per (half, type) and per type; every comparison is over ≤ 64 rows
    per group."""
    m = HLL_REGISTERS
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("event_type", "user_id").distinct()
    hashed = users.select(
        "event_type",
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 2, 1),"
            " 16, 10) AS INT) % 2"
        ).alias("half"),
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        ).alias("h"),
    ).select(
        "event_type",
        "half",
        F.expr(f"CAST(h DIV {1 << 26} AS INT)").alias("j"),
        F.expr(f"h % {1 << 26}").alias("w"),
    ).withColumn("rho", F.expr(_hll_rho_sql("w")))
    whole = hashed.groupBy("event_type", "j").agg(
        F.max("rho").cast("int").alias("mj_whole")
    )
    merged = (
        hashed.groupBy("event_type", "half", "j")
        .agg(F.max("rho").cast("int").alias("mj_half"))
        .groupBy("event_type", "j")
        .agg(F.max("mj_half").cast("int").alias("mj_merged"))
    )
    cmpd = whole.join(merged, on=["event_type", "j"])
    return cmpd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.sum(
            (F.col("mj_whole") != F.col("mj_merged")).cast("int")
        )
        .cast("long")
        .alias("register_mismatches"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 27 - mj_whole)")
        )
        .cast("long")
        .alias("s_whole"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 27 - mj_merged)")
        )
        .cast("long")
        .alias("s_merged"),
    ).select(
        "event_type",
        "n_registers",
        "register_mismatches",
        (F.col("s_whole") == F.col("s_merged")).alias("estimates_equal"),
    )


DP_MEAN_CLIP_CENTS = 500_000


_DPM_MEAN = sdiv_expr(
    "(clipped_sum_cents * 1000000 + noise_microcents)",
    "n_customers",
    "//",
)


# q_dp_mean (q_dp_mean): symmetric clip at +/-C, Laplace
# (2C/eps) from the shared table source, released mean through
# sdiv_expr (balances AND noise are signed).
_DPM_TABLE = "[" + ", ".join(
    f"CAST({v} AS BIGINT)"
    for v in _laplace_micro_table(
        DP_EPSILON_MICRO, DP_NOISE_LEVELS, 2 * DP_MEAN_CLIP_CENTS
    )
) + "]"


@query(f"""
    WITH agg AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(GREATEST(CAST(-{DP_MEAN_CLIP_CENTS} AS BIGINT),
                        LEAST(CAST({DP_MEAN_CLIP_CENTS} AS BIGINT),
                              CAST(round(c_acctbal * 100, 0)
                                   AS BIGINT)))) AS BIGINT)
                   AS clipped_sum_cents
        FROM customer GROUP BY 1
    ),
    noised AS (
        SELECT *,
               (((strpos('0123456789abcdef',
                         substr(md5('mean:' || c_mktsegment), 1, 1))
                  - 1) * 16
                 + strpos('0123456789abcdef',
                          substr(md5('mean:' || c_mktsegment), 2, 1))
                 - 1) // {256 // DP_NOISE_LEVELS}) AS bucket
        FROM agg
    ),
    withn AS (
        SELECT c_mktsegment, n_customers, clipped_sum_cents,
               ({_DPM_TABLE})[bucket + 1] AS noise_microcents
        FROM noised
    )
    SELECT c_mktsegment, n_customers, clipped_sum_cents,
           noise_microcents,
           CAST(clipped_sum_cents * 1000000 + noise_microcents
                AS BIGINT) AS released_sum_microcents,
           CAST({_DPM_MEAN} AS BIGINT) AS released_mean_microcents,
           CAST({DP_EPSILON_MICRO} AS BIGINT) AS epsilon_micro,
           CAST({2 * DP_MEAN_CLIP_CENTS} AS BIGINT)
               AS sensitivity_cents
    FROM withn
""")
def q_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP clipped-mean release per market segment — the second member
    of the release pair (q_dp_histogram releases COUNTS; real reports
    need sums/means, where the unbounded account balance makes naive
    release impossible): balances clip to [−C, C] (C = 5000.00, so
    one customer moves the sum by at most 2C... the standard
    symmetric-clip bound; sensitivity 2C), the clipped sum gets
    Laplace(2C/ε) noise from the SAME quantized inverse-CDF table
    machinery as q_dp_histogram (sensitivity parameter threaded into
    _laplace_micro_table — one Python source, both engines), and the
    released mean divides by the (public) class size through the
    shared sign-split sdiv_expr — balances and noise are SIGNED, the
    truncate-vs-floor hazard applies twice here.

    Audit view: the true clipped sum rides along for tests/oracle; a
    production release projects only the released columns.

    Scale shape: one partial-aggregated groupBy(segment) with the
    clip applied map-side, then map-side hash + table lookup on the
    ≤ |segments| rows."""
    eps = DP_EPSILON_MICRO
    c = DP_MEAN_CLIP_CENTS
    table = _laplace_micro_table(eps, DP_NOISE_LEVELS, 2 * c)
    arr = "array(" + ", ".join(
        f"CAST({v} AS BIGINT)" for v in table
    ) + ")"
    cust = load_table(spark, sf_dir, "customer")
    agg = cust.select(
        "c_mktsegment",
        F.expr(
            f"GREATEST(CAST(-{c} AS BIGINT), LEAST(CAST({c} AS BIGINT),"
            " CAST(round(c_acctbal * 100) AS BIGINT)))"
        ).alias("clipped"),
    ).groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("clipped").cast("long").alias("clipped_sum_cents"),
    )
    noised = agg.withColumn(
        "__bucket",
        F.expr(
            "CAST(conv(substring(md5(concat('mean:', c_mktsegment)),"
            " 1, 2), 16, 10) AS INT)"
            f" DIV {256 // DP_NOISE_LEVELS}"
        ),
    ).withColumn(
        "noise_microcents",
        F.expr(f"element_at({arr}, CAST(__bucket + 1 AS INT))"),
    )
    released_sum = "clipped_sum_cents * 1000000 + noise_microcents"
    mean = sdiv_expr(f"({released_sum})", "n_customers", "DIV")
    return noised.select(
        "c_mktsegment",
        "n_customers",
        "clipped_sum_cents",
        "noise_microcents",
        F.expr(f"CAST({released_sum} AS BIGINT)").alias(
            "released_sum_microcents"
        ),
        F.expr(f"CAST({mean} AS BIGINT)").alias(
            "released_mean_microcents"
        ),
        F.lit(DP_EPSILON_MICRO).cast("long").alias("epsilon_micro"),
        F.lit(2 * c).cast("long").alias("sensitivity_cents"),
    )
