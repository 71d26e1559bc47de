"""Batch twins of the streaming and incremental paths: windowed
aggregates, stream-stream joins, sessionization, and the incremental
dedup, curation, aggregate, Gram and top-k maintenance queries. Each
returns the answer its streaming counterpart converges to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.plans.artifacts import _materialized
from telecom_competitor_analysis_spark.plans.registry import query
from telecom_competitor_analysis_spark.plans.similarity import (
    _gram_finalize,
    _gram_partials,
    q_embedding_topk,
    q_gram_matrix,
)
from telecom_competitor_analysis_spark.sources.readers import (
    load_table,
    read_parquet,
)


@query("""
        SELECT
            strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
            COUNT(*) AS n_events,
            COUNT(DISTINCT user_id) AS n_users,
            MIN(value) AS min_value,
            MAX(value) AS max_value
        FROM events
        GROUP BY 1
    """)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — tumbling 1-day window agg over events (batch form; identical
    semantics under Structured Streaming with a watermark — see
    streaming/). Order-independent aggregates only (count / distinct /
    min / max), so the result is shuffle-order-stable."""
    events = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 day")
    return (
        events.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
            "n_users",
            "min_value",
            "max_value",
        )
    )


@query("""
        -- each event belongs to the two 6h-aligned window starts
        -- [floor6h(ts) - 6h, floor6h(ts)]; both always contain ts for a
        -- 12h window, mirroring Spark's epoch-aligned F.window(12h, 6h)
        WITH expanded AS (
            SELECT
                time_bucket(INTERVAL '6 hours', ts)
                    - k * INTERVAL '6 hours' AS window_start,
                user_id,
                value
            FROM events, unnest([0, 1]) AS t(k)
        )
        SELECT
            strftime(window_start, '%Y-%m-%d %H:%M') AS window_start,
            COUNT(*) AS n_events,
            COUNT(DISTINCT user_id) AS n_users,
            MIN(value) AS min_value,
            MAX(value) AS max_value
        FROM expanded
        GROUP BY 1
    """)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — hopping (sliding) 12h-window/6h-slide agg over events: each
    event lands in exactly 2 overlapping windows (12h % 6h == 0), the
    shape used for smoothed rate monitoring. Same streaming-equivalent
    semantics as q_tumbling_window; order-independent aggregates only.
    Epoch-aligned window starts match DuckDB time_bucket (6h divides a
    day, so the 1970 vs 2000 bucket origins coincide)."""
    events = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "12 hours", "6 hours")
    return (
        events.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "n_events",
            "n_users",
            "min_value",
            "max_value",
        )
    )


# q_incremental_topk — the two-batch incremental replay must converge to
# the batch brute-force answer (top-k(top-k(A) ∪ B) == top-k(A ∪ B) under
# the strict cos DESC / neighbor_id ASC order), so the oracle IS the
# brute-force top-10 (same SQL as q_embedding_topk).
@query(q_embedding_topk.oracle)
def q_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (similarity.py::incremental_topk)
    exercised end-to-end as a deterministic two-batch replay: batch 1 =
    even vec_ids, batch 2 = odd vec_ids; the kept top-10 state after
    batch 2 must equal the brute-force top-10 over the full corpus —
    top-k(top-k(A) ∪ B) == top-k(A ∪ B) under the strict
    (cos DESC, neighbor_id ASC) total order, since any global winner
    drawn from A survives A's own top-k. The oracle is therefore the
    same brute-force SQL as q_embedding_topk: the incremental path
    converging to the batch answer IS the correctness property. Output
    re-ranked and the float cos dropped (rank-only compare)."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        incremental_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    batch2 = emb.filter(F.col("vec_id") % 2 == 1)
    state = incremental_topk(None, batch1, queries, k=10)
    state = incremental_topk(state, batch2, queries, k=10)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return state.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w).cast("int").alias("rank"),
    )


@query("""
        SELECT
            p.event_id AS purchase_id,
            c.event_id AS click_id,
            p.user_id,
            CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS secs_before
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        JOIN (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch-equivalent form (the
    batch-is-the-oracle pattern of q_tumbling_window/q_sessionize):
    purchases ⋈ same-user clicks within the preceding 30 minutes, via
    streaming/joins.click_attribution_join — the SAME function the
    watermarked streaming form runs, so batch and streaming semantics
    cannot drift (restart behavior covered in tests/test_stream_join.py).
    Equi-join on user_id carries the shuffle; the interval predicate is a
    residual — at scale this is one key-partitioned shuffle per side,
    with streaming state bounded by watermark + horizon."""
    from telecom_competitor_analysis_spark.streaming.joins import (
        click_attribution_join,
    )

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    return click_attribution_join(purchases, clicks)


@query("""
        WITH flagged AS (
            SELECT
                user_id,
                ts,
                event_id,
                CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 1800 * 1000000
                     THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sessions AS (
            SELECT
                user_id,
                ts,
                CAST(SUM(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS session_idx
            FROM flagged
        )
        SELECT
            user_id,
            session_idx,
            COUNT(*) AS n_events,
            strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
            strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sessions
        GROUP BY user_id, session_idx
    """)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) as pure window algebra:
    lag → new-session flag → running sum = session index. One shuffle on
    user_id shared by both window passes. The streaming twin (custom
    stateful operator via applyInPandasWithState) lives in
    streaming/sessionize.py; this batch form is the oracle-checked
    semantics."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
            > 1800 * 1_000_000,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# q_session_stats — per-user aggregates over gap-sessionized events
# (same sessionization CTE as q_sessionize, then two grouping levels).
@query("""
    WITH flagged AS (
        SELECT
            user_id,
            ts,
            event_id,
            CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > 1800 * 1000000
                 THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
        SELECT
            user_id,
            ts,
            CAST(SUM(new_session) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS session_idx
        FROM flagged
    ),
    sessions AS (
        SELECT
            user_id,
            session_idx,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                 AS BIGINT) AS dur_sec
        FROM numbered
        GROUP BY user_id, session_idx
    )
    SELECT
        user_id,
        CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(n_events) AS BIGINT) AS total_events,
        round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
            AS avg_events_per_session,
        MAX(dur_sec) AS max_session_sec
    FROM sessions
    GROUP BY user_id
""")
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session behavior profile on top of the sessionizer:
    session count, total events, events/session, longest session
    duration. The window shuffle on user_id is shared by the lag pass,
    the running sum, AND both aggregations — one exchange end-to-end
    (the groupBy keys are prefixes of the window partition key)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros(F.col("ts"))
    flagged = events.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1)
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # integer µs → whole seconds via `div` (exact bigint floor-division;
    # a double divide risks an off-by-one against the oracle's `//`)
    sessions = flagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 1000000")
        .cast("bigint")
        .alias("dur_sec"),
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_events_per_session"),
        F.max("dur_sec").alias("max_session_sec"),
    )


# q_session_window — built-in session_window twin: SAME gap split as
# q_sessionize (empirically verified on Spark 4.1.2: an event exactly
# gap after the previous one MERGES into the session — the split
# condition is strictly >, matching the hand-rolled form).
@query("""
    WITH flagged AS (
        SELECT
            user_id,
            ts,
            event_id,
            CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > 1800 * 1000000
                 THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
        SELECT
            user_id,
            ts,
            CAST(SUM(new_session) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT
        user_id,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM numbered
    GROUP BY user_id, session_idx
""")
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's BUILT-IN ``session_window`` (the
    idiomatic Structured-Streaming form, here in its batch twin): one
    groupBy(user, session_window(ts, '30 minutes')) aggregation — the
    engine merges events within the gap (an event exactly gap after the
    previous one merges — split is strictly >, same as q_sessionize).
    Emits the same sessions as the hand-rolled window-algebra
    q_sessionize (session_window.end is last-event + gap by definition,
    so we emit min/max event times for comparability)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
        )
        .select(
            "user_id", "n_events", "session_start", "session_end"
        )
    )


def _neardup_pairs_ctes(p: str, src_cte: str, threshold: float) -> str:
    """CTE chain for shingle-Jaccard near-dup pairs over `src_cte`
    (needs doc_id, text): {p}t → {p}sh_all → {p}sh (df-capped, mirrors
    shingle_jaccard_pairs max_df) → {p}sizes → {p}pairs (id_a < id_b,
    jaccard >= threshold)."""
    return f"""
        {p}t AS (
            SELECT doc_id, string_split(trim(text), ' ') AS arr FROM {src_cte}
        ),
        {p}sh_all AS (
            SELECT DISTINCT {p}t.doc_id,
                   arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS sh
            FROM {p}t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
        ),
        {p}sh AS (
            SELECT {p}sh_all.* FROM {p}sh_all
            JOIN (SELECT sh FROM {p}sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
              USING (sh)
        ),
        {p}sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM {p}sh GROUP BY doc_id
        ),
        {p}pairs AS (
            SELECT id_a, id_b
            FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
                FROM {p}sh a JOIN {p}sh b
                  ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ) s
            JOIN {p}sizes sa ON sa.doc_id = s.id_a
            JOIN {p}sizes sb ON sb.doc_id = s.id_b
            WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared)
                  >= {threshold}
        )"""


def _curate_keepers_ctes(p: str, src_where: str) -> str:
    """CTE chain for curation stages (a)+(b): language/quality scoring +
    exact dedup, over `documents WHERE src_where`. Emits {p}scored,
    {p}kept, {p}keepers (doc_id, text, pred_lang, n_words) — the same
    stages the q_corpus_curate oracle spells out inline, parameterized so
    the incremental oracle can run the chain twice (keep-list side and
    new-batch side) without hand-duplicated SQL that could drift."""

    def cnt(terms: tuple[str, ...]) -> str:
        lst = ", ".join(f"'{t}'" for t in terms)
        return (
            "len(list_filter(string_split(lower(text), ' '), "
            f"w -> w IN ({lst})))"
        )

    en, es, de = (
        cnt(("the", "and", "of", "is")),
        cnt(("el", "la", "de", "que")),
        cnt(("der", "die", "und", "das")),
    )
    return f"""
        {p}scored AS (
            SELECT
                doc_id, text,
                CASE
                    WHEN {en} >= {es} AND {en} >= {de} AND {en} > 0 THEN 'en'
                    WHEN {es} >= {de} AND {es} > 0 THEN 'es'
                    WHEN {de} > 0 THEN 'de'
                    ELSE 'unknown'
                END AS pred_lang,
                len(string_split(text, ' '))::BIGINT AS n_words,
                CAST(len(list_filter(string_split(text, ' '),
                    w -> lower(w) IN ('the','a','of','and','to','in','is')))
                    AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
            WHERE {src_where}
        ),
        {p}kept AS (
            SELECT * FROM {p}scored
            WHERE pred_lang = 'en' AND n_words BETWEEN 5 AND 10000
              AND stop_ratio >= 0.0
        ),
        {p}keepers AS (
            SELECT doc_id, text, pred_lang, n_words FROM (
                SELECT k.*,
                       MIN(doc_id) OVER (PARTITION BY md5(trim(text))) AS keeper
                FROM {p}kept k
            ) WHERE doc_id = keeper
        )"""


# Incremental curation: even doc_ids are the existing keep-list, odd are
# the new batch (so a row's side IS its parity — the oracle uses doc_id % 2
# where the Spark operator carries an explicit __new tag). Stage mapping to
# operators/curate.py curate_incremental: pk*/pd*/pkfinal = curate_corpus
# over the prev half (scoring + exact dedup + near-dup removal — the SAME
# pipeline the Spark side's prev_keepers goes through; stopping at exact
# dedup would make the oracle's keep-list a strict superset of Spark's),
# nb* = batch-internal curation (curate_corpus over the new batch,
# including new-new near-dup drops), fresh = digest anti-join vs keep-list,
# tg* = near-dup pairs over keep-list ∪ fresh with cross-side drops killing
# the new doc.
@query(f"""
    WITH {_curate_keepers_ctes("pk", "doc_id % 2 = 0")},
    {_neardup_pairs_ctes("pd", "pkkeepers", 0.5)},
    pkfinal AS (
        SELECT k.* FROM pkkeepers k
        LEFT JOIN (SELECT DISTINCT id_b FROM pdpairs) d ON d.id_b = k.doc_id
        WHERE d.id_b IS NULL
    ),
    {_curate_keepers_ctes("nb", "doc_id % 2 = 1")},
    {_neardup_pairs_ctes("nd", "nbkeepers", 0.5)},
    nbbatch AS (
        SELECT k.* FROM nbkeepers k
        LEFT JOIN (SELECT DISTINCT id_b FROM ndpairs) d ON d.id_b = k.doc_id
        WHERE d.id_b IS NULL
    ),
    fresh AS (
        SELECT b.* FROM nbbatch b
        LEFT JOIN (
            SELECT DISTINCT md5(trim(text)) AS dg FROM pkfinal
        ) pd ON pd.dg = md5(trim(b.text))
        WHERE pd.dg IS NULL
    ),
    tagged AS (
        SELECT doc_id, text FROM fresh
        UNION ALL
        SELECT doc_id, text FROM pkfinal
    ),
    {_neardup_pairs_ctes("tg", "tagged", 0.5)},
    cross_drops AS (
        SELECT DISTINCT
            CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id
        FROM tgpairs
        WHERE (id_a % 2) <> (id_b % 2)
    )
    SELECT f.doc_id, f.pred_lang, f.n_words
    FROM fresh f
    LEFT JOIN cross_drops cd ON cd.doc_id = f.doc_id
    WHERE cd.doc_id IS NULL
""")
def q_curate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-curation — the 100 TB path made driver-checkable:
    even doc_ids play the already-curated keep-list, odd doc_ids arrive
    as the new batch; only the batch is scored, then digest-anti-joined
    and near-dup-checked against keep-list ∪ batch (operators/curate.py
    curate_incremental). Returns the new keepers to append. The batch
    query (q_corpus_curate) re-curates everything; this one's cost
    scales with the batch, not the corpus."""
    from telecom_competitor_analysis_spark.operators.curate import (
        curate_corpus,
        curate_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    prev = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    prev_keepers = (
        curate_corpus(prev)
        .join(prev.select("doc_id", "text"), on="doc_id")
        .select("doc_id", "text")
    )
    return curate_incremental(new, prev_keepers)


# Frozen-universe incremental dedup (q_dedup_incremental):
# the index side (keep-list, doc_id % 3 != 0) gets the df cap and its
# per-doc sizes computed over the KEEP-LIST ONLY; the batch side's n_a
# counts ALL its distinct shingles — exactly the semantics
# operators/dedup.py::near_dups_against_index documents.
@query("""
    WITH kt AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr
        FROM documents WHERE doc_id % 3 <> 0
    ),
    k_all AS (
        SELECT DISTINCT
            kt.doc_id,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS sh
        FROM kt, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    -- df cap over the keep-list only (frozen index universe)
    postings AS (
        SELECT k_all.* FROM k_all
        JOIN (SELECT sh FROM k_all GROUP BY sh HAVING COUNT(*) <= 1000)
          USING (sh)
    ),
    k_sizes AS (
        SELECT doc_id, COUNT(*) AS n_b FROM postings GROUP BY doc_id
    ),
    bt AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr
        FROM documents WHERE doc_id % 3 = 0
    ),
    b_sh AS (
        SELECT DISTINCT
            bt.doc_id,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS sh
        FROM bt, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    -- batch doc size counts ALL its shingles (novel content included)
    b_sizes AS (
        SELECT doc_id, COUNT(*) AS n_a FROM b_sh GROUP BY doc_id
    ),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM b_sh a JOIN postings b ON a.sh = b.sh
        GROUP BY 1, 2
    )
    SELECT
        id_a,
        id_b,
        n_shared,
        sa.n_a AS n_a,
        sb.n_b AS n_b,
        CAST(n_shared AS DOUBLE) / (sa.n_a + sb.n_b - n_shared) AS jaccard
    FROM shared
    JOIN b_sizes sa ON sa.doc_id = id_a
    JOIN k_sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n_a + sb.n_b - n_shared) >= 0.2
""")
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection against a MATERIALIZED shingle
    index (operators/dedup.py::build_shingle_index /
    near_dups_against_index) — the 100 TB dedup story: the keep-list
    (doc_id % 3 != 0) is tokenized ONCE into a persisted df-capped
    postings + sizes index; the arriving batch (doc_id % 3 == 0) is the
    only side tokenized at query time, and candidate volume is
    Σ df_batch × df_index per shingle — cost ∝ batch size, independent
    of corpus size. Index semantics are FROZEN-UNIVERSE (df cap over
    the keep-list only; a batch doc's n_a counts all its shingles, so
    novel content is conservatively non-duplicate) — the exact contract
    near_dups_against_index documents, and what the DuckDB oracle
    reproduces. The index build is fingerprint-cached
    (_materialized): identical source parquet reuses the artifact,
    exactly like a warehouse table."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        build_shingle_index,
        near_dups_against_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    keep = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    idx = _materialized(
        spark,
        sf_dir,
        "shingle_idx_keep3_w3df1000",
        "documents",
        lambda p: build_shingle_index(
            keep, "doc_id", "text", p, w=3, max_df=1000
        ),
    )
    return near_dups_against_index(
        batch, spark, idx, "doc_id", "text", w=3, threshold=0.2
    )


# Incremental rollup maintenance (q_rollup_incremental):
# the oracle is deliberately the FULL RECOMPUTE over all orders — the
# query's merged stored+batch partials must equal it exactly (the
# materialized-view maintenance invariant; integer cents make the
# partial merge order-free).
@query("""
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           COUNT(*)::BIGINT AS n_orders
    FROM orders
    GROUP BY 1
""")
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view-delta
    pattern that completes the repo's incremental family (dedup /
    curate / topk / index-append): a daily revenue rollup over the
    FROZEN history (orders before 1995-06-01) is materialized once as
    PARTIAL-AGGREGATE STATE (per-day integer-cent sums + counts, the
    commutative-monoid shape that makes merging exact); the arriving
    batch (orders on/after the cutoff) aggregates ALONE, and the
    published view is stored ∪ batch partials re-summed per key.

    Per-refresh work ∝ batch + |rollup| — the history is NEVER
    re-scanned. The oracle is the strongest kind: a FULL RECOMPUTE
    over all orders — the query passes only if merged-incremental ≡
    recompute exactly (the MV-maintenance invariant), which the
    integer-cent partials guarantee under any partitioning or merge
    order (a double-sum rollup could NOT make this promise).

    Scale shape: one partial-agg shuffle over the batch keyed by
    order_day, one map-side union with the |days|-row stored table,
    one final partial-agg merge. At 100 TB the stored rollup is a
    warehouse table (here the fingerprint-cached artifact stand-in,
    like q_dedup_incremental's index)."""
    cutoff = "1995-06-01"

    def day_rollup(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.date_format(
                    F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd"
                ).alias("order_day"),
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("long")
                .alias("cents"),
            )
            .groupBy("order_day")
            .agg(
                F.sum("cents").cast("long").alias("revenue_cents"),
                F.count(F.lit(1)).cast("long").alias("n_orders"),
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    history = orders.filter(F.col("o_orderdate") < cutoff)
    batch = orders.filter(F.col("o_orderdate") >= cutoff)
    stored = _materialized(
        spark,
        sf_dir,
        "day_rollup",
        "orders",
        lambda p: day_rollup(history).write.mode("overwrite").parquet(p),
    )
    merged = (
        read_parquet(spark, stored)
        .unionByName(day_rollup(batch))
        .groupBy("order_day")
        .agg(
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
    )
    return merged


# q_gram_incremental — the STRONGEST oracle: full recompute over all
# embeddings, identical to q_gram_matrix's SQL; green proves
# merged-incremental ≡ recompute (the MV-maintenance invariant).
@query(q_gram_matrix.oracle)
def q_gram_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the Gram/covariance statistic — the
    MV-delta pattern (q_rollup_incremental) applied to the statistics
    a drift monitor or whitening stage keeps warm: the FROZEN history
    (vec_id % 4 != 0) is materialized once as partial-aggregate state
    (Σxᵢxⱼ/n per pair, Σxᵢ per dim — exact integer monoid, so merging
    is order-independent), the arriving batch aggregates ALONE, and
    the published matrix is stored ∪ batch partials re-summed.
    Per-refresh work ∝ batch + 2080 state rows; the history is never
    re-scanned. The oracle is the FULL RECOMPUTE over all embeddings —
    the same SQL as q_gram_matrix verbatim — so green proves
    merged-incremental ≡ recompute exactly."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    history = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)

    def build(path: str) -> None:
        hsxy, hsums = _gram_partials(history)
        hsxy.write.mode("overwrite").parquet(f"{path}/sxy")
        hsums.write.mode("overwrite").parquet(f"{path}/sums")

    stored = _materialized(spark, sf_dir, "gram_hist_mod4", "embeddings", build)
    bsxy, bsums = _gram_partials(batch)
    sxy = (
        read_parquet(spark, f"{stored}/sxy")
        .unionByName(bsxy)
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").cast("long").alias("sxy"),
            F.sum("n").cast("long").alias("n"),
        )
    )
    sums = (
        read_parquet(spark, f"{stored}/sums")
        .unionByName(bsums)
        .groupBy("i")
        .agg(F.sum("sx").cast("long").alias("sx"))
    )
    return _gram_finalize(sxy, sums)
