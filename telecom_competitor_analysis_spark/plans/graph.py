"""Graph analytics over the materialized near-dup pair graph: PageRank,
triangles, k-core, label propagation, modularity, clustering coefficient,
assortativity, and TextRank over word co-occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signature,
)
from telecom_competitor_analysis_spark.plans.dedup import (
    _materialized_lsh_pairs,
    _NEARDUP_CC_CTES,
    q_minhash_lsh_pairs,
)
from telecom_competitor_analysis_spark.plans.registry import query
from telecom_competitor_analysis_spark.plans.stats import (
    sdiv_expr,
    SPEARMAN_EXPR,
)
from telecom_competitor_analysis_spark.sources.readers import load_table


# q_pagerank — 3 unrolled integer-micro PageRank rounds over the same
# banded MinHash-LSH pair graph as q_dedup_clusters (damping 0.85;
# contributions/init/damping terms all rounded to 1e-6 units before any
# sum, so each iteration is an exact integer fixpoint in both engines).
_PR_ITER = """
    it{K} AS (
        SELECT
            nodes.id,
            CAST(round(150000.0 / stats.n) AS BIGINT)
            + CAST(round(0.85 * CAST(COALESCE(s.insum, 0) AS DOUBLE))
                   AS BIGINT) AS p
        FROM nodes
        CROSS JOIN stats
        LEFT JOIN (
            SELECT
                e.dst AS id,
                CAST(SUM(CAST(round(
                    CAST(prev.p AS DOUBLE) / CAST(deg.deg AS DOUBLE), 0
                ) AS BIGINT)) AS BIGINT) AS insum
            FROM edges e
            JOIN it{PREV} prev ON e.src = prev.id
            JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        ) s ON nodes.id = s.id
    )"""


@query(
    """
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    sh AS (
        SELECT DISTINCT
            t.doc_id,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS word
        FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    sig AS (
        SELECT
            doc_id,
            MIN(md5(word || '#0')) AS h0,
            MIN(md5(word || '#1')) AS h1,
            MIN(md5(word || '#2')) AS h2,
            MIN(md5(word || '#3')) AS h3
        FROM sh
        GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band_idx, md5(h0 || '|' || h1) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_idx, md5(h2 || '|' || h3) AS band_key FROM sig
    ),
    ok AS (
        SELECT band_idx, band_key FROM banded
        GROUP BY 1, 2 HAVING COUNT(*) <= 1000
    ),
    banded_ok AS (
        SELECT banded.* FROM banded JOIN ok USING (band_idx, band_key)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded_ok a
        JOIN banded_ok b
          ON a.band_idx = b.band_idx
         AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (
        SELECT DISTINCT src AS id FROM edges
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ),
    deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    it0 AS (
        SELECT id, CAST(round(1000000.0 / stats.n) AS BIGINT) AS p
        FROM nodes CROSS JOIN stats
    ),"""
    + _PR_ITER.format(K=1, PREV=0)
    + ","
    + _PR_ITER.format(K=2, PREV=1)
    + ","
    + _PR_ITER.format(K=3, PREV=2)
    + """
    SELECT id, p AS pr_micro FROM it3
"""
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.py) over the MinHash-LSH
    near-dup pair graph — dup-graph centrality: high-rank docs are the
    hubs boilerplate clusters orbit, the ones to inspect first when a
    near-dup explosion appears. Integer-micro arithmetic makes all
    three iterations exact; the DuckDB oracle unrolls them as CTEs over
    the same banded-pair graph."""
    from telecom_competitor_analysis_spark.operators.graph import (
        pagerank_micro,
    )

    pairs = _materialized_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # full (id, pr_micro) map — no global-rank window (a partitionless
    # row_number would serialize every node through one partition; rank
    # downstream with TakeOrderedAndProject when only the top-k matter)
    return pagerank_micro(edges, iters=3)


# q_dup_graph_stats — degree histogram of the MinHash-LSH pair graph.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    sh AS (
        SELECT DISTINCT
            t.doc_id,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS word
        FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    sig AS (
        SELECT
            doc_id,
            MIN(md5(word || '#0')) AS h0,
            MIN(md5(word || '#1')) AS h1,
            MIN(md5(word || '#2')) AS h2,
            MIN(md5(word || '#3')) AS h3
        FROM sh
        GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band_idx, md5(h0 || '|' || h1) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_idx, md5(h2 || '|' || h3) AS band_key FROM sig
    ),
    ok AS (
        SELECT band_idx, band_key FROM banded
        GROUP BY 1, 2 HAVING COUNT(*) <= 1000
    ),
    banded_ok AS (
        SELECT banded.* FROM banded JOIN ok USING (band_idx, band_key)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded_ok a
        JOIN banded_ok b
          ON a.band_idx = b.band_idx
         AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (
            SELECT id_a AS id FROM pairs
            UNION ALL
            SELECT id_b AS id FROM pairs
        )
        GROUP BY id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
""")
def q_dup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph observability: degree distribution of the
    MinHash-LSH pair graph (how many docs have 1, 2, … near-dup
    neighbors). The dedup-health dashboard query — a fat tail here means
    boilerplate contamination upstream. Pairs → symmetric explode →
    per-doc degree → degree histogram. Reads the materialized pair
    graph shared with q_dedup_clusters/q_canonical_docs/q_pagerank."""
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    # symmetric explode of each pair — NOT a union of two selects, which
    # would evaluate the whole signature+LSH pipeline once per branch
    deg = (
        pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("degree", "n_docs")
    )


# Triangle census of the LSH candidate graph
# (q_triangle_count): edges = the q_minhash_lsh_pairs
# oracle verbatim; degree-ordered orientation with the "<= keeps id_a"
# tie-break (id_a < id_b in the edge set), compact-forward wedge
# closure against the canonical edge form.
@query((f"""
    WITH edges AS (
        SELECT id_a, id_b FROM ({{LSH_PAIRS}})
    ),
    deg AS (
        SELECT v, COUNT(*) AS deg FROM (
            SELECT id_a AS v FROM edges
            UNION ALL SELECT id_b AS v FROM edges
        ) GROUP BY v
    ),
    orient AS (
        SELECT CASE WHEN da.deg <= db.deg THEN e.id_a ELSE e.id_b END AS u,
               CASE WHEN da.deg <= db.deg THEN e.id_b ELSE e.id_a END AS v
        FROM edges e
        JOIN deg da ON da.v = e.id_a
        JOIN deg db ON db.v = e.id_b
    ),
    w AS (
        SELECT o1.v AS x, o2.v AS y
        FROM orient o1 JOIN orient o2 ON o1.u = o2.u AND o1.v < o2.v
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM w JOIN edges e
          ON e.id_a = LEAST(x, y) AND e.id_b = GREATEST(x, y)
    ),
    ns AS (
        SELECT COUNT(*) AS n_nodes,
               COALESCE(SUM(deg * (deg - 1) // 2), 0) AS n_wedges
        FROM deg
    ),
    ec AS (SELECT COUNT(*) AS n_edges FROM edges)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(3 * n_triangles * 1000000 // GREATEST(n_wedges, 1)
                AS BIGINT) AS transitivity_micro
    FROM ns, ec, tri
""").replace(
    "{LSH_PAIRS}", q_minhash_lsh_pairs.oracle
))
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup candidate graph (edges = the
    production banded MinHash-LSH pairs): triangle count and global
    transitivity are the structural health check of a dedup graph —
    high transitivity means candidates form dense template clusters
    (connected-component dedup will collapse whole families, as
    intended); low transitivity with many edges flags chain-shaped
    false-positive bridges that would over-merge components at 100 TB
    (q_dedup_clusters / q_leakage_safe_split both consume these
    components, so this is their early-warning twin).

    Algorithm: degree-ordered orientation (each edge points from its
    lower-(degree, id) endpoint), wedges enumerated from the ORIENTED
    adjacency only, closed against the canonical edge set — the
    compact-forward scheme (Latapy 2008, Theory Comp. Sci. 407;
    Suri & Vassilvitskii WWW'11 use the same orientation for MapReduce
    triangle counting): every triangle is found exactly once at its
    orientation-minimal vertex, and wedge volume is Σ out-deg² =
    O(E^1.5) instead of Σ deg² (a hub of degree d contributes ~d²
    unoriented wedges but only O(E)·√E oriented ones — at 100 TB the
    hub template cluster is exactly where naive wedge counting dies).

    Scale shape: edges come from the bucket-capped candidate generator;
    orientation is two broadcast-size degree joins; the wedge self-join
    and the closure join are equi-joins on node keys; output is one
    row. Transitivity = 3·triangles / unoriented-wedges in micro.
    """
    from telecom_competitor_analysis_spark.operators.graph import (
        triangle_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", n_hashes=4)
    # r12 optimization (guide §5): triangle_stats references its edge
    # list FOUR times (degree build, orientation join, closure join,
    # edge count) and the edge lineage here is the full MinHash+LSH
    # pair pipeline — the before plan re-derived signatures per
    # reference. persist() the bounded candidate-pair list so the LSH
    # stage runs once per action.
    edges = lsh_candidate_pairs(sig, "doc_id", n_hashes=4, bands=2).persist()
    return triangle_stats(edges)


# TextRank keywords (q_textrank_keywords): two unrolled
# all-integer iterations over the adjacent-word graph.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    tok AS (
        SELECT doc_id, i AS pos, arr[i] AS w
        FROM t, unnest(generate_series(1, len(arr))) AS s(i)
    ),
    adj AS (
        SELECT w AS a,
               LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        FROM tok
    ),
    e0 AS (
        SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        FROM adj WHERE b IS NOT NULL AND a <> b
    ),
    be AS (
        SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ),
    deg AS (SELECT u, COUNT(*) AS deg FROM be GROUP BY 1),
    s0 AS (SELECT u AS word, deg, CAST(1000000 AS BIGINT) AS s FROM deg),
    i1 AS (
        SELECT be.v AS word, SUM(s0.s // s0.deg) AS inflow
        FROM be JOIN s0 ON be.u = s0.word GROUP BY 1
    ),
    s1 AS (
        SELECT s0.word, s0.deg,
               CAST(150000 + (850000 * COALESCE(i1.inflow, 0)) // 1000000
                    AS BIGINT) AS s
        FROM s0 LEFT JOIN i1 USING (word)
    ),
    i2 AS (
        SELECT be.v AS word, SUM(s1.s // s1.deg) AS inflow
        FROM be JOIN s1 ON be.u = s1.word GROUP BY 1
    ),
    s2 AS (
        SELECT s1.word, s1.deg,
               CAST(150000 + (850000 * COALESCE(i2.inflow, 0)) // 1000000
                    AS BIGINT) AS s
        FROM s1 LEFT JOIN i2 USING (word)
    )
    SELECT word, CAST(deg AS BIGINT) AS deg, s AS score_micro
    FROM s2 ORDER BY s DESC, word LIMIT 10
""")
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank
    over the word co-occurrence graph (adjacent-word edges), the
    unsupervised keyword scorer summarization pipelines run before
    titling/routing. Two unrolled iterations of
    s' = 0.15 + 0.85·Σ_{u∈N(v)} s(u)/deg(u) from s₀ = 1, ALL-INTEGER
    (micro scores; each neighbor contribution is s(u) div deg(u), the
    damping step one more integer div — the q_pagerank discipline on a
    word graph instead of the doc graph). Top-10 by (score, word).

    Scale shape: adjacency edges are a lead-window pass over the token
    stream (doc-keyed exchange reused from tokenization); distinct
    undirected edges partial-aggregate on the word pair; each iteration
    is one join + one partial-aggregable groupBy on the word
    (operators/graph.py::textrank_scores); the final top-10 is
    TakeOrderedAndProject (never a global sort)."""
    from telecom_competitor_analysis_spark.functions.text import words
    from telecom_competitor_analysis_spark.operators.graph import (
        textrank_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    win = Window.partitionBy("doc_id").orderBy("pos")
    toks = docs.select(
        "doc_id",
        F.posexplode(words(F.trim(F.col("text")))).alias("pos", "w"),
    )
    adj = toks.select(
        F.col("w").alias("a"), F.lead("w").over(win).alias("b")
    ).filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    # r12 optimization (guide §5): textrank_scores references the edge
    # list three times (both union legs + the degree build) and its
    # lineage here is the token explode + lead window + distinct —
    # persist the narrow (u, v) frame so the co-occurrence extraction
    # runs once per action (the q_triangle_count shape).
    edges = (
        adj.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .persist()
    )
    final = textrank_scores(edges, iters=2)
    return (
        final.orderBy(F.col("s").desc(), F.col("word"))
        .limit(10)
        .select("word", F.col("deg").cast("long").alias("deg"),
                F.col("s").alias("score_micro"))
    )


# Majority-vote label propagation (q_label_propagation):
# two unrolled synchronous rounds over the SAME banded-minhash pair
# graph as the other five consumers; argmax = max count then min label
# (zero-padded composite key — this DuckDB's arg_max takes no struct).
# The 2-round LP chain is shared text: q_graph_modularity scores the
# SAME communities this oracle releases.
_LP_CTES = """
    , n0 AS (
        SELECT doc_id AS node, CAST(doc_id AS BIGINT) AS label
        FROM documents
    ),
    bi AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    v1 AS (
        SELECT bi.v AS node, n0.label AS nl, COUNT(*) AS cnt
        FROM bi JOIN n0 ON bi.u = n0.node GROUP BY 1, 2
    ),
    w1 AS (
        SELECT node,
               arg_max(nl, lpad(CAST(cnt AS VARCHAR), 10, '0') || '|'
                           || lpad(CAST(999999999999 - nl AS VARCHAR),
                                   12, '0')) AS new_label
        FROM v1 GROUP BY 1
    ),
    n1 AS MATERIALIZED (
        SELECT n0.node,
               CAST(COALESCE(w1.new_label, n0.label) AS BIGINT) AS label
        FROM n0 LEFT JOIN w1 USING (node)
    ),
    v2 AS (
        SELECT bi.v AS node, n1.label AS nl, COUNT(*) AS cnt
        FROM bi JOIN n1 ON bi.u = n1.node GROUP BY 1, 2
    ),
    w2 AS (
        SELECT node,
               arg_max(nl, lpad(CAST(cnt AS VARCHAR), 10, '0') || '|'
                           || lpad(CAST(999999999999 - nl AS VARCHAR),
                                   12, '0')) AS new_label
        FROM v2 GROUP BY 1
    ),
    n2 AS MATERIALIZED (
        SELECT n1.node,
               CAST(COALESCE(w2.new_label, n1.label) AS BIGINT) AS label
        FROM n1 LEFT JOIN w2 USING (node)
    )
"""


@query(
    _NEARDUP_CC_CTES
    + _LP_CTES
    + """
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS community_size,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM n2 GROUP BY 1
"""
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label propagation (Raghavan et al. 2007) over the
    materialized near-dup pair graph — the community-detection
    complement of q_dedup_clusters' min-label connected components:
    two SYNCHRONOUS rounds where each node adopts the most frequent
    label among its neighbors (ties → smallest label; isolated nodes
    keep their own), starting from label = doc_id. Deterministic by
    construction (synchronous rounds + total tie order), hence
    oracle-checkable — the asynchronous textbook variant is RNG-order
    dependent and untestable.

    Scale shape: SIXTH consumer of the materialized LSH pair table;
    each round is one join (neighbor labels) + one partial-aggregable
    count + one argmax per node (operators/graph.py::label_propagation)
    — everything keys on node or (node, label); no global state."""
    from telecom_competitor_analysis_spark.operators.graph import (
        label_propagation,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    nodes = docs.select(
        F.col("doc_id").alias("node"),
        F.col("doc_id").cast("long").alias("label"),
    )
    final = label_propagation(nodes, edges, rounds=2)
    return final.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


# k-core peel (q_kcore): three unrolled rounds of k = 2
# peeling over the LSH pair graph — same partial peel both engines.
# Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
# and the e2←e1←e0 chain re-evaluates the full LSH-pairs subquery
# ~3^depth times otherwise (measured: 431 s inlined → 0.16 s
# materialized at sf0.01).
@query(f"""
    WITH e0 AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM ({q_minhash_lsh_pairs.oracle})
    ),
    d1 AS MATERIALIZED (
        SELECT x, COUNT(*) AS d FROM (
            SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0
        ) GROUP BY x
    ),
    a1 AS MATERIALIZED (SELECT x FROM d1 WHERE d >= 2),
    e1 AS MATERIALIZED (
        SELECT e0.u, e0.v FROM e0
        JOIN a1 au ON au.x = e0.u JOIN a1 av ON av.x = e0.v
    ),
    d2 AS MATERIALIZED (
        SELECT x, COUNT(*) AS d FROM (
            SELECT u AS x FROM e1 UNION ALL SELECT v AS x FROM e1
        ) GROUP BY x
    ),
    a2 AS MATERIALIZED (SELECT x FROM d2 WHERE d >= 2),
    e2 AS MATERIALIZED (
        SELECT e1.u, e1.v FROM e1
        JOIN a2 au ON au.x = e1.u JOIN a2 av ON av.x = e1.v
    ),
    d3 AS MATERIALIZED (
        SELECT x, COUNT(*) AS d FROM (
            SELECT u AS x FROM e2 UNION ALL SELECT v AS x FROM e2
        ) GROUP BY x
    ),
    a3 AS MATERIALIZED (SELECT x FROM d3 WHERE d >= 2),
    e3 AS MATERIALIZED (
        SELECT e2.u, e2.v FROM e2
        JOIN a3 au ON au.x = e2.u JOIN a3 av ON av.x = e2.v
    )
    SELECT CAST(1 AS INT) AS round,
           CAST((SELECT COUNT(*) FROM a1) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS n_edges
    UNION ALL
    SELECT CAST(2 AS INT),
           CAST((SELECT COUNT(*) FROM a2) AS BIGINT),
           CAST((SELECT COUNT(*) FROM e2) AS BIGINT)
    UNION ALL
    SELECT CAST(3 AS INT),
           CAST((SELECT COUNT(*) FROM a3) AS BIGINT),
           CAST((SELECT COUNT(*) FROM e3) AS BIGINT)
""")
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel of the near-dup pair graph (Seidman 1983; k = 2,
    three unrolled rounds) — the dup-graph health metric q_triangle_count
    and q_dup_graph_stats don't capture: a large 2-core that SURVIVES
    peeling is a tightly-knit boilerplate family (template farms, SEO
    mirrors) that single-link clustering over-merges and pairwise dedup
    undercounts; the peel-rate across rounds says whether the graph is
    tree-like chains (healthy near-dup noise, dies fast) or dense cores
    (systematic duplication, plateaus). Ninth consumer of the ONE
    materialized LSH pair table.

    Returns (round, n_nodes, n_edges) after each peel round — bounded
    output (3 rows). Fixed rounds keep the plan static and the partial
    peel is engine-agnostic even before the fixpoint
    (operators/graph.py::kcore_peel)."""
    from telecom_competitor_analysis_spark.operators.graph import kcore_peel

    pairs = _materialized_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    return kcore_peel(edges, k=2, rounds=3)


# Degree assortativity (q_assortativity): Pearson over
# endpoint degrees of the directed edge list; integer moment sums, the
# shared SPEARMAN_EXPR double combination.
@query(f"""
    WITH edges AS MATERIALIZED (
        SELECT id_a, id_b FROM ({q_minhash_lsh_pairs.oracle})
    ),
    bidir AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM edges
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM edges
    ),
    deg AS MATERIALIZED (
        SELECT u AS x0, CAST(COUNT(*) AS BIGINT) AS d
        FROM bidir GROUP BY u
    ),
    xy AS (
        SELECT du.d AS x, dv.d AS y
        FROM bidir
        JOIN deg du ON du.x0 = bidir.u
        JOIN deg dv ON dv.x0 = bidir.v
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM xy
    )
    SELECT n AS n_directed_edges,
           {SPEARMAN_EXPR} AS assortativity_micro
    FROM s
""")
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup pair graph (Newman 2002):
    Pearson correlation of endpoint degrees over the directed edge list
    — the dup-graph topology number k-core/triangles don't give:
    positive r = hub-hub wiring (boilerplate families referencing each
    other — one dedup pass collapses whole neighborhoods), negative r =
    hub-and-spoke (a template with many one-off variants). Tenth
    consumer of the ONE materialized LSH pair table.

    Exactness: degrees are exact integer counts; the five moment sums
    are exact int64 aggregates; the Pearson combination is the SHARED
    double text SPEARMAN_EXPR (Pearson over any integer x/y — the
    q_rank_correlation discipline), micro-rounded once.

    Scale shape: one degree aggregate (partial map-side), two
    degree join-backs keyed on the node, one 1-row moment aggregate."""
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    both = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = both.groupBy(F.col("u").alias("x0")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    xy = (
        both.join(
            deg.select(F.col("x0").alias("u"), F.col("d").alias("x")),
            on="u",
        )
        .join(
            deg.select(F.col("x0").alias("v"), F.col("d").alias("y")),
            on="v",
        )
        .select("x", "y")
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.expr(SPEARMAN_EXPR).alias("assortativity_micro"),
    )


# Local clustering coefficient (q_clustering_coeff): the
# triangle_stats orientation mirrored in SQL over the LSH pair edges,
# closure keeps (u, v, w), unnest credits the 3 endpoints, degree-1
# nodes excluded, bin()-length degree buckets. Every multi-referenced
# CTE MATERIALIZED (the kcore 3^depth lesson).
@query(f"""
    WITH edges AS MATERIALIZED (
        SELECT id_a, id_b FROM ({q_minhash_lsh_pairs.oracle})
    ),
    deg AS MATERIALIZED (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (SELECT id_a AS v FROM edges
              UNION ALL SELECT id_b AS v FROM edges)
        GROUP BY v
    ),
    oriented AS MATERIALIZED (
        SELECT CASE WHEN da.deg <= db.deg THEN e.id_a ELSE e.id_b END
                   AS u,
               CASE WHEN da.deg <= db.deg THEN e.id_b ELSE e.id_a END
                   AS v
        FROM edges e
        JOIN deg da ON da.v = e.id_a
        JOIN deg db ON db.v = e.id_b
    ),
    tri AS MATERIALIZED (
        SELECT o1.u, o1.v, o2.v AS w
        FROM oriented o1
        JOIN oriented o2 ON o1.u = o2.u AND o1.v < o2.v
        JOIN edges e
          ON e.id_a = least(o1.v, o2.v)
         AND e.id_b = greatest(o1.v, o2.v)
    ),
    tri_nodes AS MATERIALIZED (
        SELECT v0 AS v, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (SELECT unnest([u, v, w]) AS v0 FROM tri)
        GROUP BY v0
    ),
    cc AS (
        SELECT COALESCE(t.n_tri, 0) AS n_tri, d.deg,
               CAST(2 * COALESCE(t.n_tri, 0) * 1000000
                    // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_micro,
               CAST(length(bin(d.deg)) AS INT) AS deg_bucket
        FROM deg d LEFT JOIN tri_nodes t USING (v)
        WHERE d.deg >= 2
    )
    SELECT deg_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(n_tri) AS BIGINT) AS sum_triangle_slots,
           CAST(SUM(cc_micro) // COUNT(*) AS BIGINT) AS avg_cc_micro,
           CAST(MAX(cc_micro) AS BIGINT) AS max_cc_micro
    FROM cc GROUP BY deg_bucket
""")
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the near-dup pair graph, rolled
    up by degree bucket — the PER-NODE companion of q_triangle_count's
    global census: cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) says whether a
    node's neighborhood is a dense template family (cc → 1: safe to
    collapse) or a star of unrelated one-offs bridged through it
    (cc → 0 at high degree: the false-positive hub that over-merges
    components — exactly the node a dedup pipeline wants to QUARANTINE
    rather than union). Eleventh consumer of the ONE materialized LSH
    pair table.

    Exactness: triangles and degrees are exact integer counts (the
    compact-forward orientation enumerates each triangle once); cc is
    one integer micro division; the degree bucket is the bin()-length
    integer log2 rule (no float log). Degree-1 nodes have no defined
    cc and are excluded (documented, mirrored in the oracle).

    Scale shape: operators/graph.py::local_clustering is the
    triangle_stats plan plus a 3-rows-per-triangle explode and one
    node-keyed aggregate; the rollup output is ≤ log2(max-degree)
    rows."""
    from telecom_competitor_analysis_spark.operators.graph import (
        local_clustering,
    )

    pairs = _materialized_lsh_pairs(spark, sf_dir)
    lc = local_clustering(pairs)
    cc = lc.filter(F.col("deg") >= 2).select(
        "n_tri",
        "deg",
        F.expr(
            "CAST(2 * n_tri * 1000000 DIV (deg * (deg - 1)) AS BIGINT)"
        ).alias("cc_micro"),
        F.expr("CAST(length(bin(deg)) AS INT)").alias("deg_bucket"),
    )
    return cc.groupBy("deg_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("n_tri").cast("long").alias("sum_triangle_slots"),
        F.expr("CAST(SUM(cc_micro) DIV COUNT(1) AS BIGINT)").alias(
            "avg_cc_micro"
        ),
        F.max("cc_micro").cast("long").alias("max_cc_micro"),
    )


# q_graph_modularity (q_graph_modularity): Newman Q of the
# SAME 2-round LP communities (shared _LP_CTES text) over the shared
# pair graph; per-community contribution (4·m·e_c − d_c²)·1e6 over
# 4m² routed through sdiv_expr — a worse-than-chance community is
# NEGATIVE, where Spark DIV truncates and DuckDB // floors.
_MOD_CONTRIB = sdiv_expr(
    "(4 * mm.m * intra_edges - degree_sum * degree_sum) * 1000000",
    "4 * mm.m * mm.m",
    "//",
)


@query(
    _NEARDUP_CC_CTES
    + _LP_CTES
    + f"""
    , mtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    bi2 AS (
        SELECT id_a AS u FROM pairs
        UNION ALL SELECT id_b FROM pairs
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
            FROM bi2 GROUP BY u),
    nstat AS (
        SELECT n2.node, n2.label, COALESCE(deg.deg, 0) AS deg
        FROM n2 LEFT JOIN deg ON n2.node = deg.u
    ),
    comm AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(deg) AS BIGINT) AS degree_sum
        FROM nstat GROUP BY label
    ),
    intra AS (
        SELECT la.label, CAST(COUNT(*) AS BIGINT) AS intra_edges
        FROM pairs p
        JOIN n2 la ON p.id_a = la.node
        JOIN n2 lb ON p.id_b = lb.node
        WHERE la.label = lb.label
        GROUP BY la.label
    )
    SELECT c.label, c.n_nodes,
           CAST(c.intra_edges AS BIGINT) AS intra_edges,
           c.degree_sum,
           CAST({_MOD_CONTRIB} AS BIGINT) AS contrib_micro
    FROM (
        SELECT comm.label, comm.n_nodes, comm.degree_sum,
               COALESCE(i.intra_edges, 0) AS intra_edges
        FROM comm LEFT JOIN intra i USING (label)
        WHERE comm.degree_sum > 0
    ) c, mtot mm
"""
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities over the
    near-dup pair graph — the quality score for the partition the graph
    family produces but never grades: q_label_propagation RELEASES
    communities, this query answers "are they better than chance?"
    (Newman & Girvan 2004). Q = Σ_c [e_c/m − (d_c/2m)²]; per-community
    contribution reported as (4·m·e_c − d_c²)·10⁶ div 4m² — ONE
    signed integer division at the end, routed through the shared
    sign-split sdiv_expr because a worse-than-chance community has a
    NEGATIVE contribution (Spark DIV truncates, DuckDB // floors; they
    agree only on non-negatives). Same 2-round LP labels as
    q_label_propagation (the oracle reuses that query's exact CTE
    chain), same materialized LSH pair graph. Zero-degree singleton
    communities contribute exactly 0 and are filtered — the table
    reads as the real community decision list.

    Scale shape: LP's per-round joins key on node; degrees are one
    partial-aggregated groupBy over the doubled edge list; intra-edge
    counts join the bounded label table to the pair list twice (hash
    joins on id); m enters as a 1-row broadcast aggregate."""
    from telecom_competitor_analysis_spark.operators.graph import (
        label_propagation,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    nodes = docs.select(
        F.col("doc_id").alias("node"),
        F.col("doc_id").cast("long").alias("label"),
    )
    # r12 optimization (guide §5): the label table feeds THREE
    # consumers (node_stats, the id_a leg, the id_b leg) and its
    # lineage is the 2-round LP join chain — the before plan
    # re-derived it per reference (68 parquet scans). Two ints per
    # node; persist so LP runs once per action.
    labels = label_propagation(nodes, edges, rounds=2).persist()

    m_df = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    both = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    node_stats = labels.join(
        deg, labels["node"] == deg["u"], "left"
    ).select(
        "node", "label", F.coalesce(F.col("deg"), F.lit(0)).alias("deg")
    )
    comm = node_stats.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("degree_sum"),
    )
    la = labels.select(
        F.col("node").alias("id_a"), F.col("label").alias("label_a")
    )
    lb = labels.select(
        F.col("node").alias("id_b"), F.col("label").alias("label_b")
    )
    intra = (
        pairs.select("id_a", "id_b")
        .join(la, on="id_a")
        .join(lb, on="id_b")
        .filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    contrib = sdiv_expr(
        "(4 * m * intra_edges - degree_sum * degree_sum) * 1000000",
        "4 * m * m",
        "DIV",
    )
    return (
        comm.join(intra, on="label", how="left")
        .withColumn(
            "intra_edges", F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long")
        )
        .filter(F.col("degree_sum") > 0)
        .crossJoin(F.broadcast(m_df))
        .select(
            "label",
            "n_nodes",
            "intra_edges",
            "degree_sum",
            F.expr(f"CAST({contrib} AS BIGINT)").alias("contrib_micro"),
        )
    )
