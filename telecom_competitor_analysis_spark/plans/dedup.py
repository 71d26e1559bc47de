"""Exact and near-duplicate detection: content digests, MinHash/LSH,
SimHash, shingle Jaccard and containment, connected-component clusters
over the materialized pair graph, span dedup and LSH quality audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.text import (
    doc_fingerprint,
    exact_fingerprint,
    words,
)
from telecom_competitor_analysis_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_est_pairs,
    minhash_signature,
    positional_ngrams,
    shingle_jaccard_pairs,
    shingle_rows,
    simhash,
)
from telecom_competitor_analysis_spark.plans.artifacts import _materialized
from telecom_competitor_analysis_spark.plans.registry import query, rows_only
from telecom_competitor_analysis_spark.sources.readers import load_table


def _materialized_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents near-dup pair graph (MinHash 4-hash / 2-band LSH) as
    a materialized table — the single shared input of q_dedup_clusters,
    q_canonical_docs and q_pagerank's graph construction."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        sig = minhash_signature(docs, "doc_id", "text", n_hashes=4)
        pairs = lsh_candidate_pairs(sig, "doc_id", n_hashes=4, bands=2)
        pairs.write.mode("overwrite").parquet(f"{path}/pairs")

    path = _materialized(spark, sf_dir, "lsh_pairs_h4b2", "documents", build)
    return spark.read.parquet(f"{path}/pairs")


@query("""
        SELECT
            md5(trim(text)) AS content_hash,
            MIN(doc_id) AS keeper_id,
            COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content digest (hash-groupBy; the shuffle key
    is the 32-byte digest, never the document body)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


# CCNet paragraph dedup (q_paragraph_dedup): the oracle
# uses the row_number-window form — answer-identical to the engine's
# skew-safe min-struct aggregate (the struct ordering (doc_id,
# para_idx) IS the window's ORDER BY, and (doc_id, para_idx) is
# unique per hash group).
@query("""
        WITH base AS (
            SELECT doc_id, string_split(trim(text), ' ') AS ws
            FROM documents
        ),
        idx AS (
            SELECT doc_id, ws,
                   UNNEST(generate_series(
                       0, CAST(ceil(len(ws) / 15.0) AS INT) - 1
                   )) AS para_idx
            FROM base
        ),
        paras AS (
            SELECT doc_id, para_idx,
                   array_to_string(
                       list_slice(ws, para_idx * 15 + 1, para_idx * 15 + 15),
                       ' '
                   ) AS para_text
            FROM idx
        ),
        marked AS (
            SELECT *, row_number() OVER (
                PARTITION BY md5(para_text) ORDER BY doc_id, para_idx
            ) AS rn
            FROM paras
        )
        SELECT doc_id,
               COUNT(*)::BIGINT AS n_paras,
               SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_dup_paras,
               string_agg(CASE WHEN rn = 1 THEN para_text END, ' '
                          ORDER BY para_idx) AS scrubbed_text
        FROM marked GROUP BY doc_id
    """)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup: first occurrence of each
    paragraph hash wins, documents are reassembled from the paragraphs
    they own (operators/dedup.py::paragraph_dedup — skew-safe
    min-struct aggregate, never a window over the paragraph hash)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        paragraph_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, "doc_id", "text", w=15)


@query("""
        WITH t AS (
            SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
        ),
        sh AS (
            SELECT DISTINCT
                t.doc_id,
                arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS word
            FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
        )
        SELECT
            doc_id,
            MIN(md5(word || '#0')) AS h0,
            MIN(md5(word || '#1')) AS h1,
            MIN(md5(word || '#2')) AS h2,
            MIN(md5(word || '#3')) AS h3
        FROM sh
        GROUP BY doc_id
    """)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 hashes) over distinct words — portable
    hex-string min (same md5 both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signature(docs, "doc_id", "text", n_hashes=4)


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
        -- mega-bucket cap (mirrors lsh_candidate_pairs max_bucket_size)
        ok AS (
            SELECT band_idx, band_key FROM banded
            GROUP BY 1, 2 HAVING COUNT(*) <= 1000
        ),
        banded_ok AS (
            SELECT banded.* FROM banded JOIN ok USING (band_idx, band_key)
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded_ok a
        JOIN banded_ok b
          ON a.band_idx = b.band_idx
         AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    """)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs from banded MinHash signatures (2 bands × 2
    rows). Pair volume ∝ Σ bucket² — never O(n²) over the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", n_hashes=4)
    return lsh_candidate_pairs(sig, "doc_id", n_hashes=4, bands=2)


# Asymmetric containment pairs (q_containment_pairs):
# same df-capped shingle universe as q_ngram_jaccard, containment
# gate instead of the Jaccard gate.
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
        sh AS (
            SELECT sh_all.* FROM sh_all
            JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
              USING (sh)
        ),
        sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ),
        shared AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM sh a
            JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT id_a, id_b, n_shared,
                   sa.n_sh AS n_a, sb.n_sh AS n_b,
                   greatest(
                       CAST(n_shared AS DOUBLE) / sa.n_sh,
                       CAST(n_shared AS DOUBLE) / sb.n_sh
                   ) AS containment
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
        )
        SELECT id_a, id_b, n_shared, n_a, n_b, containment,
               CASE WHEN n_a <= n_b THEN 'a_in_b' ELSE 'b_in_a' END
                   AS direction
        FROM scored
        WHERE containment >= 0.6
    """)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle CONTAINMENT
    max(|A∩B|/|A|, |A∩B|/|B|) ≥ 0.6 — catches a short document quoted
    or embedded inside a longer one, which symmetric Jaccard misses
    (|A∩B|/|A∪B| stays small when |B| ≫ |A|). Same df-capped distinct
    3-shingle universe as q_ngram_jaccard; candidates come from the
    CONTAINMENT PREFIX FILTER (Xiao et al. WWW'08 §5,
    operators/setsim.py::containment_prefix_candidates): the smaller
    set's rare-first prefix joined against full posting lists — a
    provably lossless strict subset of the ungated any-shared-token
    join this query used before (the brute-force oracle re-proves
    losslessness on every run, the q_setsim_join pattern), so at scale
    recall never depends on the df-cap tuning constant alone. Verify
    is exact array_intersect on per-doc sorted shingle arrays;
    containment is ONE double division of exact integer set sizes —
    bit-identical cross-engine. `direction` names the contained side
    (the smaller shingle set)."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
        shingle_rows,
    )
    from telecom_competitor_analysis_spark.operators.setsim import (
        containment_prefix_candidates,
        rank_token_sets,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r13 (guide §2.4 — fewer passes over one exchange): ONE
    # groupBy(word).collect_set(id) computes the distinct AND the
    # document frequency (collect_set dedupes ids per word by
    # construction). The Exchange count is UNCHANGED at 4 — Spark
    # already shared the word exchange between the old distinct and
    # the df window (hashpartitioning on a subset key satisfies the
    # grouping distribution) — the win is collapsing the two-phase
    # distinct aggregate + the windowed count pass into one aggregate
    # over that exchange: ranked-stage A/B 2.03/1.57 -> 1.68/1.43 s
    # (two interleaved rounds), row-identical at sf0.1 (260,388 rows
    # both ways). Shingles with df > 1000 leave the universe BEFORE sizes
    # are counted, exactly as the oracle defines it; a hot shingle's
    # posting list lands in one aggregate row — the identical
    # distribution the window partition had — and is dropped before
    # any pairing.
    raw = shingle_rows(ensure_parallelism(docs), "doc_id", "text", 3).select(
        F.col("doc_id").alias("id"), "word"
    )
    toks = (
        raw.groupBy("word")
        .agg(F.collect_set("id").alias("__ids"))
        .withColumn("df", F.size("__ids"))
        .filter(F.col("df") <= F.lit(1000))
        .select("word", "df", F.explode("__ids").alias("id"))
        .select("id", "word", "df")
    )
    # checkpointed: the candidate join reads it on both sides and the
    # verify legs twice more; measured 7.33 → 5.07 s (without → with)
    # on 4 cores at sf0.1 (NOTES.md)
    ranked = rank_token_sets(toks).localCheckpoint(eager=True)
    cand = containment_prefix_candidates(ranked, 60)
    # exact verify on the SURVIVORS only (positional filtering leaves
    # few): per-doc sorted shingle arrays from the same checkpointed
    # frame, n_shared = array_intersect size. (A join-back count that
    # re-probes the posting table was measured 2× slower at ×10 — it
    # shuffles the 2.6M-row posting frame twice, where the array
    # collect is ONE groupBy and the pair joins broadcast the
    # doc-count-sized array table.)
    arrays = ranked.groupBy("id").agg(
        F.array_sort(F.collect_list("word")).alias("arr")
    )
    cont = F.greatest(
        F.col("n_shared").cast("double") / F.col("n_a"),
        F.col("n_shared").cast("double") / F.col("n_b"),
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
            .alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .withColumn("containment", cont)
        .filter(F.col("containment") >= 0.6)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_a",
            "n_b",
            "containment",
            F.when(F.col("n_a") <= F.col("n_b"), F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
    )


_SIMHASH_BITS = " || ".join(
    f"(CASE WHEN s{i} >= 0 THEN '1' ELSE '0' END)" for i in range(16)
)


_SIMHASH_SUMS = ",\n            ".join(
    "SUM(CASE WHEN substr(wh, {i}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{j}".format(
        i=i + 1, j=i
    )
    for i in range(16)
)


@query(f"""
        WITH tokens AS (
            SELECT doc_id, md5(w) AS wh
            FROM (
                SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
                FROM documents
            )
        ),
        sums AS (
            SELECT
                doc_id,
                {_SIMHASH_SUMS}
            FROM tokens
            GROUP BY doc_id
        )
        SELECT doc_id, {_SIMHASH_BITS} AS simhash
        FROM sums
    """)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (md5-nibble hyperplanes, exact integer
    bit sums → reproducible)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", 16)


_HAMMING_16 = " + ".join(
    f"(CASE WHEN substr(sa, {i + 1}, 1) != substr(sb, {i + 1}, 1) "
    "THEN 1 ELSE 0 END)"
    for i in range(16)
)


@query(f"""
    WITH tokens AS (
        SELECT doc_id, md5(w) AS wh
        FROM (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        )
    ),
    sums AS (
        SELECT
            doc_id,
            {_SIMHASH_SUMS}
        FROM tokens
        GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {_SIMHASH_BITS} AS simhash FROM sums),
    banded AS (
        SELECT doc_id, simhash, 0 AS band_idx,
               substr(simhash, 1, 8) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, simhash, 1 AS band_idx,
               substr(simhash, 9, 8) AS band_key FROM sig
    ),
    -- mega-bucket cap (mirrors simhash_candidate_pairs max_bucket_size)
    ok AS (
        SELECT band_idx, band_key FROM banded
        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 1000
    ),
    b2 AS (SELECT banded.* FROM banded JOIN ok USING (band_idx, band_key)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sa,
                        b.doc_id AS id_b, b.simhash AS sb
        FROM b2 a
        JOIN b2 b ON a.band_idx = b.band_idx
                 AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST({_HAMMING_16} AS INT) AS hamming
    FROM cand
    WHERE {_HAMMING_16} <= 1
""")
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 2-band bucketing over the 16-bit signature
    (pigeonhole-complete for hamming ≤ 1) + exact hamming verify on
    candidates only — the SimHash twin of the MinHash-LSH pair path."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(
        simhash(docs, "doc_id", "text", 16), "doc_id"
    )


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
        -- document-frequency cap (mirrors shingle_jaccard_pairs max_df)
        sh AS (
            SELECT sh_all.* FROM sh_all
            JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 1000)
              USING (sh)
        ),
        sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ),
        shared AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM sh a
            JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT
            id_a,
            id_b,
            n_shared,
            sa.n_sh AS n_a,
            sb.n_sh AS n_b,
            CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.2
    """)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-word-shingle Jaccard ≥ 0.2; candidates
    from an inverted-index join on shingles (only colliding docs pair)."""
    docs = load_table(spark, sf_dir, "documents")
    return shingle_jaccard_pairs(docs, "doc_id", "text", w=3, threshold=0.2)


_SIMHASH64_TOKENS = """
        SELECT doc_id, md5(w) || md5(w || '#1') AS wh
        FROM (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        )
"""


_SIMHASH64_BITS = " || ".join(
    f"(CASE WHEN s{i} >= 0 THEN '1' ELSE '0' END)" for i in range(64)
)


# q_simhash64 — 64-bit signature: per-word nibble source is
# md5(w) || md5(w || '#1') (64 hex chars), bit i = sign of the summed ±1
# high-bits of nibble i (operators/dedup.py::simhash).
_SIMHASH64_SUMS = ",\n            ".join(
    "SUM(CASE WHEN substr(wh, {i}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{j}".format(
        i=i + 1, j=i
    )
    for i in range(64)
)


@query(f"""
    WITH tokens AS ({_SIMHASH64_TOKENS}),
    sums AS (
        SELECT
            doc_id,
            {_SIMHASH64_SUMS}
        FROM tokens
        GROUP BY doc_id
    )
    SELECT doc_id, {_SIMHASH64_BITS} AS simhash
    FROM sums
""")
def q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures — the production width (16-bit saturates
    at ~65k distinct signatures on a large corpus). Same exact-integer-sum
    construction as the 16-bit variant, two md5 calls per word."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", 64)


_HAMMING64 = " + ".join(
    f"(CASE WHEN substr(sig_a, {i + 1}, 1) != "
    f"substr(sig_b, {i + 1}, 1) THEN 1 ELSE 0 END)"
    for i in range(64)
)


@query(f"""
    WITH tokens AS ({_SIMHASH64_TOKENS}),
    sums AS (
        SELECT
            doc_id,
            {_SIMHASH64_SUMS}
        FROM tokens
        GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id, {_SIMHASH64_BITS} AS simhash FROM sums
    ),
    banded AS (
        SELECT doc_id, simhash, b.band_idx,
               substr(simhash, b.band_idx * 16 + 1, 16) AS band_key
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
    ),
    ok AS (
        SELECT band_idx, band_key FROM banded
        GROUP BY 1, 2 HAVING COUNT(*) <= 1000
    ),
    banded_ok AS (
        SELECT banded.* FROM banded JOIN ok USING (band_idx, band_key)
    ),
    cand AS (
        SELECT DISTINCT
            a.doc_id AS id_a, a.simhash AS sig_a,
            b.doc_id AS id_b, b.simhash AS sig_b
        FROM banded_ok a
        JOIN banded_ok b
          ON a.band_idx = b.band_idx
         AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming
    FROM (
        SELECT id_a, id_b,
               CAST({_HAMMING64} AS INT) AS hamming
        FROM cand
    )
    WHERE hamming <= 3
""")
def q_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs: 4-band bucketing (pigeonhole-complete
    for hamming ≤ 3) + exact hamming verify on candidates only. The
    production-width twin of q_simhash_pairs."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(
        simhash(docs, "doc_id", "text", 64),
        "doc_id",
        bands=4,
        max_hamming=3,
        sig_bits=64,
    )


# q_minhash_jaccard_est — signature-agreement Jaccard estimate for the
# MinHash-LSH candidate pairs (fraction of the 4 components that agree).
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
    )
    SELECT
        p.id_a,
        p.id_b,
        CAST((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
           + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) AS DOUBLE) / 4.0
            AS est_jaccard
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
""")
def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard ESTIMATION for the LSH candidate pairs:
    est = fraction of the 4 MinHash components that agree (the property
    LSH banding exploits). At 100 TB this replaces the exact
    shingle-set intersection on candidates — signature agreement is O(k)
    per pair on 4 hex strings, no second pass over the documents. The
    bucket explode carries the signatures, so the estimate is map-side —
    no join back to the signature table."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        minhash_est_pairs,
    )

    sig = minhash_signature(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_hashes=4
    )
    return minhash_est_pairs(sig, "doc_id", n_hashes=4, bands=2)


@query("""
        SELECT
            doc_id,
            md5(trim(text)) AS exact_fp,
            md5(array_to_string(
                list_sort(list_distinct(string_split(trim(text), ' '))), ' '))
                AS content_fp
        FROM documents
    """)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: byte-exact md5 + order-invariant content
    hash (sorted distinct word set)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        exact_fingerprint(F.col("text")).alias("exact_fp"),
        doc_fingerprint(F.col("text")).alias("content_fp"),
    )


@rows_only
def q_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-library alternative: pyspark.ml.feature.MinHashLSH over a
    HashingTF shingle vector (rows-only: the ML hash family is seeded
    JVM-side, not oracle-reproducible). Kept alongside the native
    implementation to show both the hand-rolled portable path (q_minhash)
    and the library path; approxSimilarityJoin is the built-in candidate
    generator."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from telecom_competitor_analysis_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        shingle_rows(docs, "doc_id", "text", 3)
        .groupBy("doc_id")
        .agg(F.collect_list("word").alias("shingles"))
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.8, distCol="jaccard_dist")
    return pairs.filter(
        F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
    ).select(
        F.col("datasetA.doc_id").alias("id_a"),
        F.col("datasetB.doc_id").alias("id_b"),
        F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
    )


# q_dedup_clusters — connected components over the MinHash-LSH pair graph
# (operators/dedup.py:346 min-label propagation). The recursive CTE
# propagates a label along an edge only when it is smaller than the target
# node: the component-minimum label satisfies that on every path, so each
# node's MIN(label) is exactly the component minimum, while larger labels
# are pruned instead of enumerating all |component|² pairs.
# Shared component-labeling CTE chain (shingles → MinHash signature →
# banded LSH pairs → recursive connected components): the single
# definition composed by BOTH q_dedup_clusters and q_leakage_safe_split
# (r7 review: the split oracle previously carved this out of the
# clusters oracle by string surgery — a cosmetic edit there would have
# produced invalid SQL far from the edit site).
_NEARDUP_CC_CTES = """
    WITH RECURSIVE t AS (
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
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    cc(id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, cc.label
        FROM cc JOIN edges e ON cc.id = e.src
        WHERE cc.label < e.dst
    )"""


@query(
    _NEARDUP_CC_CTES
    + """
    SELECT id, MIN(label) AS cluster_id
    FROM cc
    GROUP BY id
"""
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup connected components (min-label propagation with pointer
    doubling over the MinHash-LSH pair graph). ORACLE-CHECKED since
    round 4 via a DuckDB recursive CTE computing the exact component
    minimum — the Spark loop must fully converge (it raises if not), and
    behavior is additionally pinned by tests/test_dedup.py on planted
    clusters and a 13-hop chain. Since r6 the pair graph arrives as a
    MATERIALIZED table (_materialized_lsh_pairs) shared with
    q_canonical_docs — at scale the graph is built once, not per
    consumer."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    return dedup_clusters(pairs, docs.select("doc_id"), "doc_id")


# q_canonical_docs — same cluster CTE as q_dedup_clusters, then keep-best
# (quality = word count, ties -> lowest id) per cluster.
@query("""
    WITH RECURSIVE t AS (
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
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    cc(id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, cc.label
        FROM cc JOIN edges e ON cc.id = e.src
        WHERE cc.label < e.dst
    ),
    cl AS (
        SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id
    ),
    q AS (
        SELECT doc_id AS id,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS qual
        FROM documents
    ),
    j AS (
        SELECT
            cl.cluster_id,
            cl.id,
            q.qual,
            row_number() OVER (
                PARTITION BY cl.cluster_id
                ORDER BY q.qual DESC, cl.id ASC
            ) AS rn,
            COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
        FROM cl JOIN q USING (id)
    )
    SELECT
        cluster_id,
        id AS keeper_id,
        qual AS keeper_quality,
        CAST(n_members AS BIGINT) AS n_members
    FROM j
    WHERE rn = 1
""")
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best canonical selection per near-dup cluster
    (operators/curate.py::canonical_per_cluster): clusters from the
    MinHash-LSH pair graph, quality = word count, keeper =
    highest-quality member (ties → lowest id). The refinement of min-id
    dedup: train on the best copy of each near-identical group, not the
    accidental first. The pair graph is the SAME materialized table
    q_dedup_clusters consumes (_materialized_lsh_pairs) — built once,
    read here (r5 VERDICT: no inline signature→pairs recompute)."""
    from telecom_competitor_analysis_spark.operators.curate import (
        canonical_per_cluster,
    )
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    clusters = dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    quality = docs.select(
        "doc_id",
        F.size(words(F.trim(F.col("text")))).cast("long").alias("n_words"),
    )
    return canonical_per_cluster(clusters, quality, "doc_id", "n_words")


# Exact-substring duplication diagnostic (q_dup_span_stats):
# 3-gram positions, df >= 2 across distinct docs, gaps-and-islands merge
# of overlapping [pos, pos+2] spans. Positions are 0-based in Spark
# (posexplode) vs 1-based generate_series here — the i-1 keeps them equal.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    grams AS (
        SELECT
            t.doc_id,
            i - 1 AS pos,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS gram
        FROM t, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    df_tbl AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
        GROUP BY gram HAVING COUNT(*) >= 2
    ),
    dup_occ AS (
        SELECT grams.doc_id, grams.pos, grams.pos + 2 AS e
        FROM grams JOIN df_tbl USING (gram)
    ),
    flagged AS (
        SELECT
            doc_id,
            pos,
            e,
            CASE WHEN prev_max_end IS NULL OR pos > prev_max_end
                 THEN 1 ELSE 0 END AS new_island
        FROM (
            SELECT
                doc_id, pos, e,
                MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) AS prev_max_end
            FROM dup_occ
        )
    ),
    islands AS (
        SELECT
            doc_id, pos, e,
            SUM(new_island) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS UNBOUNDED PRECEDING
            ) AS island
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e
        FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT
            doc_id,
            COUNT(*) AS n_dup_spans,
            SUM(e - s + 1) AS dup_tokens
        FROM spans GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, len(string_split(trim(text), ' '))::BIGINT AS total_tokens
        FROM documents
    )
    SELECT
        totals.doc_id,
        COALESCE(per_doc.n_dup_spans, 0)::BIGINT AS n_dup_spans,
        COALESCE(per_doc.dup_tokens, 0)::BIGINT AS dup_tokens,
        totals.total_tokens,
        round(COALESCE(per_doc.dup_tokens, 0)::DOUBLE / totals.total_tokens, 6)
            AS dup_fraction
    FROM totals LEFT JOIN per_doc USING (doc_id)
""")
def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication measurement (the RefinedWeb /
    Gopher 'exact substring dedup' diagnostic): per document, the
    merged token spans covered by 3-gram shingles that also occur in
    at least one OTHER document, reported as span count / duplicated
    tokens / duplicated fraction. The per-doc signal that decides
    between dropping a doc and cutting the boilerplate out of it.

    Shape: 3-grams with their positions (``positional_ngrams``: two
    leads on the SAME doc_id window) → document frequency over
    distinct (doc, gram) pairs (partial-agg; the |vocab| table joins
    back 1:1 per occurrence, so no posting-list explosion anywhere) →
    classic gaps-and-islands merge of overlapping [pos, pos+2]
    intervals (running MAX of prior span ends, island = cumsum of gap
    flags) — all on ONE doc_id exchange shared by every window pass."""
    docs = load_table(spark, sf_dir, "documents")
    grams = positional_ngrams(docs, "doc_id", "text", n=3)
    df_tbl = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
    )
    dup_occ = grams.join(df_tbl, on="gram").select(
        "doc_id", "pos", (F.col("pos") + F.lit(2)).alias("end")
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        dup_occ.withColumn("prev_max_end", F.max("end").over(w_run))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("pos") > F.col("prev_max_end")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(w_cum))
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    totals = docs.select(
        "doc_id",
        F.size(words(F.trim(F.col("text")))).cast("long").alias(
            "total_tokens"
        ),
    )
    return totals.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias(
            "n_dup_spans"
        ),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
            "dup_tokens"
        ),
        "total_tokens",
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
            / F.col("total_tokens"),
            6,
        ).alias("dup_fraction"),
    )


# Positional 3-gram CTE chain (toks → lead-window grams → guard
# filter): the single definition composed by BOTH positional-gram
# oracles below — mirrors operators/dedup.py::positional_ngrams (r7
# review: was copy-pasted per oracle).
_POSITIONAL_GRAMS_CTES = """
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split(trim(text), ' ')) AS w,
               UNNEST(range(len(string_split(trim(text), ' ')))) AS pos
        FROM documents
    ),
    grams AS (
        SELECT doc_id, pos,
               w || ' ' || lead(w, 1) OVER win || ' '
                 || lead(w, 2) OVER win AS gram,
               lead(w, 2) OVER win AS guard
        FROM toks
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    g AS (SELECT doc_id, pos, gram FROM grams WHERE guard IS NOT NULL)"""


# Exact-substring duplicate removal (q_dup_span_remove):
# cut every position covered by a df>=2 3-gram, rebuild, sha256.
@query(_POSITIONAL_GRAMS_CTES + """,
    df_tbl AS (
        SELECT gram FROM (
            SELECT gram, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, gram FROM g)
            GROUP BY gram
        ) WHERE df >= 2
    ),
    covered AS (
        SELECT DISTINCT doc_id,
               UNNEST(generate_series(pos, pos + 2)) AS cpos
        FROM g JOIN df_tbl USING (gram)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.w
        FROM toks t LEFT JOIN covered c
          ON c.doc_id = t.doc_id AND c.cpos = t.pos
        WHERE c.doc_id IS NULL
    ),
    rebuilt AS (
        SELECT doc_id,
               COUNT(*)::BIGINT AS kept_tokens,
               string_agg(w, ' ' ORDER BY pos) AS cleaned
        FROM kept GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS total_tokens
        FROM documents
    )
    SELECT t.doc_id,
           t.total_tokens,
           COALESCE(r.kept_tokens, 0)::BIGINT AS kept_tokens,
           (t.total_tokens - COALESCE(r.kept_tokens, 0))::BIGINT
               AS removed_tokens,
           sha256(COALESCE(r.cleaned, '')) AS cleaned_sha
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
""")
def q_dup_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate REMOVAL (Lee et al. 2021,
    arXiv:2107.06499 — 'deduplicating training data makes language
    models better'): the action counterpart of q_dup_span_stats' audit.
    Every token position covered by a 3-gram that also occurs in
    another document is cut; the surviving tokens are re-joined in
    order and the cleaned text is reported as a sha256 digest (content-
    exact for the oracle without hauling full bodies through the
    result) plus kept/removed counts.

    Scale shape: the gram/document-frequency stages are
    q_dup_span_stats' (df ≥ 2 over distinct (doc, gram) pairs — the
    |vocab| table joins back 1:1 per occurrence, no posting-list
    explosion); covered positions come from a bounded per-occurrence
    sequence explode (≤3 rows each) deduped on (doc_id, pos) — partial-
    agg on the same doc_id-prefixed key; the cut is an ANTI join of the
    token stream against that set; reassembly is one array_sort over a
    per-doc collect_list (bounded by doc length — the same per-doc
    state bound as q_sequence_pack). Every shuffle is keyed by doc_id
    or a doc_id-prefixed composite."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(words(F.trim(F.col("text")))).alias("pos", "w"),
    )
    grams = positional_ngrams(docs, "doc_id", "text", n=3)
    df_tbl = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
    )
    covered = (
        grams.join(df_tbl, on="gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(2))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, on=["doc_id", "pos"], how="left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
        ).alias("__cleaned"),
    )
    totals = docs.select(
        "doc_id",
        F.size(words(F.trim(F.col("text")))).cast("long").alias(
            "total_tokens"
        ),
    )
    return totals.join(rebuilt, on="doc_id", how="left").select(
        "doc_id",
        "total_tokens",
        F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias(
            "kept_tokens"
        ),
        (
            F.col("total_tokens")
            - F.coalesce(F.col("kept_tokens"), F.lit(0))
        ).cast("long").alias("removed_tokens"),
        F.sha2(F.coalesce(F.col("__cleaned"), F.lit("")), 256).alias(
            "cleaned_sha"
        ),
    )


# q_setsim_join (q_setsim_join) — BRUTE-FORCE mirror of the
# prefix-filtered set-similarity join: same stopword-pruned word sets
# (df*5 <= n_docs), but candidates from ANY shared token (complete by
# construction since Jaccard > 0 requires a shared token). A green row
# therefore PROVES the Spark side's prefix filter lossless on this
# corpus. Integer-exact threshold: 2*|inter| >= |union| (t = 0.5).
@query("""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY word),
    keep AS (
        SELECT t.doc_id, t.word
        FROM tok t JOIN df USING (word), n
        WHERE df.df * 5 <= n.n_docs AND df.df <= 1000
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM keep GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter_size
        FROM keep a JOIN keep b ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter_size,
           sa.sz + sb.sz - inter_size AS union_size,
           CAST(inter_size * 1000000 // (sa.sz + sb.sz - inter_size)
                AS BIGINT) AS jaccard_micro
    FROM inter
    JOIN sz sa ON inter.doc_a = sa.doc_id
    JOIN sz sb ON inter.doc_b = sb.doc_id
    WHERE 2 * inter_size >= sa.sz + sb.sz - inter_size
""")
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (the PPJoin family,
    Xiao et al. WWW'08) — the third classic near-dup candidate
    strategy next to the banded families (MinHash-LSH / SimHash):
    EXACT, no hashing, zero false negatives. Pairs of documents whose
    stopword-pruned word sets (df·5 ≤ N AND df ≤ 1000 — ubiquitous
    tokens carry no similarity signal, and the ABSOLUTE cap bounds each
    token's df²/2 candidates independent of corpus size; the relative
    cap alone is Θ(N²) on a token at the cap — measured ×10 blow-up) have Jaccard ≥ 0.5, via operators/setsim.py:
    candidates come from an equi-join on each set's rare-first PREFIX
    (sz - ceil(t·sz) + 1 tokens), a provably sufficient subset.

    The oracle is the BRUTE-FORCE any-shared-token form over the same
    pruned sets, so a green row proves the prefix filter lossless on
    this corpus — the candidate set the operator actually joins is
    strictly smaller (prefix tokens only, rarest first).

    Scale: df-count shuffle + doc window + prefix equi-join + verify
    against per-doc arrays; all keyed on doc_id or word. Hot prefix
    tokens can only arise from genuinely near-equal document groups,
    whose pairs all verify — candidate volume is output-bound, not
    corpus-bound. Thresholds are integer-exact (2·|∩| ≥ |∪|)."""
    from telecom_competitor_analysis_spark.operators.setsim import (
        prefix_filter_pairs,
        pruned_token_sets,
    )

    docs = load_table(spark, sf_dir, "documents")
    sets = pruned_token_sets(
        docs, "doc_id", words(F.trim(F.col("text"))), max_df_frac=0.2,
        max_df_abs=1000,
    )
    return prefix_filter_pairs(sets, threshold_pct=50).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "inter_size",
        "union_size",
        "jaccard_micro",
    )


# q_dup_rate_by_domain (q_dup_rate_by_domain) — reuses the
# shared LSH pair CTE chain (the cc CTE goes unreferenced and is never
# evaluated); dup_ppm is floor division on non-negative operands in
# both engines. DISTINCT-over-UNION-ALL, not bare UNION: inside a
# WITH RECURSIVE chain DuckDB does NOT set-dedup a bare UNION in a
# non-self-referencing CTE (measured — endpoints came back with
# multiplicity and inflated the LEFT JOIN), so the dedup is explicit.
@query(
    _NEARDUP_CC_CTES
    + """
    , dup AS (
        SELECT DISTINCT doc_id FROM (
            SELECT id_a AS doc_id FROM pairs
            UNION ALL
            SELECT id_b AS doc_id FROM pairs
        )
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(dup.doc_id) AS BIGINT) AS n_dup_docs,
           CAST(COUNT(dup.doc_id) * 1000000 // COUNT(*) AS BIGINT)
               AS dup_ppm
    FROM documents d LEFT JOIN dup USING (doc_id)
    GROUP BY d.source
"""
)
def q_dup_rate_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate per source domain — the curation
    observability readout that tells you WHICH crawl sources are
    flooding the corpus with near-dups (RefinedWeb-style source
    triage). Consumes the shared MATERIALIZED near-dup pair graph
    (_materialized_lsh_pairs — built once, fifth consumer), so the
    per-source rollup costs one distinct over pair endpoints plus one
    doc_id join: nothing is re-signed or re-banded here. dup_ppm is
    exact integer millionths (floor division — both engines floor on
    non-negative operands)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        docs.join(dup_ids, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("__dup").cast("long").alias("n_dup_docs"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("CAST(n_dup_docs * 1000000 DIV n_docs AS BIGINT)"),
        )
    )


# LSH dedup recall S-curve (q_lsh_recall): the exact-pair
# and banded-candidate oracles composed verbatim as CTEs; deciles and
# recall are pure integer arithmetic.
@query(f"""
    WITH exact AS (
        SELECT id_a, id_b,
               CAST(n_shared * 10 // (n_a + n_b - n_shared) AS INT)
                   AS jac_decile
        FROM ({q_ngram_jaccard.oracle})
    ),
    cand AS (
        SELECT id_a, id_b, 1 AS c
        FROM ({q_minhash_lsh_pairs.oracle})
    )
    SELECT jac_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(COALESCE(c, 0)) AS BIGINT) AS n_caught,
           CAST(SUM(COALESCE(c, 0)) * 1000000 // COUNT(*) AS BIGINT)
               AS recall_micro
    FROM exact LEFT JOIN cand USING (id_a, id_b)
    GROUP BY jac_decile
""")
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded MinHash-LSH candidate generator against the
    exact shingle-Jaccard pairs, BY JACCARD DECILE — the measured LSH
    S-curve (Leskovec/Rajaraman/Ullman ch.3), and the missing recall
    twin of the dedup path (q_ann_recall / q_pq_recall /
    q_ann_recall_filtered cover every ANN path; this covers LSH dedup):
    high-jaccard deciles must approach recall 1, the low tail shows
    what the banding scheme intentionally forgoes — the number that
    says whether (n_hashes, bands) fits the dedup threshold BEFORE a
    100 TB run quietly under-dedups. Deciles are exact integer
    arithmetic (n_shared·10 div union), recall in integer micro — no
    FP boundary anywhere.

    Scale shape: both legs are the bounded-candidate operators
    themselves (df-capped inverted-index exact pairs; bucket-capped
    banded candidates); the recall join keys on the exact-pair set,
    already threshold-bounded, and the rollup has ≤ 9 groups."""
    docs = load_table(spark, sf_dir, "documents")
    exact = shingle_jaccard_pairs(docs, "doc_id", "text", w=3,
                                  threshold=0.2)
    sig = minhash_signature(docs, "doc_id", "text", n_hashes=4)
    cand = lsh_candidate_pairs(sig, "doc_id", n_hashes=4, bands=2).select(
        "id_a", "id_b", F.lit(1).alias("__c")
    )
    j = exact.select(
        "id_a",
        "id_b",
        F.expr(
            "CAST(n_shared * 10 DIV (n_a + n_b - n_shared) AS INT)"
        ).alias("jac_decile"),
    ).join(cand, on=["id_a", "id_b"], how="left")
    return j.groupBy("jac_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.coalesce(F.col("__c"), F.lit(0)))
        .cast("long")
        .alias("n_caught"),
        F.expr(
            "CAST(SUM(COALESCE(__c, 0)) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("recall_micro"),
    )


# LSH band health (q_lsh_band_stats): the banded CTE chain
# is the q_minhash_lsh_pairs oracle's, stopped at bucket sizes — no
# pair is ever materialized, matching the Spark side's two bounded
# aggregates over banded_signatures.
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
        SELECT doc_id, 0 AS band_idx, md5(h0 || '|' || h1) AS band_key
        FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_idx, md5(h2 || '|' || h3) AS band_key
        FROM sig
    ),
    bsz AS (
        SELECT band_idx, band_key, COUNT(*) AS bucket_size
        FROM banded GROUP BY 1, 2
    )
    SELECT CAST(band_idx AS INT) AS band_idx,
           CAST(bucket_size AS BIGINT) AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) * bucket_size * (bucket_size - 1) // 2 AS BIGINT)
               AS cand_pairs
    FROM bsz GROUP BY band_idx, bucket_size
""")
def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-health report — the bucket-size distribution per band
    plus the candidate-pair volume each size class would emit
    (n_buckets · s(s−1)/2): the number that says whether the banding
    scheme is healthy BEFORE paying for the pair explode (the
    q_ivf_bucket_stats twin for MinHash-LSH, and the observable form
    of lsh_candidate_pairs' Σ bucket² cost model — one mega-bucket
    here = the max_bucket_size cap earning its keep). Uses the SAME
    banding stage as the pair generator (operators/dedup.py::
    banded_signatures), so the report audits exactly what runs. Scale
    shape: signature groupBy, band explode (×bands), two bounded
    aggregates — never a pair materialized."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        banded_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", n_hashes=4)
    banded = banded_signatures(sig, "doc_id", n_hashes=4, bands=2)
    bsz = banded.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return bsz.groupBy("band_idx", "bucket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr(
            "CAST(COUNT(1) * bucket_size * (bucket_size - 1) DIV 2"
            " AS BIGINT)"
        ).alias("cand_pairs"),
    ).select(
        F.col("band_idx").cast("int").alias("band_idx"),
        F.col("bucket_size").cast("long").alias("bucket_size"),
        "n_buckets",
        "cand_pairs",
    )


# URL canonicalization + URL-keyed dedup (q_url_dedup):
# the synthetic raw URL and every canonicalization step mirror
# functions/urls.py verbatim (RE2-safe patterns so Java regex and
# DuckDB agree; list_sort == array_sort on plain strings).
@query(r"""
    WITH u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
               || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
               || source || '.Example.COM'
               || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
               || '/catalog/item-' || CAST(doc_id % 40 AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
               || '?utm_source=feed' || CAST(doc_id % 5 AS VARCHAR)
               || '&id=' || CAST(doc_id % 100 AS VARCHAR)
               || '#sec-' || CAST(doc_id % 7 AS VARCHAR) AS raw_url
        FROM documents
    ),
    s1 AS (
        SELECT doc_id, raw_url,
               regexp_replace(raw_url, '#.*', '') AS nf
        FROM u
    ),
    s2 AS (
        SELECT *,
               lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                   AS scheme,
               regexp_replace(
                   lower(regexp_extract(
                       nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                   '^www\.', '') AS host0,
               regexp_replace(
                   regexp_extract(
                       nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                   '/+$', '') AS path0,
               regexp_extract(nf, '\?([^#]*)', 1) AS qs
        FROM s1
    ),
    s3 AS (
        SELECT doc_id, raw_url, scheme,
               CASE WHEN scheme = 'https'
                        THEN regexp_replace(host0, ':443$', '')
                    WHEN scheme = 'http'
                        THEN regexp_replace(host0, ':80$', '')
                    ELSE host0 END AS host,
               CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
               array_to_string(
                   list_sort(list_filter(
                       string_split(qs, '&'),
                       p -> p <> '' AND NOT regexp_matches(
                           p, '^(utm_[^=]*|ref|fbclid|gclid)='))),
                   '&') AS kq
        FROM s2
    ),
    canon AS (
        SELECT doc_id, raw_url, host,
               scheme || '://' || host || path
               || (CASE WHEN kq = '' THEN '' ELSE '?' || kq END)
                   AS canonical_url
        FROM s3
    )
    SELECT host, canonical_url,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_raw_variants
    FROM canon
    GROUP BY 1, 2
""")
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup after canonicalization (functions/urls.py) — the
    FIRST dedup stage of every crawl pipeline: the same page arrives
    under case/fragment/tracking-param/port variants, and collapsing
    them costs one narrow projection plus one groupBy on the canonical
    key (no content is ever read, unlike every content-hash dedup
    downstream). The reference fetches fixed per-site URLs
    (dags/viking_class_scraper.py:80-96) so it never meets this; a
    100 TB crawl corpus starts here.

    Each doc carries a deterministic synthetic crawl URL (mixed-case
    scheme/host, optional www./default-port, trailing slash, utm
    tracking noise, fragment — all derived from doc_id so the oracle
    rebuilds them bit-identically); canonicalization must collapse the
    variants onto (source, item, id) keys. Returns per canonical URL:
    host, the keeper (lowest doc_id — the crawl's first fetch), the
    collapsed doc count, and how many distinct raw variants it absorbed.

    Scale shape: canonicalize is a zero-exchange per-row projection;
    the single shuffle is the groupBy on the canonical key — exactly
    the dedup key, partial-aggregable map-side (min/count/distinct-raw
    collapse before the exchange)."""
    from telecom_competitor_analysis_spark.functions.urls import (
        canonicalize_url,
        url_host,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.when(did % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/catalog/item-"),
        (did % 40).cast("string"),
        F.when(did % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed"),
        (did % 5).cast("string"),
        F.lit("&id="),
        (did % 100).cast("string"),
        F.lit("#sec-"),
        (did % 7).cast("string"),
    )
    u = docs.select(
        did.alias("doc_id"),
        raw.alias("raw_url"),
    )
    c = u.select(
        "doc_id",
        "raw_url",
        url_host(F.col("raw_url")).alias("host"),
        canonicalize_url(F.col("raw_url")).alias("canonical_url"),
    )
    return c.groupBy("host", "canonical_url").agg(
        F.min("doc_id").cast("long").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("raw_url").cast("long").alias("n_raw_variants"),
    )


# LSH banding S-curve on controlled mutations
# (q_mutation_recall): mutation period, shingle sets, the
# md5 minhash family and band keys all mirror the Spark in-row forms
# verbatim; list_min on md5 hex strings == array_min (both
# lexicographic on lowercase hex).
@query("""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(text), ' ') AS arr,
               CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 2 WHEN 1 THEN 4
                    WHEN 2 THEN 8 WHEN 3 THEN 16 WHEN 4 THEN 32
                    ELSE 64 END AS per
        FROM documents
    ),
    m AS (
        SELECT doc_id, arr,
               list_transform(
                   generate_series(1, len(arr)),
                   i -> CASE WHEN i % per = 0 THEN arr[i] || '~'
                             ELSE arr[i] END) AS mut
        FROM t
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN len(arr) >= 3 THEN list_distinct(list_transform(
                   generate_series(1, len(arr) - 2),
                   i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]))
                   ELSE CAST([] AS VARCHAR[]) END AS sa,
               CASE WHEN len(mut) >= 3 THEN list_distinct(list_transform(
                   generate_series(1, len(mut) - 2),
                   i -> mut[i] || ' ' || mut[i + 1] || ' ' || mut[i + 2]))
                   ELSE CAST([] AS VARCHAR[]) END AS sb
        FROM m
    ),
    k AS (
        SELECT doc_id,
               len(list_intersect(sa, sb)) AS inter,
               len(sa) + len(sb) - len(list_intersect(sa, sb)) AS uni,
               md5(list_min(list_transform(sa, x -> md5(x || '#0'))) || '|'
                   || list_min(list_transform(sa, x -> md5(x || '#1'))))
                   AS a0,
               md5(list_min(list_transform(sa, x -> md5(x || '#2'))) || '|'
                   || list_min(list_transform(sa, x -> md5(x || '#3'))))
                   AS a1,
               md5(list_min(list_transform(sb, x -> md5(x || '#0'))) || '|'
                   || list_min(list_transform(sb, x -> md5(x || '#1'))))
                   AS b0,
               md5(list_min(list_transform(sb, x -> md5(x || '#2'))) || '|'
                   || list_min(list_transform(sb, x -> md5(x || '#3'))))
                   AS b1
        FROM s
    ),
    c AS (
        SELECT CAST(inter * 10 // uni AS INT) AS jac_decile,
               CASE WHEN a0 = b0 OR a1 = b1 THEN 1 ELSE 0 END AS caught
        FROM k WHERE uni > 0
    )
    SELECT jac_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST(SUM(caught) * 1000000 // COUNT(*) AS BIGINT)
               AS recall_micro
    FROM c GROUP BY jac_decile
""")
def q_mutation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve measured on CONTROLLED mutations — the
    mid-Jaccard fixture the corpus-pair q_lsh_recall can't provide (its
    planted dups are near-identical, so only the 0.9+ decile gets
    data): every doc is paired with a deterministically mutated twin
    (every p-th word tagged, p = 2^(1 + doc_id%6) ∈ {2..64}, so exact
    pair Jaccard sweeps ~0 → ~0.95 across the corpus), and each pair
    is checked against the PRODUCTION banding function — same
    ``md5(sh||'#k')`` MinHash family, 4 hashes × 2 bands, as
    minhash_signature/lsh_candidate_pairs — giving the measured
    P(candidate | Jaccard) everywhere on the curve, not just its top
    decile. This is the knob-fitting readout: whether (n_hashes,
    bands) matches the dedup threshold BEFORE a 100 TB run quietly
    under- or over-dedups.

    Integer-exact throughout (Jaccard deciles via shingle-set
    intersection counts, recall in micro units).

    Scale shape: the measurement is PAIR-FREE — each (doc, twin) pair
    exists per-row by construction, so there is no candidate join
    anywhere; everything is the codegen'd shingle_rows single window
    pass (per side) followed by partial-aggregable groupBys on
    (doc, gram) / (doc, side) / doc keys and the ≤ 10-group rollup.
    An in-row HOF formulation (mutation, shingle sets, all 8 minhash
    values inside one projection) was tried first and abandoned: it
    measured 2-20× slower — interpreted lambda evaluation, and
    multiplicative re-evaluation wherever the optimizer re-inlined the
    array expressions (the same lesson operators/dedup.py::shingle_rows
    records). Contrast with q_lsh_recall, which measures the deployed
    generator end-to-end (bucket caps included) but only where the
    corpus provides pairs."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    per = F.expr(
        "CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 2 WHEN 1 THEN 4"
        " WHEN 2 THEN 8 WHEN 3 THEN 16 WHEN 4 THEN 32 ELSE 64 END"
    )
    ws = F.split(F.trim(F.col("text")), " ")
    mut = F.transform(
        ws,
        lambda w, i: F.when((i + 1) % per == 0, F.concat(w, F.lit("~"))).otherwise(w),
    )
    # the two corpus sides, keyed by sid = doc_id*2 + side (side 1 = twin)
    two = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("side"), F.col("text").alias("t")),
                F.struct(
                    F.lit(1).alias("side"),
                    F.array_join(mut, " ").alias("t"),
                ),
            )
        ).alias("s"),
    ).select(
        (F.col("doc_id") * 2 + F.col("s.side")).alias("sid"),
        F.col("s.t").alias("t"),
    )
    sh = (
        shingle_rows(two, "sid", "t", w=3)
        .select("sid", F.col("word").alias("sh"))
        .distinct()
    )
    keyed = sh.select(
        F.expr("sid DIV 2").alias("doc_id"),
        (F.col("sid") % 2).alias("side"),
        "sh",
    )
    # exact pair Jaccard: per-gram side presence, then a per-doc rollup
    gram = keyed.groupBy("doc_id", "sh").agg(
        F.max((F.col("side") == 0).cast("int")).alias("ha"),
        F.max((F.col("side") == 1).cast("int")).alias("hb"),
    )
    # r12 optimization (guide §2.4/§1.2 algorithm-first): the before
    # plan re-derived the whole shingle pipeline for the signature
    # branch (keyed consumed by gram AND by a second groupBy(doc, side)
    # signature agg) and joined the two per-doc rollups back. Both
    # rollups are folds over the SAME (doc, gram, side-presence) frame:
    # the per-side MinHash min over side-s shingles is exactly
    # min(when(h<s> = 1, md5(sh||'#k'))), so ONE groupBy(doc_id)
    # computes the Jaccard counts AND both sides' signatures — one
    # shingle pass, no join, NULL-for-empty-side semantics unchanged
    # (no side-s rows → min over empty = NULL, as the absent
    # (doc, side) group was before).
    def _h(k):
        return F.md5(F.concat(F.col("sh"), F.lit(f"#{k}")))

    wide = gram.groupBy("doc_id").agg(
        F.sum(F.col("ha") * F.col("hb")).alias("inter"),
        F.sum("ha").alias("sz_a"),
        F.sum("hb").alias("sz_b"),
        *[
            F.min(F.when(F.col("ha") == 1, _h(k))).alias(f"ah{k}")
            for k in range(4)
        ],
        *[
            F.min(F.when(F.col("hb") == 1, _h(k))).alias(f"th{k}")
            for k in range(4)
        ],
    )
    pairs = (
        wide.select(
            F.col("inter"),
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).alias("uni"),
            (
                (
                    F.md5(F.concat("ah0", F.lit("|"), "ah1"))
                    == F.md5(F.concat("th0", F.lit("|"), "th1"))
                )
                | (
                    F.md5(F.concat("ah2", F.lit("|"), "ah3"))
                    == F.md5(F.concat("th2", F.lit("|"), "th3"))
                )
            ).alias("caught"),
        )
        .filter(F.col("uni") > 0)
    )
    return (
        pairs.withColumn(
            "jac_decile", F.expr("CAST(inter * 10 DIV uni AS INT)")
        )
        .groupBy("jac_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("caught").cast("int")).cast("long").alias("n_caught"),
            F.expr(
                "CAST(SUM(CAST(caught AS INT)) * 1000000 DIV COUNT(1)"
                " AS BIGINT)"
            ).alias("recall_micro"),
        )
    )


# Content-defined chunking (q_cdc_chunks): boundary = word
# whose md5 first nibble is '0'; chunk id = running boundary count of
# STRICTLY PRECEDING words; fingerprint = md5 of the space-joined chunk.
@query("""
    WITH t AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    toks AS (
        SELECT doc_id, i AS pos, arr[i] AS w
        FROM t, unnest(generate_series(1, len(arr))) AS s(i)
    ),
    fl AS (
        SELECT doc_id, pos, w,
               CASE WHEN substring(md5(w), 1, 1) = '0' THEN 1 ELSE 0 END
                   AS b
        FROM toks
    ),
    ch AS (
        SELECT doc_id, pos, w,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) - b
                   AS chunk_idx
        FROM fl
    ),
    chunks AS (
        SELECT doc_id, chunk_idx,
               md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash,
               COUNT(*)::BIGINT AS len_words
        FROM ch GROUP BY 1, 2
    )
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*)::BIGINT AS n_occurrences,
           CAST(MIN(len_words) AS BIGINT) AS len_words
    FROM chunks GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 2
""")
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the Rabin/FastCDC idea at word
    granularity): a chunk boundary is set by CONTENT — a word whose
    md5 first hex nibble is '0' closes its chunk (P = 1/16, expected
    chunk length 16 words) — never by position, so inserting or
    deleting a sentence shifts NO other chunk boundary and shared
    chunks between edited near-duplicates still fingerprint
    identically. This is the failure mode positional shingle schemes
    pay for with banding; CDC gets shift-robustness for free. Emits
    chunk fingerprints shared by ≥ 2 documents with occurrence stats
    (the dedup-candidate feed).

    Scale shape: boundary flags are map-side; the running chunk index
    is a doc-partitioned window (doc-bounded buffer — the documented
    per-doc law); fingerprints aggregate on (doc, chunk) reusing the
    tokenizer's doc-keyed exchange, then on the 16-byte digest. NO pair
    stage anywhere — sharing is a groupBy on the digest, which is what
    makes CDC the cheapest near-dup screen in the funnel."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(words(F.trim(F.col("text")))).alias("pos", "w"),
    )
    bflag = (
        F.when(F.substring(F.md5(F.col("w")), 1, 1) == "0", 1)
        .otherwise(0)
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    chunked = toks.select(
        "doc_id",
        "pos",
        "w",
        (F.sum(bflag).over(wnd) - bflag).alias("chunk_idx"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct("pos", "w"))
                ).getField("w"),
            )
        ).alias("chunk_hash"),
        F.count(F.lit(1)).cast("long").alias("len_words"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("len_words").cast("long").alias("len_words"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def edit_sim_expr(div: str) -> str:
    """Normalized edit similarity in integer micro, ONE shared text per
    engine (`div` = 'DIV' for Spark, '//' for DuckDB — both truncate
    toward zero): (max_len − levenshtein) · 1e6 div max_len, with the
    empty-vs-empty pair pinned to 1e6 (identical). Both engines'
    levenshtein is the unit-cost character edit distance."""
    return (
        "CASE WHEN greatest(la, lb) = 0 THEN 1000000"
        " ELSE (greatest(la, lb) - levenshtein(ta, tb)) * 1000000"
        f" {div} greatest(la, lb) END"
    )


# Edit-distance near-dup verify (q_edit_distance_pairs):
# LSH candidates joined to texts, length-bound pruned, scored by the
# shared integer edit-similarity text (edit_sim_expr — '//' here, 'DIV'
# there). levenshtein() is the unit-cost character edit distance in
# both engines.
@query(f"""
    WITH lsh AS ({q_minhash_lsh_pairs.oracle}),
    tt AS (
        SELECT doc_id, trim(text) AS t, length(trim(text)) AS ln
        FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
        SELECT
            l.id_a, l.id_b,
            CAST(levenshtein(ta, tb) AS BIGINT) AS dist,
            CAST({edit_sim_expr("//")} AS BIGINT) AS sim_micro
        FROM (
            SELECT lsh.id_a, lsh.id_b,
                   a.t AS ta, a.ln AS la, b.t AS tb, b.ln AS lb
            FROM lsh
            JOIN tt a ON a.doc_id = lsh.id_a
            JOIN tt b ON b.doc_id = lsh.id_b
            WHERE 2 * abs(a.ln - b.ln) <= greatest(a.ln, b.ln)
        ) l
    )
    SELECT id_a, id_b, dist, sim_micro
    FROM scored WHERE sim_micro >= 500000
""")
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: the materialized MinHash-LSH
    candidate graph VERIFIED by normalized Levenshtein similarity — the
    edit-distance dedup modality (the classic fuzzy-dedup verify for
    short/templated text, where token-set Jaccard is blind to character
    noise: 'v1.2.3' vs 'v1.2.4' is one edit but a whole shingle). The
    eighth consumer of the ONE materialized pair table — candidates are
    never recomputed, and no all-pairs stage exists anywhere.

    Two lossless prunes run BEFORE the O(len²) distance:
    (1) both texts non-null (levenshtein(NULL,·) is NULL in both
    engines); (2) the length bound — levenshtein ≥ |len_a − len_b|, so
    a pair can reach sim ≥ 0.5 only if 2·|la−lb| ≤ max(la,lb); the
    filter is a pure column predicate that kills hopeless pairs at
    join-output speed. Production adds Spark's banded
    levenshtein(l, r, threshold) (O(d·len) early-exit DP) — not used
    here because DuckDB has no threshold form and the oracle must run
    the identical function.

    Returns (id_a, id_b, dist, sim_micro) for sim ≥ 0.5; sim is the
    shared integer text edit_sim_expr (micro units, exact in both
    engines)."""
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    t = docs.select(
        "doc_id",
        F.trim(F.col("text")).alias("t"),
        F.length(F.trim(F.col("text"))).cast("long").alias("ln"),
    )
    j = (
        pairs.join(
            t.select(
                F.col("doc_id").alias("id_a"),
                F.col("t").alias("ta"),
                F.col("ln").alias("la"),
            ),
            on="id_a",
        )
        .join(
            t.select(
                F.col("doc_id").alias("id_b"),
                F.col("t").alias("tb"),
                F.col("ln").alias("lb"),
            ),
            on="id_b",
        )
        .filter(
            F.expr("2 * abs(la - lb) <= greatest(la, lb)")
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("ta"), F.col("tb"))
            .cast("long")
            .alias("dist"),
            F.expr(edit_sim_expr("DIV")).cast("long").alias("sim_micro"),
        )
    )
    return j.filter(F.col("sim_micro") >= 500000)


def band_tuning_grid() -> list[tuple[int, int, int, int]]:
    """(bands, rows_per_band, jaccard_bin, p_candidate_micro) for every
    split of H = 16 MinHash components × every decile bin a
    threshold-0.2 exact pair can land in. P(candidate | s) =
    1 − (1 − s^r)^b evaluated at the bin's center similarity — computed
    ONCE here in Python and inlined as literals into BOTH engines (the
    POISSON1_HEX / IDCG10_MICRO convention: the transcendental pow
    never runs inside either engine, so there is no FP boundary)."""
    grid = []
    for b, r in ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)):
        for jbin in range(2, 11):
            s = min(jbin / 10.0 + 0.05, 1.0)
            p = 1.0 - (1.0 - s**r) ** b
            grid.append((b, r, jbin, int(p * 1_000_000 + 0.5)))
    return grid


# LSH band tuning (q_band_tuning): observed Jaccard decile
# mass × Python-precomputed S-curve literals (band_tuning_grid — the
# pow never runs in either engine).
_BAND_GRID_VALUES = ",\n        ".join(
    f"({b}, {r}, {jbin}, {p})" for b, r, jbin, p in band_tuning_grid()
)


@query(f"""
    WITH exact AS (
        SELECT n_shared, n_a, n_b FROM ({q_ngram_jaccard.oracle})
    ),
    obs AS (
        SELECT CAST(n_shared * 10 // (n_a + n_b - n_shared) AS INT)
                   AS jbin,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM exact GROUP BY 1
    ),
    grid(bands, rows_per_band, jbin, p_micro) AS (VALUES
        {_BAND_GRID_VALUES}
    )
    SELECT CAST(bands AS INT) AS bands,
           CAST(rows_per_band AS INT) AS rows_per_band,
           CAST(SUM(n_pairs * p_micro) // SUM(n_pairs) AS BIGINT)
               AS expected_recall_micro,
           CAST(SUM(n_pairs) AS BIGINT) AS n_pairs_total,
           (CAST(SUM(n_pairs * p_micro) // SUM(n_pairs) AS BIGINT)
                >= 900000) AS meets_90_target
    FROM obs JOIN grid USING (jbin)
    GROUP BY 1, 2
""")
def q_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven LSH banding knob choice — the S-curve
    (Leskovec/Rajaraman/Ullman ch.3) evaluated against the corpus's OWN
    observed similarity mass, completing the statistics-driven-knob
    family (jobs/sizing.py sizes IVF; q_lsh_recall measures one
    banding's realized recall; this PICKS the banding before a run):
    exact threshold-0.2 pairs are binned by integer Jaccard decile
    (n_shared·10 div union — exact, no FP), and every (bands, rows) split
    of a 16-component signature is scored by its expected candidate
    recall Σ n_pairs(bin)·P(candidate|s_bin) / Σ n_pairs, with the
    S-curve probabilities Python-precomputed and inlined
    (band_tuning_grid) so neither engine runs pow.

    Returns one row per split: (bands, rows_per_band,
    expected_recall_micro, n_pairs_total, meets_90_target) — the
    smallest band count whose expected recall clears 0.9 is the knob a
    100 TB dedup run would pick; fewer bands = proportionally less
    signature shuffle volume.

    Scale shape: the exact-pair leg is the bounded df-capped
    inverted-index operator; the grid is a 45-row broadcast; the rollup
    has ≤ 5 groups."""
    docs = load_table(spark, sf_dir, "documents")
    exact = shingle_jaccard_pairs(
        docs, "doc_id", "text", w=3, threshold=0.2
    )
    obs = (
        exact.select(
            F.expr(
                "CAST(n_shared * 10 DIV (n_a + n_b - n_shared) AS INT)"
            ).alias("jbin")
        )
        .groupBy("jbin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    grid = spark.createDataFrame(
        band_tuning_grid(),
        "bands INT, rows_per_band INT, jbin INT, p_micro BIGINT",
    )
    return (
        obs.join(F.broadcast(grid), on="jbin")
        .groupBy("bands", "rows_per_band")
        .agg(
            F.expr(
                "CAST(SUM(n_pairs * p_micro) DIV SUM(n_pairs) AS BIGINT)"
            ).alias("expected_recall_micro"),
            F.sum("n_pairs").cast("long").alias("n_pairs_total"),
        )
        .select(
            "bands",
            "rows_per_band",
            "expected_recall_micro",
            "n_pairs_total",
            (F.col("expected_recall_micro") >= 900000).alias(
                "meets_90_target"
            ),
        )
    )


FRAME_WINDOW_CHARS = 32


# Frame-level dedup (q_frame_dedup): the q_frame_sample
# frame stream (frame count from byte length, sampled every 2nd index),
# fingerprint = md5 of the 32-char content window at the frame's
# offset, blank windows screened; digest groups of >= 2.
@query("""
    WITH media AS (
        SELECT doc_id AS media_id, text, strlen(text) AS byte_len
        FROM documents
    ),
    frames AS (
        SELECT media_id, text, CAST(f AS BIGINT) AS frame_idx
        FROM media,
             unnest(generate_series(
                 0, CAST(1 + byte_len % 8 AS BIGINT) - 1, 2)) AS t(f)
    ),
    fp AS (
        SELECT media_id,
               md5(substr(text, CAST(frame_idx * 32 + 1 AS INT), 32))
                   AS fingerprint
        FROM frames
        WHERE substr(text, CAST(frame_idx * 32 + 1 AS INT), 32) != ''
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_media,
           CAST(MIN(media_id) AS BIGINT) AS keeper_media
    FROM fp GROUP BY fingerprint HAVING COUNT(*) >= 2
""")
def q_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level dedup over the sampled frame stream — the multimodal
    twin of exact text dedup: before any (expensive, stubbed-here)
    decode/feature pass, frames whose CONTENT fingerprint collides are
    collapsed so each unique frame is decoded once (the
    dedup-before-decode economics of video corpora, where near-dup
    clips dominate). Composes the existing stack: as_media_table →
    with_frame_count (header-derived frame count, no decode) →
    frame_sample (every 2nd index) → fingerprint = md5 of the frame's
    content window (frame i owns the FRAME_WINDOW_CHARS-character
    window at offset i·W — the fixed-stride layout real containers use
    for byte ranges, played on the character payload so the oracle is
    SQL-expressible like q_frame_sample). Blank windows (frame index
    beyond the payload) are screened out — the blank-frame hygiene
    filter, and also what keeps the md5('') mega-group from ever
    existing.

    Returns per shared fingerprint (n ≥ 2): (fingerprint, n_frames,
    n_media, keeper_media) — keeper = lowest media id, the
    exact_dedup_groups rule. Scale shape: one explode bounded by 4
    frames/doc, one join back to the payload keyed on the media id, one
    partial-aggregable digest groupBy — NO pair stage (the q_cdc_chunks
    shape at frame granularity)."""
    from telecom_competitor_analysis_spark.operators.multimodal import (
        as_media_table,
        frame_sample,
        with_frame_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = as_media_table(docs, "doc_id", "text")
    frames = frame_sample(with_frame_count(media), every_nth=2)
    w = FRAME_WINDOW_CHARS
    payload = docs.select(
        F.col("doc_id").alias("media_id"), F.col("text").alias("__t")
    )
    fp = (
        frames.join(payload, on="media_id")
        .select(
            "media_id",
            F.expr(
                f"substring(__t, CAST(frame_idx * {w} + 1 AS INT), {w})"
            ).alias("__win"),
        )
        .filter(F.col("__win") != "")
        .select("media_id", F.md5(F.col("__win")).alias("fingerprint"))
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.countDistinct("media_id").cast("long").alias("n_media"),
            F.min("media_id").cast("long").alias("keeper_media"),
        )
        .filter(F.col("n_frames") >= 2)
    )


# Candidate precision per signature-agreement quartile
# (q_candidate_precision): candidates = the
# q_minhash_lsh_pairs set; agreement = count of equal MinHash
# components (exact — round(est*4) on the Spark side is the same
# integer); truth = the threshold-0.2 exact pair set. MATERIALIZED:
# the candidate and signature subqueries are multi-referenced.
@query(f"""
    WITH cand AS MATERIALIZED ({q_minhash_lsh_pairs.oracle}),
    t2 AS (
        SELECT doc_id, string_split(trim(text), ' ') AS arr FROM documents
    ),
    sh2 AS (
        SELECT DISTINCT
            t2.doc_id,
            arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS word
        FROM t2, unnest(generate_series(1, len(arr) - 2)) AS g(i)
    ),
    sig2 AS MATERIALIZED (
        SELECT
            doc_id,
            MIN(md5(word || '#0')) AS h0,
            MIN(md5(word || '#1')) AS h1,
            MIN(md5(word || '#2')) AS h2,
            MIN(md5(word || '#3')) AS h3
        FROM sh2 GROUP BY doc_id
    ),
    truth AS MATERIALIZED (
        SELECT id_a, id_b, 1 AS tr FROM ({q_ngram_jaccard.oracle})
    ),
    est AS (
        SELECT c.id_a, c.id_b,
               CAST((a.h0 = b.h0)::INT + (a.h1 = b.h1)::INT
                    + (a.h2 = b.h2)::INT + (a.h3 = b.h3)::INT AS INT)
                   AS agree_quarters
        FROM cand c
        JOIN sig2 a ON a.doc_id = c.id_a
        JOIN sig2 b ON b.doc_id = c.id_b
    )
    SELECT agree_quarters,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(COALESCE(tr, 0)) AS BIGINT) AS n_true_pairs,
           CAST(SUM(COALESCE(tr, 0)) * 1000000 // COUNT(*) AS BIGINT)
               AS precision_micro
    FROM est LEFT JOIN truth USING (id_a, id_b)
    GROUP BY agree_quarters
""")
def q_candidate_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate PRECISION of the banded MinHash-LSH generator — the
    missing twin of q_lsh_recall (recall says which true pairs the
    candidates caught; precision says what fraction of candidate volume
    was worth verifying — the number that prices the verify stage at
    100 TB, where every wasted candidate is a wasted exact-Jaccard
    evaluation). Candidates carry their signature-agreement estimate
    (minhash_est_pairs — est = k/4 agreeing components, computed
    map-side in the bucket explode, no join-back), so precision is
    reported PER agreement quartile: the estimator's own S-curve,
    measured.

    All-integer: the quartile is round(est·4) (est is an exact multiple
    of 1/4 — k=4 components), truth = membership in the exact
    threshold-0.2 pair set (the q_lsh_recall convention, df-capped
    universe pinned by that oracle). Scale shape: both legs are the
    bounded candidate/inverted-index operators; the truth join keys on
    the pair; ≤ 5 output rows."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", n_hashes=4)
    cand = minhash_est_pairs(sig, "doc_id", n_hashes=4, bands=2).select(
        "id_a",
        "id_b",
        F.round(F.col("est_jaccard") * 4)
        .cast("int")
        .alias("agree_quarters"),
    )
    exact = shingle_jaccard_pairs(
        docs, "doc_id", "text", w=3, threshold=0.2
    ).select("id_a", "id_b", F.lit(1).alias("__true"))
    return (
        cand.join(exact, ["id_a", "id_b"], "left")
        .groupBy("agree_quarters")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce(F.col("__true"), F.lit(0)))
            .cast("long")
            .alias("n_true_pairs"),
            F.expr(
                "CAST(SUM(COALESCE(__true, 0)) * 1000000"
                " DIV COUNT(1) AS BIGINT)"
            ).alias("precision_micro"),
        )
    )


# q_cluster_chaining (q_cluster_chaining): per multi-node
# CC cluster, LSH edge count vs the complete graph — the transitive
# chaining audit. Reuses the shared CC chain.
@query(
    _NEARDUP_CC_CTES
    + """
    , lab AS MATERIALIZED (
        SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id
    ),
    clus AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM lab GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    edgec AS (
        SELECT la.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM pairs p JOIN lab la ON p.id_a = la.id
        GROUP BY 1
    )
    SELECT c.cluster_id, c.n_nodes,
           CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges,
           CAST(c.n_nodes * (c.n_nodes - 1) // 2 AS BIGINT)
               AS possible_pairs,
           CAST(COALESCE(e.n_edges, 0) * 2000000
                // (c.n_nodes * (c.n_nodes - 1)) AS BIGINT)
               AS density_micro,
           COALESCE(e.n_edges, 0) * 2 < c.n_nodes * (c.n_nodes - 1)
               AS chained
    FROM clus c LEFT JOIN edgec e USING (cluster_id)
"""
)
def q_cluster_chaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-chaining audit of connected-component dedup — the
    known failure mode of CC-based near-dup clustering (a merges b, b
    merges c, a and c share nothing — the cluster 'chained' through an
    intermediate; MinHashLSH + CC pipelines ship this hazard silently):
    for every multi-node cluster of q_dedup_clusters' components, the
    edge density against the complete graph. density = 1 means every
    member pair was an actual LSH candidate (tight cluster — safe to
    keep one member); density < 1 flags clusters glued by transitivity,
    where keep-one-per-cluster may delete non-duplicates. The decision
    table a dedup rollout reads before choosing cluster-level vs
    pair-level action.

    Scale shape: components and the pair graph are the shared
    materialized inputs; per-cluster stats are one groupBy over the
    label table and one label-join over the pair list — everything
    keys on id or cluster_id."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _materialized_lsh_pairs(spark, sf_dir)
    lab = dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    clus = (
        lab.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .filter(F.col("n_nodes") >= 2)
    )
    edges = (
        pairs.select("id_a")
        .join(lab, pairs["id_a"] == lab["id"])
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    return (
        clus.join(edges, on="cluster_id", how="left")
        .select(
            "cluster_id",
            "n_nodes",
            F.coalesce(F.col("n_edges"), F.lit(0))
            .cast("long")
            .alias("n_edges"),
            F.expr(
                "CAST(n_nodes * (n_nodes - 1) DIV 2 AS BIGINT)"
            ).alias("possible_pairs"),
            F.expr(
                "CAST(COALESCE(n_edges, 0) * 2000000"
                " DIV (n_nodes * (n_nodes - 1)) AS BIGINT)"
            ).alias("density_micro"),
            F.expr(
                "COALESCE(n_edges, 0) * 2 < n_nodes * (n_nodes - 1)"
            ).alias("chained"),
        )
    )
