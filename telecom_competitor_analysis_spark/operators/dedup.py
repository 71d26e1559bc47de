"""Deduplication operators for the training-data extension surface
(BASELINE.json north star; PAPERS.md themes): exact, MinHash(+LSH),
SimHash, and shingle-Jaccard near-dup.

Scale design (the point of each formulation):

- **exact**: hash-groupBy on a content digest — one shuffle keyed by the
  digest, never by the full text; the keeper choice (min doc_id) is a
  deterministic tie-break.
- **MinHash**: signatures are per-doc aggregates over exploded shingles —
  map-side partial min() makes the shuffle carry one row per (doc, nothing)
  not per token. Min is taken over md5 *hex strings* (lexicographic min of
  a fixed-width hex == min of the underlying 128-bit integer), which keeps
  the hash portable across engines (same md5 in Spark / DuckDB / anywhere).
- **LSH**: band key = hash of a signature slice; candidate pairs come from
  one bucket-pairing stage shared by the MinHash and SimHash variants —
  pair generation is proportional to bucket sizes, never O(n²) over the
  corpus.
- **SimHash**: 16- or 64-bit signature from md5-nibble high bits; exact
  integer sums per bit → order-independent, reproducible.
- **shingle Jaccard**: inverted-index join on shingles (w-word windows) —
  candidate pairs only where shingles actually collide; exact Jaccard
  confirmed on candidates only (the verify step after LSH in the classic
  pipeline).

All pure DataFrame ops — no UDFs, everything whole-stage-codegen'd.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.text import words
from telecom_competitor_analysis_spark.sources.readers import read_parquet


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small inputs arrive as one parquet split, serializing the
    compute-heavy shingle/hash stages onto one core (measured: 9.7s → ~1s
    for the minhash signature at sf0.1). Round-robin repartition up to the
    session's parallelism when the scan is under-split; a well-split scan
    (every large input on a cluster) is returned unchanged. The split
    count comes from ``df.rdd.getNumPartitions()``, an analysis of the
    plan that runs no job."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup: group by md5 digest, keep min(id) as keeper, count the
    group. Emits one row per distinct content."""
    return (
        df.withColumn("content_hash", F.md5(F.trim(F.col(text_col))))
        .groupBy("content_hash")
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def positional_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, pos, gram) rows: every n-word window of a document with its
    START POSITION. The ONE n-gram stage behind every shingle and
    positional consumer (``shingle_rows``, phrase retrieval,
    duplicate-span audit/removal) — change the gram shape HERE and every
    consumer plus its oracle CTE constant follows.

    posexplode + lead window: the codegen'd formulation (a
    higher-order-function variant over the word array allocated heavily
    and ran 2-6× slower with GC-driven variance), a single window pass
    whose doc-id partitioning is reused by any downstream per-doc
    groupBy (no second shuffle)."""
    win = Window.partitionBy(id_col).orderBy("pos")
    toks = df.select(
        F.col(id_col),
        F.posexplode(words(F.trim(F.col(text_col)))).alias("pos", "w"),
    )
    parts = ["w"] + [F.lead("w", j).over(win) for j in range(1, n)]
    guard = F.lead("w", n - 1).over(win)
    return (
        toks.select(
            F.col(id_col),
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            guard.alias("__guard"),
        )
        .filter(F.col("__guard").isNotNull())
        .drop("__guard")
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, w: int = 3
) -> DataFrame:
    """(id, word) rows, one per w-word shingle: ``positional_ngrams``
    without the position."""
    return positional_ngrams(df, id_col, text_col, w).select(
        id_col, F.col("gram").alias("word")
    )


def shingle_postings(
    df: DataFrame, id_col: str, text_col: str, w: int = 3, id_name: str = "id"
) -> DataFrame:
    """Distinct (``id_name``, sh) rows, one per document and w-word
    shingle — the posting set every inverted-index consumer of the
    shingle family starts from. The under-split guard
    (``ensure_parallelism``) sits here, in front of the compute-heavy
    shingle window."""
    return (
        shingle_rows(ensure_parallelism(df), id_col, text_col, w)
        .select(F.col(id_col).alias(id_name), F.col("word").alias("sh"))
        .distinct()
    )


def df_cap(
    postings: DataFrame, token: str, max_df: int, keep_df: bool = False
) -> DataFrame:
    """The rows of the distinct (id, ``token``) posting set whose token
    has document frequency ``df <= max_df`` — the ONE document-frequency
    cap (stopword filter, the CCNet/SlimPajama hygiene step) of the
    shingle and token-set families. ``keep_df`` keeps the count as
    column ``df`` for consumers that order or filter on it.

    A window count over partitionBy(token): ONE shuffle on the token —
    the key the inverted-index join hashes on, so the partitioning is
    produced once and reused — where a groupBy + join-back re-runs the
    tokenization for the count side (measured 2.4× slower at sf0.1,
    and the slowest form again on 4 cores). A hot token's rows land in
    one window partition, the distribution the join itself would have
    had; the window buffer spills, unlike a ``collect_set`` aggregation
    buffer, and the filter drops them before any pairing (NOTES.md,
    "One df cap")."""
    df_col = "df" if keep_df else "__df"
    capped = postings.withColumn(
        df_col, F.count(F.lit(1)).over(Window.partitionBy(token))
    ).filter(F.col(df_col) <= F.lit(max_df))
    return capped if keep_df else capped.drop(df_col)


def jaccard_pairs(
    shared: DataFrame, sizes_a: DataFrame, sizes_b: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, n_shared, n_a, n_b, jaccard) rows of the shared
    counts ``shared`` (id_a, id_b, n_shared) whose exact Jaccard
    n_shared / (n_a + n_b − n_shared) reaches ``threshold``; n_a and
    n_b come from the (id, n_sh) size tables ``sizes_a`` and
    ``sizes_b``. The one finisher of every exact shingle-Jaccard leg.
    The size tables are corpus-cardinality (one row per doc) — NOT
    broadcast-able at scale; they are shuffle-joined and AQE picks the
    strategy."""
    return (
        shared.join(
            sizes_a.withColumnRenamed("id", "id_a").withColumnRenamed(
                "n_sh", "n_a"
            ),
            on="id_a",
        )
        .join(
            sizes_b.withColumnRenamed("id", "id_b").withColumnRenamed(
                "n_sh", "n_b"
            ),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "n_a", "n_b", "jaccard")
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 4,
    shingle_w: int = 3,
) -> DataFrame:
    """MinHash signature per doc: for seed i, min over distinct w-word
    shingles of md5(shingle || '#i') (hex-string min == numeric min at
    fixed width). Returns (id, h0..h{n-1}). One explode + one
    partial-aggregated groupBy.

    Shingles, not single words: with a small vocabulary, word-set minhash
    makes most docs share their minima → giant LSH buckets → the candidate
    self-join degenerates toward O(n²). The shingle space is |V|^w, so
    unrelated docs almost never collide (measured here: word-level minhash
    on the testdata corpus produced ~25M candidate pairs at 5k docs;
    shingle-level produces only true near-dups). ``shingle_w=1`` recovers
    word-level behavior."""
    df = ensure_parallelism(df)
    # no distinct pass: MIN over duplicates equals MIN over the set
    tokens = (
        shingle_rows(df, id_col, text_col, shingle_w)
        if shingle_w > 1
        else df.select(
            F.col(id_col),
            F.explode(words(F.trim(F.col(text_col)))).alias("word"),
        )
    )
    aggs = [
        F.min(F.md5(F.concat(F.col("word"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return tokens.groupBy(id_col).agg(*aggs)


def _rows_per_band(total: int, bands: int, what: str) -> int:
    """Width of each of ``bands`` equal bands over ``total`` signature
    components (MinHash hashes or SimHash bits)."""
    if bands <= 0 or total % bands:
        raise ValueError(
            f"{what} ({total}) must divide evenly into bands ({bands}):"
            " a remainder would silently exclude the trailing signature"
            " components from every band key, weakening the LSH collision"
            " guarantee"
        )
    return total // bands


def _minhash_band_keys(n_hashes: int, bands: int) -> list[Column]:
    """Band b covers signature components h[b·r .. b·r + r),
    r = n_hashes/bands; its key is md5 over the '|'-joined components."""
    r = _rows_per_band(n_hashes, bands, "n_hashes")
    return [
        F.md5(F.concat_ws("|", *[F.col(f"h{b * r + j}") for j in range(r)]))
        for b in range(bands)
    ]


def _band_rows(
    signatures: DataFrame, cols: list[Column], keys: list[Column]
) -> DataFrame:
    """(cols…, band_idx, band_key) rows, one per signature row and band,
    band b keyed by ``keys[b]`` — the banding stage of every LSH
    variant."""
    rows = signatures.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), k.alias("band_key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("band"),
    )
    return rows.select(*rows.columns[:-1], "band.band_idx", "band.band_key")


def _bucket_pairs(
    banded: DataFrame,
    member: Column,
    pair: Callable[[Column, Column], list[Column]],
    max_bucket_size: int,
) -> DataFrame:
    """Candidate pairs from the (band_idx, band_key) buckets of
    ``banded`` — the pairing stage of every LSH variant. Each bucket's
    ``member`` values are collected and sorted; buckets with one member
    or more than ``max_bucket_size`` are dropped; every member pair
    (x, y) with x sorted before y becomes one row of the columns
    ``pair(x, y)``, deduplicated across bands.

    Per-bucket combination explode, NOT a self-join: a self-join would
    recompute the whole signature pipeline for both sides (measured 2×
    cost) and shuffle twice. One groupBy shuffle; member lists are
    bounded by ``max_bucket_size``, so no single reducer ever holds an
    unbounded list or emits an unbounded pair explosion."""
    ms = F.col("ms")
    return (
        banded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_list(member)).alias("ms"))
        .filter((F.size(ms) > 1) & (F.size(ms) <= F.lit(max_bucket_size)))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        ms,
                        lambda x, i: F.transform(
                            F.slice(ms, (i + 2).cast("int"), F.size(ms)),
                            lambda y: F.struct(*pair(x, y)),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


def _pair_with(payload: str) -> Callable[[Column, Column], list[Column]]:
    """Pair columns of (id, ``payload``) bucket members:
    id_a, {payload}_a, id_b, {payload}_b."""
    return lambda x, y: [
        x["id"].alias("id_a"),
        x[payload].alias(f"{payload}_a"),
        y["id"].alias("id_b"),
        y[payload].alias(f"{payload}_b"),
    ]


def banded_signatures(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 4,
    bands: int = 2,
) -> DataFrame:
    """(id, band_idx, band_key) rows — the MinHash banding stage, the
    ONE definition shared by ``lsh_candidate_pairs`` (which pairs
    within buckets) and the band-health observability query
    (``q_lsh_band_stats``, which audits bucket-size distribution and
    predicted candidate volume without materializing any pair)."""
    keys = _minhash_band_keys(n_hashes, bands)
    return _band_rows(signatures, [F.col(id_col)], keys)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 4,
    bands: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Band the signature (rows = n_hashes/bands per band), hash each
    band, pair the docs sharing a (band_idx, band_key) bucket → candidate
    pairs (id_a < id_b). Pair volume is Σ bucket² — bounded by bucket
    sizes, not corpus size.

    ``max_bucket_size`` drops degenerate mega-buckets before pairing (the
    CCNet/SlimPajama hygiene step): a bucket shared by m docs emits m²/2
    pairs, so one boilerplate-driven bucket of 10⁶ docs would emit ~5·10¹¹
    pairs and sink the job. Docs in a dropped bucket can still pair through
    their other bands; a corpus-scale bucket means near-identical
    boilerplate, which exact dedup already collapses upstream."""
    banded = banded_signatures(signatures, id_col, n_hashes, bands)
    return _bucket_pairs(
        banded,
        F.col(id_col),
        lambda x, y: [x.alias("id_a"), y.alias("id_b")],
        max_bucket_size,
    )


def minhash_est_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 4,
    bands: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH candidate pairs WITH the signature-agreement Jaccard estimate
    (est = fraction of MinHash components that agree), computed map-side.

    Same banding/bucketing as ``lsh_candidate_pairs``, but the bucket
    members carry the signature array, so the estimate is a pure
    expression over the exploded pair rows — no join back to the
    signature table (which would re-evaluate the signature aggregation
    for each side and add two shuffle joins; the pattern
    ``simhash_candidate_pairs`` uses for the same reason). Returns
    (id_a, id_b, est_jaccard)."""
    keys = _minhash_band_keys(n_hashes, bands)
    hs = F.array(*[F.col(f"h{i}") for i in range(n_hashes)])
    banded = _band_rows(
        signatures, [F.col(id_col).alias("id"), hs.alias("hs")], keys
    )
    pairs = _bucket_pairs(
        banded,
        F.struct(F.col("id"), F.col("hs")),
        _pair_with("hs"),
        max_bucket_size,
    )
    agree = sum(
        F.when(F.col("hs_a")[i] == F.col("hs_b")[i], 1).otherwise(0)
        for i in range(n_hashes)
    )
    return pairs.select(
        "id_a",
        "id_b",
        (agree.cast("double") / F.lit(float(n_hashes))).alias("est_jaccard"),
    )


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int) -> DataFrame:
    """``n_bits``-bit SimHash: bit i = sign of Σ over words of (±1 by the
    high bit of nibble i of the word's hash). The per-word nibbles come
    from md5(w), extended by md5(w ‖ '#1'), md5(w ‖ '#2'), … while more
    are needed: 16 bits read md5(w), 64 bits md5(w) ‖ md5(w ‖ '#1') —
    portable to any engine with md5. Exact integer sums → fully
    deterministic; emitted as an n_bits-char '0'/'1' string. Words keep
    multiplicity (standard term-frequency weighting). 64 bits is the
    production width: 16 bits saturates on large corpora (only 65k
    distinct signatures)."""
    w = F.col("w")
    hashes = [F.md5(w)] + [
        F.md5(F.concat(w, F.lit(f"#{k}"))) for k in range(1, (n_bits + 31) // 32)
    ]
    tokens = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.explode(words(F.trim(F.col(text_col)))).alias("w"),
        )
        .select(
            F.col(id_col),
            (F.concat(*hashes) if len(hashes) > 1 else hashes[0]).alias("wh"),
        )
    )
    # The per-bit ±1 sums and the bit string are ONE parsed SQL string
    # per bit instead of ~7 composed Column objects: py4j
    # plan-construction cost is real — the composed form cost ~2 s PER
    # QUERY BUILD at 64 bits, the parsed form ~0.4 s, identical plans.
    high = ", ".join(f"'{h}'" for h in "89abcdef")
    sums = [
        F.expr(
            f"sum(CASE WHEN substring(wh, {i + 1}, 1) IN ({high}) "
            "THEN 1 ELSE -1 END)"
        ).alias(f"s{i}")
        for i in range(n_bits)
    ]
    bits = F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN s{i} >= 0 THEN '1' ELSE '0' END" for i in range(n_bits)
        )
        + ")"
    )
    return (
        tokens.groupBy(id_col)
        .agg(*sums)
        .select(F.col(id_col), bits.alias("simhash"))
    )


def simhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    bands: int = 2,
    max_bucket_size: int = 1000,
    max_hamming: int = 1,
    sig_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: band the ``sig_bits``-bit signature into
    ``bands`` contiguous slices; docs sharing any exact band are candidates
    (pigeonhole: hamming ≤ bands-1 GUARANTEES a shared band, so with the
    default 2 bands every hamming≤1 pair is found); exact hamming
    distance verified on candidates only. Returns (id_a, id_b, hamming).

    Same scale shape as lsh_candidate_pairs: one groupBy per band key,
    per-bucket combination explode carrying both signatures (so the
    verify stage needs NO join back), ``max_bucket_size`` drops
    degenerate buckets before pairing. Production width is 64 bits
    (``simhash(…, 64)`` + ``sig_bits=64``, 4 bands → hamming ≤ 3
    complete); the plan shape is width-independent.

    The O(candidates) verify stage carries the signature as packed 16-bit
    integer chunks, not the bit string: hamming is then
    Σ bit_count(chunk_a XOR chunk_b) — 4 codegen'd integer ops per
    64-bit pair instead of 128 substring compares (measured 4-5× on the
    whole plan at sf0.1, where candidates ≈ Σ bucket² ≈ 1M), and the
    pair shuffle payload shrinks from two 64-char strings to two int
    arrays."""
    width = _rows_per_band(sig_bits, bands, "sig_bits")
    sig = F.col(sig_col)
    n_chunks = (sig_bits + 15) // 16
    chunks = F.array(
        *[
            F.conv(F.substring(sig, c * 16 + 1, 16), 2, 10).cast("long")
            for c in range(n_chunks)
        ]
    )
    banded = _band_rows(
        signatures,
        [F.col(id_col).alias("id"), chunks.alias("ks")],
        [F.substring(sig, b * width + 1, width) for b in range(bands)],
    )
    pairs = _bucket_pairs(
        banded,
        F.struct(F.col("id"), F.col("ks")),
        _pair_with("ks"),
        max_bucket_size,
    )
    hamming = sum(
        F.bit_count(
            F.col("ks_a")[c].bitwiseXOR(F.col("ks_b")[c])
        )
        for c in range(n_chunks)
    ).cast("int")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_clusters(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    max_iters: int = 10,
) -> DataFrame:
    """Connected components over the near-dup pair graph (iterative
    min-label propagation): cluster_id = min doc id reachable through
    near-dup edges. The greedy pairwise drop keeps the lower id of each
    PAIR; components give the transitively-correct cluster keeper.

    Iterative algorithm, driver-side loop of Spark jobs (the sanctioned
    shape for iteration — each step is a shuffle-joined plan, lineage
    truncated per step via localCheckpoint). The first three iterations
    are plain min-label propagation (one join each — converges every
    real near-dup component at minimum cost); if labels are still moving
    after that, each further iteration adds a POINTER-DOUBLING shortcut
    (adopt the label of your current label), making the tail O(log
    diameter) — ``max_iters=10`` then covers diameters in the hundreds
    (3 plain hops, then doubling from there). Raises on non-convergence
    rather than silently returning partial labels. Returns
    (id, cluster_id)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = vertices.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("cluster_id")
    ).localCheckpoint(eager=False)

    for it in range(max_iters):
        # step 1: min label over graph neighbors (original label carried
        # through as __orig so change detection below is a flag filter,
        # not an old-vs-new join)
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("min_neighbor"))
        )
        stepped = labels.join(msgs, on="id", how="left").select(
            "id",
            F.col("cluster_id").alias("__orig"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("min_neighbor"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        if it < 3:
            new_labels = stepped.withColumn(
                "__changed", F.col("cluster_id") != F.col("__orig")
            ).localCheckpoint(eager=False)
        else:
            # step 2 (only if still unconverged after the plain hops):
            # pointer doubling — adopt the label of my label, halving the
            # remaining propagation distance each iteration. Checkpoint
            # before the self-join so the msgs join above isn't
            # recomputed for both sides.
            stepped = stepped.localCheckpoint(eager=False)
            parent = stepped.select(
                F.col("id").alias("p_id"),
                F.col("cluster_id").alias("p_label"),
            )
            new_label = F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("p_label"), F.col("cluster_id")),
            )
            new_labels = (
                stepped.join(
                    parent, stepped.cluster_id == parent.p_id, how="left"
                )
                .select(
                    "id",
                    new_label.alias("cluster_id"),
                    (new_label != F.col("__orig")).alias("__changed"),
                )
                .localCheckpoint(eager=False)
            )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.select("id", "cluster_id")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iters} iterations — "
        "raise max_iters"
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    threshold: float = 0.2,
    max_df: int = 1000,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over distinct w-shingles, candidates
    from an inverted-index join on shingles (only docs sharing ≥1 shingle
    are ever paired). Returns (id_a, id_b, n_shared, n_a, n_b, jaccard).

    ``max_df`` caps the posting list per shingle (document-frequency
    stopword filter, the CCNet/SlimPajama hygiene step): a boilerplate
    shingle shared by m docs contributes m²/2 candidate pairs, so one
    hot shingle across 10⁶ docs would emit ~5·10¹¹ pairs. Shingles with
    df > max_df are dropped from the universe BEFORE sizes are counted,
    so the Jaccard stays exact over the filtered shingle space (both the
    numerator and the denominators exclude stop-shingles — no bias, just
    a smaller, discriminative feature set)."""
    toks = df_cap(shingle_postings(df, id_col, text_col, w), "sh", max_df)
    # The capped universe feeds four consumers (both inverted-index
    # join sides and the size table, itself joined twice) and is left
    # lazy: a persist() of it measured slower on 4 cores, summed over
    # its four exact-pair queries (NOTES.md). At 100 TB this frame is
    # the materialized shingle index (build_shingle_index) the
    # incremental path keeps on parquet.
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = toks.alias("a")
    b = toks.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return jaccard_pairs(shared, sizes, sizes, threshold)


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch — the PORTABLE sketch: its
    estimate is a pure function of the k smallest md5 values, so unlike
    HLL (whose register layout is implementation-private, hence the
    rows-only q_approx_distinct) the estimate is bit-identical across
    engines and ORACLE-CHECKABLE. Estimator (Bar-Yossef et al. 2002):
    est = (k-1) / u_k with u_k the k-th smallest hash mapped to (0,1);
    below k distinct values the sketch IS the exact set (exact mode).

    Returns (group_col, est_distinct BIGINT, n_exact BIGINT) — the
    exact count rides along so the estimate's error is visible.

    Scale shape: md5-dedup is a partial-aggregable groupBy (duplicates
    collapse map-side); the k-smallest selection is a constant-bound
    rank → WindowGroupLimit map-side top-k per group; only k hashes per
    group survive to the final agg. (The exact count shares the same
    deduped hashes — at 100 TB you'd drop it and keep only the sketch;
    it exists here because showing the error is the point.)"""
    hashes = (
        df.select(
            F.col(group_col),
            F.md5(F.col(value_col).cast("string")).alias("__h"),
        )
        .groupBy(group_col, "__h")
        .agg(F.lit(1).alias("__one"))
    )
    w = Window.partitionBy(group_col).orderBy("__h")
    ranked = hashes.withColumn("__rn", F.row_number().over(w))
    # u = first 13 hex nibbles as a fraction of 16^13 — exact integer
    # arithmetic then one constant division, identical in any engine
    u = sum(
        (
            F.instr(
                F.lit("0123456789abcdef"), F.substring(F.col("__h"), i + 1, 1)
            )
            - 1
        ).cast("double")
        * float(16 ** (12 - i))
        for i in range(13)
    ) / float(16**13)
    per_group = (
        ranked.filter(F.col("__rn") <= k)
        .groupBy(group_col)
        .agg(
            F.max(F.when(F.col("__rn") == k, u)).alias("__u_k"),
            F.count(F.lit(1)).alias("__n_seen"),
        )
    )
    exact = df.groupBy(group_col).agg(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    est = F.when(
        F.col("__n_seen") < k, F.col("__n_seen").cast("bigint")
    ).otherwise(
        F.round(F.lit(float(k - 1)) / F.col("__u_k"), 0).cast("bigint")
    )
    return per_group.join(exact, on=group_col).select(
        F.col(group_col),
        est.alias("est_distinct"),
        "n_exact",
    )


def build_shingle_index(
    keepers: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    w: int = 3,
    max_df: int = 1000,
) -> None:
    """Materialize the keep-list's near-dup feature index as parquet:
    ``{path}/postings`` = (sh, id) distinct df-capped shingle postings,
    ``{path}/sizes`` = (id, n_sh) per-doc feature counts. This is the
    step `shingle_jaccard_pairs_between`'s docstring promises — at
    100 TB the keep-list's postings are WRITTEN once (bucketed by the
    shingle, the join key every probe batch hashes on) and every
    incremental batch reads only the buckets its own shingles hash to;
    the keep-list's documents are never re-tokenized again."""
    toks = df_cap(shingle_postings(keepers, id_col, text_col, w), "sh", max_df)
    # one narrow pipeline feeds both writes; persist would pin the
    # exchange (NOTES r5) — the double scan is the write-side cost paid
    # once per index rebuild
    toks.write.mode("overwrite").parquet(f"{path}/postings")
    toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh")).write.mode(
        "overwrite"
    ).parquet(f"{path}/sizes")


def near_dups_against_index(
    batch: DataFrame,
    spark,
    index_path: str,
    id_col: str,
    text_col: str,
    w: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against a FROZEN shingle index
    (``build_shingle_index`` output) — the true incremental path: only
    the batch is tokenized; the keep-list contributes pre-computed
    postings read from parquet. Returns (id_a = batch id, id_b =
    indexed id, n_shared, n_a, n_b, jaccard).

    Semantics vs the recompute forms (documented, deliberate): the
    index's feature universe is FROZEN at build time (df cap applied
    over the keep-list only), and a batch doc's size ``n_a`` counts ALL
    its distinct shingles — novel shingles the index has never seen
    count against similarity (conservative: a doc half-made of new
    content is NOT a near-dup of an old doc). When a batch doc's
    shingles all lie inside the index universe, the jaccard equals the
    shared-universe recompute exactly (pinned by test)."""
    postings = read_parquet(spark, f"{index_path}/postings")
    sizes = read_parquet(spark, f"{index_path}/sizes")
    btoks = shingle_postings(batch, id_col, text_col, w)
    b_sizes = btoks.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        btoks.alias("a")
        .join(postings.alias("b"), F.col("a.sh") == F.col("b.sh"))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return jaccard_pairs(shared, b_sizes, sizes, threshold)


def shingle_jaccard_pairs_between(
    probe: DataFrame,
    build: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    threshold: float = 0.2,
    max_df: int = 1000,
) -> DataFrame:
    """Asymmetric variant of ``shingle_jaccard_pairs``: pairs with
    ``id_a`` from ``probe`` and ``id_b`` from ``build`` only — never
    probe-probe or build-build. THE incremental-dedup primitive: when a
    small batch is checked against a large keep-list, the symmetric
    self-join generates Σ df² candidates dominated by keeper-keeper
    pairs that are discarded afterwards; here candidate volume is
    Σ df_probe × df_build per shingle — cost ∝ batch, the claim
    ``curate_incremental`` makes.

    Jaccard values are IDENTICAL to the symmetric form run on
    probe ∪ build and filtered to cross-side pairs: the shingle
    universe (df cap and per-doc sizes) is computed over the UNION, so
    only the candidate join is asymmetric, never the feature space.
    Ids must be disjoint across the two sides (they are distinct
    documents by construction in the incremental flow)."""
    union = probe.select(F.col(id_col), F.col(text_col)).unionByName(
        build.select(F.col(id_col), F.col(text_col))
    )
    toks = df_cap(shingle_postings(union, id_col, text_col, w), "sh", max_df)
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    probe_ids = probe.select(F.col(id_col).alias("id"))
    build_ids = build.select(F.col(id_col).alias("id"))
    a = toks.join(probe_ids, on="id", how="left_semi").alias("a")
    b = toks.join(build_ids, on="id", how="left_semi").alias("b")
    shared = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.id") != F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return jaccard_pairs(shared, sizes, sizes, threshold)


def paragraph_dedup(
    df: DataFrame, id_col: str, text_col: str, w: int = 15
) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup (Wenzek et al. 2020,
    arXiv:1911.00359 §3.1): hash every paragraph, keep only the FIRST
    occurrence across the whole corpus (lowest (doc, position)), and
    reassemble each document from the paragraphs it owns. Returns
    (id, n_paras, n_dup_paras, scrubbed_text) — scrubbed_text is NULL
    when every paragraph of the document occurred earlier elsewhere.

    Segmentation is deterministic fixed-width word windows (``w`` words;
    the synthetic corpus has no newline paragraph boundaries — in the
    wild, swap the segmenter for split(text, '\\n\\n'); everything
    downstream is boundary-agnostic). The slicing is a narrow
    transform-over-sequence on the word array — no explode until the
    paragraph rows themselves.

    SKEW-SAFE SHAPE — deliberately NOT a row_number window over the
    paragraph hash: a boilerplate paragraph shared by millions of
    documents makes its hash a hot key, and a window partition cannot
    be split by AQE. Instead the first occurrence per hash is
    ``min(struct(id, para_idx, para_text))`` — a partial-aggregable
    aggregate, so the hot key collapses to one row per partition
    MAP-SIDE before the exchange ships it. The per-document outputs
    then need NO join back on the hash at all: a document's kept set is
    exactly the firsts it owns (one doc-keyed exchange), its paragraph
    count is computed narrowly from its own word count, and its dup
    count is the difference."""
    ws = F.split(F.trim(F.col(text_col)), " ")
    n_paras = F.ceil(F.size(ws) / F.lit(float(w))).cast("bigint")
    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_paras - 1).cast("int")),
                lambda i: F.array_join(F.slice(ws, i * w + 1, w), " "),
            )
        ).alias("para_idx", "para_text"),
    )
    firsts = paras.groupBy(F.md5("para_text").alias("__h")).agg(
        F.min(F.struct("__id", "para_idx", "para_text")).alias("first")
    )
    kept = (
        firsts.select("first.__id", "first.para_idx", "first.para_text")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("para_idx", "para_text"))
                    ),
                    lambda s: s.para_text,
                ),
                " ",
            ).alias("scrubbed_text"),
        )
    )
    per_doc = df.select(
        F.col(id_col).alias("__id"), n_paras.alias("n_paras")
    )
    return (
        per_doc.join(kept, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            "n_paras",
            (
                F.col("n_paras") - F.coalesce(F.col("__n_kept"), F.lit(0))
            ).alias("n_dup_paras"),
            "scrubbed_text",
        )
    )


def url_frontier_screen(
    batch: DataFrame,
    spark,
    seen_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Cross-batch URL dedup for a streaming crawl frontier — the
    SCREEN-ZERO of an admission pipeline (the cheapest cut there is:
    no content is ever read): canonicalize each batch URL
    (functions/urls.py — case/www/port/fragment/tracking-param
    variants collapse onto one key), decide first-fetch-wins against a
    PERSISTENT seen set, and append the batch's newly-seen canonicals
    so later batches (and later runs) skip re-fetching the same page.

    Returns (id, canonical_url, keeper_id, is_dup) for every batch
    row; appends {seen_dir} = (canonical_url, keeper_id) parquet.

    Exactly-once by CONSTRUCTION, not by transaction: the keeper for a
    canonical is deterministic (the batch's min id on first sight,
    frozen in the seen set afterwards), and the append is an anti-join
    of the batch's canonicals against the current seen set — so a
    crashed-and-replayed foreachBatch recomputes identical decisions
    (its own canonicals are now in the seen set WITH THE SAME keepers,
    and coalesce(seen, batch) keeper is unchanged) and appends nothing.
    No batch-id bookkeeping, no transactional sink required.

    Scale shape: per-batch cost ∝ batch (one canonical projection, one
    batch-keyed partial agg, one join against the seen set on the
    canonical key — at 100 TB frontier scale the seen set is the big
    side, so write it bucketed by canonical_url and this join prunes
    to the batch's buckets, the build_shingle_index pattern)."""
    from telecom_competitor_analysis_spark.functions.urls import (
        canonicalize_url,
    )

    c = batch.select(
        F.col(id_col).alias("__id"),
        canonicalize_url(F.col(url_col)).alias("canonical_url"),
    )
    batch_keep = c.groupBy("canonical_url").agg(
        F.min("__id").alias("__batch_keeper")
    )
    # Only a MISSING seen set means "first batch"; any other read
    # failure (storage hiccup, corrupt footer, permissions) must
    # propagate — silently treating it as empty would re-admit
    # previously-seen URLs and append duplicate canonical_url rows,
    # permanently breaking the one-row-per-canonical invariant the
    # exactly-once argument depends on.
    try:
        seen = read_parquet(spark, seen_dir).select(
            "canonical_url", F.col("keeper_id").alias("__seen_keeper")
        )
    except AnalysisException as e:
        cond = (
            e.getCondition()
            if hasattr(e, "getCondition")
            else e.getErrorClass()
        )
        if cond != "PATH_NOT_FOUND":
            raise
        seen = spark.createDataFrame(
            [], "canonical_url string, __seen_keeper long"
        )
    # Materialize the per-canonical decisions ONCE, before the append:
    # both the returned rows and the seen-set append derive from this
    # frozen frame, so the append can't feed back into this batch's
    # own keeper resolution AND the append doesn't recompute the full
    # canonicalize/groupBy/join lineage (incl. a second seen_dir read).
    eff = (
        batch_keep.join(seen, on="canonical_url", how="left")
        .select(
            "canonical_url",
            "__batch_keeper",
            F.coalesce(
                F.col("__seen_keeper"), F.col("__batch_keeper")
            ).alias("__keeper"),
            F.col("__seen_keeper").isNull().alias("__new"),
        )
        .localCheckpoint(eager=True)
    )
    out = c.join(eff, on="canonical_url").select(
        F.col("__id").alias(id_col),
        "canonical_url",
        F.col("__keeper").cast("long").alias("keeper_id"),
        (F.col("__id") != F.col("__keeper")).alias("is_dup"),
    )
    eff.filter(F.col("__new")).select(
        "canonical_url",
        F.col("__batch_keeper").cast("long").alias("keeper_id"),
    ).write.mode("append").parquet(seen_dir)
    return out
