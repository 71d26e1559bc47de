"""Corpus curation — the composite training-data pipeline operator
(BASELINE.json north star): language filter → quality gate → exact dedup →
near-dup removal, plus deterministic hash-split assignment.

Every stage is a declarative plan over the stages before it, so Catalyst
fuses the narrow filters into one scan pass and the only shuffles are the
two dedup keys (content digest; shingle inverted index). Every decision is
deterministic (digest keepers = min id; near-dup drops = the higher id of
each surviving pair), so curation is reproducible run-over-run — the
property that makes 100 TB incremental re-curation (anti-join against the
previous keep-list) possible at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.dedup import (
    shingle_jaccard_pairs,
    shingle_jaccard_pairs_between,
)


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_lang: str = "en",
    min_words: int = 5,
    max_words: int = 10_000,
    min_stopword_ratio: float = 0.0,
    near_dup_threshold: float = 0.5,
) -> DataFrame:
    """Surviving documents after the four curation stages. Returns
    (id, pred_lang, n_words) for every keeper.

    The post-exact-dedup keepers feed both the near-dup pair generation
    and the final anti-join, so they are reused through a lazy
    ``localCheckpoint``: every consumer reads the same lineage-truncated
    RDD instead of re-running scan+score+dedup. On 4 cores this beat
    both a ``persist()`` and no reuse at all, as the whole query and
    inside the deeper curate_incremental composition (medians
    checkpoint / persist / none at sf0.1: q_corpus_curate 4.00 / 4.16 /
    4.52 s, q_curate_incremental 13.7 / 26.5 / 17.5 s; NOTES.md). At
    cluster scale the same role is played by materializing keepers to
    a table between stages.

    Near-dup policy: among candidate pairs with shingle-Jaccard ≥
    threshold, the lower id survives — applied as one anti-join against
    the set of higher-ids (a doc similar to several keepers is dropped
    once; chains collapse toward the lowest id, the standard greedy
    approximation of clustering-based dedup).
    """
    # single tokenization pass: the per-function builders each re-split the
    # text (5 splits/row); scoring over one shared lowered array is the
    # same semantics (lowercasing commutes with space-splitting) at a
    # fraction of the expression work
    t = F.col(text_col)
    with_words = df.select(
        F.col(id_col),
        t.alias("__text"),
        F.split(t, " ").alias("__w"),
        F.split(F.lower(t), " ").alias("__wl"),
    )
    count_in = lambda terms: F.size(  # noqa: E731
        F.filter(F.col("__wl"), lambda x: x.isin(*terms))
    )
    en, es, de = (
        count_in(("the", "and", "of", "is")),
        count_in(("el", "la", "de", "que")),
        count_in(("der", "die", "und", "das")),
    )
    scored = with_words.select(
        F.col(id_col),
        F.col("__text"),
        F.when((en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
        .alias("pred_lang"),
        F.size(F.col("__w")).cast("long").alias("n_words"),
        (
            count_in(("the", "a", "of", "and", "to", "in", "is")).cast("double")
            / F.size(F.col("__w"))
        ).alias("stop_ratio"),
    )
    kept = scored.filter(
        (F.col("pred_lang") == keep_lang)
        & (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("stop_ratio") >= min_stopword_ratio)
    )

    # exact dedup: keeper = min id per content digest
    keepers = (
        kept.withColumn("__digest", F.md5(F.trim(F.col("__text"))))
        .withColumn(
            "__keeper",
            F.min(F.col(id_col)).over(Window.partitionBy("__digest")),
        )
        .filter(F.col(id_col) == F.col("__keeper"))
        .drop("__digest", "__keeper")
    )
    keepers = keepers.localCheckpoint(eager=False)

    # near-dup removal among survivors: drop the higher id of each pair
    pairs = shingle_jaccard_pairs(
        keepers.select(F.col(id_col), F.col("__text").alias(text_col)),
        id_col,
        text_col,
        w=3,
        threshold=near_dup_threshold,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = keepers.join(drops, on=id_col, how="left_anti")
    return survivors.select(id_col, "pred_lang", "n_words")


def curate_incremental(
    new_df: DataFrame,
    prev_keepers: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_lang: str = "en",
    min_words: int = 5,
    max_words: int = 10_000,
    near_dup_threshold: float = 0.5,
) -> DataFrame:
    """Incremental re-curation — the 100 TB path: only NEW documents are
    scored; the existing keep-list is never re-curated. A new doc is kept
    iff it (a) passes the scalar gates, (b) has a content digest absent
    from the keep-list (anti-join), (c) is not a near-dup of any existing
    keeper or an already-accepted new doc (inverted-index join against
    keep-list ∪ new batch; among new-new pairs the lower id wins).

    ``prev_keepers`` needs (id, text). Returns new keepers to append.
    """
    batch = curate_corpus(
        new_df,
        id_col,
        text_col,
        keep_lang,
        min_words,
        max_words,
        near_dup_threshold=near_dup_threshold,
    ).join(new_df.select(id_col, text_col), on=id_col)

    # (b) digest-level: drop content already kept
    prev_digests = prev_keepers.select(
        F.md5(F.trim(F.col(text_col))).alias("__digest")
    ).distinct()
    fresh = batch.withColumn(
        "__digest", F.md5(F.trim(F.col(text_col)))
    ).join(prev_digests, on="__digest", how="left_anti").drop("__digest")

    # (c) near-dup vs existing keepers: the ASYMMETRIC pair join —
    # probe = the fresh batch, build = the keep-list — so candidate
    # volume is Σ df_batch × df_keep per shingle, never the keep-list's
    # own Σ df² (round 5: the previous symmetric-join-then-filter form
    # computed every keeper-keeper candidate and threw it away, which
    # broke the cost-∝-batch claim at keep-list scale). New-vs-new
    # pairs are already handled inside curate_corpus above; jaccard
    # values are identical because the shingle universe (df cap, sizes)
    # stays the union — see shingle_jaccard_pairs_between.
    pairs = shingle_jaccard_pairs_between(
        fresh.select(F.col(id_col), F.col(text_col)),
        prev_keepers.select(F.col(id_col), F.col(text_col)),
        id_col,
        text_col,
        w=3,
        threshold=near_dup_threshold,
    )
    drops = pairs.select(F.col("id_a").alias(id_col)).distinct()
    return fresh.join(drops, on=id_col, how="left_anti").select(
        id_col, "pred_lang", "n_words"
    )


HEX_BOUND_CHARS = 8  # 32-bit rate quantum (~2.3e-10) — small mixing rates
# like 1e-5 of a multi-billion-row stratum survive quantization


def _hex_bound(rate: float) -> str:
    """8-hex-char threshold for a sampling rate: keep iff the first 8 md5
    hex chars sort below it. 'z'*8 (> every hex string) keeps all;
    '' (< nothing) keeps none; otherwise rate·2^32 as zero-padded hex,
    clamped to [1, 2^32-1] so no in-range rate silently rounds to
    keep-none or overflows the fixed width."""
    if rate >= 1.0:
        return "z" * HEX_BOUND_CHARS
    if rate <= 0.0:
        return ""
    q = max(1, min(0xFFFFFFFF, round(rate * 0x100000000)))
    return format(q, f"0{HEX_BOUND_CHARS}x")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic stratified sampling — the training-data *mixing*
    operator (up/down-weight sources or languages in a corpus mix): each
    stratum keeps ``rates[stratum]`` of its rows, decided per row by
    md5(id || '|' || salt), never by an RNG.

    Hash-gated like hash_split: portable (same md5 everywhere), stable
    under reshuffling/re-runs, independent per salt so several mixes
    coexist, and embarrassingly parallel — a pure filter with zero
    shuffles, which is what makes it usable at 100 TB (Spark's sample()
    is partition-RNG based and changes membership when the partitioning
    changes; this never does)."""
    frac = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))),
        1,
        HEX_BOUND_CHARS,
    )
    bound = None
    for stratum in sorted(rates):
        clause = (F.col(strata_col) == stratum, F.lit(_hex_bound(rates[stratum])))
        bound = F.when(*clause) if bound is None else bound.when(*clause)
    bound = (
        bound.otherwise(F.lit(_hex_bound(default_rate)))
        if bound is not None
        else F.lit(_hex_bound(default_rate))
    )
    return df.filter(frac < bound)


def sample_exact_n(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    n: int,
    salt: str = "bal",
) -> DataFrame:
    """Exactly-N-per-stratum sampling: within each stratum keep the ``n``
    rows whose md5(id || '|' || salt) sorts lowest (id tie-break; md5 of
    distinct ids never actually ties). The rate-gated ``stratified_sample``
    gives each row an independent keep probability — binomially-noisy
    stratum sizes; this variant delivers EXACT quota sizes for eval-set
    carve-outs and per-source caps.

    Scale shape: one shuffle on the stratum; the constant rank bound lets
    the WindowGroupLimit rule keep per-partition top-n before the exchange,
    so no stratum is ever fully sorted."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}")))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def rebalance_to_min(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    salt: str = "bal",
    precompute_quota: bool = True,
) -> DataFrame:
    """Mix rebalancing: downsample every stratum to the SMALLEST stratum's
    row count (a uniform class-balanced corpus), membership by the same
    deterministic md5 rank as ``sample_exact_n``. The quota is
    data-dependent (min over stratum counts), so re-running after new
    data arrives re-balances automatically.

    Two-pass by default (``precompute_quota=True``): pass 1 runs the tiny
    count-min aggregation eagerly — the aggregation itself is distributed
    and partial-aggregable; only the single-row quota comes to the driver,
    exactly like the runtime statistics AQE already collects between
    stages — then pass 2 re-plans with the quota as a LITERAL rank bound,
    which restores the WindowGroupLimit rule (map-side top-quota per
    stratum before the exchange; plan asserted in test_scale_plans.py).

    ``precompute_quota=False`` keeps the single-plan form (dynamic bound
    via one-row broadcast join) for callers that must stay lazy — e.g. a
    plan built once and re-executed per incremental batch, where an eager
    pass would freeze the quota at build time. Its trade-off: the dynamic
    bound defeats WindowGroupLimit, so every stratum is rank-numbered in
    full (one shuffle + per-stratum sort)."""
    from pyspark.sql import Window

    if precompute_quota:
        quota = (
            df.groupBy(strata_col).count().agg(F.min("count")).first()[0]
        )
        return sample_exact_n(
            df, id_col, strata_col, n=int(quota or 0), salt=salt
        )

    target = df.groupBy(strata_col).count().agg(
        F.min("count").alias("__target")
    )
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}")))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .crossJoin(F.broadcast(target))
        .filter(F.col("__rn") <= F.col("__target"))
        .drop("__rn", "__target")
    )


def sequence_pack(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    part_col: str,
    seq_len: int = 2048,
) -> DataFrame:
    """Concat-and-chunk sequence packing — assign each document its
    position in the fixed-length training-sequence stream: documents are
    concatenated in (partition, id) order and cut every ``seq_len``
    tokens; a doc's ``chunk_id``/``chunk_offset`` locate where it starts.

    Packing is per ``part_col`` partition (source shard here): one window
    cumsum per partition, parallel across partitions — the scale path,
    since chunk boundaries need no global coordination and a global-order
    cumsum would serialize onto one reducer. Deterministic: (partition,
    id) is a total order."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(F.col(token_count_col)).over(w) - F.col(token_count_col)
    return df.select(
        F.col(id_col),
        F.col(part_col),
        F.col(token_count_col),
        F.floor(start / F.lit(seq_len)).cast("long").alias("chunk_id"),
        (start % F.lit(seq_len)).cast("long").alias("chunk_offset"),
    )


def canonical_per_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Canonical-document selection: for each near-dup cluster keep the
    highest-quality member (ties → lowest id). The keep-best refinement
    of min-id cluster dedup: when a page exists in N near-identical
    crawls, train on the best-scoring copy, not the accidental min-id.

    ``clusters`` = (id, cluster_id) (dedup_clusters output);
    ``quality`` = (id_col, quality_col) — any per-doc score (word count,
    LM logprob, composite). Returns
    (cluster_id, keeper_id, keeper_quality, n_members).

    Scale shape: one shuffle on cluster_id; the constant rank-1 bound is
    WindowGroupLimit-prunable (map-side top-1 per cluster), and the
    member count rides the same exchange as a window count."""
    q = quality.select(
        F.col(id_col).alias("id"),
        F.col(quality_col).alias("__q"),
    )
    joined = clusters.join(q, on="id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__q").desc(), F.col("id").asc()
    )
    return (
        joined.select(
            "cluster_id",
            "id",
            "__q",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster_id"))
            .alias("n_members"),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col("id").alias("keeper_id"),
            F.col("__q").alias("keeper_quality"),
            "n_members",
        )
    )


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement, k per
    stratum: the Efraimidis–Spirakis A-ES scheme — draw key u^(1/w) per
    row and keep the stratum's top-k keys. Inclusion probability scales
    with weight (here: up-sample long/high-quality docs in a corpus
    mix), yet the draw is a pure column expression, reproducible across
    engines and re-runs.

    u comes from a Knuth multiplicative hash of the id
    (h = (id * 2654435761) mod 2^32; u = (h + 0.5) / 2^32 — never 0 or
    1), NOT a seeded RNG: portability and re-run stability matter more
    here than hash quality, and the docstring marks exactly where a
    production pipeline would swap in xxhash64. Returns
    (id_col, strata_col, rank) — rank-only output keeps the compare
    float-free.

    Scale shape: map-only key computation, one shuffle on the stratum,
    constant rank bound → WindowGroupLimit map-side top-k."""
    h = F.pmod(
        F.col(id_col).cast("bigint") * F.lit(2654435761),
        F.lit(4294967296),
    )
    u = (h.cast("double") + 0.5) / 4294967296.0
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    w = Window.partitionBy(strata_col).orderBy(
        key.desc(), F.col(id_col).asc()
    )
    return (
        df.select(
            F.col(id_col),
            F.col(strata_col),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def hash_split(
    id_col: Column, salt: str = "split", train_hex_bound: str = "cd"
) -> Column:
    """Deterministic train/test assignment: first md5 byte of
    (id || '|' || salt) under the bound → 'train' (default 'cd'/0x100 ≈
    80%). Portable (same md5 everywhere), stable under reshuffling and
    re-runs, and independent per salt — multiple named splits coexist
    without coordination."""
    h = F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(f"|{salt}"))), 1, 2)
    return F.when(h < F.lit(train_hex_bound), F.lit("train")).otherwise(
        F.lit("test")
    )


def _ffd_assign(ns, seq_len):
    """First-fit-decreasing inner loop over a DESC-sorted length array:
    returns (seq_id per doc, open-bin loads). numpy-vectorized per doc
    (argmax over open-bin remainders); a production implementation at
    extreme per-shard counts would swap the linear fit scan for a
    capacity-bucketed free list without changing any semantics."""
    import numpy as np

    rem = np.empty(len(ns), dtype=np.int64)
    seq = np.empty(len(ns), dtype=np.int64)
    nb = 0
    for i, n in enumerate(ns):
        j = int(np.argmax(rem[:nb] >= n)) if nb else 0
        if nb == 0 or rem[j] < n:
            j = nb
            rem[j] = seq_len
            nb += 1
        rem[j] -= n
        seq[i] = j
    return seq, seq_len - rem[:nb]


def ffd_pack(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    shard_col: str,
    seq_len: int = 512,
) -> DataFrame:
    """First-fit-decreasing sequence packing WITHIN hash shards — the
    no-split packing production training pipelines run when document
    fragments across sequence boundaries are unacceptable: per shard,
    docs are taken in (token_count desc, id) order and each is placed
    whole into the FIRST sequence with room, opening a new sequence
    only when none fits (Johnson's FFD, the classic 11/9·OPT+1 bin
    packer). Docs longer than ``seq_len`` are truncated to ``seq_len``
    first (the only token loss this packer has).

    FFD is inherently sequential per bin-set, so the shard IS the
    parallelism unit (one applyInPandas group per shard — the
    hash-bucketed-shards discipline): state per task is one int array
    of open-bin capacities, lengths-only columns ever shuffle (the
    text never moves), and scaling the shard count is the 100 TB knob
    exactly as for the shingle/IVF builds.

    Returns (id, shard, n_kept, seq_id) — seq_id is the 0-based bin
    index within the shard; deterministic for a given (shard ×
    ordering), pinned by the DuckDB recursive-CTE oracle."""
    import numpy as np
    import pandas as pd

    shard_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[shard_col]
    out_schema = (
        f"{id_col} long, {shard_col} {shard_type}, n_kept long, "
        "seq_id long"
    )
    L = int(seq_len)

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            [token_count_col, id_col], ascending=[False, True],
            kind="mergesort",
        )
        ns = np.minimum(pdf[token_count_col].to_numpy(np.int64), L)
        seq, _loads = _ffd_assign(ns, L)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(np.int64),
                shard_col: pdf[shard_col].to_numpy(),
                "n_kept": ns,
                "seq_id": seq,
            }
        )

    return df.select(id_col, shard_col, token_count_col).groupBy(
        shard_col
    ).applyInPandas(_pack, out_schema)


def pack_efficiency_stats(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    shard_col: str,
    seq_len: int = 512,
) -> DataFrame:
    """Per-shard packing-strategy comparison in ONE pass: for each hash
    shard, compute BOTH the concat-truncate layout (docs in id order by
    running cumsum, boundary overhang dropped) and the
    first-fit-decreasing layout (``_ffd_assign`` — docs placed whole,
    length-sorted greedy first-fit) inside a single applyInPandas
    group, emitting one stats row per (strategy, shard).

    One shuffle on the shard key total — computing the two legs as
    separate DataFrame branches would re-derive the tokenized input
    once per consumer (the multi-referenced-subtree recompute hazard)
    and pay a second exchange for the window; fusing them into the
    per-shard pass deletes both, and the concat cumsum is a two-line
    numpy fold anyway. Docs longer than ``seq_len`` are truncated to
    ``seq_len`` in BOTH strategies first.

    Returns (strategy, shard, n_docs, total_tokens, n_seqs,
    used_tokens) — total_tokens counts RAW (uncapped) tokens so
    truncation-to-seq_len shows up as strategy-independent loss."""
    import numpy as np
    import pandas as pd

    shard_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[shard_col]
    out_schema = (
        f"strategy string, {shard_col} {shard_type}, n_docs long, "
        "total_tokens long, n_seqs long, used_tokens long"
    )
    L = int(seq_len)

    def _stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        shard = pdf[shard_col].iloc[0]
        raw = pdf[token_count_col].to_numpy(np.int64)
        n_docs, total = len(raw), int(raw.sum())

        byid = pdf.sort_values(id_col, kind="mergesort")
        ns = np.minimum(byid[token_count_col].to_numpy(np.int64), L)
        start = np.cumsum(ns) - ns
        kept = np.minimum(ns, L - start % L)
        c_seqs = int((ns.sum() + L - 1) // L)

        desc = np.sort(ns)[::-1]
        _seq, loads = _ffd_assign(desc, L)

        return pd.DataFrame(
            {
                "strategy": ["concat_trunc", "ffd_sorted"],
                shard_col: [shard, shard],
                "n_docs": [n_docs, n_docs],
                "total_tokens": [total, total],
                "n_seqs": [c_seqs, len(loads)],
                "used_tokens": [int(kept.sum()), int(loads.sum())],
            }
        )

    return df.select(id_col, shard_col, token_count_col).groupBy(
        shard_col
    ).applyInPandas(_stats, out_schema)
