"""Index-build job — the nightly "materialize once" stage the
incremental queries probe against (SURVEY.md §2.12 round-6 additions):

- shingle index   → operators/dedup.py::build_shingle_index
  (df-capped postings + per-doc sizes; probed by
  near_dups_against_index / q_dedup_incremental)
- IVF ANN index   → operators/similarity.py::build_ivf_index
  (anchors + bucket-PARTITIONED assignments; probed with dynamic
  partition pruning by ann_against_index / q_ann_index_probe)
- LSH pair graph  → minhash_signature + lsh_candidate_pairs
  (consumed by dedup_clusters / canonical selection / pagerank)
- k-means assignment → operators/similarity.py::kmeans_assign
  (cluster-once table consumed by SemDedup pruning / q_semdedup)

At 100 TB each artifact is a warehouse table owned by this job; the
probe-side queries never re-derive them. Run:

    python -m telecom_competitor_analysis_spark.jobs.build_indexes \\
        --sf-dir /root/testdata/sf0.01 --out /tmp/indexes
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_all(
    spark: SparkSession,
    sf_dir: str,
    out: str,
    shingle_w: int = 3,
    max_df: int = 1000,
    n_anchors: int | None = None,
    max_bucket_size: int | None = None,
    n_hashes: int = 4,
    bands: int = 2,
    kmeans_k: int | None = None,
    kmeans_iters: int = 2,
    embedding_dim: int = 64,
) -> dict[str, str]:
    """Build the four index artifacts under ``out``; returns
    {artifact: path}. Each build is an independent write — a failed one
    leaves the others usable, and re-running overwrites idempotently.
    ``embedding_dim`` must match the embeddings table (the centroid
    sums index v[0..dim-1]); keep it in sync with the query side's
    EMBEDDING_DIM.

    ``n_anchors`` / ``max_bucket_size`` / ``kmeans_k`` default to None
    = sized from the embedding corpus row count (jobs/sizing.py —
    nlist = ⌈√n⌉, cap = 8×mean occupancy, k = ⌈n/64⌉), so the nightly
    build stays correctly proportioned as the corpus grows; pass
    explicit values to pin them (the declared queries' fixture builds
    do, keeping the DuckDB oracle constants valid). ``max_df`` stays a
    constant on purpose — it bounds per-token candidate volume
    independent of corpus size."""
    from telecom_competitor_analysis_spark.operators.dedup import (
        build_shingle_index,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from telecom_competitor_analysis_spark.operators.similarity import (
        build_ivf_index,
        kmeans_assign,
    )
    from telecom_competitor_analysis_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")

    if n_anchors is None or max_bucket_size is None or kmeans_k is None:
        from telecom_competitor_analysis_spark.jobs.sizing import sized_knobs

        knobs = sized_knobs(emb.count())
        n_anchors = knobs["n_anchors"] if n_anchors is None else n_anchors
        max_bucket_size = (
            knobs["max_bucket_size"]
            if max_bucket_size is None
            else max_bucket_size
        )
        kmeans_k = knobs["kmeans_k"] if kmeans_k is None else kmeans_k

    paths = {
        "shingle_index": f"{out}/shingle_index",
        "ivf_index": f"{out}/ivf_index",
        "pair_graph": f"{out}/pair_graph",
        "kmeans_assign": f"{out}/kmeans_assign",
    }
    build_shingle_index(
        docs, "doc_id", "text", paths["shingle_index"], w=shingle_w,
        max_df=max_df,
    )
    build_ivf_index(
        emb, paths["ivf_index"], n_anchors=n_anchors,
        max_bucket_size=max_bucket_size,
    )
    sig = minhash_signature(docs, "doc_id", "text", n_hashes=n_hashes)
    lsh_candidate_pairs(sig, "doc_id", n_hashes=n_hashes, bands=bands)\
        .write.mode("overwrite").parquet(paths["pair_graph"])
    kmeans_assign(
        emb, "vec_id", "embedding", k=kmeans_k, iters=kmeans_iters,
        dim=embedding_dim,
    ).write.mode("overwrite").parquet(paths["kmeans_assign"])
    return paths


def main(argv: list[str] | None = None) -> dict[str, str]:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--max-df", type=int, default=1000)
    p.add_argument(
        "--n-anchors", type=int, default=None,
        help="IVF anchor count (default: sized from the corpus, ⌈√n⌉)",
    )
    args = p.parse_args(argv)

    from telecom_competitor_analysis_spark.session import get_spark
    from telecom_competitor_analysis_spark.sources.readers import read_parquet

    spark = get_spark(app_name="build_indexes")
    paths = build_all(
        spark,
        args.sf_dir,
        args.out,
        max_df=args.max_df,
        n_anchors=args.n_anchors,
    )
    for name, path in paths.items():
        n = read_parquet(
            spark,
            f"{path}/postings" if name == "shingle_index"
            else f"{path}/assignments" if name == "ivf_index"
            else path
        ).count()
        print(f"{name}: {path} ({n} rows)")
    return paths


if __name__ == "__main__":
    main()
