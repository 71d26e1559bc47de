"""Source/sink format breadth: schema-enforced CSV and ORC round-trips
(parquet and JSON/NDJSON are covered everywhere else), plus the public
operator API import surface."""

from __future__ import annotations

import shutil
import tempfile


def test_csv_roundtrip_with_schema(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import load_table

    tmp = tempfile.mkdtemp(prefix="csv_")
    try:
        nation = load_table(spark, sf_dir, "nation")
        nation.write.mode("overwrite").option("header", True).csv(f"{tmp}/n")
        back = (
            spark.read.schema(nation.schema)
            .option("header", True)
            .csv(f"{tmp}/n")
        )
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, nation.collect())
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_orc_roundtrip(spark, sf_dir):
    from telecom_competitor_analysis_spark.sources.readers import load_table

    tmp = tempfile.mkdtemp(prefix="orc_")
    try:
        region = load_table(spark, sf_dir, "region")
        region.write.mode("overwrite").orc(f"{tmp}/r")
        back = spark.read.orc(f"{tmp}/r")
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, region.collect())
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_operator_api_surface():
    """The package exports the full operator API (guards the __init__
    re-exports against drift)."""
    import telecom_competitor_analysis_spark.operators as ops

    for name in (
        "asof_join", "curate_corpus", "curate_incremental", "hash_split",
        "dedup_clusters", "exact_dedup_groups", "lsh_candidate_pairs",
        "minhash_signature", "shingle_jaccard_pairs", "simhash",
        "anti_join_new", "changed_records", "first_per_key",
        "latest_per_key", "lookup_join", "null_safe_diff",
        "as_media_table", "decode_media", "frame_sample",
        "cosine_topk", "incremental_topk", "ivf_topk", "lsh_bucketed_topk",
        "salted_join", "pack_cross_join", "star_split",
    ):
        assert callable(getattr(ops, name)), name


def test_range_clustered_write_produces_disjoint_files(spark, sf_dir, tmp_path):
    """write_range_clustered must produce parquet files whose min/max
    ranges on the cluster column are pairwise disjoint (checked from the
    actual footers), so range predicates prune whole files at scan time."""
    import pyarrow.parquet as pq

    from telecom_competitor_analysis_spark.sources.readers import load_table
    from telecom_competitor_analysis_spark.sources.writers import (
        write_range_clustered,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    out = str(tmp_path / "clustered")
    write_range_clustered(li, out, "l_extendedprice", n_files=6)

    import glob

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            col = next(
                meta.row_group(rg).column(i)
                for i in range(meta.num_columns)
                if meta.row_group(rg).column(i).path_in_schema
                == "l_extendedprice"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 3  # actually split into multiple files
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b  # disjoint (boundary equality allowed)

    # a narrow range predicate must be pushed to the scan
    back = spark.read.parquet(out).filter(
        "l_extendedprice > 100.0 AND l_extendedprice < 200.0"
    )
    plan = back._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "l_extendedprice" in plan
