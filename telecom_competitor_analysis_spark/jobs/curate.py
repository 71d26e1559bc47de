"""Batch curation pipeline — the LLM-scale mirror of the reference's
master DAG shape (reference dags/master_dag.py:22-39 chains scrape ≫
clean ≫ load; here the "clean" stage is a full training-data curation
funnel). The individual screens exist as declared, oracle-checked
queries (q_url_dedup, q_line_filter, q_gopher_rules,
q_quality_classifier, q_minhash_lsh_pairs, q_decontaminate,
q_training_shards); this job COMPOSES them into one runnable main with
per-stage lineage counts — the dataset-card table every corpus release
ships (rows in / dropped / out per screen, so "where did the data go"
is a table, not archaeology).

Stage order is the standard funnel, cheapest-cut-first (the streaming
admission composite's ordering, batch-shaped):

  0 url_dedup       canonical-URL keeper (no content read)
  1 line_filter     C4 line rules — doc survives with >= 3 clean lines
  2 gopher          Gopher document rules (Rae et al. 2021 A1.1.2)
  3 classifier      hashed-linear model score >= 0
  4 exact_dedup     content-digest keeper (min id)
  5 near_dup        MinHash-LSH banded pairs -> lowest-id keeper
  6 decontaminate   drop docs sharing a w-gram with the eval set
  7 shard           deterministic hash shard + stable position

Scale shape: every stage is one of the declared operators; the
composition adds NO new shuffle — each screen gates doc ids and the
survivor set is carried as the (id, text) frame. Each stage boundary
is persisted and counted (the lineage row needs the count, and the
next stage reads the same rows); the previous boundary is
unpersisted as soon as the next one is counted, and the last one
backs the returned shards. At 100 TB each stage boundary would be a
parquet table (the build_indexes materialization pattern).
"""

from __future__ import annotations

import argparse
import json
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.urls import canonicalize_url
from telecom_competitor_analysis_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signature,
)
from telecom_competitor_analysis_spark.operators.quality import (
    c4_line_filter,
    decontaminate,
    gopher_rules,
    hashed_linear_score,
)


def training_shards(
    docs: DataFrame, id_col: str, n_shards: int, salt: str = "shard"
) -> DataFrame:
    """Deterministic hash shard + stable within-shard position (the
    q_training_shards formulation, parameterized): reproducible global
    shuffle, no RNG state, resume-from-position; change ``salt`` for a
    new epoch. One exchange on shard."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}")))
    d = docs.withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int"),
            F.lit(n_shards),
        ),
    ).withColumn("__ord", F.substring(h, 3, 16))
    w = Window.partitionBy("shard").orderBy(
        F.col("__ord").asc(), F.col(id_col).asc()
    )
    return d.withColumn("pos", F.row_number().over(w)).drop("__ord")


def curate_batch(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = "url",
    carry_cols: Sequence[str] = (),
    n_shards: int = 8,
    decontaminate_w: int = 3,
) -> tuple[DataFrame, list[dict]]:
    """Run the full batch curation funnel. Returns (shards, lineage):
    ``shards`` = surviving docs with (id, *carry_cols, text, shard,
    pos); ``lineage`` = the dataset-card rows, one dict per stage with
    {"stage", "rows_in", "rows_dropped", "rows_out"} — counted from
    materialized stage boundaries, so the numbers are the truth of this
    run, not estimates. Stages whose input is absent (no ``url_col``,
    no ``eval_docs``) are SKIPPED and recorded with rows_dropped=0 so
    the card always lists the full funnel."""
    lineage: list[dict] = []
    cols = [F.col(id_col), *[F.col(c) for c in carry_cols],
            F.col(text_col)]
    cur = docs.select(*cols).persist()
    n_cur = cur.count()

    def record(stage: str, survivors: DataFrame, skipped: bool = False):
        nonlocal cur, n_cur
        if not skipped:
            survivors = survivors.persist()
        n_out = n_cur if skipped else survivors.count()
        lineage.append(
            {
                "stage": stage,
                "rows_in": n_cur,
                "rows_dropped": n_cur - n_out,
                "rows_out": n_out,
            }
        )
        if not skipped:
            cur.unpersist()
            cur, n_cur = survivors, n_out

    # 0. URL dedup: keeper = min id per canonical URL (content unread)
    if url_col is not None and url_col in docs.columns:
        canon = docs.select(
            F.col(id_col), canonicalize_url(F.col(url_col)).alias("__cu")
        )
        keepers = canon.groupBy("__cu").agg(F.min(id_col).alias(id_col))
        record(
            "url_dedup",
            cur.join(keepers.select(id_col), on=id_col, how="left_semi"),
        )
    else:
        record("url_dedup", cur, skipped=True)

    # 1. C4 line filter (doc-level verdict: survive with >= 3 clean lines)
    lf = c4_line_filter(cur, id_col, text_col)
    record(
        "line_filter",
        cur.join(lf.select(id_col), on=id_col, how="left_semi"),
    )

    # 2. Gopher document rules
    g = gopher_rules(cur, id_col, text_col).filter(F.col("passes"))
    record(
        "gopher", cur.join(g.select(id_col), on=id_col, how="left_semi")
    )

    # 3. model-based quality classifier (map-only inference)
    q = hashed_linear_score(cur, id_col, text_col).filter(F.col("keep"))
    record(
        "classifier",
        cur.join(q.select(id_col), on=id_col, how="left_semi"),
    )

    # 4. exact dedup: min-id keeper per content digest
    dig = cur.withColumn("__d", F.md5(F.trim(F.col(text_col))))
    ex_keep = dig.withColumn(
        "__k", F.min(F.col(id_col)).over(Window.partitionBy("__d"))
    ).filter(F.col(id_col) == F.col("__k"))
    record("exact_dedup", ex_keep.select(*cols))

    # 5. near-dup: banded MinHash-LSH pairs -> greedy lowest-id keeper
    # (a doc similar to any lower-id keeper drops; chains collapse
    # toward the lowest id — the curate_corpus policy)
    sigs = minhash_signature(cur, id_col, text_col)
    pairs = lsh_candidate_pairs(sigs, id_col)
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    record("near_dup", cur.join(drops, on=id_col, how="left_anti"))

    # 6. eval-set decontamination (w-gram inverted-index join)
    if eval_docs is not None:
        contaminated = (
            decontaminate(
                cur, eval_docs, id_col, text_col, w=decontaminate_w
            )
            .select(F.col("corpus_id").alias(id_col))
            .distinct()
        )
        record(
            "decontaminate",
            cur.join(contaminated, on=id_col, how="left_anti"),
        )
    else:
        record("decontaminate", cur, skipped=True)

    # 7. shard: deterministic hash shard + stable position
    shards = training_shards(cur, id_col, n_shards)
    lineage.append(
        {
            "stage": "shard",
            "rows_in": n_cur,
            "rows_dropped": 0,
            "rows_out": n_cur,
        }
    )
    return shards, lineage


def main(argv: Sequence[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="sf dir with documents.parquet")
    p.add_argument("--out", required=True, help="output dir for shards + lineage")
    p.add_argument("--shards", type=int, default=8)
    args = p.parse_args(argv)

    from telecom_competitor_analysis_spark.session import get_spark
    from telecom_competitor_analysis_spark.sources.readers import load_table

    spark = get_spark(app_name="curate_batch")
    docs = load_table(spark, args.input, "documents")
    # synthetic crawl URL (the q_url_dedup convention) so the URL stage
    # is exercised; a real crawl corpus carries its own url column
    did = F.col("doc_id")
    docs = docs.withColumn(
        "url",
        F.concat(
            F.when(did % 2 == 0, F.lit("https://")).otherwise(
                F.lit("HTTPS://")
            ),
            F.lit("www."),
            F.col("source"),
            F.lit(".example.com/item-"),
            (did % 1000).cast("string"),
            F.lit("?utm_source=feed"),
        ),
    )
    # eval set: every 100th doc plays the benchmark (the q_decontaminate
    # convention); it is EXCLUDED from the training corpus up front
    eval_docs = docs.filter(did % 100 == 0)
    corpus = docs.filter(did % 100 != 0)

    shards, lineage = curate_batch(
        corpus,
        eval_docs=eval_docs,
        carry_cols=("source", "lang"),
        n_shards=args.shards,
    )
    shards.write.mode("overwrite").partitionBy("shard").parquet(
        f"{args.out}/shards"
    )
    spark.createDataFrame(lineage).select(
        "stage", "rows_in", "rows_dropped", "rows_out"
    ).coalesce(1).write.mode("overwrite").parquet(f"{args.out}/lineage")
    print(json.dumps({"dataset_card": lineage}))


if __name__ == "__main__":
    main()
