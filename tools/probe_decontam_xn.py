"""Adjudicate q_semantic_decontaminate's xN ratio (r10 VERDICT item 4).

The declared query screens EVERY eval vector (vec_id % 40 == 0) against
the 8-anchor IVF buckets, so its candidate volume is |eval| * nprobe *
avg-bucket-size. The make_xn replica build grows the eval slice WITH the
corpus (replica offsets are multiples of 40), while a production eval
set is fixed-size — so the xN wall ratio compounds two growths that a
real 100 TB run would not see together.

This probe separates them:
  leg A: the declared query (eval grows with corpus) — the flagged case;
  leg B: a fixed-eval variant (eval = replica-0 slice only, constant
         |eval| at every N) — the production shape;
plus the candidate-volume COUNTS for both legs, so the wall ratios can
be checked against the pair-volume arithmetic instead of guessed at.

Usage: SPARK_DRIVER_MEMORY=48g python tools/probe_decontam_xn.py \
           /tmp/sfx10 [/tmp/sfx100 ...]
"""

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.operators.similarity import (
    cosine,
    ivf_probe,
)
from telecom_competitor_analysis_spark.plans.similarity import (
    _materialized_ivf_index,
)
from telecom_competitor_analysis_spark.session import get_spark
from telecom_competitor_analysis_spark.sources.readers import load_table

REPLICA0_CAP = 10_000_000  # make_xn offsets ids by r * 1e7


def decontam(spark, sf_dir, fixed_eval: bool):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _materialized_ivf_index(spark, sf_dir)
    anchors = spark.read.parquet(f"{idx}/anchors")
    cand = spark.read.parquet(f"{idx}/assignments").where(
        F.pmod(F.col("neighbor_id"), F.lit(40)) != 0
    )
    eval_q = emb.where(F.pmod(F.col("vec_id"), F.lit(40)) == 0)
    if fixed_eval:
        eval_q = eval_q.where(F.col("vec_id") < REPLICA0_CAP)
    eval_q = eval_q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
    )
    probes = ivf_probe(eval_q, anchors, nprobe=2, probe_id_col="query_id")
    hits = cand.join(F.broadcast(probes), on="bucket").where(
        cosine(F.col("q_vec"), F.col("c_vec")) >= 0.3
    )
    out = hits.groupBy(F.col("neighbor_id").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
        F.min("query_id").cast("long").alias("first_eval_id"),
    )
    return eval_q, probes, cand, out


def main():
    dirs = sys.argv[1:] or ["/tmp/sfx10"]
    spark = get_spark(app_name="probe_decontam")
    spark.range(1).count()
    for sf_dir in ["/root/testdata/sf0.1"] + dirs:
        for fixed in (False, True):
            label = "fixed-eval" if fixed else "declared  "
            eval_q, probes, cand, out = decontam(spark, sf_dir, fixed)
            n_eval = eval_q.count()
            bucket_sizes = cand.groupBy("bucket").count()
            cand_vol = (
                probes.select("query_id", "bucket")
                .join(bucket_sizes, on="bucket")
                .agg(F.sum("count"))
                .collect()[0][0]
            )
            out.write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                _, _, _, o2 = decontam(spark, sf_dir, fixed)
                o2.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            print(
                f"{sf_dir:22s} {label} |eval|={n_eval:>7,} "
                f"cand_vol={cand_vol:>12,} wall={best:.2f}s",
                flush=True,
            )


if __name__ == "__main__":
    main()
