"""Repartition-invariance: float-carrying query results must not depend
on shuffle partitioning (accumulation order, partition layout, task
scheduling). This is the failure class that made q_embedding_outlier's
rank flaky in round 3 (window ordered by an unrounded avg()-derived
cosine) — pin it for every float-sensitive query."""

from __future__ import annotations

import pytest

from telecom_competitor_analysis_spark.plans import QUERIES
from tests.oracle_utils import canonical_rows

# queries whose outputs carry floats derived from aggregations/joins —
# the ones where partition layout could leak into values or ranks
FLOAT_SENSITIVE = [
    "q_embedding_outlier",
    "q_tfidf",
    "q_session_stats",
    "q_moving_avg",
    "q_minhash_jaccard_est",
    "q_random_projection",
    "q_winsorize",
    "q_embedding_quantize",
    "q_key_skew",
]


@pytest.mark.parametrize("name", FLOAT_SENSITIVE)
def test_result_invariant_under_repartitioning(spark, sf_dir, name):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = canonical_rows(QUERIES[name](spark, sf_dir).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = canonical_rows(QUERIES[name](spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b, f"{name}: result depends on shuffle partitioning"
