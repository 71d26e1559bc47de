"""Behavioral bounds for the four rows-only-by-design queries (r6
VERDICT item 8): they are legitimately non-oracle-able (engine-specific
sketch layouts, JVM-seeded ML hash families, stubbed byte decode), but
"rows-only" must never decay into "unchecked" — each gets a quantitative
bound against an independent exact computation.

All four checks are DETERMINISTIC for fixed testdata (the sketches and
the seeded ML hash family are reproducible run-to-run), so a pass here
is a pin, not a flaky statistical coin-flip.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.sources.readers import load_table


def test_approx_distinct_within_hll_error(spark, sf_dir):
    """HyperLogLog++ estimates per group within 3x the default relative
    standard deviation (rsd=0.05) of the exact distinct count — the
    sketch's own accuracy contract."""
    est = {
        r.o_orderpriority: r.approx_customers
        for r in QUERIES["q_approx_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r.o_orderpriority: r.n
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(3, 0.15 * n), (
            f"{k}: HLL {est[k]} vs exact {n}"
        )


def test_approx_quantile_within_rank_error(spark, sf_dir):
    """approx_percentile(accuracy=1000) guarantees rank error <= n/1000:
    the p50/p95 estimates must fall between the EXACT quantiles at
    q +/- 0.01 (10x the guaranteed eps, no false alarms on ties)."""
    est = {
        r.event_type: (r.p50_est, r.p95_est)
        for r in QUERIES["q_approx_quantile"](spark, sf_dir).collect()
    }
    brackets = {
        r.event_type: (r.lo50, r.hi50, r.lo95, r.hi95)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.49)").alias("lo50"),
            F.expr("percentile(value, 0.51)").alias("hi50"),
            F.expr("percentile(value, 0.94)").alias("lo95"),
            F.expr("percentile(value, 0.96)").alias("hi95"),
        )
        .collect()
    }
    assert set(est) == set(brackets)
    for k, (p50, p95) in est.items():
        lo50, hi50, lo95, hi95 = brackets[k]
        assert lo50 <= p50 <= hi50, f"{k}: p50 {p50} outside [{lo50},{hi50}]"
        assert lo95 <= p95 <= hi95, f"{k}: p95 {p95} outside [{lo95},{hi95}]"


def test_minhash_ml_agrees_with_exact_jaccard(spark, sf_dir):
    """The ML MinHashLSH join (seeded, JVM hash family): (a) respects its
    own 0.8 distance threshold, (b) reported distances agree with the
    EXACT distinct-3-shingle Jaccard within the HashingTF collision
    tolerance, and (c) every verbatim-duplicate pair (identical text →
    identical shingle set, which collides in EVERY hash table) appears
    with distance 0 — the deterministic recall floor."""
    out = QUERIES["q_minhash_ml"](spark, sf_dir).collect()
    assert out, "ML LSH join returned nothing on a corpus with dups"

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
        ["doc_id", "text"]
    ]

    def shingle_set(t: str) -> set[str]:
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sh = {r.doc_id: shingle_set(r.text) for r in docs.itertuples()}
    for r in out:
        assert r.id_a < r.id_b
        assert r.jaccard_dist <= 0.8
        a, b = sh[r.id_a], sh[r.id_b]
        exact = 1.0 - len(a & b) / len(a | b)
        assert abs(r.jaccard_dist - exact) <= 0.02, (
            f"({r.id_a},{r.id_b}): ML {r.jaccard_dist} vs exact {exact}"
        )

    dup_pairs = set()
    by_text: dict[str, list[int]] = {}
    for r in docs.itertuples():
        by_text.setdefault(r.text, []).append(r.doc_id)
    for ids in by_text.values():
        ids.sort()
        dup_pairs.update(
            (ids[i], ids[j])
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
        )
    found0 = {(r.id_a, r.id_b) for r in out if r.jaccard_dist == 0.0}
    assert dup_pairs <= found0, (
        f"verbatim dups missed: {sorted(dup_pairs - found0)[:5]}"
    )


def test_multimodal_decode_matches_independent_recompute(spark, sf_dir):
    """The stubbed decoder is a DETERMINISTIC function of the payload
    bytes: recompute every row's width/height/n_frames/checksum in plain
    pandas from the parquet (no Spark in the loop) and require exact
    equality — the strongest check a stub admits, and it pins the whole
    mapInPandas plumbing (schema, batching, null handling)."""
    from telecom_competitor_analysis_spark.operators.multimodal import (
        _fake_decode,
    )

    got = {
        r.media_id: (
            r.media_type,
            r.byte_len,
            r.width,
            r.height,
            r.n_frames,
            r.checksum,
        )
        for r in QUERIES["q_multimodal_decode"](spark, sf_dir).collect()
    }
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
        ["doc_id", "text"]
    ]
    assert len(got) == len(docs)
    types = ("image", "audio", "video")
    for r in docs.itertuples():
        payload = r.text.encode("utf-8")
        w, h, nf, ck = _fake_decode(payload)
        expect = (types[r.doc_id % 3], len(payload), w, h, nf, ck)
        assert got[r.doc_id] == expect, f"doc {r.doc_id}"
