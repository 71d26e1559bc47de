"""Behavioral tests for the DoReMi reweighting step and the T5
span-corruption pair builder — algebraic invariants and a
hand-computed fixture (the oracle sweep proves engine agreement; these
pin that the update/masking mean what the papers say)."""

from __future__ import annotations

import hashlib

from telecom_competitor_analysis_spark.plans import QUERIES


def test_doremi_weights_normalize_and_order(spark, sf_dir):
    rows = QUERIES["q_doremi_step"](spark, sf_dir).collect()
    assert len(rows) >= 2
    # the min-proxy domain has zero excess and the floor factor 1M
    floor = min(rows, key=lambda r: r.proxy_micro)
    assert floor.excess_micro == 0 and floor.factor_micro == 1_000_000
    # weights normalize to ~1 (integer-truncation slack < #domains)
    s = sum(r.w_micro for r in rows)
    assert 1_000_000 - len(rows) <= s <= 1_000_000
    # monotone: more excess loss ⇒ at least as much weight
    by_excess = sorted(rows, key=lambda r: r.excess_micro)
    ws = [r.w_micro for r in by_excess]
    assert ws == sorted(ws)
    # smoothing pulls every weight TOWARD uniform
    k = len(rows)
    uni = 1_000_000 // k
    for r in rows:
        lo, hi = sorted((r.w_micro, uni))
        assert lo - 1 <= r.w_smoothed_micro <= hi + 1


def test_span_corruption_hand_fixture(spark, tmp_path):
    # 10 words → chunks [w0 w1 w2][w3 w4 w5][w6 w7 w8][w9]; chunks 0 and
    # 7 masked — only chunk 0 exists here, so inputs collapse it to
    # <extra_id_0> and targets carry it after the same sentinel
    words = [f"w{i}" for i in range(10)]
    spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = QUERIES["q_span_corruption"](spark, str(tmp_path)).collect()[0]
    inputs = "<extra_id_0> " + " ".join(words[3:])
    targets = "<extra_id_0> w0 w1 w2"
    assert r.n_words == 10 and r.n_masked_words == 3 and r.n_spans == 1
    assert r.corruption_micro == 3 * 1_000_000 // 10
    assert r.inputs_md5 == hashlib.md5(inputs.encode()).hexdigest()
    assert r.targets_md5 == hashlib.md5(targets.encode()).hexdigest()


def test_span_corruption_rate_near_t5_operating_point(spark, sf_dir):
    # corpus-wide corruption ratio converges to the deterministic 1/7
    # chunk rate (~14.3%, T5's ~15%); short docs overshoot (a 24-word
    # doc has 8 chunks, 2 masked = 25%), so bound only docs with >= 20
    # chunks where the rate sits in [10%, 20%]
    rows = QUERIES["q_span_corruption"](spark, sf_dir).collect()
    long_docs = [r for r in rows if r.n_words >= 60]
    assert long_docs
    for r in long_docs:
        assert 100_000 <= r.corruption_micro <= 200_000
        # sentinel count == number of masked chunks
        assert r.n_spans >= 1
        assert r.n_masked_words <= 3 * r.n_spans
