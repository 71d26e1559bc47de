"""Small-size tests of the medallion bronze generator.

    python -m pytest perfbench/tests -q

The generator's expected appends are checked twice: against a recount from
the JSON files it wrote, and against `jobs.run_pipeline.run` itself.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

from bronze import GOLD_TABLES, BronzeGenerator  # noqa: E402

FEATURES = ("product_url", "data", "minutes", "sms", "upload_speed",
            "download_speed")


def _write_days(root: str, seed: int, days: int) -> list[dict]:
    gen = BronzeGenerator(seed, products=300, competitors=4, price_rate=0.2,
                          feature_rate=0.1, new_rate=0.05, delist_rate=0.05)
    return [gen.day(os.path.join(root, f"day{d}"), d) for d in range(days)]


def _load(day_dir: str, kind: str) -> dict[tuple, dict]:
    rows = {}
    for f in sorted(os.listdir(day_dir)):
        if f.endswith(f"_{kind}.json"):
            with open(os.path.join(day_dir, f)) as fh:
                for r in json.load(fh)[kind]:
                    name = r["product_name" if kind == "products" else "pack_name"]
                    rows[(r["competitor_name"], name)] = r
    return rows


def _recount(root: str, days: int) -> list[dict]:
    """Appends per day derived from the files alone."""
    out, prev, seen_packs = [], {}, set()
    for d in range(days):
        cur = _load(os.path.join(root, f"day{d}"), "products")
        packs = set(_load(os.path.join(root, f"day{d}"), "packs"))
        new = [k for k in cur if k not in prev]
        feat = {k for k in cur if k in prev
                and any(cur[k][c] != prev[k][c] for c in FEATURES)}
        price = {k for k in cur if k in prev
                 and cur[k]["price"] != prev[k]["price"]}
        out.append({
            "competitors": len({c for c, _ in cur}) if d == 0 else 0,
            "products": len(new),
            "features": len(new) + len(feat),
            "product_prices": len(new) + len(feat | price),
            "packs": len(packs - seen_packs),
        })
        prev, seen_packs = cur, seen_packs | packs
    return out


def test_expected_appends_match_the_files(tmp_path):
    expected = _write_days(str(tmp_path), seed=7, days=4)
    assert expected == _recount(str(tmp_path), 4)
    assert all(set(e) == set(GOLD_TABLES) for e in expected)
    assert sum(e["product_prices"] for e in expected[1:]) > 0


def test_same_seed_same_days(tmp_path):
    a = _write_days(str(tmp_path / "a"), seed=3, days=3)
    b = _write_days(str(tmp_path / "b"), seed=3, days=3)
    assert a == b
    for d in range(3):
        for f in os.listdir(tmp_path / "a" / f"day{d}"):
            assert ((tmp_path / "a" / f"day{d}" / f).read_bytes()
                    == (tmp_path / "b" / f"day{d}" / f).read_bytes())


def test_days_must_be_generated_in_order(tmp_path):
    gen = BronzeGenerator(1, products=20, competitors=2)
    with pytest.raises(ValueError):
        gen.day(str(tmp_path), 1)


def test_pipeline_appends_what_the_generator_expects(tmp_path):
    pytest.importorskip("pyspark")
    from telecom_competitor_analysis_spark.jobs.run_pipeline import run
    from telecom_competitor_analysis_spark.session import get_spark

    spark = get_spark(app_name="perfbench-bronze-test", master="local[2]",
                      shuffle_partitions=2)
    expected = _write_days(str(tmp_path / "bronze"), seed=11, days=3)
    for d, want in enumerate(expected):
        got = run(spark, str(tmp_path / "bronze" / f"day{d}"),
                  str(tmp_path / "silver"), str(tmp_path / "gold"))
        assert got == want, f"day {d}"
    for table in GOLD_TABLES:
        rows = spark.read.parquet(str(tmp_path / "gold" / table)).count()
        assert rows == sum(e[table] for e in expected), table
