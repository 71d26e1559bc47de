"""Seeded bronze generator for the medallion workload.

Day 0 is a full scrape of every competitor's catalogue; each later day
changes a fixed share of it: price changes, feature changes, new products
and delisted products. Competitor catalogue sizes are skewed (Zipf-like).
Every day is one directory holding one wrapped-JSON `<competitor>_products.json`
(`{"products": [...]}`) and one `<competitor>_packs.json` per competitor,
the layout `jobs.run_pipeline.run` reads.

Alongside the files the generator derives, from its own state, the exact
number of rows `run` must append to each gold table on each day, so the
pipeline's output can be checked without a second implementation of it:

- competitors: day 0 only;
- products: new products;
- features: new products plus products whose features changed;
- product_prices: those plus products whose price alone changed;
- packs: new packs.

Feature changes never revert (a changed value is always one the product
never had), so a changed product always gets a fresh feature key.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np

GOLD_TABLES = ("competitors", "products", "features", "product_prices", "packs")
CATEGORIES = ("mobile_prepaid", "mobile_subscription", "internet_subscription")


@dataclass
class Product:
    name: str
    category: str
    price_cents: int
    data: float
    minutes: float | None
    sms: int | None
    upload: str | None
    download: str | None
    changes: int = 0

    def record(self, competitor: str, day: str) -> dict:
        return {
            "product_name": self.name,
            "competitor_name": competitor,
            "product_category": self.category,
            "product_url": f"https://www.{competitor}.example/{self.name}",
            "price": self.price_cents / 100.0,
            "scraped_at": day,
            "data": self.data,
            "minutes": self.minutes,
            "sms": self.sms,
            "upload_speed": self.upload,
            "download_speed": self.download,
        }


@dataclass
class Catalogue:
    products: dict[str, Product] = field(default_factory=dict)
    packs: list[str] = field(default_factory=list)
    next_id: int = 0


def _new_product(rng, competitor: str, pid: int) -> Product:
    cat = CATEGORIES[int(rng.integers(0, 3))]
    price = int(rng.integers(500, 9000))
    name = f"{cat}_{competitor}_{pid}"
    if cat == "internet_subscription":
        down = int(rng.choice([50, 100, 200, 500, 1000]))
        return Product(name, cat, price, -1.0, None, None, f"{down // 5}mbps",
                       "1gbps" if down == 1000 else f"{down}mbps")
    if rng.random() < 0.1:  # unlimited bundle: -1 sentinels
        return Product(name, cat, price, -1.0, -1.0, -1, None, None)
    return Product(name, cat, price, float(rng.integers(1, 200)),
                   float(rng.integers(0, 50) * 60), int(rng.integers(0, 500)),
                   None, None)


def _change_features(p: Product) -> None:
    """Move one feature to a value the product never had before."""
    p.changes += 1
    if p.category == "internet_subscription":
        p.download = f"{2000 + 25 * p.changes}mbps"
    else:
        p.data = 1000.0 + p.changes


def _change_price(rng, p: Product) -> None:
    step = int(rng.integers(1, 500))
    p.price_cents += step if p.price_cents <= 500 or rng.random() < 0.5 else -step


class BronzeGenerator:
    """Generates the bronze days of one seeded medallion run.

    The `competitors` catalogues hold `products` products in total on day 0,
    split Zipf-like. `day(out_dir, d)` writes day `d` (in order, from 0) and
    returns the expected appends per gold table."""

    def __init__(self, seed: int, products: int, competitors: int = 20,
                 price_rate: float = 0.05, feature_rate: float = 0.02,
                 new_rate: float = 0.005, delist_rate: float = 0.005):
        self.rng = np.random.default_rng(seed)
        self.rates = (price_rate, feature_rate, new_rate, delist_rate)
        weights = 1.0 / np.arange(1, competitors + 1) ** 0.8
        sizes = np.maximum(1, np.round(products * weights / weights.sum()))
        self.catalogues: dict[str, Catalogue] = {}
        for i, size in enumerate(sizes.astype(int)):
            name = f"competitor{i:02d}"
            cat = Catalogue()
            for _ in range(size):
                self._add(name, cat)
            cat.packs = [f"pack_{name}_{k}" for k in range(max(1, size // 100))]
            self.catalogues[name] = cat
        self.next_day = 0

    def _add(self, competitor: str, cat: Catalogue) -> None:
        p = _new_product(self.rng, competitor, cat.next_id)
        cat.products[p.name] = p
        cat.next_id += 1

    def _evolve(self, competitor: str, cat: Catalogue) -> dict[str, int]:
        price_rate, feature_rate, new_rate, delist_rate = self.rates
        rng = self.rng
        names = list(cat.products)
        n = len(names)
        for i in rng.choice(n, int(rng.binomial(n, delist_rate)), replace=False):
            del cat.products[names[i]]
        survivors = list(cat.products.values())
        feat = rng.random(len(survivors)) < feature_rate
        price = rng.random(len(survivors)) < price_rate
        for p, f, c in zip(survivors, feat, price):
            if f:
                _change_features(p)
            if c:
                _change_price(rng, p)
        new = int(rng.binomial(n, new_rate))
        for _ in range(new):
            self._add(competitor, cat)
        new_packs = int(rng.random() < 0.2)
        cat.packs += [f"pack_{competitor}_{len(cat.packs) + k}"
                      for k in range(new_packs)]
        return {
            "products": new,
            "features": new + int(feat.sum()),
            "product_prices": new + int((feat | price).sum()),
            "packs": new_packs,
        }

    def day(self, out_dir: str, d: int) -> dict[str, int]:
        """Write day `d` into `out_dir`; return its expected gold appends."""
        if d != self.next_day:
            raise ValueError(f"day {d} requested, next is {self.next_day}")
        self.next_day += 1
        expected = dict.fromkeys(GOLD_TABLES, 0)
        stamp = (date(2024, 3, 1) + timedelta(days=d)).isoformat()
        os.makedirs(out_dir, exist_ok=True)
        for competitor, cat in self.catalogues.items():
            if d == 0:
                expected["competitors"] += 1
                for table in ("products", "features", "product_prices"):
                    expected[table] += len(cat.products)
                expected["packs"] += len(cat.packs)
            else:
                for table, n in self._evolve(competitor, cat).items():
                    expected[table] += n
            products = [p.record(competitor, stamp)
                        for p in cat.products.values()]
            packs = [{
                "competitor_name": competitor,
                "pack_name": pack,
                "pack_url": f"https://www.{competitor}.example/{pack}",
                "pack_description": f"{pack} bundle",
                "price": 25.0 + k % 40,
                "scraped_at": stamp,
                "mobile_product_name": None,
                "internet_product_name": None,
            } for k, pack in enumerate(cat.packs)]
            for kind, rows in (("products", products), ("packs", packs)):
                with open(os.path.join(out_dir, f"{competitor}_{kind}.json"),
                          "w") as fh:
                    json.dump({kind: rows}, fh)
        return expected

    def product_rows(self) -> int:
        """Products in the most recently generated day."""
        return sum(len(c.products) for c in self.catalogues.values())
