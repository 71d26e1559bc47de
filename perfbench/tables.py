"""Seeded generator for the relational/text test tables the declared queries
read (region nation customer supplier part orders lineitem events documents
embeddings), and the expected-result digests of the query workloads.

The tables follow the shape of the engine's sf-scaled testdata (TESTDATA.md):
uniform TPC-H-ish keys and values, 2-decimal money columns, an `events`
stream over January 2024 with a `{"k": n}` JSON payload, documents drawn
from a 30-word vocabulary with ~5% near-duplicates, and 64-d unit
embeddings with ten weak label clusters. Row counts scale with `sf` like the
testdata's (sf=0.01 gives 60k lineitem rows).

The data does not depend on the benchmark seed: it is a fixed dataset, so
the DuckDB oracle results are computed once per checkout and reused
(`expected_digests`).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DATA_SEED = 42
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column order small join query customer "
    "stream group filter big vector"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform 2-decimal money values in [lo, hi) cents."""
    return rng.integers(lo, hi, n) / 100.0


def _days(rng, start: datetime, end: datetime, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.date(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            # near-duplicate: an earlier doc with one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        elif i > 0 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])  # exact copy
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS[:30], k)))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n,
                       p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = 0.35 * centers[labels] + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, sf: float) -> None:
    """Write one single-row-group parquet file per table into `out_dir`."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else 2000
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part),
                           rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": _days(rng, datetime(1995, 1, 1),
                                 datetime(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, datetime(1995, 1, 2),
                                datetime(2001, 11, 4), n_li),
        }),
    }
    month_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(month_us / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64(datetime(2024, 1, 1), "us") + np.minimum(
        np.cumsum(gaps), month_us - 1).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(5000, n_ev)).clip(1) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_emb)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))


# --- expected results -------------------------------------------------------


def _canon(v) -> str:
    """One value as the engine's oracle-parity tests canonicalise it
    (tests/oracle_utils.py)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return str(int(v)) if v.is_integer() else repr(v)
    return str(v)


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas result: column names sorted,
    values canonicalised per column, rows sorted, then hashed."""
    cols = sorted(pdf.columns)
    rows = sorted(zip(*[[_canon(v) for v in pdf[c].tolist()] for c in cols]))
    h = hashlib.sha256(json.dumps(cols).encode())
    for row in rows:
        h.update(json.dumps(row).encode())
    return f"{len(rows)}:{h.hexdigest()}"


def _data_key(sf_dir: str, sqls: dict[str, str]) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(json.dumps(sqls, sort_keys=True).encode())
    return h.hexdigest()[:24]


def expected_digests(sf_dir: str, sqls: dict[str, str], cache_dir: str
                     ) -> dict[str, str]:
    """Digest of each oracle's DuckDB result over the tables in `sf_dir`.

    Cached under `cache_dir` by a hash of the table bytes and the SQL text,
    so the oracles run once per checkout and again only when the data or an
    oracle changes."""
    path = os.path.join(cache_dir, f"digests-{_data_key(sf_dir, sqls)}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        out = {name: digest(con.execute(sql).df())
               for name, sql in sqls.items()}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return out

