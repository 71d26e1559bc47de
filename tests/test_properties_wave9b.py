"""Property-based python mirrors for the round-9 second wave: the
declared queries equal straight-Python models of the same rules on
ARBITRARY small corpora (not just the testdata fixtures). Fixture
corpora are written as parquet dirs and fed through the real
query/sf_dir contract, so load_table and column handling are in the
loop too."""

from __future__ import annotations

import hashlib
import math
import os
import tempfile

import pytest

pytestmark = pytest.mark.slow  # full-run default

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from telecom_competitor_analysis_spark.plans import QUERIES

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
doc_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12),
    min_size=2,
    max_size=10,
)


def _write_docs(docs_words, subdir):
    # fresh dir per hypothesis example (a function-scoped tmp_path
    # fixture trips the @given health check)
    d = tempfile.mkdtemp(prefix=f"wave9b_{subdir}_")
    rows = []
    for i, ws in enumerate(docs_words):
        text = " ".join(ws)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": "en",
                "source": f"src{i % 2}",
                "n_chars": len(text),
            }
        )
    pd.DataFrame(rows).to_parquet(os.path.join(d, "documents.parquet"))
    return d


def _micro(x: float) -> int:
    return int(math.floor(abs(x) * 1_000_000 + 0.5)) * (1 if x >= 0 else -1)


# ------------------------------------------------------------------ BLEU


def _py_bleu(ref_ws, cand_ws):
    def grams(ws, n):
        arr = " ".join(ws).split(" ")  # keep '' artifacts like the engine
        return [
            " ".join(arr[i : i + n]) for i in range(len(arr) - n + 1)
        ]

    out = {}
    for n in (1, 2):
        c, r = grams(cand_ws, n), grams(ref_ws, n)
        rc = {}
        for g in r:
            rc[g] = rc.get(g, 0) + 1
        num = 0
        cc = {}
        for g in c:
            cc[g] = cc.get(g, 0) + 1
        for g, k in cc.items():
            num += min(k, rc.get(g, 0))
        out[n] = (num, len(c))
    n1, d1 = out[1]
    n2, d2 = out[2]
    rlen = len(" ".join(ref_ws).split(" "))
    clen = len(" ".join(cand_ws).split(" "))
    if d1 == 0 or d2 == 0 or n1 == 0 or n2 == 0:
        return 0
    bp = 1.0 if clen >= rlen else math.exp(1.0 - float(rlen) / clen)
    return _micro(bp * math.sqrt((float(n1) / d1) * (float(n2) / d2)))


@settings(max_examples=8, deadline=None)
@given(docs=doc_strategy)
def test_bleu_matches_python_mirror(spark, docs):
    d = _write_docs(docs, "bleu")
    got = {
        r.pair_id: r.bleu2_micro
        for r in QUERIES["q_bleu"](spark, d).collect()
    }
    want = {}
    for pid in range(0, len(docs) // 2 + 1):
        if 2 * pid < len(docs) and 2 * pid + 1 < len(docs):
            want[pid] = _py_bleu(docs[2 * pid], docs[2 * pid + 1])
    assert got.keys() == want.keys()
    for pid in got:
        # exp/sqrt may differ by an ulp between libm and the JVM; the
        # single micro-round makes that at most ±1
        assert abs(got[pid] - want[pid]) <= 1, (pid, got[pid], want[pid])


# ------------------------------------------------- Poisson bootstrap


def _poisson1_hex():
    out, cum, term = [], 0.0, math.exp(-1.0)
    for k in range(7):
        cum += term
        out.append(format(int(cum * 2**32), "08x"))
        term /= k + 1
    return out


@settings(max_examples=6, deadline=None)
@given(docs=doc_strategy)
def test_bootstrap_ci_matches_exact_python_mirror(spark, docs):
    d = _write_docs(docs, "boot")
    got = {
        r.source: (
            r.n_docs,
            r.point_mean_micro,
            r.boot_lo_micro,
            r.boot_hi_micro,
        )
        for r in QUERIES["q_bootstrap_ci"](spark, d).collect()
    }
    thresholds = _poisson1_hex()
    by_source: dict[str, list[tuple[int, int]]] = {}
    for i, ws in enumerate(docs):
        by_source.setdefault(f"src{i % 2}", []).append(
            (i, len(" ".join(ws)))
        )
    want = {}
    for src, members in by_source.items():
        means = []
        for rep in range(32):
            sw = cnt = 0
            for doc_id, n_chars in members:
                u = hashlib.md5(f"{doc_id}:{rep}".encode()).hexdigest()[:8]
                w = 7
                for k, h in enumerate(thresholds):
                    if u < h:
                        w = k
                        break
                sw += w * n_chars
                cnt += w
            means.append((0 if cnt == 0 else sw * 1_000_000 // cnt, rep))
        means.sort()
        total = sum(n for _, n in members)
        want[src] = (
            len(members),
            total * 1_000_000 // len(members),
            means[1][0],
            means[30][0],
        )
    assert got == want


# ------------------------------------------------------------ CDC chunks


@settings(max_examples=8, deadline=None)
@given(docs=doc_strategy)
def test_cdc_chunks_matches_exact_python_mirror(spark, docs):
    d = _write_docs(docs, "cdc")
    got = {
        r.chunk_hash: (r.n_docs, r.n_occurrences, r.len_words)
        for r in QUERIES["q_cdc_chunks"](spark, d).collect()
    }
    per_hash: dict[str, list[int]] = {}
    lens: dict[str, int] = {}
    for i, ws in enumerate(docs):
        arr = " ".join(ws).split(" ")
        chunks, cur = [], []
        for w in arr:
            cur.append(w)
            if hashlib.md5(w.encode()).hexdigest()[0] == "0":
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        for ch in chunks:
            h = hashlib.md5(" ".join(ch).encode()).hexdigest()
            per_hash.setdefault(h, []).append(i)
            lens[h] = len(ch)
    want = {
        h: (len(set(ds)), len(ds), lens[h])
        for h, ds in per_hash.items()
        if len(set(ds)) >= 2
    }
    assert got == want


# -------------------------------------------------------------- Spearman


def _py_spearman_micro(pairs):
    """pairs = [(xv, yv)]; double-rank average-rank Spearman, micro."""

    def double_ranks(vals):
        order = sorted(set(vals))
        below = {}
        run = 0
        cnt = {v: vals.count(v) for v in order}
        for v in order:
            below[v] = run
            run += cnt[v]
        return {v: 2 * (below[v] + 1) + cnt[v] - 1 for v in order}

    xs = [p[0] for p in pairs]
    ys = [p[1] for p in pairs]
    dx, dy = double_ranks(xs), double_ranks(ys)
    n = len(pairs)
    sx = sum(dx[x] for x in xs)
    sy = sum(dy[y] for y in ys)
    sxy = sum(dx[x] * dy[y] for x, y in pairs)
    sxx = sum(dx[x] * dx[x] for x in xs)
    syy = sum(dy[y] * dy[y] for y in ys)
    vx = float(n) * sxx - float(sx) * sx
    vy = float(n) * syy - float(sy) * sy
    if vx <= 0 or vy <= 0:
        return 0
    return _micro(
        (float(n) * sxy - float(sx) * sy)
        / (math.sqrt(vx) * math.sqrt(vy))
    )


@settings(max_examples=8, deadline=None)
@given(docs=doc_strategy)
def test_rank_correlation_matches_python_mirror(spark, docs):
    d = _write_docs(docs, "spear")
    got = {
        r.source: (r.n, r.spearman_micro)
        for r in QUERIES["q_rank_correlation"](spark, d).collect()
    }
    by_source: dict[str, list[tuple[int, int]]] = {}
    for i, ws in enumerate(docs):
        text = " ".join(ws)
        by_source.setdefault(f"src{i % 2}", []).append(
            (len(text), len(text.split(" ")))
        )
    want = {
        s: (len(p), _py_spearman_micro(p)) for s, p in by_source.items()
    }
    assert got.keys() == want.keys()
    for s in got:
        assert got[s][0] == want[s][0]
        assert abs(got[s][1] - want[s][1]) <= 1, (s, got[s], want[s])


# ------------------------------------------------------------------ MMR

vec_strategy = st.lists(
    st.lists(st.integers(-3, 3), min_size=4, max_size=4).filter(
        lambda v: any(x != 0 for x in v)
    ),
    min_size=6,
    max_size=14,
)


@settings(max_examples=8, deadline=None)
@given(vecs=vec_strategy)
def test_mmr_matches_python_mirror(spark, vecs):
    import telecom_competitor_analysis_spark.plans.similarity as qx

    d = tempfile.mkdtemp(prefix="wave9b_mmr_")
    dim = 64
    full = [
        [float(x) for x in v] + [0.0] * (dim - 4) for v in vecs
    ]
    pd.DataFrame(
        {
            "vec_id": list(range(len(full))),
            "embedding": full,
            "label": [0] * len(full),
        }
    ).to_parquet(os.path.join(d, "embeddings.parquet"))
    got = sorted(
        (r.rank, r.vec_id)
        for r in QUERIES["q_mmr_select"](spark, d).collect()
    )

    def cos(a, b):
        def dot(x, y):
            acc = 0.0
            for p, q in zip(x, y):
                acc = acc + p * q
            return acc

        return dot(a, b) / (
            math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        )

    q = full[0]
    rel = {
        i: _micro(cos(v, q)) for i, v in enumerate(full) if i != 0
    }
    pool = sorted(rel, key=lambda i: (-rel[i], i))[: qx.MMR_POOL]
    sel = []
    for r in range(1, qx.MMR_SELECT + 1):
        cands = [i for i in pool if i not in sel]
        if not cands:
            break
        if r == 1:
            scored = [(rel[i] * 7, i) for i in cands]
        else:
            scored = [
                (
                    rel[i] * 7
                    - 3
                    * max(
                        _micro(cos(full[i], full[j])) for j in sel
                    ),
                    i,
                )
                for i in cands
            ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        sel.append(scored[0][1])
    want = sorted((r + 1, v) for r, v in enumerate(sel))
    assert got == want


# ----------------------------------------------------------------- Zipf


@settings(max_examples=6, deadline=None)
@given(docs=doc_strategy)
def test_zipf_fit_matches_python_mirror(spark, docs):
    freq: dict[str, int] = {}
    for ws in docs:
        for w in " ".join(ws).split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    top = sorted(freq.items(), key=lambda t: (-t[1], t[0]))[:1000]
    pts = [
        (
            _milli_log(r + 1),
            _milli_log(f),
        )
        for r, (_, f) in enumerate(top)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    if n == 0 or n * sxx - sx * sx == 0:
        # degenerate vocab → zero x-variance → the engine's integer
        # division raises there too; nothing to mirror
        return
    num = (n * sxy - sx * sy) * 1_000_000
    den = n * sxx - sx * sx
    want_slope = -((-num) // den) if num < 0 else num // den  # truncate
    d = _write_docs(docs, "zipf")
    got = QUERIES["q_zipf_fit"](spark, d).collect()[0]
    assert got.n_words == n
    assert abs(got.slope_micro - want_slope) <= 5


def _milli_log(v: int) -> int:
    x = math.log(v) * 1000
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)
