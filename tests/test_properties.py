"""Property-based tests (hypothesis): the native column expressions agree
with a straight-Python model of the reference semantics on arbitrary
inputs — not just the hand-picked A6 fixtures.

The declared queries at the end (BLEU, Poisson bootstrap, CDC chunks,
Spearman, MMR, Zipf) equal straight-Python models of the same rules on
arbitrary small corpora. Fixture corpora are written as parquet dirs and
fed through the real query/sf_dir contract, so load_table and column
handling are in the loop too."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # full-run default; excluded by the -m 'not slow' fast tier

import hashlib
import math
import os
import re
import tempfile

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.functions.cleaning import (
    convert_speed,
    digits_only,
    unlimited_to_float,
)
from telecom_competitor_analysis_spark.plans import QUERIES

# unit forms, numbers, junk. Alphabet is ASCII + representative non-ASCII
# (accents, currency, arabic digit): the goal is semantic coverage, not
# chasing Java-vs-Python unicode trivia (NEL-as-whitespace, locale
# lowercasing) — the engine's Java semantics are the spec there.
JUNK_ALPHABET = (
    "abcdefgmpsGMPS0123456789 .#-€é٣Ω"
)
speedish = st.one_of(
    st.from_regex(r"[0-9]{1,4} ?(mbps|gbps|Mbps|GBPS)", fullmatch=True),
    st.from_regex(r"[0-9]{1,6}(\.[0-9]{1,3})?", fullmatch=True),
    st.text(alphabet=JUNK_ALPHABET, max_size=20),
    st.none(),
)


def _model_convert_speed(v):
    # ASCII-digit semantics: Java regex \d is ASCII-only (the engine is the
    # spec; Python's unicode-digit \d is the outlier)
    if v is None:
        return None
    # Spark trim strips the space char only; Java \s is ASCII whitespace
    s = str(v).strip(" ").lower()
    m = re.search(r"([0-9]+)[ \t\n\r\f\x0b]*(mbps|gbps)", s)
    if m:
        return float(m.group(1)) * (1000.0 if m.group(2) == "gbps" else 1.0)
    if re.fullmatch(r"[0-9]+(\.[0-9]+)?", s):
        return float(s)
    return None


def _model_unlimited(v):
    # ASCII numeric forms only — Spark's cast rejects unicode digits that
    # Python's float() accepts (e.g. '٣')
    if v is None:
        return None
    s = str(v).strip()
    if s.lower() == "unlimited":
        return -1.0
    if re.fullmatch(r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?", s):
        return float(s)
    return None


def _model_digits(v):
    if v is None:
        return None
    d = "".join(ch for ch in str(v) if ch.isdigit() and ch.isascii())
    if not d:
        return None
    n = int(d)
    # digits_only uses try_cast: bigint overflow → null
    return n if n < 2**63 else None


@settings(max_examples=20, deadline=None)
@given(st.lists(speedish, min_size=1, max_size=30))
def test_convert_speed_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    got = [r.y for r in df.select(convert_speed(F.col("x")).alias("y")).collect()]
    assert got == [_model_convert_speed(v) for v in values]


@settings(max_examples=20, deadline=None)
@given(st.lists(speedish, min_size=1, max_size=30))
def test_unlimited_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    got = [
        r.y for r in df.select(unlimited_to_float(F.col("x")).alias("y")).collect()
    ]
    want = [_model_unlimited(v) for v in values]
    for g, w in zip(got, want):
        # Spark casts some exotic numerics (inf/nan spellings) differently;
        # compare only where the model is defined
        if w is not None:
            assert g == w


@settings(max_examples=20, deadline=None)
@given(st.lists(speedish, min_size=1, max_size=30))
def test_digits_only_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    got = [r.y for r in df.select(digits_only(F.col("x")).alias("y")).collect()]
    assert got == [_model_digits(v) for v in values]


_WIDE_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=30,
)


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(_WIDE_TEXT, min_size=1, max_size=20))
def test_digits_only_wide_unicode(spark, texts):
    """Broader alphabet than speedish (arbitrary BMP text): digits_only
    must agree with the ASCII-digit Python model on anything."""
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [r.g for r in df.select(digits_only(F.col("s")).alias("g")).collect()]
    assert got == [_model_digits(t) for t in texts]


@settings(max_examples=5, deadline=None)
@given(ns=st.lists(st.integers(0, 10**6), min_size=1, max_size=20))
def test_convert_speed_unit_forms(spark, ns):
    """Constructed unit forms: gbps×1000, case/whitespace-insensitive,
    unit mid-string, bare numeric passthrough, garbage → null."""
    rows = []
    for n in ns:
        rows.append((f"{n}gbps", float(n) * 1000.0))
        rows.append((f"  {n}MBPS ", float(n)))
        rows.append((str(n), float(n)))
        rows.append((f"speed: {n} mbps!", float(n)))
    rows.append(("no digits here", None))
    rows.append(("", None))
    df = spark.createDataFrame(rows, "s string, expected double")
    got = df.select(convert_speed(F.col("s")).alias("g"), "expected").collect()
    for r in got:
        assert r.g == r.expected, f"{r}"


def test_stratified_sample_monotone_and_model_exact(spark):
    """Membership is a pure function of md5(id): (a) it matches a
    straight-Python model exactly, and (b) raising a stratum's rate only
    ever ADDS members (monotone nesting — what makes mix re-weighting
    reproducible without resampling)."""
    import hashlib

    from telecom_competitor_analysis_spark.operators.curate import (
        HEX_BOUND_CHARS,
        _hex_bound,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "s") for i in range(500)], "id long, stratum string"
    ).cache()

    def model(rate):
        bound = _hex_bound(rate)
        return {
            i for i in range(500)
            if hashlib.md5(f"{i}|mix".encode()).hexdigest()[:HEX_BOUND_CHARS]
            < bound
        }

    prev: set[int] = set()
    for rate in (0.0, 0.1, 0.35, 0.5, 0.9, 1.0):
        got = {r.id for r in
               stratified_sample(df, "id", "stratum", {"s": rate}).collect()}
        assert got == model(rate), f"rate={rate}"
        assert prev <= got, f"membership not monotone at rate={rate}"
        prev = got


def test_sequence_pack_invariants(spark):
    """For any token-count sequence: offsets stay inside the sequence
    length, chunk ids are non-decreasing in id order, and (chunk_id,
    chunk_offset) reconstructs the exact cumulative start position."""
    import random

    from telecom_competitor_analysis_spark.operators.curate import (
        sequence_pack,
    )

    rng = random.Random(11)
    rows = [(i, f"p{i % 3}", rng.randint(0, 5000)) for i in range(200)]
    seq_len = 1024
    got = sorted(
        sequence_pack(
            spark.createDataFrame(rows, "id long, part string, n long"),
            "id", "n", "part", seq_len=seq_len,
        ).collect(),
        key=lambda r: (r.part, r.id),
    )
    cum: dict[str, int] = {}
    last_chunk: dict[str, int] = {}
    for r in got:
        start = cum.get(r.part, 0)
        assert 0 <= r.chunk_offset < seq_len
        assert r.chunk_id * seq_len + r.chunk_offset == start
        assert r.chunk_id >= last_chunk.get(r.part, 0)  # non-decreasing
        cum[r.part] = start + r.n
        last_chunk[r.part] = r.chunk_id


_WORDS = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"])
_DOC = st.lists(_WORDS, min_size=3, max_size=12).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(_DOC, min_size=2, max_size=8))
def test_dup_span_stats_invariants(spark, texts):
    """For ANY corpus: dup_tokens <= total_tokens, spans only exist when
    dup_tokens > 0, every doc appears exactly once, and a doc duplicated
    verbatim is 100% covered (dup_fraction == 1.0)."""
    import unittest.mock as mock

    from telecom_competitor_analysis_spark.plans import dedup as qe

    rows = [(i, t) for i, t in enumerate(texts)]
    rows.append((len(texts), texts[0]))  # plant one verbatim duplicate
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(qe, "load_table", lambda s, d, t: docs):
        got = qe.q_dup_span_stats(spark, "unused").collect()
    assert sorted(r.doc_id for r in got) == [r[0] for r in rows]
    for r in got:
        assert 0 <= r.dup_tokens <= r.total_tokens
        assert (r.n_dup_spans == 0) == (r.dup_tokens == 0)
    by_id = {r.doc_id: r for r in got}
    assert by_id[0].dup_fraction == 1.0  # the duplicated doc: fully covered
    assert by_id[len(texts)].dup_fraction == 1.0


@settings(max_examples=10, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 40), min_size=1, max_size=25),
    budget=st.integers(1, 120),
)
def test_token_budget_fill_boundary_semantics(spark, sizes, budget):
    """For ANY stratum: admitted docs are a prefix of the quality order,
    the budget is always MET (sum >= budget when the stratum can afford
    it), and removing the boundary doc drops the sum below budget."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    docs = spark.createDataFrame(
        [(i, "xx", n) for i, n in enumerate(sizes)],
        "doc_id long, lang string, n_words long",
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F2.col("n_words").desc(), F2.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = (
        docs.withColumn("cum", F2.sum("n_words").over(w))
        .filter(F2.col("cum") - F2.col("n_words") < budget)
        .collect()
    )
    order = sorted(enumerate(sizes), key=lambda t: (-t[1], t[0]))
    kept_ids = {r.doc_id for r in kept}
    # prefix of the quality order
    prefix_len = len(kept_ids)
    assert kept_ids == {i for i, _ in order[:prefix_len]}
    total = sum(n for _, n in order[:prefix_len])
    if sum(sizes) >= budget:
        assert total >= budget  # budget always met when affordable
    if prefix_len > 0:
        assert total - order[prefix_len - 1][1] < budget  # boundary doc needed


@settings(max_examples=8, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-2.0, max_value=2.0,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=4, max_size=4,
        ),
        min_size=3, max_size=20,
    ),
)
def test_kmeans_assign_matches_python_mirror(spark, vecs):
    """kmeans_assign on ARBITRARY small vector sets equals a
    straight-Python mirror of the exact same rules: lowest-id seeds,
    argmax-dot assignment with lowest-cid tie-break, integer-micro
    centroid sums divided back to double."""
    import math

    import pandas as pd

    from telecom_competitor_analysis_spark.operators.similarity import (
        kmeans_assign,
    )

    k, iters, dim = 2, 2, 4
    rows = [{"vec_id": i, "embedding": v} for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(
            emb, "vec_id", "embedding", k=k, iters=iters, dim=dim
        ).collect()
    }

    # python mirror (same fp operation order as the engine expressions)
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def micro(x):
        return int(math.floor(abs(x) * 1_000_000 + 0.5)) * (
            1 if x >= 0 else -1
        )

    cents = {i: vecs[i] for i in range(k)}
    assign = {}
    for it in range(iters):
        assign = {}
        for i, v in enumerate(vecs):
            best = max(
                cents.items(), key=lambda t: (dot(v, t[1]), -t[0])
            )[0]
            assign[i] = best
        if it < iters - 1:
            cents = {}
            for cid in set(assign.values()):
                members = [vecs[i] for i, c in assign.items() if c == cid]
                n = len(members)
                cents[cid] = [
                    sum(micro(m[d]) for m in members) / (n * 1_000_000.0)
                    for d in range(dim)
                ]
    assert got == assign


@settings(max_examples=10, deadline=None)
@given(ids=st.sets(st.integers(0, 10_000), min_size=1, max_size=40))
def test_training_shards_match_python_md5(spark, ids):
    """q_training_shards' shard and position equal a pure-Python md5
    recompute for ARBITRARY id sets — the reproducibility contract a
    resume-from-checkpoint consumer depends on."""
    import hashlib
    import unittest.mock as mock

    import pandas as pd

    from telecom_competitor_analysis_spark.plans import curation as qe

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": sorted(ids), "text": "x", "lang": "en"})
    )
    with mock.patch.object(qe, "load_table", lambda s, d, t: docs):
        got = {
            r.doc_id: (r.shard, r.pos)
            for r in qe.q_training_shards(spark, "unused").collect()
        }

    by_shard: dict[int, list[tuple[str, int]]] = {}
    for i in sorted(ids):
        h = hashlib.md5(f"{i}|shard".encode()).hexdigest()
        by_shard.setdefault(int(h[:2], 16) % 8, []).append((h[2:18], i))
    expect = {}
    for shard, entries in by_shard.items():
        for pos, (_, i) in enumerate(sorted(entries), start=1):
            expect[i] = (shard, pos)
    assert got == expect


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=20
        ),
        min_size=1,
        max_size=8,
    )
)
def test_paragraph_dedup_matches_python_mirror(spark, docs_words):
    """paragraph_dedup on tiny vocabularies (forcing cross-doc paragraph
    collisions) equals a straight-Python mirror of the window-form
    semantics: first (doc_id, para_idx) per paragraph wins, docs
    reassemble from owned firsts, scrubbed is None when nothing is
    owned. Pins the min-struct-aggregate ≡ row_number-window claim on
    arbitrary inputs."""
    import pandas as pd

    from telecom_competitor_analysis_spark.operators.dedup import (
        paragraph_dedup,
    )

    w = 3
    texts = [" ".join(ws) for ws in docs_words]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {
        r.doc_id: (r.n_paras, r.n_dup_paras, r.scrubbed_text)
        for r in paragraph_dedup(df, "doc_id", "text", w=w).collect()
    }

    # mirror: trim + single-space split ('' artifacts kept)
    paras = {}  # (doc, idx) -> text
    for d, t in enumerate(texts):
        ws = t.strip(" ").split(" ")
        n = -(-len(ws) // w)
        for i in range(n):
            paras[(d, i)] = " ".join(ws[i * w : i * w + w])
    first = {}
    for (d, i), p in sorted(paras.items()):
        first.setdefault(p, (d, i))
    expect = {}
    for d, t in enumerate(texts):
        mine = [(i, p) for (dd, i), p in paras.items() if dd == d]
        kept = [p for i, p in sorted(mine) if first[p] == (d, i)]
        expect[d] = (
            len(mine),
            len(mine) - len(kept),
            " ".join(kept) if kept else None,
        )
    assert got == expect


# --- round-7 continuation operators: python-model equivalence on ----------
# arbitrary inputs (skew, ties, duplicates — the shapes hand fixtures miss)

_tokenish = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1,
    max_size=120,
)


@settings(max_examples=8, deadline=None)
@given(_tokenish, st.sampled_from([2, 3, 5]))
def test_heavy_hitters_property(spark, tokens, inv_frac):
    from collections import Counter

    from telecom_competitor_analysis_spark.operators.freq import (
        heavy_hitters,
    )

    df = spark.createDataFrame(
        [(t,) for t in tokens], "token string"
    ).repartition(3)
    got = {
        r["token"]: r["cnt"]
        for r in heavy_hitters(df, "token", inv_frac=inv_frac).collect()
    }
    c = Counter(tokens)
    n = len(tokens)
    want = {t: k for t, k in c.items() if k * inv_frac > n}
    assert got == want


_points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),
        st.integers(min_value=0, max_value=60),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(_points, st.sampled_from([1, 3, 8]))
def test_skyline_property(spark, pts, n_buckets):
    from telecom_competitor_analysis_spark.operators.skyline import (
        skyline_2d,
    )

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = sorted(
        map(tuple, skyline_2d(df, "x", "y", "id", n_buckets).collect())
    )
    # model: distinct (x, y) with min id, then naive dominance
    reps = {}
    for i, x, y in rows:
        reps[(x, y)] = min(reps.get((x, y), i), i)
    pset = set(reps)
    want = sorted(
        (reps[(x, y)], x, y)
        for (x, y) in pset
        if not any(
            bx >= x and by >= y and (bx, by) != (x, y) for bx, by in pset
        )
    )
    assert got == want


_vecs = st.lists(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=3, max_size=3
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(_vecs)
def test_kcenter_property(spark, vecs):
    from telecom_competitor_analysis_spark.operators.similarity import (
        kcenter_select,
    )

    k = min(4, len(vecs))
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, mv array<long>")
    got = {
        r.sel_round: r.vec_id for r in kcenter_select(df, k=k).collect()
    }

    def d2(a, b):
        return sum((p - q) ** 2 for p, q in zip(a, b))

    pts = dict(rows)
    sel = [min(pts)]
    for _ in range(k - 1):
        cand = [
            (vid, min(d2(v, pts[s]) for s in sel))
            for vid, v in pts.items()
            if vid not in sel
        ]
        best = max(cand, key=lambda t: (t[1], -t[0]))
        sel.append(best[0])
    assert [got[r] for r in range(k)] == sel


# ---------------------------------------------------------------------------
# URL canonicalization laws (functions/urls.py)
# ---------------------------------------------------------------------------

url_like = st.builds(
    lambda scheme, www, host, port, path, slash, params, frag: (
        scheme + www + host + port + path + slash
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    scheme=st.sampled_from(["http://", "https://", "HTTP://", "HtTpS://"]),
    www=st.sampled_from(["", "www.", "WWW."]),
    host=st.from_regex(r"[a-zA-Z0-9]{1,8}(\.[a-zA-Z]{2,4}){1,2}",
                       fullmatch=True),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.from_regex(r"(/[a-zA-Z0-9._-]{0,6}){0,3}", fullmatch=True),
    slash=st.sampled_from(["", "/", "//"]),
    params=st.lists(
        st.from_regex(r"[a-z_]{1,8}=[a-zA-Z0-9]{0,5}", fullmatch=True),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#f", "#sec-1"]),
)


@settings(max_examples=30, deadline=None)
@given(urls=st.lists(url_like, min_size=1, max_size=40))
def test_canonicalize_url_idempotent(spark, urls):
    """canonicalize is a CLOSURE operator: applying it to its own
    output must be a no-op — otherwise two crawls of the same page can
    still land on different dedup keys depending on how many times the
    pipeline normalized the URL."""
    from telecom_competitor_analysis_spark.functions.urls import (
        canonicalize_url,
    )

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    rows = df.select(
        canonicalize_url(F.col("u")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("u"))).alias("c2"),
    ).collect()
    for r in rows:
        assert r.c1 == r.c2, r


@settings(max_examples=30, deadline=None)
@given(urls=st.lists(url_like, min_size=1, max_size=40))
def test_canonicalize_url_drops_noise_keeps_identity(spark, urls):
    """Canonical form never contains a fragment, never ends with the
    scheme's default port, never carries a tracking parameter, and its
    surviving query params arrive sorted."""
    from telecom_competitor_analysis_spark.functions.urls import (
        canonicalize_url,
    )

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    rows = df.select(canonicalize_url(F.col("u")).alias("c")).collect()
    for r in rows:
        c = r.c
        assert "#" not in c
        assert "utm_" not in c and "fbclid=" not in c and "gclid=" not in c
        head = c.split("?")[0]
        if head.startswith("https://"):
            assert not head.split("/")[2].endswith(":443")
        if head.startswith("http://"):
            assert not head.split("/")[2].endswith(":80")
        if "?" in c:
            qs = c.split("?", 1)[1].split("&")
            assert qs == sorted(qs) and all(q for q in qs)


WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
doc_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12),
    min_size=2,
    max_size=10,
)


def _write_docs(docs_words, subdir):
    # fresh dir per hypothesis example (a function-scoped tmp_path
    # fixture trips the @given health check)
    d = tempfile.mkdtemp(prefix=f"props_{subdir}_")
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

    d = tempfile.mkdtemp(prefix="props_mmr_")
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
