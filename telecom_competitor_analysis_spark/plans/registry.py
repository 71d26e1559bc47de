"""Query registry: each declared query registers itself, with its DuckDB
oracle, where it is defined.

A query is a ``(spark, sf_dir) -> DataFrame`` callable over the driver
testdata tables (SURVEY.md §2 inventory, bindings per FIXTURES.md §B).
``@query(sql)`` attaches the DuckDB SQL that must return the same rows;
``@rows_only`` marks a query no oracle can reproduce (sketch estimates,
ML-seeded sampling, stubbed media decode), which the driver can only
row-count. Importing a family module registers its queries;
``plans.QUERIES`` / ``plans.ORACLES`` are derived from the registrations,
and ``ordered_queries()`` puts them in verify order.

Oracle-parity rules (the driver hashes values order-insensitively,
column-name-sorted — SURVEY.md §7.3):

- every computed column is aliased identically in the query and its
  oracle;
- timestamps leave as ``date_format(...)`` strings (DuckDB ``strftime``);
- money aggregates go through integer cents (``round(x*100)::bigint``) so
  sums are exact and order-independent — never sum raw doubles across a
  shuffle and expect bit-equality; DuckDB ``SUM(BIGINT)`` returns HUGEINT,
  so every oracle sum is cast back to BIGINT;
- rankings always carry a unique tie-breaker column, in identical
  directions on both sides.

Verify order. The external driver checks the first 50 entries of
``queries()`` against their oracles, so the dict order is the
verification schedule. It is computed, not kept by hand: the manifest
``fingerprints.json`` maps every query to a hash of its optimized plan
(``plan_fingerprint``), ordered most recently changed first;
``tools/plan_fingerprints.py --update`` moves new and changed plans to
the front. ``verify_order`` puts names missing from the manifest first,
then the manifest order, then the rows-only queries, which can never be
oracle-checked.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

REGISTERED: dict[str, Query] = {}

MANIFEST = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fingerprints.json"
)


def _register(fn: Query, oracle: str | None) -> Query:
    if fn.__name__ in REGISTERED:
        raise ValueError(f"duplicate query {fn.__name__}")
    fn.oracle = oracle
    REGISTERED[fn.__name__] = fn
    return fn


def query(oracle: str) -> Callable[[Query], Query]:
    """Register the decorated query with its DuckDB oracle SQL."""
    return lambda fn: _register(fn, oracle)


def rows_only(fn: Query) -> Query:
    """Register the decorated query as checkable by row count only."""
    return _register(fn, None)


# Run-specific tokens in an optimized plan's text: expression ids
# (``col#123L``), the JVM-wide counters in lambda variable and common
# subexpression names (``lambda x_7``, ``_common_expr_3``), and the
# artifact-cache key in the names of materialized tables (a hash of the
# builder code, see ``artifacts``).
_VOLATILE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(lambda \w+?|_common_expr)_\d+"), r"\1_"),
    (re.compile(r"_[0-9a-f]{16}\b"), "_<fp>"),
)


def plan_fingerprint(df: DataFrame) -> str:
    """Hash of ``df``'s optimized logical plan with the run-specific
    tokens stripped. The analyzed plan is optimized without substituting
    cached relations, so the hash does not depend on what earlier queries
    cached or ran in the session. Optimizing runs no Spark job."""
    jspark = df.sparkSession._jsparkSession
    analyzed = df._jdf.queryExecution().analyzed().clone()
    plan = jspark.sessionState().optimizer().execute(analyzed).toString()
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:16]


def load_manifest() -> dict[str, str]:
    try:
        with open(MANIFEST) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def verify_order(
    names: Iterable[str], manifest: Mapping[str, str], rows_only: Iterable[str]
) -> list[str]:
    """Names missing from the manifest first (in ``names`` order), then
    manifest order, then ``rows_only`` names."""
    names = list(names)
    last = set(rows_only)
    known = set(manifest)
    head = [n for n in names if n not in known and n not in last]
    present = set(names)
    middle = [n for n in manifest if n in present and n not in last]
    tail = [n for n in names if n in last and n not in known]
    tail += [n for n in manifest if n in present and n in last]
    return head + middle + tail


def update_manifest(
    old: Mapping[str, str], new: Mapping[str, str]
) -> dict[str, str]:
    """The manifest for fingerprints ``new``: new and changed names first
    (in ``new`` order), then the unchanged ones in ``old`` order. Names
    not in ``new`` are dropped."""
    moved = [n for n in new if old.get(n) != new[n]]
    kept = [n for n in old if n in new and old[n] == new[n]]
    return {n: new[n] for n in moved + kept}


def ordered_queries() -> dict[str, Query]:
    """Every registered query, in verify order."""
    rows_only = [n for n, fn in REGISTERED.items() if fn.oracle is None]
    order = verify_order(REGISTERED, load_manifest(), rows_only)
    return {n: REGISTERED[n] for n in order}
