"""The query registry's ordering rules (pure Python, no Spark): the
driver's verify order is computed from the fingerprint manifest."""

from __future__ import annotations

import ast
import os

import __spark_entry__
import telecom_competitor_analysis_spark
from telecom_competitor_analysis_spark.plans import ORACLES, QUERIES
from telecom_competitor_analysis_spark.plans.artifacts import _BUILDER_MODULES
from telecom_competitor_analysis_spark.plans.registry import (
    load_manifest,
    update_manifest,
    verify_order,
)

PKG_DIR = os.path.dirname(os.path.abspath(telecom_competitor_analysis_spark.__file__))


def test_verify_order_unknown_first_manifest_order_rows_only_last():
    names = ["a", "b", "c", "d", "r1", "r2"]
    manifest = {"c": "1", "r2": "2", "a": "3", "gone": "4", "r1": "5"}
    assert verify_order(names, manifest, ["r1", "r2"]) == [
        "b", "d", "c", "a", "r2", "r1",
    ]


def test_update_moves_new_and_changed_to_front():
    old = {"a": "1", "b": "2", "c": "3", "gone": "4"}
    new = {"a": "1", "b": "9", "c": "3", "d": "5"}
    got = update_manifest(old, new)
    assert list(got) == ["b", "d", "a", "c"]
    assert got == {"b": "9", "d": "5", "a": "1", "c": "3"}


def test_update_then_order_puts_an_edited_query_first():
    old = {f"q{i}": str(i) for i in range(5)}
    new = dict(old, q3="edited")
    order = verify_order(list(new), update_manifest(old, new), [])
    assert order[0] == "q3"
    assert order[1:] == ["q0", "q1", "q2", "q4"]


def test_update_from_empty_keeps_registration_order():
    new = {"x": "1", "y": "2"}
    assert list(update_manifest({}, new)) == ["x", "y"]


def test_queries_follow_the_manifest_with_rows_only_last():
    rows_only = [n for n in QUERIES if n not in ORACLES]
    order = list(__spark_entry__.queries())
    assert len(rows_only) == 4
    assert order[-4:] == [n for n in load_manifest() if n in rows_only]
    assert order == verify_order(QUERIES, load_manifest(), rows_only)


def test_every_materialized_caller_is_hashed():
    """An edit to a module that defines an artifact build closure must
    invalidate the artifact cache, so every module that calls
    ``_materialized`` is part of the builder-code hash."""
    callers = set()
    for root, _, files in os.walk(PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            tree = ast.parse(open(path).read())
            if any(
                isinstance(n, ast.Call)
                and getattr(n.func, "id", getattr(n.func, "attr", None)) == "_materialized"
                for n in ast.walk(tree)
            ):
                callers.add(os.path.relpath(path, PKG_DIR))
    assert callers
    assert callers <= set(_BUILDER_MODULES), callers - set(_BUILDER_MODULES)
