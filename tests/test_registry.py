"""The query registry's ordering rules (pure Python, no Spark): the
driver's verify order is computed from the fingerprint manifest. Also
keeps the helper scripts under tools/ runnable and documented."""

from __future__ import annotations

import glob
import importlib.util
import os
import re
import shutil

import __spark_entry__
import telecom_competitor_analysis_spark
from telecom_competitor_analysis_spark.plans import ORACLES, QUERIES
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


def test_artifact_key_covers_every_package_module(tmp_path):
    """Editing any module of the package must change the artifact-cache
    key, including modules a builder only reaches through imports
    (``functions/text.words`` via ``shingle_rows``): a stale key would
    serve bytes an older builder wrote."""
    pkg = tmp_path / "pkg"
    shutil.copytree(PKG_DIR, pkg, ignore=shutil.ignore_patterns("__pycache__"))
    spec = importlib.util.spec_from_file_location(
        "artifacts_copy", pkg / "plans" / "artifacts.py"
    )
    artifacts = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(artifacts)

    before = artifacts._code_version()
    with open(pkg / "functions" / "text.py", "a") as fh:
        fh.write("\n# edited\n")
    assert artifacts._code_version() != before


def test_tools_run_from_any_checkout_and_are_listed():
    """Every tools/*.py finds the repo from its own path (no hard-coded
    checkout path, no cwd-relative ``sys.path`` entry) and has an entry
    in tools/README.md."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = sorted(glob.glob(os.path.join(repo, "tools", "*.py")))
    with open(os.path.join(repo, "tools", "README.md")) as fh:
        readme = fh.read()
    assert tools
    for path in tools:
        name = os.path.basename(path)
        with open(path) as fh:
            src = fh.read()
        assert repo not in src, name
        assert not re.search(r"sys\.path\.insert\(\s*0\s*,\s*['\"]", src), name
        assert f"`{name}`" in readme, name
