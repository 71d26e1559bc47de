"""SURVEY.md §2 is the judged contract: every query name the survey
declares must exist in the live registry, and every oracle has a query."""

from __future__ import annotations

import re
from pathlib import Path

from telecom_competitor_analysis_spark.plans import ORACLES, QUERIES


def test_every_survey_query_name_is_implemented():
    text = Path("/root/repo/SURVEY.md").read_text()
    promised = set(re.findall(r"\bq_[a-z0-9_]+\b", text))
    missing = promised - set(QUERIES)
    assert not missing, f"SURVEY.md promises unimplemented queries: {sorted(missing)}"


def test_oracles_subset_of_queries():
    extra = set(ORACLES) - set(QUERIES)
    assert not extra, f"oracles without queries: {sorted(extra)}"


def test_entry_contract_exposes_registries():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_contract", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert set(mod.queries()) == set(QUERIES)
    assert set(mod.oracle_sql()) == set(ORACLES)
