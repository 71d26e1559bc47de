"""Regenerate COVERAGE.md from the live query registry (the family
modules under plans/): one row per declared query with its check kind
(oracle vs rows-only) and the first docstring line. Writes COVERAGE.md at
the root of the checkout the script lives in; no SparkSession is created
(imports only)."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from telecom_competitor_analysis_spark.plans import QUERIES  # noqa: E402


def main() -> None:
    from __spark_entry__ import oracle_sql  # noqa: PLC0415

    oracles = oracle_sql()
    rows = []
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        doc = (fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        check = "oracle" if name in oracles else "rows-only"
        rows.append((name, check, first[:70]))
    n_oracle = sum(1 for _, c, _ in rows if c == "oracle")

    with open(os.path.join(REPO, "COVERAGE.md"), "w") as f:
        f.write(
            "# COVERAGE — declared queries vs SURVEY.md §2 operator"
            " inventory\n\n"
            "Generated by tools/gen_coverage.py from the live query registry"
            " (plans/<family>.py, each query declared beside its oracle).\n"
            f"{len(rows)} queries; {n_oracle} oracle-checked"
            " (hash-compared vs DuckDB at sf0.01),\n"
            f"{len(rows) - n_oracle} rows-only (genuinely"
            " non-SQL-expressible: sketches, ML-seeded LSH,"
            " binary/stub paths).\n\n"
            "Dedup signature guidance: the ADVERTISED near-dup path is"
            " the 64-bit\nSimHash family (`q_simhash64` /"
            " `q_simhash64_pairs`) and MinHash-LSH;\nthe 16-bit"
            " `q_simhash` / `q_simhash_pairs` names run the same\n"
            "operator at 16 bits (16 bits saturate at ~65k distinct"
            " signatures —\nsee operators/dedup.py::simhash).\n\n"
            "| query | check | operator (docstring) |\n|---|---|---|\n"
        )
        for name, check, first in rows:
            f.write(f"| `{name}` | {check} | {first} |\n")
    print(f"COVERAGE.md: {len(rows)} queries, {n_oracle} oracle-checked")


if __name__ == "__main__":
    main()
