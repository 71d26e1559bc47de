"""Fingerprint every declared query's optimized plan and keep the ordered
manifest ``telecom_competitor_analysis_spark/plans/fingerprints.json``.

    python tools/plan_fingerprints.py            # list changed plans
    python tools/plan_fingerprints.py --update   # rewrite the manifest

Each query is built at sf0.001 under the tier-1 session settings
(``get_spark(shuffle_partitions=4)``) and hashed with
``registry.plan_fingerprint``: the optimized logical plan, without cached
relations substituted, with expression ids, lambda-variable counters and
the artifact-cache key stripped. Building a query plans it without
running it (a builder may still run its own jobs, e.g. a first-use
artifact build).

Without ``--update`` the tool prints every new, changed or removed query
and exits 1 if there is one. ``--update`` writes the manifest with the
new and changed queries first; ``queries()`` follows the manifest order,
so the driver's first-50 window leads with the most recently changed
plans. Tier-1 (``tests/test_oracle_parity.py``) fails on any query whose
plan no longer matches its manifest entry.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__  # noqa: E402
from telecom_competitor_analysis_spark.plans.registry import (  # noqa: E402
    MANIFEST,
    load_manifest,
    plan_fingerprint,
    update_manifest,
)
from telecom_competitor_analysis_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402  (tier-1's testdata)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--update", action="store_true", help="rewrite the manifest")
    args = ap.parse_args()

    spark = get_spark(app_name="plan_fingerprints", shuffle_partitions=4)
    new = {
        name: plan_fingerprint(fn(spark, SF_DIR))
        for name, fn in __spark_entry__.queries().items()
    }
    old = load_manifest()
    changed = [n for n in new if old.get(n) != new[n]]
    removed = [n for n in old if n not in new]
    for n in changed:
        print(f"{'changed' if n in old else 'new'}: {n}")
    for n in removed:
        print(f"removed: {n}")
    if args.update:
        with open(MANIFEST, "w") as fh:
            json.dump(update_manifest(old, new), fh, indent=2)
            fh.write("\n")
        print(f"wrote {len(new)} fingerprints to {MANIFEST}")
        return 0
    return 1 if changed or removed else 0


if __name__ == "__main__":
    sys.exit(main())
