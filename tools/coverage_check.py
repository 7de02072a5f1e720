"""Keep COVERAGE.md honest: every backticked `name` in it that looks like
a gate query must exist in the QUERIES registry, and every registry query
must be mentioned. Run in CI alongside the tests.

Usage: python tools/coverage_check.py
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from django_indexer_spark.plans.fixture_queries import QUERIES
from django_indexer_spark.plans.oracles import ORACLES


def main() -> int:
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    mentioned = set(re.findall(r"`([a-z0-9_]+)`", text))
    rc = 0

    missing_doc = sorted(set(QUERIES) - mentioned)
    if missing_doc:
        print(f"queries not mentioned in COVERAGE.md: {missing_doc}")
        rc = 1

    dangling_oracles = sorted(set(ORACLES) - set(QUERIES))
    if dangling_oracles:
        print(f"oracles without queries: {dangling_oracles}")
        rc = 1

    print(
        f"{len(QUERIES)} queries, {len(ORACLES)} oracles, "
        f"{len(set(QUERIES) - set(ORACLES))} rows-only, "
        f"{'OK' if rc == 0 else 'MISMATCH'}"
    )
    return rc


if __name__ == "__main__":
    sys.exit(main())
