"""Registry-wide physical-plan audit → PLAN_AUDIT.md.

Compiles every gate query at the smallest fixture (planning only for
almost all queries; a few builders do bounded eager work by design —
centroid/bounds collects, and the streaming gate runs its micro-batches) and tabulates the plan properties the 100 TB story
depends on: shuffle count, single-partition exchanges, broadcast joins,
sort-merge joins, nested-loop joins, Python row UDFs, Arrow (mapInPandas)
stages, and TakeOrdered top-k. tests/test_plans.py asserts the hard
invariants (no Python row UDFs, no unbounded cartesians, no fact-scale
single-partition windows); this artifact is the eyeball-able census that
shows WHERE each query sits.

Usage: python tools/plan_audit.py [sf_dir] > /dev/null  (writes PLAN_AUDIT.md)
       python tools/plan_audit.py --write-budgets [sf_dir]
         additionally rewrites tools/plan_budgets.json — the committed
         per-query ceilings that tests/test_plans.py::
         test_global_plan_hygiene_all_queries enforces, so a future edit
         can't silently add a shuffle / SMJ / Python stage to any gate
         query. Rewrite budgets ONLY after reviewing that every census
         increase is intended.
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from django_indexer_spark.session import get_spark


def audit(plan: str) -> dict[str, int]:
    return {
        "exch": len(re.findall(r"Exchange hashpartitioning", plan)),
        "range": len(re.findall(r"Exchange rangepartitioning", plan)),
        "single": len(re.findall(r"Exchange SinglePartition", plan)),
        "bcast": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "topk": len(re.findall(r"TakeOrderedAndProject", plan)),
        "arrow": len(re.findall(r"MapInPandas|FlatMapGroupsInPandas", plan)),
        "pyudf": len(re.findall(r"BatchEvalPython", plan)),
        "cart": len(re.findall(r"CartesianProduct", plan)),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--write-budgets"]
    write_budgets = "--write-budgets" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    from django_indexer_spark.plans.fixture_queries import QUERIES

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in QUERIES.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            rows.append((name, audit(plan)))
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            rows.append((name, {"error": str(e)[:80]}))

    cols = ["exch", "range", "single", "bcast", "smj", "shj", "topk", "arrow", "pyudf", "cart"]
    out = [
        "# PLAN_AUDIT — per-query physical-plan census",
        "",
        f"Generated by tools/plan_audit.py at {sf_dir} (planning only; "
        "AQE may further collapse exchanges at runtime).",
        "",
        "Columns: exch = hash-partition shuffles, range = range shuffles, "
        "single = single-partition exchanges (bounded inputs only — the "
        "plan-guard tests enforce where), bcast = broadcast joins, smj = "
        "sort-merge joins, shj = shuffled-hash joins, topk = TakeOrdered, "
        "arrow = mapInPandas stages, pyudf = Python row UDFs (MUST be 0), "
        "cart = cartesian products (MUST be 0).",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    totals = dict.fromkeys(cols, 0)
    errors = []
    for name, a in rows:
        if "error" in a:
            errors.append((name, a["error"]))
            continue
        out.append(f"| {name} | " + " | ".join(str(a[c]) for c in cols) + " |")
        for c in cols:
            totals[c] += a[c]
    out.append("| **total** | " + " | ".join(f"**{totals[c]}**" for c in cols) + " |")
    if errors:
        out.append("\n## Planning errors\n")
        out += [f"- {n}: {e}" for n, e in errors]
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    if write_budgets:
        import json

        budgets = {n: a for n, a in rows if "error" not in a}
        with open(os.path.join(REPO, "tools", "plan_budgets.json"), "w") as f:
            json.dump(budgets, f, indent=1, sort_keys=True)
        print(f"wrote plan_budgets.json for {len(budgets)} queries")
    print(f"{len(rows)} queries audited, {len(errors)} errors, "
          f"pyudf={totals['pyudf']}, cart={totals['cart']}")
    # both MUST-be-zero counters gate the exit code
    return 1 if errors or totals["pyudf"] or totals["cart"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
