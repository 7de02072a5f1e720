"""One more scaling decade: run the worst-r10 registry queries at sf1.

tools/scaling_probe.py measures the full registry across the driver
fixtures (sf0.001→0.1, 100x). At sf0.1 almost every query is still
fixed-overhead-dominated (worst marginal ratio 6.9x per 10x data), so
round-5's verdict asked for one more decade on the worst queries to
show the ratios stay ≈ linear when data, not overhead, dominates
(next-#4). This tool:

1. expects the sf1 fixture from tools/gen_scale.py (10x key-shifted
   sf0.1 — .scaling/sf1 in the checkout);
2. takes the N worst queries by r10 from the committed SCALING.json;
3. re-times each at sf0.1 (fresh, same session — so the r100 ratio
   compares like with like) and at sf1, steady-state min-of-2 with a
   priming run, noop sink (bench.py methodology);
4. appends an "## sf1 decade" section to SCALING.md and an "sf1" block
   to SCALING.json. Exit 1 if any r100 ratio exceeds the superlinear
   threshold (default 14, same as the base sweep).

Usage: python tools/scaling_sf1.py [n_queries=12] [sf1_dir] [threshold=14]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    sf1_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scaling", "sf1")
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 14.0

    with open(os.path.join(REPO, "SCALING.json")) as f:
        base = json.load(f)
    times = base["times"]
    by_r10 = sorted(
        (n for n in times if times[n].get("0.01")),
        key=lambda n: -(times[n]["0.1"] / times[n]["0.01"]),
    )
    targets = by_r10[:n_queries]

    from django_indexer_spark.plans.fixture_queries import QUERIES
    from django_indexer_spark.session import get_spark

    spark = get_spark("scaling-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    measured: dict[str, dict[str, float]] = {}
    for sf_dir, key in (("/root/testdata/sf0.1", "0.1"), (sf1_dir, "1")):
        run(targets[0], sf_dir)  # warm footers/session for this sf
        for name in targets:
            run(name, sf_dir)  # priming run (codegen/JIT)
            t = round(min(run(name, sf_dir), run(name, sf_dir)), 3)
            measured.setdefault(name, {})[key] = t

    rows = []
    for name in targets:
        t01, t1 = measured[name]["0.1"], measured[name]["1"]
        r100 = t1 / t01 if t01 > 0 else float("nan")
        rows.append((name, t01, t1, r100))
    rows.sort(key=lambda r: -r[3])
    flagged = [r for r in rows if r[3] > threshold]

    base["sf1"] = {
        "dir": sf1_dir,
        "times": {n: m for n, m in measured.items()},
        "flagged": [r[0] for r in flagged],
        "threshold": threshold,
    }
    with open(os.path.join(REPO, "SCALING.json"), "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)

    md = [
        "",
        "## sf1 decade — worst-r10 queries at 10x sf0.1",
        "",
        "Generated by tools/scaling_sf1.py on the synthetic sf1 fixture "
        "(tools/gen_scale.py: 10x key-shifted sf0.1 — 6M lineitem, 1.5M "
        "orders, 1M events, 50k docs; referential integrity and "
        "within-replica text structure preserved, replica vocabularies "
        "disjoint). `r100` = t(sf1)/t(sf0.1), the marginal ratio on a "
        "decade where data volume finally dominates the fixed overhead.",
        "",
        f"Flagged superlinear (r100 > {threshold}): "
        + (", ".join(r[0] for r in flagged) if flagged else "**none**"),
        "",
        "| query | t(0.1) | t(1) | r100 |",
        "|---|---|---|---|",
    ]
    for name, t01, t1, r100 in rows:
        md.append(f"| {name} | {t01:.3f} | {t1:.3f} | {r100:.1f} |")

    with open(os.path.join(REPO, "SCALING.md")) as f:
        content = f.read()
    marker = "\n## sf1 decade"
    if marker in content:
        content = content[: content.index(marker)]
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(content.rstrip("\n") + "\n" + "\n".join(md) + "\n")

    print(
        json.dumps(
            {
                "queries": len(rows),
                "flagged_superlinear": [r[0] for r in flagged],
                "worst_r100": round(rows[0][3], 2) if rows else None,
                "worst_query": rows[0][0] if rows else None,
            }
        )
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
