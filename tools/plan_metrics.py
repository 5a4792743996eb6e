#!/usr/bin/env python
"""Plan-shape census over every driver query -> PLANS.md.

Compiles (never executes) each `__spark_entry__.queries()` plan at
sf0.001 and counts the operators that matter at 100 TB: exchanges
(shuffles), broadcasts, sorts, Python/Arrow kernel boundaries, and the
banned shapes (CartesianProduct, global Window). The table is the
audit artifact behind EXPLAIN.md's claims — regenerate with
`python tools/plan_metrics.py`.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
# census audits the AT-SCALE shape: pin ordered.*'s small-input fast
# path off (see ordered._is_small)
os.environ["PDAL_SPARK_FORCE_DISTRIBUTED"] = "1"

PATTERNS = {
    "shuffles": r"Exchange (?:hash|range)partitioning",
    "broadcasts": r"BroadcastExchange|BroadcastHashJoin|BroadcastNestedLoop",
    "sorts": r"\bSort \[",
    "py_kernels": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
                  r"|FlatMapCoGroupsInPandas|MapInArrow|BatchEvalPython",
    "cartesian": r"CartesianProduct",
    "global_window": r"Window \[[^\]]*\](?!, \[)",  # no partition spec
}


def main() -> None:
    from pdal_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark("plan-metrics", master="local[4]",
                      shuffle_partitions=8)
    rows = []
    for name, fn in sorted(E.queries().items()):
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            counts = {
                k: len(re.findall(p, plan)) for k, p in PATTERNS.items()
            }
            rows.append((name, counts, None))
        except Exception as exc:  # noqa: BLE001
            rows.append((name, None, str(exc)[:120]))
        spark.catalog.clearCache()

    out = [
        "# PLANS — compiled physical-plan census (auto-generated by "
        "tools/plan_metrics.py)",
        "",
        f"Every `queries()` entry compiled (not executed) at {SF_DIR}. "
        "`shuffles` counts hash/range exchanges; `py` counts "
        "Arrow/pandas kernel boundaries; `cartesian` and unpartitioned "
        "`Window` are the banned shapes (0 everywhere — enforced by "
        "tests/test_planshape.py).",
        "",
        "| query | shuffles | broadcasts | sorts | py | cartesian | "
        "global window |",
        "|---|---|---|---|---|---|---|",
    ]
    worst: list = []
    for name, counts, err in rows:
        if counts is None:
            out.append(f"| {name} | — | — | — | — | plan error: {err} | |")
            continue
        out.append(
            f"| {name} | {counts['shuffles']} | {counts['broadcasts']} | "
            f"{counts['sorts']} | {counts['py_kernels']} | "
            f"{counts['cartesian']} | {counts['global_window']} |"
        )
        worst.append((counts["shuffles"], name))
    worst.sort(reverse=True)
    out += [
        "",
        "Most shuffle-heavy (by compiled exchange count — iterative "
        "fixed-point operators dominate, as they should): "
        + ", ".join(f"{n} ({c})" for c, n in worst[:8]),
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    n_cart = sum(1 for _, c, _ in rows if c and c["cartesian"])
    print(f"{len(rows)} queries, {n_cart} with CartesianProduct "
          f"-> PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
