"""Plan-health audit: build every driver-contract query at sf0.001 and
summarize the physical-plan properties that matter at 100 TB — shuffle
count, broadcast joins, sort-merge joins, Python nodes, pushed filters,
and the absence of nested-loop/cartesian fallbacks. Writes PLANS.md.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

# the checkout this tool sits in, not an installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def strip_cached_subplans(plan: str) -> str:
    """Drop every InMemoryRelation's printed child plan: a persisted frame
    computes ONCE globally, but executedPlan().toString() re-prints its
    cached subtree under every InMemoryTableScan reference, which would
    overcount shuffles/Python nodes relative to what actually executes.
    Treat the cached relation as a leaf (keep the InMemoryRelation line
    itself, cut its deeper-indented children)."""
    out = []
    skip_deeper_than = None
    for line in plan.splitlines():
        body = line.lstrip(" :+-*(0123456789)")
        indent = len(line) - len(body)
        if skip_deeper_than is not None:
            if indent > skip_deeper_than:
                continue
            skip_deeper_than = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_deeper_than = indent
    return "\n".join(out)


def main() -> None:
    from zen3geo_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name="audit_plans", cores=8, shuffle_partitions=8)
    rows = []
    for name, fn in E.queries().items():
        try:
            plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
            plan = strip_cached_subplans(plan)
        except Exception as ex:  # noqa: BLE001
            rows.append((name, f"BUILD ERROR: {ex}", "", "", "", "", ""))
            continue
        rows.append((
            name,
            plan.count("Exchange") - plan.count("BroadcastExchange"),
            plan.count("BroadcastHashJoin"),
            plan.count("SortMergeJoin"),
            plan.count("ArrowEvalPython") + plan.count("MapInPandas")
            + plan.count("MapInArrow") + plan.count("FlatMapGroupsInPandas"),
            "yes" if "PushedFilters: [" in plan and
            "PushedFilters: []" not in plan.split("PushedFilters:", 1)[1][:4] else "-",
            "CLEAN" if ("BroadcastNestedLoopJoin" not in plan
                        and "CartesianProduct" not in plan) else "VIOLATION",
        ))
    spark.stop()

    lines = [
        "# PLANS — physical-plan health of every driver-contract query",
        "",
        "Generated by `python tools/audit_plans.py` (re-run after plan",
        "changes). Counts reflect what EXECUTES: persisted (InMemoryRelation)",
        "subtrees compute once globally, so their printed re-occurrence under",
        "every InMemoryTableScan reference is stripped before counting — a",
        "query whose whole pipeline feeds from a cache can legitimately show",
        "0 shuffles/0 Python nodes outside the one-time cached computation.",
        "Columns: shuffle exchanges (excl. broadcast), broadcast",
        "hash joins, sort-merge joins, Python (Arrow) nodes, parquet filter",
        "pushdown seen, and the nested-loop/cartesian check that",
        "`tests/test_plans.py::test_no_nested_loop_or_cartesian_in_any_query`",
        "gates.",
        "",
        "| query | shuffles | bcast joins | SMJ | py nodes | pushdown | NLJ check |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"PLANS.md written ({len(rows)} queries)")
    bad = [r for r in rows if r[-1] != "CLEAN"]
    if bad:
        print("VIOLATIONS:", [r[0] for r in bad])
        sys.exit(1)


if __name__ == "__main__":
    main()
