"""Physical-plan report over every gate query → PLANS.md.

For each `__spark_entry__.queries()` entry, records the scale-relevant
plan features: number of Exchanges (shuffles), join strategies chosen,
TakeOrdered vs global Sort, whole-stage-codegen coverage, scan pruning
(PushedFilters / PartitionFilters), and any red flags (CartesianProduct,
row-at-a-time Python UDFs in the hot path). Run after plan-affecting
changes; the diff of PLANS.md is the review artifact.

Reading the report: every BroadcastNestedLoop occurrence in the gate is
a ONE-ROW broadcast (a corpus-stats / totals relation crossJoined in:
ks_drift totals, bm25 corpus stats) or the
UNDEF-wildcard theta join of values_undef — the right plan for those
shapes, not an accidental O(n*m). The structural audits
(tests/test_plans.py) separately assert zero CartesianProduct anywhere.

Usage: python tools/plan_report.py [sf_dir] (default sf0.001 — plan
shapes, not timings, so the smallest data is fine).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_features(plan: str) -> dict:
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    return {
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan, re.M)),
        "joins": dict(
            (j, joins.count(j)) for j in sorted(set(joins))
        ),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "global_sort": bool(
            re.search(r"^\(\d+\) Sort", plan, re.M)
        ),
        # formatted mode tags codegen'd operators with "[codegen id : n]"
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "partition_filters": "PartitionFilters: [" in plan
        and "PartitionFilters: []" not in plan,
        "python_eval": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_eval": len(
            re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        "cartesian": "CartesianProduct" in plan,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        # AQE wraps plans in AdaptiveSparkPlan whose initial plan carries no
        # codegen ids until execution — disable so the static plan shows
        # codegen coverage (shuffle/join shapes are unaffected)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    lines = [
        "# PLANS — physical-plan features per gate query",
        "",
        f"Generated by `tools/plan_report.py` at {sf_dir} (plan shapes are",
        "data-size-independent). Columns: shuffles = Exchange count;",
        "joins = physical join strategies; topk = TakeOrderedAndProject",
        "(no global sort materialization); sort = global Sort operator;",
        "wsc = WholeStageCodegen spans; push/part = pushed filters /",
        "partition pruning reach the scan; py/arrow = row-Python vs",
        "Arrow-batched Python operators; CART flags a cartesian product.",
        "",
        "| gate | shuffles | joins | topk | sort | wsc | push | part | py | arrow |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    red_flags = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {type(exc).__name__} | | | | | | | | |")
            continue
        ft = plan_features(plan)
        join_s = (
            ", ".join(f"{k.replace('Join', '')}×{v}" for k, v in ft["joins"].items())
            or "—"
        )
        if ft["cartesian"]:
            red_flags.append(name)
            join_s += " **CART**"
        lines.append(
            f"| {name} | {ft['exchanges']} | {join_s} "
            f"| {'y' if ft['take_ordered'] else ''} "
            f"| {'y' if ft['global_sort'] else ''} "
            f"| {ft['codegen_spans']} "
            f"| {'y' if ft['pushed_filters'] else ''} "
            f"| {'y' if ft['partition_filters'] else ''} "
            f"| {ft['python_eval'] or ''} | {ft['arrow_eval'] or ''} |"
        )
    lines.append("")
    if red_flags:
        lines.append(f"**RED FLAGS (cartesian products): {red_flags}**")
    else:
        lines.append("No cartesian products in any gate plan.")
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out} ({len(entry_mod.queries())} gates)")


if __name__ == "__main__":
    main()
