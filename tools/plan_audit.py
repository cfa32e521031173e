"""Dump physical-plan health for the headline queries to PLANS.md:
pushed filters, read schemas (column pruning), join strategies, exchanges,
and codegen spans — the evidence that plans are scale-shaped.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE
from mapreducefw_spark.queries import QUERIES, load_all
from mapreducefw_spark.session import get_spark


def final_section(plan: str) -> str:
    """AQE plan strings contain '== Final Plan ==' and '== Initial Plan =='
    sections; audit only the final one to avoid double counting."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==", 1)[0]
    return plan


# every partitioning a shuffle exchange prints: key-hashed, range-sorted,
# round-robin (repartition(n) and rebalance) and a global gather to one task
_EXCHANGES = ("hashpartitioning", "rangepartitioning", "RoundRobinPartitioning", "SinglePartition")


def audit(plan: str) -> dict:
    plan = final_section(plan)
    return {
        "pushed_filters": [
            p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()
        ],
        "read_schemas": re.findall(r"ReadSchema: struct<([^>]{0,120})", plan),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "bnl_joins": plan.count("BroadcastNestedLoopJoin"),
        "shuffles": sum(plan.count(f"Exchange {p}") for p in _EXCHANGES),
        "take_ordered": "TakeOrderedAndProject" in plan,
        # one *(n) per WholeStageCodegen node: AQE numbers the spans anew
        # in each query stage, so the ids repeat and their order varies
        "codegen_spans": len(re.findall(r"\*\(\d+\)", plan)),
    }


def main() -> None:
    load_all()
    spark = get_spark(app_name="plan-audit", cpus=8)
    sf = "/root/testdata/sf0.01"
    lines = [
        "# PLANS — physical-plan audit of the headline queries (generated by tools/plan_audit.py)",
        "",
        "Evidence that each headline plan is scale-shaped: predicate pushdown and",
        "column pruning reach the parquet scans, dimension joins broadcast, the",
        "shuffle count matches the minimum the semantics require, and expressions",
        "stay inside whole-stage codegen.",
        "",
    ]
    for name in HEADLINE:
        df = QUERIES[name](spark, sf)
        # execute THIS plan object (write/count would clone it): codegen spans
        # (*(n)) and final strategies only appear once AQE is finalized
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            f"- joins: {a['broadcast_joins']} broadcast, {a['sortmerge_joins']} sort-merge, "
            f"{a['bnl_joins']} broadcast-NL; shuffles: {a['shuffles']}; "
            f"codegen spans: {a['codegen_spans']}"
            + ("; global top-k via TakeOrderedAndProject" if a["take_ordered"] else "")
        )
        for p in a["pushed_filters"][:3]:
            lines.append(f"- pushed: `{p[:110]}`")
        for s in a["read_schemas"][:3]:
            lines.append(f"- read schema (pruned): `struct<{s}...`")
        lines.append("")
    Path("PLANS.md").write_text("\n".join(lines))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
