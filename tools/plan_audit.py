#!/usr/bin/env python
"""Physical-plan audit: one row per driver query with the plan facts
that matter at 100 TB — shuffle count, broadcast joins, file scans,
whole-stage-codegen spans, Python stages, sort-merge joins, and any
red-flag nodes (CartesianProduct, per-row Python UDF).

Writes docs/PLAN_AUDIT.md. Streaming (`*_streamed`) queries are
skipped: they execute eagerly on call (availableNow drains), so their
"plan" is the already-audited batch operator per micro-batch.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RED_FLAGS = ("CartesianProduct", "BatchEvalPython")  # per-row Python UDF node


def audit(sf_dir: str) -> str:
    import __spark_entry__ as em
    from stellar_etl_spark.config import EngineConfig
    from stellar_etl_spark.session import get_spark

    spark = get_spark(EngineConfig(master="local[8]"), app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in em.queries().items():
        if name.endswith("_streamed"):
            continue
        df = fn(spark, sf_dir)
        df.collect()  # drive to completion so AQE finalizes (isFinalPlan=true)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the adaptive plan's toString appends the pre-AQE tree under an
        # "== Initial Plan ==" banner — audit only the final plan
        plan = plan.split("== Initial Plan ==")[0]
        facts = {
            "shuffles": len(re.findall(r"\bExchange hashpartitioning", plan))
            + len(re.findall(r"\bExchange rangepartitioning", plan)),
            "bcast": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
            "smj": len(re.findall(r"SortMergeJoin", plan)),
            "scans": len(re.findall(r"FileScan|Scan ExistingRDD", plan)),
            # executedPlan.toString marks codegen stages as "*(N) Op" prefixes
            "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
            "arrow": len(re.findall(r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas", plan)),
            "flags": ", ".join(sorted({f for f in RED_FLAGS if f in plan})) or "—",
        }
        rows.append((name, facts))
    spark.stop()

    lines = [
        "# PLAN AUDIT — physical-plan profile per driver query",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`; plans are",
        "AQE-final (`executedPlan`). Columns: hash/range Exchanges",
        "(shuffles), broadcast joins, sort-merge joins, scans (file +",
        "materialized-RDD), distinct WholeStageCodegen spans, Arrow",
        "(vectorized Python) stages, red-flag nodes (CartesianProduct,",
        "per-row BatchEvalPython — none may appear except the by-design",
        "broadcast-NL cross joins counted under broadcasts).",
        "",
        "| query | shuffles | broadcast joins | SMJ | scans | codegen spans | arrow stages | red flags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, f in rows:
        lines.append(
            f"| {name} | {f['shuffles']} | {f['bcast']} | {f['smj']} | "
            f"{f['scans']} | {f['codegen']} | {f['arrow']} | {f['flags']} |"
        )
    lines.append("")
    lines.append(
        "`*_streamed` queries are excluded: they drain eagerly and re-use "
        "the audited batch operators per micro-batch."
    )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = audit(sf)
    dst = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "docs", "PLAN_AUDIT.md")
    with open(dst, "w") as fh:
        fh.write(out)
    print(f"wrote {dst}")
