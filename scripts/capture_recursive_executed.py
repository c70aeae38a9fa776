#!/usr/bin/env python
"""Prove (or disprove) that the BROADCAST(t) hint inside q_recursive_tree's
recursive member binds in the EXECUTED per-level plans (VERDICT r12 next #6:
the static explain only shows the logical UnionLoop — the loop body is
re-planned and executed per level, so the physical join never appears in the
declared plan dump).

Spark's UnionLoopExec runs each recursion step as its own SQL (sub)execution;
every one of those lands in the live UI status store with its full physical
plan description. This script runs the query to a noop sink, then dumps every
execution's physicalPlanDescription and summarizes the join operators found
in the loop-body executions.

    python scripts/capture_recursive_executed.py [out_file]
"""

from __future__ import annotations

import os
import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    out_file = pathlib.Path(
        sys.argv[1]
        if len(sys.argv) > 1
        else pathlib.Path(__file__).resolve().parent.parent
        / "plans"
        / "r13"
        / "q_recursive_tree_executed_levels.txt"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cdc_worker_spark.session import get_spark

    spark = get_spark("capture-recursive-executed")
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_worker_spark.plans import all_queries

    qs = all_queries()
    qs["q_recursive_tree"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    blocks: list[str] = []
    join_lines: list[str] = []
    for i in range(execs.size()):
        e = execs.apply(i)
        desc = e.physicalPlanDescription()
        blocks.append(
            f"=== execution {e.executionId()}: {e.description()} ===\n{desc}\n"
        )
        for ln in desc.splitlines():
            if re.search(r"Join|UnionLoopRef", ln) and "==" not in ln:
                join_lines.append(f"exec {e.executionId()}: {ln.strip()}")

    header = [
        "EXECUTED plans of q_recursive_tree (all SQL executions in the",
        "session, including the per-level loop-body executions spawned by",
        "UnionLoopExec). Summary of join operators found:",
        "",
        *join_lines,
        "",
        "=" * 72,
        "",
    ]
    out_file.parent.mkdir(parents=True, exist_ok=True)
    out_file.write_text("\n".join(header) + "\n".join(blocks))
    print(f"wrote {out_file} ({len(blocks)} executions)")
    for ln in join_lines:
        print(ln)
    spark.stop()


if __name__ == "__main__":
    main()
