#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan properties of the bench headline
queries at sf0.01 (pre-execution plans; AQE may coalesce/skew-split at
runtime, never add shuffles).

Usage: python scripts/gen_plans.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# PLANS — physical-plan properties of the headline queries

Auto-generated by `scripts/gen_plans.py` from `.explain("formatted")`
at sf0.01 (`tests/test_explain_plans.py` pins the load-bearing rows as
regression tests). Plans are pre-execution (AQE may further
coalesce/skew-split at runtime, never add shuffles).

`shuffle Exch` counts shuffle Exchange nodes only; `bcast Exch` counts
BroadcastExchange (moves the SMALL side only — not a scaling concern).
`pushdown` = predicate(s) reached the parquet scan.

| query | shuffle Exch | bcast Exch | BHJ | SHJ | SMJ | true top-k | pushdown |
|---|---|---|---|---|---|---|---|
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bench import BENCH_QUERIES
    from scripts.ledger import REGISTRY, explain_string
    from turbine_maintenance_etl_spark import get_spark

    spark = get_spark(app_name="gen-plans")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in BENCH_QUERIES:
        plan = explain_string(REGISTRY[name].fn(spark, sf_dir))
        shuffle = len(re.findall(r"\(\d+\) Exchange", plan))
        bcast = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
        shj = len(re.findall(r"\(\d+\) ShuffledHashJoin", plan))
        smj = len(re.findall(r"\(\d+\) SortMergeJoin", plan))
        topk = "Y" if "TakeOrderedAndProject" in plan else "—"
        pushdown = (
            "Y"
            if re.search(r"PushedFilters: \[(?!\])", plan)
            else "—"
        )
        rows.append(
            f"| {name} | {shuffle} | {bcast} | {bhj} | {shj} | {smj} | {topk} | {pushdown} |"
        )
        print(rows[-1])

    # regenerate ONLY the table; the prose analysis sections below it
    # ("Reading the table…" onward) are maintained by hand
    path = os.path.join(REPO, "PLANS.md")
    tail = ""
    if os.path.exists(path):
        existing = open(path).read()
        marker = "\nReading the table"
        if marker not in existing:
            raise SystemExit(
                "PLANS.md exists but the 'Reading the table' marker is "
                "missing — refusing to rewrite (would silently drop the "
                "hand-maintained analysis sections). Restore the marker "
                "or delete PLANS.md to regenerate from scratch."
            )
        tail = existing[existing.index(marker) :]
    with open(path, "w") as f:
        f.write(HEADER + "\n".join(rows) + "\n" + tail)


if __name__ == "__main__":
    main()
