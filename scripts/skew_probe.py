#!/usr/bin/env python
"""Adversarial-SKEW scale probe (r9 verdict item 4): every prior probe
replicated UNIFORM data, leaving the 100 TB claim's weakest assumption
— hot-key behavior — untested. This probe builds deliberately skewed
corpora and times the window/dedup core at 1x and 8x:

- events-skew: ONE user_id (window partition key) holds ~50% of rows,
  at 1x AND 8x — the hot trajectory grows with the corpus, so a
  single-task window partition shows up as a ratio drifting toward 8.
- documents-skew: ~50% of docs are near-identical template copies, so
  their shingles share LSH band buckets — ONE mega-bucket at every
  band, the shape the max_bucket_size cap + saturated policies exist
  for (llm/dedup.py:330,898).

Usage: python scripts/skew_probe.py [--sf-dir D] [--reps N]
Prints markdown rows (paste into SCALING.md's skew-probe section).
Timing is ``scripts/ledger.py scale``'s: warm-up, then bench.py's median
loop over noop-sink materializations.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HOT_UID = 77_777_777


def build_skewed_events(spark, sf_dir: str, out_dir: str, reps: int) -> None:
    """events with every 2nd row reassigned to one hot user, replicated
    ``reps``x with shifted ids/timestamps — the hot window partition is
    ~50% of the corpus at EVERY scale."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n = e.count()
    skewed = e.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(HOT_UID)).otherwise(
            F.col("user_id")
        ),
    )
    parts = [
        skewed.withColumn("event_id", F.col("event_id") + F.lit(i * (n + 1)))
        .withColumn("ts", F.col("ts") + F.make_interval(hours=F.lit(i)))
        for i in range(reps)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))


def build_skewed_documents(spark, sf_dir: str, out_dir: str, reps: int) -> None:
    """documents with every 2nd doc replaced by a near-identical
    template (only a trailing token differs — same 3-shingle set except
    at the tail, so the minhash band buckets collide), replicated
    ``reps``x with shifted ids. The mega-cluster is ~50% of the corpus
    at every scale."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = d.count()
    template = (
        "standard boilerplate disclosure the quick brown fox jumps over "
        "the lazy dog while the committee reviews quarterly obligations "
        "and files the customary appendix with reference number"
    )
    skewed = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(template + " "), (F.col("doc_id") % 5).cast("string")),
        ).otherwise(F.col("text")),
    )
    parts = [
        skewed.withColumn("doc_id", F.col("doc_id") + F.lit(i * (n + 1)))
        for i in range(reps)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))


# one timing protocol for every probe — a local copy would silently
# diverge from the ledger's published numbers
from scripts.ledger import REGISTRY, measure, median  # noqa: E402


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    reps = 8
    args = sys.argv[1:]
    if "--sf-dir" in args:
        sf_dir = args[args.index("--sf-dir") + 1]
    if "--reps" in args:
        reps = int(args[args.index("--reps") + 1])

    from turbine_maintenance_etl_spark import get_spark

    spark = get_spark(app_name="skew-probe")
    base1 = "/tmp/skewprobe/x1"
    base8 = f"/tmp/skewprobe/x{reps}"
    build_skewed_events(spark, sf_dir, base1, 1)
    build_skewed_events(spark, sf_dir, base8, reps)
    build_skewed_documents(spark, sf_dir, base1, 1)
    build_skewed_documents(spark, sf_dir, base8, reps)

    targets = ["cmapss_feature_engine", "dedup_minhash_lsh", "split_cluster_aware"]
    print(f"| query | skewed 1x | skewed {reps}x | ratio |")
    print("|---|---|---|---|")
    for name in targets:
        fn = REGISTRY[name].fn
        t1 = median(measure(spark, fn, base1))
        t8 = median(measure(spark, fn, base8))
        print(f"| {name} | {t1:.2f}s | {t8:.2f}s | {t8 / t1:.1f} |", flush=True)


if __name__ == "__main__":
    main()
