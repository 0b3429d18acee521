"""Physical-plan regression tests: the 100 TB design properties
(pushdown, pruning, broadcast, single-exchange windows, true top-k)
asserted on explain() output so a refactor can't silently regress them."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from turbine_maintenance_etl_spark.queries import load_registry

REGISTRY = load_registry()


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Count physical Exchange nodes (the formatted view names each node
    once in the tree and once in the detail section)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in scan_schema  # unused columns pruned
    assert n_exchanges(plan) == 1  # one shuffle: partial->final agg


def test_q3_broadcasts_customer(spark):
    plan = plan_of(REGISTRY["q3_shipping_priority"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_q5_star_join_broadcasts_dims(spark):
    plan = plan_of(REGISTRY["q5_regional_revenue"].fn(spark, SF_DIR))
    # all three dimension joins broadcast; only lineitem⋈orders shuffles
    assert plan.count("BroadcastHashJoin") >= 3


def test_feature_engine_single_exchange(spark):
    """All W1-W5 features share one Window partitioning -> exactly one
    shuffle (plus one for the row_number trajectory prep), never one per
    feature family."""
    from tests.conftest import make_cmapss_pdf
    from turbine_maintenance_etl_spark.features.engine import build_features

    pdf = make_cmapss_pdf(n_units=2)
    df = spark.createDataFrame(pdf)
    feats = build_features(df, sensors=["sensor2", "sensor3", "sensor4"])
    plan = plan_of(feats)
    assert n_exchanges(plan) == 1
    # one Window chain, no sort per feature family
    assert plan.count("Sort ") <= 2


def test_o2_topk_no_global_sort(spark):
    plan = plan_of(REGISTRY["o2_topk_recent"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_j1_broadcast(spark):
    plan = plan_of(REGISTRY["j1_broadcast_equijoin"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_semi_anti_join_strategies(spark):
    plan = plan_of(REGISTRY["j_semi_anti_join"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_minhash_partial_aggregation(spark):
    """MinHash signatures must partial-aggregate map-side: the exchange
    carries K int64 mins per doc, not raw shingle hashes."""
    from turbine_maintenance_etl_spark.llm.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    assert "partial_min" in plan


def test_bucketed_join_eliminates_shuffle(spark):
    """Co-bucketed tables join with ZERO shuffle Exchanges; the same
    join on plain parquet shuffles both sides."""
    from turbine_maintenance_etl_spark.io.sinks import write_bucketed

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    per_user = events.groupBy("user_id").agg(F.sum("value").alias("total"))
    write_bucketed(events.select("event_id", "user_id", "value"), "b_events", ("user_id",))
    write_bucketed(per_user, "b_users", ("user_id",))
    try:
        b = (
            spark.table("b_events").hint("merge")
            .join(spark.table("b_users").hint("merge"), "user_id")
        )
        assert n_exchanges(plan_of(b)) == 0

        plain = (
            events.select("event_id", "user_id", "value").hint("merge")
            .join(per_user.hint("merge"), "user_id")
        )
        assert n_exchanges(plan_of(plain)) >= 2

        # same results either way
        assert b.count() == plain.count()
        assert b.agg(F.round(F.sum("total"), 2)).collect() == plain.agg(
            F.round(F.sum("total"), 2)
        ).collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_events")
        spark.sql("DROP TABLE IF EXISTS b_users")


def test_asof_join_single_exchange(spark):
    """The union+window as-of join shuffles exactly once (on the key),
    never a range join or per-key quadratic work."""
    from turbine_maintenance_etl_spark.ops.asof import asof_join

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    left = e.select("user_id", "ts", "event_id")
    right = e.select("user_id", "ts", "value")
    plan = plan_of(asof_join(left, right, on=["user_id"], tie_break="event_id"))
    assert n_exchanges(plan) == 1


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Filtering the partition column prunes at the file-listing level:
    the scan's partition filters carry the predicate and only one
    dataset directory is read."""
    from turbine_maintenance_etl_spark.io.sinks import write_partitioned_parquet

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    tagged = e.withColumn(
        "dataset", F.when(F.col("user_id") % 2 == 0, "FD001").otherwise("FD002")
    )
    path = str(tmp_path / "parted")
    write_partitioned_parquet(tagged, path, ("dataset",))
    q = spark.read.parquet(path).filter(F.col("dataset") == "FD001")
    plan = plan_of(q)
    assert "PartitionFilters" in plan and "FD001" in plan
    # row counts prove pruning semantics
    assert q.count() == tagged.filter(F.col("dataset") == "FD001").count()


def test_curation_pipeline_single_wide_stage(spark):
    """Quality filter fuses into the scan; the dedup window's exchange
    is the ONLY shuffle in the curated-chunk plan (chunking is narrow)."""
    from turbine_maintenance_etl_spark.llm.curation import curate_corpus

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(curate_corpus(docs))
    assert n_exchanges(plan) == 1


def test_exact_rank_paths_never_single_partition(spark):
    """The exact-rank family (curation_v2 perplexity gate, weighted
    sampling, temperature mixture) must plan ZERO SinglePartition
    exchanges — the round-3 verdict's last scale-killer. The
    quantile-bucketed rank cut ranks only the boundary bucket under a
    declared partition key.

    A SinglePartition exchange directly feeding a Sort or Window means
    the whole input is sorted on one reducer — forbidden. The only
    tolerated SinglePartition is the final merge of a scalar aggregate
    over an already-aggregated (bounded) frame."""
    import re

    for name in (
        "pipeline_curation_v2",
        "sample_weighted_topk",
        "curation_temperature_mix",
    ):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(
            r"(Sort|Window)[^\n]*\n[^\n]*Exchange SinglePartition", plan
        ), name
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            # parent = nearest earlier line at a shallower connector depth;
            # it must be the final merge of a scalar aggregate
            def depth(s: str) -> int:
                m = re.search(r"[+:]-", s)
                return m.start() if m else -1
            d = depth(line)
            parent = next(
                (lines[j] for j in range(i - 1, -1, -1) if depth(lines[j]) < d),
                "",
            )
            assert "HashAggregate" in parent, f"{name}: parent {parent!r}"


def test_analytic_suite_single_exchange(spark):
    """The merged rank/offset/cumulative/boundary window suite: two
    orderings over ONE partition key -> exactly one Exchange and two
    Window nodes (each with its intra-partition sort), never a shuffle
    per window family."""
    plan = plan_of(REGISTRY["w_analytic_suite"].fn(spark, SF_DIR))
    assert n_exchanges(plan) == 1
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) == 2


def test_rolling_means_share_window_exec(spark):
    """W2+W3 (frames 5 and 20) evaluate in a single Window node over a
    single shuffle — the single-WindowSpec rule the feature engine is
    built on."""
    plan = plan_of(REGISTRY["w2_w3_rolling_means"].fn(spark, SF_DIR))
    assert n_exchanges(plan) == 1
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_aqe_splits_engineered_skew_join(spark):
    """Runtime scale evidence: a join with one hot key (95% of rows)
    must trigger AQE's skew-partition split in the FINAL adaptive plan
    ('skew=true'), with thresholds lowered to make local data sizes
    qualify. At 100 TB the default thresholds do the same job."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(300_000).select(
            F.when(F.col("id") < 285_000, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        # bare join: AQE declines the skew split if a downstream stage
        # (e.g. a groupBy on the join key) REQUIRES the join's hash
        # partitioning — splitting would force a re-shuffle. collect()
        # executes THIS DataFrame's queryExecution, so its adaptive plan
        # is finalized (count() would spawn a separate one).
        joined = left.join(right, "k")
        assert len(joined.collect()) == 300_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_perceptual_dedup_plans_are_narrow(spark):
    """The round-5 perceptual dedup family must plan like its design
    doc: hashing is a narrow Arrow map (no shuffle before the hash UDF),
    the survivor window partitions on the hash key (never
    SinglePartition), and the video signature fold is ONE hash
    aggregation on video_id."""
    import re

    for name in ("dedup_image_phash", "dedup_audio_fingerprint"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(
            r"(Sort|Window)[^\n]*\n[^\n]*Exchange SinglePartition", plan
        ), name
        assert "WindowExec: No Partition Defined" not in plan, name
        # survivor window shuffles on the fingerprint key — now wrapped
        # in the NULL-skew coalesce (undecodable rows get per-doc keys
        # instead of piling into one hash=NULL partition); the coalesce
        # projects into a window expression (_w0) that the exchange
        # hashes on, so pin: a hash exchange exists AND the projected
        # key is the coalesced fingerprint
        if name == "dedup_image_phash":
            assert re.search(r"Exchange hashpartitioning\(_w\d", plan), name
            assert re.search(r"coalesce\(cast\(dhash", plan), name
        else:  # audio survivor window partitions on the raw fingerprint
            assert re.search(r"Exchange hashpartitioning\(afp", plan), name

    vf = REGISTRY["dedup_video_frames"].fn(spark, SF_DIR)
    vplan = vf._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(video_id", vplan)
    assert not re.search(
        r"(Sort|Window)[^\n]*\n[^\n]*Exchange SinglePartition", vplan
    )


def test_mlp_forward_scoring_zero_shuffle(spark):
    """UD3 scoring (r9): the frozen-weight MLP forward pass must stay
    one scan -> one ArrowEvalPython — zero exchanges, weights travel as
    a broadcast variable, never a join."""
    plan = plan_of(REGISTRY["ml_mlp_forward_scoring"].fn(spark, SF_DIR))
    assert n_exchanges(plan) == 0
    assert plan.count("ArrowEvalPython") >= 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_linear_scoring_broadcasts_stats_only(spark):
    """UD2 scoring (r9): the in-query fit stats (median / mean / std)
    are 1-row aggregates broadcast back over the scan — the corpus
    itself must never shuffle (no SortMergeJoin/ShuffledHashJoin; the
    only exchanges are the SinglePartition partial->final stat aggs),
    and the row path is pure JVM (no Python evals)."""
    plan = plan_of(REGISTRY["ml_linear_scoring"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # 1-row stat frames
    assert "EvalPython" not in plan


def test_span_dedup_plans_two_wide_stages(spark):
    """ExactSubstr operators (r10 optimization): the coverage math is a
    per-doc interval-array aggregate, not an exploded (doc, idx) row
    stream — each declared plan must stay at exactly TWO exchanges (the
    span-key window + the per-doc groupBy), ONE Generate (the gram
    explode; the 8x covered-index explode and the rebuild posexplode
    are gone), and the rewrite must carry no localCheckpoint scan (the
    'span-removed' barrier was removed outright)."""
    import re

    for name in ("dedup_span_coverage", "dedup_span_rewrite"):
        plan = plan_of(REGISTRY[name].fn(spark, SF_DIR))
        assert n_exchanges(plan) == 2, name
        assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, name
        assert "ExistingRDD" not in plan, name  # no checkpoint scan
