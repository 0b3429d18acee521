"""The round-5 tagged-union suites claim to be EXACTLY the original
entries' rows with a variant tag — this differential pins that claim, so
a suite can never silently drift from the single-operator entries it
graded-replaces (WINDOW_CHANGELOG.md round-5 note)."""

from __future__ import annotations

import pytest

from turbine_maintenance_etl_spark.queries import load_registry

REGISTRY = load_registry()

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    # None-safe sort: grouping-set rows carry NULL dimension values
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@pytest.mark.parametrize(
    "suite,variant,original,mapping",
    [
        ("sim_topk_suite", "brute", "sim_brute_force_topk",
         [("query_id", "query_id"), ("neighbor_id", "neighbor_id"),
          ("cosine", "cosine"), ("rank", "rank")]),
        ("sim_topk_suite", "lsh", "sim_lsh_topk",
         [("query_id", "query_id"), ("neighbor_id", "neighbor_id"),
          ("cosine", "cosine"), ("rank", "rank")]),
        ("sim_topk_suite", "multiprobe", "sim_multiprobe_topk",
         [("query_id", "query_id"), ("neighbor_id", "neighbor_id"),
          ("cosine", "cosine"), ("rank", "rank")]),
        ("events_window_suite", "tumbling", "events_tumbling_window",
         [("k1", "win5m"), ("n", "n"), ("total_value", "total_value")]),
        ("events_window_suite", "session", "events_session_window",
         [("k1", "user_id"), ("k3", "session_end_us"),
          ("n", "n_events"), ("total_value", "total_value")]),
        ("text_pipeline_suite", "chunk", "text_chunking",
         [("doc_id", "doc_id"), ("k1", "chunk_id"), ("s", "chunk_text")]),
        ("text_pipeline_suite", "pii", "text_pii_redaction",
         [("doc_id", "doc_id"), ("k1", "n_emails"), ("k2", "n_phones"),
          ("s", "redacted_md5")]),
        ("dedup_graph_suite", "clusters", "dedup_cluster_resolution",
         [("doc_id", "doc_id"), ("k", "cluster_id")]),
        ("dedup_graph_suite", "survivors", "dedup_neardup_survivors",
         [("doc_id", "doc_id"), ("s", "source")]),
        # round-6 compaction: grouping suite vs the folded originals
        ("agg_grouping_suite", "grouping", "agg_rollup_cube",
         [("src", "src"), ("d1", "d1"), ("d2", "d2"),
          ("gid", "gid"), ("n", "n"), ("measure", "measure")]),
    ],
)
def test_suite_branch_equals_original(spark, suite, variant, original, mapping):
    suite_df = REGISTRY[suite].fn(spark, SF_DIR).filter(f"variant = '{variant}'")
    orig_df = REGISTRY[original].fn(spark, SF_DIR)
    got = _rows(suite_df, [m[0] for m in mapping])
    want = _rows(orig_df, [m[1] for m in mapping])
    assert got == want, f"{suite}[{variant}] drifted from {original}"


def test_grouping_suite_pivot_branch_equals_melted_pivot(spark):
    """The suite's 'pivot' variant is agg_pivot's wide rows MELTED to
    (d1=returnflag, d2=linestatus, measure=cell): differential over the
    exact cell values."""
    suite = REGISTRY["agg_grouping_suite"].fn(spark, SF_DIR).filter("variant = 'pivot'")
    wide = REGISTRY["agg_pivot"].fn(spark, SF_DIR)
    got = {(r["d1"], r["d2"]): r["measure"] for r in suite.collect()}
    want = {}
    for r in wide.collect():
        want[(r["l_returnflag"], "O")] = r["qty_O"]
        want[(r["l_returnflag"], "F")] = r["qty_F"]
    assert got == want


def test_stats_suite_branches_equal_melted_originals(spark):
    """a_stats_suite (round-6 wave 2) must be EXACTLY each original
    entry's cells melted to (variant, k1, k2, metric, value) — no
    checksum reduction, per-cell equality."""
    from turbine_maintenance_etl_spark.queries_suites import _STATS_SUITE_PARTS

    suite = REGISTRY["a_stats_suite"].fn(spark, SF_DIR).collect()
    got = {}
    for r in suite:
        got[(r["variant"], r["k1"], r["k2"], r["metric"])] = r["value"]
    want = {}
    for variant, orig, keys, metrics in _STATS_SUITE_PARTS:
        for r in REGISTRY[orig].fn(spark, SF_DIR).collect():
            k1 = str(r[keys[0]]) if len(keys) > 0 else None
            k2 = str(r[keys[1]]) if len(keys) > 1 else None
            for m in metrics:
                want[(variant, k1, k2, m)] = float(r[m]) if r[m] is not None else None
    assert got == want


def _by_event(df, col):
    # NaN-safe: a NaN reading must match a NaN reading
    return {
        r["event_id"]: "NaN" if r[col] != r[col] else r[col]
        for r in df.select("event_id", col).collect()
    }


@pytest.mark.parametrize(
    "original,cols",
    [
        ("w1_partition_max", ["headroom"]),
        ("w2_w3_rolling_means", ["mean5", "mean20"]),
        ("w4_lag_diff", ["d_value"]),
        ("w5_group_zscore", ["z_value"]),
    ],
)
def test_w_core_suite_columns_equal_originals(spark, original, cols):
    """w_core_suite stays hand-written (one fused WindowSpec pair over
    one exchange), so each of its columns is pinned, per event, to the
    window original it replaces in the graded window."""
    suite = REGISTRY["w_core_suite"].fn(spark, SF_DIR)
    orig = REGISTRY[original].fn(spark, SF_DIR)
    for c in cols:
        assert _by_event(suite, c) == _by_event(orig, c), f"w_core_suite.{c}"


def test_w_core_suite_is_last_marks_last_per_group(spark):
    suite = REGISTRY["w_core_suite"].fn(spark, SF_DIR)
    last = {r["event_id"] for r in suite.filter("is_last = 1").collect()}
    want = {
        r["event_id"]
        for r in REGISTRY["w6_last_per_group"].fn(spark, SF_DIR).collect()
    }
    assert last == want


def test_order_suite_topk_recent_equals_o2(spark):
    """The hand-written topk_recent branch carries o2_topk_recent's
    rows: (event_id, ts_us as a string) in the suite's (k1, k2)."""
    suite = REGISTRY["o_order_limit_suite"].fn(spark, SF_DIR)
    got = _rows(suite.filter("src = 'topk_recent'"), ["k1", "k2"])
    want = sorted(
        (r["event_id"], str(r["ts_us"]))
        for r in REGISTRY["o2_topk_recent"].fn(spark, SF_DIR).collect()
    )
    assert got == want
