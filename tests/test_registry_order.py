"""The driver grades only the first GRADE_WINDOW registry entries, so
export order IS coverage. These tests pin (a) PRIORITY_ORDER covers the
registry exactly — a new entry without an ordering decision fails fast —
(b) the graded window equals the reviewed WINDOW_CHANGELOG.md record, so
the window cannot be reshaped by editing code alone (round-4 advice:
keep the pin independent of the change that reshapes the window), and
(c) every graded entry has an oracle except the two documented
rows-only exceptions."""

from __future__ import annotations

import os
import re

from turbine_maintenance_etl_spark.queries import (
    GRADE_WINDOW,
    PRIORITY_ORDER,
    load_registry,
    ordered_registry,
)

REGISTRY = load_registry()

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Entries graded WITHOUT an oracle (driver rows-only check). Round 7
# emptied this: every window slot now carries a full DuckDB oracle.
# Additions require a WINDOW_CHANGELOG.md note FIRST.
ROWS_ONLY_GRADED: set[str] = set()


def _changelog_window() -> list[str]:
    """Parse the 'Current graded window' fenced list from the reviewed
    changelog — the single source of truth for window composition."""
    with open(os.path.join(_REPO, "WINDOW_CHANGELOG.md")) as f:
        text = f.read()
    m = re.search(r"## Current graded window[^\n]*\n+```\n(.*?)```", text, re.S)
    assert m, "WINDOW_CHANGELOG.md lost its 'Current graded window' block"
    return [ln.strip() for ln in m.group(1).splitlines() if ln.strip()]


def test_order_covers_registry_exactly():
    assert sorted(PRIORITY_ORDER) == sorted(REGISTRY), (
        "PRIORITY_ORDER and REGISTRY drifted; add/remove the entry in both"
    )
    assert len(set(PRIORITY_ORDER)) == len(PRIORITY_ORDER), "duplicate names"


def test_graded_window_matches_reviewed_changelog():
    """Any window reshape must be recorded in WINDOW_CHANGELOG.md first
    — code and changelog must agree name-for-name, slot-for-slot."""
    want = _changelog_window()
    assert len(want) == GRADE_WINDOW, (
        f"changelog lists {len(want)} entries, GRADE_WINDOW is {GRADE_WINDOW}"
    )
    got = list(ordered_registry())[:GRADE_WINDOW]
    assert got == want, (
        "graded window drifted from WINDOW_CHANGELOG.md; if the change is "
        f"intentional, record it there with rationale. diff: "
        f"{[(i, g, w) for i, (g, w) in enumerate(zip(got, want)) if g != w]}"
    )


def test_every_graded_entry_has_oracle_or_documented_exception():
    ordered = ordered_registry()
    for name in list(ordered)[:GRADE_WINDOW]:
        if name in ROWS_ONLY_GRADED:
            assert ordered[name].oracle is None
            continue
        assert ordered[name].oracle is not None, (
            f"{name} is inside the grade window but has no oracle SQL "
            "(and is not a documented rows-only exception)"
        )


def test_folded_originals_remain_registered():
    """The round-4/5 compactions must never silently DROP the original
    single-operator entries: suites add a merged graded row; the
    originals stay registered (selfchecked + tests/test_oracle.py)."""
    originals = {
        "sim_brute_force_topk", "sim_lsh_topk", "sim_multiprobe_topk",
        "events_tumbling_window", "events_session_window",
        "text_chunking", "text_pii_redaction",
        "dedup_cluster_resolution", "dedup_neardup_survivors",
        "p1_positional_truncation", "j2_rownumber_keygen",
        "a1_grouped_minmax", "w1_partition_max", "o1_composite_sort",
        "text_decontamination", "dedup_span_coverage",
        "agg_rollup_cube", "agg_pivot",
        "a5_a7_distinct_global_stats", "a11_grouped_error_metrics",
        "a12_a14_quantile_corr", "a13_a15_histogram_binning",
    }
    assert originals <= set(PRIORITY_ORDER)
