"""Smoke tests for the measurement CLI (scripts/ledger.py): the Spark
subcommands run one small entry at sf0.001 in the shared test session
and print the shapes their readers parse. ``jobs`` and ``exchanges``
read the Spark UI's REST API, which the test session keeps off."""

from __future__ import annotations

import json
import re

from scripts import ledger
from tests.conftest import SF_DIR

ENTRY = "p2_projection"


def test_time_prints_bench_protocol_json(spark, capsys, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    ledger.main(["time", ENTRY], spark=spark)
    out, err = capsys.readouterr()
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"queries", "queries_minmax", "compiles", "sf_dir"}
    assert res["sf_dir"] == SF_DIR and list(res["queries"]) == [ENTRY]
    lo, hi = res["queries_minmax"][ENTRY]
    assert 0 < lo <= res["queries"][ENTRY] <= hi
    # a warmed entry's timed runs reuse its compiled classes
    assert list(res["compiles"]) == [ENTRY] and res["compiles"][ENTRY] == 0
    assert f"{ENTRY}: median={res['queries'][ENTRY]} minmax=" in err
    assert f" compiles={res['compiles'][ENTRY]}" in err


def test_construct_prints_total_and_rows(spark, capsys):
    ledger.main(["construct", SF_DIR, ENTRY], spark=spark)
    lines = capsys.readouterr().out.strip().splitlines()
    assert re.fullmatch(r"construction total \(min of 3\): \d+\.\d\ds over 1 entries", lines[0])
    assert re.fullmatch(rf" *\d+\.\d{{3}}  {ENTRY}", lines[1]) and len(lines) == 2


def test_explain_writes_formatted_plan(spark, capsys, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    ledger.main(["explain", str(tmp_path), "t", ENTRY], spark=spark)
    path = tmp_path / f"{ENTRY}_t.txt"
    plan = path.read_text()
    assert plan.startswith("== Physical Plan ==") and "Scan parquet" in plan
    assert f"wrote {path} ({len(plan)} chars)" in capsys.readouterr().err


def test_scale_replicates_and_prints_ratio_row(spark, capsys, monkeypatch, tmp_path):
    monkeypatch.setattr(ledger, "REPLICA_ROOT", str(tmp_path))
    ledger.main(["scale", ENTRY, "--sf-dir", SF_DIR, "--reps", "2"], spark=spark)
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[:2] == ["| query | sf0.001 | 2x data | ratio |", "|---|---|---|---|"]
    assert re.fullmatch(rf"\| {ENTRY} \| \d+\.\d\ds \| \d+\.\d\ds \| \d+\.\d \|", lines[2])
    assert len(lines) == 3
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rep = spark.read.parquet(str(tmp_path / "probe2x" / "documents.parquet"))
    assert rep.count() == 2 * docs.count()
    assert rep.select("doc_id").distinct().count() == rep.count()


def test_rows_prints_stable_digest_per_entry(spark, capsys):
    ledger.main(["rows", ENTRY, ENTRY, "p5_cast_projection", "--sf-dir", SF_DIR], spark=spark)
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 3
    parsed = [re.fullmatch(r"(\S+) rows=(\d+) sha256=([0-9a-f]{64})", ln) for ln in lines]
    assert all(parsed)
    (n0, r0, h0), (n1, r1, h1), (n2, _, h2) = (m.groups() for m in parsed)
    assert (n0, n1, n2) == (ENTRY, ENTRY, "p5_cast_projection")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert (r0, h0) == (r1, h1) and int(r0) == lineitem.count()
    assert h2 != h0
