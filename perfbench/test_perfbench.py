"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q

The generator and naming tests take seconds; the traced-run tests start
Spark twice per workload and take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import gen
import run
from workloads import LAYERS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]{1,64}\Z")
DETERMINISTIC = ("jobs", "rows_out", "shuffle_write_bytes", "files_written")


@pytest.mark.parametrize("make", [
    lambda d, s: gen.cmapss(d, s, 3),
    lambda d, s: gen.documents(d, s, 200, n_bench=20),
    lambda d, s: gen.images(d, s, 12),
], ids=["cmapss", "documents", "images"])
def test_same_seed_same_input_checksum(tmp_path, make):
    a = make(str(tmp_path / "a"), 7)
    b = make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert a.sha256 == b.sha256
    assert a.sha256 != c.sha256


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_image_duplicates_share_a_hash(tmp_path, seed):
    """The image-survivor check relies on the generator's by-construction claim:
    duplicates hash like their original, distinct images do not."""
    import pyarrow.parquet as pq

    from turbine_maintenance_etl_spark.llm.multimodal import (
        decode_image_pixels,
        dhash_int,
        grayscale_int,
    )

    inputs = gen.images(str(tmp_path), seed, 60)
    blobs = pq.read_table(inputs.paths["images"]).column("media").to_pylist()
    hashes = {dhash_int(grayscale_int(decode_image_pixels(b))) for b in blobs}
    assert len(blobs) == inputs.expect["images"] > inputs.expect["distinct"]
    assert len(hashes) == inputs.expect["distinct"]


def test_names_match_the_contract():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(NAME.match(layer) for layers in LAYERS.values() for layer in layers)


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation_corpus", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _traced(workload: str) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"], p.stdout[-2000:]
    return out["metrics"]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_deterministic_counters_repeat(workload):
    a, b = _traced(workload), _traced(workload)
    assert a.keys() == b.keys() == set(run.per_layer_names())
    counted = {k: a[k]["value"] for k in a if k.rsplit(".", 1)[1] in DETERMINISTIC}
    own = [k for k in counted if any(k.startswith(layer + ".") for layer in LAYERS[workload])]
    assert any(counted[k] for k in own)
    assert counted == {k: b[k]["value"] for k in counted}
