#!/usr/bin/env python
"""One measurement CLI over the query registry. Every subcommand shares
one registry load, one warm-up (an sf0.001 run, then a target-SF run),
bench.py's noop-sink ``_materialize`` and bench.py's timing loop
(``bench.time_entry``: median of 3-7 cold runs, clearCache() before
each), so a probe's number means what bench.py's number means.

Usage: python scripts/ledger.py <subcommand> ...
  time NAME [NAME ...] [--reps N]
      bench.py's protocol over an explicit entry list; one JSON line of
      medians + min/max on stdout, one progress line per entry on stderr.
      The line's ``compiles`` map counts the generated classes Spark
      compiled during each entry's timed runs (after its warm-up): an
      entry whose plans outgrow Spark's codegen cache reads above 0.
      SF from $SPARK_GRAFT_SF_DIR (default: the sf0.1 corpus).
  quiet OUT.json [N_RUNS]
      run bench.py N_RUNS (default 5) times back-to-back, as separate
      processes, and aggregate per-entry medians and min/max across runs
      into a BENCH_QUIET-style artifact. Run on an otherwise-idle host.
  scale Q1,Q2,... [--sf-dir D] [--reps N]
      replicate the corpus tables N x (default 8; ids shifted, text
      perturbed so exact dedup cannot collapse the replicas) and print a
      markdown row per query: 1x median, N x median, ratio. Near-linear
      ops show a ratio well under N; super-linear ratios flag a quadratic.
  construct [SF_DIR] [NAME ...]
      DataFrame CONSTRUCTION time only (py4j Column round-trips, F.expr
      parses, eager guard counts or barriers), min of 3, largest first;
      default entries are bench.py's.
  jobs NAME [SF_DIR]
      every Spark job one run submitted, grouped by description, plus
      the driver/planning gap between them.
  exchanges NAME [SF_DIR]
      every Exchange / BroadcastExchange / ReusedExchange / Subquery node
      of one run's final AQE plans with its size metrics; builds of the
      same frame show up as repeats without a ReusedExchange.
  explain OUTDIR SUFFIX NAME [NAME ...]
      write OUTDIR/<name>_<SUFFIX>.txt with .explain("formatted"),
      pre-execution, at $SPARK_GRAFT_SF_DIR (default: the sf0.01 corpus).
  rows NAME [NAME ...] [--sf-dir D]
      one line per entry: its row count and the sha256 of its schema
      JSON plus its sorted rows. Equal lines from two checkouts mean a
      refactor left the entry's output unchanged.

SF_DIR defaults to the sf0.1 corpus beside bench.py's sf0.001 warm-up
corpus. jobs and exchanges read the Spark UI's REST API, so they switch
SPARK_UI on unless it is set. SPARK_GRAFT_CPUS sizes local mode.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import urllib.request
from collections import defaultdict
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import BENCH_QUERIES, WARM_DIR, _materialize, time_entry  # noqa: E402
from turbine_maintenance_etl_spark import get_spark  # noqa: E402
from turbine_maintenance_etl_spark.queries import load_registry  # noqa: E402

REGISTRY = load_registry()

DEFAULT_SF = os.path.join(os.path.dirname(WARM_DIR), "sf0.1")
PLAN_SF = os.path.join(os.path.dirname(WARM_DIR), "sf0.01")
REPLICA_ROOT = "/tmp"  # scale writes its N x corpus to REPLICA_ROOT/probe<N>x


def warm(spark, fn, sf_dir: str) -> None:
    """One sf0.001 run (JVM codegen, file index) and one target-SF run
    (per-corpus memo state, AQE codegen at this scale)."""
    if os.path.isdir(WARM_DIR) and WARM_DIR != sf_dir:
        _materialize(fn(spark, WARM_DIR))
    _materialize(fn(spark, sf_dir))


def codegen_compiles(spark) -> int:
    """Generated classes Spark has compiled in this JVM so far (the
    sample count of ``CodegenMetrics``' compilation-time histogram)."""
    source = spark.sparkContext._jvm.org.apache.spark.metrics.source  # noqa: SLF001
    return source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def measure(spark, fn, sf_dir: str, max_runs: int = 7) -> list[float]:
    """Warm, then bench.py's timing loop; sorted run times."""
    warm(spark, fn, sf_dir)
    return time_entry(spark, fn, sf_dir, max_runs)


def median(runs: list[float]) -> float:
    return runs[len(runs) // 2]


def explain_string(df) -> str:
    """``df.explain("formatted")`` as a string, without running the plan."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def ui_new_since(spark, endpoint: str, key: str, action):
    """Run ``action()`` and return ``(its result, the records it added
    to the UI REST list `endpoint`, by ascending `key`)``."""
    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise SystemExit("the Spark UI is off: rerun with SPARK_UI=true")
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{endpoint}"

    def fetch() -> list[dict]:
        with urllib.request.urlopen(url) as r:
            return json.load(r)

    before = {rec[key] for rec in fetch()}
    out = action()
    new = [rec for rec in fetch() if rec[key] not in before]
    return out, sorted(new, key=lambda rec: rec[key])


def _check(names: list[str]) -> list[str]:
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")
    return names


def cmd_time(spark, a) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF)
    timings: dict[str, float] = {}
    minmax: dict[str, list[float]] = {}
    compiles: dict[str, int] = {}
    for name in _check(a.names):
        fn = REGISTRY[name].fn
        warm(spark, fn, sf_dir)
        before = codegen_compiles(spark)
        runs = time_entry(spark, fn, sf_dir, a.reps)
        compiles[name] = codegen_compiles(spark) - before
        timings[name] = round(median(runs), 4)
        minmax[name] = [round(runs[0], 4), round(runs[-1], 4)]
        print(f"{name}: median={timings[name]} minmax={minmax[name]} "
              f"compiles={compiles[name]}", file=sys.stderr)
    print(json.dumps({"queries": timings, "queries_minmax": minmax, "compiles": compiles,
                      "sf_dir": sf_dir}))


def cmd_quiet(_spark, a) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    runs = []
    for i in range(a.n_runs):
        p = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, env=env, cwd=REPO,
        )
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-2000:])
            raise SystemExit(f"bench run {i} failed rc={p.returncode}")
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][0]
        runs.append(json.loads(line))
        print(f"run {i}: total {runs[-1]['value']}s", file=sys.stderr)
    queries = {}
    for name in runs[0]["queries"]:
        mm = [r["queries_minmax"][name] for r in runs]
        queries[name] = {
            "median_per_run": [r["queries"][name] for r in runs],
            "min_across_runs": min(m[0] for m in mm),
            "max_across_runs": max(m[1] for m in mm),
            "final_head_minmax": mm[-1],
        }
    artifact = {
        "metric": "headline_query_wall_time",
        "unit": "sec",
        "sf": runs[0]["sf"],
        "n": len(queries),
        "totals_per_run": [r["value"] for r in runs],
        "headline_value": min(r["value"] for r in runs),
        "queries": queries,
    }
    with open(a.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"totals_per_run": artifact["totals_per_run"],
                      "headline_value": artifact["headline_value"]}))


def _replicate(frame, id_col: str, reps: int, perturb=None):
    """``reps`` copies of ``frame`` with ``id_col`` shifted past the
    previous copy's ids; ``perturb(frame, i)`` edits copies i >= 1."""
    from pyspark.sql import functions as F

    n = frame.count()
    out = None
    for i in range(reps):
        part = frame.withColumn(id_col, F.col(id_col) + F.lit(i * (n + 1)))
        if i and perturb is not None:
            part = perturb(part, i)
        out = part if out is None else out.unionByName(part)
    return out


def build_replica(spark, sf_dir: str, out_dir: str, reps: int) -> None:
    """documents and embeddings replicated ``reps`` x (documents text-
    perturbed per copy); everything else in ``sf_dir`` copied as is."""
    from pyspark.sql import functions as F

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    def tag(docs, i):
        return docs.withColumn("text", F.concat(F.lit(f"rep{i} tag{i} "), F.col("text")))

    for t, id_col, perturb in (("documents", "doc_id", tag), ("embeddings", "vec_id", None)):
        frame = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        _replicate(frame, id_col, reps, perturb).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    for entry in os.listdir(sf_dir):
        src, dst = os.path.join(sf_dir, entry), os.path.join(out_dir, entry)
        if not os.path.exists(dst):
            (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)


def cmd_scale(spark, a) -> None:
    names = _check(a.names.split(","))
    out_dir = os.path.join(REPLICA_ROOT, f"probe{a.reps}x")
    build_replica(spark, a.sf_dir, out_dir, a.reps)
    print(f"| query | {os.path.basename(a.sf_dir.rstrip('/'))} | {a.reps}x data | ratio |")
    print("|---|---|---|---|")
    for name in names:
        fn = REGISTRY[name].fn
        base = median(measure(spark, fn, a.sf_dir))
        big = median(measure(spark, fn, out_dir))
        print(f"| {name} | {base:.2f}s | {big:.2f}s | {big / base:.1f} |", flush=True)


def cmd_construct(spark, a) -> None:
    names = _check(a.names or BENCH_QUERIES)
    REGISTRY[names[0]].fn(spark, a.sf_dir)  # file index, first-call overheads
    rows = []
    for name in names:
        fn = REGISTRY[name].fn
        fn(spark, a.sf_dir)  # warm any per-corpus memo state
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, a.sf_dir)
            reps.append(time.perf_counter() - t0)
        rows.append((min(reps), name))
    rows.sort(reverse=True)
    total = sum(r[0] for r in rows)
    print(f"construction total (min of 3): {total:.2f}s over {len(rows)} entries")
    for t, name in rows:
        print(f"{t:8.3f}  {name}")


def cmd_jobs(spark, a) -> None:
    fn = REGISTRY[_check([a.name])[0]].fn
    warm(spark, fn, a.sf_dir)
    spark.catalog.clearCache()

    def run() -> float:
        t0 = time.perf_counter()
        _materialize(fn(spark, a.sf_dir))
        return time.perf_counter() - t0

    wall, new = ui_new_since(spark, "jobs", "jobId", run)
    print(f"\n=== {a.name}: wall {wall:.3f}s, {len(new)} jobs ===")
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    groups: dict[str, list[float]] = defaultdict(list)
    total = 0.0
    for j in new:
        st = datetime.strptime(j["submissionTime"], fmt)
        ct = datetime.strptime(j["completionTime"], fmt)
        dur = (ct - st).total_seconds()
        total += dur
        desc = (j.get("description") or j["name"]).split(" at ")[0][:80]
        groups[desc].append(dur)
    for desc, durs in sorted(groups.items(), key=lambda kv: -sum(kv[1])):
        print(f"  {sum(durs):7.3f}s  n={len(durs):>3}  {desc}")
    print(f"  sum-of-jobs {total:.3f}s  gaps(driver/planning) {wall - total:.3f}s")


_EXCHANGE_METRICS = (
    "data size", "dataSize", "number of output rows",
    "shuffle bytes written", "time to broadcast",
)


def cmd_exchanges(spark, a) -> None:
    fn = REGISTRY[_check([a.name])[0]].fn
    warm(spark, fn, a.sf_dir)
    spark.catalog.clearCache()
    _, new = ui_new_since(
        spark, "sql?length=200", "id", lambda: _materialize(fn(spark, a.sf_dir))
    )
    for q in new:
        print(f"\n=== SQL {q['id']}: {q['description'][:70]}  {q['duration']}ms ===")
        for n in q.get("nodes") or []:
            nm = n["nodeName"]
            if not re.search(r"Exchange|Reused|Subquery", nm):
                continue
            mstr = ", ".join(
                f"{m['name']}={m['value']}"
                for m in n.get("metrics", [])
                if m["name"] in _EXCHANGE_METRICS
            )
            print(f"  node {n['nodeId']:>3}  {nm:<28} {mstr}")


def cmd_explain(spark, a) -> None:
    os.makedirs(a.outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", PLAN_SF)
    spark.sparkContext.setLogLevel("ERROR")
    for name in _check(a.names):
        plan = explain_string(REGISTRY[name].fn(spark, sf_dir))
        path = os.path.join(a.outdir, f"{name}_{a.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)


def cmd_rows(spark, a) -> None:
    for name in _check(a.names):
        df = REGISTRY[name].fn(spark, a.sf_dir)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        digest = hashlib.sha256("\n".join([df.schema.json(), *rows]).encode()).hexdigest()
        print(f"{name} rows={len(rows)} sha256={digest}")


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("time")
    s.add_argument("names", nargs="+")
    s.add_argument("--reps", type=int, default=7)
    s = sub.add_parser("quiet")
    s.add_argument("out")
    s.add_argument("n_runs", nargs="?", type=int, default=5)
    s = sub.add_parser("scale")
    s.add_argument("names")
    s.add_argument("--sf-dir", default=DEFAULT_SF)
    s.add_argument("--reps", type=int, default=8)
    s = sub.add_parser("construct")
    s.add_argument("sf_dir", nargs="?", default=DEFAULT_SF)
    s.add_argument("names", nargs="*")
    for cmd in ("jobs", "exchanges"):
        s = sub.add_parser(cmd)
        s.add_argument("name")
        s.add_argument("sf_dir", nargs="?", default=DEFAULT_SF)
    s = sub.add_parser("explain")
    s.add_argument("outdir")
    s.add_argument("suffix")
    s.add_argument("names", nargs="+")
    s = sub.add_parser("rows")
    s.add_argument("names", nargs="+")
    s.add_argument("--sf-dir", default=DEFAULT_SF)
    return p


COMMANDS = {
    "time": cmd_time,
    "quiet": cmd_quiet,
    "scale": cmd_scale,
    "construct": cmd_construct,
    "jobs": cmd_jobs,
    "exchanges": cmd_exchanges,
    "explain": cmd_explain,
    "rows": cmd_rows,
}


def main(argv: list[str] | None = None, spark=None) -> None:
    """Run one subcommand; ``spark`` reuses a caller's session (the
    default builds one named after the subcommand)."""
    a = _parser().parse_args(argv)
    if spark is None and a.cmd != "quiet":
        if a.cmd in ("jobs", "exchanges"):
            os.environ.setdefault("SPARK_UI", "true")
        spark = get_spark(app_name=f"ledger-{a.cmd}")
    COMMANDS[a.cmd](spark, a)


if __name__ == "__main__":
    main()
