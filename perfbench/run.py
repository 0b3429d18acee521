"""Workload benchmark for the turbofan analytics engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload turbofan_batch --seed 1 --seconds 4 --trace 0

Runs one workload (see ``workloads.py``) in one process on
``local[<nproc / 2>]``: starts Spark, generates the seeded inputs, runs the
warm operation, then times operations (a batch, then rounds of read
queries over its output) for ``--seconds`` seconds (at least one),
checking each one's outputs. It prints the pinned environment and every
metric by name and unit, and as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also runs one
traced operation after the timed ones and reports per-layer metrics
from its spans and Spark's event log, plus the tracing overhead (traced
wall time minus the median untraced wall time of the same run).

Everything the run writes stays under ``.perfbench_work/`` in the
current directory, which is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SHUFFLE_PARTITIONS = 8
# report p95 only when at least this many samples lie beyond it
P95_TAIL = 10

# counters reported for every traced layer, and extra counters for the
# layers where they carry the layer's cost or useful outcome
LAYER_COUNTERS = ("wall_s", "driver_s", "jobs", "executor_cpu_s")
EXTRA_COUNTERS = {
    "features.engine.build_features": ("shuffle_write_bytes", "spill_bytes", "rows_out"),
    "io.sinks.write_partitioned_parquet": ("bytes_written", "files_written", "rows_out"),
    "ml.pipeline.fit": ("shuffle_write_bytes",),
    "ml.pipeline.transform": ("rows_out",),
    "io.acid.append_table": ("bytes_written",),
    "ops.materialize.barrier": ("peak_exec_mem_bytes", "shuffle_write_bytes", "spill_bytes"),
    "llm.lm.sb3_perplexity_scores": ("shuffle_write_bytes",),
    "llm.text.normalized_dedup": ("shuffle_write_bytes",),
    "llm.dedup.remove_duplicated_spans": ("shuffle_write_bytes",),
    "llm.text.chunk_documents": ("rows_out",),
    "llm.multimodal.image_phash": ("rows_out",),
}
UNITS = {
    "wall_s": "s", "driver_s": "s", "construct_s": "s", "executor_cpu_s": "s",
    "jobs": "count", "rows_out": "rows", "files_written": "count",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "bytes_written": "bytes",
    "peak_exec_mem_bytes": "bytes", "kept_frac": "ratio", "dropped_frac": "ratio",
    "gate_kept_frac": "ratio", "survivor_frac": "ratio", "files_per_commit": "count",
    "overhead_s": "s",
}
END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "refresh_p50_ms": "ms", "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    from workloads import LAYERS

    names = []
    for layers in LAYERS.values():
        for layer in layers:
            names += [f"{layer}.{c}" for c in LAYER_COUNTERS + EXTRA_COUNTERS.get(layer, ())]
    names += [
        "features.engine.variable_sensor_intersection.kept_frac",
        "io.acid.append_table.files_per_commit",
        "llm.quality.decontaminate.dropped_frac",
        "llm.curation.curate_corpus_v3.gate_kept_frac",
        "llm.multimodal.phash_dedup.survivor_frac",
        "perfbench.trace.overhead_s",
    ]
    return names


def log(msg: str) -> None:
    print(msg, flush=True)


def load_avg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot. On a virtual
    machine, stolen ticks are time the host ran someone else on our
    vCPUs: the share stolen during a run shows how noisy its window was."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def pin_environment(work: str) -> dict:
    """Pin the process environment before the JVM starts, and return it
    for the report."""
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    # task slots for half the vCPUs: the JVM's compiler and GC threads,
    # the Python driver and the Python workers run beside the tasks, and
    # with a slot per vCPU the run queue overflowed the vCPUs, so time the
    # host stole from any of them stalled the run (five alternating pairs
    # on a 4-vCPU VM: 0.005-0.093 of the timed window's CPU stolen with 4
    # slots, 0.001-0.006 with 2, and no slower batches)
    slots = max(1, cpus // 2)
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    driver_mem = f"{max(1, min(2, int(mem_gb // 4)))}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CHECKPOINT_MODE": "local",
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        # mapInPandas workers import the package from here
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included: temp files and
        # no hsperfdata outside the working directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    for k in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_UI"):
        os.environ.pop(k, None)
    os.environ.update(env)
    return env | {"nproc": cpus, "slots": slots, "mem_gb": round(mem_gb, 1)}


def start_spark(work: str, trace: bool, slots: int):
    from turbine_maintenance_etl_spark.session import get_spark

    conf = {
        # a heap at full size and resident from the start: G1 resizing
        # it, and touching its pages for the first time, mid-run made GC
        # work, CPU and RSS vary from run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            # Spark 4 otherwise writes zstd, which this Python cannot read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # spans persist layer outputs; let AQE coalesce a cached plan's
            # partitions as it would the uncached one, so file layouts (and
            # the layout-sensitive randomSplit downstream) stay the same
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        }
    return get_spark(
        app_name="perfbench", master=f"local[{slots}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_ops(wl, seconds: float, tree) -> dict:
    """Run and check operations until ``seconds`` have passed (at least
    one). An exception or a wrong output counts the operation failed."""
    import traceback

    from tracing import PeakRss

    walls, batches, cpus, problems = [], [], [], []
    attempted = failed = 0
    with PeakRss(tree) as peak:
        t_end = time.time() + seconds
        while attempted == 0 or time.time() < t_end:
            attempted += 1
            cpu0, t0 = tree.cpu_s(), time.perf_counter()
            try:
                out = wl.op()
            except Exception:
                failed += 1
                problems.append(traceback.format_exc(limit=3))
                continue
            walls.append(time.perf_counter() - t0)
            batches.append(out["batch_s"])
            cpus.append(tree.cpu_s() - cpu0)
            log(f"op {attempted} wall_s={walls[-1]:.3f} batch_s={batches[-1]:.3f} "
                f"cpu_s={cpus[-1]:.2f}")
            bad = wl.check(out)
            if bad:
                failed += 1
                problems += bad
    log("peak rss by process MB: " + " ".join(f"{r / 2**20:.0f}" for r in peak.at_peak))
    return {"walls": walls, "batches": batches, "cpus": cpus, "peak": peak.peak, "attempted": attempted,
            "failed": failed, "problems": problems, "last": out if walls else None}


def traced_op(wl, spark, work: str, untraced_wall: float) -> tuple[dict, list[str]]:
    """One operation with every layer of the workload traced; returns the
    per-layer metrics (after the context has stopped) and problems."""
    from pyspark import SparkContext

    import tracing

    tracer = tracing.Tracer(spark, SparkContext._gateway.proc.pid)
    wl.instrument(tracer)
    t0 = time.perf_counter()
    try:
        out = wl.op()
    finally:
        tracer.restore()
    wall = time.perf_counter() - t0
    problems = wl.check(out)
    tracer.release()
    stop_spark(spark)
    logs = sorted(glob.glob(os.path.join(work, "eventlog", "**", "*"), recursive=True))
    logs = [p for p in logs if os.path.isfile(p)]
    jobs, stages = {}, {}
    for p in logs:
        j, s = tracing.parse_event_log(p)
        jobs |= j
        stages |= s
    counters = tracing.layer_counters(tracer.spans, jobs, stages)
    _files_written(tracer, counters)
    ratios = wl.ratios(out, counters)
    for name, (got, planted) in ratios.items():
        if not abs(got - planted) <= 1e-9 * max(1.0, abs(planted)):
            problems.append(f"{name} = {got}, generator planted {planted}")
    return {"counters": counters, "ratios": ratios, "wall": wall,
            "overhead_s": wall - untraced_wall}, problems


def _files_written(tracer, counters: dict) -> None:
    """Parquet files under each sink call's output path."""
    layer = "io.sinks.write_partitioned_parquet"
    if layer not in counters:
        return
    paths = {sp.args[1] for sp in tracer.spans if sp.layer == layer}
    counters[layer]["files_written"] = sum(
        len(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)) for p in paths)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import turbine_maintenance_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {REPO}: {e}", file=sys.stderr)
        return 2
    from tracing import ProcTree
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.abspath(".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, WORKLOADS[args.workload], ProcTree())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, wl_cls, tree) -> int:
    env = pin_environment(work)
    log(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    log(f"env nproc={env['nproc']} mem_gb={env['mem_gb']} master=local[{env['slots']}] "
        f"shuffle_partitions={SHUFFLE_PARTITIONS} driver_mem={env['SPARK_DRIVER_MEM']} "
        f"PYTHONPATH={env['PYTHONPATH']}")
    log(f"loadavg_start {load_avg()}")

    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace), env["slots"])
    session_s = time.perf_counter() - t0
    try:
        return measure(args, work, wl_cls(spark, work, args.seed), tree, session_s)
    finally:
        stop_spark(spark)


def measure(args, work: str, wl, tree, session_s: float) -> int:
    spark = wl.spark
    t0 = time.perf_counter()
    inputs = wl.generate(os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = wl.prepare(inputs)
    warm_s = time.perf_counter() - t0
    setup_problems = [p for out in warm for p in wl.check(out)]
    setup_s = session_s + gen_s + warm_s
    log(f"inputs sha256 {inputs.sha256} ({wl.rows} {wl.unit})")
    log(f"setup session_s={session_s:.3f} generate_s={gen_s:.3f} "
        f"warm_ops={len(warm)} warm_s={warm_s:.3f}")

    steal0, total0 = cpu_ticks()
    res = timed_ops(wl, args.seconds, tree)
    steal1, total1 = cpu_ticks()
    log(f"steal_frac {(steal1 - steal0) / max(1, total1 - total0):.3f} of the timed window's CPU")
    problems = setup_problems + res["problems"]
    attempted, failed = res["attempted"], res["failed"]
    walls = res["walls"] or [float("nan")]
    queries = sorted(wl.query_ms) or [float("nan")]
    e2e = {
        "setup_s": setup_s,
        # the batch alone; its queries are refresh_p50_ms
        "rows_per_s": statistics.median(wl.rows / b for b in res["batches"] or [float("nan")]),
        # a round's queries, whose latencies differ by kind: the median of
        # single queries fell between kinds and moved with which ones
        # landed in the middle
        "refresh_p50_ms": statistics.median(wl.round_ms or [float("nan")]),
        # a mean: /proc counts CPU in clock ticks, too coarse for a median
        "cpu_s": statistics.fmean(res["cpus"] or [float("nan")]),
        "peak_rss_mb": res["peak"] / 2**20,
    }
    log(f"ops {len(res['walls'])} op_s median={statistics.median(walls):.3f} "
        f"min={min(walls):.3f} max={max(walls):.3f}; {len(wl.round_ms)} rounds of "
        f"{len(wl.query_ms)} queries")
    log("round_ms " + " ".join(f"{ms:.1f}" for ms in wl.round_ms))
    log("query_p50_ms by query " + " ".join(
        f"{n}={statistics.median(v):.1f}" for n, v in wl.query_by_name().items()))
    for name, unit in END_TO_END.items():
        log(f"metric {name} = {e2e[name]:.6g} {unit}")
    log(f"metric failed_ops_frac = {failed / attempted:.6g} ({failed} of {attempted})")
    log(f"metric query_p50_ms = {statistics.median(queries):.6g} ms")
    if len(queries) >= 20 * P95_TAIL:
        log(f"metric query_p95_ms = {statistics.quantiles(queries, n=20)[-1]:.6g} ms")
    else:
        log(f"query_p95_ms not reported: {len(wl.query_ms)} queries, "
            f"{20 * P95_TAIL} needed for {P95_TAIL} beyond p95")

    if args.trace:
        traced, tproblems = traced_op(wl, spark, work, statistics.median(walls))
        problems += tproblems
        attempted += 1
        failed += bool(tproblems)
        metrics = layer_metrics(traced)
    else:
        stop_spark(spark)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    log(f"loadavg_end {load_avg()}")
    for p in problems:
        log(f"problem: {p}")
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def layer_metrics(traced: dict) -> dict:
    """Print every counter of every traced layer; return the reported
    per-layer metrics. Layers the workload does not call read 0."""
    counters = traced["counters"]
    log(f"trace wall_s={traced['wall']:.3f} overhead_s={traced['overhead_s']:.3f}")
    for layer, c in counters.items():
        log(f"layer {layer} " + " ".join(
            f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}" for k, v in c.items()))
    values = {}
    for name in per_layer_names():
        layer, counter = name.rsplit(".", 1)
        values[name] = counters.get(layer, {}).get(counter, 0)
    for name, (got, planted) in traced["ratios"].items():
        log(f"ratio {name} = {got:.6g} (planted {planted:.6g})")
        values[name] = got
    values["perfbench.trace.overhead_s"] = traced["overhead_s"]
    return {k: {"value": v, "unit": UNITS[k.rsplit(".", 1)[1]]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
