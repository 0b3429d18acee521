"""The benchmark's workloads. Each drives the package through its public
functions on seeded inputs, times one operation at a time and checks
every operation's outputs.

A workload object lives for one Spark session:

* ``generate(dir)`` writes the seeded inputs (``gen``) and returns them;
* ``prepare(inputs)`` runs the warm operations, the first of which
  records the answers later operations must reproduce, and returns
  their outputs;
* ``op()`` runs one timed operation: the workload's ``batch()``, then
  ``SERVE_ROUNDS`` rounds of its read ``queries()`` over the batch's
  output (a round is one refresh of a dashboard), one client, each query
  collected before the next is sent;
* ``check(out)`` lists what is wrong with an operation's outputs (empty
  when correct);
* ``instrument(tracer)`` names the package functions traced as layers;
* ``ratios(out, layers)`` gives the useful-outcome ratios of a traced
  operation, each next to the rate the generator planted.

Workloads call package functions through their modules
(``acid.append_table``), never through a captured reference, so the
tracer's replacements apply.
"""

from __future__ import annotations

import math
import os
import time

import gen

# Layers traced per workload, in call order: ``<module>.<function>``
# under ``turbine_maintenance_etl_spark``.
LAYERS = {
    "turbofan_batch": [
        "io.cmapss.read_cmapss_text",
        "features.engine.variable_sensor_intersection",
        "features.engine.build_features",
        "io.sinks.write_partitioned_parquet",
        "ml.pipeline.fit",
        "ml.pipeline.transform",
        "ml.pipeline.evaluate",
        "io.acid.append_table",
        "io.acid.read_table",
        "metrics.dashboard.sensor_bounds",
        "metrics.dashboard.fleet_overview",
        "metrics.dashboard.critical_share",
        "metrics.dashboard.rul_distribution",
        "metrics.dashboard.sensor_histogram",
        "metrics.dashboard.recent_predictions",
        "ml.pipeline.prediction_error_summary",
    ],
    "curation_corpus": [
        "llm.quality.decontaminate",
        "ops.materialize.barrier",
        "llm.text.add_quality_signals",
        "llm.lm.sb3_perplexity_scores",
        "ops.rank.keep_lowest_frac",
        "llm.text.normalized_dedup",
        "llm.dedup.remove_duplicated_spans",
        "llm.text.chunk_documents",
        "llm.multimodal.image_phash",
        "llm.multimodal.phash_dedup",
    ],
}
PKG = "turbine_maintenance_etl_spark"


def _module(dotted: str):
    import importlib

    return importlib.import_module(f"{PKG}.{dotted}")


def _instrument_all(tracer, layers: list[str]) -> None:
    for layer in layers:
        mod, fn = layer.rsplit(".", 1)
        if layer not in ("ml.pipeline.fit", "ml.pipeline.transform"):
            tracer.instrument(_module(mod), fn, layer)
    # fit and transform are methods of the MLlib objects the package
    # builds: trace them on every pipeline make_pipeline returns
    mp = _module("ml.pipeline")
    make = mp.make_pipeline

    def traced_fit(fit):
        def run(*args, **kwargs):
            model = tracer.call("ml.pipeline.fit", fit, *args, **kwargs)
            model.transform = tracer.wrap("ml.pipeline.transform", model.transform)
            return model
        return run

    def make_traced(*args, **kwargs):
        p = make(*args, **kwargs)
        p.fit = traced_fit(p.fit)
        return p

    tracer.instrument(mp, "make_pipeline", None, replacement=make_traced)


def same(a, b, rel: float = 1e-6) -> bool:
    """Structural equality with a relative tolerance on floats (Spark
    merges partial aggregates in task-completion order, so the last
    bits of a float sum may differ between runs)."""
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9) or (a != a and b != b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k], rel) for k in a)
    return a == b


def _rows(df) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


class Workload:
    name = ""
    unit = "rows"
    SERVE_ROUNDS = 1
    WARM_OPS = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rows = 0
        self.first: dict | None = None
        self.query_ms: list[float] = []  # latency of every query served
        self.query_names: list[str] = []
        self.round_ms: list[float] = []  # latency of every round served

    def instrument(self, tracer) -> None:
        _instrument_all(tracer, LAYERS[self.name])

    def op(self, rounds: int | None = None) -> dict:
        t0 = time.perf_counter()
        out = self.batch()
        out["batch_s"] = time.perf_counter() - t0
        out["served"] = [self._serve(out) for _ in range(rounds or self.SERVE_ROUNDS)]
        return out

    def _serve(self, out: dict) -> dict:
        """One round of queries; a query may use earlier answers."""
        answers: dict = {}
        start = time.perf_counter()
        for name, fn in self.queries(out):
            t0 = time.perf_counter()
            answers[name] = fn(answers)
            self.query_ms.append((time.perf_counter() - t0) * 1e3)
            self.query_names.append(name)
        self.round_ms.append((time.perf_counter() - start) * 1e3)
        return answers

    def query_by_name(self) -> dict[str, list[float]]:
        by: dict[str, list[float]] = {}
        for n, ms in zip(self.query_names, self.query_ms):
            by.setdefault(n, []).append(ms)
        return by

    def prepare(self, inputs: gen.Inputs) -> list[dict]:
        self.first = None
        self.first = self.op(rounds=1)  # the reference answers
        warm = [self.first] + [self.op(rounds=1) for _ in range(self.WARM_OPS - 1)]
        self.query_ms.clear()
        self.query_names.clear()
        self.round_ms.clear()
        return warm

    def check_served(self, out: dict) -> list[str]:
        """Every query answers as it did in the set-up run."""
        if self.first is None:
            return []
        ref = self.first["served"][0]
        return [f"query {k} differs from its first answer"
                for answers in out["served"] for k, v in answers.items()
                if not same(v, ref[k])]


class TurbofanBatch(Workload):
    """Batch: C-MAPSS text -> run_etl (scan, constant-sensor pre-pass,
    window features, partitioned parquet) -> linear-regression
    train/score -> ACID commit of the predictions table. Queries: the
    fleet dashboard over the fresh tables."""

    name = "turbofan_batch"
    unit = "cycle rows"
    UNITS = 10  # engines per dataset
    SERVE_ROUNDS = 5
    # on a fresh JVM the second batch still takes ~50% more CPU than
    # later ones (JIT), and its cost varied most from run to run, so it
    # is warm-up too
    WARM_OPS = 2

    def generate(self, d: str) -> gen.Inputs:
        return gen.cmapss(d, self.seed, self.UNITS)

    def prepare(self, inputs: gen.Inputs) -> list[dict]:
        from turbine_maintenance_etl_spark import pipeline

        self.inputs, self.rows = inputs, inputs.expect["rows"]
        out = os.path.join(self.work, "turbofan")
        self.table = os.path.join(out, "predictions")
        self.cfg = pipeline.EtlConfig(
            [pipeline.DatasetConfig(code, p) for code, p in inputs.paths.items()],
            output_path=out,
        )
        return super().prepare(inputs)

    def batch(self) -> dict:
        from turbine_maintenance_etl_spark import pipeline
        from turbine_maintenance_etl_spark.io import acid
        from turbine_maintenance_etl_spark.ml import pipeline as mp

        spark = self.spark
        etl = pipeline.run_etl(spark, self.cfg, write=True)
        feats = spark.read.parquet(etl.paths["fct_cycles_features"])
        _, scored, metrics = mp.train_and_score(feats, model_name="linear_regression")
        preds = mp.predictions_table(scored, "linear_regression", mp.feature_columns(feats))
        commit = acid.create_table if self.first is None else acid.append_table
        version = commit(spark, preds, self.table)
        return {"kept": etl.kept_sensors, "rmse": metrics["rmse"], "version": version,
                "feats": feats}

    def queries(self, out: dict) -> list:
        from turbine_maintenance_etl_spark.io import acid
        from turbine_maintenance_etl_spark.metrics import dashboard as db
        from turbine_maintenance_etl_spark.ml import pipeline as mp

        feats, sensors, version = out["feats"], out["kept"], out["version"]
        preds = {}

        def read_table(a):
            preds["df"] = acid.read_table(self.spark, self.table)
            return preds["df"].columns

        def error_summary(a):
            # cumulative over commits: compare per commit
            return [r[:2] + (r[2] / version,) + r[3:]
                    for r in _rows(mp.prediction_error_summary(preds["df"]))]

        return [
            ("read_table", read_table),
            ("sensor_bounds", lambda a: db.sensor_bounds(feats, sensors)),
            ("fleet_overview", lambda a: _rows(db.fleet_overview(feats))),
            ("critical_share", lambda a: _rows(db.critical_share(feats))),
            ("rul_distribution", lambda a: _rows(db.rul_distribution(feats))),
            ("sensor_histogram", lambda a: _rows(db.sensor_histogram(
                feats, sensors[0], bounds=a["sensor_bounds"][sensors[0]]))),
            ("recent_predictions", lambda a: _rows(db.recent_predictions(preds["df"]).drop(
                "id", "prediction_date", "created_at"))),
            ("prediction_error_summary", error_summary),
        ]

    def check(self, out: dict) -> list[str]:
        bad = []
        if len(out["kept"]) != self.inputs.expect["kept_sensors"]:
            bad.append(f"kept {len(out['kept'])} sensors, generator varied "
                       f"{self.inputs.expect['kept_sensors']}")
        feature_rows = sum(r[2] for r in out["served"][0]["fleet_overview"])
        if feature_rows != self.rows:
            bad.append(f"{feature_rows} feature rows from {self.rows} raw rows")
        if self.first is not None and not same(out["rmse"], self.first["rmse"]):
            bad.append(f"rmse {out['rmse']} != set-up {self.first['rmse']}")
        return bad + self.check_served(out)

    def ratios(self, out: dict, layers: dict) -> dict[str, tuple[float, float]]:
        from turbine_maintenance_etl_spark.io import acid

        snap = acid.snapshot(self.table)
        newest = os.path.join(self.table, snap.dirs[-1])
        files = sum(f.endswith(".parquet") for f in os.listdir(newest))
        first = os.path.join(self.table, snap.dirs[0])
        files_first = sum(f.endswith(".parquet") for f in os.listdir(first))
        return {
            "features.engine.variable_sensor_intersection.kept_frac":
                (len(out["kept"]) / gen.N_SENSORS, self.inputs.expect["kept_frac"]),
            "io.acid.append_table.files_per_commit": (files, files_first),
        }


class CurationCorpus(Workload):
    """A multimodal corpus. Batch: decontaminate the documents against
    the held-out slice -> barrier -> curate_corpus_v3 (quality gate, sb3
    perplexity rank gate, normalized dedup, duplicated-span removal,
    chunking) -> parquet write; then image_phash (Python-worker PNG/JPEG
    decode and hashing behind the Arrow boundary) -> phash_dedup ->
    parquet write. Queries: the chunk table's digest, and the image,
    survivor and decode-error counts of the image table, as a consumer
    of the corpus checks them."""

    name = "curation_corpus"
    unit = "docs and images"
    DOCS = 1000
    DISTINCT_IMAGES = 300
    SERVE_ROUNDS = 8

    def generate(self, d: str) -> gen.Inputs:
        docs = gen.documents(d, self.seed, self.DOCS)
        imgs = gen.images(d, self.seed, self.DISTINCT_IMAGES)
        return gen.Inputs(docs.paths | imgs.paths,
                          gen.sha256_files(list(docs.paths.values()) + list(imgs.paths.values())),
                          docs.expect | imgs.expect)

    def prepare(self, inputs: gen.Inputs) -> list[dict]:
        self.inputs = inputs
        self.rows = inputs.expect["docs"] + inputs.expect["images"]
        self.docs = self.spark.read.parquet(inputs.paths["documents"])
        self.bench = self.spark.read.parquet(inputs.paths["benchmark"])
        self.images = self.spark.read.parquet(inputs.paths["images"])
        self.chunks_out = os.path.join(self.work, "chunks")
        self.phash_out = os.path.join(self.work, "phash")
        return super().prepare(inputs)

    def batch(self) -> dict:
        from turbine_maintenance_etl_spark.llm import curation, multimodal, quality
        from turbine_maintenance_etl_spark.ops import materialize

        clean = materialize.barrier(quality.decontaminate(self.docs, self.bench), "decontaminated")
        curation.curate_corpus_v3(clean).write.mode("overwrite").parquet(self.chunks_out)
        multimodal.phash_dedup(multimodal.image_phash(self.images)) \
            .write.mode("overwrite").parquet(self.phash_out)
        return {"clean_ids": [r[0] for r in clean.select("doc_id").collect()]}

    def queries(self, out: dict) -> list:
        from pyspark.sql import functions as F

        def chunk_digest(a):
            chunks = self.spark.read.parquet(self.chunks_out)
            n, h, ids = chunks.agg(
                F.count("*"),
                F.sum(F.xxhash64(*chunks.columns).cast("decimal(38,0)")),
                F.collect_set("doc_id"),
            ).collect()[0]
            return {"chunks": int(n), "hash": str(h), "survivors": set(ids)}

        def image_counts(a):
            n, kept, errors = self.spark.read.parquet(self.phash_out).agg(
                F.count("*"), F.sum(F.col("survivor").cast("int")),
                F.sum(F.col("err").isNotNull().cast("int")),
            ).collect()[0]
            return {"images": n, "survivors": kept, "errors": errors}

        return [("chunk_digest", chunk_digest), ("image_counts", image_counts)]

    def check(self, out: dict) -> list[str]:
        e, served = self.inputs.expect, out["served"][0]
        bad = []
        dropped = e["docs"] - len(out["clean_ids"])
        if dropped != e["contaminated"]:
            bad.append(f"decontaminate dropped {dropped}, generator planted {e['contaminated']}")
        # the gate output is internal to curate_corpus_v3: survivors must
        # pass its heuristic stage and be no more than its rank stage keeps
        survivors = served["chunk_digest"]["survivors"]
        if not survivors <= e["heuristic_ids"]:
            bad.append("chunk survivors include documents the quality gate rejects")
        if len(survivors) > e["gate_kept"]:
            bad.append(f"{len(survivors)} chunk survivors, the rank gate keeps {e['gate_kept']}")
        img = served["image_counts"]
        if img["images"] != e["images"] or img["errors"]:
            bad.append(f"{img['images']} images hashed with {img['errors']} errors")
        if img["survivors"] != e["distinct"]:
            bad.append(f"{img['survivors']} image survivors, generator made {e['distinct']}")
        return bad + self.check_served(out)

    def ratios(self, out: dict, layers: dict) -> dict[str, tuple[float, float]]:
        e, img = self.inputs.expect, out["served"][0]["image_counts"]
        return {
            "llm.quality.decontaminate.dropped_frac":
                ((e["docs"] - len(out["clean_ids"])) / e["docs"], e["dropped_frac"]),
            "llm.curation.curate_corpus_v3.gate_kept_frac":
                (layers["ops.rank.keep_lowest_frac"]["rows_out"] / len(out["clean_ids"]),
                 e["gate_kept_frac"]),
            "llm.multimodal.phash_dedup.survivor_frac":
                (img["survivors"] / img["images"], e["survivor_frac"]),
        }


WORKLOADS = {w.name: w for w in (TurbofanBatch, CurationCorpus)}
