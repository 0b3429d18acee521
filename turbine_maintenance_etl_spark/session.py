"""SparkSession factory.

Design notes (100 TB posture):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy
  switches matter far more at 1000-executor scale than any static tuning.
- ``spark.sql.ansi.enabled=false``: the reference's semantics are
  pandas-like — failed numeric coercion yields NULL
  (``pd.to_numeric(errors="coerce")``, reference scripts/etl_turbofan.py:16-17)
  and division by zero yields NULL/NaN, never a query error. Spark 4
  defaults ANSI on, which would instead raise; we pin it off so `cast`
  behaves like `try_cast` engine-wide. NOTE the query registry does NOT
  rely on this (or any other) session conf: it uses explicit try_cast /
  nullif / runtime conf-sets so it runs identically under an externally
  built vanilla session (the driver's environment — round-1 lesson,
  verified by scripts/selfcheck_vanilla.py).
- Session timezone pinned UTC so timestamp values round-trip the
  DuckDB oracle and parquet without shifts.
- shuffle.partitions defaults to the local core count; on a real cluster
  AQE coalescing makes a too-high initial number cheap, so callers should
  raise it (e.g. 2-4x total cores) via ``shuffle_partitions``.
- ``spark.sql.codegen.cache.maxEntries=1000``: Spark keeps compiled
  whole-stage classes in an LRU of 100 entries by default. A turbofan
  batch plus a dashboard round cycles through ~165 distinct classes and
  a curation batch through ~230; an LRU smaller than a cyclically
  accessed working set misses on nearly every lookup, so each repeated
  batch recompiled almost all of them. The conf is static: the cache is
  built once per JVM, so only the first ``get_spark`` in a JVM sizes
  it. Callers can still override it through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "turbine-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode honors ``SPARK_GRAFT_CPUS`` (default 32). On a cluster,
    pass an explicit master URL, or ``master="preset"`` (equivalently
    ``SPARK_MASTER=preset``) to leave the spark-submit/deploy-time
    ``spark.master`` conf in charge — the builder never calls
    ``.master()`` then.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # r10 review: the builder's .master() overrides a spark-submit
        # --master conf, so the cluster path needs an explicit opt-out.
        # SPARK_MASTER=preset (or master="preset") skips .master()
        # entirely and lets the externally submitted conf win; JVM-side
        # sniffing can't serve here — launching the gateway stamps
        # spark.master=local[*] into the system properties, so a "is it
        # preset?" probe reads its own footprint.
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = SparkSession.builder
    if master != "preset":
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge: skips both sort passes.
        # Safe with AQE on (skew splitting + runtime strategy switch);
        # partition build sides are bounded by maxPartitionBytes, and
        # genuinely huge-huge joins still sort-merge when neither side's
        # per-partition size fits the in-memory hash threshold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long and rebuild micros (queries._t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Sized from the measured working sets (module docstring). Per
        # repeated perfbench batch plus its dashboard rounds (seed 1,
        # local[2] on 4 vCPUs), at the default 100: turbofan_batch
        # compiled 155-159 classes, curation_corpus 229. At 1000 (>= 4x
        # the largest working set): turbofan_batch 2-6, of which 2 in
        # every batch come from acid.append_table (current_timestamp()
        # folds into a per-batch literal inlined into the generated
        # code); curation_corpus 6-8.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
