"""SparkSession factory with scale-oriented defaults.

Local testing uses ``local[N]``; on a real cluster the same configs apply
(AQE, Arrow, adaptive skew-join). ``spark.sql.shuffle.partitions`` is sized to
cores locally; at 100 TB you would set it to ~2-3x total executor cores or
rely on AQE coalescing, which is enabled here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "corenlp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; keeps every shuffle stage fully parallel w/o tiny tasks
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local-mode sizing: this ONE JVM hosts every executor task slot
        # (32 concurrent tasks here) plus all cached storage, and the
        # unified memory manager protects storageFraction from execution
        # borrowing — at 16g a wide sort got ~0.3g/task once intermediate
        # caches accumulated (observed: the 27M-row pair sort oscillating
        # 2-4× run-to-run). 48g ≈ 1.5g/slot on this 128 GiB host; on a real
        # cluster the analogous knob is per-executor memory and this env
        # override applies unchanged.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # long-running drivers accumulate unreferenced shuffle/broadcast
        # state between ContextCleaner GCs (default trigger: 30 min) —
        # measured here as a monotonic 11→32 s degradation of the 27M-row
        # pair query across consecutive runs that reset to 8 s once a GC
        # let the cleaner drain. A 1-minute periodic GC keeps the state
        # trimmed for pennies (one collection/min on a mostly-idle heap).
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_PERIODIC_GC", "1min"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate turns every explode(<array expr>) into a
        # pushable Filter(size(<array expr>) > 0) that RE-EVALUATES the full
        # array expression — for our tokenize/shingle/minhash trees that is
        # an interpreted higher-order-function forest, evaluated once in the
        # filter and again in the Generate. Worse, the filter pushes below
        # the _spread repartition down to the single-split parquet scan,
        # serializing minutes of interpreted work onto one task (observed:
        # minhash band posting stuck >280 s single-threaded at sf1.0; the
        # same double-eval cost exists on a real cluster). Our exploded
        # arrays are never empty-heavy, so the rule's row-pruning benefit is
        # nil — exclude it (guide §4.4 discusses the same
        # duplicated-evaluation family for Python UDFs).
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    )
    if master == "local" or master.startswith("local["):
        # Workers of a local master are forked on this host, where
        # corenlp_spark is importable before the daemon starts (every UDF
        # here already needs it). On a cluster, --py-files arrive per task,
        # after the daemon starts, so executors keep pyspark's own daemon.
        builder = builder.config("spark.python.daemon.module",
                                 "corenlp_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
