"""SparkSession factory with scale-oriented defaults.

Local testing uses ``local[N]``; on a real cluster the same configs apply
(AQE, Arrow, adaptive skew-join). ``spark.sql.shuffle.partitions`` is sized to
cores locally (override it through ``extra_conf``); at 100 TB you would set it
to ~2-3x total executor cores or rely on AQE coalescing, which is enabled here.

The driver heap is a deployment setting, ``SPARK_DRIVER_MEM``; unset, Spark's
own 1g default applies. The test suite passes there, and on a 4-core host
``bench.py`` at sf0.1 ran as fast at 1g as at 48g on local[8] and local[16].
A large local run, where this one JVM hosts every task slot, sets it: sf1.0
on 32 cores ran at 48g (≈1.5g per slot).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "corenlp_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
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
        # long-running drivers accumulate unreferenced shuffle/broadcast
        # state between ContextCleaner GCs (default trigger: 30 min) —
        # measured in r6 at sf1.0 as a monotonic 11→32 s degradation of the
        # 27M-row pair query across consecutive runs that reset to 8 s once
        # a GC let the cleaner drain. A 1-minute periodic GC keeps the state
        # trimmed for pennies (one collection/min on a mostly-idle heap).
        # Kept without a re-measurement: it needs sf1.0 data.
        .config("spark.cleaner.periodicGC.interval", "1min")
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
        # A local master's tasks all run in this JVM. G1, the JDK's default,
        # resizes eden and the heap adaptively, and how far it grew them in
        # a session's first jobs differed from run to run: on 4 cores at a
        # 3g max heap the same kg jobs left the JVM at 0.9-1.4 GB RSS. The
        # serial collector grows the heap only when the live set needs it;
        # the JVM held 0.7 GB on every run, and kg and curation-suite wall
        # times stayed within the run-to-run noise of G1's. Not measured on
        # a large local run; extra_conf can set this key to another
        # collector. A default option, so extraJavaOptions add to it.
        builder = builder.config("spark.driver.defaultJavaOptions",
                                 "-XX:+UseSerialGC")
    if "SPARK_DRIVER_MEM" in os.environ:
        # read at JVM launch: only a session's first builder can set it
        builder = builder.config("spark.driver.memory",
                                 os.environ["SPARK_DRIVER_MEM"])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
