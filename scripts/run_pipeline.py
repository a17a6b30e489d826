"""spark-submit driver for the KG-construction pipeline.

Cluster usage (north rule):
    spark-submit --py-files corenlp_spark.zip scripts/run_pipeline.py \
        --input  <iceberg-table-or-parquet-path-of-docs> \
        --output <warehouse-root> \
        --partitions <≈ 2-3 × total-executor-cores>

Local smoke:
    python scripts/run_pipeline.py --synth 10000 --output /tmp/kg_out

Writes: <output>/annotated, <output>/triples, <output>/entities, per-partition
lineage metrics, and a run manifest. With --checkpointed, re-running with the
same --output resumes from the furthest complete checkpoint (annotated, then
triples_raw).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="parquet path / table of (doc_id, spans) docs")
    p.add_argument("--synth", type=int, default=0, help="synthesize N docs instead")
    p.add_argument("--output", required=True)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--checkpointed", action="store_true",
                   help="checkpoint the annotation and the raw triples (resumable)")
    p.add_argument("--cores", type=int, default=None, help="local[N] when not on a cluster")
    args = p.parse_args()
    if not args.input and not args.synth:
        p.error("one of --input or --synth is required")

    from corenlp_spark.data.synth import synth_docs
    from corenlp_spark.operators.entitylink import (
        alias_dict, canonical_entities, link_mentions,
    )
    from corenlp_spark.operators.graph import dedup_triples, partition_metrics
    from corenlp_spark.operators.mentions import mention_rows
    from corenlp_spark.operators.openie import openie_docs
    from corenlp_spark.plans.fused import annotate
    from corenlp_spark.plans.pipeline import CheckpointedPipeline
    from corenlp_spark.session import get_spark

    spark = get_spark(
        app_name="kg_pipeline",
        master=f"local[{args.cores}]" if args.cores else None,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    t0 = time.time()
    if args.synth:
        docs = synth_docs(spark, args.synth)
    else:
        docs = spark.read.parquet(args.input)
    if args.partitions:
        docs = docs.repartition(args.partitions, "doc_id")

    os.makedirs(args.output, exist_ok=True)
    # one annotation pass feeds both the triple and the entity path;
    # openie_docs canonicalizes pronoun subjects from the annotated coref
    if args.checkpointed:
        pipe = CheckpointedPipeline(spark, args.output)
        triples = pipe.run(docs)
        ann = spark.read.parquet(f"{args.output}/annotated")
    else:
        annotate(docs).write.mode("overwrite").parquet(f"{args.output}/annotated")
        ann = spark.read.parquet(f"{args.output}/annotated")
        triples = openie_docs(ann)

    kg = dedup_triples(triples)
    kg.write.mode("overwrite").parquet(f"{args.output}/triples")

    linked = link_mentions(mention_rows(ann), alias_dict(spark))
    ents = canonical_entities(linked)
    ents.write.mode("overwrite").parquet(f"{args.output}/entities")

    for name, df in (("triples", kg), ("entities", ents)):
        partition_metrics(df, name).write.mode("overwrite").parquet(
            f"{args.output}/_metrics_{name}"
        )
    manifest = {
        "wall_s": round(time.time() - t0, 2),
        "n_triples": spark.read.parquet(f"{args.output}/triples").count(),
        "n_entities": spark.read.parquet(f"{args.output}/entities").count(),
        "input": args.input or f"synth:{args.synth}",
        "spark_conf": {k: v for k, v in spark.sparkContext.getConf().getAll()
                       if k.startswith("spark.sql") or k.endswith("master")},
    }
    with open(f"{args.output}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    print(json.dumps(manifest))


if __name__ == "__main__":
    main()
