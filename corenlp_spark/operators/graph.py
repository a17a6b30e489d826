"""Graph materialization: the serving-layer views over extracted triples.

Behavioral reference (re-expressed):
  - triple dedup keeps the max-confidence distinct triple
    (``naturalli/OpenIE.annotate`` semantics, SURVEY.md §2.4);
  - output tables = the engine's serving layer (the analog of the protobuf
    sink ``pipeline/ProtobufAnnotationSerializer.java``): ``triples`` and
    ``entities``.

Pronoun subjects arrive already canonicalized (``naturalli/OpenIE.java:393-437,
510-553``): both triple paths rewrite them in-process
(``fused.pronoun_reps``), so no join against the coref chains is planned.
``coref_chains_rows`` explodes the chains for the coref oracles.

Spark shape: one global ``groupBy(subj, pred, obj)`` dedup, the pipeline's
only unavoidable wide shuffle; AQE coalesces/splits it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coref_chains_rows(df: DataFrame) -> DataFrame:
    """docs(+coref) → exploded chain rows."""
    return df.select("doc_id", F.explode("coref").alias("m")).select(
        "doc_id",
        F.col("m.cluster_id").alias("cluster_id"),
        F.col("m.sent_idx").alias("sent_idx"),
        F.col("m.start_tok").alias("start_tok"),
        F.col("m.end_tok").alias("end_tok"),
        F.col("m.text").alias("text"),
        F.col("m.kind").alias("kind"),
        F.col("m.representative").alias("representative"),
    )


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Global KG view: distinct (subj, pred, obj) with max confidence +
    support count. The single wide shuffle of the pipeline."""
    return (
        triples.groupBy(
            F.lower("subj").alias("subj"),
            F.lower("pred").alias("pred"),
            F.lower("obj").alias("obj"),
        )
        .agg(
            F.max("confidence").alias("confidence"),
            F.count("*").alias("support"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule: per-partition lineage +
    counts persisted alongside outputs)."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("rows"))
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "rows",
            F.current_timestamp().alias("ts"),
        )
    )
