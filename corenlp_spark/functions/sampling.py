"""Corpus-composition operators for training-data pipelines.

``source_quota_sample``: cap each source's (domain's) contribution at a
per-source quota, choosing documents DETERMINISTICALLY by md5(doc_id)
order — the standard way to bound a crawl domain's share of a training
mix without a global sort. One window per source (hash order is
uniformly distributed, so partitions stay balanced at 100 TB; no
collect, no global shuffle beyond the per-source window).

``source_mix_report``: per (source, lang) composition of the kept set —
the mix sheet a data-curation run records next to its outputs.

Both read the fixed document columns ``doc_id, text, source, lang``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["source_quota_sample", "source_mix_report"]


def source_quota_sample(docs: DataFrame, per_source: int) -> DataFrame:
    """Keep at most ``per_source`` docs per ``source``, by md5(doc_id)
    order (deterministic and engine-portable — md5 agrees across Spark and
    DuckDB, so the oracle replays the exact choice)."""
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (docs.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= per_source)
            .drop("_rk"))


def source_mix_report(docs: DataFrame) -> DataFrame:
    """(source, lang, n_docs, n_chars, frac) composition rows.

    The corpus total is derived from the grouped result itself (an
    unpartitioned window sum over the handful of (source, lang) rows) —
    the previous separate ``docs.count()`` action recomputed the entire
    upstream plan (the quota-sample window included) a second time
    (guide §1.2: don't compute things twice; ADVICE r5)."""
    agg = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
    )
    w = Window.partitionBy()
    return (
        agg.withColumn(
            "frac", F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6))
        .orderBy("source", "lang")
    )
