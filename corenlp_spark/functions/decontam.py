"""Benchmark decontamination: find training documents that overlap an
evaluation/benchmark set on any exact n-gram (the standard n=8,
whitespace-token definition used by large-corpus pipelines).

Scale shape: the benchmark side is small by construction (eval suites are
KBs, the corpus is TBs) — its distinct n-grams are collected into a
broadcast equi-join, so the corpus side stays a single narrow pass:
n-gram rows (one ``text_rows`` pass) → hash-join against the broadcast set →
per-doc aggregate. No shuffle of corpus text; the only wide exchange is
the final per-doc count aggregation over matching rows (proportional to
contamination incidence, not corpus size).

The corpus side is the fixed document columns ``doc_id, text``; the
benchmark side is ``bench_id, text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corenlp_spark.functions.dedup import shingles
from corenlp_spark.functions.textstats import text_rows


def _grams(df: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram): the distinct word ``n``-grams of each document's
    ``text``; a text of fewer than ``n`` tokens has none."""
    return text_rows(df, lambda text: [(g,) for g in shingles(text, n)
                                       if g and g.count(" ") == n - 1],
                     "gram string")


def contaminated_docs(docs: DataFrame, benchmark: DataFrame,
                      n: int = 8) -> DataFrame:
    """(doc_id, bench_id, n_hits): documents sharing ≥1 exact ``n``-gram
    with a benchmark item — the contamination report a pipeline uses to
    drop or flag training docs before a model sees eval data.

    ``docs`` is (doc_id, text, …) and ``benchmark`` is (bench_id, text);
    the benchmark's distinct n-grams are broadcast.
    """
    bench = _grams(benchmark.withColumnRenamed("bench_id", "doc_id"), n) \
        .withColumnRenamed("doc_id", "bench_id")
    corpus = _grams(docs, n)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_hits"))
    )
