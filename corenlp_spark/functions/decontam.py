"""Benchmark decontamination: find training documents that overlap an
evaluation/benchmark set on any exact n-gram (the standard n=8,
whitespace-token definition used by large-corpus pipelines).

Scale shape: the benchmark side is small by construction (eval suites are
KBs, the corpus is TBs) — its distinct n-grams are collected into a
broadcast equi-join, so the corpus side stays a single narrow pass:
tokenize → explode n-grams → hash-join against the broadcast set →
per-doc aggregate. No shuffle of corpus text; the only wide exchange is
the final per-doc count aggregation over matching rows (proportional to
contamination incidence, not corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, gram): each row's distinct word ``n``-grams, built by the
    row-local Arrow shingle kernel. The kernel emits one all-tokens gram
    for a text shorter than ``n`` tokens; the filter drops it."""
    from corenlp_spark.functions.dedup import _shingle_mhs_kernel

    kernel, schema = _shingle_mhs_kernel(
        0, n, with_sh=True, id_type=df.schema[id_col].dataType.simpleString())
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .mapInPandas(kernel, schema=schema)
        .select("doc_id", F.explode("sh").alias("gram"))
        .filter((F.size(F.split("gram", " ")) == n) & (F.col("gram") != ""))
    )


def contaminated_docs(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, bench_id, n_hits): documents sharing ≥1 exact ``n``-gram
    with a benchmark item — the contamination report a pipeline uses to
    drop or flag training docs before a model sees eval data.

    ``benchmark`` is (bench_id, text); its distinct n-grams are broadcast.
    """
    bench = _grams(benchmark, "bench_id", "text", n).withColumnRenamed("doc_id", "bench_id")
    corpus = _grams(docs, id_col, text_col, n)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_hits"))
    )
