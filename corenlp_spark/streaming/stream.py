"""Structured Streaming surface: incremental KG construction.

The reference is batch-only (plus an HTTP server, SURVEY.md §1.3); this
engine adds the streaming path a 10^12-doc ingest actually needs: new doc
files land → the same narrow annotation transforms run incrementally →
triples append to the sink; watermarked windowed aggregation gives the
per-window extraction metrics. Every annotation stage is reused verbatim —
they are pure DataFrame transforms, so they bind to ``readStream`` unchanged
(the whole point of keeping stages narrow and declarative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corenlp_spark.data.synth import DOCS_SCHEMA
from corenlp_spark.operators.mentions import mention_rows
from corenlp_spark.plans.fused import annotate, extract_triples_fused


def stream_docs(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_triples(docs_stream: DataFrame) -> DataFrame:
    """Incremental triples: the batch ``extract_triples_fused`` pass (with
    pronoun canonicalization), no watermark needed (stateless per doc)."""
    return extract_triples_fused(docs_stream)


def run_stream_to_memory(spark: SparkSession, in_path: str, name: str = "triples_stream"):
    q = (
        stream_triples(stream_docs(spark, in_path))
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    return q


def streaming_entity_counts(docs_stream: DataFrame):
    """Custom stateful streaming operator: running per-entity mention counts
    via ``applyInPandasWithState`` (the cross-batch state CoreNLP has no
    analog for — incremental canonical-entity statistics at ingest time).

    State per entity surface: (total mentions, docs seen). Update mode;
    emits one row per entity per micro-batch with the running totals.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # doc-local mention chunking (the SQL-window twin is batch-only:
    # streaming forbids non-time windows)
    keyed = mention_rows(annotate(docs_stream, upto="ner")).select(
        F.lower("text").alias("surface"), "doc_id", "ner")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n_new = 0
        docs = set()
        ner = ""
        for pdf in pdfs:
            n_new += len(pdf)
            docs.update(pdf["doc_id"])
            if len(pdf):
                ner = pdf["ner"].iloc[0]
        if state.exists:
            total, n_docs, prev_ner = state.get
        else:
            total, n_docs, prev_ner = 0, 0, ner
        total += n_new
        n_docs += len(docs)
        state.update((total, n_docs, prev_ner or ner))
        yield pd.DataFrame({
            "surface": [key[0]], "ner": [prev_ner or ner],
            "total_mentions": [total], "n_doc_batches": [n_docs],
        })

    return keyed.groupBy("surface").applyInPandasWithState(
        update,
        outputStructType="surface string, ner string, total_mentions long, n_doc_batches long",
        stateStructType="total long, n_docs long, ner string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Watermarked windowed aggregation over the events table (late-data
    handling demo; the pattern used for per-window extraction metrics)."""
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_path)
    )
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
    )


def streaming_canonical_entities(docs_stream: DataFrame, aliases: DataFrame):
    """Stateful streaming twin of ``entitylink.canonical_entities``:
    cross-doc canonical entity statistics maintained incrementally across
    micro-batches via ``applyInPandasWithState``.

    Same reduce algebra as the batch two-phase aggregation — per
    entity_key (wikidict link when resolved, else the caseless surface):
    running mention count, canonical text = max by (length, text), max NER —
    so availableNow over N file batches converges to exactly the batch
    result (tests assert equality). The wikidict resolution itself is the
    same broadcast join (stream-compatible: broadcast joins add no state).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from corenlp_spark.operators.entitylink import link_mentions

    linked = link_mentions(
        mention_rows(annotate(docs_stream, upto="ner")), aliases)
    keyed = linked.withColumn(
        "entity_key", F.coalesce(F.col("link"), F.lower(F.col("text")))
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, best_l, best_text, ner = state.get
        else:
            n, best_l, best_text, ner = 0, -1, "", ""
        for pdf in pdfs:
            n += len(pdf)
            for text, m_ner in zip(pdf["text"], pdf["ner"]):
                if (len(text), text) > (best_l, best_text):
                    best_l, best_text = len(text), text
                if (m_ner or "") > ner:
                    ner = m_ner or ""
        state.update((n, best_l, best_text, ner))
        yield pd.DataFrame({
            "entity_key": [key[0]], "canonical_text": [best_text],
            "ner": [ner], "n_mentions": [n],
        })

    return keyed.groupBy("entity_key").applyInPandasWithState(
        update,
        outputStructType=("entity_key string, canonical_text string, "
                          "ner string, n_mentions long"),
        stateStructType="n long, best_l int, best_text string, ner string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
