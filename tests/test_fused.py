"""The fused triples pass must equal OpenIE over the annotated docs plus the
SQL pronoun canonicalization join, and stay one narrow stage."""

from pyspark.sql import functions as F

from corenlp_spark.data.synth import synth_docs
from corenlp_spark.operators.graph import (
    canonicalize_triples, coref_chains_rows,
)
from corenlp_spark.operators.openie import openie_docs
from corenlp_spark.plans.fused import annotate, extract_triples_fused


def _keys(df):
    return {
        r[0]
        for r in df.select(
            F.concat_ws("|", "doc_id", F.col("sent_idx").cast("string"),
                        F.lower("subj"), F.lower("pred"), F.lower("obj"))
        ).collect()
    }


def test_fused_triples_equal_staged(spark):
    docs = synth_docs(spark, 100)
    ann = annotate(docs)
    staged = canonicalize_triples(openie_docs(ann), coref_chains_rows(ann))
    fused = extract_triples_fused(docs)
    assert _keys(staged) == _keys(fused)


def test_fused_is_single_narrow_stage(spark):
    plan = extract_triples_fused(synth_docs(spark, 5))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # exactly one annotation crossing (+1 for the synth generator itself)
    assert plan.count("MapInPandas") == 2


def test_null_spans_yield_empty_annotations(spark):
    """A NULL spans row and a NULL span element must not fail the task: the
    NULL row gets empty annotations, the NULL element is skipped."""
    from corenlp_spark.api import Pipeline
    from corenlp_spark.data.synth import DOCS_SCHEMA
    from corenlp_spark.streaming.stream import stream_triples

    text = {"kind": "text", "text": "Obama visited Paris.", "media_ref": None,
            "offset": 0}
    docs = spark.createDataFrame([("d_null", None), ("d_elem", [None, text])],
                                 schema=DOCS_SCHEMA)
    for ann in (Pipeline("tokenize,ssplit,pos,lemma,ner")(docs),
                annotate(docs, upto="ner")):
        rows = {r["doc_id"]: r for r in ann.collect()}
        assert rows["d_null"]["tokens"] == [] and rows["d_null"]["sentences"] == []
        assert [t["word"] for t in rows["d_elem"]["tokens"]] == \
            ["Obama", "visited", "Paris", "."]
        assert all(t["ner"] for t in rows["d_elem"]["tokens"])
    triples = stream_triples(docs).collect()
    assert {r["doc_id"] for r in triples} == {"d_elem"}
