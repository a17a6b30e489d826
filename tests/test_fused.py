"""The fused triples pass must equal OpenIE over the annotated docs (which
canonicalizes pronoun subjects from the coref column), and stay one narrow
stage."""

from collections import Counter

from corenlp_spark.data.kbp_corpus import kbp_docs
from corenlp_spark.data.synth import synth_docs
from corenlp_spark.operators.openie import openie_docs
from corenlp_spark.plans.fused import annotate, extract_triples_fused


def test_fused_triples_equal_staged(spark):
    docs = synth_docs(spark, 200).unionByName(kbp_docs(spark))
    staged = Counter(tuple(r) for r in openie_docs(annotate(docs)).collect())
    fused = Counter(tuple(r) for r in extract_triples_fused(docs).collect())
    assert staged == fused


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
