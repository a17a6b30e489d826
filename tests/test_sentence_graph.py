"""The shared per-sentence dependency-graph view (operators/depparse.py) and
the NULL handling every consumer inherits from ``sentence_graphs``."""

import pandas as pd
from pyspark.sql import functions as F

from corenlp_spark.data.kbp_corpus import KBP_DISTRACTORS, KBP_GOLD
from corenlp_spark.data.synth import DOCS_SCHEMA, _doc_spans
from corenlp_spark.operators.aux_annotators import quote_docs, truecase_docs
from corenlp_spark.operators.depparse import SentenceGraph, sentence_graphs
from corenlp_spark.operators.entail import entailed_docs
from corenlp_spark.operators.kbp import kbp_arm_rows
from corenlp_spark.operators.mentions import mention_rows
from corenlp_spark.operators.openie import openie_docs
from corenlp_spark.plans.fused import CUTS, _annotate_batch, annotate

TEXTS = [
    "Barack Obama was born in Hawaii.",
    "Chris Manning works for Stanford University.",
    "IBM is headquartered in Armonk.",
    "Some blue cats have tails.",
]


def _text_spans(text):
    return [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]


def test_graph_view_fields():
    toks = [{"word": "Cats"}, {"word": "eat", "lemma": "eat", "pos": "VBP"},
            {"word": "fish", "lemma": None, "pos": None}]
    # doc-level indices 5..7; token 7 has two incoming edges
    g = SentenceGraph(toks, [(6, 5, "nsubj"), (-1, 6, "root"), (6, 7, "obj"),
                             (5, 7, "dep")], 5)
    assert (g.root, g.off) == (6, 5)
    assert g.words == ["Cats", "eat", "fish"]
    assert g.lemmas == ["Cats", "eat", "fish"] and g.pos == ["", "VBP", ""]
    assert g.parent[7] == (5, "dep")  # last edge wins
    assert g.parents[7] == [(6, "obj"), (5, "dep")]
    assert list(g.kids(6)) == [(5, "nsubj"), (7, "obj")]
    assert g.first(6, "obj") == 7 and g.first(6, "iobj") is None
    assert g.subtree(6) == {5, 6, 7} and g.gloss({7, 5}) == "Cats fish"
    assert set(g.ancestors(7)) == {5, 6} and set(g.descendants(6)) == {5, 7}
    assert SentenceGraph(toks, [(6, 5, "nsubj")], 5).root == -1


def test_sentence_graphs_null_columns():
    sents = [{"sent_idx": 0, "start_tok": 0, "end_tok": 1}]
    toks = [{"word": "Hi"}]
    assert list(sentence_graphs(None, sents, [])) == []
    assert list(sentence_graphs(toks, None, [])) == []
    [(s, g)] = sentence_graphs(toks, sents, None)
    assert s is sents[0] and g.edges == [] and g.words == ["Hi"]


def test_graph_fallbacks_never_fire_on_fused_output():
    """Every token of every cut from ``tag`` on carries a non-NULL lemma and
    a non-empty POS, so the graph view reads them as stored."""
    spans = ([_text_spans(t) for t in TEXTS]
             + [_text_spans(t) for t, _ in KBP_GOLD] + [_text_spans(t) for t in KBP_DISTRACTORS]
             + [_doc_spans(f"doc-{i:09d}", True) for i in range(40)])
    for cut in CUTS[1:]:
        n = 0
        for tokens, _, _, _ in _annotate_batch(spans, upto=cut):
            n += len(tokens)
            assert all(t["lemma"] is not None and t["pos"] for t in tokens), cut
        assert n > 1000


def test_null_deps_and_sentences_rows_yield_nothing(spark):
    """One NULL-deps doc and one NULL-sentences doc go through the graph
    consumers without failing the task; the other docs' rows are unchanged.
    Each KBP arm is checked on its own rows of the one-pass kernel."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(TEXTS))],
        "spans": [_text_spans(t) for t in TEXTS],
    }), schema=DOCS_SCHEMA)
    ann = annotate(docs).cache()
    try:
        null_deps, null_sents = "d0", "d1"
        broken = ann.select(
            "doc_id", "tokens",
            F.when(F.col("doc_id") == null_sents, F.lit(None))
            .otherwise(F.col("sentences")).alias("sentences"),
            F.when(F.col("doc_id") == null_deps, F.lit(None))
            .otherwise(F.col("deps")).alias("deps"),
        )
        ops = {"openie": openie_docs, "entail": entailed_docs}
        for arm in ("tokensregex", "semgrex", "statistical"):
            ops[arm] = lambda df, a=arm: kbp_arm_rows(df).filter(F.col("arm") == a)
        for name, op in ops.items():
            clean = sorted(tuple(r) for r in op(ann).collect())
            got = sorted(tuple(r) for r in op(broken).collect())
            assert {r[0] for r in clean} >= {null_deps, null_sents}, name
            assert [r for r in got if r[0] not in (null_deps, null_sents)] == \
                [r for r in clean if r[0] not in (null_deps, null_sents)], name
            assert null_sents not in {r[0] for r in got}, name
            # tokensregex reads no deps; statistical only loses its path
            # features (and with them d0's one hit); the graph consumers see
            # an edgeless sentence
            if name == "tokensregex":
                assert null_deps in {r[0] for r in got}, name
            elif name != "statistical":
                assert null_deps not in {r[0] for r in got}, name
    finally:
        ann.unpersist()


def test_null_tokens_rows_yield_nothing(spark):
    """A NULL-tokens doc goes through every tokens consumer without failing
    the task: the row operators yield nothing for it, ``quote_docs`` gives
    it no quotes and ``truecase_docs`` leaves its tokens NULL. The other
    docs' rows are unchanged."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(TEXTS))],
        "spans": [_text_spans(t) for t in TEXTS],
    }), schema=DOCS_SCHEMA)
    ann = annotate(docs).cache()
    try:
        null = "d0"
        broken = ann.withColumn("tokens", F.when(F.col("doc_id") == null, F.lit(None))
                                .otherwise(F.col("tokens")))
        ops = {"mentions": mention_rows, "openie": openie_docs,
               "entail": entailed_docs, "kbp": kbp_arm_rows,
               "quote": lambda df: quote_docs(df).select("doc_id", "quotes"),
               "truecase": lambda df: truecase_docs(df).select("doc_id", "tokens")}
        for name, op in ops.items():
            clean = sorted(tuple(r) for r in op(ann).collect())
            got = sorted(tuple(r) for r in op(broken).collect())
            assert null in {r[0] for r in clean}, name
            assert [r for r in got if r[0] != null] == \
                [r for r in clean if r[0] != null], name
            null_rows = [r[1] for r in got if r[0] == null]
            if name == "quote":
                assert null_rows == [[]], name
            elif name == "truecase":
                assert null_rows == [None], name
            else:
                assert null_rows == [], name
    finally:
        ann.unpersist()
