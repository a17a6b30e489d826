"""Properties-driven pipeline façade tests (StanfordCoreNLP.java:213,481
semantics: prerequisite completion, construction-time validation)."""

import pytest

from corenlp_spark.api import Pipeline, annotate_text
from corenlp_spark.data.synth import synth_docs, text_docs


def test_prerequisites_are_completed():
    """Asking for openie pulls in the whole upstream DAG
    (ensurePrerequisiteAnnotators, StanfordCoreNLP.java:481)."""
    p = Pipeline("openie")
    for a in ("tokenize", "pos", "lemma", "ner", "depparse", "coref"):
        assert a in p.annotators


def test_unknown_annotator_fails_at_construction():
    with pytest.raises(ValueError, match="unknown annotator"):
        Pipeline("tokenize,flux_capacitor")


def test_pipeline_transform_and_outputs(spark):
    docs = synth_docs(spark, 20)
    p = Pipeline("tokenize,ssplit,pos,lemma,ner")
    ann = p(docs)
    assert {"tokens", "sentences"} <= set(ann.columns)
    row = ann.first()
    assert row["tokens"] and all(t["pos"] for t in row["tokens"])

    trip = Pipeline("openie").triples(docs)
    assert trip.count() > 0
    with pytest.raises(ValueError, match="openie"):
        Pipeline("tokenize").triples(docs)


def test_tokenizer_properties_ride_through(spark):
    docs = synth_docs(spark, 5)

    def words_of(pipe):
        return {t["word"] for r in pipe(docs).collect() for t in r["tokens"]}

    default = Pipeline("tokenize,ssplit")
    before = words_of(default)
    strict = Pipeline("tokenize,ssplit",
                      properties={"tokenize.options": {"strict_treebank3": True}})
    words = words_of(strict)
    # the golden pool contains "Gimme a phone, I'm gonna call." — under
    # strictTreebank3 the informal contraction stays whole
    assert "Gimme" in words and "gon" not in words
    # the strict run must not leak into the shared default options
    after = words_of(default)
    assert after == before and "gon" in after


def test_accessors_honour_tokenizer_options(spark):
    """.triples, .sentiments and .kbp annotate with the pipeline's tokenizer
    options, as ``pipe(docs)`` does: under ssplit_one_sentence a
    two-sentence doc is one sentence, so every row is in sentence 0."""
    docs = text_docs(spark, ["d"], ["Barack Obama was born in Hawaii. "
                                    "Chris Manning works for Stanford University."])
    one = Pipeline("openie,sentiment,kbp",
                   properties={"tokenize.options": {"ssplit_one_sentence": True}})
    assert len(one(docs).first()["sentences"]) == 1
    for accessor in ("triples", "sentiments", "kbp"):
        default = {r.sent_idx for r in getattr(Pipeline("openie,sentiment,kbp"),
                                               accessor)(docs).collect()}
        assert default == {0, 1}, accessor
        got = {r.sent_idx for r in getattr(one, accessor)(docs).collect()}
        assert got == {0}, accessor


def test_simple_api_analog(spark):
    doc = annotate_text(spark, "Barack Obama visited Paris. He spoke.")
    assert doc["docId"] == "doc"
    assert len(doc["sentences"]) == 2
    t0 = doc["sentences"][0]["tokens"][0]
    assert t0["word"] == "Barack" and t0["ner"] == "PERSON"
