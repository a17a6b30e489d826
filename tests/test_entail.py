"""Forward-entailment gates, porting ``OpenIEITest.testBasicEntailments``
(itest/.../naturalli/OpenIEITest.java:106-110) plus monotonicity blocking.
"""

from corenlp_spark.operators.depparse import SentenceGraph, parse_sentence
from corenlp_spark.operators.entail import entailed_docs, forward_entail
from corenlp_spark.operators.ner import tag_sentence_ner
from corenlp_spark.operators.tag import lemmatize, pos_tag
from corenlp_spark.operators.tokenize import tokenize_text


def fragments(sentence: str) -> dict[str, float]:
    toks = tokenize_text(sentence)
    words = [t[0] for t in toks]
    pos = pos_tag(words, {0})
    lem = [lemmatize(w, p) for w, p in zip(words, pos)]
    ner, _ = tag_sentence_ner(words, pos)
    edges = parse_sentence(words, pos, lem, ner)
    g = SentenceGraph([{"word": w, "lemma": l, "pos": p}
                       for w, l, p in zip(words, lem, pos)], edges)
    return {fr.lower(): sc for fr, sc in forward_entail(g)}


def test_basic_entailments_reference_cases():
    """OpenIEITest.java:106-110 — the three asserted entailments of
    'some blue cats have tails'."""
    fr = fragments("some blue cats have tails")
    assert "some cats have tails" in fr       # delete amod(blue)
    assert "blue cats have tails" in fr       # delete det(some) — upward
    assert "cats have tails" in fr            # delete both


def test_scores_are_monotone_in_deletions():
    fr = fragments("some blue cats have tails")
    assert fr["cats have tails"] < fr["some cats have tails"]
    assert 0.0 < fr["cats have tails"] <= 1.0


def test_downward_quantifier_blocks_restrictor_deletion():
    """'all blue rabbits eat vegetables' ⊭ 'all rabbits eat vegetables'
    (downward-monotone restrictor); deleting the quantifier first re-opens
    the NP (bare plural), so 'blue rabbits eat vegetables' and
    'rabbits eat vegetables' ARE entailed."""
    fr = fragments("all blue rabbits eat vegetables")
    assert "all rabbits eat vegetables" not in fr
    assert "blue rabbits eat vegetables" in fr
    assert "rabbits eat vegetables" in fr


def test_negated_clause_yields_no_entailed_deletions():
    assert fragments("John did not see blue cats") == {}


def test_adverb_and_pp_deletion():
    fr = fragments("The group grew quickly in Berlin")
    assert "the group grew in berlin" in fr   # advmod deleted
    assert "the group grew quickly" in fr     # nmod PP deleted
    assert "the group grew" in fr


def test_entailed_docs_operator(spark):
    from corenlp_spark.data.synth import synth_docs
    from corenlp_spark.plans.fused import annotate

    frs = entailed_docs(annotate(synth_docs(spark, 30))).collect()
    assert len(frs) > 0
    assert all(0.0 < r.score <= 1.0 for r in frs)
    assert all(r.fragment for r in frs)


def test_natlog_operator_lexicon_widening():
    """Operator.java lexicon breadth (r4): negative pronouns (nobody/
    nothing) flip their clause, downward frequency adverbs (rarely/seldom)
    flip the verb scope, 'any' marks its restrictor downward — and
    extraction is blocked under the flipped scopes."""
    from corenlp_spark.operators.depparse import SentenceGraph, parse_sentence
    from corenlp_spark.operators.openie import compute_polarity, extract_sentence
    from corenlp_spark.operators.tag import lemmatize, pos_tag
    from corenlp_spark.operators.tokenize import tokenize_text

    def g_of(s):
        toks = tokenize_text(s)
        words = [t[0] for t in toks]
        pos = pos_tag(words, {0})
        lem = [lemmatize(w, p) for w, p in zip(words, pos)]
        return words, SentenceGraph(
            [{"word": w, "lemma": l, "pos": p} for w, l, p in zip(words, lem, pos)],
            parse_sentence(words, pos, lem))

    words, g = g_of("Nobody likes delays.")
    pol = dict(zip(words, compute_polarity(g)))
    assert pol["likes"] == "down" and pol["delays"] == "down"
    assert list(extract_sentence(g)) == []

    words, g = g_of("He rarely visits Paris.")
    pol = dict(zip(words, compute_polarity(g)))
    assert pol["visits"] == "down"
    assert list(extract_sentence(g)) == []

    words, g = g_of("Any student can win.")
    pol = dict(zip(words, compute_polarity(g)))
    assert pol["student"] == "down"

    # positive control: the plain clause still extracts
    words, g = g_of("He visits Paris.")
    assert [(a, b, c) for a, b, c, _, _, _ in extract_sentence(g)] == \
        [("He", "visits", "Paris")]
