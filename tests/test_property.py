"""Property-based robustness gates (hypothesis).

The reference has no property-based testing (SURVEY.md §5); at 100 TB the
tokenizer meets every byte sequence the web contains, so the invariants are
asserted over ARBITRARY generated text, not just goldens:

  - invertibility: token originals at their offsets reconstruct the input;
  - monotonicity: offsets are non-overlapping and increasing;
  - total robustness: no input crashes the kernel pipeline.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from corenlp_spark.operators.tokenize import annotate_doc, tokenize_text

TEXT = st.text(max_size=200)


@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_tokenize_is_invertible_on_arbitrary_text(text):
    toks = tokenize_text(text)
    for word, original, b, e in toks:
        assert text[b:e] == original
        assert word  # never an empty normalized token


@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_token_offsets_are_monotone_and_disjoint(text):
    # Zero-width tokens are legal ONLY for the reduplicated sentence-final
    # abbreviation period (original "" — PTBLexer processAbbrev1 re-emits a
    # period whose text the input does not contain); all real tokens must
    # advance.
    last_end = -1
    for w, original, b, e in tokenize_text(text):
        assert b >= last_end
        if original == "":
            assert e == b and w == "."
        else:
            assert e > b
        last_end = e


@settings(max_examples=150, deadline=None)
@given(st.lists(TEXT, max_size=4))
def test_full_kernel_never_crashes(texts):
    """tokenize → pos → ner → parse → coref → openie on arbitrary spans."""
    from corenlp_spark.plans.fused import _annotate_batch

    spans = [{"kind": "text", "text": t, "media_ref": None, "offset": i}
             for i, t in enumerate(texts)]
    tokens, sentences, deps, coref = _annotate_batch([spans])[0]
    n = len(tokens)
    for s in sentences:
        assert 0 <= s["start_tok"] < s["end_tok"] <= n
    for e in deps:
        assert -1 <= e["head"] < n and 0 <= e["dep"] < n


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(min_value=-1e3, max_value=1e3,
                          allow_nan=False, width=32), min_size=4, max_size=16))
def test_entail_scores_bounded(vals):
    """Forward-entailment scores are products of (0,1] affinities."""
    from corenlp_spark.operators.depparse import parse_sentence
    from corenlp_spark.operators.entail import forward_entail
    from corenlp_spark.operators.depparse import SentenceGraph

    # deterministic sentence derived from the float seed (shape variety)
    words = ["The", "quick" if vals[0] > 0 else "small", "group",
             "grew", "quickly", "in", "Berlin", "."]
    pos = ["DT", "JJ", "NN", "VBD", "RB", "IN", "NNP", "."]
    edges = parse_sentence(words, pos, [w.lower() for w in words],
                           ["O"] * 6 + ["LOCATION", "O"])
    g = SentenceGraph([{"word": w, "lemma": w.lower(), "pos": p}
                       for w, p in zip(words, pos)], edges)
    for fr, sc in forward_entail(g):
        assert 0.0 < sc <= 1.0 and fr
