"""Sentence-level sentiment annotator.

Behavioral reference: the ``sentiment`` annotator surface
(``pipeline/SentimentAnnotator.java`` — one 5-class label per sentence:
Very negative / Negative / Neutral / Positive / Very positive,
``sentiment/SentimentUtils.java`` class names). DESIGN DELTA, stated
plainly: the reference scores with an RNTN over binarized constituency
trees (``sentiment/SentimentModel.java``); this engine has no constituency
parse (SURVEY §2.2 design-out), so the scorer is a valence-lexicon model
with negation handled by the natlog per-token polarity marks
(``operators/openie.compute_polarity``) and intensifier scaling — the
compositional effects the RNTN learns (negation flip, intensification)
applied through the dependency-side machinery this engine does have. Same
output surface and label inventory; weaker on subtle compositionality.

Narrow per-doc transform (``fused.doc_rows``); no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from corenlp_spark.operators.depparse import sentence_graphs
from corenlp_spark.operators.openie import compute_polarity

SENTIMENT_SCHEMA = (
    "doc_id string, sent_idx int, sentiment string, score double"
)

LABELS = ["Very negative", "Negative", "Neutral", "Positive", "Very positive"]

# valence lexicon: word → [-2, 2] (hand-built public-knowledge seed in the
# spirit of published valence lexicons; the RNTN's learned phrase valences
# are out of scope per the design delta above)
VALENCE: dict[str, float] = {
    "good": 1.0, "great": 1.5, "excellent": 2.0, "amazing": 2.0,
    "wonderful": 2.0, "fantastic": 2.0, "awesome": 1.8, "best": 1.8,
    "love": 1.6, "loved": 1.6, "loves": 1.6, "like": 0.8, "likes": 0.8,
    "liked": 0.8, "enjoy": 1.2, "enjoyed": 1.2, "happy": 1.3, "glad": 1.1,
    "brilliant": 1.8, "beautiful": 1.4, "nice": 0.9, "pleasant": 1.0,
    "impressive": 1.3, "win": 1.0, "won": 1.0, "success": 1.2,
    "successful": 1.2, "perfect": 1.8, "delightful": 1.6, "superb": 1.8,
    "strong": 0.7, "clever": 1.0, "charming": 1.2, "fun": 1.1,
    "helpful": 1.0, "recommend": 1.2, "recommended": 1.2, "thrilled": 1.8,
    "bad": -1.0, "terrible": -2.0, "awful": -2.0, "horrible": -2.0,
    "worst": -1.8, "hate": -1.6, "hates": -1.6, "hated": -1.6,
    "dislike": -1.0, "poor": -1.0, "disappointing": -1.4,
    "disappointed": -1.4, "boring": -1.2, "dull": -1.0, "sad": -1.1,
    "unhappy": -1.2, "angry": -1.2, "fail": -1.2, "failed": -1.2,
    "failure": -1.3, "broken": -1.0, "ugly": -1.3, "mess": -1.1,
    "weak": -0.7, "annoying": -1.2, "mediocre": -0.9, "waste": -1.4,
    "wasted": -1.4, "useless": -1.5, "dreadful": -1.8, "atrocious": -2.0,
    "flawed": -0.9, "stupid": -1.4, "wrong": -0.8, "problem": -0.7,
    "problems": -0.7, "slow": -0.6, "buggy": -1.2,
}
INTENSIFIERS = {"very": 1.5, "extremely": 1.8, "really": 1.3, "so": 1.2,
                "incredibly": 1.8, "absolutely": 1.5, "quite": 1.1,
                "totally": 1.4}
DIMINISHERS = {"slightly": 0.6, "somewhat": 0.7, "barely": 0.5,
               "hardly": 0.5, "a": 1.0}
_NEG_WORDS = {"not", "n't", "never", "no", "nothing", "nobody", "neither"}


def score_sentence(words: list[str], polarity: list[str] | None = None) -> float:
    """Valence sum with intensifier scaling and polarity-aware negation:
    a token under downward natlog polarity (or within 3 tokens after a
    negation word, the lexicon fallback) contributes flipped & damped —
    the standard negation treatment the RNTN learns from data."""
    total = 0.0
    lws = [w.lower() for w in words]
    for i, lw in enumerate(lws):
        v = VALENCE.get(lw)
        if v is None:
            continue
        scale = 1.0
        if i > 0:
            prev = lws[i - 1]
            if prev in INTENSIFIERS:
                scale = INTENSIFIERS[prev]
            elif prev in DIMINISHERS and prev != "a":
                scale = DIMINISHERS[prev]
        negated = False
        if polarity is not None and polarity[i] == "down":
            negated = True
        else:
            for k in range(max(0, i - 3), i):
                if lws[k] in _NEG_WORDS:
                    negated = True
                    break
        if negated:
            v = -0.6 * v  # flip + damp: "not great" ≈ mildly negative
        total += v * scale
    return total


def label_of(score: float) -> str:
    if score <= -1.5:
        return LABELS[0]
    if score < -0.3:
        return LABELS[1]
    if score < 0.3:
        return LABELS[2]
    if score < 1.5:
        return LABELS[3]
    return LABELS[4]


def _sentiment_rows(tokens, sentences, deps, coref):
    """One doc's (sent_idx, label, score) rows: natlog polarity marks for a
    parsed sentence, the lexicon negation window for an edgeless one."""
    for s, g in sentence_graphs(tokens, sentences, deps):
        sc = round(score_sentence(g.words, compute_polarity(g) if g.edges else None), 6)
        yield s["sent_idx"], label_of(sc), sc


def sentiment_docs(df: DataFrame, options: dict | None = None) -> DataFrame:
    """docs → one row per sentence with (sentiment label, raw score).

    Annotates to the parse in the same pass (``fused.doc_rows``; ``options``
    are the tokenizer options) and scores each sentence with its natlog
    polarity marks."""
    from corenlp_spark.plans.fused import doc_rows

    return doc_rows(df, _sentiment_rows, SENTIMENT_SCHEMA, upto="depparse",
                    options=options)
