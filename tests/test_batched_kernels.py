"""The batched decoders are the only inference decoders of the three
trained models (arc-standard parser, POS perceptron, NER Viterbi): one numpy
score per step for the whole Arrow batch (SURVEY §2.2 depparse row). The
per-sentence numpy decoders they replaced live on here as the bit-parity
reference, scoring from per-feature vectors built from ``weights``: for
every sentence the batched decode must produce exactly the reference
output, whatever the batch order or size.
"""

from __future__ import annotations

import numpy as np
import pytest

from corenlp_spark.data.synth import GOLDEN_SENTENCES, _doc_spans
from corenlp_spark.models.perceptron import (
    _NEG, _ner_sent_features, _pos_features,
)
from corenlp_spark.operators.ner import (
    _gazetteer_overwrite, _get_ner_model, _ner_force_o, numeric_pass,
    tag_ner_batch, tag_sentence_ner,
)
from corenlp_spark.operators.tag import (
    _get_pos_model, _pos_constraints, pos_tag, pos_tag_batch,
)
from corenlp_spark.operators.tokenize import annotate_doc


def _doc_pool():
    pool = [[{"kind": "text", "text": s, "media_ref": None, "offset": 0}]
            for s in GOLDEN_SENTENCES]
    pool += [_doc_spans(f"doc{i:08d}", True) for i in range(120)]
    return pool


@pytest.fixture(scope="module")
def annotated_pool():
    docs = []
    for spans in _doc_pool():
        toks, sents = annotate_doc([s for s in spans if s["kind"] == "text"])
        words = [t["word"] for t in toks]
        starts = {x["start_tok"] for x in sents}
        docs.append((words, starts, sents))
    return docs


# -- per-sentence reference decoders -----------------------------------------

def _pos_vectors(m):
    """feature → np.ndarray(len(tags)) from the tagger's weights."""
    idx = {t: i for i, t in enumerate(m.tags)}
    vec = {}
    for f, by in m.weights.items():
        a = np.zeros(len(m.tags))
        for tag, w in by.items():
            if tag in idx:
                a[idx[tag]] = w
        vec[f] = a
    return vec


def _argmax_tag(m, vec, feats: list[str], open_only: bool = False):
    """Vectorized score + argmax; ties break to the LARGEST tag (same
    as max(tags, key=(score, tag)) in the dict path)."""
    acc = None
    for f in feats:
        a = vec.get(f)
        if a is not None:
            acc = a.copy() if acc is None else acc + a
    if acc is None:
        return "NN" if "NN" in m.tags else (m.tags[-1] if m.tags else "NN")
    if open_only:
        open_mask = np.array([t in m.OPEN_TAGS for t in m.tags])
        if open_mask.any():
            acc = np.where(open_mask, acc, -np.inf)
    best = len(acc) - 1 - int(np.argmax(acc[::-1]))
    return m.tags[best]


def _predict_with_constraints(m, vec, words: list[str], fixed: dict[int, str],
                              sent_starts: set[int] | None = None) -> list[str]:
    out: list[str] = []
    prev = prev2 = "<s>"
    starts = sent_starts or set()
    for i in range(len(words)):
        if i in starts:
            prev = prev2 = "<s>"
        tag = fixed.get(i)
        if tag is None:
            tag = _argmax_tag(
                m, vec, _pos_features(words, i, prev, prev2),
                open_only=f"w={words[i].lower()}" not in m.weights)
        out.append(tag)
        prev2, prev = prev, tag
    return out


def _ner_vectors(m):
    """(feature → np.ndarray(k), k×k transition matrix) from the NER
    model's weights and transitions."""
    k = len(m.labels)
    vec = {}
    for f, by in m.weights.items():
        a = np.zeros(k)
        for lab, wt in by.items():
            a[m._L[lab]] += wt
        vec[f] = a
    T = np.zeros((k, k))
    for i, a in enumerate(m.labels):
        for j, b in enumerate(m.labels):
            if b.startswith("I-") and a not in (f"B-{b[2:]}", f"I-{b[2:]}"):
                T[i, j] = _NEG  # BIO structural constraint
            else:
                T[i, j] = m.trans.get(f"{a}>{b}", 0.0)
    return vec, T


def _emissions(m, vec, feats_per_tok: list[list[str]]):
    k = len(m.labels)
    em = np.zeros((len(feats_per_tok), k))
    for i, feats in enumerate(feats_per_tok):
        row = em[i]
        for f in feats:
            a = vec.get(f)
            if a is not None:
                row += a
    return em


def _viterbi(m, em, trans) -> list[int]:
    """Vectorized linear-chain Viterbi (numpy over the label axis; same
    DP as ``sequences/ExactBestSequenceFinder.java:37-110``)."""
    n, k = em.shape
    dp = em[0].copy()
    for j in range(k):
        if m.labels[j].startswith("I-"):
            dp[j] += _NEG
    back = np.zeros((n, k), dtype=np.int32)
    for t in range(1, n):
        scores = dp[:, None] + trans
        back[t] = np.argmax(scores, axis=0)
        dp = scores[back[t], np.arange(k)] + em[t]
    path = [int(np.argmax(dp))]
    for t in range(n - 1, 0, -1):
        path.append(int(back[t, path[-1]]))
    return path[::-1]


def _decode(m, vec, trans, words: list[str], pos: list[str],
            force_o: set[int] | None = None) -> list[str]:
    if not words:
        return []
    feats = _ner_sent_features(words, pos)
    em = _emissions(m, vec, feats)
    if force_o:
        for i in force_o:
            em[i, 1:] += _NEG
    path = _viterbi(m, em, trans)
    return [m.labels[i] for i in path]


def _tag_sentence_ner(m, vec, trans, words: list[str], pos: list[str]
                      ) -> tuple[list[str], list[str]]:
    # trigger fast path: entities require a capitalized alphabetic token —
    # all-lowercase sentences skip the Viterbi DP entirely and go straight
    # to the numeric pass
    if any(w[:1].isupper() for w in words):
        bio = _decode(m, vec, trans, words, pos, _ner_force_o(words))
        ner = [b.split("-", 1)[-1] if b != "O" else "O" for b in bio]
        _gazetteer_overwrite(words, ner)
    else:
        ner = ["O"] * len(words)
    nner = [""] * len(words)
    numeric_pass(words, ner, nner)
    return ner, nner


# -- parity -------------------------------------------------------------------

def test_pos_batch_equals_sequential(annotated_pool):
    m = _get_pos_model()
    vec = _pos_vectors(m)
    docs = [(w, s) for w, s, _ in annotated_pool]
    ref = [_predict_with_constraints(m, vec, w, _pos_constraints(w), s)
           for w, s in docs]
    assert pos_tag_batch(docs) == ref
    assert pos_tag_batch(list(reversed(docs))) == list(reversed(ref))
    assert [pos_tag(w, s) for w, s in docs] == ref


def _sentence_segs(annotated_pool):
    segs = []
    for words, starts, sents in annotated_pool:
        tags = pos_tag(words, starts)
        for x in sents:
            a, b = x["start_tok"], x["end_tok"]
            segs.append((words[a:b], tags[a:b]))
    return segs


def test_ner_batch_equals_sequential(annotated_pool):
    m = _get_ner_model()
    vec, trans = _ner_vectors(m)
    segs = _sentence_segs(annotated_pool)
    ref = [_tag_sentence_ner(m, vec, trans, w, p) for w, p in segs]
    assert tag_ner_batch(segs) == ref
    assert tag_ner_batch(list(reversed(segs))) == list(reversed(ref))
    assert [tag_sentence_ner(w, p) for w, p in segs] == ref


def test_parse_batch_equals_reference_decode(annotated_pool):
    """parse_batch vs the r3 per-sentence greedy loop, reproduced here
    verbatim from the dict-scored path (models/parser.py history)."""
    from corenlp_spark.models.parser import _features, get_trained_parser

    p = get_trained_parser()
    p._ensure_batch_matrices()
    acts = p._acts_desc
    aidx = {a: i for i, a in enumerate(acts)}
    avec = {}
    for f, by in p.weights.items():
        arr = np.zeros(len(acts))
        for a, wt in by.items():
            i = aidx.get(a)
            if i is not None:
                arr[i] += wt
        avec[f] = arr

    def parse_ref(words, pos):
        n = len(words)
        if n == 0:
            return []
        stack, buffer = [], list(range(n))
        head_of, label_of, kids_of = {}, {}, {}
        steps = 0
        while (buffer or len(stack) > 1) and steps < 4 * n + 8:
            steps += 1
            if len(stack) < 2:
                stack.append(buffer.pop(0))
                continue
            feats = _features(stack, buffer, words, pos, head_of, label_of,
                              kids_of)
            sc = np.zeros(len(acts))
            for f in feats:
                arr = avec.get(f)
                if arr is not None:
                    sc += arr
            sc += p._pen_all if buffer else p._pen_arc_only
            act = acts[int(sc.argmax())]
            kind, rel = act.split("|", 1)
            if kind == "S":
                stack.append(buffer.pop(0))
            elif kind == "L":
                d = stack[-2]
                head_of[d] = stack[-1]
                label_of[d] = rel
                kids_of.setdefault(stack[-1], []).append(d)
                stack.pop(-2)
            else:
                d = stack[-1]
                head_of[d] = stack[-2]
                label_of[d] = rel
                kids_of.setdefault(stack[-2], []).append(d)
                stack.pop()
        return p._finalize(words, pos, n, stack, head_of, label_of)

    segs = _sentence_segs(annotated_pool)
    ref = [parse_ref(w, t) for w, t in segs]
    assert p.parse_batch(segs) == ref


def test_annotate_batch_equals_per_doc():
    """The fused batch orchestrator must equal running each doc alone."""
    from corenlp_spark.plans.fused import _annotate_batch

    pool = _doc_pool()[:60]
    batch = _annotate_batch(pool)
    singles = [_annotate_batch([spans])[0] for spans in pool]
    assert batch == singles


def test_parse_batch_flat_state_isolation(annotated_pool):
    """r6 vectorized decode keeps per-token state (child extents, valences,
    arc labels) in flat arrays indexed by per-sentence base offsets — a
    mixed batch must decode every sentence exactly as a singleton batch
    does (catches any cross-sentence offset contamination)."""
    from corenlp_spark.models.parser import get_trained_parser

    p = get_trained_parser()
    segs = _sentence_segs(annotated_pool)
    mixed = p.parse_batch(segs)
    # singleton calls build their own flat arrays from scratch
    singles = [p.parse_batch([s])[0] for s in segs[:150]]
    assert mixed[:150] == singles
    # and a reversed-order batch must not change any result
    rev = p.parse_batch(list(reversed(segs)))
    assert rev == list(reversed(mixed))


def test_pos_all_unknown_features_fall_back_to_nn():
    """A token none of whose features the model knows has no score to
    argmax; the tagger answers NN (the training-time scorer's default)."""
    from corenlp_spark.models.perceptron import AveragedPerceptronTagger

    m = AveragedPerceptronTagger()
    m.tags = ["NN", "VB"]
    assert m.predict_with_constraints_batch([(["zzz"], {}, None)]) == [["NN"]]
    assert m.predict(["zzz"]) == ["NN"]


def _retrain_case(name):
    """(model class, first corpus, second corpus, batch decode fn)."""
    from corenlp_spark.data import gold_trees
    from corenlp_spark.data.train_corpus import (
        ner_corpus, ner_heldout, pos_corpus, pos_heldout,
    )
    from corenlp_spark.models.parser import ArcStandardParser
    from corenlp_spark.models.perceptron import (
        AveragedPerceptronTagger, StructuredPerceptronNER,
    )

    if name == "pos":
        c = pos_corpus()
        docs = [(w, {}, None) for w, _ in pos_heldout()[:30]]
        return (AveragedPerceptronTagger, c[:20], c[20:60],
                lambda m: m.predict_with_constraints_batch(docs))
    if name == "ner":
        c = ner_corpus()
        sents = [(w, p, None) for w, p, _ in ner_heldout()[:30]]
        return (StructuredPerceptronNER, c[:20], c[20:60],
                lambda m: m.decode_batch(sents))
    c = gold_trees.train()
    sents = [(w, p) for w, p, _ in gold_trees.heldout()[:30]]
    return (ArcStandardParser, c[:20], c[20:60],
            lambda m: m.parse_batch(sents))


@pytest.mark.parametrize("name", ["pos", "ner", "parser"])
def test_train_drops_decode_state(name):
    """Training a model that has already decoded must not leave it scoring
    with the matrices and memos built from its old weights."""
    cls, first, second, decode = _retrain_case(name)
    m = cls()
    m.train(first, epochs=1)
    decode(m)
    m.train(second, epochs=1)
    fresh = cls.from_broadcastable(m.to_broadcastable())
    assert decode(m) == decode(fresh)
