"""Statistical mention ranker for coreference — the trained reranking pass
over sieve candidates.

Behavioral reference (re-expressed, no constituency features):
``coref/statistical/StatisticalCorefAlgorithm.java:35`` +
``coref/statistical/FeatureExtractor.java`` — a mention-RANKING model: for
each anaphor, score every agreement-compatible candidate antecedent plus an
explicit no-antecedent option, link to the argmax. Features are the
parse-free subset of the reference's frame: mention-type pairs, sentence /
mention distance buckets, salience (first-mention-of-sentence ≈ subject),
same-sentence binding clash, head match, hypernym-type match, candidate
definiteness. Training is a latent-antecedent averaged ranking perceptron
(promote the best-scoring GOLD candidate, demote the prediction) on the
hand-labeled docs in data/coref_corpus.py — disjoint from the eval set.

The candidate generators live in operators/coref.py and are SHARED between
training and inference, so feature distributions match by construction.
"""

from __future__ import annotations

from collections import defaultdict

NULL = -1  # the no-antecedent option


def _first_in_sent(mentions, j) -> bool:
    mj = mentions[j]
    return all(m.start >= mj.start for m in mentions if m.sent == mj.sent)


def features(mentions, i: int, j: int) -> list[str]:
    """Feature frame for anaphor i against candidate j (or NULL)."""
    mi = mentions[i]
    if mi.kind == "pronoun":
        ana = mi.text.lower()
    else:
        ana = f"def:{mi.head_word.lower()}"
    if j == NULL:
        return ["null_bias", f"null|{ana}"]
    mj = mentions[j]
    feats = [
        "bias",
        f"pair|{ana}|{mj.kind}|{mj.ner}",
        f"cand_kind|{mj.kind}|{mj.ner}",
    ]
    sd = min(mi.sent - mj.sent, 3)
    feats.append(f"sdist|{sd}")
    feats.append(f"sdist|{ana}|{sd}")
    md = min(i - j, 5)
    feats.append(f"mdist|{md}")
    if _first_in_sent(mentions, j):
        feats.append("cand_first_in_sent")
        feats.append(f"cand_first|{ana}")
    if (sd == 0 and _first_in_sent(mentions, j)
            and not ana.endswith(("self", "selves"))):
        # binding-theory clash: a non-reflexive pronoun as a later argument
        # rarely corefers with the same-clause subject (principle B)
        feats.append("same_sent_subj_clash")
    if mi.head_word.lower() == mj.head_word.lower():
        feats.append("head_match")
    from corenlp_spark.operators.coref import _HYPERNYM_NER
    if _HYPERNYM_NER.get(mi.head_word.lower()) == mj.ner:
        feats.append("hyper_match")
        feats.append(f"hyper|{mi.head_word.lower()}")
    low = mj.text.lower()
    if low.startswith(("a ", "an ")):
        feats.append("cand_indefinite")
        feats.append(f"cand_indef|{ana}")
    return feats


class CorefRanker:
    def __init__(self):
        self.weights: dict[str, float] = {}

    def _score(self, feats: list[str]) -> float:
        w = self.weights
        return sum(w.get(f, 0.0) for f in feats)

    def choose(self, mentions, i: int, cands: list[int]) -> int | None:
        """argmax over candidates ∪ {no-antecedent}; ties keep the earliest
        option in candidate order (deterministic)."""
        best_j, best_s = NULL, self._score(features(mentions, i, NULL))
        for j in cands:
            s = self._score(features(mentions, i, j))
            if s > best_s + 1e-12:
                best_j, best_s = j, s
        return None if best_j == NULL else best_j

    def train(self, examples: list[tuple], epochs: int = 12) -> None:
        """examples: [(mentions, i, cands, gold_set)] where gold_set ⊆
        cands ∪ {NULL} holds the correct options. Latent-antecedent
        averaged ranking perceptron; deterministic."""
        totals: dict[str, float] = defaultdict(float)
        stamps: dict[str, int] = defaultdict(int)
        step = 0

        def upd(f, delta):
            cur = self.weights.get(f, 0.0)
            totals[f] += (step - stamps[f]) * cur
            stamps[f] = step
            self.weights[f] = cur + delta

        for _ in range(epochs):
            for mentions, i, cands, gold in examples:
                opts = [NULL] + list(cands)
                scored = [(self._score(features(mentions, i, j)), j)
                          for j in opts]
                pred = max(scored, key=lambda x: x[0])[1]
                if pred not in gold:
                    gold_scored = [(s, j) for s, j in scored if j in gold]
                    target = max(gold_scored, key=lambda x: x[0])[1]
                    for f in features(mentions, i, target):
                        upd(f, 1.0)
                    for f in features(mentions, i, pred):
                        upd(f, -1.0)
                step += 1
        for f in list(self.weights):
            totals[f] += (step - stamps[f]) * self.weights[f]
            self.weights[f] = totals[f] / max(step, 1)

    def to_broadcastable(self) -> dict:
        return {"weights": dict(self.weights)}

    @classmethod
    def from_broadcastable(cls, blob: dict) -> "CorefRanker":
        m = cls()
        m.weights = blob["weights"]
        return m


def training_examples():
    """Build ranking examples from data/coref_corpus.TRAIN_DOCS through the
    REAL annotation stack + the SHARED candidate generators."""
    from corenlp_spark.data.coref_corpus import TRAIN_DOCS, annotate_text
    from corenlp_spark.operators.coref import (
        _FIRST_PERSON, defnp_candidates, detect_mentions,
        pronoun_candidates,
    )

    examples = []
    for text, gold_chains in TRAIN_DOCS:
        tokens, sentences = annotate_text(text)
        mentions = detect_mentions(tokens, sentences)
        key_of = {idx: (m.sent, m.text) for idx, m in enumerate(mentions)}
        chain_of: dict[tuple, int] = {}
        for c, chain in enumerate(gold_chains):
            for k in chain:
                chain_of[k] = c
        for i, mi in enumerate(mentions):
            if mi.kind == "pronoun" and mi.text.lower() not in _FIRST_PERSON \
                    and not mi.text.lower().endswith(("self", "selves")):
                cands = pronoun_candidates(mentions, i)
            else:
                cands = defnp_candidates(mentions, i)
            if not cands:
                continue
            gc = chain_of.get(key_of[i])
            gold = {j for j in cands if gc is not None
                    and chain_of.get(key_of[j]) == gc}
            if not gold:
                gold = {NULL}
            examples.append((mentions, i, cands, gold))
    return examples
