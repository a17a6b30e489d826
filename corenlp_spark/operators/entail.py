"""Forward entailment: BFS over natural-logic-licensed edge deletions.

Behavioral reference (re-expressed):
  - deletion search: ``naturalli/ForwardEntailerSearchProblem.java:119-220``
    — breadth-first over subtree deletions, each licensed fragment scored by
    the product of per-relation deletion affinities
    (``naturalli/NaturalLogicWeights.java:99-220`` — here a broadcastable
    dict keyed by dependency relation);
  - monotonicity licensing: ``naturalli/NaturalLogicAnnotator.java:300-343``
    — deletions inside the restrictor of a downward-monotone quantifier
    (all/every/no) are NOT entailment-preserving ("all rabbits eat
    vegetables" ⊭ "all blue… minus blue" reading requires upward polarity),
    and a negated clause licenses no deletions at all. Deleting the
    quantifier itself re-opens the NP (bare plural ≈ upward), so licensing
    is re-evaluated per BFS state.

Output contract mirrors ``EntailedSentencesAnnotation``: each input sentence
yields the set of entailed shorter fragments with confidences. The gates in
tests/test_entail.py port ``OpenIEITest.testBasicEntailments`` (:106-110).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from corenlp_spark.operators.depparse import SentenceGraph, sentence_graphs

# deletion affinity per relation (NaturalLogicWeights spirit: high = freely
# deletable modifier, low = meaning-bearing; core arguments never delete)
AFFINITY: dict[str, float] = {
    "amod": 0.9, "advmod": 0.85, "nummod": 0.6, "appos": 0.8,
    "nmod": 0.7, "acl": 0.75, "det": 0.95, "dep": 0.4,
}
# determiners whose restrictor is downward monotone (deletions blocked
# inside their NP until the quantifier itself is deleted)
_DOWNWARD_DETS = {"all", "every", "each", "no"}
_NEG_WORDS = {"not", "n't", "never", "no"}

FRAGMENTS_SCHEMA = "doc_id string, sent_idx int, fragment string, score double"


def _deletable_rel(rel: str) -> float | None:
    base = rel.split(":", 1)[0]
    if base == "nmod" and rel == "nmod:poss":
        return None
    return AFFINITY.get(base)


def forward_entail(g: SentenceGraph, max_fragments: int = 32) -> list[tuple[str, float]]:
    """Entailed fragments of one sentence: [(gloss, score)], shorter first
    discovery order, deduplicated, full sentence excluded."""
    n = len(g.words)
    all_toks = frozenset(range(g.off, g.off + n))

    # negated clause ⇒ no deletions are sound
    for h, kids in g.children.items():
        for d, r in kids:
            if r in ("advmod", "det", "dep") and g.word(d).lower() in _NEG_WORDS:
                return []

    def candidate_deletions(kept: frozenset):
        """(subtree, affinity) deletions licensed in the CURRENT state."""
        for h in g.children:
            if h not in kept:
                continue
            # downward-monotone restrictor: while the quantifier survives,
            # nothing inside this NP may delete (except the quantifier)
            blocked_np = any(
                r == "det" and d in kept and g.word(d).lower() in _DOWNWARD_DETS
                for d, r in g.children.get(h, ())
            )
            for d, r in g.children.get(h, ()):
                if d not in kept:
                    continue
                aff = _deletable_rel(r)
                if aff is None:
                    continue
                if blocked_np and not (
                    r == "det" and g.word(d).lower() in _DOWNWARD_DETS
                ):
                    continue
                yield g.subtree(d), aff

    def gloss(kept: frozenset) -> str:
        ws = [g.word(t) for t in sorted(kept)
              if g.pos[t - g.off] not in (".", ",", ":", "``", "''")]
        return " ".join(ws)

    seen = {all_toks}
    out: list[tuple[str, float]] = []
    frontier: list[tuple[frozenset, float]] = [(all_toks, 1.0)]
    while frontier and len(out) < max_fragments:
        nxt: list[tuple[frozenset, float]] = []
        for kept, score in frontier:
            for sub, aff in candidate_deletions(kept):
                kept2 = kept - sub
                if kept2 in seen or g.root not in kept2:
                    continue
                seen.add(kept2)
                s2 = round(score * aff, 6)
                out.append((gloss(kept2), s2))
                if len(out) >= max_fragments:
                    break
                nxt.append((kept2, s2))
            if len(out) >= max_fragments:
                break
        frontier = nxt
    # dedup glosses, keep max score (different deletion orders, same text)
    best: dict[str, float] = {}
    for fr, sc in out:
        if fr and (fr not in best or best[fr] < sc):
            best[fr] = sc
    return sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))


def _fragment_rows(tokens, sentences, deps, coref):
    """One doc's (sent_idx, fragment, score) rows over its parsed sentences."""
    for s, g in sentence_graphs(tokens, sentences, deps):
        if g.edges:
            for fr, sc in forward_entail(g):
                yield s["sent_idx"], fr, sc


def entailed_docs(df: DataFrame) -> DataFrame:
    """docs(+tokens,+sentences,+deps) → exploded entailed-fragments table
    (the EntailedSentencesAnnotation analog). Narrow, zero shuffle."""
    from corenlp_spark.plans.fused import doc_rows

    return doc_rows(df, _fragment_rows, FRAGMENTS_SCHEMA,
                    reads=("tokens", "sentences", "deps"))
