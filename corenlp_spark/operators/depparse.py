"""Dependency parsing: UD-style labeled edge lists per sentence, and the
one graph view every downstream op reads them through.

Behavioral reference (re-expressed):
  - transition-based parsing ``parser/nndep/DependencyParser.java`` /
    ``parser/nndep/ArcStandard.java:68-102`` (Chen & Manning 2014). The
    default producer is the trained arc-standard parser in
    ``models/parser.py``; this module keeps the deterministic
    chunk-and-attach clause parser (``parse_sentence(model="rule")``) as its
    distillation teacher and fallback, and the post-parse rewrites both
    parsers share (``enhance_edges``).
  - enhanced++ case-marker collapse (``nmod:<case>``):
    ``trees/UniversalEnglishGrammaticalStructure.java:211-268,304``.

Graph encoding (SURVEY.md §1.1): no object graph is stored — an edge-list
column ``deps: array<struct<sent_idx:int, head:int, dep:int, rel:string>>``
with doc-level token indices; the root edge has head = -1. Every downstream
graph op (OpenIE, natlog, entailment, Semgrex/KBP, sentiment, protobuf)
reads that column through ``sentence_graphs``, which groups it by
``sent_idx`` into one ``SentenceGraph`` adjacency view per sentence inside
the UDF; this module is the only reader of the edge struct's fields.

Narrow transform: per-doc ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

from typing import Iterator

DEPS_TYPE = "array<struct<sent_idx:int,head:int,dep:int,rel:string>>"


class SentenceGraph:
    """Adjacency view over one sentence's slice of the ``deps`` edge list.

    ``toks`` are the sentence's token dicts and ``off`` the doc-level index
    of its first token; nodes are doc-level token indices, as in ``deps``.
    ``parent`` keeps the last incoming edge of each token, ``parents`` all
    of them; ``root`` is -1 when the sentence has no root edge. A token
    without ``lemma``/``pos`` (the tokenize cut, or NULL) reads as its word
    / "". An empty lemma is kept: the lemmatizer returns one for bare
    suffix tokens ("s"/NNS, "ed"/VBD), and KBP features read it as is.
    """

    def __init__(self, toks, edges: list[tuple[int, int, str]], offset: int = 0):
        self.toks, self.edges, self.off = toks, edges, offset
        self.words = [t["word"] for t in toks]
        self.lemmas = [t["word"] if t.get("lemma") is None else t["lemma"]
                       for t in toks]
        self.pos = [t.get("pos") or "" for t in toks]
        self.children: dict[int, list[tuple[int, str]]] = {}
        self.parents: dict[int, list[tuple[int, str]]] = {}
        self.parent: dict[int, tuple[int, str]] = {}
        self.root = -1
        for h, d, r in edges:
            if h == -1:
                self.root = d
                continue
            self.children.setdefault(h, []).append((d, r))
            self.parents.setdefault(d, []).append((h, r))
            self.parent[d] = (h, r)

    def tok(self, t: int) -> dict:
        return self.toks[t - self.off]

    def word(self, t: int) -> str:
        return self.words[t - self.off]

    def lemma(self, t: int) -> str:
        return self.lemmas[t - self.off]

    def kids(self, t: int, rel_prefix: str | None = None):
        """(dep, rel) children of ``t``; with ``rel_prefix``, only those
        whose relation is it or one of its subtypes."""
        if rel_prefix is None:
            yield from self.children.get(t, ())
            return
        sub = rel_prefix + ":"
        for d, r in self.children.get(t, ()):
            if r == rel_prefix or r.startswith(sub):
                yield d, r

    def first(self, t: int, rel: str) -> int | None:
        sub = rel + ":"
        for d, r in self.children.get(t, ()):
            if r == rel or r.startswith(sub):
                return d
        return None

    def gloss(self, tokens) -> str:
        return " ".join(self.word(t) for t in sorted(tokens))

    def subtree(self, t: int) -> set[int]:
        out, stack = {t}, [t]
        while stack:
            x = stack.pop()
            for d, _ in self.children.get(x, ()):
                if d not in out:
                    out.add(d)
                    stack.append(d)
        return out

    def descendants(self, t: int):
        stack = [t]
        seen = set()
        while stack:
            x = stack.pop()
            for d, _ in self.children.get(x, ()):
                if d not in seen:
                    seen.add(d)
                    yield d
                    stack.append(d)

    def ancestors(self, t: int):
        stack = [t]
        seen = set()
        while stack:
            x = stack.pop()
            for h, _ in self.parents.get(x, ()):
                if h not in seen:
                    seen.add(h)
                    yield h
                    stack.append(h)

    def reachable_in(self, t: int, lo: int, hi: int, down: bool) -> set[int]:
        """Nodes with SOME path of length in [lo, hi] from ``t`` (downward or
        upward) — LIMITED_GRANDKID/GRANDPARENT semantics."""
        adj = self.children if down else self.parents
        frontier = {t}
        hits: set[int] = set()
        for depth in range(1, hi + 1):
            nxt: set[int] = set()
            for x in frontier:
                for o, _ in adj.get(x, ()):
                    nxt.add(o)
            if depth >= lo:
                hits |= nxt
            frontier = nxt
            if not frontier:
                break
        return hits


def edges_by_sent(deps) -> dict[int, list[tuple[int, int, str]]]:
    """deps column entries → per-sentence (head, dep, rel) edge lists."""
    by_sent: dict[int, list] = {}
    for e in deps:
        by_sent.setdefault(e["sent_idx"], []).append((e["head"], e["dep"], e["rel"]))
    return by_sent


def sentence_graphs(tokens, sentences, deps) -> Iterator[tuple[dict, SentenceGraph]]:
    """One doc's (sentence, graph) pairs in sentence order; a sentence with
    no edges gets a graph without any. NULL ``tokens`` or ``sentences``
    yield nothing; NULL ``deps`` reads as no edges."""
    if tokens is None or sentences is None:
        return
    by_sent = edges_by_sent(deps) if deps is not None else {}
    for s in sentences:
        a = s["start_tok"]
        yield s, SentenceGraph(tokens[a:s["end_tok"]], by_sent.get(s["sent_idx"], []), a)


_NOMINAL = {"NN", "NNS", "NNP", "NNPS", "PRP", "CD", "WP"}
_CHUNKABLE = {"DT", "PRP$", "JJ", "JJR", "JJS", "CD", "NN", "NNS", "NNP", "NNPS", "POS"}
_BE = {"be", "is", "are", "was", "were", "am", "been", "being", "'s", "'re", "'m"}
_VERB = {"VB", "VBD", "VBG", "VBN", "VBP", "VBZ", "MD"}


_TEMPORAL_NER = {"DATE", "TIME"}


class _Clause:
    __slots__ = ("edges", "words", "pos", "lemma", "ner", "n")

    def __init__(self, words, pos, lemma, ner=None):
        self.words, self.pos, self.lemma = words, pos, lemma
        self.ner = ner or ["O"] * len(words)
        self.n = len(words)
        self.edges: dict[int, tuple[int, str]] = {}

    def attach(self, dep: int, head: int, rel: str):
        if dep not in self.edges and dep != head:
            self.edges[dep] = (head, rel)


def _chunk_nps(c: _Clause) -> list[tuple[int, int, int]]:
    """Return NP chunks as (start, end_exclusive, head_idx); attach intra-chunk edges."""
    chunks = []
    i = 0
    while i < c.n:
        p = c.pos[i]
        if p == "PRP" or p in ("WP", "EX"):
            chunks.append((i, i + 1, i))
            i += 1
            continue
        if p in _CHUNKABLE and p != "POS":
            j = i
            while j < c.n:
                if c.pos[j] not in _CHUNKABLE:
                    # "January 20, 2009": comma stays inside a DATE chunk
                    if (c.words[j] == "," and i < j < c.n - 1
                            and c.ner[j - 1] in _TEMPORAL_NER and c.ner[j + 1] in _TEMPORAL_NER):
                        j += 1
                        continue
                    # NP-internal adjective coordination: "the 44th and
                    # current President" — CC between two adjectives stays
                    # inside the chunk (UD: both amod the same head)
                    if (c.pos[j] == "CC" and j > i and j + 1 < c.n
                            and c.pos[j - 1] in ("JJ", "JJR", "JJS")
                            and c.pos[j + 1] in ("JJ", "JJR", "JJS")):
                        j += 1
                        continue
                    break
                # NER-aware split: a DATE/TIME run never merges with a
                # following non-temporal token and vice versa (keeps fronted
                # temporal PPs out of subject NPs, cf. OpenIEITest GeorgeBoyd)
                k = j - 1
                while k > i and c.words[k] == ",":
                    k -= 1
                if j > i and (c.ner[j] in _TEMPORAL_NER) != (c.ner[k] in _TEMPORAL_NER):
                    break
                j += 1
            # head = last nominal in [i, j)
            head = None
            for k in range(j - 1, i - 1, -1):
                if c.pos[k] in _NOMINAL and c.pos[k] != "PRP":
                    head = k
                    break
            if head is None:
                i = j
                continue
            for k in range(i, j):
                if k == head:
                    continue
                pk = c.pos[k]
                if pk == "DT":
                    c.attach(k, head, "det")
                elif pk in ("JJ", "JJR", "JJS"):
                    c.attach(k, head, "amod")
                elif pk == "CD":
                    c.attach(k, head, "nummod")
                elif pk == "CC":
                    c.attach(k, head, "cc")
                elif pk == "POS":
                    # IBM 's research group → case('s→IBM), nmod:poss(IBM→group)
                    if k > i:
                        c.attach(k, k - 1, "case")
                elif pk in _NOMINAL:
                    if k + 1 < j and c.pos[k + 1] == "POS":
                        c.attach(k, head, "nmod:poss")
                    elif k < head:
                        # compound run: attach to the next nominal (flat-left)
                        c.attach(k, head, "compound")
                    else:
                        c.attach(k, head, "compound")
            chunks.append((i, j, head))
            i = j
        else:
            i += 1
    return chunks


def _verb_groups(c: _Clause) -> list[tuple[int, int, int, bool, bool]]:
    """(start, end, head, is_passive, is_copula_candidate) for runs of verbs."""
    groups = []
    i = 0
    while i < c.n:
        if c.pos[i] in _VERB:
            j = i
            toks = []
            while j < c.n and (c.pos[j] in _VERB or (c.pos[j] == "RB" and j + 1 < c.n and c.pos[j + 1] in _VERB)):
                if c.pos[j] in _VERB:
                    toks.append(j)
                j += 1
            head = toks[-1]
            is_pass = (
                len(toks) > 1
                and c.pos[head] == "VBN"
                and any(c.lemma[t] == "be" for t in toks[:-1])
            )
            is_cop = all(c.lemma[t] == "be" for t in toks)
            groups.append((i, j, head, is_pass, is_cop))
            i = j
        else:
            i += 1
    return groups


def parse_clause(c: _Clause, lo: int, hi: int, chunks, vgs) -> int:
    """Parse token range [lo,hi) → return clause root (local idx). Attaches edges."""
    my_chunks = [ch for ch in chunks if lo <= ch[0] and ch[1] <= hi]
    my_vgs = [g for g in vgs if lo <= g[0] and g[1] <= hi]

    # embedded clause: mark 'that'/'because'/'if' + its own verb
    emb_root = None
    emb_lo = None
    for t in range(lo, hi):
        if c.lemma[t] in ("that", "because", "if", "whether") and c.pos[t] in ("IN", "DT") \
                and any(g[0] > t for g in my_vgs) and any(ch[0] < t for ch in my_chunks):
            emb_lo = t
            break
    if emb_lo is not None:
        emb_root = parse_clause(
            c, emb_lo + 1, hi,
            [ch for ch in chunks if ch[0] > emb_lo],
            [g for g in vgs if g[0] > emb_lo],
        )
        if emb_root is not None:
            c.attach(emb_lo, emb_root, "mark")
        hi = emb_lo
        my_chunks = [ch for ch in my_chunks if ch[1] <= hi]
        my_vgs = [g for g in my_vgs if g[1] <= hi]

    # clause coordination: "X worked as A and taught B at C" — each later verb
    # group opens its own segment (bounded at the CC/comma before it); the
    # segment roots conjoin to the first clause root (UD conj + cc)
    if len(my_vgs) > 1:
        bounds = []
        for g in my_vgs[1:]:
            b = g[0]
            t = g[0] - 1
            while t > lo and c.pos[t] == "RB":
                t -= 1
            if t > lo and (c.pos[t] == "CC" or c.words[t] == ","):
                b = t
            else:
                # the later verb's own subject NP belongs to ITS segment:
                # "Born in Honolulu, [Obama is a graduate…]" — walk back over
                # the chunk ending at t, then require the CC/comma boundary
                ch = next((x for x in my_chunks if x[1] - 1 == t), None)
                if ch is not None:
                    t2 = ch[0] - 1
                    while t2 > lo and c.pos[t2] == "RB":
                        t2 -= 1
                    if t2 > lo and (c.pos[t2] == "CC" or c.words[t2] == ","):
                        b = ch[0]
            bounds.append((b, g))
        root0 = parse_clause(c, lo, bounds[0][0], chunks, [my_vgs[0]])
        for i, (b, g) in enumerate(bounds):
            hi_k = bounds[i + 1][0] if i + 1 < len(bounds) else hi
            rk = parse_clause(c, b, hi_k, chunks, [g])
            if root0 is not None and rk is not None and rk != root0:
                c.attach(rk, root0, "conj")
                if c.pos[b] == "CC":
                    c.attach(b, rk, "cc")
        if emb_root is not None and root0 is not None:
            c.attach(emb_root, root0, "ccomp")
        return root0

    root = None
    if not my_vgs:
        root = my_chunks[0][2] if my_chunks else None
        if root is not None:
            for _, _, h in my_chunks[1:]:
                pass  # handled by prep/conj pass below
    else:
        vstart, vend, vhead, is_pass, is_cop = my_vgs[0]
        # copula: root = predicate (next chunk head or JJ after VG)
        pred = None
        if is_cop:
            for ch in my_chunks:
                if ch[0] >= vend and (ch[0] == vend or all(c.pos[t] not in ("IN", "TO") for t in range(vend, ch[0]))):
                    pred = ch[2]
                    break
            if pred is None:
                for t in range(vend, hi):
                    if c.pos[t] in ("JJ", "JJR", "JJS"):
                        pred = t
                        break
        if pred is not None:
            root = pred
            c.attach(vhead, root, "cop")
            for t in range(vstart, vend):
                if t != vhead and c.pos[t] in _VERB:
                    c.attach(t, root, "aux")
        else:
            root = vhead
            for t in range(vstart, vend):
                if t == vhead:
                    continue
                if c.pos[t] in _VERB:
                    c.attach(t, root, "aux:pass" if is_pass and c.lemma[t] == "be" else "aux")
                elif c.pos[t] == "RB":
                    c.attach(t, root, "advmod")
        # subject: last chunk before the verb group; for a conjoined subject
        # NP ("Tom and Jerry have...") the FIRST conjunct is the UD head —
        # attach conj(first→later) and make the first conjunct the nsubj
        subj = None
        pre = [ch for ch in my_chunks if ch[1] <= vstart]
        if len(pre) >= 2:
            cc_between = all(
                any(c.pos[t] == "CC" or c.words[t] == ","
                    for t in range(pre[k][1], pre[k + 1][0]))
                for k in range(len(pre) - 1)
            ) and any(c.pos[t] == "CC" for t in range(pre[0][1], vstart))
            if cc_between:
                subj = pre[0]
                for later in pre[1:]:
                    c.attach(later[2], pre[0][2], "conj")
                for t in range(pre[0][1], vstart):
                    if c.pos[t] == "CC":
                        c.attach(t, pre[-1][2], "cc")
        if subj is None:
            for ch in pre:
                subj = ch
        if subj is not None:
            if c.pos[subj[2]] == "EX" or c.words[subj[2]].lower() == "there":
                c.attach(subj[2], root, "expl")
                # existential: real subject is the post-verbal chunk
                for ch in my_chunks:
                    if ch[0] >= vend:
                        c.attach(ch[2], root, "nsubj")
                        break
            else:
                c.attach(subj[2], root, "nsubj:pass" if is_pass else "nsubj")
        # object: first chunk right after VG with no preposition between
        for ch in my_chunks:
            if ch[0] >= vend and ch[2] not in c.edges:
                gap = range(vend, ch[0])
                if all(c.pos[t] not in ("IN", "TO", "CC", ",") for t in gap):
                    if root != ch[2]:
                        c.attach(ch[2], root, "obj")
                break
        # conjoined verb groups: conj(v1, v2), shared-subject propagation is
        # done in OpenIE (cf. enhanced++ conj propagation)
        for g in my_vgs[1:]:
            r2 = g[2]
            if g[4]:  # copula vg: find its predicate
                for ch in my_chunks:
                    if ch[0] >= g[1]:
                        r2 = ch[2]
                        break
            c.attach(r2, root, "conj")
        # embedded complement
        if emb_root is not None:
            # governor: object noun if 'doubt that...' style, else the verb
            gov = root
            for ch in my_chunks:
                if ch[1] <= emb_lo and ch[2] != (subj[2] if subj else -1):
                    gov = ch[2]
            c.attach(emb_root, gov, "ccomp" if gov == root else "acl")
    if root is None:
        return None

    # prepositional attachment (with enhanced++ case collapse → nmod:<case>)
    covered = {t for ch in my_chunks for t in range(ch[0], ch[1])}
    for t in range(lo, hi):
        if c.pos[t] in ("IN", "TO") and c.lemma[t] not in ("that", "because", "if", "whether"):
            # find NP chunk or verb right after
            nxt = next((ch for ch in my_chunks if ch[0] == t + 1), None)
            if nxt is not None:
                c.attach(t, nxt[2], "case")
                # attachment point: 'of' attaches to the immediately-
                # preceding noun; other preps chain onto a FIRST-LEVEL nmod
                # noun ("joined on loan → from Peterborough United") but a
                # noun already two nmods deep bounces the PP back up to the
                # clause root ("…loan from Peterborough United | for the
                # remainder…", "…of Chicago Law School | from 1992…" — the
                # reference's parses attach those to the verb,
                # OpenIEITest.java:135-143,186-199)
                attach = root
                prev_ch = next((ch for ch in my_chunks if ch[1] == t), None)
                if prev_ch is not None:
                    prev_head, prev_rel = c.edges.get(prev_ch[2], (None, ""))
                    if c.lemma[t] == "of":
                        attach = prev_ch[2]
                    elif prev_rel.startswith("nmod"):
                        gp_rel = c.edges.get(prev_head, (None, ""))[1] \
                            if prev_head is not None else ""
                        if not gp_rel.startswith("nmod"):
                            attach = prev_ch[2]
                if attach != nxt[2]:
                    c.attach(nxt[2], attach, f"nmod:{c.lemma[t]}")
            elif c.pos[t] == "TO" and t + 1 < hi and c.pos[t + 1] == "VB":
                c.attach(t, t + 1, "mark")
                c.attach(t + 1, root, "xcomp")
    # NP-NP conjunction + leftovers
    for t in range(lo, hi):
        if c.pos[t] == "CC":
            left = next((ch for ch in reversed(my_chunks) if ch[1] <= t), None)
            right = next((ch for ch in my_chunks if ch[0] > t), None)
            if left and right and right[2] not in c.edges:
                c.attach(right[2], left[2], "conj")
                c.attach(t, right[2], "cc")
            elif right:
                c.attach(t, right[2], "cc")
        elif c.pos[t] == "RB" and t not in c.edges:
            c.attach(t, root, "advmod")
    # apposition: "<NP> , <NP>" with matching NER and the second unattached
    # ("Honolulu, Hawaii") → appos(first → second)
    for i in range(1, len(my_chunks)):
        prev, cur = my_chunks[i - 1], my_chunks[i]
        if cur[2] in c.edges or prev[2] not in c.edges:
            continue
        between = range(prev[1], cur[0])
        if len(between) == 1 and c.words[between[0]] == "," \
                and c.ner[prev[2]] != "O" and c.ner[prev[2]] == c.ner[cur[2]]:
            c.attach(cur[2], prev[2], "appos")
    for ch in my_chunks:
        if ch[2] != root and ch[2] not in c.edges:
            c.attach(ch[2], root, "dep")
    return root


# multiword prepositions (UniversalEnglishGrammaticalStructure.java:
# 1486-1506 TWO_WORD_PREPS_REGULAR / THREE_WORD_PREPS, plus the standard UD
# fixed expressions because_of / due_to / according_to / instead_of that the
# reference handles upstream in its parser training data)
TWO_WORD_PREPS: frozenset[str] = frozenset({
    "across_from", "along_with", "alongside_of", "apart_from", "as_for",
    "as_from", "as_of", "as_per", "as_to", "aside_from", "based_on",
    "close_by", "close_to", "contrary_to", "compared_to", "compared_with",
    "depending_on", "except_for", "exclusive_of", "far_from", "followed_by",
    "inside_of", "irrespective_of", "next_to", "near_to", "off_of", "out_of",
    "outside_of", "owing_to", "preliminary_to", "preparatory_to",
    "previous_to", "prior_to", "pursuant_to", "regardless_of",
    "subsequent_to", "thanks_to", "together_with",
    "because_of", "due_to", "according_to", "instead_of", "ahead_of",
})
THREE_WORD_PREPS: frozenset[str] = frozenset({
    "by_means_of", "in_accordance_with", "in_addition_to", "in_case_of",
    "in_front_of", "in_lieu_of", "in_place_of", "in_spite_of",
    "on_account_of", "on_behalf_of", "on_top_of", "with_regard_to",
    "with_respect_to",
})
# quantificational modifiers (same file :1782-1795 QUANT_MOD patterns)
_QUANT_2W: frozenset[str] = frozenset({
    "lots", "many", "several", "plenty", "tons", "dozens", "multitudes",
    "mountains", "loads", "pairs", "tens", "hundreds", "thousands",
    "millions", "billions", "trillions", "some", "all", "both", "neither",
})
_QUANT_3W: frozenset[str] = frozenset({
    "lot", "assortment", "number", "couple", "bunch", "handful", "litany",
    "sheaf", "slew", "dozen", "series", "variety", "multitude", "wad",
    "clutch", "wave", "mountain", "array", "spate", "string", "ton",
    "range", "plethora", "heap", "sort", "form", "kind", "type", "version",
    "bit", "pair", "triple", "total",
})


# r6 trigger gates: every structural pass below requires a sentence-level
# trigger word, so sentences without one skip the pass scans entirely
# (identical output — the passes are membership-guarded no-ops without it).
_PREP_FIRST: frozenset[str] = frozenset(
    p.split("_", 1)[0] for p in TWO_WORD_PREPS
) | frozenset(p.split("_", 1)[0] for p in THREE_WORD_PREPS)
_QUANT_ALL: frozenset[str] = _QUANT_2W | _QUANT_3W


def enhance_edges(
    words: list[str], pos: list[str], edges: list[tuple[int, int, str]],
) -> list[tuple[int, int, str]]:
    """Enhanced++ rewrites that operate on the finished edge list (applied
    after BOTH parser paths — the same post-parse order as
    ``UniversalEnglishGrammaticalStructure.addEnhancements``):

    1. multiword prepositions → flat MWE: "because of the rain" becomes
       ``nmod:because_of`` with case(rain→because) + fixed(because→of);
       three-word preps ("in front of") re-head the true object under the
       matrix governor (processMultiwordPreps, :1555-1700).
    2. quantificational-modifier demotion: "Millions of people attended"
       demotes the quantity noun so "people" carries the nsubj and the
       quantifier hangs off it as ``dep``
       (demoteQuantificationalModifiers, :1799-1868).

    IDEMPOTENT: a tree already in enhanced form (a gold tree, or a decode
    that reproduced one — whose case+fixed MWE shape ``_resubtype_nmod``
    just relabeled to the bare first word) only gets its ``nmod:`` subtype
    restored, never a second structural rewrite.
    """
    lower = [w.lower() for w in words]
    has_prep = any(w in _PREP_FIRST for w in lower)
    has_quant = any(w in _QUANT_ALL
                    or (w.endswith("s") and w[:-1].isdigit()) for w in lower)
    parent: dict[int, tuple[int, str]] = {}
    if not has_prep and not has_quant:
        for h, d, r in edges:
            parent[d] = (h, r)
        return [(h, d, r) for d, (h, r) in sorted(parent.items())]
    kids: dict[int, list[tuple[int, str]]] = {}
    for h, d, r in edges:
        parent[d] = (h, r)
        kids.setdefault(h, []).append((d, r))

    def case_child(t: int):
        for d, r in kids.get(t, ()):
            if r == "case":
                return d
        return None

    # dep → (head, rel): the (single) edge each token hangs from
    emap: dict[int, tuple[int, str]] = dict(parent)
    structurally_done: set[int] = set()

    # --- idempotence: already-MWE'd case phrase → restore the subtype ----
    for d in (list(emap) if has_prep else ()):
        h, r = emap[d]
        if not r.startswith("nmod") or r == "nmod:poss":
            continue
        c = case_child(d)
        if c is None:
            continue
        fixed = sorted(dd for dd, rr in kids.get(c, ()) if rr == "fixed")
        if not fixed:
            continue
        phrase = "_".join(lower[t] for t in [c] + fixed)
        if phrase in TWO_WORD_PREPS or phrase in THREE_WORD_PREPS:
            emap[d] = (h, f"nmod:{phrase}")
            structurally_done.update([d, c, *fixed])

    # --- three-word preps: gov —rel→ w2(front) —nmod→ g2(house) ----------
    for w2 in (list(kids) if has_prep else ()):
        if w2 < 0 or w2 in structurally_done or w2 not in emap:
            continue
        w1 = case_child(w2)
        if w1 is None or w1 + 1 != w2:
            continue
        for g2, r in kids.get(w2, ()):
            if not r.startswith("nmod") or g2 in structurally_done:
                continue
            w3 = case_child(g2)
            if w3 is None or w3 != w2 + 1:
                continue
            trigram = f"{lower[w1]}_{lower[w2]}_{lower[w3]}"
            if trigram not in THREE_WORD_PREPS:
                continue
            gov, _gr = emap[w2]
            emap[g2] = (gov, f"nmod:{trigram}")
            emap[w1] = (g2, "case")
            emap[w2] = (w1, "fixed")
            emap[w3] = (w1, "fixed")
            structurally_done.update([w1, w2, w3, g2])
            break

    # --- two-word preps: case child c of nominal d, preceded by w1 -------
    for d in (list(emap) if has_prep else ()):
        h, r = emap[d]
        if d in structurally_done or not r.startswith("nmod") or r == "nmod:poss":
            continue
        c = case_child(d)
        if c is None or c == 0 or c in structurally_done:
            continue
        w1 = c - 1
        if w1 in structurally_done or w1 not in emap:
            continue
        bigram = f"{lower[w1]}_{lower[c]}"
        if bigram not in TWO_WORD_PREPS:
            continue
        if emap[w1][1] not in ("advmod", "case", "mark", "dep", "fixed", "amod"):
            continue
        emap[d] = (h, f"nmod:{bigram}")
        emap[w1] = (d, "case")
        emap[c] = (w1, "fixed")
        structurally_done.update([d, c, w1])

    # --- quantmod demotion -----------------------------------------------
    for q in (list(emap) if has_quant else ()):
        h, r = emap[q]
        if q in structurally_done or r.split(":")[0] not in (
                "nsubj", "obj", "iobj", "root"):
            continue
        is_2w = lower[q] in _QUANT_2W or (lower[q].endswith("s")
                                          and lower[q][:-1].isdigit())
        is_3w = lower[q] in _QUANT_3W and any(
            rr == "det" and lower[dd] in ("a", "an")
            for dd, rr in kids.get(q, ()))
        if not (is_2w or is_3w):
            continue
        gov = None
        for dd, rr in kids.get(q, ()):
            if rr == "nmod:of" and (pos[dd].startswith("NN")
                                    or pos[dd].startswith("PRP")):
                gov = dd
                break
        if gov is None or gov in structurally_done:
            continue
        emap[gov] = (h, r)
        emap[q] = (gov, "dep")
        structurally_done.update([q, gov])

    return [(h, d, r) for d, (h, r) in sorted(emap.items())]


def parse_sentence(
    words: list[str], pos: list[str], lemma: list[str],
    ner: list[str] | None = None, model: str | None = None,
) -> list[tuple[int, int, str]]:
    """Parse one sentence → [(head, dep, rel)] with local indices; root head=-1.

    DEFAULT (model=None or "trained") is the trained arc-standard transition
    parser (models/parser.py — Chen & Manning transition system, perceptron
    scorer, trained on the hand-annotated gold treebank in
    data/gold_trees.py with rule-parser coverage augmentation; VERDICT r2 #1
    flipped this default). ``model="rule"`` selects the deterministic
    clause parser — kept as the distillation teacher and fallback."""
    if model != "rule":
        from corenlp_spark.models.parser import get_trained_parser

        return get_trained_parser().parse(words, pos)
    c = _Clause(words, pos, lemma, ner)
    chunks = _chunk_nps(c)
    vgs = _verb_groups(c)
    root = parse_clause(c, 0, c.n, chunks, vgs)
    edges = []
    if root is not None:
        edges.append((-1, root, "root"))
    for t in range(c.n):
        if t in c.edges:
            h, r = c.edges[t]
            edges.append((h, t, r))
        elif t != root:
            if pos[t] in (".", ",", ":", "``", "''", "-LRB-", "-RRB-", "$"):
                if root is not None:
                    edges.append((root, t, "punct"))
            elif root is not None:
                edges.append((root, t, "dep"))
    return enhance_edges(words, pos, edges)
