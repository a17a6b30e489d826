"""Trained arc-standard transition parser (Chen & Manning 2014 re-expressed).

Behavioral reference:
  - transition system SHIFT / LEFT-ARC(rel) / RIGHT-ARC(rel):
    ``parser/nndep/ArcStandard.java:68-102``;
  - feature positions (stack/buffer words + POS + arc labels of children):
    ``parser/nndep/DependencyParser.java:160-190`` — scored here by an
    averaged perceptron instead of the cube-activation net (same transition
    system, same feature positions, deterministic training);
  - greedy decode: ``DependencyParser.java:941,975``.

This model is the DEFAULT depparse path (r3 flipped it). Training signal,
in priority order (scripts/train_models.py):
  1. hand-annotated gold treebank (data/gold_trees.py — authored against
     the public UD guidelines, independent of any parser in this repo);
  2. template-frame trees whose structure is gold BY CONSTRUCTION
     (gold_trees.dep_corpus);
  3. rule-parser anchor trees for the OpenIE regression-suite sentences
     (extraction-validated quasi-gold), deduped against (1).
On a cluster the same trainer consumes any CoNLL-U treebank via
sources/conllu.read_conllu. Non-projective trees are filtered (arc-standard
derives only projective trees). Training uses exploration (Goldberg & Nivre
2012): later epochs follow the model's own greedy path and update against a
dynamic oracle, so the states inference visits are the states training saw.
``nmod:<case>`` subtypes are NOT classifier outputs — they are re-derived
from each nominal's case child after decode (_resubtype_nmod), the same
post-parse collapse the reference applies. The rule clause parser remains
selectable via ``model="rule"`` (distillation teacher / fallback).
"""

from __future__ import annotations

from collections import defaultdict

from corenlp_spark.models.perceptron import load_weights


def _features(stack: list[int], buffer: list[int], words, pos,
              head_of: dict[int, int], label_of: dict[int, str],
              kids_of: dict[int, list[int]] | None = None) -> list[str]:
    """Chen&Manning-style positions (DependencyParser.java:160-190 feature
    set re-expressed as discrete templates): s1..s3 / b1..b3 words+POS,
    leftmost/rightmost child word+POS+label of s1/s2, grandchild labels,
    valence (child counts), s1–s2 distance bucket, and conjunctions.

    ``kids_of`` may be passed in by a caller that maintains it
    incrementally (parse()); derived from ``head_of`` otherwise."""
    def w(i):
        return words[i].lower() if i is not None else "<null>"

    def p(i):
        return pos[i] if i is not None else "<null>"

    s1 = stack[-1] if len(stack) >= 1 else None
    s2 = stack[-2] if len(stack) >= 2 else None
    s3 = stack[-3] if len(stack) >= 3 else None
    b1 = buffer[0] if len(buffer) >= 1 else None
    b2 = buffer[1] if len(buffer) >= 2 else None
    b3 = buffer[2] if len(buffer) >= 3 else None

    if kids_of is None:
        kids_of = {}
        for d, hh in head_of.items():
            kids_of.setdefault(hh, []).append(d)

    def lc(h):
        k = kids_of.get(h)
        return min(k) if k else None

    def rc(h):
        k = kids_of.get(h)
        return max(k) if k else None

    def lab(i):
        return label_of.get(i, "<null>") if i is not None else "<null>"

    s1lc, s1rc, s2lc, s2rc = lc(s1), rc(s1), lc(s2), rc(s2)
    if s1 is not None and s2 is not None:
        dist = min(s1 - s2, 5)
    else:
        dist = 0
    nval1 = len(kids_of.get(s1, ())) if s1 is not None else -1
    nval2 = len(kids_of.get(s2, ())) if s2 is not None else -1

    # each position value computed exactly once (hot path: the per-template
    # w()/p() recalls were ~20% of inference before)
    ws1, ws2, wb1, wb2 = w(s1), w(s2), w(b1), w(b2)
    ps1, ps2, ps3, pb1 = p(s1), p(s2), p(s3), p(b1)
    return [
        f"s1w={ws1}", f"s1p={ps1}", f"s1wp={ws1}+{ps1}",
        f"s2w={ws2}", f"s2p={ps2}", f"s2wp={ws2}+{ps2}",
        f"s3p={ps3}",
        f"b1w={wb1}", f"b1p={pb1}", f"b1wp={wb1}+{pb1}",
        f"b2p={p(b2)}", f"b2w={wb2}", f"b3p={p(b3)}",
        f"s1p+s2p={ps1}+{ps2}", f"s1p+b1p={ps1}+{pb1}",
        f"s1w+s2w={ws1}+{ws2}", f"s1w+s2p={ws1}+{ps2}",
        f"s1p+s2w={ps1}+{ws2}", f"s2p+b1p={ps2}+{pb1}",
        f"s1p+s2p+b1p={ps1}+{ps2}+{pb1}",
        f"s1p+s2p+s3p={ps1}+{ps2}+{ps3}",
        f"s1lcl={lab(s1lc)}", f"s1rcl={lab(s1rc)}",
        f"s2lcl={lab(s2lc)}", f"s2rcl={lab(s2rc)}",
        f"s1lcp={p(s1lc)}", f"s1rcp={p(s1rc)}",
        f"s2lcp={p(s2lc)}", f"s2rcp={p(s2rc)}",
        f"s1lcw={w(s1lc)}", f"s2rcw={w(s2rc)}",
        f"s1lcl2={lab(lc(s1lc))}", f"s1rcl2={lab(rc(s1rc))}",
        f"s2rcl2={lab(rc(s2rc))}",
        f"s1p+s2p+dist={ps1}+{ps2}+{dist}",
        f"s1val={nval1}", f"s2val={nval2}",
        f"s2p+s2val={ps2}+{nval2}",
        "bias",
    ]


def _gold_transitions(n: int, gold_head: dict[int, int],
                      gold_label: dict[int, str]):
    """Static oracle: derive the transition sequence for a projective gold
    tree; returns None if the tree is non-projective/underivable."""
    stack: list[int] = []
    buffer = list(range(n))
    head_of: dict[int, int] = {}
    label_of: dict[int, str] = {}
    out = []
    n_deps = defaultdict(int)
    for d, h in gold_head.items():
        n_deps[h] += 1
    attached = defaultdict(int)
    while buffer or len(stack) > 1:
        s1 = stack[-1] if stack else None
        s2 = stack[-2] if len(stack) >= 2 else None
        act = None
        if s1 is not None and s2 is not None:
            if gold_head.get(s2) == s1:
                act = ("L", gold_label.get(s2, "dep"))
            elif gold_head.get(s1) == s2 and attached[s1] == n_deps[s1]:
                act = ("R", gold_label.get(s1, "dep"))
        if act is None:
            if not buffer:
                return None  # non-projective / broken
            act = ("S", "")
        out.append((list(stack), list(buffer), dict(head_of),
                    dict(label_of), act))
        kind, rel = act
        if kind == "S":
            stack.append(buffer.pop(0))
        elif kind == "L":
            head_of[s2] = s1
            label_of[s2] = rel
            attached[s1] += 1
            stack.pop(-2)
        else:
            head_of[s1] = s2
            label_of[s1] = rel
            attached[s2] += 1
            stack.pop()
    return out


class ArcStandardParser:
    """Averaged-perceptron-scored greedy arc-standard parser."""

    def __init__(self):
        self.weights: dict[str, dict[str, float]] = {}
        self.actions: list[str] = []
        self._W = None  # decode state, built by _ensure_batch_matrices

    def _score(self, feats):
        sc: dict[str, float] = defaultdict(float)
        for f in feats:
            by = self.weights.get(f)
            if by:
                for a, wt in by.items():
                    sc[a] += wt
        return sc

    def _ensure_batch_matrices(self):
        """Batched-decode precompute (SURVEY §2.2 depparse row: step all
        non-finished configurations per iteration): one dense (F+1, A)
        weight matrix over features × actions plus a zero row for unknown
        features — adding a zero row is bitwise-identical to skipping a
        missing feature. Actions are sorted DESCENDING so np.argmax's
        first-max rule reproduces the training-time dict scorer's
        (score, action-string) max tie-break. Every piece of decode state
        is derived here; ``train`` clears ``_W`` so the next decode
        rebuilds it.

        Also builds the feature-resolution caches — the analog of the
        reference's precomputed hidden-layer products for frequent features
        (``parser/nndep/DependencyParser.java:109,313``): feature STRINGS
        are only ever constructed once per distinct value; afterwards the
        row id is recovered from int-keyed memo dicts (POS/label ids) or
        per-sentence per-token arrays, never by rebuilding the string."""
        if self._W is not None:
            return
        import numpy as np

        acts = sorted(self.actions, reverse=True)
        self._acts_desc = acts
        aidx = {a: i for i, a in enumerate(acts)}
        feats = sorted(self.weights)
        self._fid = {f: i for i, f in enumerate(feats)}
        W = np.zeros((len(feats) + 1, len(acts)))
        for f, i in self._fid.items():
            for a, wt in self.weights[f].items():
                j = aidx.get(a)
                if j is not None:
                    W[i, j] += wt
        self._W = W
        self._zrow = len(feats)
        # additive legality masks: 0 where legal, -inf where not — one add
        # replaces a boolean where() per step
        arc = np.array([a[0] in ("L", "R") and a != "S|" for a in acts])
        shift = np.array([a == "S|" for a in acts])
        ninf = np.float64("-inf")
        self._pen_arc_only = np.where(arc, 0.0, ninf)
        self._pen_all = np.where(arc | shift, 0.0, ninf)
        # lazy id registries (bounded domains: POS tags, dependency labels)
        self._pid: dict[str, int] = {}
        self._pstr: list[str] = []        # pid → pos string
        self._lid: dict[str, int] = {"<null>": 0}
        self._lstr: list[str] = ["<null>"]
        # feature-row memos of the three word-pair templates, keyed by
        # (word, word), (word, pos id) and (pos id, word) tuples; the other
        # templates resolve through the _ftab arrays or per-token rows
        self._memo_s1w_s2w: dict[tuple, int] = {}
        self._memo_s1w_s2p: dict[tuple, int] = {}
        self._memo_s1p_s2w: dict[tuple, int] = {}
        # id tables indexed by the registries above, rebuilt with them
        self._ftab = None
        # (word, pos) → 19-row tuple; Zipfian token distribution makes the
        # hit rate ≈ 1 — capped so a pathological vocabulary cannot grow an
        # executor's memory without bound (beyond the cap, rows are built
        # per sentence as before)
        self._tokrow_cache: dict[tuple[str, str], tuple] = {}
        self._tokrow_cap = 500_000
        self._bias_row = self._fid.get("bias", self._zrow)
        self._null_tokrow = None  # filled by _tok_rows

    def _pos_id(self, p: str) -> int:
        i = self._pid.get(p)
        if i is None:
            i = len(self._pstr)
            self._pid[p] = i
            self._pstr.append(p)
        return i

    def _lab_id(self, r: str) -> int:
        i = self._lid.get(r)
        if i is None:
            i = len(self._lstr)
            self._lid[r] = i
            self._lstr.append(r)
        return i

    # per-token template names resolved once per sentence (the word/POS of a
    # token never changes during the parse) — template order is meaningful
    # only to _TOK_ROWS consumers, not to scoring
    _TOK_TMPLS = ("s1w", "s1p", "s1wp", "s2w", "s2p", "s2wp", "s3p",
                  "b1w", "b1p", "b1wp", "b2p", "b2w", "b3p",
                  "s1lcp", "s1rcp", "s2lcp", "s2rcp", "s1lcw", "s2rcw")

    def _tok_rows(self, words, pos):
        """(n+1) × 19 row-id table; row n = the <null> position. Exactly the
        strings _features builds, each built once per distinct (word, pos)
        and cached across sentences."""
        fget = self._fid.get
        z = self._zrow
        cache = self._tokrow_cache
        under_cap = len(cache) < self._tokrow_cap
        out = []
        for t in range(len(words)):
            key = (words[t], pos[t])
            rows = cache.get(key)
            if rows is None:
                w = words[t].lower()
                p = pos[t]
                wp = f"{w}+{p}"
                rows = (
                    fget(f"s1w={w}", z), fget(f"s1p={p}", z),
                    fget(f"s1wp={wp}", z),
                    fget(f"s2w={w}", z), fget(f"s2p={p}", z),
                    fget(f"s2wp={wp}", z),
                    fget(f"s3p={p}", z),
                    fget(f"b1w={w}", z), fget(f"b1p={p}", z),
                    fget(f"b1wp={wp}", z),
                    fget(f"b2p={p}", z), fget(f"b2w={w}", z),
                    fget(f"b3p={p}", z),
                    fget(f"s1lcp={p}", z), fget(f"s1rcp={p}", z),
                    fget(f"s2lcp={p}", z), fget(f"s2rcp={p}", z),
                    fget(f"s1lcw={w}", z), fget(f"s2rcw={w}", z),
                )
                if under_cap:
                    cache[key] = rows
            out.append(rows)
        nul = self._null_tokrow
        if nul is None:
            nul = self._null_tokrow = (
                fget("s1w=<null>", z), fget("s1p=<null>", z),
                fget("s1wp=<null>+<null>", z),
                fget("s2w=<null>", z), fget("s2p=<null>", z),
                fget("s2wp=<null>+<null>", z),
                fget("s3p=<null>", z),
                fget("b1w=<null>", z), fget("b1p=<null>", z),
                fget("b1wp=<null>+<null>", z),
                fget("b2p=<null>", z), fget("b2w=<null>", z),
                fget("b3p=<null>", z),
                fget("s1lcp=<null>", z), fget("s1rcp=<null>", z),
                fget("s2lcp=<null>", z), fget("s2rcp=<null>", z),
                fget("s1lcw=<null>", z), fget("s2rcw=<null>", z),
            )
        out.append(nul)
        return out

    def parse(self, words: list[str], pos: list[str]) -> list[tuple[int, int, str]]:
        """→ [(head, dep, rel)] with root head = -1 (greedy decode with
        legality constraints, ArcStandard.canApply)."""
        return self.parse_batch([(words, pos)])[0]

    def _ensure_feature_tables(self, max_val: int):
        """Dense lazy-filled tables for the pos/label/valence-keyed dynamic
        templates (r6 vectorized decode): −1 = not yet resolved; a resolved
        cell holds exactly the id the f-string path returns (the feature-id
        lookup is deterministic), so fill order cannot change scores.
        Tables grow when the POS registry or the max valence grows; label
        ids are pre-registered from the action inventory so the label axis
        is fixed for a whole batch."""
        import numpy as np

        for a in self._acts_desc:
            k, _, rel = a.partition("|")
            if k in ("L", "R") and rel:
                self._lab_id(rel)
        NP = len(self._pstr)
        NL = len(self._lstr)
        VC = max_val
        t = self._ftab
        if t is not None and t["NP"] >= NP and t["NL"] >= NL \
                and t["VC"] >= VC:
            return t
        if t is not None:
            NP = max(NP, t["NP"])
            NL = max(NL, t["NL"])
            VC = max(VC, t["VC"])
        pstr, lstr = self._pstr, self._lstr
        new = {
            "NP": NP, "NL": NL, "VC": VC,
            "T13": np.full((NP, NP), -1, np.int64),
            "T14": np.full((NP, NP), -1, np.int64),
            "T18": np.full((NP, NP), -1, np.int64),
            "T19": np.full((NP, NP, NP), -1, np.int64),
            "T20": np.full((NP, NP, NP), -1, np.int64),
            "T21": np.full(NL, -1, np.int64),
            "T22": np.full(NL, -1, np.int64),
            "T23": np.full(NL, -1, np.int64),
            "T24": np.full(NL, -1, np.int64),
            "T31": np.full(NL, -1, np.int64),
            "T32": np.full(NL, -1, np.int64),
            "T33": np.full(NL, -1, np.int64),
            "T34": np.full((NP, NP, 6), -1, np.int64),
            "T35": np.full(VC, -1, np.int64),
            "T36": np.full(VC, -1, np.int64),
            "T37": np.full((VC, NP), -1, np.int64),
            "fmt": {
                "T13": lambda a, b: f"s1p+s2p={pstr[a]}+{pstr[b]}",
                "T14": lambda a, b: f"s1p+b1p={pstr[a]}+{pstr[b]}",
                "T18": lambda a, b: f"s2p+b1p={pstr[a]}+{pstr[b]}",
                "T19": lambda a, b, c:
                    f"s1p+s2p+b1p={pstr[a]}+{pstr[b]}+{pstr[c]}",
                "T20": lambda a, b, c:
                    f"s1p+s2p+s3p={pstr[a]}+{pstr[b]}+{pstr[c]}",
                "T21": lambda l: f"s1lcl={lstr[l]}",
                "T22": lambda l: f"s1rcl={lstr[l]}",
                "T23": lambda l: f"s2lcl={lstr[l]}",
                "T24": lambda l: f"s2rcl={lstr[l]}",
                "T31": lambda l: f"s1lcl2={lstr[l]}",
                "T32": lambda l: f"s1rcl2={lstr[l]}",
                "T33": lambda l: f"s2rcl2={lstr[l]}",
                "T34": lambda a, b, d:
                    f"s1p+s2p+dist={pstr[a]}+{pstr[b]}+{d}",
                "T35": lambda v: f"s1val={v}",
                "T36": lambda v: f"s2val={v}",
                "T37": lambda v, p: f"s2p+s2val={pstr[p]}+{v}",
            },
        }
        if t is not None:
            for k, arr in new.items():
                if k in ("NP", "NL", "VC", "fmt"):
                    continue
                old = t[k]
                arr[tuple(slice(0, s) for s in old.shape)] = old
        self._ftab = new
        return new

    def _tab_fill1(self, T, i, fmt):
        import numpy as np

        v = T[i]
        if (v < 0).any():
            fget, z = self._fid.get, self._zrow
            for r in np.nonzero(v < 0)[0].tolist():
                a = int(i[r])
                if T[a] < 0:
                    T[a] = fget(fmt(a), z)
                v[r] = T[a]
        return v

    def _tab_fill2(self, T, i, j, fmt):
        import numpy as np

        v = T[i, j]
        if (v < 0).any():
            fget, z = self._fid.get, self._zrow
            for r in np.nonzero(v < 0)[0].tolist():
                a, b = int(i[r]), int(j[r])
                if T[a, b] < 0:
                    T[a, b] = fget(fmt(a, b), z)
                v[r] = T[a, b]
        return v

    def _tab_fill3(self, T, i, j, k, fmt):
        import numpy as np

        v = T[i, j, k]
        if (v < 0).any():
            fget, z = self._fid.get, self._zrow
            for r in np.nonzero(v < 0)[0].tolist():
                a, b, c = int(i[r]), int(j[r]), int(k[r])
                if T[a, b, c] < 0:
                    T[a, b, c] = fget(fmt(a, b, c), z)
                v[r] = T[a, b, c]
        return v

    def parse_batch(self, sents: list[tuple[list[str], list[str]]]
                    ) -> list[list[tuple[int, int, str]]]:
        """Greedy arc-standard decode of MANY sentences together: every
        iteration advances every non-finished configuration with ONE numpy
        score over the whole batch (the cross-sentence batching the
        reference gets from ``DependencyParser.java:941,975`` batch predict;
        VERDICT r3 #1). r6: feature RESOLUTION is vectorized too — per-token
        rows, pos ids, child extents/valences and arc labels live in flat
        numpy arrays indexed by per-sentence base offsets, and the dynamic
        pos/label/valence templates resolve through dense lazy-filled
        tables; only the three word-pair memos and the transition
        application remain per-configuration Python. This is the parser's
        only inference decoder; a configuration's result does not depend on
        the other sentences of the batch (feature order, float-add order —
        39 sequential adds, bias last — penalty adds and first-max
        tie-break are fixed per configuration)."""
        import numpy as np

        self._ensure_batch_matrices()
        W, acts = self._W, self._acts_desc
        n_out: list[list[tuple[int, int, str]] | None] = [None] * len(sents)

        class _Cfg:
            __slots__ = ("i", "n", "words", "pos", "wl", "pids", "stack",
                         "bp", "head_of", "label_of", "steps", "base")

        pos_id = self._pos_id
        null_pid = pos_id("<null>")
        cfgs: list[_Cfg] = []
        for i, (words, pos) in enumerate(sents):
            if not words:
                n_out[i] = []
                continue
            c = _Cfg()
            c.i, c.n, c.words, c.pos = i, len(words), words, pos
            c.wl = [w.lower() for w in words]
            c.pids = [pos_id(p) for p in pos]
            c.stack, c.bp = [], 0
            c.head_of, c.label_of = {}, {}
            c.steps = 0
            cfgs.append(c)
        if not cfgs:
            return n_out

        # flat per-token state: one row per token plus a sentinel <null>
        # row per sentence at base+n (PID there = <null>, labels/children 0)
        tot = 0
        for c in cfgs:
            c.base = tot
            tot += c.n + 1
        trflat: list[int] = []
        pidflat: list[int] = []
        for c in cfgs:
            for row in self._tok_rows(c.words, c.pos):
                trflat.extend(row)
            pidflat.extend(c.pids)
            pidflat.append(null_pid)
        TR = np.fromiter(trflat, np.int64, tot * 19).reshape(tot, 19)
        PID = np.fromiter(pidflat, np.int64, tot)
        KMIN = np.full(tot, -1, np.int64)   # leftmost child per token
        KMAX = np.full(tot, -1, np.int64)   # rightmost child per token
        KN = np.zeros(tot, np.int64)        # valence per token
        LAB = np.zeros(tot, np.int64)       # arc label id (0 = <null>)

        tab = self._ensure_feature_tables(max(c.n for c in cfgs) + 2)
        fmt = tab["fmt"]
        T13, T14, T18 = tab["T13"], tab["T14"], tab["T18"]
        T19, T20, T34 = tab["T19"], tab["T20"], tab["T34"]
        T21, T22, T23, T24 = tab["T21"], tab["T22"], tab["T23"], tab["T24"]
        T31, T32, T33 = tab["T31"], tab["T32"], tab["T33"]
        T35, T36, T37 = tab["T35"], tab["T36"], tab["T37"]
        fill1, fill2, fill3 = self._tab_fill1, self._tab_fill2, self._tab_fill3
        pstr = self._pstr
        fget = self._fid.get
        z = self._zrow
        lab_id = self._lab_id
        bias_row = W[self._bias_row]
        m15, m16, m17 = (self._memo_s1w_s2w, self._memo_s1w_s2p,
                         self._memo_s1p_s2w)
        i64 = np.int64

        active = cfgs
        while active:
            # advance forced shifts / retire finished configs without scoring
            need: list[_Cfg] = []
            for c in active:
                while True:
                    if not (c.bp < c.n or len(c.stack) > 1) \
                            or c.steps >= 4 * c.n + 8:
                        n_out[c.i] = self._finalize(c.words, c.pos, c.n,
                                                    c.stack, c.head_of,
                                                    c.label_of)
                        break
                    if len(c.stack) < 2:
                        c.steps += 1
                        c.stack.append(c.bp)
                        c.bp += 1
                        continue
                    need.append(c)
                    break
            active = need
            if not active:
                break
            C = len(active)
            l_s1 = []
            l_s2 = []
            l_s3 = []
            l_b1 = []
            l_b2 = []
            l_b3 = []
            l_d = []
            l_ne = []
            l_base = []
            l_null = []
            l_f15 = []
            l_f16 = []
            l_f17 = []
            for c in active:
                c.steps += 1
                stack = c.stack
                n, g, bp = c.n, c.base, c.bp
                s1 = stack[-1]
                s2 = stack[-2]
                l_s1.append(g + s1)
                l_s2.append(g + s2)
                l_s3.append(g + (stack[-3] if len(stack) >= 3 else n))
                l_b1.append(g + (bp if bp < n else n))
                l_b2.append(g + (bp + 1 if bp + 1 < n else n))
                l_b3.append(g + (bp + 2 if bp + 2 < n else n))
                d = s1 - s2
                l_d.append(d if d < 5 else 5)
                l_ne.append(bp < n)
                l_base.append(g)
                l_null.append(g + n)
                wl, pids = c.wl, c.pids
                ws1, ws2 = wl[s1], wl[s2]
                p1s, p2s = pids[s1], pids[s2]
                key = (ws1, ws2)
                f15 = m15.get(key)
                if f15 is None:
                    f15 = fget(f"s1w+s2w={ws1}+{ws2}", z)
                    if len(m15) < 500_000:
                        m15[key] = f15
                key = (ws1, p2s)
                f16 = m16.get(key)
                if f16 is None:
                    f16 = fget(f"s1w+s2p={ws1}+{pstr[p2s]}", z)
                    if len(m16) < 500_000:
                        m16[key] = f16
                key = (p1s, ws2)
                f17 = m17.get(key)
                if f17 is None:
                    f17 = fget(f"s1p+s2w={pstr[p1s]}+{ws2}", z)
                    if len(m17) < 500_000:
                        m17[key] = f17
                l_f15.append(f15)
                l_f16.append(f16)
                l_f17.append(f17)
            gs1 = np.fromiter(l_s1, i64, C)
            gs2 = np.fromiter(l_s2, i64, C)
            gs3 = np.fromiter(l_s3, i64, C)
            gb1 = np.fromiter(l_b1, i64, C)
            gb2 = np.fromiter(l_b2, i64, C)
            gb3 = np.fromiter(l_b3, i64, C)
            dist = np.fromiter(l_d, i64, C)
            gbase = np.fromiter(l_base, i64, C)
            gnull = np.fromiter(l_null, i64, C)
            bufne = np.fromiter(l_ne, bool, C)
            p1 = PID[gs1]
            p2 = PID[gs2]
            p3 = PID[gs3]
            pb1 = PID[gb1]
            lc1 = KMIN[gs1]
            rc1 = KMAX[gs1]
            lc2 = KMIN[gs2]
            rc2 = KMAX[gs2]
            nv1 = KN[gs1]
            nv2 = KN[gs2]
            # child rows (sentinel row when absent: PID/LAB/KMIN there are
            # null/0/−1, matching the scalar path's None handling)
            glc1 = np.where(lc1 >= 0, gbase + lc1, gnull)
            grc1 = np.where(rc1 >= 0, gbase + rc1, gnull)
            glc2 = np.where(lc2 >= 0, gbase + lc2, gnull)
            grc2 = np.where(rc2 >= 0, gbase + rc2, gnull)
            l1l = LAB[glc1]
            l1r = LAB[grc1]
            l2l = LAB[glc2]
            l2r = LAB[grc2]
            gg1l = KMIN[glc1]
            gg1r = KMAX[grc1]
            gg2r = KMAX[grc2]
            g1l = np.where(gg1l >= 0, LAB[gbase + np.maximum(gg1l, 0)], 0)
            g1r = np.where(gg1r >= 0, LAB[gbase + np.maximum(gg1r, 0)], 0)
            g2r = np.where(gg2r >= 0, LAB[gbase + np.maximum(gg2r, 0)], 0)
            cols = (
                TR[gs1, 0], TR[gs1, 1], TR[gs1, 2],
                TR[gs2, 3], TR[gs2, 4], TR[gs2, 5],
                TR[gs3, 6],
                TR[gb1, 7], TR[gb1, 8], TR[gb1, 9],
                TR[gb2, 10], TR[gb2, 11], TR[gb3, 12],
                fill2(T13, p1, p2, fmt["T13"]),
                fill2(T14, p1, pb1, fmt["T14"]),
                np.fromiter(l_f15, i64, C),
                np.fromiter(l_f16, i64, C),
                np.fromiter(l_f17, i64, C),
                fill2(T18, p2, pb1, fmt["T18"]),
                fill3(T19, p1, p2, pb1, fmt["T19"]),
                fill3(T20, p1, p2, p3, fmt["T20"]),
                fill1(T21, l1l, fmt["T21"]),
                fill1(T22, l1r, fmt["T22"]),
                fill1(T23, l2l, fmt["T23"]),
                fill1(T24, l2r, fmt["T24"]),
                TR[glc1, 13], TR[grc1, 14], TR[glc2, 15], TR[grc2, 16],
                TR[glc1, 17], TR[grc2, 18],
                fill1(T31, g1l, fmt["T31"]),
                fill1(T32, g1r, fmt["T32"]),
                fill1(T33, g2r, fmt["T33"]),
                fill3(T34, p1, p2, dist, fmt["T34"]),
                fill1(T35, nv1, fmt["T35"]),
                fill1(T36, nv2, fmt["T36"]),
                fill2(T37, nv2, p2, fmt["T37"]),
            )
            S = W[cols[0]].copy()
            for col in cols[1:]:
                S += W[col]
            S += bias_row   # 39th feature — same position in the add order
            S += np.where(bufne[:, None], self._pen_all, self._pen_arc_only)
            best = S.argmax(axis=1)
            for r, c in enumerate(active):
                kind, rel = acts[int(best[r])].split("|", 1)
                stack = c.stack
                if kind == "S":
                    stack.append(c.bp)
                    c.bp += 1
                    continue
                if kind == "L":
                    d = stack[-2]
                    h = stack[-1]
                    del stack[-2]
                else:
                    d = stack[-1]
                    h = stack[-2]
                    stack.pop()
                c.head_of[d] = h
                c.label_of[d] = rel
                g = c.base
                LAB[g + d] = lab_id(rel)
                gh = g + h
                KN[gh] += 1
                if KMIN[gh] < 0 or d < KMIN[gh]:
                    KMIN[gh] = d
                if d > KMAX[gh]:
                    KMAX[gh] = d
        return n_out

    def _finalize(self, words, pos, n, stack, head_of, label_of):
        edges = []
        root = stack[0] if stack else 0
        edges.append((-1, root, "root"))
        for d in range(n):
            if d == root:
                continue
            if d in head_of:
                edges.append((head_of[d], d, label_of.get(d, "dep")))
            else:
                edges.append((root, d, "dep"))
        from corenlp_spark.operators.depparse import enhance_edges

        return enhance_edges(words, pos, self._resubtype_nmod(words, edges))

    @staticmethod
    def _resubtype_nmod(words, edges):
        """Re-derive ``nmod:<case>`` subtypes from each nominal's actual
        ``case`` child (UniversalEnglishGrammaticalStructure.java:211-268 —
        the collapse is a post-parse rewrite, so the transition classifier
        only learns the base ``nmod`` attachment, never the preposition
        identity it can simply read off the tree)."""
        case_of = {}
        any_nmod = False
        for h, d, r in edges:
            if r == "case" and h >= 0:
                case_of.setdefault(h, d)
            elif r[:4] == "nmod":
                any_nmod = True
        if not any_nmod:
            return edges  # no nmod edge → the loop below is an identity map
        out = []
        for h, d, r in edges:
            if r == "nmod" or (r.startswith("nmod:")
                               and r.split(":", 1)[1] not in ("poss", "tmod")):
                c = case_of.get(d)
                if c is not None:
                    w = words[c].lower()
                    r = "nmod:poss" if w in ("'s", "'") else f"nmod:{w}"
                elif ":" in r:
                    r = "nmod"
            out.append((h, d, r))
        return out

    @staticmethod
    def _oracle_action(stack, buffer, head_of, gold_head, gold_label, n_gold_deps):
        """Dynamic-oracle-style best action from an ARBITRARY state (not just
        states on the gold derivation — Goldberg & Nivre 2012 training-with-
        exploration discipline applied to arc-standard): LEFT/RIGHT when the
        top-two stack items form a gold arc whose dependent has collected all
        its still-reachable gold children; SHIFT otherwise."""
        s1 = stack[-1] if stack else None
        s2 = stack[-2] if len(stack) >= 2 else None
        if s1 is not None and s2 is not None:
            got1 = sum(1 for d, h in head_of.items() if h == s1)
            got2 = sum(1 for d, h in head_of.items() if h == s2)
            if gold_head.get(s2) == s1 and got2 == n_gold_deps.get(s2, 0):
                return ("L", gold_label.get(s2, "dep"))
            if gold_head.get(s1) == s2 and got1 == n_gold_deps.get(s1, 0) \
                    and not any(gold_head.get(b) == s1 for b in buffer):
                return ("R", gold_label.get(s1, "dep"))
        if buffer:
            return ("S", "")
        # terminal fallback: reduce with the gold (or generic) label
        if s1 is not None and s2 is not None:
            if gold_head.get(s2) == s1:
                return ("L", gold_label.get(s2, "dep"))
            return ("R", gold_label.get(s1, "dep"))
        return None

    def train(self, trees, epochs: int = 6, explore_after: int = 2):
        """trees: [(words, pos, edges)] with edges [(head, dep, rel)],
        head -1 = root. Deterministic, averaged.

        Epochs 1..explore_after follow the gold (static-oracle) path; later
        epochs follow the MODEL's greedy predictions and update against the
        dynamic oracle at every visited state — so training sees exactly the
        error states greedy inference will reach (the r2 static-only trainer
        could not fix inference-time drift on long sentences)."""
        acts = {"S|"}
        data = []

        def base(r):
            # collapse case-derived nmod subtypes to the base relation the
            # classifier learns; parse() re-derives the subtype from the tree
            if r.startswith("nmod:") and r.split(":", 1)[1] not in ("poss", "tmod"):
                return "nmod"
            return r

        for words, pos, edges in trees:
            gold_head = {d: h for h, d, r in edges if h >= 0}
            gold_label = {d: base(r) for h, d, r in edges if h >= 0}
            for h, d, r in edges:
                if h >= 0:
                    acts.add(f"L|{base(r)}")
                    acts.add(f"R|{base(r)}")
            if _gold_transitions(len(words), gold_head, gold_label) is None:
                continue  # non-projective: skip
            n_gold_deps = defaultdict(int)
            for d, h in gold_head.items():
                n_gold_deps[h] += 1
            data.append((words, pos, gold_head, gold_label, dict(n_gold_deps)))
        self.actions = sorted(acts)
        totals = defaultdict(float)
        stamps = defaultdict(int)
        step = 0

        def upd(f, a, delta):
            key = (f, a)
            cur = self.weights.setdefault(f, {}).get(a, 0.0)
            totals[key] += (step - stamps[key]) * cur
            stamps[key] = step
            self.weights[f][a] = cur + delta

        for ep in range(epochs):
            follow_model = ep >= explore_after
            for words, pos, gold_head, gold_label, n_gold_deps in data:
                n = len(words)
                stack: list[int] = []
                buffer = list(range(n))
                head_of: dict[int, int] = {}
                label_of: dict[int, str] = {}
                guard = 0
                while (buffer or len(stack) > 1) and guard < 4 * n + 8:
                    guard += 1
                    oracle = self._oracle_action(
                        stack, buffer, head_of, gold_head, gold_label, n_gold_deps)
                    if oracle is None:
                        break
                    gold_act = f"{oracle[0]}|{oracle[1]}"
                    feats = _features(stack, buffer, words, pos, head_of, label_of)
                    sc = self._score(feats)
                    legal = []
                    if buffer:
                        legal.append("S|")
                    if len(stack) >= 2:
                        legal.extend(a for a in self.actions if a[0] != "S")
                    pred = max(legal, key=lambda a: (sc.get(a, 0.0), a)) \
                        if legal else gold_act
                    if pred != gold_act:
                        for f in feats:
                            upd(f, gold_act, 1.0)
                            upd(f, pred, -1.0)
                    step += 1
                    kind, rel = (pred if follow_model else gold_act).split("|", 1)
                    if kind == "S":
                        if not buffer:
                            break
                        stack.append(buffer.pop(0))
                    elif kind == "L":
                        if len(stack) < 2:
                            break
                        d = stack[-2]
                        head_of[d] = stack[-1]
                        label_of[d] = rel
                        stack.pop(-2)
                    else:
                        if len(stack) < 2:
                            break
                        d = stack[-1]
                        head_of[d] = stack[-2]
                        label_of[d] = rel
                        stack.pop()
        for f, by in self.weights.items():
            for a in list(by):
                key = (f, a)
                totals[key] += (step - stamps[key]) * by[a]
                by[a] = totals[key] / max(step, 1)
        self._W = None

    def to_broadcastable(self):
        return {"weights": {f: dict(t) for f, t in self.weights.items()},
                "actions": list(self.actions)}

    @classmethod
    def from_broadcastable(cls, blob):
        m = cls()
        m.weights = blob["weights"]
        m.actions = blob["actions"]
        return m


_PARSER = None


def get_trained_parser() -> ArcStandardParser:
    global _PARSER
    if _PARSER is None:
        _PARSER = ArcStandardParser.from_broadcastable(load_weights("parser"))
    return _PARSER
