"""Trainable sequence models: averaged-perceptron POS tagger and
structured-perceptron (CRF-style) NER — the PRIMARY model path since r2.

Behavioral reference (re-expressed):
  - POS features mirror the ``left3words`` extractor frame
    (``tagger/maxent/ExtractorFrames.java:104-145``): current/prev/next word,
    prev tag, suffixes, shape, digits — trained with the averaged perceptron
    instead of MaxEnt (same feature space, simpler deterministic training);
  - NER features mirror ``ie/NERFeatureFactory.java:98-175`` (word, shape,
    context, prefix/suffix, org-suffix cues) with BIO transitions decoded by
    Viterbi; training = structured perceptron (Collins 2002 style,
    deterministic iteration order — no RNG anywhere).

Deployment pattern: weights are trained offline by ``scripts/train_models.py``
(deterministic → identical weights on every run), committed as gzip-JSON next
to this module (the analog of the reference's shipped model files,
``pipeline/DefaultPaths.java:20-22``), lazily loaded once per executor
process, and scored over Arrow batches — never per row.
"""

from __future__ import annotations

import gzip
import json
import os
from collections import defaultdict

WEIGHTS_DIR = os.path.join(os.path.dirname(__file__), "weights")


def save_weights(name: str, blob: dict) -> str:
    os.makedirs(WEIGHTS_DIR, exist_ok=True)
    path = os.path.join(WEIGHTS_DIR, f"{name}.json.gz")
    with gzip.open(path, "wt", encoding="utf-8") as f:
        json.dump(blob, f, sort_keys=True)
    return path


def load_weights(name: str) -> dict:
    path = os.path.join(WEIGHTS_DIR, f"{name}.json.gz")
    if os.path.exists(path):
        with gzip.open(path, "rt", encoding="utf-8") as f:
            return json.load(f)
    # zip deployment (spark-submit --py-files pkg.zip): __file__ points into
    # the archive, so read the artifact through importlib.resources instead
    from importlib import resources

    data = (resources.files("corenlp_spark.models")
            .joinpath("weights", f"{name}.json.gz").read_bytes())
    return json.loads(gzip.decompress(data).decode("utf-8"))


def _pos_features(words: list[str], i: int, prev_tag: str,
                  prev2_tag: str = "<s>") -> list[str]:
    """left3words-style frame (ExtractorFrames.java:104-145) + the
    unknown-word extractors (suffixes to 4, prefixes to 2, shape, hyphen) —
    these carry OOD generalization; the corpus benchmark gate in
    tests/test_models.py measures exactly that."""
    w = words[i]
    lw = w.lower()
    sh = f"{'X' if w[:1].isupper() else 'x'}{'d' if any(c.isdigit() for c in w) else ''}"
    nw = words[i + 1] if i + 1 < len(words) else ""
    nsh = f"{'X' if nw[:1].isupper() else 'x'}" if nw else "</s>"
    feats = [
        f"w={lw}", f"pt={prev_tag}", f"pt+w={prev_tag}+{lw}",
        f"pt2={prev2_tag}+{prev_tag}",
        f"sh2={sh}+{nsh}",
        f"suf4={lw[-4:]}", f"suf3={lw[-3:]}", f"suf2={lw[-2:]}",
        f"suf1={lw[-1:]}",
        f"pre1={lw[:1]}", f"pre2={lw[:2]}", f"shape={sh}",
        f"pt+sh={prev_tag}+{sh}", f"pt+suf2={prev_tag}+{lw[-2:]}",
        f"w-1={words[i-1].lower() if i > 0 else '<s>'}",
        f"w+1={words[i+1].lower() if i + 1 < len(words) else '</s>'}",
        f"w+2={words[i+2].lower() if i + 2 < len(words) else '</s>'}",
        "bias",
    ]
    if "-" in w[1:-1]:
        feats.append("hyph")
    if i == 0:
        feats.append("first")
        feats.append(f"first+suf2={lw[-2:]}")
    return feats


class AveragedPerceptronTagger:
    """Greedy left-to-right averaged perceptron POS tagger.

    Inference scores through one dense feature × tag matrix (built lazily
    once per process) — the same precompute trick the reference plays
    for frequent-feature hidden products (``parser/nndep/Classifier.java``
    preComputed / ``DependencyParser.java:109,313``)."""

    def __init__(self):
        self.weights: dict[str, dict[str, float]] = {}
        self.tags: list[str] = []
        self._W = None  # decode state, built by _ensure_matrix

    def _score(self, feats: list[str]) -> dict[str, float]:
        scores: dict[str, float] = defaultdict(float)
        for f in feats:
            for tag, w in self.weights.get(f, {}).items():
                scores[tag] += w
        return scores

    # open classes: the only tags an UNKNOWN word may receive — the tag-
    # dictionary discipline of TestSentence.java:335-341 (closed-class tags
    # like RP/MD/DT/IN can only come from known vocabulary)
    OPEN_TAGS = {"NN", "NNS", "NNP", "NNPS", "VB", "VBD", "VBG", "VBN",
                 "VBP", "VBZ", "JJ", "JJR", "JJS", "RB", "RBR", "RBS",
                 "CD", "FW", "UH"}

    def predict(self, words: list[str]) -> list[str]:
        return self.predict_with_constraints_batch([(words, {}, None)])[0]

    # -- batched decode ----------------------------------------------------
    def _ensure_matrix(self):
        """Dense (F+1, T) weight matrix + feature→row dict for the batched
        decode; row F is all-zero (unknown feature ≡ skip, bitwise). Same
        precompute discipline as the parser (_ensure_batch_matrices).
        Every piece of decode state is derived here from ``weights`` and
        ``tags``; ``train`` clears ``_W`` so the next decode rebuilds it."""
        if self._W is not None:
            return
        import numpy as np

        self._open_mask = np.array([t in self.OPEN_TAGS for t in self.tags])
        idx = {t: i for i, t in enumerate(self.tags)}
        feats = sorted(self.weights)
        self._fid = {f: i for i, f in enumerate(feats)}
        W = np.zeros((len(feats) + 1, len(self.tags)))
        for f, i in self._fid.items():
            for tag, w in self.weights[f].items():
                j = idx.get(tag)
                if j is not None:
                    W[i, j] = w
        self._W = W
        self._zrow = len(feats)
        # a row whose features are all unknown has no score to argmax
        self._nn_fallback = ("NN" if "NN" in self.tags
                             else (self.tags[-1] if self.tags else "NN"))
        self._tid = dict(idx)
        self._tid.setdefault("<s>", len(self._tid))
        self._tstr = [None] * len(self._tid)
        for t, i in self._tid.items():
            self._tstr[i] = t
        # r6: per-template memos (int / small-tuple keys; tag ids < 4096 —
        # the registry only holds the tagset — so pt2*4096+pt is collision-
        # free).
        self._pmemo5: list[dict] = [dict() for _ in range(5)]
        self._wordmemo = None  # per-word rows, filled by _pos_static

    def _tag_id(self, t: str) -> int:
        """Growable tag registry — fixed (constraint) tags may lie outside
        the training tag set but still feed the pt=/pt2= context features
        as their literal strings."""
        i = self._tid.get(t)
        if i is None:
            i = len(self._tstr)
            self._tid[t] = i
            self._tstr.append(t)
        return i

    def _pos_static(self, words):
        """Per-token template rows with the 5 prev-tag-dependent slots left
        as None (indexes 1,2,3,12,13 of the _pos_features order), plus the
        (lw, sh, suf2, known) values the dynamic slots and the open-class
        mask need. Produces exactly the feature-id rows the f-string path
        produced, in the same order (the gather-sum order is part of the
        bit-parity contract) — but all word-local ids come from a per-WORD
        memo (r6, guide §1.2 per-task work: word types repeat Zipf-style in
        any corpus, so the ~20 f-string builds + dict probes per TOKEN
        collapse to one tuple fetch per repeated word; same value-keyed
        memo discipline as the dynamic-template _pmemo5)."""
        fget = self._fid.get
        z = self._zrow
        wmemo = self._wordmemo
        if wmemo is None:
            wmemo = self._wordmemo = {}
            self._sh2memo = {}
            self._cid = (fget("w-1=<s>", z), fget("w+1=</s>", z),
                         fget("w+2=</s>", z), fget("bias", z),
                         fget("hyph", z), fget("first", z))
        sh2memo = self._sh2memo
        sid_prev, sid_n1, sid_n2, bias_id, hyph_id, first_id = self._cid
        n = len(words)
        entries = []
        for w in words:
            e = wmemo.get(w)
            if e is None:
                lw = w.lower()
                sh = f"{'X' if w[:1].isupper() else 'x'}{'d' if any(c.isdigit() for c in w) else ''}"
                suf2 = lw[-2:]
                e = (
                    lw, sh, suf2,
                    ("X" if w[:1].isupper() else "x") if w else "</s>",  # 3: next-shape char
                    f"w={lw}" in self.weights,             # 4: known
                    fget(f"w={lw}", z),                    # 5: w= id
                    (fget(f"suf4={lw[-4:]}", z), fget(f"suf3={lw[-3:]}", z),
                     fget(f"suf2={suf2}", z), fget(f"suf1={lw[-1:]}", z),
                     fget(f"pre1={lw[:1]}", z), fget(f"pre2={lw[:2]}", z),
                     fget(f"shape={sh}", z)),              # 6: mid block
                    "-" in w[1:-1],                        # 7: hyph flag
                    fget(f"w-1={lw}", z),                  # 8
                    fget(f"w+1={lw}", z),                  # 9
                    fget(f"w+2={lw}", z),                  # 10
                    fget(f"first+suf2={suf2}", z),         # 11
                )
                wmemo[w] = e
            entries.append(e)
        out = []
        for i in range(n):
            e = entries[i]
            sh = e[1]
            nsh = entries[i + 1][3] if i + 1 < n else "</s>"
            k2 = (sh, nsh)
            sh2_id = sh2memo.get(k2)
            if sh2_id is None:
                sh2_id = sh2memo[k2] = fget(f"sh2={sh}+{nsh}", z)
            rows = [
                e[5], None, None, None, sh2_id,
                *e[6], None, None,
                entries[i - 1][8] if i > 0 else sid_prev,
                entries[i + 1][9] if i + 1 < n else sid_n1,
                entries[i + 2][10] if i + 2 < n else sid_n2,
                bias_id,
            ]
            if e[7]:
                rows.append(hyph_id)
            if i == 0:
                rows.append(first_id)
                rows.append(e[11])
            out.append((rows, e[0], sh, e[2], e[4]))
        return out

    def predict_with_constraints_batch(
            self, docs: list[tuple[list[str], dict[int, str], set[int]]]
    ) -> list[list[str]]:
        """Greedy decode of many documents, the tagger's only inference
        decoder: all documents advance one token position per iteration,
        scored with ONE numpy gather-sum (same cross-row batching as the
        parser's parse_batch). Each doc is ``(words, fixed, sent_starts)``:
        ``fixed`` pins per-position tags (punct tags, CD for numbers, the
        closed-class dictionary) — the analog of the tag dictionary
        restricting MaxentTagger's search space
        (``tagger/maxent/TestSentence.java:335-341``); ``sent_starts``
        resets the left context across sentence boundaries. A document's
        result does not depend on the other documents of the batch; ties
        break to the largest tag, as in the training-time scorer."""
        import numpy as np

        self._ensure_matrix()
        W, tags = self._W, self.tags
        z = self._zrow
        T = len(tags)
        fget = self._fid.get
        m0, m1, m2, m3, m4 = self._pmemo5
        tstr = self._tstr
        tag_id = self._tag_id
        sid = self._tid["<s>"]

        class _D:
            __slots__ = ("i", "n", "words", "fixed", "starts", "static",
                         "out", "prev", "prev2")

        ds: list[_D] = []
        outs: list[list[str]] = [None] * len(docs)
        for i, (words, fixed, starts) in enumerate(docs):
            d = _D()
            d.i, d.n, d.words = i, len(words), words
            d.fixed = fixed
            d.starts = starts or set()
            d.static = self._pos_static(words)
            d.out = []
            d.prev = d.prev2 = sid
            outs[i] = d.out
            if words:
                ds.append(d)
        t = 0
        active = ds
        rows_buf: list[list[int]] = []
        while active:
            nxt = []
            score_docs = []
            rows_buf.clear()
            for d in active:
                if t in d.starts:
                    d.prev = d.prev2 = sid
                tag = d.fixed.get(t)
                if tag is not None:
                    d.out.append(tag)
                    d.prev2, d.prev = d.prev, tag_id(tag)
                else:
                    rows, lw, sh, suf2, known = d.static[t]
                    pt, pt2 = d.prev, d.prev2
                    r1 = m0.get(pt)
                    if r1 is None:
                        r1 = m0[pt] = fget(f"pt={tstr[pt]}", z)
                    key = (pt, lw)
                    r2 = m1.get(key)
                    if r2 is None:
                        r2 = m1[key] = fget(f"pt+w={tstr[pt]}+{lw}", z)
                    key = pt2 * 4096 + pt
                    r3 = m2.get(key)
                    if r3 is None:
                        r3 = m2[key] = fget(
                            f"pt2={tstr[pt2]}+{tstr[pt]}", z)
                    key = (pt, sh)
                    r12 = m3.get(key)
                    if r12 is None:
                        r12 = m3[key] = fget(f"pt+sh={tstr[pt]}+{sh}", z)
                    key = (pt, suf2)
                    r13 = m4.get(key)
                    if r13 is None:
                        r13 = m4[key] = fget(
                            f"pt+suf2={tstr[pt]}+{suf2}", z)
                    rows = list(rows)
                    rows[1], rows[2], rows[3] = r1, r2, r3
                    rows[12], rows[13] = r12, r13
                    rows_buf.append(rows)
                    score_docs.append(d)
                if t + 1 < d.n:
                    nxt.append(d)
            if rows_buf:
                C = len(rows_buf)
                Lb = max(len(r) for r in rows_buf)
                ids = np.full((C, Lb), z, dtype=np.int64)
                for r, lst in enumerate(rows_buf):
                    ids[r, :len(lst)] = lst
                S = W[ids[:, 0]].copy()
                for k in range(1, Lb):
                    S += W[ids[:, k]]
                # open-class restriction for unknown words (per row)
                if self._open_mask.any():
                    closed = ~self._open_mask
                    for r, d in enumerate(score_docs):
                        if not d.static[t][4]:
                            S[r, closed] = -np.inf
                # all-unknown-features rows fall back like the dict path
                best = (T - 1) - S[:, ::-1].argmax(axis=1)
                for r, d in enumerate(score_docs):
                    if (ids[r] == z).all():
                        tag = self._nn_fallback
                    else:
                        tag = tags[int(best[r])]
                    d.out.append(tag)
                    d.prev2, d.prev = d.prev, tag_id(tag)
            active = nxt
            t += 1
        return outs

    def train(self, corpus: list[tuple[list[str], list[str]]], epochs: int = 8):
        """corpus: [(words, gold_tags)]; deterministic iteration order."""
        self.tags = sorted({t for _, ts in corpus for t in ts})
        totals: dict[tuple[str, str], float] = defaultdict(float)
        stamps: dict[tuple[str, str], int] = defaultdict(int)
        step = 0

        def upd(f: str, tag: str, delta: float):
            nonlocal step
            key = (f, tag)
            cur = self.weights.setdefault(f, {}).get(tag, 0.0)
            totals[key] += (step - stamps[key]) * cur
            stamps[key] = step
            self.weights[f][tag] = cur + delta

        for ep in range(epochs):
            for si, (words, gold) in enumerate(corpus):
                prev = prev2 = "<s>"
                for i, g in enumerate(gold):
                    feats = _pos_features(words, i, prev, prev2)
                    # deterministic lexical dropout: every 5th (sentence,
                    # token) position trains WITHOUT the word-identity
                    # features, forcing weight onto the suffix/shape/context
                    # extractors that carry unknown-word generalization
                    if (si + i + ep) % 5 == 0:
                        feats = [f for f in feats
                                 if not f.startswith(("w=", "pt+w="))]
                    scores = self._score(feats)
                    pred = max(self.tags, key=lambda t: (scores.get(t, 0.0), t))
                    if pred != g:
                        for f in feats:
                            upd(f, g, 1.0)
                            upd(f, pred, -1.0)
                    # predicted history: training sees the same (possibly
                    # wrong) left context inference will see
                    prev2, prev = prev, pred
                    step += 1
        # average
        for f, by_tag in self.weights.items():
            for tag in list(by_tag):
                key = (f, tag)
                totals[key] += (step - stamps[key]) * by_tag[tag]
                by_tag[tag] = totals[key] / max(step, 1)
        self._W = None

    def to_broadcastable(self) -> dict:
        """Plain-dict snapshot for SparkContext.broadcast."""
        return {"weights": {f: dict(t) for f, t in self.weights.items()},
                "tags": list(self.tags)}

    @classmethod
    def from_broadcastable(cls, blob: dict) -> "AveragedPerceptronTagger":
        m = cls()
        m.weights = blob["weights"]
        m.tags = blob["tags"]
        return m


# ---------------------------------------------------------------------------
# Structured-perceptron NER (Collins 2002): Viterbi decode with learned
# emission + transition weights; BIO structural constraints hard-coded.
# ---------------------------------------------------------------------------

NER_LABELS = ["O", "B-PERSON", "I-PERSON", "B-ORGANIZATION", "I-ORGANIZATION",
              "B-LOCATION", "I-LOCATION", "B-MISC", "I-MISC"]
_NEG = -1e4


_SHAPE_CACHE: dict[str, str] = {}  # pure word → shape (capped, r6)


def _shape(w: str) -> str:
    s = _SHAPE_CACHE.get(w)
    if s is not None:
        return s
    if not w:
        s = "-"
    elif w.isupper() and w.isalpha() and len(w) > 1:
        s = "XX"
    elif w[:1].isupper():
        s = "Xx"
    elif any(c.isdigit() for c in w):
        s = "d"
    else:
        s = "x"
    if len(_SHAPE_CACHE) < 500_000:
        _SHAPE_CACHE[w] = s
    return s


# closed feature classes (the analog of NERFeatureFactory's gazette/distsim
# features — cue WORDS, not entity names; entity names stay learned)
_ORG_SUFFIX_WORDS = {"corp.", "inc.", "ltd.", "co.", "pty.", "university",
                     "school", "systems", "labs", "group", "media", "bank",
                     "institute", "foundation", "partners", "machines",
                     "company", "association", "holdings", "industries",
                     "technologies", "enterprises", "airlines", "motors"}
_PERSON_TITLES = {"mr.", "mrs.", "ms.", "dr.", "prof.", "president",
                  "senator", "judge", "professor"}
# prepositions/compass words whose following capitalized token is (almost
# always) a place — NERFeatureFactory's GeneralizedExpected cue class analog
_LOC_CUES = {"in", "near", "at", "from", "to", "between", "outside",
             "around", "across", "toward", "south", "north", "east", "west"}


def _ner_sent_features(words: list[str], pos: list[str]) -> list[list[str]]:
    """Per-token features for a whole sentence
    (NERFeatureFactory.java:98-175 re-expressed): word identity, shape,
    affixes, ±1 context words/shapes, POS context, org-suffix/title cue
    classes. Lowercase forms and shapes are computed once per sentence."""
    n = len(words)
    lws = [w.lower() for w in words]
    shs = [_shape(w) for w in words]
    out = []
    for i in range(n):
        w, lw, sh = words[i], lws[i], shs[i]
        plw = lws[i - 1] if i > 0 else "<s>"
        nlw = lws[i + 1] if i + 1 < n else "</s>"
        feats = [
            f"w={lw}", f"sh={sh}", f"suf3={lw[-3:]}", f"pre2={lw[:2]}",
            f"w-1={plw}", f"w+1={nlw}",
            f"sh-1={shs[i - 1] if i > 0 else '<s>'}",
            f"sh+1={shs[i + 1] if i + 1 < n else '</s>'}",
            f"p={pos[i]}", f"p-1={pos[i-1] if i > 0 else '<s>'}",
            f"w-1+sh={plw}+{sh}",
            f"sh+w+1={sh}+{nlw}",
            "bias",
        ]
        if i == 0:
            feats.append("first")
        if w.endswith("."):
            feats.append("abbr")
        if lw in _ORG_SUFFIX_WORDS:
            feats.append("orgsuf")
        if nlw in _ORG_SUFFIX_WORDS:
            feats.append("orgsuf+1")
        if plw in _PERSON_TITLES:
            feats.append("title-1")
        if plw in _LOC_CUES:
            feats.append("locprep-1")
        # "between X and Y" / "linking X with Y": the cue carries across
        # the conjunction to the second capitalized token
        if i >= 3 and lws[i - 3] in _LOC_CUES and plw in ("and", "with"):
            feats.append("locprep-2cc")
        if i >= 2 and lws[i - 1] in ("and", "with") and shs[i - 2] == sh:
            feats.append("cc-pair")
        out.append(feats)
    return out


class StructuredPerceptronNER:
    """Linear-chain structured perceptron over BIO labels.

    decode_batch() is exact Viterbi (same DP as ``ExactBestSequenceFinder``);
    training updates emission features and transition weights where the
    Viterbi path diverges from gold. Averaging for stability."""

    def __init__(self):
        self.weights: dict[str, dict[str, float]] = {}
        self.trans: dict[str, float] = {}  # "A>B" → weight
        self.labels = list(NER_LABELS)
        self._L = {lab: i for i, lab in enumerate(self.labels)}
        self._Wm = None  # decode state, built by _ensure_matrix

    # dict-path twins used DURING TRAINING (weights mutate every update, so
    # the cached numpy matrices cannot be used there)
    def _emissions_train(self, feats_per_tok: list[list[str]]) -> list[list[float]]:
        k = len(self.labels)
        out = []
        for feats in feats_per_tok:
            row = [0.0] * k
            for f in feats:
                by = self.weights.get(f)
                if by:
                    for lab, wt in by.items():
                        row[self._L[lab]] += wt
            out.append(row)
        return out

    def _trans_matrix_train(self) -> list[list[float]]:
        k = len(self.labels)
        t = [[0.0] * k for _ in range(k)]
        for i, a in enumerate(self.labels):
            for j, b in enumerate(self.labels):
                if b.startswith("I-") and a not in (f"B-{b[2:]}", f"I-{b[2:]}"):
                    t[i][j] = _NEG
                else:
                    t[i][j] = self.trans.get(f"{a}>{b}", 0.0)
        return t

    def _viterbi_train(self, em: list[list[float]], trans: list[list[float]]) -> list[int]:
        k = len(self.labels)
        dp = list(em[0])
        for j in range(k):
            if self.labels[j].startswith("I-"):
                dp[j] += _NEG
        back: list[list[int]] = []
        for t in range(1, len(em)):
            emt = em[t]
            ndp = [0.0] * k
            row_back = [0] * k
            for j in range(k):
                best, bi = dp[0] + trans[0][j], 0
                for i in range(1, k):
                    v = dp[i] + trans[i][j]
                    if v > best:
                        best, bi = v, i
                ndp[j] = best + emt[j]
                row_back[j] = bi
            dp = ndp
            back.append(row_back)
        path = [max(range(k), key=dp.__getitem__)]
        for rb in reversed(back):
            path.append(rb[path[-1]])
        return path[::-1]

    def decode(self, words: list[str], pos: list[str],
               force_o: set[int] | None = None) -> list[str]:
        """BIO labels for one sentence; ``force_o`` positions are pinned to O
        (punct/number/calendar tokens owned by the numeric/temporal pass)."""
        return self.decode_batch([(words, pos, force_o)])[0]

    # -- batched decode ----------------------------------------------------
    def _ensure_matrix(self):
        """Dense (F+1, k) emission weight matrix (zero row F = unknown
        feature) for batched emission scoring, plus the k×k transition
        matrix with the BIO structural constraint — same discipline as the
        parser/POS batch matrices. Every piece of decode state is derived
        here; ``train`` clears ``_Wm`` so the next decode rebuilds it."""
        if self._Wm is not None:
            return
        import numpy as np

        k = len(self.labels)
        feats = sorted(self.weights)
        self._fid = {f: i for i, f in enumerate(feats)}
        W = np.zeros((len(feats) + 1, k))
        for f, i in self._fid.items():
            for lab, wt in self.weights[f].items():
                W[i, self._L[lab]] += wt
        self._Wm = W
        self._zrow = len(feats)
        T = np.zeros((k, k))
        for i, a in enumerate(self.labels):
            for j, b in enumerate(self.labels):
                if b.startswith("I-") and a not in (f"B-{b[2:]}", f"I-{b[2:]}"):
                    T[i, j] = _NEG  # BIO structural constraint
                else:
                    T[i, j] = self.trans.get(f"{a}>{b}", 0.0)
        self._T = T
        self._idmemo = None  # value-keyed id memos, filled by _ner_row_ids

    def _ner_row_ids(self, words: list[str], pos: list[str]
                     ) -> list[list[int]]:
        """Feature-ID rows for one sentence — the id-space twin of
        ``_ner_sent_features`` (same features, same order, so the
        gather-sum is bit-identical), with every word/shape/POS-local id
        served from a value-keyed memo instead of rebuilding the f-string
        and probing the feature dict per token (r6 — same discipline as
        the POS _pos_static word memo)."""
        fget = self._fid.get
        z = self._zrow
        m = self._idmemo
        if m is None:
            consts = {c: fget(c, z) for c in
                      ("bias", "first", "abbr", "orgsuf", "orgsuf+1",
                       "title-1", "locprep-1", "locprep-2cc", "cc-pair")}
            consts["w-1=<s>"] = fget("w-1=<s>", z)
            consts["w+1=</s>"] = fget("w+1=</s>", z)
            m = self._idmemo = ({}, {}, {}, {}, {}, consts)
        wm, p1m, p2m, shm, pm, cid = m
        n = len(words)
        lws = [w.lower() for w in words]
        shs = [_shape(w) for w in words]
        ents = []
        for lw in lws:
            e = wm.get(lw)
            if e is None:
                e = wm[lw] = (
                    fget(f"w={lw}", z), fget(f"suf3={lw[-3:]}", z),
                    fget(f"pre2={lw[:2]}", z), fget(f"w-1={lw}", z),
                    fget(f"w+1={lw}", z))
            ents.append(e)

        def _memo1(memo, prefix, val):
            key = (prefix, val)
            v = memo.get(key)
            if v is None:
                v = memo[key] = fget(f"{prefix}{val}", z)
            return v

        out = []
        bias = cid["bias"]
        for i in range(n):
            e = ents[i]
            lw, sh = lws[i], shs[i]
            plw = lws[i - 1] if i > 0 else "<s>"
            nlw = lws[i + 1] if i + 1 < n else "</s>"
            k1 = (plw, sh)
            r_p1 = p1m.get(k1)
            if r_p1 is None:
                r_p1 = p1m[k1] = fget(f"w-1+sh={plw}+{sh}", z)
            k2 = (sh, nlw)
            r_p2 = p2m.get(k2)
            if r_p2 is None:
                r_p2 = p2m[k2] = fget(f"sh+w+1={sh}+{nlw}", z)
            row = [
                e[0], _memo1(shm, "sh=", sh), e[1], e[2],
                ents[i - 1][3] if i > 0 else cid["w-1=<s>"],
                ents[i + 1][4] if i + 1 < n else cid["w+1=</s>"],
                _memo1(shm, "sh-1=", shs[i - 1] if i > 0 else "<s>"),
                _memo1(shm, "sh+1=", shs[i + 1] if i + 1 < n else "</s>"),
                _memo1(pm, "p=", pos[i]),
                _memo1(pm, "p-1=", pos[i - 1] if i > 0 else "<s>"),
                r_p1, r_p2, bias,
            ]
            if i == 0:
                row.append(cid["first"])
            if words[i].endswith("."):
                row.append(cid["abbr"])
            if lw in _ORG_SUFFIX_WORDS:
                row.append(cid["orgsuf"])
            if nlw in _ORG_SUFFIX_WORDS:
                row.append(cid["orgsuf+1"])
            if plw in _PERSON_TITLES:
                row.append(cid["title-1"])
            if plw in _LOC_CUES:
                row.append(cid["locprep-1"])
            if i >= 3 and lws[i - 3] in _LOC_CUES and plw in ("and", "with"):
                row.append(cid["locprep-2cc"])
            if i >= 2 and lws[i - 1] in ("and", "with") and shs[i - 2] == sh:
                row.append(cid["cc-pair"])
            out.append(row)
        return out

    def decode_batch(self, sents: list[tuple[list[str], list[str],
                                             set[int] | None]]
                     ) -> list[list[str]]:
        """Viterbi over many sentences, the model's only inference decoder
        (vectorized over the label axis and across sentences; same DP as
        ``sequences/ExactBestSequenceFinder.java:37-110``): emissions for
        ALL tokens of the batch in one numpy gather-sum, then a single
        padded DP advancing every sentence one position per iteration
        (finished rows frozen). A sentence's labels do not depend on the
        other sentences of the batch."""
        import numpy as np

        self._ensure_matrix()
        W, k = self._Wm, len(self.labels)
        z = self._zrow
        T = self._T
        out: list[list[str] | None] = [[] if not s[0] else None for s in sents]
        live = [(i, words, pos, force_o)
                for i, (words, pos, force_o) in enumerate(sents) if words]
        if not live:
            return out
        # --- emissions for every token of every sentence, one gather-sum
        rows: list[list[int]] = []
        bounds = []
        for i, words, pos, force_o in live:
            start = len(rows)
            rows.extend(self._ner_row_ids(words, pos))
            bounds.append((start, len(rows)))
        N = len(rows)
        Lb = max(len(r) for r in rows)
        ids = np.full((N, Lb), z, dtype=np.int64)
        for r, lst in enumerate(rows):
            ids[r, :len(lst)] = lst
        EM = W[ids[:, 0]].copy()
        for c in range(1, Lb):
            EM += W[ids[:, c]]
        for (i, words, pos, force_o), (a, b) in zip(live, bounds):
            if force_o:
                for t in force_o:
                    EM[a + t, 1:] += _NEG
        # --- padded batched Viterbi
        C = len(live)
        lens = np.array([b - a for (a, b) in bounds])
        maxn = int(lens.max())
        dp = np.empty((C, k))
        for r, (a, b) in enumerate(bounds):
            dp[r] = EM[a]
        for j in range(k):
            if self.labels[j].startswith("I-"):
                dp[:, j] += _NEG
        backs = np.zeros((C, maxn, k), dtype=np.int32)
        for t in range(1, maxn):
            alive = lens > t
            scores = dp[alive, :, None] + T[None, :, :]
            bt = scores.argmax(axis=1)
            nxt = np.take_along_axis(scores, bt[:, None, :], axis=1)[:, 0, :]
            emt = np.stack([EM[a + t] for (a, b), m
                            in zip(bounds, alive) if m])
            backs[alive, t] = bt
            dp[alive] = nxt + emt
        for r, ((i, words, pos, force_o), (a, b)) in enumerate(zip(live, bounds)):
            n = b - a
            path = [int(np.argmax(dp[r]))]
            for t in range(n - 1, 0, -1):
                path.append(int(backs[r, t, path[-1]]))
            path.reverse()
            out[i] = [self.labels[j] for j in path]
        return out

    # -- training ----------------------------------------------------------
    def train(self, corpus: list[tuple[list[str], list[str], list[str]]],
              epochs: int = 6):
        """corpus: [(words, pos, gold_bio)]; deterministic order, averaged."""
        totals: dict[tuple[str, str], float] = defaultdict(float)
        stamps: dict[tuple[str, str], int] = defaultdict(int)
        t_totals: dict[str, float] = defaultdict(float)
        t_stamps: dict[str, int] = defaultdict(int)
        step = 0

        def upd(f: str, lab: str, delta: float):
            key = (f, lab)
            cur = self.weights.setdefault(f, {}).get(lab, 0.0)
            totals[key] += (step - stamps[key]) * cur
            stamps[key] = step
            self.weights[f][lab] = cur + delta

        def upd_t(key: str, delta: float):
            cur = self.trans.get(key, 0.0)
            t_totals[key] += (step - t_stamps[key]) * cur
            t_stamps[key] = step
            self.trans[key] = cur + delta

        for _ in range(epochs):
            for words, pos, gold in corpus:
                feats = _ner_sent_features(words, pos)
                em = self._emissions_train(feats)
                pred = [self.labels[i]
                        for i in self._viterbi_train(em, self._trans_matrix_train())]
                if pred != gold:
                    for i, (p, g) in enumerate(zip(pred, gold)):
                        if p != g:
                            for f in feats[i]:
                                upd(f, g, 1.0)
                                upd(f, p, -1.0)
                        pg = gold[i - 1] if i > 0 else None
                        pp = pred[i - 1] if i > 0 else None
                        if i > 0 and (pp, p) != (pg, g):
                            upd_t(f"{pg}>{g}", 1.0)
                            upd_t(f"{pp}>{p}", -1.0)
                step += 1
        for f, by in self.weights.items():
            for lab in list(by):
                key = (f, lab)
                totals[key] += (step - stamps[key]) * by[lab]
                by[lab] = totals[key] / max(step, 1)
        for key in list(self.trans):
            t_totals[key] += (step - t_stamps[key]) * self.trans[key]
            self.trans[key] = t_totals[key] / max(step, 1)
        self._Wm = None

    def to_broadcastable(self) -> dict:
        return {"weights": {f: dict(t) for f, t in self.weights.items()},
                "trans": dict(self.trans), "labels": list(self.labels)}

    @classmethod
    def from_broadcastable(cls, blob: dict) -> "StructuredPerceptronNER":
        m = cls()
        m.weights = blob["weights"]
        m.trans = blob["trans"]
        m.labels = blob["labels"]
        m._L = {lab: i for i, lab in enumerate(m.labels)}
        return m


def train_pos_distributed(spark, corpus: list[tuple[list[str], list[str]]],
                          epochs: int = 8, n_shards: int = 8) -> "AveragedPerceptronTagger":
    """Distributed perceptron training by PARAMETER MIXING (McDonald, Hall &
    Mann 2010 — public algorithm): shard the corpus deterministically, train
    one averaged perceptron per shard inside executors (one ``applyInPandas``
    group per shard), then average the per-shard weight vectors on the
    driver. This is how the training side itself scales past one machine —
    the inference side already broadcasts the result.

    Deterministic: shard = index mod n_shards, per-shard iteration order is
    the corpus order, averaging is order-insensitive."""
    import json as _json

    import pandas as pd

    rows = pd.DataFrame({
        "shard": [i % n_shards for i in range(len(corpus))],
        "idx": list(range(len(corpus))),
        "words": [_json.dumps(w) for w, _ in corpus],
        "tags": [_json.dumps(t) for _, t in corpus],
    })
    df = spark.createDataFrame(rows, "shard int, idx long, words string, tags string")

    def train_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx")
        shard_corpus = [(_json.loads(w), _json.loads(t))
                        for w, t in zip(pdf["words"], pdf["tags"])]
        m = AveragedPerceptronTagger()
        m.train(shard_corpus, epochs=epochs)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "blob": [_json.dumps(m.to_broadcastable())]})

    shard_blobs = [
        _json.loads(r.blob)
        for r in df.repartition(n_shards, "shard")
        .groupBy("shard").applyInPandas(train_shard, "shard int, blob string")
        .collect()
    ]
    # parameter mixing: uniform average of the shard weight vectors
    mixed: dict[str, dict[str, float]] = {}
    tags: set[str] = set()
    for blob in shard_blobs:
        tags.update(blob["tags"])
        for f, by in blob["weights"].items():
            tgt = mixed.setdefault(f, {})
            for tag, w in by.items():
                tgt[tag] = tgt.get(tag, 0.0) + w / len(shard_blobs)
    out = AveragedPerceptronTagger()
    out.weights = mixed
    out.tags = sorted(tags)
    return out


class RelationClassifier:
    """Multiclass averaged perceptron over (between-mention lemmas, NER type
    signature) features — the TRAINED statistical arm of the KBP ensemble,
    replacing hand-set LR weights (``ie/KBPStatisticalExtractor.java:190-664``
    re-expressed; features = lemma unigrams between the mention pair + the
    type signature, the core of the reference's surface-feature set)."""

    NONE = "NONE"

    #: NER classes the reference types via regexner gazetteers — for these
    #: the object HEAD lemma itself is predictive (KBPStatisticalExtractor
    #: dependencyFeatures: `if input.objectType.isRegexNERType`)
    REGEXNER_TYPES = frozenset(
        {"CRIMINAL_CHARGE", "CAUSE_OF_DEATH", "RELIGION", "TITLE", "URL"})

    def __init__(self):
        self.weights: dict[str, dict[str, float]] = {}
        self.classes: list[str] = []

    @staticmethod
    def _chop_appos(path: list[str]) -> list[str]:
        """Drop appos hops from the path (an appositive is the same entity,
        not a step in the relation). The reference collects the appos edge +
        adjacent node indices (KBPStatisticalExtractor.java:377-397; its
        removal loop then removes by loop counter — we remove the collected
        indices, the evident intent)."""
        drop = set()
        for i in range(1, len(path) - 1):
            if path[i] == "-appos->":
                drop.add(i)
                if i != 1:
                    drop.add(i - 1)
            elif path[i] == "<-appos-":
                drop.add(i)
                if i < len(path) - 1:
                    drop.add(i + 1)
        if not drop:
            return path
        return [x for i, x in enumerate(path) if i not in drop]

    @classmethod
    def dep_features(cls, dep: dict, sner: str, oner: str) -> list[str]:
        """Dependency-path feature templates after
        ``ie/KBPStatisticalExtractor.java:363-437`` (dependencyFeatures):
        path-length buckets, tag/ner-anchored inner paths, path-node words,
        edge bigrams and trigrams over the alternating
        [lemma, <-rel-/-rel->, lemma, ...] path between the mention heads.

        ``dep`` keys: path (alternating list), spos/opos (head POS tags),
        obj_head (object head lemma)."""
        feats = []
        path = dep.get("path") or []
        if not path:
            return feats
        if len(path) > 3:
            path = cls._chop_appos(path)
        n = len(path)
        bucket = ("<=3" if n == 3 else "<=5" if n <= 5 else
                  "<=7" if n <= 7 else "<=9" if n <= 9 else
                  "<=13" if n <= 13 else "<=17" if n <= 17 else ">10")
        feats.append(f"pdist={bucket}")
        if 2 < n <= 7:
            inner = "".join(path[1:-1])
            feats.append(f"deppath_w/tag={dep.get('spos', '')}{inner}{dep.get('opos', '')}")
            feats.append(f"deppath_w/ner={sner}{inner}{oner}")
        for node in path:
            if not node.startswith("-") and not node.startswith("<-"):
                feats.append(f"deppath_word={node}")
        for i in range(n - 1):
            feats.append(f"deppath_edge={path[i]}{path[i + 1]}")
        for i in range(n - 2):
            feats.append(f"deppath_chunk={path[i]}{path[i + 1]}{path[i + 2]}")
        if oner in cls.REGEXNER_TYPES and dep.get("obj_head"):
            feats.append(f"object_head={dep['obj_head']}")
        return feats

    @staticmethod
    def featurize(lemmas: list[str], sner: str, oner: str) -> list[str]:
        """Surface-feature templates after
        ``ie/KBPStatisticalExtractor.java:246-310``: direction-positioned
        lemma unigrams and boundary-marked bigrams (withMentionsPositioned),
        the type signature, mention order, the between-distance bucket, and
        comma parity. Direction arrives as the trailing ``inv`` sentinel the
        candidate generator appends when the object precedes the subject —
        stripped here into a ``|os`` feature condition (the reference embeds
        __SUBJ__/__OBJ__ markers; conditioning every span feature on the
        direction is the same statistic)."""
        subj_first = True
        if lemmas and lemmas[-1] == "inv":
            subj_first, lemmas = False, lemmas[:-1]
        d = "so" if subj_first else "os"
        low = [l.lower() for l in lemmas]
        feats = ["bias", f"sig={sner}>{oner}", f"dir={d}"]
        feats.extend(f"lem={l}|{d}" for l in low)
        prev = "_^_"
        for l in low:
            feats.append(f"big={prev} {l}|{d}")
            prev = l
        feats.append(f"big={prev} _$_|{d}")
        if low:
            feats.append(f"first={low[0]}|{d}")
            feats.append(f"last={low[-1]}|{d}")
        n = len(low)
        bucket = ("0" if n == 0 else "<=3" if n <= 3 else "<=5" if n <= 5
                  else "<=10" if n <= 10 else "<=15" if n <= 15 else ">15")
        feats.append(f"dist={bucket}")
        commas = sum(1 for l in low if l == ",")
        feats.append(f"comma_parity={'even' if commas % 2 == 0 else 'odd'}")
        return feats

    @classmethod
    def featurize_pair(cls, lemmas: list[str], sner: str, oner: str,
                       dep: dict | None = None) -> list[str]:
        """Surface features + (when a parse is available) dependency-path
        features — the full KBPStatisticalExtractor frame."""
        feats = cls.featurize(lemmas, sner, oner)
        if dep:
            feats.extend(cls.dep_features(dep, sner, oner))
        return feats

    def _scores(self, feats: list[str]) -> dict[str, float]:
        sc: dict[str, float] = defaultdict(float)
        for f in feats:
            by = self.weights.get(f)
            if by:
                for c, w in by.items():
                    sc[c] += w
        return sc

    def predict(self, lemmas: list[str], sner: str, oner: str,
                dep: dict | None = None) -> tuple[str, float]:
        """(relation|NONE, confidence) — confidence from the margin over the
        runner-up, squashed to (0, 0.85] (the ensemble rank: statistical arm
        below both pattern arms, KBPEnsembleExtractor priority)."""
        import math

        if not self.classes:
            return self.NONE, 0.0
        sc = self._scores(self.featurize_pair(lemmas, sner, oner, dep))
        ranked = sorted(self.classes, key=lambda c: (sc.get(c, 0.0), c))
        best = ranked[-1]
        margin = sc.get(best, 0.0) - (sc.get(ranked[-2], 0.0) if len(ranked) > 1 else 0.0)
        conf = min(0.85, 1.0 / (1.0 + math.exp(-margin / 2.0)))
        return best, round(conf, 4)

    def train(self, rows: list[tuple], epochs: int = 10):
        """rows: [(lemmas, subj_ner, obj_ner, relation|NONE)] or 5-tuples
        with a dep-path dict before the label; deterministic, averaged."""
        rows = [r if len(r) == 5 else (r[0], r[1], r[2], None, r[3])
                for r in rows]
        self.classes = sorted({r[-1] for r in rows})
        totals: dict[tuple[str, str], float] = defaultdict(float)
        stamps: dict[tuple[str, str], int] = defaultdict(int)
        step = 0

        def upd(f, c, delta):
            key = (f, c)
            cur = self.weights.setdefault(f, {}).get(c, 0.0)
            totals[key] += (step - stamps[key]) * cur
            stamps[key] = step
            self.weights[f][c] = cur + delta

        for _ in range(epochs):
            for lemmas, sner, oner, dep, gold in rows:
                feats = self.featurize_pair(lemmas, sner, oner, dep)
                sc = self._scores(feats)
                pred = max(self.classes, key=lambda c: (sc.get(c, 0.0), c))
                if pred != gold:
                    for f in feats:
                        upd(f, gold, 1.0)
                        upd(f, pred, -1.0)
                step += 1
        for f, by in self.weights.items():
            for c in list(by):
                key = (f, c)
                totals[key] += (step - stamps[key]) * by[c]
                by[c] = totals[key] / max(step, 1)

    def to_broadcastable(self) -> dict:
        return {"weights": {f: dict(t) for f, t in self.weights.items()},
                "classes": list(self.classes)}

    @classmethod
    def from_broadcastable(cls, blob: dict) -> "RelationClassifier":
        m = cls()
        m.weights = blob["weights"]
        m.classes = blob["classes"]
        return m
