"""TokensRegex subset: regex over token *objects* compiled to matchers over
token-attribute arrays.

Behavioral reference (re-expressed): ``ling/tokensregex/TokenSequencePattern.java``
/ ``SequenceMatcher.java`` / ``SequencePattern.java`` (SURVEY.md §2.3).
Supported grammar subset (what the engine's own stages need):

  [word:/re/]  [pos:/re/]  [ner:PERSON]  [lemma:run]   node predicates
  {word:X; pos:/VB.*/}                                  conjunction inside a node
  !{...}                                                node negation
  ([...] [...])                                         sequencing
  (?$name [...] ...)                                    named capture groups
  [...]?  [...]*  [...]+                                greedy quantifiers
  []                                                    any token

Patterns compile once on the driver into an NFA; matching runs inside
Arrow-batched UDFs (the multi-pattern annotator below broadcasts the compiled
rules and gates them with a first-token trigger index, the
``CoreMapNodePatternTrigger.java`` trick).

Quantified groups ((?$g …)+ / (…)* / (…){n,m}, ``SequencePattern.java``
RepeatPatternExpr over GroupPatternExpr) are supported natively: groups
that carry a quantifier or contain alternation compile to a ``Group`` item
matched by recursive greedy backtracking; a repeated named group captures
the full span of all repetitions (first-rep start to last-rep end — the
span-union convention this matcher already used for multi-node captures).
Simple groups still flatten to per-element capture labels.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_ATTRS = {"word", "lemma", "pos", "ner", "nner"}


@dataclass
class NodePred:
    checks: list[tuple[str, re.Pattern, bool]]  # (attr, regex, negated)
    negated: bool = False

    def matches(self, tok: dict) -> bool:
        ok = all(
            bool(rx.fullmatch(str(tok.get(attr, "") or ""))) != neg
            for attr, rx, neg in self.checks
        ) if self.checks else True
        return ok != self.negated


@dataclass
class Elem:
    pred: NodePred
    quant: str = ""          # '', '?', '*', '+', '{n}', '{n,m}'
    group: str | None = None  # capture-group name this elem belongs to

    def lazy(self) -> bool:
        """Reluctant quantifier ("*?", "+?", "{n,m}?" — SequencePattern
        RepeatPatternExpr greedy=false)."""
        return len(self.quant) > 1 and self.quant.endswith("?") \
            and self.quant != "?"

    def bounds(self, remaining: int) -> tuple[int, int]:
        """(min, max) repetitions for this element's quantifier."""
        q = self.quant
        if len(q) > 1 and q.endswith("?"):
            q = q[:-1]
        if q == "":
            return 1, 1
        if q == "?":
            return 0, 1
        if q == "*":
            return 0, remaining
        if q == "+":
            return 1, remaining
        body = q[1:-1]
        if "," in body:
            a, b = body.split(",", 1)
            return int(a), int(b)
        return int(body), int(body)


@dataclass
class AltPattern:
    """Top-level / group alternation, expanded at compile time into
    alternative element lists; the longest-matching alternative wins
    (TokensRegex maximal-match semantics)."""
    alts: list[list[Elem]]


@dataclass
class BackRef:
    r"""\N — the captured group's token WORDS must repeat verbatim
    (TokenSequenceMatcherITest testTokenSequenceMatcherBackRef)."""
    number: int


@dataclass
class Group:
    """A (possibly quantified) group: alternatives of item sequences.

    ``SequencePattern.java`` GroupPatternExpr / RepeatPatternExpr /
    OrPatternExpr re-expressed as one structured node. A named quantified
    group captures the union span of all its repetitions."""
    alts: list[list]              # each alternative: list[Elem | Group]
    name: str | None = None
    quant: str = ""

    bounds = Elem.bounds
    lazy = Elem.lazy


def _split_clauses(body: str) -> list[str]:
    """Split a node body on ; / & at top level (brace-, quote- and
    regex-aware — '&' inside /re/ or "str" or {..} is literal)."""
    out, cur = [], []
    depth = 0
    in_re = in_q = False
    i = 0
    while i < len(body):
        c = body[i]
        if in_re:
            cur.append(c)
            if c == "\\" and i + 1 < len(body):
                cur.append(body[i + 1]); i += 2; continue
            if c == "/":
                in_re = False
        elif in_q:
            cur.append(c)
            if c == '"':
                in_q = False
        elif c == "/":
            in_re = True; cur.append(c)
        elif c == '"':
            in_q = True; cur.append(c)
        elif c == "{":
            depth += 1; cur.append(c)
        elif c == "}":
            depth -= 1; cur.append(c)
        elif c in ";&" and depth == 0:
            out.append("".join(cur)); cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return [x.strip() for x in out if x.strip()]


def _parse_pred(body: str, negated: bool) -> NodePred:
    """Node predicate in any of the reference's surface forms:
    ``word:/re/`` (this engine's shorthand), ``{ word:"X" }`` CoreMap
    notation, bare ``/re/`` (word regex), bare ``"X"`` (word literal),
    ``&``/``;`` conjunction of any of these, ``!``-negated clauses."""
    checks = []
    for part in _split_clauses(body):
        neg = part.startswith("!")
        part = part.lstrip("!").strip()
        if part.startswith("{") and part.endswith("}"):
            part = part[1:-1].strip()
        if not part:
            continue
        if part.startswith("/") and part.endswith("/") and len(part) > 1:
            checks.append(("word", re.compile(part[1:-1]), neg))
            continue
        if part.startswith('"') and part.endswith('"') and len(part) > 1:
            # quoted literal word — case-sensitive like the reference
            checks.append(("word", re.compile(re.escape(part[1:-1])), neg))
            continue
        if ":" not in part:
            raise ValueError(f"bad node predicate: {part!r}")
        attr, val = part.split(":", 1)
        attr, val = attr.strip(), val.strip()
        if attr == "tag":
            attr = "pos"
        if attr not in _ATTRS:
            raise ValueError(f"unknown attribute {attr!r}")
        if val.startswith("/") and val.endswith("/"):
            rx = re.compile(val[1:-1])
        elif val.startswith('"') and val.endswith('"'):
            rx = re.compile(re.escape(val[1:-1]))
        else:
            rx = re.compile(re.escape(val), re.IGNORECASE)
        checks.append((attr, rx, neg))
    return NodePred(checks, negated)


def _find_close(pattern: str, j: int, close: str) -> int:
    """Index of the matching close bracket, skipping /re/ and "str" runs."""
    k = j + 1
    while k < len(pattern):
        c = pattern[k]
        if c == close:
            return k
        if c in "/\"":
            k += 1
            while k < len(pattern):
                if pattern[k] == "\\":
                    k += 2
                    continue
                if pattern[k] == c:
                    break
                k += 1
        k += 1
    raise ValueError(f"unclosed {close!r} in {pattern!r}")


_QUANT_RE = re.compile(r"[*+]\??|\?\??|\{\d+(?:,\d+)?\}\??")
_NODE_START_RE = re.compile(r"!?[\[{]")
_OPEN_RE = re.compile(r"\(\s*(?:\?\$(?P<name>\w+)\s*|\?:)?")


def _lex(pattern: str) -> list[tuple]:
    """Lex into (kind, payload): NODE(negated, body-with-brackets),
    OPEN(name|None), CLOSE, BAR, QUANT(q)."""
    toks: list[tuple] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch.isspace():
            i += 1
            continue
        m = _NODE_START_RE.match(pattern, i)
        # '{' is a bounded-repeat quantifier (not a node) right after a
        # node or a close-paren: '{2,3}' vs the node form '{word:x}'
        is_quant_brace = (
            ch == "{" and toks and toks[-1][0] in ("NODE", "CLOSE")
            and _QUANT_RE.match(pattern, i)
        )
        if m and not is_quant_brace:
            negated = pattern[i] == "!"
            j = i + (1 if negated else 0)
            close = "]" if pattern[j] == "[" else "}"
            k = _find_close(pattern, j, close)
            toks.append(("NODE", (negated, pattern[j:k + 1])))
            i = k + 1
        elif ch == "/" or ch == '"':
            # bare /re/ or "literal" node (TokenSequencePattern shorthand
            # for a word predicate)
            k = i + 1
            while k < len(pattern):
                if pattern[k] == "\\":
                    k += 2
                    continue
                if pattern[k] == ch:
                    break
                k += 1
            if k >= len(pattern):
                raise ValueError(f"unterminated {ch} at {i}: {pattern!r}")
            toks.append(("NODE", (False, "[" + pattern[i:k + 1] + "]")))
            i = k + 1
        elif ch == "(":
            om = _OPEN_RE.match(pattern, i)
            toks.append(("OPEN", om.group("name")))
            i = om.end()
        elif ch == ")":
            toks.append(("CLOSE", None))
            i += 1
        elif ch == "|":
            toks.append(("BAR", None))
            i += 1
        elif ch == "\\" and i + 1 < n and pattern[i + 1].isdigit():
            m2 = re.compile(r"\\(\d+)").match(pattern, i)
            toks.append(("BACKREF", int(m2.group(1))))
            i = m2.end()
        else:
            qm = _QUANT_RE.match(pattern, i)
            wm = re.compile(r"[A-Za-z0-9_][\w.'-]*").match(pattern, i)
            if qm and toks and toks[-1][0] in ("NODE", "CLOSE", "BACKREF"):
                toks.append(("QUANT", qm.group(0)))
                i = qm.end()
            elif wm:
                # bare word literal (TokenSequencePattern shorthand:
                # "(/A/+) B \1" — B matches the word exactly)
                toks.append(("NODE", (False, '["' + wm.group(0) + '"]')))
                i = wm.end()
            else:
                raise ValueError(f"bad pattern at {i}: {pattern!r}")
    return toks


def _parse_alt(toks: list[tuple], i: int, counter: list[int] | None = None
               ) -> tuple[list[list], int]:
    if counter is None:
        counter = [0]
    alts, cur = [], []
    while i < len(toks):
        kind, payload = toks[i]
        if kind == "BAR":
            alts.append(cur)
            cur = []
            i += 1
        elif kind == "CLOSE":
            break
        elif kind == "NODE":
            negated, node = payload
            quant = ""
            if i + 1 < len(toks) and toks[i + 1][0] == "QUANT":
                quant = toks[i + 1][1]
                i += 1
            cur.append(Elem(_parse_pred(node[1:-1], negated), quant))
            i += 1
        elif kind == "BACKREF":
            cur.append(BackRef(payload))
            i += 1
        elif kind == "OPEN":
            name = payload
            # unnamed capturing groups get reference-style numbers
            # ("(...)" is group 1, 2, … in source order; "(?:...)" is
            # lexed with payload None too — numbering matches the
            # reference for the plain-paren patterns its tests use)
            counter[0] += 1
            if name is None:
                name = str(counter[0])
            inner, i = _parse_alt(toks, i + 1, counter)
            if i >= len(toks) or toks[i][0] != "CLOSE":
                raise ValueError("unbalanced group")
            i += 1
            quant = ""
            if i < len(toks) and toks[i][0] == "QUANT":
                quant = toks[i][1]
                i += 1
            if quant == "" and len(inner) == 1:
                # simple group: flatten; innermost capture name wins
                # (matches the pre-r4 group_stack[-1] labelling)
                flat = inner[0]
                if name:
                    for e in flat:
                        if isinstance(e, Elem) and e.group is None:
                            e.group = name
                        elif isinstance(e, Group) and e.name is None:
                            e.name = name
                cur.extend(flat)
            else:
                cur.append(Group(inner, name, quant))
        else:  # pragma: no cover
            raise ValueError(f"unexpected token {kind}")
    alts.append(cur)
    return alts, i


def compile_pattern(pattern: str):
    """Compile a TokensRegex string into an item list (``Elem`` / ``Group``
    sequence); top-level alternation wraps into a single unquantified
    ``Group``."""
    alts, i = _parse_alt(_lex(pattern), 0)
    if i != len(_lex(pattern)):
        raise ValueError(f"unbalanced ')' in {pattern!r}")
    items = alts[0] if len(alts) == 1 else [Group(alts)]
    if not items:
        raise ValueError(f"empty pattern: {pattern!r}")
    return items


def _extend_span(groups: dict, name: str, s: int, e: int) -> dict:
    g2 = dict(groups)
    s0, e0 = g2.get(name, (s, s))
    g2[name] = (min(s0, s), max(e0, e))
    return g2


def _gen_seq(items, toks, ti, groups):
    """Yield (end, groups) candidates for matching ``items`` at ``ti``,
    greedy-longest first for quantifiers, longest-alternative first for
    alternation. Callers take the first yield for match semantics."""
    if not items:
        yield ti, groups
        return
    head = items[0]
    for ti2, g2 in _gen_item(head, toks, ti, groups):
        yield from _gen_seq(items[1:], toks, ti2, g2)


# complexity guards for quantified-Group backtracking (see _gen_item)
_REPS_CAND_CAP = 64
_REPS_STEP_BUDGET = 10_000


def _gen_item(item, toks, ti, groups):
    if isinstance(item, BackRef):
        span = groups.get(str(item.number))
        if span is None:
            return
        s0, e0 = span
        k = e0 - s0
        if ti + k <= len(toks) and all(
                toks[ti + j].get("word") == toks[s0 + j].get("word")
                for j in range(k)):
            yield ti + k, groups
        return
    if isinstance(item, Elem):
        lo, hi = item.bounds(len(toks) - ti)
        n = 0
        while n < hi and ti + n < len(toks) and item.pred.matches(toks[ti + n]):
            n += 1
        if n < lo:
            return
        order = range(lo, n + 1) if item.lazy() else range(n, lo - 1, -1)
        for take in order:
            g2 = groups
            if item.group and take > 0:
                g2 = _extend_span(groups, item.group, ti, ti + take)
            yield ti + take, g2
        return
    # Group: greedy repetition with backtracking; each repetition tries
    # alternatives longest-first (TokensRegex maximal-match semantics).
    # Work is bounded: at most _REPS_CAND_CAP candidates per repetition
    # level and _REPS_STEP_BUDGET expansions per Group — a user-supplied
    # quantified group with optional inner elements over a long token run
    # degrades to the greedy-first prefix of the search instead of
    # exponential time/space.
    lo, hi = item.bounds(len(toks) - ti)
    start0 = ti
    budget = [_REPS_STEP_BUDGET]

    def reps(n, t, g):
        if item.lazy() and n >= lo:
            yield t, g  # reluctant: fewest repetitions first
        if n < hi and budget[0] > 0:
            cands = []
            for alt in item.alts:
                for cand in _gen_seq(alt, toks, t, g):
                    cands.append(cand)
                    budget[0] -= 1
                    if len(cands) >= _REPS_CAND_CAP or budget[0] <= 0:
                        break
                if len(cands) >= _REPS_CAND_CAP or budget[0] <= 0:
                    break
            cands.sort(key=lambda r: r[0] if item.lazy() else -r[0])
            for t2, g2 in cands:
                if t2 == t:
                    # zero-width repetition: no progress, so never recurse —
                    # but when the minimum is unmet, one zero-width match
                    # stands in for ALL remaining required reps (repeating
                    # it changes nothing), matching java.util.regex where
                    # (X?){n} satisfies its minimum via empty matches
                    if n < lo:
                        yield t2, g2
                    continue
                yield from reps(n + 1, t2, g2)
        if n >= lo and not item.lazy():
            yield t, g
    for end, g in reps(0, ti, groups):
        if item.name and end > start0:
            g = _extend_span(g, item.name, start0, end)
        yield end, g


def match_sequence(elems, toks: list[dict], start: int = 0):
    """Greedy backtracking match at ``start`` → (end, {group: (s, e)}) or
    None. Accepts an item list or a legacy ``AltPattern`` (longest
    alternative wins)."""
    if isinstance(elems, AltPattern):
        best = None
        for alt in elems.alts:
            r = match_sequence(alt, toks, start)
            if r and (best is None or r[0] > best[0]):
                best = r
        return best
    for end, groups in _gen_seq(elems, toks, start, {}):
        return end, groups
    return None


def find_all(elems, toks: list[dict]):
    """Non-overlapping left-to-right matches → [(start, end, groups)]."""
    out = []
    i = 0
    while i < len(toks):
        r = match_sequence(elems, toks, i)
        if r and r[0] > i:
            out.append((i, r[0], r[1]))
            i = r[0]
        else:
            i += 1
    return out
