"""Semgrex: dependency-graph patterns compiled to edge-list matchers.

Behavioral reference (re-expressed): ``semgraph/semgrex/SemgrexPattern.java``
and ``GraphRelation.java`` (SURVEY.md §2.3), validated against the
reference's own SemgrexTest golds (scripts/audit_semgrex.py). Grammar:

  {attr:val; attr:/re/}     node attribute sets (word/lemma/pos|tag/ner)
  {}  /  {$}                any node / root node
  !{...}                    negated node test (matches when attrs DON'T)
  A >rel B  /  A <rel B     direct dependent / governor via rel (prefix
                            match on enhanced relations)
  A >> B  /  A << B         transitive dependent / governor (distinct
                            nodes, multiplicity 1 per node)
  A n,m>> B / A n,m<< B     bounded-depth descendant / ancestor
  A >++ B / A >-- B         dependent to the right / left of A
  A <++ B / A <-- B         governor to the right / left of A
  A <> B                    connected (direct governor or dependent)
  A . B / A .. B            A immediately precedes / precedes B
  A - B / A -- B            A immediately follows / follows B
  A ?>rel B                 optional: bind B when present
  A !>rel B                 negation: A has NO such dependent
  A [ >r1 B | >r2 C ]       alternation over relation constraints
  A >r1 (B >r2 C)           tree-shaped scoping
  pat1 : pat2               conjunction; named captures unify across
  =name                     named node captures

Patterns compile on the driver; matching runs per sentence over the same
``depparse.SentenceGraph`` views OpenIE uses (tiny per-sentence graphs ⇒
Python match is the right altitude, SURVEY.md §2.3); node attributes are
read from the graph's raw token dicts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from corenlp_spark.operators.depparse import SentenceGraph

_NODE = re.compile(r"(!?)\{([^}]*)\}(?:=(\w+))?")
_REL = re.compile(
    r"\s*([?!]?)\s*(?:(\d+),(\d+))?"
    r"(>\+\+|>--|<\+\+|<--|>>|<<|<>|\$\+\+|\$--|\$\+|\$-|\$|\.\.|--|>|<|\.|-)"
    r"([\w:]*)(?:=(\w+))?\s*")


@dataclass
class SNode:
    checks: list[tuple[str, re.Pattern, bool]]  # (attr, regex, negated)
    root: bool = False
    name: str | None = None
    negated: bool = False

    def matches(self, tok: dict, is_root: bool, idx: int = -1) -> bool:
        if self.root and not is_root:
            return False
        ok = all(
            bool(rx.fullmatch(str(idx) if attr == "idx"
                              else str(tok.get(attr, "") or ""))) != attr_neg
            for attr, rx, attr_neg in self.checks
        )
        return (not ok) if self.negated else ok


@dataclass
class SemgrexPattern:
    """Tree-shaped pattern: a head node plus relation-constraint
    ALTERNATIVES — each constraint is (mod, op, (lo,hi)|None, rel, sub);
    a plain constraint is a single-alternative group. ``also`` holds
    ':'-conjoined clauses whose named captures unify with this one."""
    node: SNode
    groups: list[list[list[tuple]]] = field(default_factory=list)
    also: list["SemgrexPattern"] = field(default_factory=list)


def _parse_node(pattern: str, pos: int) -> tuple[SNode, int]:
    m = _NODE.match(pattern, pos)
    if not m:
        raise ValueError(f"expected node at {pattern[pos:]!r}")
    neg, body, name = m.group(1) == "!", m.group(2), m.group(3)
    checks = []
    root = False
    for part in body.split(";"):
        part = part.strip()
        if not part:
            continue
        if part == "$":
            root = True
            continue
        attr, val = part.split(":", 1)
        attr, val = attr.strip(), val.strip()
        attr_neg = attr.endswith("!")  # {word!:/Bill/} — negated attribute
        if attr_neg:
            attr = attr[:-1].strip()
        if attr == "tag":  # semgrex accepts tag as an alias of pos
            attr = "pos"
        if val.startswith("/") and val.endswith("/"):
            rx = re.compile(val[1:-1])
        else:
            rx = re.compile(re.escape(val), re.IGNORECASE)
        checks.append((attr, rx, attr_neg))
    return SNode(checks, root, name, neg), m.end()


def _skip_ws(pattern: str, pos: int) -> int:
    while pos < len(pattern) and pattern[pos].isspace():
        pos += 1
    return pos


def _parse_constraint(pattern: str, pos: int) -> tuple[tuple, int]:
    """One relation constraint: rel-op + target (node, group, or
    node-alternation ``[{A}|{B}]``)."""
    rm = _REL.match(pattern, pos)
    if not rm:
        raise ValueError(f"expected relation at {pattern[pos:]!r}")
    mod = rm.group(1)
    bound = (int(rm.group(2)), int(rm.group(3))) if rm.group(2) else None
    op, rel = rm.group(4), rm.group(5)
    edge_name = rm.group(6)  # ">obj=foo" names the matched edge
    pos = _skip_ws(pattern, rm.end())
    if pos < len(pattern) and pattern[pos] == "(":
        sub, pos = _parse_pattern(pattern, pos + 1)
        pos = _skip_ws(pattern, pos)
        if pos >= len(pattern) or pattern[pos] != ")":
            raise ValueError(f"unclosed group at {pattern[pos:]!r}")
        return (mod, op, bound, rel, [sub], edge_name), pos + 1
    if pos < len(pattern) and pattern[pos] == "[":
        # node alternation: [ {A} | {B} ] — all share this relation
        subs = []
        pos += 1
        while True:
            pos = _skip_ws(pattern, pos)
            sub_node, pos = _parse_node(pattern, pos)
            subs.append(SemgrexPattern(sub_node))
            pos = _skip_ws(pattern, pos)
            if pos < len(pattern) and pattern[pos] == "|":
                pos += 1
                continue
            if pos < len(pattern) and pattern[pos] == "]":
                pos += 1
                break
            raise ValueError(f"bad node alternation at {pattern[pos:]!r}")
        return (mod, op, bound, rel, subs, edge_name), pos
    sub_node, pos = _parse_node(pattern, pos)
    return (mod, op, bound, rel, [SemgrexPattern(sub_node)], edge_name), pos


def _parse_pattern(pattern: str, pos: int) -> tuple[SemgrexPattern, int]:
    pos = _skip_ws(pattern, pos)
    node, pos = _parse_node(pattern, pos)
    pat = SemgrexPattern(node)
    while pos < len(pattern):
        pos = _skip_ws(pattern, pos)
        if pos >= len(pattern) or pattern[pos] in ")]|:":
            break
        if pattern[pos] == "[":
            # constraint alternation: [ >r1 B | >r2 C ]
            alts: list[list[tuple]] = []
            pos += 1
            while True:
                pos = _skip_ws(pattern, pos)
                seq = []
                while pos < len(pattern) and pattern[pos] not in "|]":
                    c, pos = _parse_constraint(pattern, pos)
                    seq.append(c)
                    pos = _skip_ws(pattern, pos)
                alts.append(seq)
                if pos < len(pattern) and pattern[pos] == "|":
                    pos += 1
                    continue
                if pos < len(pattern) and pattern[pos] == "]":
                    pos += 1
                    break
                raise ValueError(f"unclosed alternation at {pattern[pos:]!r}")
            pat.groups.append(alts)
            continue
        c, pos = _parse_constraint(pattern, pos)
        pat.groups.append([[c]])
    return pat, pos


def compile_semgrex(pattern: str) -> SemgrexPattern:
    """Compile a (possibly tree-shaped, ':'-conjoined) semgrex pattern."""
    pat, pos = _parse_pattern(pattern, 0)
    pos = _skip_ws(pattern, pos)
    while pos < len(pattern) and pattern[pos] == ":":
        clause, pos = _parse_pattern(pattern, pos + 1)
        pat.also.append(clause)
        pos = _skip_ws(pattern, pos)
    if pattern[pos:].strip():
        raise ValueError(f"trailing input at {pattern[pos:]!r}")
    return pat


def _rel_match(r: str, rel: str) -> bool:
    return not rel or r == rel or r.startswith(rel + ":")


def _rel_candidates(g: SentenceGraph, t: int, op: str, rel: str,
                    bound: tuple[int, int] | None):
    lo_b = g.off
    hi_b = g.off + len(g.toks) - 1
    if op == ">":
        for d, r in g.children.get(t, ()):
            if _rel_match(r, rel):
                yield d
    elif op == "<":
        for h, r in g.parents.get(t, ()):
            if _rel_match(r, rel):
                yield h
    elif op == ">>":
        if bound:
            yield from g.reachable_in(t, bound[0], bound[1], down=True)
        elif rel:
            # A >>rel B: B is below A and the edge ADJACENT TO B (its
            # incoming edge on some path) matches rel — symmetric with
            # <<rel, where the edge adjacent to the governor matches
            # (GraphRelation GRANDKID/GRANDPARENT reln semantics,
            # SemgrexTest "{} >>det {}" golds)
            below = {t} | set(g.descendants(t))
            hits = set()
            for h2 in below:
                for d, r in g.children.get(h2, ()):
                    if _rel_match(r, rel):
                        hits.add(d)
            yield from hits
        else:
            yield from g.descendants(t)
    elif op == "<<":
        if bound:
            yield from g.reachable_in(t, bound[0], bound[1], down=False)
        elif rel:
            # A <<rel B: B is above A via a path whose first edge out of
            # B matches rel
            for h in g.ancestors(t):
                for d, r in g.children.get(h, ()):
                    if _rel_match(r, rel) and (
                            d == t or t in set(g.descendants(d))):
                        yield h
                        break
        else:
            yield from g.ancestors(t)
    elif op == "<>":
        seen = set()
        for d, _ in g.children.get(t, ()):
            if d not in seen:
                seen.add(d)
                yield d
        for h, _ in g.parents.get(t, ()):
            if h not in seen:
                seen.add(h)
                yield h
    elif op == ">++":
        for d, r in g.children.get(t, ()):
            if _rel_match(r, rel) and t < d:
                yield d
    elif op == ">--":
        for d, r in g.children.get(t, ()):
            if _rel_match(r, rel) and t > d:
                yield d
    elif op == "<++":
        for h, r in g.parents.get(t, ()):
            if _rel_match(r, rel) and t < h:
                yield h
    elif op == "<--":
        for h, r in g.parents.get(t, ()):
            if _rel_match(r, rel) and t > h:
                yield h
    elif op in ("$", "$+", "$-", "$++", "$--"):
        # siblings: same governor (semgrex $ relations; $+ = the anchor is
        # the IMMEDIATE LEFT sibling of the candidate, by token position)
        sibs = set()
        for h, _r in g.parents.get(t, ()):
            for d, _r2 in g.children.get(h, ()):
                if d != t:
                    sibs.add(d)
        for d in sorted(sibs):
            if op == "$"                     or (op == "$+" and d == t + 1)                     or (op == "$-" and d == t - 1)                     or (op == "$++" and d > t)                     or (op == "$--" and d < t):
                yield d
    elif op == ".":
        if t + 1 <= hi_b:
            yield t + 1
    elif op == "-":
        if t - 1 >= lo_b:
            yield t - 1
    elif op == "..":
        yield from range(t + 1, hi_b + 1)
    elif op == "--":
        yield from range(lo_b, t)


def _apply_constraints(seq, g: SentenceGraph, t: int,
                       bindings: list[dict]) -> list[dict]:
    """Thread one constraint sequence through the current bindings."""
    for mod, op, bound, rel, subs, edge_name in seq:
        sub_bindings: list[dict[str, int]] = []
        if edge_name and op in (">", "<"):
            # named edge: record (gov, dep, rel) under "edge:<name>"
            pairs = (
                [(t, d, r) for d, r in g.children.get(t, ())
                 if _rel_match(r, rel)] if op == ">" else
                [(h, t, r) for h, r in g.parents.get(t, ())
                 if _rel_match(r, rel)])
            for gov, dep, r in pairs:
                cand = dep if op == ">" else gov
                for sub in subs:
                    for b2 in _match_at(sub, g, cand):
                        sub_bindings.append(
                            dict(b2, **{"edge:" + edge_name: (gov, dep, r)}))
                    if sub_bindings and len(subs) > 1:
                        break
            if mod == "!":
                if sub_bindings:
                    return []
                continue
            if not sub_bindings:
                if mod == "?":
                    continue
                return []
            bindings = [dict(b, **sb) for b in bindings
                        for sb in sub_bindings]
            continue
        for cand in _rel_candidates(g, t, op, rel, bound):
            for sub in subs:
                sub_bindings.extend(_match_at(sub, g, cand))
                if sub_bindings and len(subs) > 1:
                    break  # node alternation: first matching arm wins
        if mod == "!":
            if sub_bindings:
                return []
            continue
        if not sub_bindings:
            if mod == "?":
                continue  # optional: absent is fine, bindings unchanged
            return []
        bindings = [dict(b, **sb) for b in bindings for sb in sub_bindings]
    return bindings


def _match_at(pat: SemgrexPattern, g: SentenceGraph, t: int) -> list[dict[str, int]]:
    """Bindings for ``pat`` anchored at token ``t`` (empty list = no match)."""
    if not pat.node.matches(g.tok(t), t == g.root, t - g.off):
        return []
    bindings: list[dict[str, int]] = [
        {pat.node.name: t} if pat.node.name else {}
    ]
    for alts in pat.groups:
        if len(alts) == 1:
            bindings = _apply_constraints(alts[0], g, t, bindings)
        else:
            # constraint alternation: first satisfiable arm wins (the
            # reference yields one match for "ate [ >A | >B ]" even when
            # both arms hold — SemgrexTest testBrackets)
            for seq in alts:
                out = _apply_constraints(seq, g, t, bindings)
                if out:
                    bindings = out
                    break
            else:
                return []
        if not bindings:
            return []
    # ':'-conjoined clauses: evaluate anywhere, unify shared names
    for clause in pat.also:
        clause_bindings: list[dict] = []
        for i in range(len(g.toks)):
            clause_bindings.extend(_match_at(clause, g, g.off + i))
        joined = []
        seen = set()
        for b in bindings:
            for cb in clause_bindings:
                if all(b.get(k, cb[k]) == cb[k] for k in cb):
                    merged = dict(b, **cb)
                    key = tuple(sorted(merged.items()))
                    if key not in seen:
                        seen.add(key)
                        joined.append(merged)
        bindings = joined
        if not bindings:
            return []
    return bindings


def match_semgrex(pat: SemgrexPattern, g: SentenceGraph) -> list[dict[str, int]]:
    """All matches → list of {capture_name: token_idx} (unnamed nodes
    skipped). Relations strung on a node all constrain THAT node
    (SemgrexPattern semantics); parenthesized groups shift the constraint
    scope to the inner node — arbitrary tree-shaped patterns."""
    out: list[dict[str, int]] = []
    for i in range(len(g.toks)):
        out.extend(_match_at(pat, g, g.off + i))
    return out
