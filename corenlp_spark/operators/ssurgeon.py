"""Ssurgeon: semgrex-driven semantic-graph surgery (re-expressed).

Behavioral reference: ``semgraph/semgrex/ssurgeon/Ssurgeon.java`` and the
edit operations under the same package — the rule language the reference
uses to post-edit dependency graphs (UD fixups, MWT combination):

    <ssurgeon-pattern-list>
      <ssurgeon-pattern>
        <uid>…</uid><notes>…</notes>
        <semgrex>{}=a1 >obj=foo {}=a2</semgrex>
        <edit-list>relabelNamedEdge -edge foo -reln dep</edit-list>
      </ssurgeon-pattern>
    </ssurgeon-pattern-list>

Supported edits: addEdge, removeEdge, removeNamedEdge, relabelNamedEdge,
reattachNamedEdge, editNode (word/lemma/pos/ner set + -remove), addDep
(with -position), delete (subtree), setRoots, killAllIncomingEdges,
killNonRooted, combineMWT (marks mwt_text on the nodes).

Graphs are :class:`SsGraph` — indexed nodes with token attributes, an
edge multiset, and explicit roots; ``SsGraph.value_of`` reads the
reference's bracket notation (with optional ``word-index`` suffixes) and
equality is node+edge+root set equality, matching SemanticGraph.equals.
"""

from __future__ import annotations

import re
import shlex
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from corenlp_spark.operators.depparse import SentenceGraph
from corenlp_spark.operators.semgrex import _match_at, compile_semgrex

__all__ = ["SsGraph", "Ssurgeon", "SsurgeonPattern"]


@dataclass
class SsNode:
    index: int
    word: str
    lemma: str | None = None
    pos: str | None = None
    ner: str | None = None
    mwt_text: str | None = None

    def key(self):
        return (self.index, self.word)


class SsGraph:
    def __init__(self):
        self.nodes: dict[int, SsNode] = {}
        self.edges: list[tuple[int, int, str]] = []  # (gov, dep, rel)
        self.roots: set[int] = set()

    # -- construction ------------------------------------------------------
    @classmethod
    def value_of(cls, s: str) -> "SsGraph":
        """Parse "[A-0 obj> B-1 obj> [C-2 …]]"; un-suffixed words get
        indices in order of first appearance (1-based, as the reference's
        valueOf does)."""
        g = cls()
        auto = [1]

        def mk(tokspec: str) -> int:
            m = re.fullmatch(r"(.*)-(\d+)", tokspec)
            if m:
                idx, word = int(m.group(2)), m.group(1)
            else:
                idx, word = auto[0], tokspec
                auto[0] += 1
            if idx not in g.nodes:
                g.nodes[idx] = SsNode(idx, word)
            return idx

        toks = re.findall(r"\[|\]|[^\s\[\]>]+>|[^\s\[\]>]+", s)
        pos = [0]

        def parse() -> int:
            assert toks[pos[0]] == "["
            pos[0] += 1
            head = mk(toks[pos[0]])
            pos[0] += 1
            while pos[0] < len(toks) and toks[pos[0]] != "]":
                rel = toks[pos[0]]
                assert rel.endswith(">"), rel
                rel = rel[:-1]
                pos[0] += 1
                if toks[pos[0]] == "[":
                    child = parse()
                else:
                    child = mk(toks[pos[0]])
                    pos[0] += 1
                g.edges.append((head, child, rel))
            pos[0] += 1
            return head

        while toks[pos[0]] != "[":
            pos[0] += 1
        root = parse()
        g.roots = {root}
        return g

    def copy(self) -> "SsGraph":
        g = SsGraph()
        g.nodes = {i: SsNode(n.index, n.word, n.lemma, n.pos, n.ner,
                             n.mwt_text) for i, n in self.nodes.items()}
        g.edges = list(self.edges)
        g.roots = set(self.roots)
        return g

    def __eq__(self, other) -> bool:
        if not isinstance(other, SsGraph):
            return NotImplemented
        return (sorted((n.index, n.word) for n in self.nodes.values())
                == sorted((n.index, n.word) for n in other.nodes.values())
                and sorted(self.edges) == sorted(other.edges)
                and self.roots == other.roots)

    def __repr__(self):
        es = ", ".join(f"{g}-{r}->{d}" for g, d, r in sorted(self.edges))
        return f"SsGraph(roots={sorted(self.roots)}, [{es}])"

    # -- semgrex bridge ----------------------------------------------------
    def _sentence_graph(self) -> tuple[SentenceGraph, list[int]]:
        order = sorted(self.nodes)
        local = {idx: i for i, idx in enumerate(order)}
        toks = [{"word": self.nodes[idx].word,
                 "lemma": self.nodes[idx].lemma or self.nodes[idx].word,
                 "pos": self.nodes[idx].pos or "",
                 "ner": self.nodes[idx].ner or ""} for idx in order]
        edges = [(local[g], local[d], r) for g, d, r in self.edges]
        sg = SentenceGraph(toks, edges)
        sg.root = local[next(iter(self.roots))] if self.roots else -1
        return sg, order


# --------------------------------------------------------------------------
# edits
# --------------------------------------------------------------------------

def _args(spec: str) -> dict:
    parts = shlex.split(spec)
    op = parts[0]
    out: dict[str, list[str]] = {"__op__": [op]}
    k = None
    for p in parts[1:]:
        # "-position" takes one value that may itself start with a dash
        # ("-position -node2" = right after node2)
        if k == "position" and not out[k]:
            out[k].append(p)
            k = None
            continue
        if p.startswith("-") and not p[1:].replace(".", "").isdigit():
            k = p[1:]
            out.setdefault(k, [])
        else:
            out.setdefault(k, []).append(p)
    return out


@dataclass
class SsurgeonPattern:
    uid: str
    semgrex: str
    edits: list[str]
    notes: str = ""
    _compiled: object = field(default=None, repr=False)

    def __post_init__(self):
        self._compiled = compile_semgrex(self.semgrex)

    def _matches(self, g: SsGraph):
        sg, order = g._sentence_graph()
        for i in range(len(order)):
            for b in _match_at(self._compiled, sg, i):
                yield {
                    k: (order[v] if isinstance(v, int)
                        else (order[v[0]], order[v[1]], v[2]))
                    for k, v in b.items()
                }

    def execute(self, g: SsGraph) -> list[SsGraph]:
        """One modified copy per match whose edits CHANGED the graph."""
        out = []
        for binds in self._matches(g):
            g2 = g.copy()
            if _apply_edits(g2, self.edits, binds):
                out.append(g2)
        return out

    def iterate(self, g: SsGraph, max_iters: int = 100) -> SsGraph:
        """Apply until fixpoint (the reference's iterate)."""
        cur = g.copy()
        for _ in range(max_iters):
            changed = False
            for binds in self._matches(cur):
                g2 = cur.copy()
                if _apply_edits(g2, self.edits, binds):
                    cur = g2
                    changed = True
                    break
            if not changed:
                return cur
        return cur


def _apply_edits(g: SsGraph, edits: list[str], binds: dict) -> bool:
    changed = False
    for spec in edits:
        a = _args(spec)
        op = a["__op__"][0].lower()
        if op == "addedge":
            gov, dep = binds[a["gov"][0]], binds[a["dep"][0]]
            rel = a["reln"][0]
            if (gov, dep, rel) not in g.edges:
                g.edges.append((gov, dep, rel))
                changed = True
        elif op == "removeedge":
            gov = binds.get(a["gov"][0]) if "gov" in a else None
            dep = binds.get(a["dep"][0]) if "dep" in a else None
            rel = a["reln"][0] if "reln" in a else None
            keep = [e for e in g.edges
                    if not ((gov is None or e[0] == gov)
                            and (dep is None or e[1] == dep)
                            and (rel is None or e[2] == rel))]
            changed |= len(keep) != len(g.edges)
            g.edges = keep
        elif op == "removenamededge":
            e = binds.get("edge:" + a["edge"][0])
            if e in g.edges:
                g.edges.remove(e)
                changed = True
        elif op == "relabelnamededge":
            e = binds.get("edge:" + a["edge"][0])
            if e in g.edges:
                g.edges.remove(e)
                g.edges.append((e[0], e[1], a["reln"][0]))
                changed = True
        elif op == "reattachnamededge":
            e = binds.get("edge:" + a["edge"][0])
            if e in g.edges:
                gov = binds[a["gov"][0]] if "gov" in a else e[0]
                dep = binds[a["dep"][0]] if "dep" in a else e[1]
                if (gov, dep, e[2]) != e:
                    g.edges.remove(e)
                    g.edges.append((gov, dep, e[2]))
                    changed = True
        elif op == "editnode":
            node = g.nodes[binds[a["node"][0]]]
            for attr in ("word", "lemma", "pos", "ner"):
                if attr in a:
                    if getattr(node, attr) != a[attr][0]:
                        setattr(node, attr, a[attr][0])
                        changed = True
            if "tag" in a and node.pos != a["tag"][0]:
                node.pos = a["tag"][0]
                changed = True
            for attr in a.get("remove", []):
                if getattr(node, attr, None) is not None:
                    setattr(node, attr, None)
                    changed = True
        elif op == "adddep":
            gov = binds[a["gov"][0]]
            rel = a["reln"][0]
            # -position: "+word" = right before named node, "-word" =
            # right after, "+" append at end
            position = a.get("position", ["+"])[0]
            if position.startswith("+") and len(position) > 1:
                anchor = binds[position[1:]]
                new_idx = anchor  # takes the anchor's index; others shift
            elif position.startswith("-") and len(position) > 1:
                anchor = binds[position[1:]]
                new_idx = anchor + 1
            else:
                new_idx = max(g.nodes) + 1
            # shift existing indices ≥ new_idx up by one
            if new_idx in g.nodes:
                remap = {i: (i + 1 if i >= new_idx else i) for i in g.nodes}
                g.nodes = {remap[i]: SsNode(remap[i], n.word, n.lemma,
                                            n.pos, n.ner, n.mwt_text)
                           for i, n in g.nodes.items()}
                g.edges = [(remap[h], remap[d], r) for h, d, r in g.edges]
                g.roots = {remap[r] for r in g.roots}
                binds = {k: (remap[v] if isinstance(v, int) else
                             (remap[v[0]], remap[v[1]], v[2]))
                         for k, v in binds.items()}
                gov = remap[gov] if isinstance(gov, int) else gov
            node = SsNode(new_idx, a.get("word", ["_"])[0],
                          a.get("lemma", [None])[0],
                          (a.get("pos") or a.get("tag") or [None])[0],
                          a.get("ner", [None])[0])
            g.nodes[new_idx] = node
            g.edges.append((gov, new_idx, rel))
            changed = True
        elif op == "delete":
            # delete the named node and everything below it
            start = binds[a["node"][0]]
            doomed = {start}
            frontier = [start]
            while frontier:
                x = frontier.pop()
                for h, d, r in g.edges:
                    if h == x and d not in doomed:
                        doomed.add(d)
                        frontier.append(d)
            g.edges = [e for e in g.edges
                       if e[0] not in doomed and e[1] not in doomed]
            for d in doomed:
                g.nodes.pop(d, None)
            g.roots -= doomed
            changed = True
        elif op == "setroots":
            new_roots = {binds[n] for n in a.get("__op__args__", [])} or \
                {binds[n] for n in spec.split()[1:]}
            if new_roots != g.roots:
                g.roots = new_roots
                changed = True
        elif op == "killallincomingedges":
            node = binds[a["node"][0]]
            keep = [e for e in g.edges if e[1] != node]
            changed |= len(keep) != len(g.edges)
            g.edges = keep
        elif op == "killnonrooted":
            reach = set(g.roots)
            frontier = list(g.roots)
            while frontier:
                x = frontier.pop()
                for h, d, r in g.edges:
                    if h == x and d not in reach:
                        reach.add(d)
                        frontier.append(d)
            dead = set(g.nodes) - reach
            if dead:
                g.edges = [e for e in g.edges
                           if e[0] in reach and e[1] in reach]
                for d in dead:
                    g.nodes.pop(d)
                changed = True
        elif op == "combinemwt":
            idxs = sorted(binds[n] for n in a["node"])
            text = a.get("word", [None])[0] or "".join(
                g.nodes[i].word for i in idxs)
            for i in idxs:
                if g.nodes[i].mwt_text != text:
                    g.nodes[i].mwt_text = text
                    changed = True
        else:
            raise ValueError(f"unsupported ssurgeon edit: {spec!r}")
    return changed


class Ssurgeon:
    """XML rule-list reader (Ssurgeon.inst().readFromString analog)."""

    @staticmethod
    def read_from_string(doc: str) -> list[SsurgeonPattern]:
        root = ET.fromstring(doc)
        out = []
        for pat in root.findall("ssurgeon-pattern"):
            out.append(SsurgeonPattern(
                uid=(pat.findtext("uid") or "").strip(),
                semgrex=(pat.findtext("semgrex") or "").strip(),
                edits=[(e.text or "").strip()
                       for e in pat.findall("edit-list")],
                notes=(pat.findtext("notes") or "").strip(),
            ))
        return out
