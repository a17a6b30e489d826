"""Audit: run our semgrex over every literal runTest(pattern, graph,
expected...) case in the reference's SemgrexTest.java.

Graphs come from SemanticGraph.valueOf bracket notation parsed here; the
shared makeComplicatedGraph() fixture is hand-ported (word A..J,
SemgrexTest.java:412-453). Expected = the sequence of matched-node words
(with multiplicity, order-insensitive compare).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

JAVA = ("/root/reference/test/src/edu/stanford/nlp/semgraph/semgrex/"
        "SemgrexTest.java")


def _mk_tok(spec: str) -> dict:
    """'Bill/NNP' → word + pos; plain words have no tag."""
    if "/" in spec and not spec.startswith("/"):
        w, _, t = spec.rpartition("/")
        return {"word": w, "pos": t, "lemma": w}
    return {"word": spec, "lemma": spec}


def parse_value_of(s: str):
    """Parse "[ate subj>Bill obj>[muffins compound>blueberry]]" →
    (toks, edges, root): toks = [{'word': w}], edges = (head, dep, rel)."""
    toks: list[dict] = []
    edges: list[tuple[int, int, str]] = []

    pos = 0

    def skip_ws():
        nonlocal pos
        while pos < len(s) and s[pos].isspace():
            pos += 1

    def parse_node() -> int:
        nonlocal pos
        skip_ws()
        if s[pos] == "[":
            pos += 1
            skip_ws()
            m = re.match(r"[^\s\[\]>]+", s[pos:])
            head_word = m.group()
            pos += len(head_word)
            head = len(toks)
            toks.append(_mk_tok(head_word))
            while True:
                skip_ws()
                if s[pos] == "]":
                    pos += 1
                    return head
                m = re.match(r"([\w:'-]+)>", s[pos:])
                rel = m.group(1)
                pos += m.end()
                child = parse_node()
                edges.append((head, child, rel))
        else:
            m = re.match(r"[^\s\[\]>]+", s[pos:])
            word = m.group()
            pos += len(word)
            idx = len(toks)
            toks.append(_mk_tok(word))
            return idx

    root = parse_node()
    return toks, edges, root


def complicated_graph():
    words = list("ABCDEFGHIJ")
    toks = [{"word": w} for w in words]
    E = [(0, 1, "mod"), (0, 2, "obj"), (0, 3, "iobj"), (1, 4, "mark"),
         (2, 4, "expl"), (3, 4, "ccomp"), (4, 5, "amod"), (4, 6, "advmod"),
         (4, 9, "mod"), (5, 7, "nmod:poss"), (6, 7, "case"), (7, 9, "agent"),
         (9, 8, "det")]
    return toks, E, 0


def extract_cases(src: str):
    """(pattern, graph_literal_or_None, expected_words) for literal calls.
    A bare ``graph`` argument resolves to the nearest preceding
    ``SemanticGraph.valueOf(...)`` assignment in the file, else the
    hand-ported complicated graph."""
    out = []
    events = []  # (pos, kind, payload)
    for a in re.finditer(
            r'graph\s*=\s*\n?\s*SemanticGraph\.valueOf\("((?:[^"\\]|\\.)*)"\)',
            src):
        events.append((a.start(), "assign", a.group(1)))
    for a in re.finditer(r"makeComplicatedGraph\(\)", src):
        events.append((a.start(), "assign", None))
    for m in re.finditer(
            r'runTest\(\s*"((?:[^"\\]|\\.)*)"\s*,\s*'
            r'(?:"((?:[^"\\]|\\.)*)"|graph)\s*'
            r'((?:,\s*"(?:[^"\\]|\\.)*"\s*)*)\)', src):
        events.append((m.start(), "case", m))
    events.sort(key=lambda e: e[0])
    current = None
    for _pos, kind, payload in events:
        if kind == "assign":
            current = payload
            continue
        m = payload
        pattern = m.group(1).replace('\\"', '"').replace("\\\\", "\\")
        graph = m.group(2)
        if graph is not None:
            graph = graph.replace('\\"', '"').replace("\\\\", "\\")
        else:
            graph = current  # None → complicated
        expected = re.findall(r'"((?:[^"\\]|\\.)*)"', m.group(3))
        out.append((pattern, graph, expected))
    return out


def run_case(pattern, graph_spec):
    from corenlp_spark.operators.depparse import SentenceGraph
    from corenlp_spark.operators.semgrex import _match_at, compile_semgrex

    if graph_spec is None:
        toks, edges, root = complicated_graph()
    else:
        toks, edges, root = parse_value_of(graph_spec)
    g = SentenceGraph(toks, edges)
    g.root = root
    pat = compile_semgrex(pattern)
    matched = []
    for i in range(len(toks)):
        for _b in _match_at(pat, g, i):
            matched.append(toks[i]["word"])
    return matched


def main():
    src = open(JAVA, encoding="utf-8").read()
    cases = extract_cases(src)
    ok = 0
    fails = []
    for pattern, graph, expected in cases:
        try:
            got = run_case(pattern, graph)
        except Exception as e:  # noqa: BLE001
            got = [f"<EXC {type(e).__name__}: {e}>"]
        expected = [e.split("/")[0] for e in expected]
        if sorted(got) == sorted(expected):
            ok += 1
        else:
            fails.append((pattern, graph, expected, got))
    print(f"{ok}/{len(cases)} literal runTest cases pass")
    for pattern, graph, expected, got in fails[:int(sys.argv[1]) if len(sys.argv) > 1 else 12]:
        print(f"\nPAT {pattern!r}  GRAPH {'(complicated)' if graph is None else graph!r}")
        print(f"  want {expected}")
        print(f"  got  {got}")


if __name__ == "__main__":
    main()
