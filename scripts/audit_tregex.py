"""Audit: run our tregex over every literal runTest(pattern, tree,
expected...) case in the reference's TregexTest.java.

runTest semantics (TregexTest.java): iterate matcher.find(); each match's
getMatch().toString() must equal the expected strings in order.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

JAVA = "/root/reference/test/src/edu/stanford/nlp/trees/tregex/TregexTest.java"


def extract_cases(src: str):
    """(pattern, tree, expected list) from literal runTest calls. Also
    resolves the one-step indirection runTest(TregexPattern var, ...)
    by tracking `TregexPattern x = TregexPattern.compile("...")`."""
    compiled: dict[str, str] = {}
    events = []
    for m in re.finditer(
            r'(?:TregexPattern\s+)?(\w+)\s*=\s*TregexPattern\.compile\(\s*'
            r'"((?:[^"\\]|\\.)*)"\s*\)', src):
        events.append((m.start(), "assign", (m.group(1), m.group(2))))
    for m in re.finditer(
            r'runTest\(\s*(?:"((?:[^"\\]|\\.)*)"|(\w+))\s*,\s*'
            r'"((?:[^"\\]|\\.)*)"\s*'
            r'((?:,\s*"(?:[^"\\]|\\.)*"\s*)*)\)', src, re.DOTALL):
        events.append((m.start(), "case", m))
    events.sort(key=lambda e: e[0])
    out = []
    for _pos, kind, payload in events:
        if kind == "assign":
            name, pat = payload
            compiled[name] = pat
            continue
        m = payload
        pattern = m.group(1)
        if pattern is None:
            pattern = compiled.get(m.group(2))
            if pattern is None:
                continue
        tree = m.group(3)
        expected = re.findall(r'"((?:[^"\\]|\\.)*)"', m.group(4))
        unesc = lambda x: x.replace('\\"', '"').replace("\\\\", "\\")
        out.append((unesc(pattern), unesc(tree), [unesc(e) for e in expected]))
    return out


def _tree_eq(a, b) -> bool:
    return (a.label == b.label and len(a.children) == len(b.children)
            and all(_tree_eq(x, y) for x, y in zip(a.children, b.children)))


def run_case(pattern, tree_str):
    from corenlp_spark.operators.tregex import (compile_tregex,
                                                find_matches,
                                                tree_from_string)

    tree = tree_from_string(tree_str)
    return find_matches(compile_tregex(pattern), tree)


def main():
    from audit_ptb_goldens import _strip_comments

    only_show = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    src = _strip_comments(open(JAVA, encoding="utf-8").read())
    cases = extract_cases(src)
    ok = 0
    fails = []
    for pattern, tree, expected in cases:
        try:
            got = run_case(pattern, tree)
        except Exception as e:  # noqa: BLE001
            got = [f"<EXC {type(e).__name__}: {e}>"]
        from corenlp_spark.operators.tregex import tree_from_string
        try:
            exp_trees = [tree_from_string(e) for e in expected]
        except Exception:
            continue  # non-tree expected string (named-node test helper)
        if (not isinstance(got, list) or
                (got and isinstance(got[0], str))):
            fails.append((pattern, tree, expected, got))
            continue
        if len(got) == len(exp_trees) and all(
                _tree_eq(g, e) for g, e in zip(got, exp_trees)):
            ok += 1
        else:
            fails.append((pattern, tree, expected,
                          [str(g) for g in got]))
    print(f"{ok}/{len(cases)} literal runTest cases pass")
    for pattern, tree, expected, got in fails[:only_show]:
        print(f"\nPAT {pattern!r}  TREE {tree!r}")
        print(f"  want {expected}")
        print(f"  got  {got}")


if __name__ == "__main__":
    main()
