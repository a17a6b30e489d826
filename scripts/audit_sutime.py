"""Audit: run the sutime kernel over every test method in the reference's
SUTimeITest.java that has a document reference date, and report which
expected TIMEX3 annotations we already reproduce (value + overlapping text).

Dev-only census tool — identifies the next tranche to port; the repo's
standalone gates live in tests/test_aux.py.
"""

from __future__ import annotations

import datetime
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

JAVA = "/root/reference/itest/src/edu/stanford/nlp/time/SUTimeITest.java"

_STR = re.compile(r'"((?:[^"\\]|\\.)*)"')
_TIMEX = re.compile(r'Timex\.fromXml\("((?:[^"\\]|\\.)*)"\)')


def _unescape(s: str) -> str:
    return (s.replace(r"\"", '"').replace(r"\n", "\n").replace("\\\\", "\\")
            .replace(r"\'", "'"))


def parse_methods(src: str):
    """Yield (name, body) for each test method."""
    for m in re.finditer(r"public void (test\w+)\(\)", src):
        start = src.index("{", m.end())
        nxt = re.search(r"public void test\w+\(\)", src[m.end():])
        end = m.end() + (nxt.start() if nxt else len(src) - m.end())
        yield m.group(1), src[start:end]


def parse_timex(xml: str):
    attrs = dict(re.findall(r'(\w+)=\\?"([^"\\]*)\\?"', xml))
    m = re.search(r">([^<]*)</TIMEX3>", xml)
    return {
        "text": _unescape(m.group(1)) if m else "",
        "value": attrs.get("value") or attrs.get("alt_value") or "",
        "type": attrs.get("type", ""),
        "mod": attrs.get("mod", ""),
    }


def extract_cases(body: str):
    """Return (test_text, docdate, expected list) or None."""
    tm = re.search(r"String testText\s*=\s*(.*?);\n", body, re.DOTALL)
    if not tm:
        return None
    test_text = "".join(_unescape(x) for x in _STR.findall(tm.group(1)))
    dm = re.search(
        r'createDocument\(\s*testText\s*,\s*"(\d{4})-?(\d{2})-?(\d{2})"\)',
        body)
    if not dm:
        return None
    docdate = "".join(dm.groups())
    # the expectation list that pairs with the dated document: prefer
    # expectedTimexesResolved, else the single expectedTimexes list
    seg = None
    rm = re.search(
        r"expectedTimexesResolved\s*=(.*?)\.iterator\(\)", body, re.DOTALL)
    if rm:
        seg = rm.group(1)
    else:
        rm = re.search(
            r"expectedTimexes\s*=(.*?)\.iterator\(\)", body, re.DOTALL)
        if rm:
            seg = rm.group(1)
    if seg is None:
        return None
    expected = [parse_timex(x) for x in _TIMEX.findall(seg)]
    return test_text, docdate, expected


def our_spans(text: str, docdate: datetime.date):
    """Run the kernel (tokenize → resolve → ranges/mods) over one text;
    return list of (span_text, ner, value, mod)."""
    from corenlp_spark.operators.ner import numeric_pass
    from corenlp_spark.operators.sutime import annotate_tokens
    from corenlp_spark.operators.tokenize import tokenize_text

    toks = [
        {"word": w, "original": o, "begin": b, "end": e, "ner": "O",
         "nner": ""}
        for w, o, b, e in tokenize_text(text)
    ]
    words = [t["word"] for t in toks]
    # the pipeline's numeric/date normalization runs in the NER stage;
    # replay it so explicit dates ("October 1, 1999", "8:00 pm") resolve
    ner_tags = [t["ner"] for t in toks]
    nner_vals = [t["nner"] for t in toks]
    numeric_pass(words, ner_tags, nner_vals)
    for t, ner, nner in zip(toks, ner_tags, nner_vals):
        t["ner"], t["nner"] = ner, nner
    annotate_tokens(toks, docdate)
    spans = []
    cur = None
    for t in toks:
        key = (t.get("ner"), t.get("nner"), t.get("mod", ""))
        if t.get("ner") in ("DATE", "TIME", "DURATION", "SET") and t.get("nner"):
            if cur and cur[1:] == list(key):
                cur[0].append(t)
            else:
                if cur:
                    spans.append(cur)
                cur = [[t], *key]
        else:
            if cur:
                spans.append(cur)
            cur = None
    if cur:
        spans.append(cur)
    out = []
    for ts, ner, val, mod in spans:
        val = str(val)
        if "|" in val:  # engine serialization: value|MOD
            val, mod = val.split("|", 1)
        out.append((text[ts[0]["begin"]:ts[-1]["end"]], ner, val, mod or ""))
    return out


def main():
    only = sys.argv[1:] or None
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from audit_ptb_goldens import _strip_comments

    src = _strip_comments(open(JAVA, encoding="utf-8").read())
    total = ok = 0
    by_test = {}
    for name, body in parse_methods(src):
        if only and name not in only:
            continue
        case = extract_cases(body)
        if case is None:
            continue
        test_text, dd, expected = case
        docdate = datetime.date(int(dd[:4]), int(dd[4:6]), int(dd[6:]))
        spans = []
        for line in test_text.split("\n"):
            if line.strip():
                spans.extend(our_spans(line, docdate))
        t_ok = 0
        misses = []
        for exp in expected:
            hit = any(
                v == exp["value"]
                and (st in exp["text"] or exp["text"] in st)
                and (not exp["mod"] or md == exp["mod"])
                for st, _n, v, md in spans
            )
            if hit:
                t_ok += 1
            else:
                near = [s for s in spans
                        if s[0] in exp["text"] or exp["text"] in s[0]]
                misses.append((exp["text"], exp["value"], exp["mod"],
                               near[:2]))
        total += len(expected)
        ok += t_ok
        by_test[name] = (t_ok, len(expected), misses)
    for name, (t_ok, n, misses) in sorted(by_test.items()):
        print(f"{name}: {t_ok}/{n}")
        if only:
            for text, val, mod, near in misses:
                print(f"   MISS {text!r} -> {val} {mod and f'mod={mod}'}")
                for s in near:
                    print(f"        ours: {s}")
    print(f"\nTOTAL {ok}/{total}")


if __name__ == "__main__":
    main()
