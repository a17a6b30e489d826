"""Audit: run tokenize_text over every paired (inputs, gold) array in the
reference's PTBTokenizerTest.java and report the cases that still mismatch.

Dev-only tool (not a test): it parses the Java string literals, so the
reference file stays the single source of truth for the remaining tranche.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

JAVA = "/root/reference/test/src/edu/stanford/nlp/process/PTBTokenizerTest.java"

_STR = re.compile(r'"((?:[^"\\]|\\.)*)"')


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        n = s[i + 1]
        if n == "u":
            out.append(chr(int(s[i + 2:i + 6], 16)))
            i += 6
        elif n == "n":
            out.append("\n"); i += 2
        elif n == "t":
            out.append("\t"); i += 2
        elif n == "r":
            out.append("\r"); i += 2
        elif n == "f":
            out.append("\f"); i += 2
        elif n == "b":
            out.append("\b"); i += 2
        else:
            out.append(n); i += 2
    joined = "".join(out)
    # Java \uXXXX escapes encode non-BMP chars as surrogate pairs — combine
    return _SURROGATE_PAIR.sub(
        lambda m: chr(0x10000 + (ord(m.group()[0]) - 0xD800) * 0x400
                      + (ord(m.group()[1]) - 0xDC00)),
        joined,
    )


_SURROGATE_PAIR = re.compile("[\ud800-\udbff][\udc00-\udfff]")


def _strip_comments(src: str) -> str:
    """Remove // and /* */ comments (string-literal aware)."""
    out = []
    i = 0
    in_str = False
    while i < len(src):
        c = src[i]
        if in_str:
            out.append(c)
            if c == "\\":
                out.append(src[i + 1])
                i += 2
                continue
            if c == '"':
                in_str = False
            i += 1
        elif c == '"':
            in_str = True
            out.append(c)
            i += 1
        elif src.startswith("//", i):
            i = src.find("\n", i)
            i = len(src) if i < 0 else i
        elif src.startswith("/*", i):
            i = src.find("*/", i) + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _balance_to_end(src: str, start: int) -> str:
    """Return the text of the array initializer starting at the '{' at start."""
    depth = 0
    i = start
    in_str = False
    while i < len(src):
        c = src[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == '"':
                in_str = False
        elif c == '"':
            in_str = True
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return src[start:i + 1]
        i += 1
    raise ValueError("unbalanced")


def _split_top_commas(body: str) -> list[str]:
    """Split an initializer body (without outer braces) on depth-0 commas."""
    items = []
    cur = []
    depth = 0
    in_str = False
    i = 0
    while i < len(body):
        c = body[i]
        if in_str:
            cur.append(c)
            if c == "\\":
                cur.append(body[i + 1])
                i += 2
                continue
            if c == '"':
                in_str = False
        elif c == '"':
            in_str = True
            cur.append(c)
        elif c in "{([":
            depth += 1
            cur.append(c)
        elif c in "})]":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    if "".join(cur).strip():
        items.append("".join(cur))
    return [x for x in items if x.strip()]


def parse_array(src: str, name: str):
    m = re.search(rf"String\[\]\[?\]?\s+{name}\s*=\s*", src)
    if not m:
        return None
    body = _balance_to_end(src, src.index("{", m.end()))[1:-1]
    # 1-D: each element is one-or-more `+`-concatenated string literals.
    # 2-D: each element is an inner {...} initializer.
    if re.search(rf"String\[\]\[\]\s+{name}", src):
        return [
            ["".join(_unescape(x) for x in _STR.findall(elem))
             for elem in _split_top_commas(grp.strip()[1:-1])]
            for grp in _split_top_commas(body)
        ]
    return ["".join(_unescape(x) for x in _STR.findall(elem))
            for elem in _split_top_commas(body)]


def main():
    from corenlp_spark.operators.tokenize import tokenize_text

    src = _strip_comments(open(JAVA, encoding="utf-8").read())
    # Reference option semantics (PTBLexer.flex:157-181):
    #   ptb3Escaping → latex quotes, ASCII ellipses/dashes, paren escaping,
    #                  no hyphen/slash splitting
    #   default (CoreNLP 4.x "ud") → NOT_CP1252 quotes/ellipses/dashes,
    #                  splitHyphenated + splitForwardSlash, no paren escaping
    PTB3 = {
        "normalize_quotes": True, "normalize_ellipsis": True,
        "normalize_dashes": True, "normalize_parentheses": True,
        "split_hyphenated": False, "split_forward_slash": False,
    }
    UD = {
        "normalize_quotes": False, "normalize_ellipsis": False,
        "normalize_dashes": False, "normalize_parentheses": False,
        "split_hyphenated": True, "split_forward_slash": True,
    }
    # PTBTokenizer always emits SGML tags as tokens — stripping is this
    # repo's fused-CleanXML default, so the audit opts back in everywhere.
    PTB3 = dict(PTB3, keep_sgml_tokens=True)
    UD = dict(UD, keep_sgml_tokens=True)
    pairs = [
        ("ptbInputs", "ptbGold", PTB3),
        ("moreInputs", "moreGold", PTB3),
        ("mtInputs", "mtGold", PTB3),
        ("emojiInputs", "emojiGold", UD),
        ("tweetInputs", "tweetGold", UD),
        ("hyphenInputs", "hyphenGold", PTB3),
        ("apostropheInputs", "apostropheGold",
         dict(PTB3, normalize_parentheses=False)),
        ("sgmlInputs", "sgmlGold", dict(UD, keep_sgml_tokens=True)),
        ("ptbInputs", "ptbGoldSplitHyphenated",
         dict(UD, ellipses="unicode")),
        ("mtInputs", "mtGoldUD", UD),
        ("moreInputs", "moreGoldUD", UD),
    ]
    total = ok = 0
    fails = []
    for in_name, gold_name, opts in pairs:
        inputs = parse_array(src, in_name)
        gold = parse_array(src, gold_name)
        if inputs is None or gold is None:
            print(f"-- {in_name}/{gold_name}: NOT FOUND")
            continue
        for i, (text, want) in enumerate(zip(inputs, gold)):
            total += 1
            try:
                got = [t[0] for t in tokenize_text(text, opts or None)]
            except Exception as e:  # noqa: BLE001
                got = [f"<EXC {e}>"]
            if got == want:
                ok += 1
            else:
                fails.append((gold_name, i, text, want, got))
    print(f"{ok}/{total} golden cases pass")
    for gold_name, i, text, want, got in fails:
        print(f"\n[{gold_name}][{i}] {text!r}")
        print(f"  want: {want}")
        print(f"  got : {got}")


if __name__ == "__main__":
    main()
