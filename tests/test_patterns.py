"""TokensRegex + Semgrex subset tests (SURVEY.md §2.3 coverage)."""

from corenlp_spark.operators.depparse import SentenceGraph, parse_sentence
from corenlp_spark.operators.ner import tag_sentence_ner
from corenlp_spark.operators.semgrex import compile_semgrex, match_semgrex
from corenlp_spark.operators.tag import lemmatize, pos_tag
from corenlp_spark.operators.tokenize import tokenize_text
from corenlp_spark.operators.tokensregex import compile_pattern, find_all


def toks_of(sentence):
    toks = tokenize_text(sentence)
    words = [t[0] for t in toks]
    pos = pos_tag(words, {0})
    lem = [lemmatize(w, p) for w, p in zip(words, pos)]
    ner, nner = tag_sentence_ner(words, pos)
    return [
        {"word": w, "pos": p, "lemma": l, "ner": n, "nner": nn}
        for w, p, l, n, nn in zip(words, pos, lem, ner, nner)
    ]


def test_node_predicates_and_sequence():
    toks = toks_of("Barack Obama visited Paris.")
    pat = compile_pattern("[ner:PERSON]+ [pos:/VB./] [ner:LOCATION]")
    got = find_all(pat, toks)
    assert len(got) == 1
    s, e, _ = got[0]
    assert [t["word"] for t in toks[s:e]] == ["Barack", "Obama", "visited", "Paris"]


def test_capture_groups():
    toks = toks_of("Chris Manning works for Stanford University.")
    pat = compile_pattern("(?$subj [ner:PERSON]+) [lemma:work] [word:for] (?$org [ner:ORGANIZATION]+)")
    got = find_all(pat, toks)
    assert len(got) == 1
    g = got[0][2]
    assert [toks[i]["word"] for i in range(*g["subj"])] == ["Chris", "Manning"]
    assert [toks[i]["word"] for i in range(*g["org"])] == ["Stanford", "University"]


def test_negation_and_optional():
    toks = toks_of("the quick fox")
    pat = compile_pattern("[pos:DT] !{pos:/NN.*/} [pos:/NN.*/]")
    assert len(find_all(pat, toks)) == 1
    pat2 = compile_pattern("[pos:DT] [pos:JJ]? [pos:/NN.*/]")
    assert len(find_all(pat2, toks_of("the fox"))) == 1
    assert len(find_all(pat2, toks)) == 1


def test_any_token_and_conjunction():
    toks = toks_of("IBM acquired the startup.")
    pat = compile_pattern("{ner:ORGANIZATION; pos:NNP} [] [pos:DT]")
    assert len(find_all(pat, toks)) == 1


def _graph(sentence):
    toks = toks_of(sentence)
    edges = parse_sentence(
        [t["word"] for t in toks], [t["pos"] for t in toks],
        [t["lemma"] for t in toks], [t["ner"] for t in toks],
    )
    return SentenceGraph(toks, edges), toks


def test_semgrex_svo():
    g, toks = _graph("Obama visited Paris.")
    pat = compile_semgrex("{pos:/VB./}=v >nsubj {}=s")
    ms = match_semgrex(pat, g)
    assert len(ms) == 1
    assert toks[ms[0]["v"]]["word"] == "visited"
    assert toks[ms[0]["s"]]["word"] == "Obama"


def test_semgrex_root_and_enhanced_rel_prefix():
    g, toks = _graph("Barack Obama was born in Hawaii.")
    pat = compile_semgrex("{$}=r >nmod {ner:LOCATION}=loc")
    ms = match_semgrex(pat, g)
    assert len(ms) == 1 and toks[ms[0]["loc"]]["word"] == "Hawaii"
    assert toks[ms[0]["r"]]["word"] == "born"


def test_semgrex_transitive():
    g, toks = _graph("Barack Hussein Obama II is the 44th President of the United States.")
    pat = compile_semgrex("{$} >> {word:States}")
    assert len(match_semgrex(pat, g)) == 1


def test_semgrex_governor_direction():
    g, toks = _graph("Obama visited Paris.")
    pat = compile_semgrex("{ner:LOCATION}=o <obj {}=v")
    ms = match_semgrex(pat, g)
    assert len(ms) == 1 and toks[ms[0]["v"]]["word"] == "visited"


def test_semgrex_tree_shaped_group():
    """Parenthesized sub-pattern constrains the INNER node, not the head —
    the tree-shaped grammar of SemgrexPattern.java:28-120."""
    g, toks = _graph("Chris Manning works for Stanford University.")
    pat = compile_semgrex(
        "{pos:/VB./}=v >nsubj {}=s >nmod ({ner:ORGANIZATION}=org >case {}=prep)")
    ms = match_semgrex(pat, g)
    assert len(ms) == 1
    m = ms[0]
    assert toks[m["org"]]["word"] == "University"
    assert toks[m["prep"]]["word"] == "for"
    # without parens the same relations would all constrain the verb, so
    # ">case" would fail (the verb has no case child)
    flat = compile_semgrex("{pos:/VB./}=v >nsubj {}=s >nmod {ner:ORGANIZATION}=org >case {}=prep")
    assert match_semgrex(flat, g) == []


def test_semgrex_optional_and_negated():
    g, toks = _graph("Obama visited Paris.")
    # optional relation binds when present…
    pat = compile_semgrex("{pos:/VB./}=v >obj {}=o ?>nmod {}=n")
    ms = match_semgrex(pat, g)
    assert len(ms) == 1 and "n" not in ms[0] and toks[ms[0]["o"]]["word"] == "Paris"
    # …and negation rejects when present
    pat = compile_semgrex("{pos:/VB./}=v !>obj {}")
    assert match_semgrex(pat, g) == []
    pat = compile_semgrex("{pos:/VB./}=v !>ccomp {}")
    assert len(match_semgrex(pat, g)) == 1


def test_plus_quantifier_requires_first_match():
    """r3 bug fix: '+' previously accepted its first (required) token
    unchecked, so [ner:NUMBER]+ 'matched' any token at all."""
    from corenlp_spark.operators.tokensregex import (
        compile_pattern, find_all, match_sequence,
    )

    elems = compile_pattern("(?$o [ner:NUMBER]+)")
    tok = {"word": "member", "pos": "NN", "ner": "O", "lemma": "member"}
    assert match_sequence(elems, [tok], 0) is None
    num = {"word": "34", "pos": "CD", "ner": "NUMBER", "lemma": "34"}
    assert find_all(elems, [tok, num]) == [(1, 2, {"o": (1, 2)})]


def _toks(ws):
    return [{"word": w, "pos": "NN", "ner": "O", "lemma": w, "nner": ""}
            for w in ws]


def test_tokensregex_alternation_and_bounded_repeats():
    """Alternation (group + top-level, longest alternative wins) and {n,m}
    bounded quantifiers (TokensRegex SequencePattern alternation/repeat
    semantics)."""
    from corenlp_spark.operators.tokensregex import compile_pattern, find_all

    pat = compile_pattern("[word:likes] (?:[word:red]|[word:blue]) [word:cats]")
    assert find_all(pat, _toks(["likes", "red", "cats"]))
    assert find_all(pat, _toks(["likes", "blue", "cats"]))
    assert not find_all(pat, _toks(["likes", "green", "cats"]))

    assert find_all(compile_pattern("[word:cat]|[word:dog]"), _toks(["dog"]))

    pat3 = compile_pattern("[word:very]{2,3} [word:good]")
    assert not find_all(pat3, _toks(["very", "good"]))
    assert find_all(pat3, _toks(["very", "very", "good"]))

    # capture group survives branch expansion
    r = find_all(compile_pattern("[word:the] (?$x [word:cat]|[word:dog])"),
                 _toks(["the", "dog"]))
    assert r and r[0][2]["x"] == (1, 2)

    # longest alternative wins at the same start
    pat5 = compile_pattern("(?:[word:a]|[word:a] [word:b])")
    s, e, _ = find_all(pat5, _toks(["a", "b"]))[0]
    assert (s, e) == (0, 2)


def test_tokensregex_nested_alternation():
    from corenlp_spark.operators.tokensregex import compile_pattern, find_all

    pat = compile_pattern("((?:[word:a]|[word:b]) [word:c])|[word:d]")
    assert find_all(pat, _toks(["a", "c"]))
    assert find_all(pat, _toks(["b", "c"]))
    assert find_all(pat, _toks(["d"]))
    assert not find_all(pat, _toks(["c"]))


def test_tokensregex_quantified_groups():
    """Quantified groups ((?$g ...)+ / (...)* / (...){n}) — the r3 scope
    limit lifted: ``SequencePattern.java`` RepeatPatternExpr over
    GroupPatternExpr. A repeated named group captures the union span of
    all repetitions."""
    from corenlp_spark.operators.tokensregex import compile_pattern, find_all

    # repeated two-node group, exact count
    pat = compile_pattern("([word:x] [word:y]){2}")
    # r5: unnamed capturing groups carry reference-style numbers
    assert find_all(pat, _toks(["x", "y", "x", "y"])) == [(0, 4, {"1": (0, 4)})]
    assert not find_all(pat, _toks(["x", "y"]))

    # named quantified group: capture spans all reps
    pat2 = compile_pattern("(?$pair [word:a] [word:b])+ [word:end]")
    r = find_all(pat2, _toks(["a", "b", "a", "b", "end"]))
    assert r == [(0, 5, {"pair": (0, 4)})]

    # '+' group with internal alternation and backtracking across reps
    pat3 = compile_pattern("(?$x [word:cat] [word:/cat|dog/]?)+ [word:sat]")
    r3 = find_all(pat3, _toks(["the", "cat", "cat", "dog", "sat"]))
    assert r3 == [(1, 5, {"x": (1, 4)})]

    # '*' group: zero reps allowed
    pat4 = compile_pattern("[word:start] ([word:mid])* [word:end]")
    assert find_all(pat4, _toks(["start", "end"]))
    assert find_all(pat4, _toks(["start", "mid", "mid", "end"]))

    # zero-width inner match must not loop forever
    pat5 = compile_pattern("([word:opt]?)* [word:z]")
    assert find_all(pat5, _toks(["opt", "z"]))
    assert find_all(pat5, _toks(["z"]))
