"""Coref sieve goldens (FIXTURES.md §6; sieve semantics from
``dcoref/Constants.java:56`` + ``dcoref/Rules.java:123-316``)."""

from corenlp_spark.data.coref_corpus import annotate_text
from corenlp_spark.operators.coref import detect_mentions, run_sieves


def chains(text: str) -> list[set[str]]:
    toks, sents = annotate_text(text)
    ms = detect_mentions(toks, sents)
    run_sieves(ms, toks)
    out: dict[int, set[str]] = {}
    for m in ms:
        out.setdefault(m.cluster, set()).add(m.text)
    return [v for v in out.values() if len(v) > 1 or True]


def cluster_of(text: str, mention: str) -> set[str]:
    for c in chains(text):
        if mention in c:
            return c
    return set()


def test_exact_string_match():
    c = cluster_of("Obama visited Paris. Obama spoke.", "Obama")
    assert c == {"Obama"}
    cs = chains("Obama visited Paris. Obama spoke.")
    obama = [c for c in cs if "Obama" in c]
    assert len(obama) == 1  # both Obamas merged into ONE cluster


def test_pronoun_match():
    c = cluster_of("Barack Obama was born in Hawaii. He was president.", "He")
    assert "Barack Obama" in c


def test_strict_head_match():
    c = cluster_of("The research group published results. The group grew quickly.", "The group")
    assert any("research group" in m for m in c)


def test_acronym_match():
    c = cluster_of("International Business Machines announced earnings. IBM acquired the startup.", "IBM")
    assert "International Business Machines" in c


def test_no_person_pronoun_to_org():
    c = cluster_of("IBM announced earnings. He spoke.", "He")
    assert "IBM" not in c


def test_it_links_to_org():
    c = cluster_of("IBM announced earnings. It acquired the startup.", "It")
    assert "IBM" in c


def test_appositive_precise_construct():
    """PreciseConstructs appositive (Rules.java:123-150): '<entity>, <NP>,'
    merges the apposed description into the entity's cluster."""
    c = cluster_of("Marie Curie, the physicist, won the Nobel Prize.", "Marie Curie")
    assert any("physicist" in m for m in c)


def test_predicate_nominative_precise_construct():
    """PreciseConstructs predicate nominative (Rules.java:150-175):
    'X is the Y' merges subject and predicate NP."""
    c = cluster_of("Barack Obama is the president. The president spoke.", "Barack Obama")
    assert any("president" in m.lower() for m in c)


def test_word_inclusion_head_match():
    """StrictHeadMatch2 (Rules.java:216-248): same head + word inclusion —
    'the research group' ← 'the large research group'."""
    c = cluster_of(
        "The large research group published results. The research group grew quickly.",
        "The research group")
    assert any("large research group" in m for m in c)


def test_relaxed_head_match():
    """RelaxedHeadMatch: bare surname joins the full-name cluster."""
    c = cluster_of("Barack Hussein Obama II spoke. Obama visited Paris.", "Obama")
    assert any("Barack Hussein Obama II" == m for m in c)


def test_speaker_sieve_first_person_in_quote():
    """DiscourseMatch/SpeakerMatch: 'I' inside an attributed quote corefs
    with the speaker; outside quotes first person stays unresolved."""
    c = cluster_of('"I will win," said John McCain.', "I")
    assert "John McCain" in c
    c2 = cluster_of("I like Paris. Jane spoke.", "I")
    assert c2 == {"I"}


def test_list_construction_not_apposed():
    """'France, Germany' in a list must NOT merge as appositive (same-kind
    guard)."""
    cs = chains("Anna Keller visited Madrid, Lisbon and Oslo.")
    for c in cs:
        assert not ({"Madrid", "Lisbon"} <= c)


def test_gender_blocking_from_dictionaries():
    """VERDICT r2 #7 (dcoref/Dictionaries.java gender tables): 'He' must not
    take a FEMALE antecedent and vice versa — the pronoun picks the gender-
    compatible PERSON even when a closer incompatible one exists."""
    c = cluster_of("Marie Curie met John McCain. He spoke first.", "He")
    assert "John McCain" in c and "Marie Curie" not in c
    c = cluster_of("John McCain met Marie Curie. She spoke first.", "She")
    assert "Marie Curie" in c and "John McCain" not in c


def test_animacy_gated_nominal_antecedents():
    """dcoref animacy lists: 'she' reaches an ANIMATE nominal ('the
    teacher'), 'it' an INANIMATE one ('the report') — never the reverse."""
    c = cluster_of("The teacher read the report. She smiled.", "She")
    assert "The teacher" in c and "the report" not in c
    c = cluster_of("The teacher read the report. It was long.", "It")
    assert "the report" in c and "The teacher" not in c


def test_role_appositive():
    """Rules.java entityIsRoleAppositive / MarkRole: an animate role nominal
    directly before a PERSON name corefs with it ('president Obama')."""
    c = cluster_of("The president Obama spoke.", "Obama")
    assert any("president" in t for t in c)


def test_demonym_construct():
    """Rules.java entityIsDemonym over Dictionaries.demonyms."""
    c = cluster_of("France signed the accord. The French celebrated.", "France")
    assert any("French" in t for t in c)


def test_ranker_decisions():
    """The trained mention ranker (StatisticalCorefAlgorithm re-expressed)
    resolves the decisions the deterministic sieves cannot rank: anaphoric
    definite NPs, object-pronoun recency, and plural pronouns over plural
    nominals — and keeps discourse-new definite NPs unlinked."""
    from collections import defaultdict

    def chains(text):
        tokens, sents = annotate_text(text)
        ms = detect_mentions(tokens, sents)
        run_sieves(ms, tokens)
        by_c = defaultdict(set)
        for m in ms:
            by_c[m.cluster].add((m.sent, m.text))
        return {frozenset(v) for v in by_c.values() if len(v) > 1}

    got = chains("IBM announced a new laboratory. The company will open it in Armonk.")
    assert frozenset({(0, "IBM"), (1, "The company")}) in got
    assert frozenset({(0, "a new laboratory"), (1, "it")}) in got
    # same-sentence co-argument definite NP introduces a NEW entity
    got = chains("Google acquired the startup. Google kept its employees.")
    assert all((0, "the startup") not in c for c in got)
    # plural pronoun over a plural (animate) nominal
    got = chains("The teacher praised the students. She gave them high marks.")
    assert frozenset({(0, "the students"), (1, "them")}) in got
