"""OpenIE golden-triple P/R gate.

Golden sets ported from ``itest/src/edu/stanford/nlp/naturalli/OpenIEITest.java``
(``assertExtracted`` semantics: lowercase (subj, pred, obj) string match,
lines cited per case). Gate: micro-averaged P and R ≥ 0.95 over the suite
(BASELINE.md target row), with containment cases (reference's single-triple
``assertExtracted``) counted as recall-only.
"""

from corenlp_spark.operators.depparse import SentenceGraph, parse_sentence
from corenlp_spark.operators.ner import tag_sentence_ner
from corenlp_spark.operators.openie import extract_sentence
from corenlp_spark.operators.tag import lemmatize, pos_tag
from corenlp_spark.operators.tokenize import tokenize_text


def extract(sentence: str) -> set[tuple[str, str, str]]:
    toks = tokenize_text(sentence)
    words = [t[0] for t in toks]
    pos = pos_tag(words, {0})
    lem = [lemmatize(w, p) for w, p in zip(words, pos)]
    ner, _ = tag_sentence_ner(words, pos)
    edges = parse_sentence(words, pos, lem, ner)
    g = SentenceGraph([{"word": w, "lemma": l, "pos": p}
                       for w, l, p in zip(words, lem, pos)], edges)
    return {(s.lower(), p.lower(), o.lower()) for s, p, o, *_ in extract_sentence(g)}


# (sentence, expected set, exact?) — exact=True ⇒ counts toward precision too
GOLDEN = [
    # OpenIEITest.java:113-115 testBasicExtractions
    ("some cats have tails", {("cats", "have", "tails")}, True),
    # :117-125 testPaperExamples
    ("There are cats with tails.", {("cats", "is with", "tails")}, False),
    ("IBM's research group.", {("ibm", "has", "research group")}, False),
    ("All rabbits eat vegetables.", {("rabbits", "eat", "vegetables")}, False),
    # :134-143 testExtractionsGeorgeBoyd — FULL sentence, and the extraction
    # set matches the reference's assertExtracted set EXACTLY (set equality,
    # the reference's own assertion mode)
    ("On 21 February 2013 George Boyd joined on loan from Peterborough United for the remainder of the season.",
     {("george boyd", "joined on", "21 february 2013"),
      ("george boyd", "joined for", "remainder"),
      ("george boyd", "joined for", "remainder of season"),
      ("george boyd", "joined on", "loan"),
      ("george boyd", "joined on", "loan from peterborough united")}, True),
    # the truncated variant stays as an exact regression case
    ("On 21 February 2013 George Boyd joined on loan from Peterborough United.",
     {("george boyd", "joined on", "21 february 2013"),
      ("george boyd", "joined on", "loan"),
      ("george boyd", "joined on", "loan from peterborough united")}, True),
    # :145-156 testExtractionsObamaWikiOne — FULL sentence (containment: the
    # engine adds entailment variants the reference's exact set omits, e.g.
    # "is current President of United States", which the reference itself
    # has commented out as model-dependent at :149,154)
    ("Barack Hussein Obama II is the 44th and current President of the United States, and the first African American to hold the office.",
     {("barack hussein obama ii", "is 44th and current president of", "united states"),
      ("barack hussein obama ii", "is 44th president of", "united states"),
      ("barack hussein obama ii", "is president of", "united states"),
      ("barack hussein obama ii", "is", "president"),
      ("barack hussein obama ii", "is", "44th president")}, False),
    ("Barack Hussein Obama II is the 44th President of the United States.",
     {("barack hussein obama ii", "is", "president"),
      ("barack hussein obama ii", "is", "44th president"),
      ("barack hussein obama ii", "is 44th president of", "united states"),
      ("barack hussein obama ii", "is president of", "united states")}, True),
    # :186-200 testExtractionsObamaWikiFour — FULL sentence incl. the
    # "from 1992 to 2004" range the reference asserts
    ("He worked as a civil rights attorney and taught constitutional law at the University of Chicago Law School from 1992 to 2004.",
     {("he", "worked as", "civil rights attorney"),
      ("he", "worked as", "rights attorney"),
      ("he", "taught", "constitutional law"),
      ("he", "taught", "law"),
      ("he", "taught law at", "university of chicago law school"),
      ("he", "taught law at", "university"),
      ("he", "taught law from", "1992 to 2004")}, False),
    # :204-223 testExtractionsObamaWikiFive (disabled in the reference —
    # //@Test — but its uncommented golden set is covered here)
    ("He served three terms representing the 13th District in the Illinois Senate from 1997 to 2004, running unsuccessfully for the United States House of Representatives in 2000.",
     {("he", "served", "three terms"),
      ("13th district", "is in", "illinois senate"),
      ("he", "running unsuccessfully for", "united states house of representatives"),
      ("he", "running unsuccessfully for", "united states house"),
      ("he", "running for", "united states house of representatives"),
      ("he", "running for", "united states house"),
      ("he", "running in", "2000"),
      ("he", "running unsuccessfully in", "2000")}, False),
    # :225-247 testExtractionsObamaWikiSix
    ("He then defeated Republican nominee John McCain in the general election, and was inaugurated as president on January 20, 2009.",
     {("he", "defeated", "republican nominee john mccain"),
      ("he", "defeated republican nominee john mccain in", "election"),
      ("he", "defeated republican nominee john mccain in", "general election"),
      ("he", "was inaugurated as", "president"),
      ("he", "was inaugurated as", "president on january 20 2009")}, False),
    # :250-259 testThereIsNoDoubt
    ("There is no doubt that I am great.", {("i", "am", "great")}, True),
    ("There is no doubt that cats have tails.", {("cats", "have", "tails")}, True),
    ("There is doubt that cats have tails.", set(), True),
    # :263-272 testChessIsNotAPhysicalSport
    ("Chess is a physical sport", {("chess", "is", "physical sport"),
                                   ("chess", "is", "sport")}, True),
    ("Chess is not a physical sport", set(), True),
    # additional passive/copula parity cases (FIXTURES.md §4)
    ("Barack Obama was born in Hawaii.",
     {("barack obama", "was born in", "hawaii")}, True),
    ("IBM is headquartered in Armonk.",
     {("ibm", "is headquartered in", "armonk")}, True),
    ("Chris Manning works for Stanford University.",
     {("chris manning", "works for", "stanford university")}, True),
    # :159-171 testExtractionsObamaWikiTwo (subset; fronted participle +
    # apposition + copula-of)
    ("Born in Honolulu, Hawaii, Obama is a graduate of Columbia University.",
     {("obama", "born in", "honolulu"),
      ("obama", "born in", "hawaii"),
      ("obama", "is", "graduate"),
      ("obama", "is graduate of", "columbia university")}, True),
    # :174-183 testExtractionsObamaWikiThree (subset, containment)
    ("He was a community organizer in Chicago before earning his law degree.",
     {("he", "was", "community organizer"),
      ("community organizer", "is in", "chicago"),
      ("he", "earning", "law degree")}, False),
    # relative-clause splitting with enhanced++ ref coindexing
    # (naturalli/ClauseSplitterSearchProblem clause extraction +
    # UniversalEnglishGrammaticalStructure relative-pronoun rewrite)
    ("Obama, who was born in Hawaii, visited Paris.",
     {("obama", "was born in", "hawaii"),
      ("obama", "visited", "paris")}, True),
    ("The company, which was founded in 1990, acquired the startup.",
     {("company", "was founded in", "1990"),
      ("company", "acquired", "startup")}, True),
    # clone_obj clause-splitter action (ClauseSplitterSearchProblem.java:56-100):
    # VP coordination shares the object across both verbs
    ("Obama visited and praised Paris.",
     {("obama", "visited", "paris"), ("obama", "praised", "paris")}, True),
    # :274-280 testSara
    ("John did see Sara", {("john", "did see", "sara")}, True),
    ("John did not see Sara", set(), True),
    # :283-291 testTomJerry (conjoined-subject distribution)
    ("Tom and Jerry have tails",
     {("tom", "have", "tails"), ("jerry", "have", "tails")}, True),
    ("Tom and Jerry are friends",
     {("tom", "are", "friends"), ("jerry", "are", "friends")}, True),
]


def test_micro_pr_gate():
    tp = fp = fn = 0
    failures = []
    for sent, expected, exact in GOLDEN:
        got = extract(sent)
        hit = got & expected
        miss = expected - got
        extra = got - expected
        tp += len(hit)
        fn += len(miss)
        if exact:
            fp += len(extra)
        if miss or (exact and extra):
            failures.append((sent, sorted(miss), sorted(extra) if exact else []))
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    msg = f"P={precision:.3f} R={recall:.3f} failures={failures}"
    assert precision >= 0.95, msg
    assert recall >= 0.95, msg


def test_polarity_blocking():
    assert extract("There is doubt that cats have tails.") == set()
    assert ("cats", "have", "tails") in extract("There is no doubt that cats have tails.")


def test_entailed_amod_drop():
    got = extract("Some blue cats have tails.")
    assert ("blue cats", "have", "tails") in got
    assert ("cats", "have", "tails") in got


def _polarity(sentence: str) -> dict[str, str]:
    from corenlp_spark.operators.openie import compute_polarity

    toks = tokenize_text(sentence)
    words = [t[0] for t in toks]
    pos = pos_tag(words, {0})
    lem = [lemmatize(w, p) for w, p in zip(words, pos)]
    ner, _ = tag_sentence_ner(words, pos)
    edges = parse_sentence(words, pos, lem, ner)
    g = SentenceGraph([{"word": w, "lemma": l, "pos": p}
                       for w, l, p in zip(words, lem, pos)], edges)
    return dict(zip(words, compute_polarity(g)))


def test_polarity_tokens_universal():
    # universal quantifier: downward restrictor, upward scope
    p = _polarity("All rabbits eat vegetables.")
    assert p["rabbits"] == "down"
    assert p["eat"] == "up" and p["vegetables"] == "up"


def test_polarity_tokens_negative_quantifier():
    # "no": both restrictor and scope downward
    p = _polarity("No politician likes taxes.")
    assert p["politician"] == "down"
    assert p["likes"] == "down" and p["taxes"] == "down"


def test_polarity_tokens_negation_and_double_negation():
    p = _polarity("Obama was not born in Kenya.")
    assert p["born"] == "down" and p["Kenya"] == "down"
    # double flip composes back to upward
    p2 = _polarity("Nobody doubts that cats have tails.")
    # governor flips the complement down; a second downward context over the
    # governor (here via the negated subject "Nobody" is lexicalized — use
    # the explicit adverb form instead)
    p3 = _polarity("John does not doubt that cats have tails.")
    assert p3["have"] == "up" and p3["tails"] == "up"
    assert p3["doubt"] == "down"


def test_polarity_tokens_non_monotone():
    p = _polarity("Most cats have tails.")
    assert p["cats"] == "flat"
    assert p["have"] == "up"


def test_polarity_blocks_negative_quantifier_scope():
    # extraction is gated on the per-token mark: no triple under "no"-scope
    assert extract("No politician likes taxes.") == set()


def test_natlog_docs_operator(spark):
    from pyspark.sql import Row

    from corenlp_spark.operators.openie import natlog_docs

    docs = spark.createDataFrame(
        [Row(doc_id="d1", spans=[Row(kind="text", text="All rabbits eat vegetables.",
                                     media_ref=None, offset=0)])],
        schema=("doc_id string, spans array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>"),
    )
    out = {r["word"]: r["polarity"] for r in natlog_docs(docs).collect()}
    assert out["rabbits"] == "down" and out["eat"] == "up"


def test_polarity_negation_scope_excludes_subject():
    # operator scope is the material AFTER it: subject stays upward
    p = _polarity("Obama was not born in Kenya.")
    assert p["Obama"] == "up"
    assert p["born"] == "down" and p["Kenya"] == "down"
