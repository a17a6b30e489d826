"""Coref ranker training corpus + shared single-doc annotation helper.

Hand-labeled documents in the same (text, gold chains) format as the eval
set in tests/test_coref_metrics.py, but over DISJOINT names (the standing
eval/train separation discipline). They exercise the resolution decisions
the deterministic sieves cannot rank — subject salience, recency for "it",
anaphoric definite NPs ("the company" ← ORG), plural pronouns over plural
nominals, and binding-theory clashes — and train the statistical mention
ranker (``coref/statistical/StatisticalCorefAlgorithm.java:35`` /
``FeatureExtractor.java`` re-expressed, models/coref_ranker.py).
"""

from __future__ import annotations

# (text, gold chains as sets of (sent_idx, mention text)); mentions not in
# any chain are singletons
TRAIN_DOCS: list[tuple[str, list[set]]] = [
    # subject salience: "She" prefers the subject over the nearer object
    ("Dana Whitfield met Farah Lindqvist. She thanked Farah.",
     [{(0, "Dana Whitfield"), (1, "She")},
      {(0, "Farah Lindqvist"), (1, "Farah")}]),
    ("Ellis Tanner praised Gideon Marsh. He smiled warmly.",
     [{(0, "Ellis Tanner"), (1, "He")}, {(0, "Gideon Marsh")}]),
    # recency for "it": the newly-introduced object, not the subject entity
    ("Atlas Dynamics opened a warehouse. The firm filled it quickly.",
     [{(0, "Atlas Dynamics"), (1, "The firm")},
      {(0, "a warehouse"), (1, "it")}]),
    ("Borealis Group built a factory. The company staffed it fully.",
     [{(0, "Borealis Group"), (1, "The company")},
      {(0, "a factory"), (1, "it")}]),
    # anaphoric definite NP → ORG / LOCATION entity
    ("Helix Partners reported losses. The firm cut costs.",
     [{(0, "Helix Partners"), (1, "The firm")}]),
    ("Quanta Holdings expanded. The company hired staff.",
     [{(0, "Quanta Holdings"), (1, "The company")}]),
    ("Brian Novak visited Marseille. The city impressed him.",
     [{(0, "Brian Novak"), (1, "him")}, {(0, "Marseille"), (1, "The city")}]),
    ("Dana Whitfield toured Gothenburg. The town felt quiet.",
     [{(0, "Gothenburg"), (1, "The town")}, {(0, "Dana Whitfield")}]),
    ("Talon Industries sold a division. The company kept the brand.",
     [{(0, "Talon Industries"), (1, "The company")}]),
    # plural pronoun over a plural nominal
    ("The managers praised the workers. They gave them bonuses.",
     [{(0, "The managers"), (1, "They")},
      {(0, "the workers"), (1, "them")}]),
    ("The lawyers advised the clients. They billed them promptly.",
     [{(0, "The lawyers"), (1, "They")},
      {(0, "the clients"), (1, "them")}]),
    # binding: a non-reflexive object pronoun skips the same-clause subject
    ("Farah Lindqvist hired a painter. The painter impressed her.",
     [{(0, "Farah Lindqvist"), (1, "her")},
      {(0, "a painter"), (1, "The painter")}]),
    # reflexive binds in its own sentence (rule sieve; kept for coverage)
    ("Gideon Marsh blamed himself for the delay.",
     [{(0, "Gideon Marsh"), (0, "himself")}]),
    ("The board excused itself early.",
     [{(0, "The board"), (0, "itself")}]),
    # simple pronoun chains, possessives
    ("Brian Novak lives in Adelaide. His house is small.",
     [{(0, "Brian Novak"), (1, "His")}]),
    ("Farah Lindqvist wrote a report. Her report cited five studies.",
     [{(0, "Farah Lindqvist"), (1, "Her")}]),
    ("Ellis Tanner runs a bakery. He opens it at dawn.",
     [{(0, "Ellis Tanner"), (1, "He")}, {(0, "a bakery"), (1, "it")}]),
    # string / head-match chains (sieve territory — negatives for the
    # ranker: these anaphors already resolve upstream)
    ("Quanta Holdings grew fast. Quanta Holdings then stalled.",
     [{(0, "Quanta Holdings"), (1, "Quanta Holdings")}]),
    ("The new report was short. The report cited no studies. It was late.",
     [{(0, "The new report"), (1, "The report"), (2, "It")}]),
    # non-anaphoric definite NPs: no antecedent (NULL target)
    ("The weather turned cold. Dana Whitfield stayed home.",
     [{(0, "Dana Whitfield")}]),
    ("The committee met on Monday. The budget passed.",
     []),
    # "it" with only an inanimate nominal available
    ("A letter arrived on Tuesday. It carried bad news.",
     [{(0, "A letter"), (1, "It")}]),
    ("The engine failed twice. Ellis Tanner repaired it.",
     [{(0, "The engine"), (1, "it")}, {(0, "Ellis Tanner")}]),
    # two ORGs — definite NP picks the nearer by recency
    ("Atlas Dynamics sued Talon Industries. The company lost the case.",
     [{(0, "Talon Industries"), (1, "The company")},
      {(0, "Atlas Dynamics")}]),
]


def annotate_text(text: str):
    """The fused kernel's tokenize → pos → lemma → ner over one raw text
    (driver-side, the same stack coref sees in-pipeline); returns
    (tokens, sentences)."""
    from corenlp_spark.plans.fused import _annotate_batch

    spans = [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
    return _annotate_batch([spans], upto="ner")[0][:2]
