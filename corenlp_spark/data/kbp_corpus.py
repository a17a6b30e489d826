"""KBP golden pool + statistical-arm training data.

The evaluation pool mirrors the reference's KBP benchmark harness shape
(``ie/KBPAnnotatorBenchmark.java:24-161``: documents + a gold file of
(subject, relation, object) rows, scored micro-F1 with the gate at
``KBPAnnotatorEnglishBenchmarkSlowITest.java:18`` F1 ≥ 0.455). Sentences are
synthesized over the NER-corpus name pools so the trained mention detector
(not a fixture gazetteer) finds the arguments; every sentence routes through
the REAL pipeline: tokenize → pos → ner → depparse → openie → kbp ensemble.

``lr_training_rows()`` synthesizes labeled (features, signature, relation)
rows for the statistical arm — the stand-in for the reference's distantly-
supervised training set (``ie/KBPStatisticalExtractor.java:190-664``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from corenlp_spark.data.synth import text_docs

# (sentence, (subj, relation, obj)) — the gold file
KBP_GOLD: list[tuple[str, tuple[str, str, str]]] = [
    ("Anna Keller was born in Madrid.",
     ("Anna Keller", "per:city_of_birth", "Madrid")),
    ("Anna Keller was born on 4 May 1970.",
     ("Anna Keller", "per:date_of_birth", "4 May 1970")),
    ("Victor Alden died in Lisbon.",
     ("Victor Alden", "per:city_of_death", "Lisbon")),
    ("Clara Draper works for Vertex Systems.",
     ("Clara Draper", "per:employee_of", "Vertex Systems")),
    ("Nimbus Labs is headquartered in Oslo.",
     ("Nimbus Labs", "org:city_of_headquarters", "Oslo")),
    ("Acme Corp. acquired Stellar Group.",
     ("Acme Corp.", "org:subsidiaries", "Stellar Group")),
    ("Quantum Institute was founded in 1991.",
     ("Quantum Institute", "org:founded", "1991")),
    ("Orion Bank was founded by Henry Mercer.",
     ("Orion Bank", "org:founded_by", "Henry Mercer")),
    ("Maria Quinn married Simon Vargas.",
     ("Maria Quinn", "per:spouse", "Simon Vargas")),
    ("Tessa Holt is the wife of Jacob Sutton.",
     ("Tessa Holt", "per:spouse", "Jacob Sutton")),
    ("Louis Barton is the son of Oscar Whitman.",
     ("Louis Barton", "per:parents", "Oscar Whitman")),
    ("Grace Foster is the sister of Irene Archer.",
     ("Grace Foster", "per:siblings", "Irene Archer")),
    ("David Chavez attended Columbia University.",
     ("David Chavez", "per:schools_attended", "Columbia University")),
    ("Elena Porter graduated from Stanford University.",
     ("Elena Porter", "per:schools_attended", "Stanford University")),
    ("Frank Hayes lives in Toronto.",
     ("Frank Hayes", "per:cities_of_residence", "Toronto")),
    ("Walter Reyes moved to Denver.",
     ("Walter Reyes", "per:cities_of_residence", "Denver")),
    ("Karen Ingram is a member of Cascade Partners.",
     ("Karen Ingram", "per:member_of", "Cascade Partners")),
    ("Summit Media is a subsidiary of Beacon Group.",
     ("Summit Media", "org:parents", "Beacon Group")),
    ("Vanguard Labs hired Petra Jensen.",
     ("Vanguard Labs", "org:top_members_employees", "Petra Jensen")),
    ("Fulcrum Systems was dissolved in 2009.",
     ("Fulcrum Systems", "org:dissolved", "2009")),
    ("Zenith Group merged with Crescent Media.",
     ("Zenith Group", "org:parents", "Crescent Media")),
    ("Jacob Sutton turned 45.",
     ("Jacob Sutton", "per:age", "45")),
    ("Nora Duncan is the daughter of Brian Norris.",
     ("Nora Duncan", "per:parents", "Brian Norris")),
    ("Hugo Ellison is the president of Meridian Institute.",
     ("Hugo Ellison", "per:employee_of", "Meridian Institute")),
    ("Ivy Monroe resides in Vienna.",
     ("Ivy Monroe", "per:cities_of_residence", "Vienna")),
    ("Summit Media is known as Beacon Group.",
     ("Summit Media", "org:alternate_names", "Beacon Group")),
    ("Felix Griffin is a citizen of Prague.",
     ("Felix Griffin", "per:origin", "Prague")),
    # round-3 widening: +11 relations (fine-grained NER classes
    # CRIMINAL_CHARGE/CAUSE_OF_DEATH/RELIGION + location-subtype refinement)
    ("Victor Alden died on 12 March 2011.",
     ("Victor Alden", "per:date_of_death", "12 March 2011")),
    ("Oscar Whitman is the father of Louis Barton.",
     ("Oscar Whitman", "per:children", "Louis Barton")),
    ("Grace Foster is the cousin of Brian Norris.",
     ("Grace Foster", "per:other_family", "Brian Norris")),
    ("Petra Jensen is also known as Anna Keller.",
     ("Petra Jensen", "per:alternate_names", "Anna Keller")),
    ("Vertex Systems employs 2,800 people.",
     ("Vertex Systems", "org:number_of_employees_members", "2,800")),
    ("Marco Ruiz was charged with tax evasion.",
     ("Marco Ruiz", "per:charges", "tax evasion")),
    ("Elena Porter practices Buddhism.",
     ("Elena Porter", "per:religion", "Buddhism")),
    ("Henry Mercer died of cancer.",
     ("Henry Mercer", "per:cause_of_death", "cancer")),
    ("Walter Reyes lived in France.",
     ("Walter Reyes", "per:countries_of_residence", "France")),
    ("Karen Ingram was born in Texas.",
     ("Karen Ingram", "per:stateorprovince_of_birth", "Texas")),
    ("Simon Vargas was born in Portugal.",
     ("Simon Vargas", "per:country_of_birth", "Portugal")),
    ("Henry Mercer is a shareholder of Orion Bank.",
     ("Orion Bank", "org:shareholders", "Henry Mercer")),
    # round-4 widening: the 14 remaining taxonomy rows
    # (KBPRelationExtractor.java:114-160) — location-subtype refinement
    # (country/state object tables) plus the new r4 trigger patterns
    ("Victor Alden died in Norway.",
     ("Victor Alden", "per:country_of_death", "Norway")),
    ("Henry Mercer died in Texas.",
     ("Henry Mercer", "per:stateorprovince_of_death", "Texas")),
    ("Ivy Monroe lives in Ontario.",
     ("Ivy Monroe", "per:stateorprovinces_of_residence", "Ontario")),
    ("Nimbus Labs is headquartered in Sweden.",
     ("Nimbus Labs", "org:country_of_headquarters", "Sweden")),
    ("Vertex Systems is based in Arizona.",
     ("Vertex Systems", "org:stateorprovince_of_headquarters", "Arizona")),
    ("Acme Corp. has headquarters in Chicago.",
     ("Acme Corp.", "org:location_of_headquarters", "Chicago")),
    ("Stellar Group is a member of Meridian Institute.",
     ("Stellar Group", "org:member_of", "Meridian Institute")),
    ("Cascade Partners admitted Summit Media.",
     ("Cascade Partners", "org:members", "Summit Media")),
    ("Beacon Group is affiliated with the Republican Party.",
     ("Beacon Group", "org:political_religious_affiliation",
      "Republican Party")),
    ("Quantum Institute can be reached at www.quantum.example.",
     ("Quantum Institute", "org:website", "www.quantum.example")),
    ("Clara Draper was born near Honolulu.",
     ("Clara Draper", "per:location_of_birth", "Honolulu")),
    ("Oscar Whitman died near Sydney.",
     ("Oscar Whitman", "per:location_of_death", "Sydney")),
    ("David Chavez settled near Berlin.",
     ("David Chavez", "per:location_of_residence", "Berlin")),
    ("Elena Porter won the Nobel Prize.",
     ("Elena Porter", "per:title", "Nobel Prize")),
]

# distractor sentences: entity pairs with NO KBP relation (precision control)
KBP_DISTRACTORS: list[str] = [
    "Anna Keller visited Madrid.",
    "Victor Alden saw Clara Draper.",
    "Nimbus Labs announced earnings.",
    "Frank Hayes spoke.",
    "The committee approved the budget.",
]


def kbp_docs(spark: SparkSession, n_docs: int = 0) -> DataFrame:
    """One doc per gold/distractor sentence (deterministic)."""
    texts = [s for s, _ in KBP_GOLD] + KBP_DISTRACTORS
    return text_docs(spark, [f"kbp-{i:04d}" for i in range(len(texts))], texts)


# ---------------------------------------------------------------------------
# statistical-arm training rows: full surface sentences synthesized per
# relation cue, then run through the REAL pos-tagger / lemmatizer / trained
# dependency parser so the classifier trains on the SAME feature
# distributions it sees at inference — surface frames AND dependency-path
# features (``ie/KBPStatisticalExtractor.java:246-437``; the dep-path arm
# landed r5 per VERDICT r4 #3).
# ---------------------------------------------------------------------------

# (surface cue, subj NER, obj NER, relation)
_LR_TEMPLATES: list[tuple[str, str, str, str]] = [
    ("was born in", "PERSON", "LOCATION", "per:city_of_birth"),
    ("was born on", "PERSON", "DATE", "per:date_of_birth"),
    ("died in", "PERSON", "LOCATION", "per:city_of_death"),
    ("died on", "PERSON", "DATE", "per:date_of_death"),
    ("works for", "PERSON", "ORGANIZATION", "per:employee_of"),
    ("works at", "PERSON", "ORGANIZATION", "per:employee_of"),
    ("is the president of", "PERSON", "ORGANIZATION", "per:employee_of"),
    ("was employed by", "PERSON", "ORGANIZATION", "per:employee_of"),
    ("is headquartered in", "ORGANIZATION", "LOCATION", "org:city_of_headquarters"),
    ("is based in", "ORGANIZATION", "LOCATION", "org:city_of_headquarters"),
    ("is located in", "ORGANIZATION", "LOCATION", "org:city_of_headquarters"),
    ("acquired", "ORGANIZATION", "ORGANIZATION", "org:subsidiaries"),
    ("bought", "ORGANIZATION", "ORGANIZATION", "org:subsidiaries"),
    ("was founded in", "ORGANIZATION", "DATE", "org:founded"),
    ("was founded by", "ORGANIZATION", "PERSON", "org:founded_by"),
    ("married", "PERSON", "PERSON", "per:spouse"),
    ("is the wife of", "PERSON", "PERSON", "per:spouse"),
    ("is the husband of", "PERSON", "PERSON", "per:spouse"),
    ("is the son of", "PERSON", "PERSON", "per:parents"),
    ("is the daughter of", "PERSON", "PERSON", "per:parents"),
    ("is the sister of", "PERSON", "PERSON", "per:siblings"),
    ("is the brother of", "PERSON", "PERSON", "per:siblings"),
    ("attended", "PERSON", "ORGANIZATION", "per:schools_attended"),
    ("graduated from", "PERSON", "ORGANIZATION", "per:schools_attended"),
    ("lives in", "PERSON", "LOCATION", "per:cities_of_residence"),
    ("moved to", "PERSON", "LOCATION", "per:cities_of_residence"),
    ("resides in", "PERSON", "LOCATION", "per:cities_of_residence"),
    ("is a member of", "PERSON", "ORGANIZATION", "per:member_of"),
    ("is a subsidiary of", "ORGANIZATION", "ORGANIZATION", "org:parents"),
    ("merged with", "ORGANIZATION", "ORGANIZATION", "org:parents"),
    ("hired", "ORGANIZATION", "PERSON", "org:top_members_employees"),
    ("was dissolved in", "ORGANIZATION", "DATE", "org:dissolved"),
    ("turned", "PERSON", "NUMBER", "per:age"),
    ("is known as", "ORGANIZATION", "ORGANIZATION", "org:alternate_names"),
    ("is a citizen of", "PERSON", "LOCATION", "per:origin"),
    # NONE negatives — frequent non-relational contexts
    ("visited", "PERSON", "LOCATION", "NONE"),
    ("saw", "PERSON", "PERSON", "NONE"),
    ("spoke with", "PERSON", "PERSON", "NONE"),
    ("and", "PERSON", "PERSON", "NONE"),
    ("met", "PERSON", "PERSON", "NONE"),
    ("announced", "ORGANIZATION", "ORGANIZATION", "NONE"),
    # inverse-direction surface contexts: the forward (surface-order) pair
    # carries NO forward relation — the tokensregex inverse rows emit the
    # swapped-anchor triple instead
    ("is a shareholder of", "PERSON", "ORGANIZATION", "NONE"),
    ("is a shareholder of", "ORGANIZATION", "ORGANIZATION", "NONE"),
    ("is owned by", "ORGANIZATION", "ORGANIZATION", "NONE"),
    ("discussed", "ORGANIZATION", "ORGANIZATION", "NONE"),
    ("traveled to", "PERSON", "LOCATION", "NONE"),
    ("arrived in", "PERSON", "LOCATION", "NONE"),
    ("jumped over", "PERSON", "LOCATION", "NONE"),
]

_FILLERS = ["", "recently", "reportedly", "quietly", "last year"]

# argument surface pools per NER type — training names, disjoint from the
# KBP_GOLD eval entities (standing eval/train separation discipline)
_ARG_POOL: dict[str, list[str]] = {
    "PERSON": ["Brian Novak", "Dana Whitfield", "Ellis Tanner",
               "Farah Lindqvist", "Gideon Marsh"],
    "ORGANIZATION": ["Atlas Dynamics", "Borealis Group", "Helix Partners",
                     "Quanta Holdings", "Talon Industries"],
    "LOCATION": ["Marseille", "Gothenburg", "Adelaide", "Tucson", "Bruges"],
    "DATE": ["1987", "3 June 1968", "14 October 1992", "2003",
             "21 August 1975"],
    "NUMBER": ["52", "38", "71", "29", "64"],
}


def _pair_rows_from_sentence(words: list[str], s_span: tuple[int, int],
                             o_span: tuple[int, int], sner: str, oner: str,
                             rel: str) -> list[tuple]:
    """Run the real pos→lemma→parse stack over one synthesized sentence and
    emit (between_lemmas, sner, oner, dep, rel) rows built EXACTLY like the
    inference candidate generator in operators/kbp.py — the forward pair
    labeled with the relation, the reversed pair labeled NONE."""
    from corenlp_spark.operators.depparse import parse_sentence
    from corenlp_spark.operators.kbp import dep_path, span_head
    from corenlp_spark.operators.tag import lemmatize, pos_tag

    pos = pos_tag(words, {0})
    lemmas = [lemmatize(w, p) for w, p in zip(words, pos)]
    parent = {d: (h, r)
              for h, d, r in parse_sentence(words, pos, lemmas)}
    (s0, s1), (o0, o1) = s_span, o_span

    def mk(a0, a1, b0, b1, aner, bner, label):
        between = (lemmas[a1:b0] if a1 <= b0 else lemmas[b1:a0] + ["inv"])
        ah, bh = span_head(parent, a0, a1), span_head(parent, b0, b1)
        path = dep_path(parent, lemmas, ah, bh)
        dep = ({"path": path, "spos": pos[ah], "opos": pos[bh],
                "obj_head": lemmas[bh]} if path else None)
        return (between, aner, bner, dep, label)

    rows = [mk(s0, s1, o0, o1, sner, oner, rel)]
    if rel != "NONE":
        rows.append(mk(o0, o1, s0, s1, oner, sner, "NONE"))
    return rows


def lr_training_rows() -> list[tuple]:
    """[(between_lemmas, subj_ner, obj_ner, dep_path_dict|None, relation)]
    — one synthesized sentence per (template, filler, argument) variation,
    annotated by the real tagger/lemmatizer/parser. Every positive also
    yields the reversed-pair NONE negative: the candidate generator
    enumerates both orders of each mention pair and the stated direction is
    the only correct slot fill."""
    rows: list[tuple] = []
    for i, (cue, sner, oner, rel) in enumerate(_LR_TEMPLATES):
        spool, opool = _ARG_POOL[sner], _ARG_POOL[oner]
        for j, fill in enumerate(_FILLERS):
            cue_words = cue.split()
            if fill and (i + j) % 2 == 0:
                # adverbial after the first cue word ("was recently born
                # in"), or before a single-word cue ("recently acquired")
                if len(cue_words) > 1:
                    cue_words = cue_words[:1] + fill.split() + cue_words[1:]
                else:
                    cue_words = fill.split() + cue_words
            subj = spool[(i + j) % len(spool)].split()
            obj = opool[(i + 2 * j) % len(opool)].split()
            words = subj + cue_words + obj + ["."]
            s_span = (0, len(subj))
            o_span = (len(subj) + len(cue_words),
                      len(subj) + len(cue_words) + len(obj))
            rows.extend(_pair_rows_from_sentence(
                words, s_span, o_span, sner, oner, rel))
    return rows
