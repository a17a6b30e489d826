"""KBP slot-filling relations: the reference's ``kbp`` annotator, one
ensemble of three extractors.

Behavioral reference (re-expressed):
  - relation taxonomy + type signatures ``ie/KBPRelationExtractor.java:114-160``
    (``per:*`` require PERSON subject, ``org:*`` ORGANIZATION subject; object
    NER gated per relation);
  - candidate generation = subject × object mentions within a sentence
    (``pipeline/KBPAnnotator.java:460+``);
  - the three extractors: token-sequence patterns
    (``ie/KBPTokensregexExtractor.java``), dependency-graph patterns
    (``ie/KBPSemgrexExtractor.java``) and the trained statistical classifier
    (``ie/KBPStatisticalExtractor.java``), combined by taking the
    highest-confidence hit per mention pair (``ie/KBPEnsembleExtractor.java``
    coalesce semantics).

Spark shape: ``kbp_arm_rows`` is one pass of ``fused.doc_rows`` over the
annotated docs that runs the three per-sentence arm functions on each
sentence and tags every row with its arm; ``kbp_ensemble`` is one groupBy
over those rows. Candidate pairs never leave their sentence, so there is no
join, and the ensemble's groupBy is the only shuffle.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corenlp_spark.operators.depparse import sentence_graphs
from corenlp_spark.operators.semgrex import compile_semgrex, match_semgrex
from corenlp_spark.operators.tokensregex import compile_pattern, find_all

# ---------------------------------------------------------------------------
# Relation taxonomy: the reference's 2013 shared-task inventory
# (``ie/KBPRelationExtractor.java:119-168``), with the fine NER types
# (CITY/COUNTRY/STATE_OR_PROVINCE → LOCATION, NATIONALITY/IDEOLOGY/RELIGION/
# TITLE/CHARGE → MISC) collapsed onto this engine's coarse tag set.
# relation → (subject NER, allowed object NERs)
# ---------------------------------------------------------------------------
RELATION_TAXONOMY: dict[str, tuple[str, tuple[str, ...]]] = {
    "per:alternate_names": ("PERSON", ("PERSON", "MISC")),
    "per:children": ("PERSON", ("PERSON",)),
    "per:cities_of_residence": ("PERSON", ("LOCATION",)),
    "per:city_of_birth": ("PERSON", ("LOCATION",)),
    "per:city_of_death": ("PERSON", ("LOCATION",)),
    "per:countries_of_residence": ("PERSON", ("LOCATION",)),
    "per:country_of_birth": ("PERSON", ("LOCATION",)),
    "per:country_of_death": ("PERSON", ("LOCATION",)),
    "per:employee_of": ("PERSON", ("ORGANIZATION", "LOCATION")),
    "per:location_of_birth": ("PERSON", ("LOCATION",)),
    "per:location_of_death": ("PERSON", ("LOCATION",)),
    "per:location_of_residence": ("PERSON", ("LOCATION",)),
    "per:member_of": ("PERSON", ("ORGANIZATION",)),
    "per:origin": ("PERSON", ("MISC", "LOCATION")),
    "per:other_family": ("PERSON", ("PERSON",)),
    "per:parents": ("PERSON", ("PERSON",)),
    "per:schools_attended": ("PERSON", ("ORGANIZATION",)),
    "per:siblings": ("PERSON", ("PERSON",)),
    "per:spouse": ("PERSON", ("PERSON",)),
    "per:stateorprovince_of_birth": ("PERSON", ("LOCATION",)),
    "per:stateorprovince_of_death": ("PERSON", ("LOCATION",)),
    "per:stateorprovinces_of_residence": ("PERSON", ("LOCATION",)),
    "per:age": ("PERSON", ("NUMBER", "DURATION")),
    "per:date_of_birth": ("PERSON", ("DATE",)),
    "per:date_of_death": ("PERSON", ("DATE",)),
    "per:cause_of_death": ("PERSON", ("CAUSE_OF_DEATH", "MISC")),
    "per:charges": ("PERSON", ("CRIMINAL_CHARGE", "MISC")),
    "per:religion": ("PERSON", ("RELIGION", "MISC")),
    "per:title": ("PERSON", ("MISC",)),
    "org:alternate_names": ("ORGANIZATION", ("ORGANIZATION", "MISC")),
    "org:city_of_headquarters": ("ORGANIZATION", ("LOCATION",)),
    "org:country_of_headquarters": ("ORGANIZATION", ("LOCATION",)),
    "org:location_of_headquarters": ("ORGANIZATION", ("LOCATION",)),
    "org:stateorprovince_of_headquarters": ("ORGANIZATION", ("LOCATION",)),
    "org:founded_by": ("ORGANIZATION", ("PERSON", "ORGANIZATION")),
    "org:member_of": ("ORGANIZATION", ("ORGANIZATION", "LOCATION")),
    "org:members": ("ORGANIZATION", ("ORGANIZATION", "LOCATION")),
    "org:parents": ("ORGANIZATION", ("ORGANIZATION",)),
    "org:political_religious_affiliation": ("ORGANIZATION", ("MISC",)),
    "org:shareholders": ("ORGANIZATION", ("PERSON", "ORGANIZATION")),
    "org:subsidiaries": ("ORGANIZATION", ("ORGANIZATION",)),
    "org:top_members_employees": ("ORGANIZATION", ("PERSON",)),
    "org:dissolved": ("ORGANIZATION", ("DATE",)),
    "org:founded": ("ORGANIZATION", ("DATE",)),
    "org:number_of_employees_members": ("ORGANIZATION", ("NUMBER",)),
    "org:website": ("ORGANIZATION", ("URL",)),
}


# ---------------------------------------------------------------------------
# Location-subtype refinement: the reference distinguishes CITY / COUNTRY /
# STATE_OR_PROVINCE objects via fine-grained NER classes
# (``ie/KBPRelationExtractor.java`` NERTag); this engine keeps coarse
# LOCATION and refines the relation AFTER a match against the country/state
# tables below — same observable relation labels.
# ---------------------------------------------------------------------------
_COUNTRIES = {
    "france", "germany", "spain", "portugal", "canada", "japan", "china",
    "india", "brazil", "mexico", "italy", "poland", "norway", "sweden",
    "austria", "australia", "egypt", "kenya", "argentina", "ireland",
    "united states", "united kingdom", "netherlands", "switzerland",
}
_STATES = {
    "texas", "florida", "ohio", "nevada", "arizona", "colorado",
    "alaska", "utah", "oregon", "ontario", "bavaria", "queensland",
}
_LOC_REFINE = {
    "per:city_of_birth": ("per:country_of_birth",
                          "per:stateorprovince_of_birth"),
    "per:city_of_death": ("per:country_of_death",
                          "per:stateorprovince_of_death"),
    "per:cities_of_residence": ("per:countries_of_residence",
                                "per:stateorprovinces_of_residence"),
    "org:city_of_headquarters": ("org:country_of_headquarters",
                                 "org:stateorprovince_of_headquarters"),
}


def refine_location_relation(rel: str, obj_text: str) -> str:
    """city-level relation + country/state object → the subtype relation."""
    alt = _LOC_REFINE.get(rel)
    if alt is None:
        return rel
    lo = obj_text.lower()
    if lo in _COUNTRIES:
        return alt[0]
    if lo in _STATES:
        return alt[1]
    return rel


def _expand(patterns: list[tuple[str, str]]) -> list[tuple[str, str, str, str]]:
    """(pred_pattern, relation) → rows per allowed (subj, obj) signature."""
    rows = []
    for pattern, rel in patterns:
        subj, objs = RELATION_TAXONOMY[rel]
        for o in objs:
            rows.append((pattern, subj, o, rel))
    return rows


# (trigger, relation) — expanded against the taxonomy signatures into one
# token-sequence pattern per (trigger, subj NER, obj NER) row (the
# KBPTokensregexExtractor arm, see ``_trx_pattern``)
KBP_PATTERNS: list[tuple[str, str, str, str]] = _expand([
    ("born in", "per:city_of_birth"),
    ("works for", "per:employee_of"),
    ("worked for", "per:employee_of"),
    ("works at", "per:employee_of"),
    ("employee of", "per:employee_of"),
    ("joined", "per:employee_of"),
    ("hired by", "per:employee_of"),
    ("headquartered in", "org:city_of_headquarters"),
    ("located in", "org:city_of_headquarters"),
    ("based in", "org:city_of_headquarters"),
    ("president of", "per:employee_of"),
    ("acquired", "org:subsidiaries"),
    ("bought", "org:subsidiaries"),
    ("founded", "org:founded_by"),
    ("established", "org:founded_by"),
    ("member of", "per:member_of"),
    ("spouse of", "per:spouse"),
    ("married", "per:spouse"),
    ("wife of", "per:spouse"),
    ("husband of", "per:spouse"),
    ("died in", "per:city_of_death"),
    ("passed away in", "per:city_of_death"),
    ("attended", "per:schools_attended"),
    ("studied at", "per:schools_attended"),
    ("graduate of", "per:schools_attended"),
    ("is graduate of", "per:schools_attended"),
    ("graduated from", "per:schools_attended"),
    ("enrolled at", "per:schools_attended"),
    ("subsidiary of", "org:parents"),
    ("unit of", "org:parents"),
    ("division of", "org:parents"),
    ("owns", "org:subsidiaries"),
    ("parent of", "per:children"),
    ("father of", "per:children"),
    ("mother of", "per:children"),
    ("son of", "per:parents"),
    ("daughter of", "per:parents"),
    ("child of", "per:parents"),
    ("sister of", "per:siblings"),
    ("brother of", "per:siblings"),
    ("cousin of", "per:other_family"),
    ("uncle of", "per:other_family"),
    ("citizen of", "per:origin"),
    ("moved to", "per:cities_of_residence"),
    ("lives in", "per:cities_of_residence"),
    ("lived in", "per:cities_of_residence"),
    ("resides in", "per:cities_of_residence"),
    ("grew up in", "per:cities_of_residence"),
    ("born on", "per:date_of_birth"),
    ("died on", "per:date_of_death"),
    ("founded in", "org:founded"),
    ("established in", "org:founded"),
    ("dissolved in", "org:dissolved"),
    ("shut down in", "org:dissolved"),
    ("employs", "org:number_of_employees_members"),
    ("merged with", "org:parents"),
    ("known as", "org:alternate_names"),
    ("also known as", "per:alternate_names"),
    ("charged with", "per:charges"),
    ("convicted of", "per:charges"),
    ("practices", "per:religion"),
    ("shareholder of", "org:shareholders"),
    ("invested in", "org:shareholders"),
    ("won", "per:title"),
    ("died of", "per:cause_of_death"),
    ("reached at", "org:website"),
    ("member of", "org:member_of"),
    # r4 taxonomy completion (KBPRelationExtractor.java:114-160 rows that
    # had no trigger): generic-LOCATION birth/death/residence, org members/
    # affiliation, LOCATION-level headquarters
    ("born near", "per:location_of_birth"),
    ("died near", "per:location_of_death"),
    ("settled near", "per:location_of_residence"),
    ("has headquarters in", "org:location_of_headquarters"),
    ("admitted", "org:members"),
    ("affiliated with", "org:political_religious_affiliation"),
]) + [
    # signature-specific rows that don't come from the taxonomy expansion
    ("born in", "PERSON", "DATE", "per:date_of_birth"),
    ("died in", "PERSON", "DATE", "per:date_of_death"),
    ("president of", "PERSON", "LOCATION", "per:origin"),
    ("capital of", "LOCATION", "LOCATION", "org:country_of_headquarters"),
    ("ceo of", "PERSON", "ORGANIZATION", "per:employee_of"),
    ("chairman of", "PERSON", "ORGANIZATION", "per:employee_of"),
    ("director of", "PERSON", "ORGANIZATION", "per:employee_of"),
    ("hired", "ORGANIZATION", "PERSON", "org:top_members_employees"),
    ("led by", "ORGANIZATION", "PERSON", "org:top_members_employees"),
    ("founded by", "ORGANIZATION", "PERSON", "org:founded_by"),
    ("is", "PERSON", "NUMBER", "per:age"),
    ("turned", "PERSON", "NUMBER", "per:age"),
    ("aged", "PERSON", "NUMBER", "per:age"),
    # inverse-direction rows ("~rel"): surface order is (holder, company)
    # but the KBP relation anchors on the swapped pair
    ("shareholder of", "PERSON", "ORGANIZATION", "~org:shareholders"),
    ("shareholder of", "ORGANIZATION", "ORGANIZATION", "~org:shareholders"),
    ("owned by", "ORGANIZATION", "ORGANIZATION", "~org:subsidiaries"),
]


# semgrex extractor rules: (semgrex, subj capture, obj capture, subj ner,
# obj ner, relation) — the KBPSemgrexExtractor path of the ensemble
KBP_SEMGREX: list[tuple[str, str, str, str, str]] = [
    ("{lemma:bear} >nsubj {ner:PERSON}=s >nmod:in {ner:LOCATION}=o",
     "PERSON", "LOCATION", "per:city_of_birth", "semgrex"),
    ("{lemma:bear} >nsubj {ner:PERSON}=s >nmod:in {ner:DATE}=o",
     "PERSON", "DATE", "per:date_of_birth", "semgrex"),
    ("{lemma:work} >nsubj {ner:PERSON}=s >nmod:for {ner:ORGANIZATION}=o",
     "PERSON", "ORGANIZATION", "per:employee_of", "semgrex"),
    ("{lemma:headquarter} >nsubj {ner:ORGANIZATION}=s >nmod:in {ner:LOCATION}=o",
     "ORGANIZATION", "LOCATION", "org:city_of_headquarters", "semgrex"),
    ("{lemma:acquire} >nsubj {ner:ORGANIZATION}=s >obj {ner:ORGANIZATION}=o",
     "ORGANIZATION", "ORGANIZATION", "org:subsidiaries", "semgrex"),
    ("{lemma:locate} >nsubj {ner:ORGANIZATION}=s >nmod:in {ner:LOCATION}=o",
     "ORGANIZATION", "LOCATION", "org:city_of_headquarters", "semgrex"),
    # r3 widening: death/charge/study/marriage/employment frames
    ("{lemma:die} >nsubj {ner:PERSON}=s >nmod:of {ner:CAUSE_OF_DEATH}=o",
     "PERSON", "CAUSE_OF_DEATH", "per:cause_of_death", "semgrex"),
    ("{lemma:die} >nsubj {ner:PERSON}=s >nmod:on {ner:DATE}=o",
     "PERSON", "DATE", "per:date_of_death", "semgrex"),
    ("{lemma:charge} >nsubj {ner:PERSON}=s >nmod:with {ner:CRIMINAL_CHARGE}=o",
     "PERSON", "CRIMINAL_CHARGE", "per:charges", "semgrex"),
    ("{lemma:marry} >nsubj {ner:PERSON}=s >obj {ner:PERSON}=o",
     "PERSON", "PERSON", "per:spouse", "semgrex"),
    ("{lemma:attend} >nsubj {ner:PERSON}=s >obj {ner:ORGANIZATION}=o",
     "PERSON", "ORGANIZATION", "per:schools_attended", "semgrex"),
    ("{lemma:graduate} >nsubj {ner:PERSON}=s >nmod:from {ner:ORGANIZATION}=o",
     "PERSON", "ORGANIZATION", "per:schools_attended", "semgrex"),
    ("{lemma:employ} >nsubj {ner:ORGANIZATION}=s >obj ({} >nummod {ner:NUMBER}=o)",
     "ORGANIZATION", "NUMBER", "org:number_of_employees_members", "semgrex"),
    ("{lemma:hire} >nsubj {ner:ORGANIZATION}=s >obj {ner:PERSON}=o",
     "ORGANIZATION", "PERSON", "org:top_members_employees", "semgrex"),
    ("{lemma:found} >nsubj:pass {ner:ORGANIZATION}=s >nmod:by {ner:PERSON}=o",
     "ORGANIZATION", "PERSON", "org:founded_by", "semgrex"),
    ("{lemma:live} >nsubj {ner:PERSON}=s >nmod:in {ner:LOCATION}=o",
     "PERSON", "LOCATION", "per:cities_of_residence", "semgrex"),
]


# statistical arm: TRAINED multiclass relation classifier over between-
# mention lemma + type-signature features PLUS dependency-path features
# (``ie/KBPStatisticalExtractor.java:190-437`` re-expressed: surface frames
# 246-310, dependencyFeatures 363-437). Weights are trained by
# scripts/train_models.py on the synthesized distant-supervision rows
# (data/kbp_corpus.lr_training_rows — parsed with the SAME trained parser
# used at inference, so the path-feature distributions match) and shipped
# as a committed artifact, loaded once per executor process.


def span_head(parent: dict, s0: int, s1: int) -> int:
    """Head of token span [s0, s1): the last token governed from outside
    the span (simple/SentenceAlgorithms.headOfSpan semantics)."""
    for k in range(s1 - 1, s0 - 1, -1):
        h = parent.get(k, (-1, ""))[0]
        if h < s0 or h >= s1:
            return k
    return s1 - 1


def dep_path(parent: dict, lemmas: list[str], a: int, b: int,
             max_steps: int = 64, offset: int = 0) -> list[str] | None:
    """Alternating [lemma, edge, lemma, …] path between tokens a and b over
    the parent map {dep: (head, rel)} — up-edges render ``<-rel-``,
    down-edges ``-rel->`` (simple/SentenceAlgorithms.dependencyPathBetween:
    449-512 output shape). ``lemmas[i]`` is token ``i + offset``'s lemma.
    Returns None when no tree path exists."""
    chain = {a: 0}
    order = [a]
    cur = a
    while cur in parent and parent[cur][0] != -1:
        nxt = parent[cur][0]
        if nxt in chain or len(order) > max_steps:
            return None  # loopy parse — skip path features
        chain[nxt] = len(order)
        order.append(nxt)
        cur = nxt
    up_b: list[int] = []
    cur = b
    seen = {b}
    while cur not in chain:
        e = parent.get(cur)
        if e is None or e[0] == -1 or e[0] in seen or len(up_b) > max_steps:
            return None
        up_b.append(cur)
        cur = e[0]
        seen.add(cur)
    lca = cur
    path = [lemmas[a - offset]]
    cur = a
    while cur != lca:
        h, rel = parent[cur]
        path.append(f"<-{rel}-")
        path.append(lemmas[h - offset])
        cur = h
    for node in reversed(up_b):
        _, rel = parent[node]
        path.append(f"-{rel}->")
        path.append(lemmas[node - offset])
    return path


@functools.cache
def _get_rel_model():
    from corenlp_spark.models.perceptron import (
        RelationClassifier, load_weights,
    )
    return RelationClassifier.from_broadcastable(load_weights("kbp"))


def _trx_pattern(trigger: str, s_ner: str, o_ner: str) -> str:
    """Build the token-sequence pattern for one (trigger, signature) row —
    the shape of the reference's per-relation rule files
    (``ie/KBPTokensregexExtractor.java:60-120`` loading
    ``data/edu/stanford/nlp/kbp/*``): a typed subject capture, an optional
    auxiliary/adverb gap, the literal trigger tokens, an optional
    determiner/modifier gap, and a typed object capture. Token-level node
    predicates replace r2's substring-on-predicate matching, which fired on
    accidental substrings ("is" inside "is worth")."""
    gap = r"[pos:/DT|PRP\$/]?"
    words = f" {gap} ".join(f"[word:{w}]" for w in trigger.split())
    return (f"(?$subject [ner:{s_ner}]+) "
            r"[pos:/VB|VBD|VBZ|VBP|VBN|MD|RB|DT|PRP\$|JJ|,/]* "
            f"{words} "
            r"[pos:/DT|PRP\$/]* "
            f"(?$object [ner:{o_ner}]+)")


# ---------------------------------------------------------------------------
# The three arms, one sentence at a time. Each returns (subj, relation, obj,
# confidence) hits; arm priority is encoded in the confidence ranges
# (KBPEnsembleExtractor priority): tokensregex 1.0 > semgrex 0.9 >
# statistical ≤ 0.85.
# ---------------------------------------------------------------------------

# NER classes the statistical arm never pairs as mentions
_NON_MENTION = ("O", "", "ORDINAL", "MONEY", "TIME")
_SIGNATURES = {(s, o) for s, objs in RELATION_TAXONOMY.values() for o in objs}
STAT_THRESHOLD = 0.5


def _ner_runs(seg) -> list[tuple[int, int, str]]:
    """Maximal same-NER runs (start, end, ner) over a sentence's tokens,
    sentence-relative; ``O`` runs included."""
    runs = []
    i = 0
    while i < len(seg):
        ner = seg[i]["ner"]
        j = i + 1
        while j < len(seg) and seg[j]["ner"] == ner:
            j += 1
        runs.append((i, j, ner))
        i = j
    return runs


def tokensregex_sentence(seg, by_first: dict) -> list[tuple]:
    """TokensRegex arm (``ie/KBPTokensregexExtractor.java``): run the
    compiled token-sequence patterns over the sentence's token attributes.
    ``by_first`` maps a trigger's first word to its (elems, relation,
    inverse?) rows, so only patterns whose trigger word occurs are run
    (CoreMapNodePatternTrigger.java trick). Hits are distinct: two patterns
    matching the same span pair with the same relation yield one row."""
    hits = set()
    for first in {t["word"].lower() for t in seg} & by_first.keys():
        for elems, rel, inv in by_first[first]:
            for _, _, groups in find_all(elems, seg):
                if "subject" not in groups or "object" not in groups:
                    continue
                sa, sb = groups["subject"]
                oa, ob = groups["object"]
                subj_t = " ".join(t["word"] for t in seg[sa:sb])
                obj_t = " ".join(t["word"] for t in seg[oa:ob])
                if inv:
                    subj_t, obj_t = obj_t, subj_t
                hits.add((subj_t, refine_location_relation(rel, obj_t), obj_t, 1.0))
    return list(hits)


def semgrex_sentence(g, runs, compiled) -> list[tuple]:
    """Semgrex arm (``ie/KBPSemgrexExtractor.java``): match the compiled
    rules over the sentence's dependency graph; each capture expands to
    the same-NER run around it."""
    if not g.edges:
        return []
    run_of = [r for r, (lo, hi, _ner) in enumerate(runs) for _ in range(lo, hi)]

    def span_text(head):
        a, b, _ = runs[run_of[head - g.off]]
        return " ".join(g.words[a:b])

    hits = []
    for pat, rel in compiled:
        for m in match_semgrex(pat, g):
            if "s" in m and "o" in m:
                obj_t = span_text(m["o"])
                hits.append((span_text(m["s"]), refine_location_relation(rel, obj_t),
                             obj_t, 0.9))
    return hits


def statistical_sentence(g, runs, model) -> list[tuple]:
    """Statistical arm: classify each ordered pair of mention runs whose NER
    signature appears in the taxonomy; keep non-NONE predictions at or
    above ``STAT_THRESHOLD`` that pass the predicted relation's type check
    (confidence capped at 0.85 by the model)."""
    a, lemmas, parent = g.off, g.lemmas, g.parent
    mentions = [r for r in runs if r[2] not in _NON_MENTION]
    hits = []
    for si, (s0, s1, sner) in enumerate(mentions):
        for oi, (o0, o1, oner) in enumerate(mentions):
            if si == oi or (sner, oner) not in _SIGNATURES:
                continue
            # features = lemmas BETWEEN the pair (+ inversion marker when
            # the object precedes the subject)
            if s1 <= o0:
                between = lemmas[s1:o0]
            else:
                between = lemmas[o1:s0] + ["inv"]
            dep = None
            if parent:
                sh = span_head(parent, a + s0, a + s1)
                oh = span_head(parent, a + o0, a + o1)
                path = dep_path(parent, lemmas, sh, oh, offset=a)
                if path:
                    dep = {"path": path, "spos": g.pos[sh - a],
                           "opos": g.pos[oh - a], "obj_head": g.lemma(oh)}
            rel, conf = model.predict(between, sner, oner, dep)
            # taxonomy type check (the reference's per-relation signature
            # validation)
            sig = RELATION_TAXONOMY.get(rel)
            if sig is not None and (sner != sig[0] or oner not in sig[1]):
                continue
            if rel != model.NONE and conf >= STAT_THRESHOLD:
                obj_t = " ".join(g.words[o0:o1])
                hits.append((" ".join(g.words[s0:s1]),
                             refine_location_relation(rel, obj_t), obj_t, conf))
    return hits


def kbp_arm_rows(annotated: DataFrame) -> DataFrame:
    """All three KBP extractors in one pass over the annotated docs
    (``fused.doc_rows``): it reads ``doc_id, tokens, sentences`` (plus
    ``deps`` when the frame has it; a missing or NULL ``deps`` means no
    edges, so the semgrex arm yields nothing and the statistical arm has no
    path features) and yields ``(doc_id, sent_idx, subj, relation, obj,
    confidence, arm)`` with ``arm`` in tokensregex / semgrex / statistical.

    Patterns compile once on the driver. The tokensregex arm's hits are
    distinct per sentence; that equals a ``dropDuplicates`` on (doc_id,
    sent_idx, subj, relation, obj) as long as each doc_id names one input
    row, which holds for every caller in the package (a doc_id repeated
    across input rows keeps one copy of its rows per input row)."""
    from corenlp_spark.plans.fused import doc_rows

    by_first: dict[str, list] = {}
    for trigger, s_ner, o_ner, rel in KBP_PATTERNS:
        elems = compile_pattern(_trx_pattern(trigger, s_ner, o_ner))
        by_first.setdefault(trigger.split()[0].lower(), []).append(
            (elems, rel.lstrip("~"), rel.startswith("~")))
    semgrex = [(compile_semgrex(p), rel) for p, _, _, rel, _ in KBP_SEMGREX]

    def per_doc(tokens, sentences, deps, coref):
        model = _get_rel_model()
        for s, g in sentence_graphs(tokens, sentences, deps):
            runs = _ner_runs(g.toks)
            for arm, hits in (
                ("tokensregex", tokensregex_sentence(g.toks, by_first)),
                ("semgrex", semgrex_sentence(g, runs, semgrex)),
                ("statistical", statistical_sentence(g, runs, model)),
            ):
                for h in hits:
                    yield (s["sent_idx"], *h, arm)

    return doc_rows(annotated, per_doc,
                    "doc_id string, sent_idx int, subj string, relation string, "
                    "obj string, confidence double, arm string",
                    reads=("tokens", "sentences", "deps"))


def kbp_ensemble(rows: DataFrame) -> DataFrame:
    """Ensemble vote over ``kbp_arm_rows``: per (doc, sent, subj, obj) keep
    the highest-confidence relation across arms (KBPEnsembleExtractor
    coalesce semantics; arm priority is encoded in confidence ranges:
    tokensregex 1.0 > semgrex 0.9 > statistical ≤0.85) and count the
    votes."""
    return (
        rows.groupBy("doc_id", "sent_idx", "subj", "obj")
        .agg(F.max(F.struct("confidence", "relation")).alias("best"),
             F.count("*").alias("n_votes"))
        .select("doc_id", "sent_idx", "subj",
                F.col("best.relation").alias("relation"), "obj",
                F.col("best.confidence").alias("confidence"), "n_votes")
    )
