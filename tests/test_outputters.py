"""Outputter tests: CoreNLP-shaped JSON, CoNLL-U write + read roundtrip."""

import json

import pandas as pd

from corenlp_spark.data.synth import DOCS_SCHEMA
from corenlp_spark.plans.fused import annotate
from corenlp_spark.sources.conllu import read_conllu, to_conllu_lines
from corenlp_spark.sources.json_out import to_corenlp_json


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [f"d{i}" for i in range(len(texts))],
            "spans": [[{"kind": "text", "text": t, "media_ref": None, "offset": 0}]
                      for t in texts],
        }),
        schema=DOCS_SCHEMA,
    )


def test_json_outputter_shape(spark):
    ann = annotate(_docs(spark, ["Barack Obama visited Paris. He spoke."]))
    row = to_corenlp_json(ann).first()
    doc = json.loads(row.json)
    assert doc["docId"] == "d0"
    assert len(doc["sentences"]) == 2
    t0 = doc["sentences"][0]["tokens"][0]
    assert t0["word"] == "Barack" and t0["ner"] == "PERSON"
    assert t0["characterOffsetBegin"] == 0 and t0["characterOffsetEnd"] == 6
    deps = doc["sentences"][0]["basicDependencies"]
    assert any(d["dep"] == "root" for d in deps)
    assert any(m["isRepresentativeMention"] for m in doc["corefs"])


def test_conll_tsv_text_xml_outputters(spark):
    from corenlp_spark.sources.outputters import to_conll, to_text, to_tsv, to_xml

    ann = annotate(_docs(spark, ["Barack Obama visited Paris. He spoke."]))
    conll = to_conll(ann).first().conll
    sents = conll.split("\n\n")
    assert len(sents) == 2
    first = sents[0].splitlines()[0].split("\t")
    # r5: reference 7-column default with _ for head/deprel (those are
    # carried by the CoNLL-U outputter when the parse is materialized)
    assert first == ["1", "Barack", "Barack", "NNP", "PERSON", "_", "_"]
    # sentence-local ids: the second sentence restarts at 1
    assert sents[1].splitlines()[0].split("\t")[0] == "1"
    # custom output.columns
    assert to_conll(ann, ["word", "pos"]).first().conll.splitlines()[0] \
        == "Barack\tNNP"

    tsv = to_tsv(ann).orderBy("sent", "idx").collect()
    assert tsv[0].tsv.split("\t")[:4] == ["d0", "0", "0", "Barack"]
    assert len(tsv) == 8  # "Barack Obama visited Paris ." + "He spoke ."
    assert {r.sent for r in tsv} == {0, 1}

    text = to_text(ann).first().text
    assert text.startswith("Sentence #1 (")
    assert "[Text=Barack POS=NNP NER=PERSON]" in text

    xml = to_xml(ann).first().xml
    assert xml.startswith('<document docId="d0"><sentences><sentence id="1">')
    assert "<word>Barack</word>" in xml and "<NER>PERSON</NER>" in xml
    # escaping: & < > must never appear raw in content
    from corenlp_spark.sources.outputters import _xml_escape
    from pyspark.sql import functions as F

    esc = spark.range(1).select(
        _xml_escape(F.lit('a & b < c > d')).alias("e")).first().e
    assert esc == "a &amp; b &lt; c &gt; d"


def test_conllu_roundtrip(spark, tmp_path):
    ann = annotate(_docs(spark, ["Obama visited Paris."]))
    lines = to_conllu_lines(ann)
    rows = lines.orderBy("doc_id", "sent_idx").collect()
    assert rows[0].line.split("\t")[1] == "Obama"
    # write a CoNLL-U file and read it back
    path = str(tmp_path / "sample.conllu")
    with open(path, "w") as f:
        for r in rows:
            f.write(r.line + "\n")
        f.write("\n")
    back = read_conllu(spark, path).orderBy("tok_id").collect()
    assert [r.form for r in back] == ["Obama", "visited", "Paris", "."]
    assert back[0].lemma == "Obama" and back[1].lemma == "visit"


def test_conllu_real_heads_and_sentence_local_ids(spark, tmp_path):
    """HEAD/DEPREL carry the actual parse; multi-sentence docs restart ids
    at 1 per sentence (CoNLLUOutputter.java semantics)."""
    ann = annotate(_docs(spark, ["Obama visited Paris. Cats sleep."]))
    rows = to_conllu_lines(ann).orderBy("sent_idx", "line").collect()
    by_sent = {}
    for r in rows:
        by_sent.setdefault(r.sent_idx, []).append(r.line.split("\t"))
    # both sentences restart at id 1
    assert {ls[0][0] for ls in by_sent.values()} == {"1"}
    s0 = {ls[1]: ls for ls in by_sent[0]}
    assert s0["visited"][7] == "root" and s0["visited"][6] == "0"
    # Obama is the subject of visited (head = visited's local id)
    assert s0["Obama"][6] == s0["visited"][0]
    assert s0["Obama"][7].startswith("nsubj")
    # heads round-trip through the reader
    path = str(tmp_path / "heads.conllu")
    with open(path, "w") as f:
        prev = None
        for r in to_conllu_lines(ann).orderBy("sent_idx", "line").collect():
            if prev is not None and r.sent_idx != prev:
                f.write("\n")
            f.write(r.line + "\n")
            prev = r.sent_idx
        f.write("\n")
    back = read_conllu(spark, path).collect()
    assert {r.deprel for r in back} >= {"root", "nsubj"}


def test_conllu_upos_and_enhanced_deps(spark):
    """UPOS column via the UniversalPOSMapper table and the enhanced graph
    in the DEPS column (head:rel — CoNLLUOutputter enhanced++ output)."""
    from corenlp_spark.plans.fused import annotate
    from corenlp_spark.sources.conllu import to_conllu_lines

    ann = annotate(_docs(spark, ["Obama visited Paris."]))
    cols = {r.line.split("\t")[1]: r.line.split("\t")
            for r in to_conllu_lines(ann).collect()}
    assert cols["Obama"][3] == "PROPN"
    assert cols["visited"][3] == "VERB"
    assert cols["."][3] == "PUNCT"
    # DEPS = head:rel, root as 0:root
    assert cols["visited"][8] == "0:root"
    assert cols["Obama"][8] == f"{cols['visited'][0]}:nsubj"


def test_json_timex_object(spark):
    """JSONOutputter timex object on temporal tokens: {type, value} with
    the |MOD serialization stripped to the clean TIMEX3 value."""
    import json

    from corenlp_spark.operators.sutime import with_docdate
    from corenlp_spark.plans.fused import annotate
    from corenlp_spark.sources.json_out import to_corenlp_json

    docs = with_docdate(_docs(spark, ["It took about three weeks."]),
                        fixed="2020-06-15")
    ann = annotate(docs, upto="depparse", sutime=True)
    j = json.loads(to_corenlp_json(ann).collect()[0]["json"])
    toks = {t["word"]: t for t in j["sentences"][0]["tokens"]}
    assert toks["weeks"]["timex"] == {"type": "DURATION", "value": "P3W",
                                      "mod": "APPROX"}
    assert "timex" not in toks["took"]


def test_conllu_feats_column(spark, tmp_path):
    """FEATS (column 6) carries the deterministic English UD subset derived
    from xpos+lemma (CoNLLUOutputter.java:54 via UDFeatureAnnotator;
    VERDICT r4 missing #5) and round-trips through the reader."""
    ann = annotate(_docs(spark, ["The cats visited a big city ."]))
    rows = to_conllu_lines(ann).orderBy("sent_idx", "line").collect()
    by_form = {r.line.split("\t")[1]: r.line.split("\t") for r in rows}
    assert by_form["The"][5] == "Definite=Def|PronType=Art"
    assert by_form["a"][5] == "Definite=Ind|PronType=Art"
    assert by_form["cats"][5] == "Number=Plur"
    assert by_form["visited"][5] == "Mood=Ind|Tense=Past|VerbForm=Fin"
    assert by_form["."][5] == "_"
    # tag-table coverage independent of the live tagger's choices
    from pyspark.sql import functions as F

    from corenlp_spark.sources.conllu import _feats_expr
    probe = spark.createDataFrame(
        [("JJ", "big"), ("JJS", "biggest"), ("VBZ", "run"), ("PRP$", "his"),
         ("CD", "7"), ("DT", "this")], "xpos string, lemma string")
    got = {r.xpos: r.f for r in probe.select(
        "xpos", _feats_expr(F.col("xpos"), F.col("lemma")).alias("f")).collect()}
    assert got["JJ"] == "Degree=Pos" and got["JJS"] == "Degree=Sup"
    assert got["VBZ"] == "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin"
    assert got["PRP$"] == "Poss=Yes|PronType=Prs"
    assert got["CD"] == "NumType=Card"
    assert got["DT"] == "PronType=Dem"
    path = str(tmp_path / "feats.conllu")
    with open(path, "w") as f:
        for r in rows:
            f.write(r.line + "\n")
        f.write("\n")
    back = {r.form: r.feats for r in read_conllu(spark, path).collect()}
    assert back["cats"] == "Number=Plur"
    assert back["visited"] == "Mood=Ind|Tense=Past|VerbForm=Fin"


def test_conllu_english_mwt_ranges(spark):
    """EnglishMWTCombinerTest semantics: multi-word-token range rows
    before contraction splits (cannot / it's / wanna), lemmas want/to on
    the wanna parts (trees/ud/EnglishMWTCombiner.java rules)."""
    from corenlp_spark.plans.fused import annotate
    from corenlp_spark.sources.conllu import to_conllu_lines

    docs = spark.createDataFrame(
        [("d1", [{"kind": "text",
                  "text": "I cannot believe it's yours! I wanna fix this.",
                  "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    rows = to_conllu_lines(annotate(docs), mwt=True) \
        .orderBy("sent_idx", "tid", "rank").collect()
    lines = [r.line for r in rows]
    ranges = [ln for ln in lines if "-" in ln.split("\t")[0]]
    assert [ln.split("\t")[:2] for ln in ranges] == [
        ["2-3", "cannot"], ["5-6", "it's"], ["2-3", "wanna"]]
    # range rows come immediately before their first token row
    i = lines.index("2-3\tcannot\t_\t_\t_\t_\t_\t_\t_\t_")
    assert lines[i + 1].split("\t")[:2] == ["2", "can"]
    # wanna parts carry the reference's lemmas
    wan = [ln.split("\t") for ln in lines if ln.split("\t")[1] == "wan"][0]
    na = [ln.split("\t") for ln in lines if ln.split("\t")[1] == "na"][0]
    assert wan[2] == "want" and na[2] == "to"


def test_read_conllu_reference_fixtures(spark, tmp_path):
    """CoNLLUDocumentReaderWriterTest fixtures: MWT range rows and empty
    nodes are skipped, comment lines ignored, the enhanced DEPS column
    parses pipe-separated multi-head lists."""
    import re as _re

    from corenlp_spark.sources.conllu import read_conllu

    mwt = _re.sub("[ ]+", "\t", (
        "1 I I PRON PRP Case=Nom 2 nsubj 2:nsubj _\n"
        "2-3 haven't _ _ _ _ _ _ _ _\n"
        "2 have have VERB VBP Tense=Pres 0 root 0:root _\n"
        "3 not not PART RB Negative=Neg 2 advmod 2:advmod _\n"
        "4 a a DET DT Definite=Ind 5 det 5:det _\n"
        "5 clue clue NOUN NN Number=Sing 2 obj 2:obj _\n"
        "6 . . PUNCT . _ 2 punct 2:punct _\n\n"))
    comments = "#comment line 1\n#comment line 2\n" + mwt.replace(
        "2-3\thaven't\t_\t_\t_\t_\t_\t_\t_\t_\n", "")
    extra = _re.sub("[ ]+", "\t", (
        "1 They They PRON PRP _ 2 nsubj 2:nsubj|4:nsubj _\n"
        "2 buy buy VERB VBP _ 0 root 0:root _\n"
        "3 and and CONJ CC _ 2 cc 2:cc _\n"
        "4 sell sell VERB VBP _ 5 conj 5:conj _\n"
        "5 books book NOUN NNS _ 2 obj 2:obj|4:obj _\n"
        "6 . . PUNCT . _ 2 punct 2:punct _\n\n"))
    f1 = tmp_path / "mwt.conllu"; f1.write_text(mwt)
    f2 = tmp_path / "comments.conllu"; f2.write_text(comments)
    f3 = tmp_path / "extra.conllu"; f3.write_text(extra)

    rows = read_conllu(spark, str(f1)).orderBy("tok_id").collect()
    assert [r.form for r in rows] == ["I", "have", "not", "a", "clue", "."]
    assert rows[0].feats == "Case=Nom"

    rows = read_conllu(spark, str(f2)).orderBy("tok_id").collect()
    assert len(rows) == 6  # comments ignored

    rows = read_conllu(spark, str(f3)).orderBy("tok_id").collect()
    assert rows[0].deps == ["2:nsubj", "4:nsubj"]  # multi-head enhanced
    assert rows[4].deps == ["2:obj", "4:obj"]
    assert rows[1].head == 0 and rows[1].deprel == "root"
