"""Protobuf serializer round-trip + wire-format conformance.

The writer hand-encodes ``pipeline/CoreNLP.proto`` field numbers
(ProtobufAnnotationSerializer subset); these tests check (a) an exact
round-trip through the in-repo decoder and (b) raw wire bytes — varint
keys and length-delimited framing — at known positions, so compatibility
does not silently drift.
"""

from corenlp_spark.plans.fused import annotate
from corenlp_spark.sources.protobuf_out import (
    decode_document, encode_document, to_protobuf,
)


def _docs(spark, texts):
    import pandas as pd

    from corenlp_spark.data.synth import DOCS_SCHEMA

    return spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [f"p{i}" for i in range(len(texts))],
            "spans": [[{"kind": "text", "text": t, "media_ref": None,
                        "offset": 0}] for t in texts],
        }),
        schema=DOCS_SCHEMA,
    )


def test_wire_format_primitives():
    buf = encode_document("d1", "Hi.", [], [], None, doc_date="2013-02-21")
    # field 1 (text), wire type 2 → key byte 0x0A, length 3, "Hi."
    assert buf[0] == 0x0A and buf[1] == 3 and buf[2:5] == b"Hi."
    # docID field 4 → key 0x22; docDate field 7 → key 0x3A
    assert b"\x22\x02d1" in buf
    assert b"\x3a\x0a2013-02-21" in buf


def test_roundtrip_spark(spark):
    ann = annotate(_docs(spark, [
        "Barack Obama was born in Hawaii. He was elected in 2008.",
        "IBM announced a laboratory in Armonk.",
    ]))
    rows = {r.doc_id: bytes(r.proto) for r in to_protobuf(ann).collect()}
    src = {r["doc_id"]: r for r in ann.collect()}
    assert set(rows) == set(src)
    for doc_id, buf in rows.items():
        doc = decode_document(buf)
        orig = src[doc_id]
        assert doc["doc_id"] == doc_id
        assert len(doc["sentences"]) == len(orig["sentences"])
        for s_dec, s_orig in zip(doc["sentences"], orig["sentences"]):
            a, b = s_orig["start_tok"], s_orig["end_tok"]
            toks = orig["tokens"][a:b]
            assert [t["word"] for t in s_dec["tokens"]] == [t["word"] for t in toks]
            assert [t["ner"] for t in s_dec["tokens"]] == [t["ner"] for t in toks]
            assert [t["lemma"] for t in s_dec["tokens"]] == [t["lemma"] for t in toks]
            # dependency edges round-trip (1-based local indices)
            orig_edges = {(e["head"] - a + 1, e["dep"] - a + 1, e["rel"])
                          for e in orig["deps"]
                          if e["sent_idx"] == s_orig["sent_idx"] and e["head"] >= 0}
            dec_edges = {(e["source"], e["target"], e["dep"])
                         for e in s_dec["edges"]}
            assert dec_edges == orig_edges
            assert len(s_dec["roots"]) == 1


def test_polarity_field_roundtrips(spark):
    ann = annotate(_docs(spark, ["No politician likes taxes."]))
    buf = bytes(to_protobuf(ann).first().proto)
    doc = decode_document(buf)
    pol = {t["word"]: t.get("polarity") for t in doc["sentences"][0]["tokens"]}
    assert pol["politician"] == "down" and pol["likes"] == "down"


def test_timex_submessage_roundtrip():
    """Token.timexValue (CoreNLP.proto field 19, Timex value=1/type=4):
    temporal tokens carry a Timex submessage; the |MOD suffix (this
    engine's serialization of the separate TIMEX3 mod attribute) is
    stripped to the clean value the reference proto carries."""
    from corenlp_spark.sources.protobuf_out import (
        decode_document, encode_document,
    )

    tokens = [
        {"word": "about", "pos": "RB", "ner": "DURATION",
         "nner": "P3W|APPROX", "lemma": "about", "idx": 0, "sent": 0},
        {"word": "yesterday", "pos": "NN", "ner": "DATE",
         "nner": "2020-06-14", "lemma": "yesterday", "idx": 1, "sent": 0},
        {"word": "ran", "pos": "VBD", "ner": "O", "nner": None,
         "lemma": "run", "idx": 2, "sent": 0},
    ]
    sentences = [{"sent_idx": 0, "start_tok": 0, "end_tok": 3}]
    buf = encode_document("d1", "about yesterday ran", tokens, sentences, {})
    doc = decode_document(buf)
    toks = doc["sentences"][0]["tokens"]
    assert toks[0]["timex"] == {"value": "P3W", "type": "DURATION"}
    assert toks[1]["timex"] == {"value": "2020-06-14", "type": "DATE"}
    assert "timex" not in toks[2]
