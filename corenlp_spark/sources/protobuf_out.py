"""CoreNLP-protobuf-compatible annotation serializer (pure Python).

Behavioral reference: ``pipeline/ProtobufAnnotationSerializer.java`` with
the wire schema ``pipeline/CoreNLP.proto``. This module hand-encodes the
protobuf WIRE FORMAT (varint keys, length-delimited submessages) for the
subset of fields this engine produces, using the reference's EXACT field
numbers — so the bytes are parseable by any consumer of the reference's
``Document`` message (unknown-field semantics make the subset valid). No
protobuf library is required (none ships in this container); the format is
public and stable.

Field subset:
  Document: text=1, sentence=2, docID=4, docDate=7
  Sentence: token=1, tokenOffsetBegin=2, tokenOffsetEnd=3,
            sentenceIndex=4, basicDependencies=8
  Token:    word=1, pos=2, originalText=7, ner=8, normalizedNER=9,
            lemma=10, beginChar=11, endChar=12, polarity_dir=39
  DependencyGraph: node=1 {sentenceIndex=1, index=2},
                   edge=2 {source=1, target=2, dep=3}, root=3 (packed)

The writer length-prefixes each Document (writeDelimitedTo framing), the
reader round-trips exactly. Spark-side: one Arrow batch per call, returns
(doc_id, proto binary) rows — a checkpoint/sink format the reference's own
tooling can read.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from corenlp_spark.operators.depparse import SentenceGraph, sentence_graphs


# -- wire primitives --------------------------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _key(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _str(field: int, s: str) -> bytes:
    b = s.encode("utf-8")
    return _key(field, 2) + _varint(len(b)) + b


def _u32(field: int, v: int) -> bytes:
    return _key(field, 0) + _varint(v)


def _msg(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _varint(len(payload)) + payload


def _packed(field: int, vals: list[int]) -> bytes:
    body = b"".join(_varint(v) for v in vals)
    return _key(field, 2) + _varint(len(body)) + body


# -- encode -----------------------------------------------------------------

def encode_token(t: dict, polarity: str | None = None) -> bytes:
    out = [_str(1, t["word"]), _str(2, t.get("pos") or "")]
    if t.get("original"):
        out.append(_str(7, t["original"]))
    out.append(_str(8, t.get("ner") or "O"))
    if t.get("nner"):
        out.append(_str(9, t["nner"]))
    out.append(_str(10, t.get("lemma") or t["word"]))
    if t.get("begin") is not None:
        out.append(_u32(11, int(t["begin"])))
        out.append(_u32(12, int(t["end"])))
    if polarity:
        out.append(_str(39, polarity))
    # Timex submessage (CoreNLP.proto Token.timexValue = 19; Timex fields
    # value=1, type=4): emitted for temporal NER classes; the TIMEX3 value
    # is the nner string minus this engine's |MOD suffix serialization
    # (the reference proto carries no mod field)
    if t.get("ner") in ("DATE", "TIME", "DURATION", "SET") and t.get("nner"):
        val = str(t["nner"]).split("|", 1)[0]
        out.append(_msg(19, _str(1, val) + _str(4, t["ner"])))
    return b"".join(out)


def encode_sentence(sent: dict, g: SentenceGraph) -> bytes:
    """One sentence from its graph view (doc-level indices, converted to
    proto's SENTENCE-LOCAL 1-based indices + root list). When edges exist,
    each token also carries its natlog polarity mark (proto field 39
    polarity_dir — the reference's Polarity annotation)."""
    from corenlp_spark.operators.openie import compute_polarity

    sidx = int(sent["sent_idx"])
    pol = compute_polarity(g) if g.edges else None
    out = [_msg(1, encode_token(t, pol[i] if pol else None))
           for i, t in enumerate(g.toks)]
    out.append(_u32(2, int(sent["start_tok"])))
    out.append(_u32(3, int(sent["end_tok"])))
    out.append(_u32(4, sidx))
    if g.edges:
        body = []
        for i in range(len(g.toks)):
            body.append(_msg(1, _u32(1, sidx) + _u32(2, i + 1)))
        roots = []
        for h, d, rel in g.edges:
            if h < 0:
                roots.append(d - g.off + 1)
            else:
                body.append(_msg(2, _u32(1, h - g.off + 1) + _u32(2, d - g.off + 1)
                                 + _str(3, rel)))
        if roots:
            body.append(_packed(3, roots))
        out.append(_msg(8, b"".join(body)))
    return b"".join(out)


def encode_document(doc_id: str, text: str, tokens: list[dict],
                    sentences: list[dict], deps: list[dict] | None = None,
                    doc_date: str | None = None) -> bytes:
    out = [_str(1, text)]
    for s, g in sentence_graphs(tokens, sentences, deps):
        out.append(_msg(2, encode_sentence(s, g)))
    out.append(_str(4, doc_id))
    if doc_date:
        out.append(_str(7, doc_date))
    return b"".join(out)


# -- decode (round-trip consumer) ------------------------------------------

def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return n, i
        shift += 7


def _fields(buf: bytes):
    i = 0
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = _read_varint(buf, i)
        elif wire == 2:
            ln, i = _read_varint(buf, i)
            v = buf[i:i + ln]
            i += ln
        else:  # 64/32-bit fixed — not produced by this writer
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, v


def decode_document(buf: bytes) -> dict:
    doc = {"text": "", "doc_id": "", "doc_date": None, "sentences": []}
    for f, w, v in _fields(buf):
        if f == 1:
            doc["text"] = v.decode("utf-8")
        elif f == 4:
            doc["doc_id"] = v.decode("utf-8")
        elif f == 7:
            doc["doc_date"] = v.decode("utf-8")
        elif f == 2:
            sent = {"tokens": [], "edges": [], "roots": []}
            for sf, sw, sv in _fields(v):
                if sf == 1:
                    tok = {}
                    names = {1: "word", 2: "pos", 7: "original", 8: "ner",
                             9: "nner", 10: "lemma", 39: "polarity"}
                    for tf, tw, tv in _fields(sv):
                        if tf in names:
                            tok[names[tf]] = tv.decode("utf-8")
                        elif tf == 11:
                            tok["begin"] = tv
                        elif tf == 12:
                            tok["end"] = tv
                        elif tf == 19:
                            tx = {}
                            for xf, xw, xv in _fields(tv):
                                if xf == 1:
                                    tx["value"] = xv.decode("utf-8")
                                elif xf == 4:
                                    tx["type"] = xv.decode("utf-8")
                            tok["timex"] = tx
                    sent["tokens"].append(tok)
                elif sf == 2:
                    sent["start_tok"] = sv
                elif sf == 3:
                    sent["end_tok"] = sv
                elif sf == 4:
                    sent["sent_idx"] = sv
                elif sf == 8:
                    for gf, gw, gv in _fields(sv):
                        if gf == 2:
                            edge = {}
                            for ef, ew, ev in _fields(gv):
                                if ef == 1:
                                    edge["source"] = ev
                                elif ef == 2:
                                    edge["target"] = ev
                                elif ef == 3:
                                    edge["dep"] = ev.decode("utf-8")
                            sent["edges"].append(edge)
                        elif gf == 3:
                            i = 0
                            while i < len(gv):
                                r, i = _read_varint(gv, i)
                                sent["roots"].append(r)
            doc["sentences"].append(sent)
    return doc


# -- Spark surface ----------------------------------------------------------

def to_protobuf(annotated: DataFrame) -> DataFrame:
    """(doc_id, spans, tokens, sentences[, deps]) → (doc_id, proto binary).

    One Arrow batch per call; output is a narrow transform that can be
    written to any binary-column sink (parquet/files) and read back with
    ``decode_document`` — or by the reference's own protobuf tooling."""
    has_deps = "deps" in {f.name for f in annotated.schema.fields}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            protos = []
            for _, row in pdf.iterrows():
                text = " ".join(
                    s["text"] for s in row["spans"]
                    if s.get("kind") == "text" and s.get("text"))
                protos.append(encode_document(
                    row["doc_id"], text, row["tokens"], row["sentences"],
                    row["deps"] if has_deps else None))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "proto": protos})

    return annotated.mapInPandas(run, schema="doc_id string, proto binary")
