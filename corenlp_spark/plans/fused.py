"""The annotation path: all per-doc kernels in ONE ``mapInPandas``.

The kernels (tokenize → POS+lemma → NER → depparse → coref, and OpenIE on
top) compose in-process and cross Arrow exactly once per batch, emitting
either the annotated doc row (``annotate``) or, through ``doc_rows``, the
small rows of a per-doc extractor directly (``extract_triples_fused``).
This is the trick the reference plays with its single mutable Annotation
tree (``pipeline/AnnotationPipeline.java:66-83``) — re-expressed as
operator fusion inside one narrow Spark stage, which is what whole-stage
codegen does for JVM operators and we do manually for the Python kernels.

``doc_rows`` is also the one extraction loop for annotated frames: every
extractor (triples, natlog, sentiment, entailment, the KBP arms, mentions)
is a per-doc function it runs.

The model kernels decode BATCHED across all docs of the Arrow batch, with
each model's one decoder; ``tests/test_batched_kernels.py`` pins it to the
per-sentence reference decoders and to batch order and size.
"""

from __future__ import annotations

import datetime
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from corenlp_spark.operators.coref import COREF_TYPE, detect_mentions, run_sieves
from corenlp_spark.operators.depparse import DEPS_TYPE, sentence_graphs
from corenlp_spark.operators.ner import NER_TOKENS_TYPE, tag_ner_batch
from corenlp_spark.operators.openie import TRIPLES_SCHEMA, extract_sentence
from corenlp_spark.operators.tag import TAGGED_TOKENS_TYPE, lemmatize, pos_tag_batch
from corenlp_spark.operators.tokenize import SENTENCES_TYPE, TOKENS_TYPE, annotate_doc

#: the cuts of ``annotate``, in kernel order; a cut skips every later kernel
CUTS = ("tokenize", "tag", "ner", "depparse", "coref")
_TOKENS_TYPES = (TOKENS_TYPE, TAGGED_TOKENS_TYPE, NER_TOKENS_TYPE,
                 NER_TOKENS_TYPE, NER_TOKENS_TYPE)


def _annotate_batch(spans_list, upto: str = "coref", options: dict | None = None,
                    docdates: list[datetime.date] | None = None,
                    ) -> list[tuple[list[dict], list[dict], list[dict], list[dict]]]:
    """Many docs → [(tokens, sentences, deps, coref)], running the kernels up
    to and including the ``upto`` cut (later layers stay empty lists).

    The three model kernels (POS, NER, depparse) are BATCHED ACROSS ALL DOCS
    of the Arrow batch — one numpy score per decoding step for the whole
    batch instead of one per sentence (VERDICT r3 #1; SURVEY §2.2 depparse
    row). ``options`` are the tokenizer options; ``docdates`` (one per doc)
    runs SUTime right after NER, so coref sees the temporal NER tags.

    Null-safe: a malformed row (null spans / null span structs) yields empty
    annotations instead of failing the task — one bad record in a 100 TB
    scan must never kill the job."""
    cut = CUTS.index(upto)
    n_docs = len(spans_list)
    toks_sents = [
        ([], []) if spans is None
        else annotate_doc([s for s in spans if s is not None], options)
        for spans in spans_list
    ]
    deps_by_doc: list[list[dict]] = [[] for _ in range(n_docs)]
    coref_by_doc: list[list[dict]] = [[] for _ in range(n_docs)]

    if cut >= 1:
        # POS for all docs in one batch, then lemmas (dict lookups, per token)
        tag_lists = pos_tag_batch([
            ([t["word"] for t in tokens], {s["start_tok"] for s in sentences})
            for tokens, sentences in toks_sents
        ])
        for (tokens, _), tags in zip(toks_sents, tag_lists):
            for t, tag in zip(tokens, tags):
                t["pos"] = tag
                t["lemma"] = lemmatize(t["word"], tag)

    if cut >= 2:
        # sentence segments across the whole batch → batched NER, batched parse
        segs: list[tuple[int, dict, int, int]] = []
        for di, (tokens, sentences) in enumerate(toks_sents):
            for s in sentences:
                segs.append((di, s, s["start_tok"], s["end_tok"]))
        seg_words = []
        seg_pos = []
        for di, s, a, b in segs:
            seg = toks_sents[di][0][a:b]
            seg_words.append([t["word"] for t in seg])
            seg_pos.append([t["pos"] for t in seg])
        ner_out = tag_ner_batch(list(zip(seg_words, seg_pos)))
        for (di, s, a, b), (ner, nner) in zip(segs, ner_out):
            for t, x, y in zip(toks_sents[di][0][a:b], ner, nner):
                t["ner"], t["nner"] = x, y
        if docdates is not None:
            from corenlp_spark.operators.sutime import annotate_tokens

            for (tokens, _), docdate in zip(toks_sents, docdates):
                annotate_tokens(tokens, docdate)

    if cut >= 3:
        from corenlp_spark.models.parser import get_trained_parser

        parses = get_trained_parser().parse_batch(list(zip(seg_words, seg_pos)))
        for (di, s, a, b), edges in zip(segs, parses):
            dd = deps_by_doc[di]
            si = s["sent_idx"]
            for h, d, r in edges:
                dd.append({"sent_idx": si, "head": (h + a) if h >= 0 else -1,
                           "dep": d + a, "rel": r})

    if cut >= 4:
        for (tokens, sentences), coref in zip(toks_sents, coref_by_doc):
            ms = detect_mentions(tokens, sentences)
            run_sieves(ms, tokens)
            # representative mention per cluster: longest entity mention,
            # earliest on tie (CorefChain representative semantics)
            best = {}
            for m in ms:
                cur = best.get(m.cluster)
                rank = (m.kind != "pronoun", len(m.text))
                if cur is None or rank > (cur.kind != "pronoun", len(cur.text)):
                    best[m.cluster] = m
            coref.extend(
                {"cluster_id": m.cluster, "sent_idx": m.sent, "start_tok": m.start,
                 "end_tok": m.end, "text": m.text, "head": m.head_idx,
                 "kind": m.kind, "representative": best[m.cluster] is m}
                for m in ms
            )

    return [(tokens, sentences, deps, coref) for (tokens, sentences), deps, coref
            in zip(toks_sents, deps_by_doc, coref_by_doc)]


def annotate(docs: DataFrame, upto: str | None = None, options: dict | None = None,
             *, sutime: bool = False) -> DataFrame:
    """docs(doc_id, spans, ...) → + the annotation columns of the ``upto`` cut
    (default: all of them) in one Arrow pass:

      tokenize/tag/ner: tokens, sentences (tokens typed per cut);
      depparse: + deps;  coref: + deps, coref.

    ``options`` are the tokenizer options (``tokenize.DEFAULT_OPTIONS``
    keys). ``sutime`` resolves temporal expressions against the docs'
    ``docdate`` column right after NER — the ``sutime`` annotator of
    ``api.Pipeline``."""
    if upto is None:
        upto = CUTS[-1]
    if upto not in CUTS:
        raise ValueError(f"unknown annotation cut {upto!r}; one of {CUTS}")
    cut = CUTS.index(upto)
    if sutime and cut < CUTS.index("ner"):
        raise ValueError("sutime runs after NER; use upto='ner' or later")
    added = [("tokens", _TOKENS_TYPES[cut]), ("sentences", SENTENCES_TYPE),
             ("deps", DEPS_TYPE), ("coref", COREF_TYPE)][:max(2, cut)]
    names = [name for name, _ in added]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
         if f.name not in names]
        + [f"{name} {type_}" for name, type_ in added])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docdates = ([datetime.date.fromisoformat(str(d)) for d in pdf["docdate"]]
                        if sutime else None)
            ann = _annotate_batch(list(pdf["spans"]), upto, options, docdates)
            pdf = pdf.copy()
            for i, name in enumerate(names):
                pdf[name] = [a[i] for a in ann]
            yield pdf

    return docs.mapInPandas(run, schema=out_schema)


def pronoun_reps(coref) -> dict[int, str]:
    """Token index → representative text, for every pronoun mention whose
    cluster has a non-pronoun representative (the coref-representative
    rewrite of ``naturalli/OpenIE.java:393-437``)."""
    reps = {m["cluster_id"]: m["text"] for m in coref
            if m["representative"] and m["kind"] != "pronoun"}
    return {t: reps[m["cluster_id"]] for m in coref
            if m["kind"] == "pronoun" and m["cluster_id"] in reps
            for t in range(m["start_tok"], m["end_tok"])}


def doc_triples(tokens, sentences, deps, coref=None) -> list[tuple]:
    """One doc's OpenIE triples as (sent_idx, subj, pred, obj, confidence,
    subj_head, obj_head): ``extract_sentence`` per parsed sentence, pronoun
    subjects rewritten to their chain's representative when ``coref`` is
    given (see ``pronoun_reps``), and the most confident triple per caseless
    (subj, pred, obj) within a sentence."""
    rep_of = pronoun_reps(coref) if coref is not None else None
    out = []
    for s, g in sentence_graphs(tokens, sentences, deps):
        if not g.edges:
            continue
        best: dict[tuple, tuple] = {}
        for subj, pred, obj, conf, sh, oh in extract_sentence(g):
            if rep_of:
                subj = rep_of.get(sh, subj)
            key = (subj.lower(), pred.lower(), obj.lower())
            if key not in best or best[key][3] < conf:
                best[key] = (subj, pred, obj, conf, sh, oh)
        out.extend((s["sent_idx"], *t) for t in best.values())
    return out


#: the annotation columns a per-doc function of ``doc_rows`` receives, in order
DOC_COLUMNS = ("tokens", "sentences", "deps", "coref")


def doc_rows(df: DataFrame, per_doc, schema: str, *, reads=DOC_COLUMNS,
             upto: str | None = None, options: dict | None = None) -> DataFrame:
    """The one extraction loop: ``per_doc(tokens, sentences, deps, coref)``
    returns a doc's rows, and ONE ``mapInPandas`` yields ``(doc_id, *row)``
    for each of them under the flat DDL ``schema`` (``doc_id`` first).

    With ``upto``, ``df`` holds raw docs(doc_id, spans, ...): each Arrow
    batch is annotated up to that cut in the same task (``_annotate_batch``
    with the tokenizer ``options``), so no nested column crosses Arrow, and
    nothing of ``df`` but ``mapInPandas`` is used. Without it, ``df`` is
    annotated and only ``doc_id`` and the ``reads`` columns it has cross
    Arrow; a column that is missing or NULL reaches ``per_doc`` as None,
    and a doc whose ``tokens`` are NULL yields no rows."""
    names = [field.split()[0] for field in schema.split(",")]

    if upto is not None:
        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ann = _annotate_batch(list(pdf["spans"]), upto, options)
                yield pd.DataFrame([(doc_id, *row) for doc_id, a in zip(pdf["doc_id"], ann)
                                    for row in per_doc(*a)], columns=names)

        return df.mapInPandas(run, schema=schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = [pdf[c] if c in pdf.columns else [None] * len(pdf) for c in DOC_COLUMNS]
            yield pd.DataFrame([(doc_id, *row)
                                for doc_id, tokens, *rest in zip(pdf["doc_id"], *cols)
                                if tokens is not None
                                for row in per_doc(tokens, *rest)], columns=names)

    return df.select("doc_id", *[c for c in reads if c in df.columns]).mapInPandas(
        run, schema=schema)


def extract_triples_fused(df: DataFrame, canonicalize: bool = True,
                          options: dict | None = None) -> DataFrame:
    """docs → triples in ONE pass: no nested columns ever cross Arrow.

    With ``canonicalize``, pronoun subjects are rewritten to their coref
    representative in-process, so the output equals ``openie_docs`` over
    ``annotate(df, options=options)`` without the nested columns crossing
    Arrow; without it the coref kernel is skipped. ``options`` are the
    tokenizer options, as in ``annotate``."""
    return doc_rows(df, doc_triples, TRIPLES_SCHEMA, options=options,
                    upto="coref" if canonicalize else "depparse")
