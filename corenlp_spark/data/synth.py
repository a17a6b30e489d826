"""Deterministic synthetic interleaved text+media document table.

Input-table shape from BASELINE.json ``input_hint``::

    doc_id: string,
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Text spans are drawn (seeded) from the golden sentence pools ported from the
reference's regression suites (FIXTURES.md; OpenIE goldens from
``itest/src/edu/stanford/nlp/naturalli/OpenIEITest.java:113-259``, tokenizer
strings from ``test/src/edu/stanford/nlp/process/PTBTokenizerTest.java:24-60``).
Media spans are interleaved at seeded positions; a media span acts as a
sentence barrier (the analog of CleanXML block tags,
``pipeline/CleanXmlAnnotator.java:164-226``).

Generation happens *inside Spark* (``spark.range`` → ``mapInPandas``) so the
same code synthesizes 1k docs locally or 10^12 docs on a cluster without a
driver-side bottleneck; determinism comes from hashing doc_id, not from a
shared RNG.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

DOCS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string, text:string, media_ref:string, offset:int>>"
)

# Golden pools (see FIXTURES.md for provenance; sentences chosen so every
# pipeline stage has work to do at any scale).
GOLDEN_SENTENCES: list[str] = [
    "This is a sentence.",
    "Some cats have tails.",
    "All rabbits eat vegetables.",
    "There are cats with tails.",
    "IBM's research group works well.",
    "Barack Obama was born in Hawaii.",
    "He was president.",
    "Obama visited Paris.",
    "Obama spoke.",
    "Chris Manning works for Stanford University.",
    "IBM is headquartered in Armonk.",
    "Barack Hussein Obama II is the 44th President of the United States.",
    "On 21 February 2013 George Boyd joined on loan from Peterborough United.",
    "The research group published results.",
    "The group grew quickly.",
    "International Business Machines announced earnings.",
    "IBM acquired the startup.",
    "I said at 4:45pm.",
    "You paid US$170,000?!",
    "There is no doubt that cats have tails.",
    "There is doubt that cats have tails.",
    "Gimme a phone, I'm gonna call.",
    "The Sydney-based Creative Pack Pty. Ltd. shipped boxes.",
    "Here is one: http://google.com.",
    "Marie Curie discovered polonium in 1898.",
    "She won the Nobel Prize.",
    "Stanford University is located in California.",
    "The quick brown fox jumps over the lazy dog.",
    "Apple hired engineers from Google.",
    "The company opened offices in Berlin.",
    "He was a community organizer in Chicago.",
    "He served three terms.",
    "Obama is a graduate of Columbia University.",
    "Chess is a physical sport.",
    "Chess is not a physical sport.",
    "The startup raised money from investors in 2021.",
    '"We will win," said John McCain.',
    "She won the Nobel Prize yesterday.",
    "He worked as a civil rights attorney and taught constitutional law.",
    "Tom and Jerry have tails.",
    "John did not see Sara.",
    "Obama attended Harvard Law School.",
    "Marie Curie lived in Paris.",
    # r4: TIMEX3 mod attributes + nested relatives in the oracle pool
    "The project took about three weeks.",
    "She stayed for more than two years.",
    "Revenues rose in early 2015.",
    "It happened the week before last.",
    "The trial lasts 2-3 weeks.",
    "Banks close on Memorial Day.",
    "They meet the first Monday of March.",
    "The drive took half an hour.",
    # r5: composition/anchoring, written clocks, ISO forms, sets, BC years
    "The concert is at 8:00 pm on Friday.",
    "It was ten minutes to three.",
    "Mr. Smith left Friday, October 1, 1999.",
    "She arrived Saturday night.",
    "In October of 1963, there was a big snow storm.",
    "The book was published in nineteen ninety-one.",
    "The 1997 second quarter was strong.",
    "The city was founded in 567 bc.",
    "She sees him alternate Fridays.",
    "The audit happened on 09/18/05.",
    "The server restarted at 2:14:12 MSK.",
    "Every third week of October gets busy.",
]

MEDIA_REFS: list[str] = [
    "img://photos/{h}.jpg",
    "img://charts/{h}.png",
    "audio://clips/{h}.wav",
    "video://frames/{h}.mp4",
]


def _doc_spans(doc_id: str, skew_surface: bool) -> list[dict]:
    """Deterministic span list for one doc_id (pure function of the id)."""
    h = hashlib.sha256(doc_id.encode()).digest()
    n_text = 2 + h[0] % 4          # 2-5 text spans
    n_media = h[1] % 3             # 0-2 media spans
    spans: list[dict] = []
    for i in range(n_text):
        sent_i = (h[2 + i] + 7 * i) % len(GOLDEN_SENTENCES)
        txt = GOLDEN_SENTENCES[sent_i]
        if skew_surface and h[7] % 10 < 3:
            # ~30% of docs mention one hot surface form → exercises
            # salted-key skew mitigation in entity linking (FIXTURES.md §7)
            txt = "Obama visited Paris. " + txt
        spans.append({"kind": "text", "text": txt, "media_ref": None})
    for j in range(n_media):
        ref = MEDIA_REFS[(h[10 + j]) % len(MEDIA_REFS)].format(h=h[:4].hex())
        pos = (h[13 + j]) % (len(spans) + 1)
        spans.insert(pos, {"kind": "media", "text": None, "media_ref": ref})
    for k, s in enumerate(spans):
        s["offset"] = k
    return spans


def text_docs(spark: SparkSession, doc_ids, texts) -> DataFrame:
    """One doc per (doc_id, text), each text a single text span."""
    return spark.createDataFrame(
        pd.DataFrame({
            "doc_id": doc_ids,
            "spans": [[{"kind": "text", "text": t, "media_ref": None, "offset": 0}]
                      for t in texts],
        }),
        schema=DOCS_SCHEMA,
    )


def synth_docs(
    spark: SparkSession, n_docs: int, skew_surface: bool = True, parts: int | None = None
) -> DataFrame:
    """Synthesize the interleaved docs table distributedly and deterministically."""

    def gen(batches):
        for pdf in batches:
            ids = [f"doc-{int(i):09d}" for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": ids, "spans": [_doc_spans(d, skew_surface) for d in ids]}
            )

    base = spark.range(0, n_docs, numPartitions=parts or spark.sparkContext.defaultParallelism)
    return base.mapInPandas(gen, schema=DOCS_SCHEMA)


def reassembled_sequence_expr():
    """Column expr producing the ``(kind, text, media_ref, order)`` tuple list used
    by the span-sequence-equality invariant (BASELINE.json input_hint)."""
    from pyspark.sql import functions as F

    return F.transform(
        "spans",
        lambda s: F.concat_ws(
            "",
            s["kind"],
            F.coalesce(s["text"], F.lit("\u2400")),
            F.coalesce(s["media_ref"], F.lit("\u2400")),
            s["offset"].cast("string"),
        ),
    )
