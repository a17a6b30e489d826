"""Entity-mention chunking: contiguous same-NER token runs → mention spans.

Behavioral reference: ``pipeline/EntityMentionsAnnotator.java:257-352`` via
``pipeline/LabeledChunkIdentifier.java`` (BIO-style run chunking).

``mention_rows`` chunks inside the same Arrow pass that holds the tokens —
narrow, ZERO shuffle. Chunking is doc-local, so exploding every token and
windowing over (doc_id, sent) would be the largest shuffle in the system at
100 TB for no reason (VERDICT r1 #5). The window form of the same algebra
lives on as references outside the package: DuckDB replays it over
materialized annotations (``kg_mentions_oracle`` in __spark_entry__.py), and
``tests/test_plans.py`` pins ``mention_rows`` to a Spark SQL copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MENTIONS_SCHEMA = ("doc_id string, sent_idx int, ner string, start_tok int, "
                   "end_tok int, nner string, text string")


def chunk_mentions(tokens) -> list[dict]:
    """LabeledChunkIdentifier over one doc's token list: one dict per
    mention, its keys in ``MENTIONS_SCHEMA`` order after doc_id."""
    out: list[dict] = []
    i, n = 0, len(tokens)
    while i < n:
        t = tokens[i]
        ner = t["ner"]
        if ner not in ("O", "", None):
            j = i
            while j < n and tokens[j]["ner"] == ner \
                    and tokens[j]["sent"] == t["sent"]:
                j += 1
            out.append({
                "sent_idx": t["sent"],
                "ner": ner,
                "start_tok": t["idx"],
                "end_tok": tokens[j - 1]["idx"] + 1,
                "nner": max((tokens[k]["nner"] or "") for k in range(i, j)),
                "text": " ".join(tokens[k]["word"] for k in range(i, j)),
            })
            i = j
        else:
            i += 1
    return out


def mention_rows(df: DataFrame) -> DataFrame:
    """docs(doc_id, tokens, ...) → mentions(doc_id, sent_idx, ner, start_tok,
    end_tok, nner, text) — chunked in-pass, zero shuffle."""
    from corenlp_spark.plans.fused import doc_rows

    def per_doc(tokens, *_):
        return [tuple(m.values()) for m in chunk_mentions(tokens)]

    return doc_rows(df, per_doc, MENTIONS_SCHEMA, reads=("tokens",))
