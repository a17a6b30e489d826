"""PII detection and redaction for training-data pipelines.

A fixed, ordered cascade of structural PII patterns (emails, SSNs, credit
cards, phone numbers, IPv4 addresses) expressed as pure ``regexp_count`` /
``regexp_replace`` column algebra — JVM-side, codegen'd, and restricted to
the regex subset Java and RE2 evaluate identically (no lookaround, no
backreferences), so a DuckDB oracle replays every count and every redacted
byte.

This is the structural arm of a PII pipeline; a production deployment adds
an NER-backed contextual arm (names/addresses) via the same trained-NER
operators this engine ships (``operators/ner.py``) — the regex cascade
here is the part that must run on every byte of a 100 TB corpus, so it
stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ordered (kind, pattern, replacement) cascade. Order matters for
#: redaction: more-specific digit shapes run before broader ones (SSN
#: 3-2-4 before phone 3-3-4; 4x4 cards before either; emails first since
#: they may embed digits/dots the later rules would mangle).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "[CARD]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


#: cheap structural gate: every pattern in the cascade requires a digit
#: (card/ssn/phone/ip) or an '@' (email), so a document matching neither
#: character can match NO pattern — counts are provably 0 and redaction is
#: provably the identity. One single-char-class scan (which bails at the
#: first hit) replaces the 10 full-pattern scans for clean documents
#: (guide §1.2 per-task work; §2.3 don't compute what you throw away).
_PII_GATE = "[0-9@]"


def pii_counts(col) -> list[Column]:
    """Per-kind match counts on the ORIGINAL text (count before redaction:
    the cascade rewrites bytes, so counting after would undercount kinds
    whose shapes overlap an earlier replacement). Gated on _PII_GATE —
    identical counts, but documents with no digit/'@' skip the regex
    cascade entirely. A NULL text has a NULL gate, matches neither branch
    and counts NULL."""
    gate = col.rlike(_PII_GATE)
    return [
        F.when(gate, F.regexp_count(col, F.lit(pat)))
        .when(~gate, F.lit(0)).cast("long").alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]


def pii_redact(col) -> Column:
    """Redacted text: the cascade applied in declared order. Each step is a
    global regexp_replace — one codegen'd pass per pattern, no UDF. Gated on
    _PII_GATE: a doc with no digit/'@' cannot match any pattern, so its
    redaction is the input unchanged (byte-identical result)."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return F.when(col.rlike(_PII_GATE), out).otherwise(col)


def pii_scan(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_email..n_ip, n_pii, redacted_md5) for documents containing
    any structural PII. The filter keeps the result proportional to the
    PII incidence, not the corpus size — at 100 TB the output is the
    (small) violation list, and the counts/filter push into the scan."""
    counts = pii_counts(F.col(text_col))
    out = docs.select(F.col(id_col).alias("doc_id"), *counts,
                      F.md5(pii_redact(F.col(text_col))).alias("redacted_md5"))
    total = None
    for kind, _, _ in PII_PATTERNS:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return (out.withColumn("n_pii", total)
            .filter(F.col("n_pii") > 0))
