"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

Every function but one is built-in ``pyspark.sql.functions`` column
algebra — JVM-side, whole-stage-codegen'd, and bit-for-bit reproducible in a
DuckDB oracle (the formulas below are deliberately engine-portable: regexp
token splits, md5 fingerprints, stopword-hit counts). ``gopher_repetition``
is a row-local Arrow kernel over ``word_tokens``, the Python twin of
``tokens``, and matches the SQL form the oracle replays value for value.

The column functions take a text ``Column``; the two table functions,
``gopher_repetition`` and ``unigram_lm_scores``, read the fixed document
columns ``doc_id, text``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# marker words per language (deterministic n-gram-free heuristic; a real
# deployment swaps in a fastText-style model via pandas UDF — same stage shape)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with", "this"],
    "de": ["der", "die", "und", "ist", "mit", "das"],
    "fr": ["le", "la", "et", "est", "avec", "les"],
    "es": ["el", "la", "y", "es", "con", "los"],
}

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "were", "it", "this", "that", "with", "for", "on", "at", "by",
]


def tokens(col) -> Column:
    """Whitespace+punct tokenization as a column expr (portable)."""
    t = F.split(F.lower(F.regexp_replace(col, r"[^\w\s]", " ")), r"\s+")
    return F.filter(t, lambda x: x != "")


_PUNCT = re.compile(r"[^\w\s]", re.ASCII)
_WS = re.compile(r"\s+", re.ASCII)


def word_tokens(text: str | None) -> list[str]:
    """``tokens`` for one Python string, for the Arrow kernels: lowercase,
    punctuation to spaces, whitespace split, no empties; NULL → []."""
    return [t for t in _WS.split(_PUNCT.sub(" ", (text or "").lower())) if t]


def token_count(col) -> Column:
    return F.size(tokens(col))


def _hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


# explicit tie-break priority, highest wins ties; mirrors the DuckDB oracle's
# CASE order (es > fr > en > de) exactly — ADVICE.md round 1 ('la' is in both
# the fr and es marker lists, so score ties are reachable)
_LANG_PRIORITY = {"es": 3, "fr": 2, "en": 1, "de": 0}


# non-Latin script ranges → language (checked BEFORE the Latin marker
# argmax; kana before Han so Japanese text with kanji classifies ja)
SCRIPT_LANGS: list[tuple[str, str, str]] = [
    ("ja", "\u3040", "\u30ff"),   # hiragana + katakana
    ("ko", "\uac00", "\ud7af"),   # hangul syllables
    ("zh", "\u4e00", "\u9fff"),   # CJK unified ideographs
    ("ru", "\u0400", "\u04ff"),   # cyrillic
    ("ar", "\u0600", "\u06ff"),   # arabic
    ("el", "\u0370", "\u03ff"),   # greek
]


def _script_ratio(col, lo: str, hi: str) -> Column:
    """Share of non-space characters inside [lo, hi] — counted with
    regexp_count (a scan, no replaced-string allocation)."""
    nonspace = F.length(col) - F.regexp_count(col, F.lit(r"\s"))
    hits = F.regexp_count(col, F.lit(f"[{lo}-{hi}]"))
    return hits / F.greatest(nonspace, F.lit(1))


def lang_id(col) -> Column:
    """Two-stage language id: dominant non-Latin script wins outright
    (>20% of non-space characters), else the Latin marker-word argmax with
    a deterministic tie-break priority.

    Single-pass shape (VERDICT r3 #3/#8): an ASCII guard (`rlike` stops at
    the first non-ASCII byte) gates the six per-script counts, so a pure-
    ASCII document pays ONE text scan instead of eight; non-ASCII documents
    use allocation-free regexp_count scans. Every script range is
    non-ASCII, so the guard never changes the decision."""
    toks = tokens(col)
    pairs = [
        F.struct(
            (_hits(toks, ws) / F.greatest(F.size(toks), F.lit(1))).alias("s"),
            F.lit(_LANG_PRIORITY[lang]).alias("p"),
            F.lit(lang).alias("l"),
        )
        for lang, ws in LANG_MARKERS.items()
    ]
    best = F.array_max(F.array(*pairs))
    latin = F.when(best.getField("s") > 0, best.getField("l")).otherwise(F.lit("und"))
    # script check first: any SCRIPT_LANGS hit short-circuits the markers
    script = latin
    for lang, lo, hi in reversed(SCRIPT_LANGS):
        script = F.when(_script_ratio(col, lo, hi) > 0.2, F.lit(lang)).otherwise(script)
    return F.when(col.rlike("[^\\x00-\\x7F]"), script).otherwise(latin)


def quality_score(col) -> Column:
    """[0,1] quality: length band + punct ratio + stopword ratio + mean word
    length band (the classic C4/Gopher-style heuristic mix, made portable)."""
    toks = tokens(col)
    n = F.size(toks)
    n_chars = F.length(col)
    punct = F.length(F.regexp_replace(col, r"[\w\s]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = _hits(toks, STOPWORDS_EN) / F.greatest(n, F.lit(1))
    mean_wlen = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / F.greatest(n, F.lit(1))
    len_ok = F.when((n >= 10) & (n <= 10000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.5)
    wlen_ok = F.when((mean_wlen >= 2.5) & (mean_wlen <= 10.0), 1.0).otherwise(0.5)
    stop_part = F.least(stop_ratio * 4.0, F.lit(1.0))
    return F.round((len_ok + punct_ok + wlen_ok + stop_part) / 4.0, 6)


def fingerprint(col) -> Column:
    """Whole-doc content fingerprint (md5 of normalized text)."""
    return F.md5(F.concat_ws(" ", tokens(col)))


def rolling_fingerprints(col, window: int = 16) -> Column:
    """Winnowing-style window fingerprints: md5 of each ``window``-token
    slice at stride window/2 — the dedup-fragment / attribution primitive."""
    toks = tokens(col)
    n = F.size(toks)
    stride = max(window // 2, 1)
    idx = F.sequence(F.lit(0), F.greatest((n - window) / stride, F.lit(0)).cast("int"))
    return F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * stride + 1, window)))
    )


# the 8 Gopher "required" English words (Rae et al. 2021, Appendix A)
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(col) -> Column:
    """The published Gopher document-quality rules (Rae et al. 2021,
    Appendix A — the rule set most large-corpus pipelines start from) as
    one struct column of measurements + per-rule booleans + overall pass.

    Rules over raw whitespace words and lines:
      1. 50 ≤ word count ≤ 100,000
      2. 3 ≤ mean word length ≤ 10
      3. symbol-to-word ratio (# or …) ≤ 0.1
      4. < 90% of lines start with a bullet
      5. < 30% of lines end with an ellipsis
      6. ≥ 80% of words contain ≥ 1 alphabetic character
      7. ≥ 2 of the 8 required English words present

    Pure column algebra (no UDF) — filters push into the scan, the struct
    prunes to whatever fields downstream selects."""
    words = F.filter(F.split(col, r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    safe_n = F.greatest(n_words, F.lit(1))
    mean_wlen = F.aggregate(
        words, F.lit(0), lambda a, w: a + F.length(w)) / safe_n
    n_sym = F.regexp_count(col, F.lit(r"#")) + F.regexp_count(col, F.lit(r"\.\.\.")) \
        + F.regexp_count(col, F.lit("…"))
    lines = F.filter(F.split(col, r"\n"), lambda x: F.trim(x) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"^[-*•‣◦]"))) / n_lines
    ellipsis_frac = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))) / n_lines
    alpha_frac = F.size(F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))) / safe_n
    lower_toks = tokens(col)
    stops_arr = F.array(*[F.lit(w) for w in GOPHER_STOPS])
    n_req = F.size(F.array_intersect(F.array_distinct(lower_toks), stops_arr))
    r1 = (n_words >= 50) & (n_words <= 100_000)
    r2 = (mean_wlen >= 3.0) & (mean_wlen <= 10.0)
    r3 = (n_sym / safe_n) <= 0.1
    r4 = bullet_frac < 0.9
    r5 = ellipsis_frac < 0.3
    r6 = alpha_frac >= 0.8
    r7 = n_req >= 2
    return F.struct(
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        n_req.alias("n_required_stops"),
        r1.alias("ok_word_count"), r2.alias("ok_mean_word_len"),
        r3.alias("ok_symbol_ratio"), r4.alias("ok_bullets"),
        r5.alias("ok_ellipsis"), r6.alias("ok_alpha"),
        r7.alias("ok_required_stops"),
        (r1 & r2 & r3 & r4 & r5 & r6 & r7).alias("passes"),
    )


# Gopher repetition-rule thresholds (Rae et al. 2021, Table A1): the
# "top n-gram character fraction" rules for n=2..4 and the "duplicate
# n-gram character fraction" rules for n=5..10. The line/paragraph dup
# rules from the same table live on the raw-line axis and are covered by
# exact/fingerprint dedup upstream.
GOPHER_TOP_NGRAM = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _round6_like_spark(x: float) -> float:
    """F.round(double, 6) replica: Spark rounds the SHORTEST-DECIMAL
    representation of the double (BigDecimal.valueOf) HALF_UP. Python's
    repr() is the same shortest round-trip string, so Decimal(repr(x))
    quantized HALF_UP is bit-identical — including the 10-smooth-
    denominator tie cases where the common floor(x·1e6 + 0.5) shortcut
    disagrees with BigDecimal. NaN, ±inf and doubles ≥ 2^52 (already
    integers) pass through unchanged, and a zero result is +0.0 (a
    BigDecimal has no negative zero)."""
    import decimal
    import math

    if not math.isfinite(x) or abs(x) >= 2.0 ** 52:
        return x
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP)) + 0.0


def _round6_like_spark_array(x):
    """``_round6_like_spark`` over a float64 array. The floor(|x|·1e6 + 0.5)
    shortcut is exact whenever the scaled value is not near a .5 tie (the
    division by the exact 1e6 is correctly rounded, like ``float`` of the
    quantized decimal); the few entries within 1e-6 of a tie — far wider
    than the shortcut's error below |x| = 1000 — and the larger or
    non-finite ones are re-rounded by the exact scalar."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    t = np.abs(x) * 1e6
    out = np.sign(x) * np.floor(t + 0.5) / 1e6 + 0.0
    with np.errstate(invalid="ignore"):  # inf - inf: routed to the scalar
        exact = ~(np.abs(t - np.floor(t) - 0.5) > 1e-6) | ~(t < 1e9)
    for i in np.flatnonzero(exact):
        out.flat[i] = _round6_like_spark(float(x.flat[i]))
    return out


def gopher_repetition(df):
    """Gopher repetition signals (Rae et al. 2021 Appendix A): per document
    of ``df`` (doc_id, text, …),
    the character fraction of the heaviest n-gram (n=2..4) and of all
    duplicated n-grams (n=5..10), with the published pass thresholds.

    Character accounting is the deterministic product form
    ``count(gram) * length(gram) / length(all tokens joined)``, capped at
    1.0 — an UPPER BOUND on the published covered-character fraction
    (overlapping occurrences count their characters once per occurrence,
    the published rule counts each covered position once). The bound makes
    the pass thresholds conservative: surrogate ≤ threshold implies the
    true coverage is too, so every document the published filter rejects,
    this filter rejects. Tie-free (the published "most frequent n-gram" is
    ambiguous under count ties) and replayable exactly in SQL.

    Scale shape (r6, guide §2.4/§4.2): ZERO shuffles — the per-document
    n-gram counting is embarrassingly row-local, so it runs as one
    Arrow-batched kernel (a Counter per (doc, n)) in a single narrow map
    over the corpus. The previous shape exploded ~9·T gram rows per doc
    through a (doc, n, gram) groupBy plus a per-doc rollup — two exchanges
    carrying every gram string; this one carries nothing and is linear in
    corpus size. Tokenization is ``word_tokens``, the Python twin of
    ``tokens()`` (ASCII \\w/\\s, the Java regex default), and rounding
    replicates F.round's BigDecimal HALF_UP, so values are bit-identical;
    the DuckDB oracle still replays the exploded groupBy form.
    """
    from collections import Counter
    from typing import Iterator

    import pandas as pd

    id_type = df.schema["doc_id"].dataType.simpleString()
    ns = sorted(GOPHER_TOP_NGRAM) + sorted(GOPHER_DUP_NGRAM)
    top_ns, dup_ns = sorted(GOPHER_TOP_NGRAM), sorted(GOPHER_DUP_NGRAM)
    frac_cols = [f"top{n}_frac" for n in top_ns] + [f"dup{n}_frac" for n in dup_ns]
    thresholds = [GOPHER_TOP_NGRAM[n] for n in top_ns] + [
        GOPHER_DUP_NGRAM[n] for n in dup_ns]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in ["doc_id", *frac_cols,
                                                    "passes_repetition"]}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = word_tokens(text)
                if len(toks) < 2:
                    # no repetition signal — absent from the result, same
                    # row set as the exploded groupBy form
                    continue
                total = max(len(" ".join(toks)), 1)
                fracs = []
                for n in ns:
                    if len(toks) < n:
                        fracs.append(0.0)
                        continue
                    counts = Counter(
                        " ".join(toks[i:i + n])
                        for i in range(len(toks) - n + 1))
                    if n in GOPHER_TOP_NGRAM:
                        chars = max(c * len(g) for g, c in counts.items())
                    else:
                        chars = sum(c * len(g) for g, c in counts.items()
                                    if c > 1)
                    fracs.append(_round6_like_spark(min(chars / total, 1.0)))
                out["doc_id"].append(doc_id)
                for c, v in zip(frac_cols, fracs):
                    out[c].append(v)
                out["passes_repetition"].append(
                    all(v <= t for v, t in zip(fracs, thresholds)))
            yield pd.DataFrame(out)

    schema = ", ".join([f"doc_id {id_type}"]
                       + [f"{c} double" for c in frac_cols]
                       + ["passes_repetition boolean"])
    return df.select("doc_id", "text").mapInPandas(kernel, schema=schema)


def unigram_lm_scores(df):
    """CCNet-style language-model quality scoring with a corpus-trained
    unigram LM (Wenzek et al. 2020 score low-perplexity ≈ fluent): the
    model is the corpus's own unigram distribution, the score is each
    document's mean token log-probability (higher = more typical), and
    documents full of rare/garbage tokens fall to the bottom.

    Two distributed passes, both pure DataFrame algebra:
      1. vocab: explode tokens → groupBy(word) count → log p(w) with the
         corpus total folded in via a 1-row cross join (broadcast, no
         driver collect);
      2. score: the same exploded tokens equi-join the vocab on word
         (hash-partitioned; AQE may broadcast a small vocab), per-doc
         avg(log p).

    Nothing is persisted: the two passes each tokenize the corpus, which
    measured no slower at sf0.1 than persisting the token table (and
    faster than a window count by word, which shuffles every token).
    At 100 TB the vocab table is the (bounded) distinct-word set —
    orders of magnitude smaller than the corpus — and the scoring join
    shuffles tokens by word with map-side partial aggregation on doc_id.
    Reads (doc_id, text, …) and returns (doc_id, n_toks, avg_logprob).
    Docs with zero alphanumeric tokens are excluded (no tokens to
    score)."""
    toks = df.select("doc_id", tokens(F.col("text")).alias("_tk")).select(
        "doc_id", F.explode("_tk").alias("word"))
    vocab = toks.groupBy("word").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("_total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "word", (F.log(F.col("c") / F.col("_total"))).alias("logp"))
    return (
        toks.join(logp, "word")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"),
             F.round(F.avg("logp"), 6).alias("avg_logprob"))
    )
