"""CoNLL-U reader/writer (test + interchange format).

Behavioral reference: ``pipeline/CoNLLUReader.java`` / ``CoNLLUOutputter.java``
— 10-column tab format, ``#``-comment sentence headers, blank-line sentence
separators. Reader: ``spark.read.text`` + one Arrow-batched parser; writer is
a column expression (no UDF).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONLLU_SCHEMA = (
    "doc_id string, sent_idx int, tok_id int, form string, lemma string, "
    "upos string, xpos string, feats string, head int, deprel string, "
    "deps array<string>"
)


def read_conllu(spark: SparkSession, path: str) -> DataFrame:
    """Parse CoNLL-U files into token rows (whole-file grouping keeps sentence
    state local — files are the parallelism unit, as in the reference)."""
    raw = spark.read.text(path).select(
        F.input_file_name().alias("file"), F.col("value")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition state: lines of one file arrive in order within a split
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "sent_idx", "tok_id", "form",
                                    "lemma", "upos", "xpos", "feats",
                                    "head", "deprel", "deps")}
            sent = 0
            for file, line in zip(pdf["file"], pdf["value"]):
                line = line.strip()
                if not line:
                    sent += 1
                    continue
                if line.startswith("#"):
                    continue
                cols = line.split("\t")
                if len(cols) < 8 or "-" in cols[0] or "." in cols[0]:
                    continue
                rows["doc_id"].append(file)
                rows["sent_idx"].append(sent)
                rows["tok_id"].append(int(cols[0]))
                rows["form"].append(cols[1])
                rows["lemma"].append(cols[2])
                rows["upos"].append(cols[3])
                rows["xpos"].append(cols[4])
                rows["feats"].append(cols[5])
                rows["head"].append(int(cols[6]) if cols[6].isdigit() else 0)
                rows["deprel"].append(cols[7])
                # enhanced DEPS: pipe-separated head:rel pairs, possibly
                # with empty-node heads (2.1) — kept verbatim
                # (CoNLLUDocumentReader enhanced-graph column)
                deps = cols[8] if len(cols) > 8 else "_"
                rows["deps"].append(
                    [] if deps in ("_", "") else deps.split("|"))
            yield pd.DataFrame(rows)

    return raw.mapInPandas(parse, schema=CONLLU_SCHEMA)


# PTB xpos → UPOS (UniversalPOSMapper.java / the public UD v2 conversion
# table, the subset of tags this pipeline emits)
_UPOS_MAP = {
    "NN": "NOUN", "NNS": "NOUN", "NNP": "PROPN", "NNPS": "PROPN",
    "VB": "VERB", "VBD": "VERB", "VBG": "VERB", "VBN": "VERB",
    "VBP": "VERB", "VBZ": "VERB", "MD": "AUX",
    "JJ": "ADJ", "JJR": "ADJ", "JJS": "ADJ",
    "RB": "ADV", "RBR": "ADV", "RBS": "ADV", "WRB": "ADV",
    "PRP": "PRON", "PRP$": "PRON", "WP": "PRON", "WP$": "PRON",
    "EX": "PRON",
    "DT": "DET", "WDT": "DET", "PDT": "DET",
    "IN": "ADP", "TO": "PART", "POS": "PART", "RP": "ADP",
    "CC": "CCONJ", "CD": "NUM", "UH": "INTJ", "FW": "X", "LS": "X",
    "SYM": "SYM", "$": "SYM", "#": "SYM",
    ".": "PUNCT", ",": "PUNCT", ":": "PUNCT", "``": "PUNCT",
    "''": "PUNCT", "-LRB-": "PUNCT", "-RRB-": "PUNCT", "HYPH": "PUNCT",
}


def _upos_expr(xpos):
    m = F.create_map(*[F.lit(x) for kv in _UPOS_MAP.items() for x in kv])
    return F.coalesce(m[xpos], F.lit("X"))


# xpos → UD v2 FEATS (the deterministic English subset a tag alone fixes —
# Number/Tense/Person/Degree/PronType/VerbForm/Mood/NumType/Poss; behavioral
# reference pipeline/CoNLLUOutputter.java:54 via UDFeatureAnnotator, public
# UD English-EWT conventions). Feature names alphabetical per the UD spec.
_FEATS_MAP = {
    "NN": "Number=Sing", "NNP": "Number=Sing",
    "NNS": "Number=Plur", "NNPS": "Number=Plur",
    "VB": "VerbForm=Inf",
    "VBP": "Mood=Ind|Tense=Pres|VerbForm=Fin",
    "VBZ": "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin",
    "VBD": "Mood=Ind|Tense=Past|VerbForm=Fin",
    "VBG": "Tense=Pres|VerbForm=Part",
    "VBN": "Tense=Past|VerbForm=Part",
    "MD": "VerbForm=Fin",
    "JJ": "Degree=Pos", "JJR": "Degree=Cmp", "JJS": "Degree=Sup",
    "RBR": "Degree=Cmp", "RBS": "Degree=Sup",
    "PRP": "PronType=Prs", "PRP$": "Poss=Yes|PronType=Prs",
    "WP": "PronType=Int", "WP$": "Poss=Yes|PronType=Int",
    "WDT": "PronType=Int", "WRB": "PronType=Int",
    "CD": "NumType=Card",
}


def _feats_expr(xpos, lemma):
    """FEATS column expression. DT splits on the lemma (the one tag the
    xpos alone cannot fix): the → Definite=Def, a/an → Definite=Ind,
    demonstratives → PronType=Dem."""
    m = F.create_map(*[F.lit(x) for kv in _FEATS_MAP.items() for x in kv])
    dt = (F.when(lemma == "the", F.lit("Definite=Def|PronType=Art"))
          .when(lemma.isin("a", "an"), F.lit("Definite=Ind|PronType=Art"))
          .otherwise(F.lit("PronType=Dem")))
    return F.when(xpos == "DT", dt).otherwise(F.coalesce(m[xpos], F.lit("_")))


def to_conllu_lines(annotated: DataFrame, mwt: bool = False) -> DataFrame:
    """Annotated docs → CoNLL-U-formatted lines (token rows as TSV strings).

    Token ids are sentence-local 1-based; when a ``deps`` column is present
    (``plans.fused.annotate`` output) the HEAD/DEPREL columns
    carry the real parse (root → 0/root), as ``CoNLLUOutputter.java`` does.
    Pure column algebra — token→edge resolution via a per-doc map lookup,
    no UDF.

    ``mwt=True`` adds English multi-word-token range rows ("2-3\tcannot")
    before contraction splits, per the reference's EnglishMWTCombiner rules
    (trees/ud/EnglishMWTCombiner.java: 's/n't/'ll/'ve/'re/'d/'m clitics,
    contiguous can+not / wan+na / gon+na, possessive ', 'tis/'twas). Rows
    carry (tid, rank) sort keys — order by (doc_id, sent_idx, tid, rank)
    to interleave ranges before their first token row."""
    cols = {f.name for f in annotated.schema.fields}
    base = annotated
    if "sentences" in cols:
        base = base.withColumn(
            "_sstart",
            F.map_from_entries(F.expr(
                "transform(sentences, s -> struct(s.sent_idx, s.start_tok))")),
        )
    else:
        base = base.withColumn("_sstart", F.lit(None).cast("map<int,int>"))
    if "deps" in cols:
        base = base.withColumn(
            "_edge",
            F.map_from_entries(F.expr(
                "transform(deps, e -> struct(e.dep, "
                "struct(e.head AS head, e.rel AS rel)))")),
        )
    else:
        base = base.withColumn(
            "_edge",
            F.lit(None).cast("map<int,struct<head:int,rel:string>>"),
        )
    tok = base.select(
        "doc_id", "_sstart", "_edge", F.posexplode("tokens").alias("p", "t")
    ).select(
        "doc_id", "_sstart", "_edge",
        F.col("t.sent").alias("sent_idx"),
        F.col("t.idx").alias("idx"),
        F.col("t.word").alias("form"),
        F.col("t.lemma").alias("lemma"),
        F.col("t.pos").alias("xpos"),
        F.col("t.begin").alias("begin"),
        F.col("t.end").alias("end"),
    ).withColumn("upos", _upos_expr(F.col("xpos")))
    start = F.coalesce(F.col("_sstart")[F.col("sent_idx")], F.lit(0))
    local_id = F.col("idx") - start + 1
    edge = F.col("_edge")[F.col("idx")]
    head = F.when(edge.isNull() | (edge["head"] < 0), F.lit(0)) \
        .otherwise(edge["head"] - start + 1)
    rel = F.when(edge.isNull(), F.lit("dep")) \
        .when(edge["head"] < 0, F.lit("root")).otherwise(edge["rel"])
    # DEPS column: the enhanced graph as head:rel (CoNLLUOutputter writes
    # the enhanced++ graph there; this engine's edge list IS the enhanced
    # graph after enhance_edges, one head per token)
    deps_col = F.when(edge.isNull(), F.lit("_")).otherwise(
        F.concat(head.cast("string"), F.lit(":"), rel))
    line = F.concat_ws(
        "\t",
        local_id.cast("string"), "form", "lemma",
        "upos", "xpos", _feats_expr(F.col("xpos"), F.col("lemma")),
        head.cast("string"), rel, deps_col, F.lit("_"),
    )
    rows = tok.select("doc_id", "sent_idx", line.alias("line"),
                      local_id.alias("tid"), F.lit(1).alias("rank"))
    if not mwt:
        return rows
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("idx")
    nxt = tok.withColumn("n_form", F.lead("form").over(w)) \
             .withColumn("n_begin", F.lead("begin").over(w)) \
             .withColumn("n_xpos", F.lead("xpos").over(w))
    contiguous = F.col("n_begin") == F.col("end")
    lw = F.lower("form")
    lnx = F.lower("n_form")
    is_mwt = (
        F.col("n_form").rlike(r"^(?i)('s|n't|'ll|'ve|'re|'d|s'|'m)$")
        | (contiguous & (
            ((lw == "can") & (lnx == "not"))
            | (lw.isin("wan", "gon") & (lnx == "na"))))
        | ((F.col("n_form") == "'") & (F.col("n_xpos") == "POS"))
        | (F.col("form").rlike(r"^'[tT]$") & lnx.isin("is", "was"))
    )
    a = (F.col("idx") - F.coalesce(F.col("_sstart")[F.col("sent_idx")],
                                   F.lit(0)) + 1)
    range_line = F.concat_ws(
        "\t",
        F.concat(a.cast("string"), F.lit("-"), (a + 1).cast("string")),
        F.concat("form", "n_form"),
        *[F.lit("_")] * 8,
    )
    ranges = nxt.filter(is_mwt & F.col("n_form").isNotNull()).select(
        "doc_id", "sent_idx", range_line.alias("line"),
        a.alias("tid"), F.lit(0).alias("rank"))
    return rows.unionByName(ranges)
