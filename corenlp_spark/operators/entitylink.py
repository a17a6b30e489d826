"""Entity linking: surface form → canonical entity id, cross-partition stage.

Behavioral reference (re-expressed):
  - exact (optionally caseless) dictionary lookup with score threshold and
    DATE/ORDINAL/NUMBER special cases: ``pipeline/WikidictAnnotator.java:31-58,
    117-144`` (timex value passthrough ``:125-133``, ordinal → numeric value).
  - At 10^12-doc scale the dictionary join is the canonical skew point
    (north rule): the dictionary side is **broadcast** (WikidictAnnotator
    loads 21M entries in-JVM — the same idea) up to ``BROADCAST_MAX_ROWS``
    rows and shuffle-hash-joined above it, and the cross-doc
    canonicalization group-by uses **two-phase salted aggregation** for head
    surface forms ("Obama" in 30% of docs in the synthetic skew fixture).
  - fuzzy candidate generation (our extension, north-star requirement):
    MinHash-banded blocking over token shingles so near-miss aliases
    ("Barack Obama II" vs "Barack Obama") meet in a bucket join instead of a
    cartesian compare.

All hashing is ``md5``-based (engine-portable, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (surface, link, score) — deterministic in-repo alias dictionary
# (FIXTURES.md §7); in production this is the wikidict-scale table, still
# broadcast (or bucket-joined above broadcast threshold).
DEFAULT_ALIASES: list[tuple[str, str, float]] = [
    ("barack obama", "Barack_Obama", 0.99),
    ("barack hussein obama ii", "Barack_Obama", 0.98),
    ("obama", "Barack_Obama", 0.90),
    ("george boyd", "George_Boyd_(footballer)", 0.95),
    ("john mccain", "John_McCain", 0.97),
    ("marie curie", "Marie_Curie", 0.99),
    ("chris manning", "Christopher_D._Manning", 0.95),
    ("ibm", "IBM", 0.98),
    ("international business machines", "IBM", 0.99),
    ("google", "Google", 0.98),
    ("apple", "Apple_Inc.", 0.90),
    ("stanford university", "Stanford_University", 0.99),
    ("peterborough united", "Peterborough_United_F.C.", 0.95),
    ("creative pack pty. ltd.", "Creative_Pack", 0.80),
    ("university of chicago law school", "University_of_Chicago_Law_School", 0.97),
    ("nobel prize", "Nobel_Prize", 0.97),
    ("united states", "United_States", 0.99),
    ("hawaii", "Hawaii", 0.98),
    ("paris", "Paris", 0.95),
    ("armonk", "Armonk,_New_York", 0.92),
    ("california", "California", 0.98),
    ("berlin", "Berlin", 0.97),
    ("honolulu", "Honolulu", 0.96),
    ("sydney", "Sydney", 0.96),
    ("chicago", "Chicago", 0.96),
    ("republican", "Republican_Party_(United_States)", 0.85),
    ("african american", "African_Americans", 0.90),
    # below-threshold entry: must be rejected by score gate
    ("the company", "Company_(disambiguation)", 0.10),
]

SCORE_THRESHOLD = 0.5
#: dictionaries up to this many rows are broadcast; larger ones shuffle
BROADCAST_MAX_ROWS = 5_000_000


def alias_dict(spark: SparkSession, aliases=None) -> DataFrame:
    return spark.createDataFrame(
        aliases or DEFAULT_ALIASES, "surface string, link string, score double"
    )


def link_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """mentions(doc_id, sent_idx, start_tok, end_tok, text, ner, nner)
    → + link column.

    DATE/TIME → normalized timex value; ORDINAL/NUMBER/MONEY → normalized
    value; else caseless dictionary join gated by score threshold
    (WikidictAnnotator.java:117-144 decision order).

    The join is picked from the dictionary's size. The reference loads its
    full 21M-entry wikidict in-JVM (``WikidictAnnotator.java:31-58``) — the
    single-node analog of a broadcast — which stops working once the
    dictionary outgrows executor memory (the real wikidict TSV is ~2 GB; a
    multilingual or entity-embedding dict is 10-100×). So:

    - up to ``BROADCAST_MAX_ROWS`` rows the dictionary is broadcast-hinted:
      it fans out to every executor, zero shuffle on the (huge) mentions
      side. The hint is needed: a ``createDataFrame`` dictionary carries no
      size estimate, and without it Spark plans a sort-merge join;
    - above it, a SHUFFLE_HASH-hinted equi-join on the surface key: the
      mentions side shuffles once on ``surface``, the dict side builds the
      per-partition hash map. No sort, no driver collect; this is the
      100 TB path. Skewed head surfaces ("obama") hit AQE skew split; the
      downstream salted canonicalization absorbs the rest.

    The row count is one cheap column-pruned, limit-bounded scan of the
    dictionary. Both joins give the same rows (tests assert it).
    """
    small = (aliases.select("surface").limit(BROADCAST_MAX_ROWS + 1).count()
             <= BROADCAST_MAX_ROWS)
    dict_ok = aliases.filter(F.col("score") >= SCORE_THRESHOLD)
    dict_ok = F.broadcast(dict_ok) if small else dict_ok.hint("shuffle_hash")
    return (
        mentions.withColumn("surface", F.lower("text"))
        .join(dict_ok, "surface", "left")
        .withColumn(
            "link",
            F.when(F.col("ner").isin("DATE", "TIME", "NUMBER", "ORDINAL", "MONEY"),
                   F.col("nner"))
            .otherwise(F.col("link")),
        )
        .drop("surface", "score")
    )


def minhash_candidates(
    mentions: DataFrame, aliases: DataFrame, n_bands: int = 4
) -> DataFrame:
    """Fuzzy alias candidates via MinHash-banded blocking on token shingles.

    Both sides compute per-band minhash = min(md5(token ∥ band)) over their
    token sets; equal (band, minhash) ⇒ candidate pair. Jaccard is then
    verified exactly on the candidate set only. Engine-portable hashing
    (md5 as hex string; min() over strings) — no JVM-specific hash.
    """
    def sigs(df: DataFrame, text_col: str) -> DataFrame:
        toks = F.split(F.lower(F.col(text_col)), " ")
        out = df.withColumn("_toks", toks)
        bands = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.array_min(
                    F.transform("_toks", lambda t: F.md5(F.concat(t, F.lit(f"#{b}"))))
                ).alias("mh"),
            )
            for b in range(n_bands)
        ])
        return out.withColumn("_band", F.explode(bands)).select(
            "*", F.col("_band.band").alias("band"), F.col("_band.mh").alias("mh")
        ).drop("_band")

    m = sigs(mentions.select(F.col("text"), F.lower("text").alias("m_lc")).distinct(), "text") \
        .withColumnRenamed("_toks", "m_toks")
    a = sigs(aliases.select("surface", "link", "score"), "surface") \
        .withColumnRenamed("_toks", "a_toks")
    pairs = (
        m.join(a, ["band", "mh"])
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("m_toks", "a_toks"))
            / F.size(F.array_union("m_toks", "a_toks")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("text", "m_lc", "surface", "link", "score", "jaccard")
        .distinct()
    )
    return pairs


def canonical_entities(linked: DataFrame, n_salt: int = 16) -> DataFrame:
    """Cross-doc canonicalization: mention counts per canonical entity.

    Two-phase salted aggregation (north rule skew mitigation): phase 1
    groups on (entity_key, salt) — the hot key fans out over ``n_salt``
    reducers — phase 2 merges the partials. With AQE skew handling on this
    is belt-and-braces; at 10^12 docs the hot keys exceed what AQE splits.
    """
    keyed = linked.withColumn(
        "entity_key", F.coalesce(F.col("link"), F.lower(F.col("text")))
    ).withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)))
    partial = keyed.groupBy("entity_key", "salt").agg(
        F.count("*").alias("cnt"),
        F.max(F.struct(F.length("text").alias("l"), F.col("text"))).alias("rep"),
        F.max("ner").alias("ner"),
    )
    return partial.groupBy("entity_key").agg(
        F.sum("cnt").alias("n_mentions"),
        F.max("rep").getField("text").alias("canonical_text"),
        F.max("ner").alias("ner"),
    )
