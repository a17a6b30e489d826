"""End-to-end Spark pipeline tests: span invariant, determinism under
parallelism, stage outputs (SURVEY.md §5 strategy, BASELINE.md target gates)."""

from pyspark.sql import functions as F

from corenlp_spark.data.synth import reassembled_sequence_expr, synth_docs
from corenlp_spark.operators.mentions import mention_rows
from corenlp_spark.operators.openie import openie_docs
from corenlp_spark.plans.fused import annotate

N_DOCS = 60


def full(spark):
    return annotate(synth_docs(spark, N_DOCS), upto="depparse")


def test_span_sequence_invariant(spark):
    docs = synth_docs(spark, N_DOCS)
    out = full(spark)
    a = docs.select("doc_id", reassembled_sequence_expr().alias("seq"))
    b = out.select("doc_id", reassembled_sequence_expr().alias("seq"))
    bad = a.alias("a").join(b.alias("b"), "doc_id").filter("a.seq <> b.seq").count()
    assert bad == 0
    assert a.count() == N_DOCS


def test_determinism_across_partitioning(spark):
    h = lambda df: df.select("doc_id", F.sha2(F.to_json(F.struct("tokens", "deps")), 256).alias("h"))
    a = h(annotate(synth_docs(spark, 40, parts=1), upto="depparse"))
    b = h(annotate(synth_docs(spark, 40, parts=13), upto="depparse"))
    assert a.alias("a").join(b.alias("b"), "doc_id").filter("a.h <> b.h").count() == 0


def test_annotation_roundtrip_fidelity(spark, tmp_path):
    """Serializer round trip (ProtobufAnnotationSerializerTest analog): every
    annotation layer — tokens (word/original/offsets/pos/lemma/ner/nner),
    sentences, deps, coref — survives a parquet write + read byte-identically."""
    ann = annotate(synth_docs(spark, 40))
    path = str(tmp_path / "ann")
    ann.write.parquet(path)
    back = spark.read.parquet(path)

    def snap(df):
        return {r["doc_id"]: (r["tokens"], r["sentences"], r["deps"], r["coref"])
                for r in df.collect()}
    assert snap(ann) == snap(back)


def test_wikidict_scale_linking_broadcasts_and_salts(spark):
    """The linking stage at wikidict scale: a 100k-entry alias dictionary
    must still take the broadcast-hash-join plan (WikidictAnnotator loads
    21M entries in-JVM — same discipline), and the salted canonical
    aggregation must produce identical results to an unsalted groupBy."""
    from pyspark.sql import functions as F

    from corenlp_spark.operators.entitylink import (
        alias_dict, canonical_entities, link_mentions,
    )
    from corenlp_spark.operators.mentions import mention_rows
    big = [(f"surface {i}", f"Entity_{i}", 0.9) for i in range(100_000)]
    big += [("obama", "Barack_Obama", 0.9), ("paris", "Paris", 0.9)]
    aliases = alias_dict(spark, big)
    m = mention_rows(annotate(synth_docs(spark, 60)))
    linked = link_mentions(m, aliases)
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    got = {(r.entity_key, r.n_mentions) for r in canonical_entities(linked).collect()}
    plain = (
        linked.groupBy(
            F.coalesce(F.col("link"), F.lower(F.col("text"))).alias("entity_key"))
        .agg(F.count("*").alias("n_mentions"))
    )
    assert got == {(r.entity_key, r.n_mentions) for r in plain.collect()}


def test_triples_emitted_and_deduped(spark):
    t = openie_docs(full(spark))
    rows = t.collect()
    assert len(rows) > 0
    keys = [(r.doc_id, r.sent_idx, r.subj.lower(), r.pred.lower(), r.obj.lower()) for r in rows]
    assert len(keys) == len(set(keys)), "per-sentence triples must be distinct"
    assert all(0 < r.confidence <= 1.0 for r in rows)


def test_mentions_chunking(spark):
    m = mention_rows(annotate(synth_docs(spark, N_DOCS), upto="ner"))
    rows = m.collect()
    assert any(r.text == "International Business Machines" for r in rows)
    assert all(r.end_tok > r.start_tok for r in rows)
    assert set(r.ner for r in rows) <= {
        "PERSON", "ORGANIZATION", "LOCATION", "MISC",
        "DATE", "TIME", "NUMBER", "ORDINAL", "MONEY", "URL", "EMAIL",
    }


def test_no_shuffle_in_narrow_stages(spark):
    plan = full(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"narrow per-doc stages must not shuffle:\n{plan}"
