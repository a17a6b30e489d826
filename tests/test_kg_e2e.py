"""End-to-end KG tests: linking, canonicalization, KBP, checkpoint resume
(FIXTURES.md §7-8; BASELINE.md resumability gate)."""

import os

from pyspark.sql import functions as F

from corenlp_spark.data.synth import synth_docs, text_docs
from corenlp_spark.operators.entitylink import (
    alias_dict, canonical_entities, link_mentions, minhash_candidates,
)
from corenlp_spark.operators.graph import dedup_triples
from corenlp_spark.operators.kbp import kbp_arm_rows
from corenlp_spark.operators.mentions import mention_rows
from corenlp_spark.operators.openie import openie_docs
from corenlp_spark.plans.fused import annotate, pronoun_reps
from corenlp_spark.plans.pipeline import CheckpointedPipeline

N = 80


def test_entity_linking(spark):
    ann = annotate(synth_docs(spark, N), upto="ner")
    m = mention_rows(ann)
    linked = link_mentions(m, alias_dict(spark))
    rows = {(r.text, r.link) for r in linked.collect()}
    assert ("Barack Obama", "Barack_Obama") in rows or ("Obama", "Barack_Obama") in rows
    assert ("International Business Machines", "IBM") in rows
    # DATE mentions link to their normalized timex value
    assert any(l == "2013-02-21" for _, l in rows)
    # below-threshold alias rejected → company stays unlinked
    assert all(l != "Company_(disambiguation)" for _, l in rows)


def test_minhash_fuzzy_candidates(spark):
    m = spark.createDataFrame(
        [("Barack Hussein Obama",), ("Stanford University",), ("zzz qqq",)],
        "text string",
    ).withColumn("doc_id", F.lit("d")).withColumn("nner", F.lit("")) \
     .withColumn("ner", F.lit("PERSON"))
    cands = minhash_candidates(m, alias_dict(spark))
    got = {(r.text, r.link) for r in cands.collect()}
    assert ("Barack Hussein Obama", "Barack_Obama") in got  # fuzzy hit
    assert ("Stanford University", "Stanford_University") in got  # exact-ish
    assert all(t != "zzz qqq" for t, _ in got)


def test_canonical_entities_salted(spark):
    ann = annotate(synth_docs(spark, N), upto="ner")
    linked = link_mentions(mention_rows(ann), alias_dict(spark))
    ents = canonical_entities(linked, n_salt=8)
    rows = {r.entity_key: r.n_mentions for r in ents.collect()}
    assert rows.get("Barack_Obama", 0) > 0
    # salted two-phase agg must equal the naive single-phase count
    naive = (
        linked.withColumn("entity_key", F.coalesce("link", F.lower("text")))
        .groupBy("entity_key").count()
    )
    diff = (
        ents.join(naive, "entity_key")
        .filter(F.col("n_mentions") != F.col("count")).count()
    )
    assert diff == 0


def test_kbp_relations(spark):
    ann = annotate(synth_docs(spark, N), upto="coref")
    rels = kbp_arm_rows(ann).filter(F.col("arm") == "tokensregex")
    got = {(r.subj, r.relation, r.obj) for r in rels.collect()}
    assert ("Barack Obama", "per:city_of_birth", "Hawaii") in got
    assert ("Chris Manning", "per:employee_of", "Stanford University") in got
    assert ("IBM", "org:city_of_headquarters", "Armonk") in got
    # type-signature negative: no DATE×DATE relations
    assert all(rel.split(":")[0] in ("per", "org") for _, rel, _ in got)


def test_pronoun_canonicalization(spark):
    ann = annotate(synth_docs(spark, N), upto="coref")
    t = openie_docs(ann.drop("coref"))
    canon = openie_docs(ann)
    # "He was president." after "Barack Obama was born in Hawaii." must
    # produce a (Barack Obama, was, president)-style canonical subject:
    # strictly fewer pronoun-subject rows after canonicalization
    pron = F.lower("subj").isin("he", "she", "it", "they")
    n_before = t.filter(pron).count()
    n_after = canon.filter(pron).count()
    assert canon.count() == t.count()  # row-preserving rewrite
    assert n_after < n_before


def test_pronoun_canonicalization_single_doc(spark):
    docs = text_docs(spark, ["d1"],
                     ["Barack Obama was born in Hawaii. He was president."])
    ann = annotate(docs, upto="coref")
    got = {(r.subj, r.pred, r.obj) for r in openie_docs(ann).collect()}
    assert ("Barack Obama", "was", "president") in got
    assert ("Barack Obama", "was born in", "Hawaii") in got


def test_pronoun_canonicalization_null_coref(spark):
    """A NULL coref value means no rewrite for that doc: its triples are the
    uncanonicalized ones, and every other doc's rows are unchanged."""
    texts = ["Barack Obama was born in Hawaii. He was president.",
             "Marie Curie was born in Paris. She won the Nobel Prize.",
             "IBM is headquartered in Armonk."]
    ann = annotate(text_docs(spark, ["d0", "d1", "d2"], texts)).cache()
    try:
        null_doc = "d0"
        # the NULL-coref doc is one the rewrite would change
        assert pronoun_reps(ann.filter(F.col("doc_id") == null_doc).first()["coref"])
        broken = ann.withColumn(
            "coref", F.when(F.col("doc_id") == null_doc, F.lit(None))
            .otherwise(F.col("coref")))
        rows = lambda df, keep: sorted(tuple(r) for r in df.collect() if keep(r[0]))
        got = openie_docs(broken)
        assert rows(got, lambda d: d == null_doc) \
            == rows(openie_docs(ann.drop("coref")), lambda d: d == null_doc)
        assert rows(got, lambda d: d != null_doc) \
            == rows(openie_docs(ann), lambda d: d != null_doc)
        assert ("He", "was", "president") in \
            {(r.subj, r.pred, r.obj) for r in got.filter(F.col("doc_id") == null_doc).collect()}
    finally:
        ann.unpersist()


def test_openie_docs_plans_no_join_or_exchange(spark, tmp_path):
    """Canonicalization happens inside the OpenIE pass: over a read-back
    annotated table the plan has no join and no shuffle, and the scan reads
    only the columns the pass uses (no spans)."""
    path = str(tmp_path / "annotated")
    annotate(synth_docs(spark, 5)).write.parquet(path)
    p = openie_docs(spark.read.parquet(path))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in p and "Exchange" not in p
    scanned = {c.split("#")[0]
               for c in p.split("FileScan parquet [")[1].split("]")[0].split(",")}
    assert scanned == {"doc_id", "tokens", "sentences", "deps", "coref"}, p


def test_dedup_triples(spark):
    ann = annotate(synth_docs(spark, N), upto="coref")
    d = dedup_triples(openie_docs(ann))
    rows = d.collect()
    keys = [(r.subj, r.pred, r.obj) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(r.support >= 1 and r.n_docs >= 1 for r in rows)


def test_checkpoint_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    docs = synth_docs(spark, 30).repartition(4, "doc_id")
    t1 = CheckpointedPipeline(spark, root).run(docs)
    n1 = t1.count()
    assert n1 > 0
    # simulate kill after annotation: delete the triples checkpoint, resume
    # must rebuild it from the annotated checkpoint
    import shutil

    shutil.rmtree(os.path.join(root, "triples_raw"))
    t2 = CheckpointedPipeline(spark, root).run(docs)
    assert t2.count() == n1
    # lineage metrics persisted per checkpoint
    assert os.path.exists(os.path.join(root, "_lineage_annotated.json"))
    assert os.path.exists(os.path.join(root, "_metrics_triples_raw"))
