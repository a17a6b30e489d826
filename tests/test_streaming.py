"""Structured Streaming tests: incremental KG triples, windowed event aggs."""

from pyspark.sql import functions as F

from corenlp_spark.data.synth import synth_docs
from corenlp_spark.streaming.stream import (
    run_stream_to_memory, windowed_event_counts,
)


def test_incremental_triples(spark, tmp_path):
    path = str(tmp_path / "docs")
    synth_docs(spark, 40).write.mode("overwrite").parquet(path)
    q = run_stream_to_memory(spark, path, name="t_inc")
    q.awaitTermination(180)
    n1 = spark.sql("select count(*) from t_inc").first()[0]
    assert n1 > 0
    # late-arriving batch: new files are picked up incrementally
    synth_docs(spark, 20).selectExpr("concat(doc_id, '-b2') as doc_id", "spans") \
        .write.mode("append").parquet(path)
    q2 = run_stream_to_memory(spark, path, name="t_inc2")
    q2.awaitTermination(180)
    n2 = spark.sql("select count(*) from t_inc2").first()[0]
    assert n2 > n1


def test_stateful_entity_counts(spark, tmp_path):
    from corenlp_spark.streaming.stream import (
        stream_docs, streaming_entity_counts,
    )

    path = str(tmp_path / "docs")
    synth_docs(spark, 30).write.mode("overwrite").parquet(path)
    q = (streaming_entity_counts(stream_docs(spark, path, max_files=2))
         .writeStream.outputMode("update").format("memory").queryName("t_state")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql(
        "select * from t_state where surface='obama' order by total_mentions"
    ).collect()
    assert rows and rows[-1].ner == "PERSON"
    # state accumulates monotonically across micro-batches
    totals = [r.total_mentions for r in rows]
    assert totals == sorted(totals) and totals[-1] >= totals[0]


def test_ivf_ann_full_recall_on_clustered_vectors(spark):
    from corenlp_spark.functions.similarity import ivf_ann_pairs, pairwise_topk

    emb = spark.createDataFrame(
        [(i, [1.0 if j == i % 4 else 0.05 for j in range(16)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    exact = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
             for r in pairwise_topk(emb, k=1).filter("score >= 0.9").collect()}
    ivf = {(r.id_a, r.id_b) for r in ivf_ann_pairs(emb, dim=16, threshold=0.9).collect()}
    assert exact <= ivf  # identical-direction vectors always share a cell


def test_windowed_event_counts(spark, tmp_path):
    # streaming file sources require a directory — stage the single file
    import shutil

    d = tmp_path / "events"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "part-0.parquet")
    agg = windowed_event_counts(spark, str(d))
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("ev_win").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from ev_win").collect()
    assert rows
    # matches the batch equivalent
    batch = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .count()
    )
    assert len(rows) == batch.count()


def test_streaming_canonical_entities_matches_batch(spark, tmp_path):
    """availableNow over two file batches converges to EXACTLY the batch
    canonical_entities result (same reduce algebra, incrementalized)."""
    from corenlp_spark.operators.entitylink import (
        alias_dict, canonical_entities, link_mentions,
    )
    from corenlp_spark.operators.mentions import mention_rows
    from corenlp_spark.plans.fused import annotate
    from corenlp_spark.streaming.stream import (
        stream_docs, streaming_canonical_entities,
    )

    path = str(tmp_path / "docs")
    d1 = synth_docs(spark, 20)
    d2 = synth_docs(spark, 12).selectExpr("concat(doc_id, '-b2') as doc_id", "spans")
    d1.write.mode("overwrite").parquet(path)
    d2.write.mode("append").parquet(path)
    aliases = alias_dict(spark)

    q = (streaming_canonical_entities(stream_docs(spark, path, max_files=1), aliases)
         .writeStream.outputMode("update").format("memory").queryName("t_canon")
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    # last emission per key = the converged running state
    final = spark.sql("""
        SELECT entity_key, canonical_text, ner, n_mentions FROM (
          SELECT *, row_number() OVER (
            PARTITION BY entity_key ORDER BY n_mentions DESC) AS rn
          FROM t_canon) WHERE rn = 1
    """)
    got = {r.entity_key: (r.canonical_text, r.ner, r.n_mentions)
           for r in final.collect()}

    docs = d1.unionByName(d2)
    ann = annotate(docs, upto="ner")
    batch = canonical_entities(link_mentions(mention_rows(ann), aliases))
    want = {r.entity_key: (r.canonical_text, r.ner, r.n_mentions)
            for r in batch.collect()}
    assert got == want


def test_stateful_state_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState state carries across a query RESTART from the
    same checkpoint: batch-2 emissions continue batch-1 counts instead of
    restarting from zero (the production recovery path at 100 TB)."""
    from corenlp_spark.operators.entitylink import alias_dict
    from corenlp_spark.streaming.stream import (
        stream_docs, streaming_canonical_entities,
    )

    path = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    aliases = alias_dict(spark)
    synth_docs(spark, 16).write.mode("overwrite").parquet(path)

    def run_once():
        # memory sink cannot recover a checkpoint; foreachBatch can
        got: list = []

        def sink(batch_df, _bid):
            got.extend(batch_df.collect())

        q = (streaming_canonical_entities(stream_docs(spark, path, max_files=4),
                                          aliases)
             .writeStream.outputMode("update").foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(240)
        return got

    first = {r.entity_key: r.n_mentions for r in run_once()}
    assert first

    # new files land; the restarted query resumes from the checkpoint
    synth_docs(spark, 10).selectExpr("concat(doc_id, '-b2') as doc_id", "spans") \
        .write.mode("append").parquet(path)
    second = {r.entity_key: r.n_mentions for r in run_once()}
    # only the NEW files are processed (no reprocessing), and every emitted
    # running total strictly extends the checkpointed state
    assert second
    for k, n in second.items():
        if k in first:
            assert n > first[k], (k, n, first[k])


def test_trained_ivf_centroids_recover_clusters(spark):
    """Lloyd-trained coarse quantizer: on 4-direction clustered vectors the
    trained centroids separate the clusters (every same-direction pair
    shares a cell → full recall at k=4), deterministically."""
    from corenlp_spark.functions.similarity import (
        ivf_ann_pairs, pairwise_topk, train_centroids,
    )

    emb = spark.createDataFrame(
        [(i, [1.0 if j == i % 4 else 0.05 * ((i + j) % 3) for j in range(16)])
         for i in range(48)],
        "vec_id long, embedding array<float>",
    )
    cents = train_centroids(emb, dim=16, k=4, iters=4)
    assert len(cents) == 4 and all(len(c) == 16 for c in cents)
    # deterministic: retraining gives identical centroids
    assert cents == train_centroids(emb, dim=16, k=4, iters=4)
    exact = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
             for r in pairwise_topk(emb, k=1).filter("score >= 0.9").collect()}
    ivf = {(r.id_a, r.id_b)
           for r in ivf_ann_pairs(emb, dim=16, threshold=0.9,
                                  centroids=cents).collect()}
    assert exact <= ivf


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate events arriving inside the
    watermark window are emitted once — the streaming dedup primitive for
    at-least-once sources."""
    import shutil

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "a.parquet")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "b.parquet")  # dup batch
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    ev = (spark.readStream.schema(schema).parquet(str(d))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark(["event_id"]))
    q = (ev.writeStream.outputMode("append").format("memory")
         .queryName("t_dedup_wm").trigger(availableNow=True).start())
    q.awaitTermination(180)
    n = spark.sql("select count(*) from t_dedup_wm").first()[0]
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert n == base  # each duplicated event emitted exactly once
