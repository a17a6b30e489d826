"""The spark-submit driver (scripts/run_pipeline.py) run in-process on the
shared session: plain and --checkpointed runs write the same KG, and that
KG carries canonical (coref-representative) subjects."""

import importlib.util
import os
import sys
from collections import Counter

from corenlp_spark.data.synth import synth_docs
from corenlp_spark.operators.graph import dedup_triples
from corenlp_spark.plans.fused import extract_triples_fused, pronoun_reps

N = 40
_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "scripts", "run_pipeline.py")


def _run_driver(spark, monkeypatch, out, *flags):
    spec = importlib.util.spec_from_file_location("run_pipeline", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # --cores matches the shared session's local[4], so its conf is unchanged
    monkeypatch.setattr(sys, "argv", ["run_pipeline.py", "--synth", str(N),
                                      "--output", out, "--cores", "4", *flags])
    mod.main()


def _rows(spark, path):
    return Counter(tuple(r) for r in spark.read.parquet(path).collect())


def test_run_pipeline_plain_and_checkpointed_agree(spark, monkeypatch, tmp_path):
    plain, ckpt = str(tmp_path / "plain"), str(tmp_path / "ckpt")
    _run_driver(spark, monkeypatch, plain)
    _run_driver(spark, monkeypatch, ckpt, "--checkpointed")
    for table in ("triples", "entities"):
        assert _rows(spark, f"{plain}/{table}") == _rows(spark, f"{ckpt}/{table}"), table
    # the KG is the fused (canonicalizing) path's KG
    fused = dedup_triples(extract_triples_fused(synth_docs(spark, N)))
    assert _rows(spark, f"{plain}/triples") == Counter(tuple(r) for r in fused.collect())

    # no pronoun subject survives where its chain has a non-pronoun
    # representative: every such triple carries the representative's text
    reps = {r.doc_id: pronoun_reps(r.coref)
            for r in spark.read.parquet(f"{ckpt}/annotated").collect()}
    raw = spark.read.parquet(f"{ckpt}/triples_raw").collect()
    rewritten = [r for r in raw if r.subj_head in reps[r.doc_id]]
    assert rewritten, "fixture must exercise the pronoun rewrite"
    assert all(r.subj == reps[r.doc_id][r.subj_head] for r in rewritten)
