"""KBP benchmark gate over the widened relation taxonomy.

Mirrors the reference's KBP benchmark harness
(``ie/KBPAnnotatorBenchmark.java:24-161``): documents + a gold
(subject, relation, object) file, scored micro-F1. The reference's gate is
F1 ≥ 0.455 (``KBPAnnotatorEnglishBenchmarkSlowITest.java:18``); this
synthetic pool is in-distribution for the trained arm, so the gate here is
far stricter. Every sentence routes through the REAL pipeline (trained
POS/NER → depparse → one-pass 3-arm ensemble), not a shortcut.
"""

from corenlp_spark.data.kbp_corpus import KBP_GOLD, kbp_docs
from corenlp_spark.operators.kbp import (
    RELATION_TAXONOMY, kbp_arm_rows, kbp_ensemble,
)
from corenlp_spark.plans.fused import annotate


def test_taxonomy_covers_reference_inventory():
    """~45 relations with type signatures (KBPRelationExtractor.java:119-168,
    fine location/nationality types collapsed to this engine's tag set)."""
    assert len(RELATION_TAXONOMY) >= 45
    assert all(s in ("PERSON", "ORGANIZATION", "LOCATION")
               for s, _ in RELATION_TAXONOMY.values())


def test_kbp_benchmark_f1(spark):
    ens = kbp_ensemble(kbp_arm_rows(annotate(kbp_docs(spark))))
    got = {(r.subj, r.relation, r.obj) for r in ens.collect()}
    gold = {g for _, g in KBP_GOLD}
    tp, fp, fn = len(got & gold), len(got - gold), len(gold - got)
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.90, (f"P={prec:.3f} R={rec:.3f} F1={f1:.3f} "
                        f"extra={sorted(got - gold)} missing={sorted(gold - got)}")
    # the reference gate for context (must trivially hold if the above does)
    assert f1 >= 0.455
    # widened coverage: ≥ 15 distinct relations actually extracted
    assert len({rel for _, rel, _ in got}) >= 15
