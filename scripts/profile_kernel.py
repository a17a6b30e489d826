"""cProfile the fused kg kernel chain on a synthetic doc slice — no Spark.

Usage: python scripts/profile_kernel.py [n_docs] [--time-only]

Runs the function one mapInPandas task of plans/fused.extract_triples_fused
runs per Arrow batch (fused.doc_rows: _annotate_batch, then per-doc OpenIE
extraction with pronoun canonicalization) over _doc_spans docs.
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402

from corenlp_spark.data.synth import _doc_spans  # noqa: E402
from corenlp_spark.plans import fused  # noqa: E402


class _Task:
    """Stands in for a DataFrame: ``mapInPandas`` hands back the task
    function instead of planning it."""

    def mapInPandas(self, fn, schema):
        return fn


TASK = fused.extract_triples_fused(_Task())


def run(n_docs: int) -> int:
    ids = [f"doc-{i:09d}" for i in range(n_docs)]
    pdf = pd.DataFrame({"doc_id": ids, "spans": [_doc_spans(d, True) for d in ids]})
    return sum(len(out) for out in TASK(iter([pdf])))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    # warm the model singletons (untimed — once per executor in production)
    run(50)
    if "--time-only" in sys.argv:
        t0 = time.time()
        n = run(n_docs)
        print(f"{n_docs} docs, {n} triples, {time.time() - t0:.2f}s plain")
        return
    prof = cProfile.Profile()
    t0 = time.time()
    prof.enable()
    n = run(n_docs)
    prof.disable()
    print(f"{n_docs} docs, {n} triples, {time.time() - t0:.2f}s under cProfile")
    st = pstats.Stats(prof)
    st.sort_stats("cumulative").print_stats(45)


if __name__ == "__main__":
    main()
