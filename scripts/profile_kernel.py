"""cProfile the fused kg kernel chain on a synthetic doc slice — no Spark.

Usage: python scripts/profile_kernel.py [n_docs] [--time-only]

Reproduces what one mapInPandas task of plans/fused.extract_triples_fused
does per batch: _annotate_batch over _doc_spans docs, then per-doc OpenIE
extraction with pronoun canonicalization (doc_triples).
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from corenlp_spark.data.synth import _doc_spans  # noqa: E402
from corenlp_spark.plans import fused  # noqa: E402


def run(n_docs: int) -> int:
    ann = fused._annotate_batch([_doc_spans(f"doc-{i:09d}", True) for i in range(n_docs)])
    return sum(len(fused.doc_triples(tokens, sentences, deps, fused.pronoun_reps(coref)))
               for tokens, sentences, deps, coref in ann)


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
