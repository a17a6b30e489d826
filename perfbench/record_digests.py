"""Record the expected kg graph digest of every input variant.

    python3 perfbench/record_digests.py

Each variant's docs go through the real fused task function in-process (no
Spark), and a Python twin of ``dedup_triples`` folds the triples, so the
recorded digest checks Spark's plan against an independent reduction. Run
it again only after a change that is meant to alter the extracted triples.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402

WORKERS = 2  # each holds the models and a variant's triples in memory


def digest_of(variant: int) -> str:
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        workloads.write_doc_files(tmp, workloads.kg_first_id(variant), workloads.KG_DOCS,
                                  workloads.KG_FILES)
        docs = workloads.read_docs_pdf(tmp)
    task = workloads.fused_task()
    triples = pd.concat(list(task(iter([docs]))), ignore_index=True)
    return workloads.graph_digest(workloads.dedup_rows(triples))


def main() -> None:
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(WORKERS) as pool:
        digests = pool.map(digest_of, range(workloads.KG_VARIANTS))
    out = {"kg_docs": workloads.KG_DOCS, "first_id": workloads.kg_first_id(0),
           "digests": {str(v): d for v, d in enumerate(digests)}}
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
