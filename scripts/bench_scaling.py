"""Two-parallelism scaling run (north rule evidence in this sandbox):
the same KG pipeline job at local[8] and local[32] on identical input;
reports throughput at both and efficiency = T(32) / (4 × T(8)).

Run: python scripts/bench_scaling.py [n_docs]  → one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
from corenlp_spark.session import get_spark
from corenlp_spark.data.synth import synth_docs
from corenlp_spark.operators.graph import dedup_triples
from corenlp_spark.plans.fused import extract_triples_fused

cores, n_docs = int(sys.argv[1]), int(sys.argv[2])
docs_path = sys.argv[3]
spark = get_spark(app_name=f"scaling_{cores}", master=f"local[{cores}]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
    # test-data materialization is NOT part of the measured job (a real
    # pipeline reads parquet); 4 partitions/core keeps the straggler tail short
    synth_docs(spark, n_docs, parts=128).write.mode("overwrite").parquet(docs_path)
# warm-up: small synth job spawns workers/loads weights, then one FULL
# pass over the real parquet plan exercises the scan + Arrow path at size
# (C2 JIT ramp measured at 2-4x on the first full-size executions; same
# steady-state policy as bench.py)
dedup_triples(extract_triples_fused(synth_docs(spark, 200, parts=cores))).count()
extract_triples_fused(spark.read.parquet(docs_path)).count()
# aggregate throughput over 5 back-to-back passes (after a full-size
# warm-up pass for the C2 JIT ramp). NOT best-of-N: concurrent peer jobs
# drift apart, and a per-pass minimum would credit each job its
# least-contended pass — aggregate-over-passes keeps the box loaded for
# the whole timed window on both sides of the N vs 4N comparison.
PASSES = 5
t0 = time.time()
for _ in range(PASSES):
    docs = spark.read.parquet(docs_path)
    n = extract_triples_fused(docs).count()
wall = (time.time() - t0) / PASSES
print(json.dumps({"cores": cores, "wall_s": round(wall, 2),
                  "n_triples": n, "docs_per_sec": round(n_docs / wall, 1),
                  "triples_per_sec": round(n / wall, 1)}))
"""


SPIN = "while True:\n pass"


def _docs_path(n_docs: int) -> str:
    """Cache path keyed on the golden-pool content — a stale cache from an
    older pool version silently changes per-doc work (r4: a leftover r3
    cache carried 3.2x the triples/doc and tanked every throughput number).
    Same keying policy as bench.py."""
    import hashlib
    sys.path.insert(0, REPO)
    from corenlp_spark.data.synth import GOLDEN_SENTENCES
    key = hashlib.md5("".join(GOLDEN_SENTENCES).encode()).hexdigest()[:8]
    return f"/tmp/scaling_docs_{n_docs}_{key}"


def run(cores: int, n_docs: int, iso_freq: bool = True) -> dict:
    """Run the job bound to exactly ``cores`` CPUs.

    iso_freq: keep the REMAINING cores busy with spinner processes during the
    measurement. On turbo-scaling hosts an 8-core job on an otherwise-idle
    box runs at a higher clock than a 32-core job, which conflates frequency
    scaling with parallel scaling; a multi-node cluster (the thing the N vs
    4N gate models) adds nodes at constant clock. Spinners hold the package
    at its all-core frequency for both measurements.
    """
    total = os.cpu_count() or cores
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               PYTHONPATH=REPO)
    spinners = []
    if iso_freq and cores < total:
        for c in range(cores, total):
            spinners.append(subprocess.Popen(
                ["taskset", "-c", str(c), sys.executable, "-c", SPIN],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            ))
    try:
        docs_path = _docs_path(n_docs)
        cmd = ["taskset", "-c", f"0-{cores - 1}",
               sys.executable, "-c", CHILD, str(cores), str(n_docs), docs_path]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800, env=env)
    finally:
        for s in spinners:
            s.kill()
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_concurrent(cores: int, copies: int, n_docs: int) -> list[dict]:
    """``copies`` simultaneous jobs on disjoint core sets — the box is fully
    loaded exactly as in the 4N run, so clock and memory bandwidth are
    identical on both sides of the comparison."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               PYTHONPATH=REPO)
    docs_path = _docs_path(n_docs)
    procs = []
    for c in range(copies):
        lo, hi = c * cores, (c + 1) * cores - 1
        cmd = ["taskset", "-c", f"{lo}-{hi}",
               sys.executable, "-c", CHILD, str(cores), str(n_docs), docs_path]
        procs.append(subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                      stderr=subprocess.DEVNULL, text=True, env=env))
    out = []
    for p in procs:
        stdout, _ = p.communicate(timeout=1800)
        line = [l for l in stdout.splitlines() if l.startswith("{")][-1]
        out.append(json.loads(line))
    return out


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    # interleave the two levels A,B,A,B,… so slow drifts in VM cpu-steal hit
    # both levels equally; take per-level best throughput (min interference)
    # materialize the docs cache ONCE before spawning concurrent children —
    # four simultaneous writers to a fresh path race on _SUCCESS
    import subprocess as _sp
    if not os.path.exists(os.path.join(_docs_path(n_docs), "_SUCCESS")):
        _sp.run([sys.executable, "-c", CHILD, "8", str(n_docs),
                 _docs_path(n_docs)],
                env=dict(os.environ, PYTHONPATH=REPO),
                stdout=_sp.DEVNULL, stderr=_sp.DEVNULL, timeout=1800)
    lo, hi = [], []
    for _ in range(trials):
        lo.append(run_concurrent(n, 4, n_docs))
        hi.append(run(4 * n, n_docs, iso_freq=False))
    # N-side throughput = per-job mean of the 4 concurrent copies (what one
    # N-core executor achieves while the rest of the box runs peers)
    lo_rates = [sum(r["docs_per_sec"] for r in trial) / 4 for trial in lo]
    best_lo = max(lo_rates)
    best_hi = max(r["docs_per_sec"] for r in hi)
    eff = best_hi / (4 * best_lo)
    print(json.dumps({
        "n_docs": n_docs,
        "trials": trials,
        "method": "4 concurrent N-core jobs on disjoint core sets vs one 4N-core job (identical total box load)",
        f"local{n}_per_job_docs_per_sec": best_lo,
        f"local{4 * n}_docs_per_sec": best_hi,
        f"all_local{n}_per_job": lo_rates,
        f"all_local{4 * n}": [r["docs_per_sec"] for r in hi],
        "scaling_efficiency": round(eff, 3),
        "gate": ">=0.8",
        "pass": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
