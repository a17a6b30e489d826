"""Per-query isolation harness (guide §1.4): times individual suite queries
with the noop sink and optionally dumps .explain("formatted") plans.

Usage:
    python bench_extra.py q1 q2 ...            # time the named queries
    python bench_extra.py --explain DIR q1 ... # also write DIR/<q>.txt plans
    python bench_extra.py --all                # whole suite

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py. Each query gets
one untimed warm-up run at sf0.001 (JIT/codegen) then best-of-N (default 2)
timed noop-sink runs at the target sf. Prints one JSON line. bench.py stays
the frozen driver artifact; this file exists for optimization-round
measurement only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    if "--explain" in args:
        i = args.index("--explain")
        explain_dir = args[i + 1]
        args = args[:i] + args[i + 2:]
    repeats = 2
    if "--repeats" in args:
        i = args.index("--repeats")
        repeats = int(args[i + 1])
        args = args[:i] + args[i + 2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as em
    from bench import SUITE
    from corenlp_spark.session import get_spark

    qfns = em.queries()
    names = list(SUITE) if "--all" in args else args
    spark = get_spark(
        app_name="corenlp_spark_bench_extra",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    warm_dir = "/root/testdata/sf0.001"
    times: dict[str, float] = {}
    for name in names:
        fn = qfns[name]
        if os.path.isdir(warm_dir):
            spark.sparkContext.setJobDescription(f"warm:{name}")
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        if explain_dir:
            import contextlib
            import io

            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        best = float("inf")
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"timed:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
        print(json.dumps({name: times[name]}), flush=True)
    print(json.dumps({"queries": times,
                      "total": round(sum(times.values()), 3),
                      "sf_dir": sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()
