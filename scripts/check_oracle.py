"""Local replica of the driver's correctness check: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet; compare
row count, column names, and an order-insensitive value hash (the
benchmark's own ``rows_digest``)."""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))
import __spark_entry__ as entry_mod  # noqa: E402
from corenlp_spark.session import get_spark  # noqa: E402
from workloads import rows_digest  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None


def main():
    spark = get_spark(master="local[8]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    ok = bad = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        sql = oracles.get(name)
        try:
            df = fn(spark, SF_DIR)
            s_rows = [tuple(r) for r in df.collect()]
            s_cols = df.columns
        except Exception as e:
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {e}")
            bad += 1
            continue
        if sql is None:
            print(f"✗ {name}: no oracle_sql() entry")
            bad += 1
            continue
        try:
            rel = con.sql(sql)
            d_cols = [c for c in rel.columns]
            d_rows = [tuple(r) for r in rel.fetchall()]
        except Exception as e:
            print(f"✗ {name}: DUCKDB ERROR {type(e).__name__}: {e}")
            bad += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems and rows_digest(s_rows, s_cols) != rows_digest(d_rows, d_cols):
            problems.append("value-hash mismatch")
            so = sorted(s_rows)[:3]
            do = sorted(d_rows)[:3]
            problems.append(f"spark sample {so} | duck sample {do}")
        if problems:
            print(f"✗ {name}: {'; '.join(str(p) for p in problems)}")
            bad += 1
        else:
            print(f"✓ {name} ({len(s_rows)} rows)")
            ok += 1
    print(f"\n{ok} ok, {bad} bad")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
