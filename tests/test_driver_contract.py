"""The driver contract in ``__spark_entry__``: every query has a DuckDB
oracle, and the queries that share a Spark tail, a snapshot builder or a
DuckDB body with a twin agree with their oracle on the shared session
(the same check ``scripts/check_oracle.py`` runs, on sf0.01)."""

import importlib.util
import os

import duckdb
import pytest

import __spark_entry__ as em
import bench

SF = "/root/testdata/sf0.01"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# each KG query and its snapshot twin, plus the suite queries whose
# oracles share CTEs (minhash signatures, simhash signatures)
SHARED = sorted(n for n in em.queries() if n.startswith(("kg_", "media_"))) + [
    "dedup_minhash", "dedup_components", "dedup_simhash", "dedup_simhash_pairs",
]


def _value_hash():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_REPO, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rows_digest


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in em.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con, em.oracle_sql(), _value_hash()
    con.close()


def test_every_query_has_an_oracle():
    assert set(em.queries()) == set(em.oracle_sql())
    assert len(em.queries()) == 51


def test_docs_and_docs_sql_agree_on_awkward_probes(spark, oracle):
    """A suite query's input, ``_docs`` on Spark and ``_docs_sql`` on
    DuckDB, is the same rows when a probe text holds a quote, a newline,
    a backslash or non-ASCII characters."""
    con, _, _ = oracle
    probes = [("__q'1", "it's five o'clock"),
              ("__nl", "line one\nline two\n"),
              ("__bs", "a back\\slash \\n stays"),
              ("__u", "naïve café — 東京")]
    df = em._docs(spark, SF, probes)
    rel = con.sql(f"WITH {em._docs_sql(probes)} SELECT * FROM input")
    rows, want = [tuple(r) for r in df.collect()], rel.fetchall()
    assert df.columns == rel.columns == ["doc_id", "text"]
    assert sorted(rows) == sorted(want)
    assert set(probes) <= set(rows)


@pytest.mark.parametrize("name", SHARED)
def test_shared_query_matches_oracle(spark, oracle, name):
    con, sqls, value_hash = oracle
    df = em.queries()[name](spark, SF)
    rows, cols = [tuple(r) for r in df.collect()], df.columns
    rel = con.sql(sqls[name])
    want, want_cols = rel.fetchall(), rel.columns
    assert sorted(cols) == sorted(want_cols)
    assert len(rows) == len(want) > 0
    assert value_hash(rows, cols) == value_hash(want, want_cols)


def _cache_entries(spark):
    """Number of plans in the session's CacheManager (it exposes only
    isEmpty(), so the count is read from its cachedData field)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_repeated_suite_queries_do_not_grow_session_state(spark):
    """A second pass of every suite query (``bench.SUITE``) adds no
    persistent RDD to those of the first: dedup_components and quality_lm
    release what they materialize, and dedup_ngram_jaccard's one cache
    entry is reused by the repeat, not duplicated. Ids are read after every
    query, since the ContextCleaner drops unreferenced RDDs at its own
    pace; the CacheManager holds at most that one entry after each pass."""
    spark.catalog.clearCache()
    passes = []
    try:
        for _ in range(2):
            seen = set()
            for name in bench.SUITE:
                em.queries()[name](spark, "/root/testdata/sf0.001").collect()
                seen |= set(
                    spark.sparkContext._jsc.getPersistentRDDs().keySet())
            assert _cache_entries(spark) <= 1
            passes.append(seen)
    finally:
        spark.catalog.clearCache()
    assert passes[1] <= passes[0], passes[1] - passes[0]
