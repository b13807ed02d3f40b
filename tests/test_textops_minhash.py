"""Focused pins for the r7 minhash shingle-sharing restructure.

q_minhash_pairs' Spark branch carries a REPARTITION(doc_id, sh) hint above
the shingle stream so AQE's runtime exchange reuse computes the shingle
explode + md5 ONCE for all six consumers (sig path + distinct-verification
path).  These tests pin (a) bit-identical results vs the hint-free text —
a repartition must never change rows — and (b) the executed-plan shape the
optimization claims: exactly one materialized shingle Generate, the rest
ReusedExchange.
"""

import pytest

from tile_gen_spark.plans import sqlgen as S
from tile_gen_spark.operators.textops import q_minhash_pairs

HINT = "/*+ REPARTITION(doc_id, sh) */"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', 'alpha beta gamma delta', CAST(id % 13 AS STRING), "
        "repeat('epsilon zeta eta ', CAST(id % 5 AS INT)), "
        "CAST(id AS STRING)) AS text")
    # inject near-dups so the LSH band join produces candidate pairs.
    # Deliberately NOT cached: InMemoryTableScan instances defeat AQE's
    # exchange canonicalization, so a cached source loses the reuse (rows
    # stay identical either way — the parity test covers that; the plan
    # test below pins the reuse on the uncached/scan shape the bench uses).
    dup = d.filter("doc_id % 10 = 0").selectExpr(
        "doc_id + 100000 AS doc_id", "concat(text, ' theta') AS text")
    return d.unionAll(dup)


def _run(spark, docs, sql):
    docs.createOrReplaceTempView("_mh_test_docs")
    df = spark.sql(sql.replace("FROM documents", "FROM _mh_test_docs"))
    rows = sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())
    return df, rows


def test_hint_is_present_and_rows_identical_without_it(spark, docs):
    sql = q_minhash_pairs(S.SPARK)
    assert HINT in sql
    _, with_hint = _run(spark, docs, sql)
    _, without = _run(spark, docs, sql.replace(HINT, ""))
    assert with_hint, "expected candidate pairs from the injected dups"
    assert with_hint == without


def test_shingle_generation_materialized_once(spark, docs):
    if spark.conf.get("spark.sql.adaptive.enabled") != "true":
        pytest.skip("spark.sql.adaptive.enabled is not true: the exchange "
                    "reuse pinned here is AQE's final plan")
    df, _ = _run(spark, docs, q_minhash_pairs(S.SPARK))
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    # the shingle explode (CASE WHEN size(words) >= n ...) runs in exactly
    # one materialized stage; every other consumer reuses its exchange
    assert final.count("Generate explode(CASE") == 1
    assert final.count("ReusedExchange") >= 5
