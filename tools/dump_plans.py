"""Dump .explain("formatted") for every bench-path query to plans/<tag>/.

Usage: python tools/dump_plans.py <out_dir> [repo_root]
Driver-side only (plans are built, never executed) — safe to run anywhere.
The optional repo_root lets the same script print BEFORE plans from a
pristine checkout (PYTHONPATH-style import redirection).

Expression ids (``feature_id#123L``) are written as ``#N`` and exchange
plan ids (``plan_id=1102``) as ``plan_id=N``: both count up per session,
so two builds of the same plan differ only there. With them
normalised, "plans unchanged" is ``diff -r <before_dir> <after_dir>``.
"""

from __future__ import annotations

import os
import re
import sys

out_dir = sys.argv[1]
root = os.path.abspath(sys.argv[2] if len(sys.argv) > 2
                       else os.path.dirname(os.path.dirname(__file__)))
sys.path.insert(0, root)
os.makedirs(out_dir, exist_ok=True)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def main() -> None:
    from pyspark.sql import functions as F
    from tile_gen_spark.plans.session import get_spark
    from tile_gen_spark.sources.testdata import register_views
    from tile_gen_spark.plans import sqlgen as S

    spark = get_spark("dump-plans", master="local[2]", shuffle_partitions=8)
    register_views(spark, SF_DIR)

    import __spark_entry__ as E
    from tile_gen_spark.sources.synth import gen_pages, gen_zones
    from tile_gen_spark.operators.extract import (extract_and_parse,
                                                  latest_per_url,
                                                  validity_filter)
    from tile_gen_spark.operators.tiles import build_tile_features
    from tile_gen_spark.operators.spatial_join import pip_join
    from tile_gen_spark.operators.textops import minhash_lsh_pairs
    from tile_gen_spark.operators.knn import knn_embeddings

    pages = gen_pages(spark, 2000, seed=42)

    plans = {}
    plans["latest_per_url"] = latest_per_url(pages)
    feats = validity_filter(extract_and_parse(latest_per_url(pages)))
    plans["tile_pipeline"] = build_tile_features(feats, list(range(0, 13)))
    pts = spark.range(100000).select(
        F.col("id").alias("point_id"),
        F.expr(S.pt_lon("id")).alias("lon"),
        F.expr(S.pt_lat("id")).alias("lat"))
    zones = gen_zones(spark, 200, seed=1, radius_scale=0.1, nv_extra=40)
    plans["pip_join"] = pip_join(pts, zones, res=10)
    plans["tile_assign"] = spark.sql(E.q_tile_assign_multizoom(S.SPARK))
    plans["dedup_minhash"] = minhash_lsh_pairs(spark.table("documents"),
                                               num_hashes=16, bands=4)
    plans["knn_embeddings"] = knn_embeddings(spark.table("embeddings"),
                                             spark.table("embeddings"), k=5)

    for name, df in plans.items():
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan_of(df))
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
