"""r7 optimization probes (guide §1.4): noop-sink isolation per operator.

NOT the driver bench — ``bench.py`` is frozen for measurement. This harness
times individual operators/variants in isolation (fresh JVM per probe via
subprocess mode, noop sink so the computation is timed, not the collect) and
is the source of the before/after numbers cited in OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py <probe> [reps]        # one probe, in-process
  python bench_extra.py all                   # every probe, isolated JVMs

Probes:
  latest_window / latest_bjoin   — latest_per_url modes over the bench corpus
  pipeline                       — full tile pipeline (bench shape, noop-free
                                   count, same as sec_tile_pipeline's run())
  pip_indexed                    — pip_join indexed refine (count)
  minhash                        — minhash_lsh_pairs count (current code)
  tile_assign                    — q_tile_assign_multizoom(S.SPARK) collect
  knn                            — knn_embeddings(emb, emb, 5) count
  extract                        — latest→extract_and_parse→validity noop

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_PAGES, TILEGEN_* toggles.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
N_PAGES = int(os.environ.get("BENCH_PAGES", "400000"))
ZOOMS = list(range(0, 13))


def _session():
    from tile_gen_spark.plans.session import get_spark
    from tile_gen_spark.sources.testdata import register_views
    spark = get_spark("bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS * 2)
    register_views(spark, SF_DIR)
    return spark


def _pages(spark):
    from tile_gen_spark.sources.synth import gen_pages
    path = f"/tmp/tilegen_bench_pages_n{N_PAGES}"
    if not os.path.exists(path):
        gen_pages(spark, N_PAGES, seed=42, parallelism=CPUS * 2).write.mode(
            "overwrite").parquet(path)
    spark.read.parquet(path).count()
    return spark.read.parquet(path)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(fn, reps: int, discard: int = 1) -> list[float]:
    for _ in range(discard):
        fn()
    out = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        out.append(round(time.time() - t0, 2))
    return out


# --- probes ---------------------------------------------------------------

def probe_latest_window(reps):
    os.environ["TILEGEN_LATEST_MODE"] = "window"
    return _probe_latest(reps)


def probe_latest_bjoin(reps):
    os.environ["TILEGEN_LATEST_MODE"] = "bjoin"
    return _probe_latest(reps)


def _probe_latest(reps):
    from tile_gen_spark.operators.extract import latest_per_url
    spark = _session()
    pages = _pages(spark)
    spark.sparkContext.setJobDescription("probe: latest_per_url")
    r = _time(lambda: _noop(latest_per_url(pages)), reps)
    n = latest_per_url(pages).count()
    return {"reps": r, "rows": n}


def probe_extract(reps):
    from tile_gen_spark.operators.extract import (extract_and_parse,
                                                  latest_per_url,
                                                  validity_filter)
    spark = _session()
    pages = _pages(spark)
    q = validity_filter(extract_and_parse(latest_per_url(pages)))
    spark.sparkContext.setJobDescription("probe: extract")
    r = _time(lambda: _noop(q), reps)
    return {"reps": r, "rows": q.count()}


def probe_pipeline(reps):
    from pyspark.sql import functions as F
    from tile_gen_spark.operators.extract import (extract_and_parse,
                                                  latest_per_url,
                                                  validity_filter)
    from tile_gen_spark.operators.tiles import build_tile_features
    spark = _session()
    pages = _pages(spark)
    state = {}

    def run():
        feats = validity_filter(extract_and_parse(latest_per_url(pages))).persist()
        tiles = build_tile_features(feats, ZOOMS, salt=8)
        nt, nf = tiles.select(F.count("*"), F.sum("n_features")).first()
        feats.unpersist()
        state["n_tiles"], state["n_feat"] = int(nt), int(nf)

    r = _time(run, reps, discard=2)
    return {"reps": r, **state}


def _pip_q(spark, refine):
    from pyspark.sql import functions as F
    from tile_gen_spark.sources.synth import gen_zones
    from tile_gen_spark.operators.spatial_join import pip_join
    from tile_gen_spark.plans import sqlgen as S
    n = int(os.environ.get("BENCH_PIP_POINTS", "256000000"))
    pts = spark.range(n).select(
        F.col("id").alias("point_id"),
        F.expr(S.pt_lon("id")).alias("lon"),
        F.expr(S.pt_lat("id")).alias("lat"))
    zones = gen_zones(spark, 20000, seed=1, radius_scale=0.1, nv_extra=40).cache()
    zones.count()
    return pip_join(pts, zones, res=10, refine=refine)


def probe_pip_indexed(reps):
    spark = _session()
    q = _pip_q(spark, "indexed")
    spark.sparkContext.setJobDescription("probe: pip indexed")
    state = {}

    def run():
        state["n"] = q.count()
    r = _time(run, reps, discard=2)
    return {"reps": r, "n_pairs": state["n"]}


def probe_minhash(reps):
    from tile_gen_spark.operators.textops import minhash_lsh_pairs
    spark = _session()
    docs = spark.table("documents")
    spark.sparkContext.setJobDescription("probe: minhash")
    state = {}

    def run():
        state["n"] = minhash_lsh_pairs(docs, num_hashes=16, bands=4).count()
    r = _time(run, reps)
    return {"reps": r, "n_pairs": state["n"]}


def probe_tile_assign(reps):
    import __spark_entry__ as E
    from tile_gen_spark.plans import sqlgen as S
    spark = _session()
    sql = E.q_tile_assign_multizoom(S.SPARK)
    spark.sparkContext.setJobDescription("probe: tile_assign")
    r = _time(lambda: spark.sql(sql).collect(), reps)
    return {"reps": r}


def probe_knn(reps):
    from tile_gen_spark.operators.knn import knn_embeddings
    spark = _session()
    emb = spark.table("embeddings")
    spark.sparkContext.setJobDescription("probe: knn_embeddings")
    r = _time(lambda: knn_embeddings(emb, emb, k=5).count(), reps)
    return {"reps": r}


PROBES = [n[6:] for n in dir(sys.modules[__name__]) if n.startswith("probe_")]


def main():
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    if what == "all":
        for p in PROBES:
            r = subprocess.run([sys.executable, os.path.abspath(__file__), p,
                                str(reps)], capture_output=True, text=True)
            line = [l for l in r.stdout.splitlines() if l.startswith("{")]
            print(p, line[-1] if line else f"FAILED {r.stderr[-500:]}")
        return
    out = globals()[f"probe_{what}"](reps)
    out["probe"] = what
    out["median"] = statistics.median(out["reps"])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
