"""r7 optimization probes (guide §1.4): noop-sink isolation per operator.

NOT the driver bench — ``bench.py`` is frozen for measurement. This harness
times individual operators/variants in isolation (fresh JVM per probe via
subprocess mode, noop sink so the computation is timed, not the collect) and
is the source of the before/after numbers cited in OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py <probe> [reps]        # one probe, in-process
  python bench_extra.py all                   # every probe, isolated JVMs

Probes (the rest are covered by bench.py sections via BENCH_ONLY and by
the per-layer spans of ``perfbench/run.py --trace 1``):
  latest_window / latest_bjoin   — latest_per_url modes over the bench corpus
                                   (go with TILEGEN_LATEST_MODE)
  pip_indexed                    — pip_join indexed refine (count; goes with
                                   the indexed-refine decision)

Env: SPARK_GRAFT_CPUS, BENCH_PAGES, BENCH_PIP_POINTS, TILEGEN_* toggles.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
N_PAGES = int(os.environ.get("BENCH_PAGES", "400000"))


def _session():
    from tile_gen_spark.plans.session import get_spark
    return get_spark("bench-extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS * 2)


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
