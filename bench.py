"""Benchmark harness (driver contract): headline queries at SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "tiles_per_sec_z0_12", "value": N, "unit": "tiles/sec",
   "queries": {name: sec, ...}, "sf": 0.1, ...extras}

Headline sections (each runs in its OWN subprocess with a fresh JVM —
cross-section contamination, VERDICT r2: knn_embeddings went 1.36 s → 5.04 s
with identical code because the 256M-point pip section ran in the same
heap immediately before it):
  tile_pipeline   — synthetic pages corpus → extract → parse geo → assign
                    z0..12 → clip → per-tile MVT-equivalent lists (the
                    ``BASELINE.json:2`` metric: tiles/sec)
  pip_join        — quadkey-bucketed point-in-polygon join (joined rows/sec)
  tile_assign     — pure-relational multizoom assignment over lineitem points
  knn_embeddings  — exact cosine top-k over the embeddings table
  dedup_minhash   — MinHash-LSH candidate pairs over documents

Every section reports a ``<name>_reps`` array (BENCH_REPS timed in-process
repetitions, median recorded) so round-over-round deltas are signal, not
single-sample noise. Big sections discard WARM full-size passes first (C2
JIT needs ~2 full passes to compile the big codegen stages — measured
19s → 7s on the pip probe, 181s → 132s on the pipeline).

Sections run under a pre-registered steal rule: hypervisor steal is
measured across each child; a section over BENCH_STEAL_MAX % of the box
re-runs immediately (≤ BENCH_STEAL_RETRIES), the attempt with the least
steal is kept and annotated (<name>_steal_pct_of_box / _steal_attempts /
_steal_pcts, the last listing every attempt) — so committed BENCH_rN
medians are noise-rejected (VERDICT r5 #1).

Env knobs: BENCH_REPS (timed reps, default 3), BENCH_ONLY (comma list of
sections), BENCH_PAGES, BENCH_PIP_POINTS, SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS (default: the cores this process may run on),
BENCH_STEAL_MAX (default 2.0, percent of box),
BENCH_STEAL_RETRIES (default 2). BENCH_SECTION is internal
(single-section child mode).

The synthetic corpus is generated once (deterministic, seed=42) into /tmp
and reused; the bench times the engine, not the generator.
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
REPS = max(1, int(os.environ.get("BENCH_REPS", "3")))
ZOOMS = list(range(0, 13))
SECTIONS = ["tile_pipeline", "pip_join", "tile_assign", "knn_embeddings",
            "dedup_minhash"]


def _sf() -> float:
    import re
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    return float(m.group(1)) if m else -1.0


def _pages_path() -> str:
    return f"/tmp/tilegen_bench_pages_n{N_PAGES}"


def _ensure_pages(spark) -> str:
    from tile_gen_spark.sources.synth import gen_pages
    pages_path = _pages_path()
    if not os.path.exists(pages_path):
        gen_pages(spark, N_PAGES, seed=42, parallelism=CPUS * 2).write.mode(
            "overwrite").parquet(pages_path)
    return pages_path


def _session():
    from tile_gen_spark.plans.session import get_spark
    from tile_gen_spark.sources.testdata import register_views
    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS * 2)
    register_views(spark, SF_DIR)
    return spark


def _reps(fn, n_discard: int, n_timed: int) -> list[float]:
    """Run fn (one full-size pass) n_discard untimed + n_timed timed times."""
    for _ in range(n_discard):
        fn()
    out = []
    for _ in range(n_timed):
        t0 = time.time()
        fn()
        out.append(round(time.time() - t0, 2))
    return out


# --- sections (child-process mode) ---------------------------------------

def sec_tile_pipeline() -> dict:
    from pyspark.sql import functions as F
    from tile_gen_spark.operators.extract import (extract_and_parse,
                                                  latest_per_url,
                                                  validity_filter)
    from tile_gen_spark.operators.tiles import build_tile_features

    spark = _session()
    pages_path = _ensure_pages(spark)
    # warm-up, untimed: fork the Python worker pool, compile codegen, put the
    # corpus parquet in page cache (timed section measures compute, not
    # cold-disk order effects)
    spark.read.parquet(pages_path).count()
    warm = spark.read.parquet(pages_path).limit(2000)
    build_tile_features(
        validity_filter(extract_and_parse(latest_per_url(warm))),
        ZOOMS).count()

    state: dict = {}

    def run():
        pages = spark.read.parquet(pages_path)
        latest = latest_per_url(pages)
        # persist: the point and shape paths both branch from `feats`, and
        # union branches re-execute shared subtrees (no cross-branch CSE)
        feats = validity_filter(extract_and_parse(latest)).persist()
        tiles = build_tile_features(feats, ZOOMS)
        nt, nf = tiles.select(F.count("*"), F.sum("n_features")).first()
        feats.unpersist()
        state["n_tiles"], state["n_feat"] = int(nt), int(nf)

    # TWO discarded full passes: C2 fully compiles the big codegen stages
    # only after ~2 full-size passes (r2 reps [181, 132, 134] showed the
    # first timed rep still JIT-warming with a single discard)
    reps = _reps(run, n_discard=2 if REPS > 1 else 1, n_timed=REPS)
    dt = statistics.median(reps)
    out = {
        "queries": {"tile_pipeline": dt},
        "tile_pipeline_reps": reps,
        "n_tiles": state["n_tiles"],
        "n_tile_feature_rows": state["n_feat"],
        "tiles_per_sec": round(state["n_tiles"] / dt, 1),
    }
    spark.stop()
    return out


def sec_pip_join() -> dict:
    from pyspark.sql import functions as F
    from tile_gen_spark.sources.synth import gen_zones
    from tile_gen_spark.operators.spatial_join import pip_join
    from tile_gen_spark.plans import sqlgen as S

    spark = _session()
    # Synthetic relational point set + many small zones: every stage of the
    # join (zone gen/covering python, point trig+probe, edge-agg refine)
    # parallelizes, so the N→4N criterion measures the JOIN, not fixed
    # setup. Round 1 used the 457k-point lineitem CTE — the whole join was
    # latency-bound at ~31 s regardless of cores (VERDICT r1).
    n_pip_pts = int(os.environ.get("BENCH_PIP_POINTS", "256000000"))
    pts = spark.range(n_pip_pts).select(
        F.col("id").alias("point_id"),
        F.expr(S.pt_lon("id")).alias("lon"),
        F.expr(S.pt_lat("id")).alias("lat"))
    # zones are INPUT data: materialized before the timed section
    zones = gen_zones(spark, 20000, seed=1, radius_scale=0.1,
                      nv_extra=40).cache()
    zones.count()
    q = pip_join(pts, zones, res=10)
    state: dict = {}

    def run():
        state["n_pairs"] = q.count()

    reps = _reps(run, n_discard=2, n_timed=REPS)
    dt = statistics.median(reps)
    out = {
        "queries": {"pip_join": dt},
        "pip_join_reps": reps,
        "n_pip_points": n_pip_pts,
        "n_pip_pairs": int(state["n_pairs"]),
        "joined_rows_per_sec": round(state["n_pairs"] / dt, 1),
    }
    spark.stop()
    return out


def sec_tile_assign() -> dict:
    import __spark_entry__ as E
    from tile_gen_spark.plans import sqlgen as S

    spark = _session()
    sql = E.q_tile_assign_multizoom(S.SPARK)
    reps = _reps(lambda: spark.sql(sql).collect(), n_discard=1, n_timed=REPS)
    spark.stop()
    return {"queries": {"tile_assign": statistics.median(reps)},
            "tile_assign_reps": reps}


def sec_knn_embeddings() -> dict:
    from tile_gen_spark.operators.knn import knn_embeddings

    spark = _session()
    emb = spark.table("embeddings")
    reps = _reps(lambda: knn_embeddings(emb, emb, k=5).count(),
                 n_discard=1, n_timed=REPS)
    spark.stop()
    return {"queries": {"knn_embeddings": statistics.median(reps)},
            "knn_embeddings_reps": reps}


def sec_dedup_minhash() -> dict:
    from tile_gen_spark.operators.textops import minhash_lsh_pairs

    spark = _session()
    docs = spark.table("documents")
    reps = _reps(lambda: minhash_lsh_pairs(docs, num_hashes=16, bands=4).count(),
                 n_discard=1, n_timed=REPS)
    spark.stop()
    return {"queries": {"dedup_minhash": statistics.median(reps)},
            "dedup_minhash_reps": reps}


# --- orchestrator ----------------------------------------------------------

# PRE-REGISTERED steal rule (VERDICT r5 #1: BENCH_r05's committed medians
# regressed 21-30% purely on host-noise windows a steal-ruled protocol
# caught and this artifact didn't — two artifacts measuring the same code a
# factor apart is an evidence bug). A
# section whose measured hypervisor steal exceeds BENCH_STEAL_MAX % of the
# box is re-run immediately (≤ BENCH_STEAL_RETRIES); the attempt with the
# least steal is kept, and every attempt's steal lands in the JSON.
STEAL_MAX = float(os.environ.get("BENCH_STEAL_MAX", "2.0"))
STEAL_RETRIES = int(os.environ.get("BENCH_STEAL_RETRIES", "2"))


def _steal_snap() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:9]))
    return v[7], sum(v)


def _run_section(name: str) -> dict | None:
    """One child-process section run; None on timeout/crash."""
    env = dict(os.environ, BENCH_SECTION=name)
    # per-section timeout caught so one hung section surrenders only its
    # own slot: completed sections still land in the output, and the JSON
    # names the failures — a partial run is self-describing, not
    # indistinguishable from a full one (ADVICE r3).
    try:
        r = subprocess.run([sys.executable, os.path.abspath(__file__)],
                           capture_output=True, text=True, env=env,
                           timeout=7200)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"[bench] section {name} TIMED OUT (7200s)\n")
        return None
    lines = [l for l in r.stdout.splitlines()
             if l.startswith("BENCH_SECTION_RESULT ")]
    if not lines:
        sys.stderr.write(f"[bench] section {name} FAILED:\n"
                         + r.stdout[-2000:] + r.stderr[-4000:])
        return None
    return json.loads(lines[-1].split(" ", 1)[1])


def _run_section_with_steal_rule(name: str) -> dict | None:
    """Steal-ruled section run: measure /proc/stat steal across the child,
    re-run while it exceeds STEAL_MAX (≤ STEAL_RETRIES), keep the attempt
    with the least steal, annotate it with its steal, the attempt count and
    every attempt's steal."""
    tries: list[tuple[float, dict]] = []
    while True:
        s0, t0 = _steal_snap()
        part = _run_section(name)
        s1, t1 = _steal_snap()
        if part is None:
            return None
        steal = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
        tries.append((steal, part))
        if steal <= STEAL_MAX or len(tries) > STEAL_RETRIES:
            break
        sys.stderr.write(f"[bench] section {name} steal {steal}% > "
                         f"{STEAL_MAX}% — re-running ({len(tries)})\n")
    steal, part = min(tries, key=lambda t: t[0])
    part[f"{name}_steal_pct_of_box"] = steal
    part[f"{name}_steal_attempts"] = len(tries)
    part[f"{name}_steal_pcts"] = [t[0] for t in tries]
    return part


def main() -> None:
    section = os.environ.get("BENCH_SECTION")
    if section:
        out = globals()[f"sec_{section}"]()
        print("BENCH_SECTION_RESULT " + json.dumps(out))
        return

    only = set(os.environ.get("BENCH_ONLY", "").split(",")) - {""}
    queries: dict[str, float] = {}
    extras: dict = {}
    failed: list[str] = []
    for name in SECTIONS:
        if only and name not in only:
            continue
        part = _run_section_with_steal_rule(name)
        if part is None:
            failed.append(name)
            continue
        queries.update({k: round(v, 2) for k, v in part.pop("queries").items()})
        extras.update(part)

    total = round(sum(queries.values()), 2)
    print(json.dumps({
        "metric": "tiles_per_sec_z0_12",
        "value": extras.get("tiles_per_sec", 0.0),
        "unit": "tiles/sec",
        "queries": queries,
        "sf": _sf(),
        "total_sec": total,
        "cpus": CPUS,
        "n_pages": N_PAGES,
        "reps": REPS,
        "isolated_sections": True,
        "steal_rule": {"max_pct_of_box": STEAL_MAX,
                       "retries": STEAL_RETRIES},
        "failed_sections": failed,
        **{k: v for k, v in extras.items() if k != "tiles_per_sec"},
    }))


if __name__ == "__main__":
    main()
