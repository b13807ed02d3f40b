"""Benchmark entry point: one workload, one fresh Spark process per run.

    python3 perfbench/run.py --workload tiles_job_uniform --seed 1 \
        --seconds 15 --trace 0 [--cores N]

A run generates (or reuses) its seeded inputs, starts the session, loads the
inputs, discards a fixed number of warm-up passes, then runs timed passes
until ``--seconds`` have passed (at least ``MIN_TIMED``). Every pass output
is digested in Spark and compared with the pinned digest for (workload,
seed); a seed without a pin is checked once against an independent reference
path. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on Spark's
event log, runs the same timed passes, then one layered pass (each layer in
its own job group) and reports ``<span>.<metric>`` per-layer metrics folded
from the log. The exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
MIN_TIMED = 3
#: driver heap: the JVM holds every executor thread in local mode; 3g fits
#: the 15 GB box with room for Python workers (get_spark defaults to 16g)
DRIVER_MEM = "3g"
#: per-layer metrics reported for every span (zero for spans the workload
#: does not run)
SPAN_METRICS = ("wall_s", "idle_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb",
                "py_mb", "task_skew", "tasks", "jobs", "rows_in", "rows_out",
                "useful_ratio")
UNITS = {"wall_s": "s", "idle_s": "s", "cpu_s": "s", "gc_s": "s",
         "shuffle_mb": "MB", "spill_mb": "MB", "py_mb": "MB", "out_mb": "MB",
         "task_skew": "ratio", "tasks": "count", "jobs": "count",
         "rows_in": "count", "rows_out": "count", "useful_ratio": "ratio"}


def box_cores() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=box_cores(),
                    help="local[N] task slots (default: the machine's cores); the "
                         "shuffle partition count stays at the machine's core count "
                         "so the plan is the same at every N")
    return ap.parse_args(argv)


def session_env(cores: int, trace: bool) -> None:
    """Point every file Spark writes inside the work directory; fresh
    shuffle/spill directory per run."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    events = os.path.join(WORK, "eventlog")
    for d in (local, tmp, events, os.path.join(WORK, "sink")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        # whole heap committed and touched at start: the JVM's peak RSS then
        # does not depend on when G1 chose to grow or touch heap regions
        # -XX:-UsePerfData: no hsperfdata file in /tmp
        f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    ]
    if trace:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp


def code_version() -> str:
    """Hash of the generator and workload sources."""
    h = hashlib.sha1()
    for name in ("gen.py", "workloads.py"):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def load_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def stop_spark(spark, jvm: int) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    from perfbench.measure import descendants
    procs = [jvm] + descendants(jvm)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import tile_gen_spark.operators.tiles  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from perfbench import eventlog, measure
    from perfbench.workloads import Spans
    from tile_gen_spark.plans.session import get_spark

    wl_cls = WORKLOADS[args.workload]
    key = str(args.seed)
    # generated inputs and reference-checked digests are only reused by the
    # same generator and workload code
    cache = os.path.join(WORK, "inputs", code_version())
    verified_path = os.path.join(cache, "verified.json")
    expected, source = load_json(PINS).get(args.workload, {}).get(key), "pinned"
    if expected is None:
        expected, source = load_json(verified_path).get(args.workload, {}).get(key), "verified"

    # inputs: generated (or reused) before any timing
    wl = wl_cls(WORK)
    t_gen = time.perf_counter()
    wl.generate(cache, args.seed)
    t_gen = time.perf_counter() - t_gen
    session_env(args.cores, bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{args.cores}]",
                      shuffle_partitions=box_cores())
    spark.sparkContext.setLogLevel("ERROR")
    jvm = measure.jvm_pid(spark)
    t_session = time.perf_counter() - t0
    try:
        spark.sparkContext.setJobGroup("setup", "setup")
        wl.load(spark)
        t_load = time.perf_counter() - t0 - t_session

        passes: list[dict] = []

        def one_pass(timed: bool) -> None:
            c0, w0 = measure.tree_cpu_s(jvm), time.perf_counter()
            result = wl.run_pass()
            wall, cpu = time.perf_counter() - w0, measure.tree_cpu_s(jvm) - c0
            passes.append({"timed": timed, "wall_s": wall, "cpu_s": cpu, "result": result})

        spark.sparkContext.setJobGroup("pass", "pass")
        for _ in range(wl_cls.warm_passes):
            one_pass(False)
        setup_s = time.perf_counter() - t0
        t_timed = time.perf_counter()
        while (sum(p["timed"] for p in passes) < MIN_TIMED
               or time.perf_counter() - t_timed < args.seconds):
            one_pass(True)

        layered = None
        if args.trace:
            spans = Spans(spark, jvm)
            w0 = time.perf_counter()
            result = wl.layered_pass(spans)
            layered = {"wall_s": time.perf_counter() - w0, "spans": spans.records}
            passes.append({"timed": False, "wall_s": layered["wall_s"], "result": result})

        # outputs are checked after the timed loop, so check jobs never run
        # between timed passes
        spark.sparkContext.setJobGroup("check", "check")
        for p in passes:
            p["digest"], p["problems"] = wl.check(p["result"])
            p["rows"] = p["result"]["rows"]

        reference = None
        if expected is None:
            spark.sparkContext.setJobGroup("reference", "reference")
            expected = reference = wl.reference()
            source = "reference"
        rss = measure.peak_rss_mb(jvm)
    finally:
        stop_spark(spark, jvm)

    failed = 0
    for i, p in enumerate(passes):
        bad = list(p["problems"])
        if p["digest"] != expected:
            bad.append(f"digest {p['digest']} != expected {expected}")
        if bad:
            failed += 1
            print(f"perfbench: pass {i} FAILED: {'; '.join(bad)}", file=sys.stderr)
    if reference is not None and failed == 0:
        store = load_json(verified_path)
        store.setdefault(args.workload, {})[key] = reference
        with open(verified_path, "w") as f:
            json.dump(store, f, indent=1, sort_keys=True)

    timed = [p for p in passes if p["timed"]]
    walls = [p["wall_s"] for p in timed]
    wall_med = statistics.median(walls)
    warm = [round(p["wall_s"], 2) for p in passes if not p["timed"]][:wl_cls.warm_passes]
    print(f"perfbench: {args.workload} seed={args.seed} cores={args.cores} "
          f"gen={t_gen:.2f}s session={t_session:.2f}s load={t_load:.2f}s "
          f"setup={setup_s:.2f}s warm={warm} "
          f"timed={[round(w, 2) for w in walls]} rows={timed[0]['rows']} "
          f"expected={source}")

    if args.trace:
        metrics = layer_metrics(wl_cls, layered, wall_med, eventlog)
    else:
        metrics = {
            "rows_per_s": (timed[0]["rows"] / wall_med, "rows/s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
            "ok_ratio": ((len(passes) - failed) / len(passes), "ratio"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def layer_metrics(wl_cls, layered: dict, plain_wall: float, eventlog) -> dict:
    """Per-layer metrics of the layered pass, folded from the event log.
    Spans of other workloads report zero: the workload does not run them."""
    from perfbench.workloads import WORKLOADS

    logs = os.listdir(os.path.join(WORK, "eventlog"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    path = os.path.join(WORK, "eventlog", logs[0])
    folded = eventlog.fold(eventlog.read_events(path))
    by_span = {}
    for rec in layered["spans"]:
        m = eventlog.group_metrics(folded, rec["span"], rec["start"] * 1e3, rec["end"] * 1e3)
        m.update({k: rec[k] for k in ("wall_s", "cpu_s", "gc_s", "rows_in", "rows_out")})
        m["useful_ratio"] = rec["rows_out"] / rec["rows_in"] if rec["rows_in"] else 0.0
        if "out_mb" in rec:
            m["out_mb"] = rec["out_mb"]
        by_span[rec["span"]] = m

    stages = eventlog.stage_table(folded, [r["span"] for r in layered["spans"]])
    with open(os.path.join(WORK, f"stages-{wl_cls.name}.json"), "w") as f:
        json.dump(stages, f, indent=1)
    print("perfbench: per-stage rows (span | stage | tasks | wall_s | cpu_s | "
          "shuffle_mb | py_mb | out_mb | scopes | sql root)")
    for r in stages:
        print(f"  {r['group']:<14} {r['stage']:>4} {r['tasks']:>4} {r['wall_s']:7.3f} "
              f"{r['exec_cpu_s']:7.3f} {r['shuffle_write_mb']:7.3f} {r['py_mb']:7.3f} "
              f"{r['output_mb']:7.3f}  {r['scopes'][:60]:<60} {r['sql'][:70]}")
    accounted = sum(r["wall_s"] for r in layered["spans"])
    print(f"perfbench: layered pass {layered['wall_s']:.2f}s, spans {accounted:.2f}s, "
          f"plain pass median {plain_wall:.2f}s")

    out = {}
    all_spans = [s for w in WORKLOADS.values() for s in w.spans]
    for span in all_spans:
        m = by_span.get(span, {})
        for k in SPAN_METRICS:
            out[f"{span}.{k}"] = (float(m.get(k, 0.0)), UNITS[k])
    out["tile_job.out_mb"] = (float(by_span.get("tile_job", {}).get("out_mb", 0.0)), "MB")
    out["trace_overhead_pct"] = (100.0 * (layered["wall_s"] - plain_wall) / plain_wall, "%")
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
