"""Pin the expected output digest of each (workload, seed) from the
reference paths, in one Spark session:

    python3 perfbench/pin.py --seeds 0-30 [--workload NAME ...]

The digests land in perfbench/pins.json. A timed run then checks every pass
of the production path against them; a seed that is not pinned is checked
against the reference once per checkout instead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="pin reference digests")
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--workload", action="append")
    args = ap.parse_args(argv)
    first, _, last = args.seeds.partition("-")
    seeds = range(int(first), int(last or first) + 1)

    from perfbench import measure
    from perfbench.workloads import WORKLOADS
    from tile_gen_spark.plans.session import get_spark

    names = args.workload or sorted(WORKLOADS)
    cache = os.path.join(run.WORK, "inputs", run.code_version())
    run.session_env(run.box_cores(), trace=False)
    spark = get_spark("perfbench-pin", master=f"local[{run.box_cores()}]",
                      shuffle_partitions=run.box_cores())
    spark.sparkContext.setLogLevel("ERROR")
    jvm = measure.jvm_pid(spark)
    pins = run.load_json(run.PINS)
    try:
        for name in names:
            for seed in seeds:
                t = time.perf_counter()
                wl = WORKLOADS[name](run.WORK)
                wl.generate(cache, seed)
                wl.load(spark)
                pins.setdefault(name, {})[str(seed)] = wl.reference()
                spark.catalog.clearCache()
                print(f"{name} seed={seed} rows={pins[name][str(seed)]['rows']} "
                      f"({time.perf_counter() - t:.1f}s)", flush=True)
    finally:
        run.stop_spark(spark, jvm)
    with open(run.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
