"""EP1 CLI (SURVEY.md §3): the spark-submit entry point.

    spark-submit --py-files tilegen.zip -m tile_gen_spark.jobs.generate_tiles \
        --input <pages parquet/iceberg> --out <dir> --zooms 0-12 \
        --manifest <dir> [--synthetic N]

Ships via ``--py-files`` per ``BASELINE.json:6``; build the zip with
``python -m tile_gen_spark.jobs.package``. Resumes from the manifest
checkpoint (completed zooms are skipped; rerun is idempotent).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_zooms(s: str) -> list[int]:
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(z) for z in s.split(",")]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="tile-gen-spark: pages → z/x/y tiles")
    ap.add_argument("--input", help="pages table path (parquet)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--zooms", default="0-12")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    ap.add_argument("--mvt", action="store_true",
                    help="also encode MVT 2.1 wire bytes per tile (adds an "
                         "'mvt' binary column to the sink)")
    ap.add_argument("--split-layers", action="store_true",
                    help="with --mvt: one layer per geometry kind "
                         "(point/line/polygon) instead of a single layer")
    ap.add_argument("--mvt-tree", default=None, metavar="DIR",
                    help="with --mvt: additionally write every tile as "
                         "DIR/z/x/y.mvt (static tile-server layout; DIR "
                         "must be writable from every executor)")
    args = ap.parse_args(argv)
    if args.mvt_tree and not args.mvt:
        ap.error("--mvt-tree requires --mvt")

    from ..plans.session import get_spark
    from ..sources.synth import gen_pages
    from ..operators.extract import (extract_and_parse, latest_per_url,
                                     validity_filter)
    from ..operators.checkpoint import run_tile_job

    spark = get_spark("generate-tiles", master=args.master)
    t0 = time.time()
    if args.synthetic:
        pages = gen_pages(spark, args.synthetic, seed=args.seed)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("--input or --synthetic required")

    latest = latest_per_url(pages)
    feats = validity_filter(extract_and_parse(latest)).cache()
    # build the cache before the first zoom, so every zoom's clip and agg
    # exchanges are sized from the cached bytes (tiles.clip_parts)
    n_features = feats.count()

    stats = run_tile_job(spark, feats, args.out, args.manifest,
                         parse_zooms(args.zooms), mvt=args.mvt,
                         split_layers=args.split_layers)
    if args.mvt_tree:
        from ..operators.mvt import write_mvt_tree
        tree = write_mvt_tree(spark.read.parquet(args.out), args.mvt_tree)
        stats.update({"mvt_tree_tiles": tree["n_tiles"],
                      "mvt_tree_bytes": tree["n_bytes"]})
    stats.update({"wall_sec": round(time.time() - t0, 1),
                  "n_features": n_features})
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
