"""SparkSession factory with scale-oriented defaults (SURVEY.md §4).

Settings chosen for the 100 TB design point, applied identically in local
mode (``local[N]``, N = SPARK_GRAFT_CPUS, default the cores this process
may run on; driver heap SPARK_DRIVER_MEM, default half the machine's RAM up
to 16g): AQE on (skew-join splitting + partition coalescing,
``BASELINE.json:6,14``), Arrow enabled for every Python crossing
(``BASELINE.json:15``), shuffle partitions sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Input bytes per task below which a Python stage gets no more tasks: each
#: task pays a fixed cost whatever its size (on 4 vCPU, tasks of an empty
#: mapInArrow start 50–100 ms apart). The tile clip over-partitions only from
#: this many bytes per shuffle partition (tiles.clip_parts); the PIP zone
#: side runs one task per this many bytes (spatial_join.zone_side).
MIN_TASK_BYTES = 1 << 20

#: Optimized-plan size up to which a dim-side join input is broadcast
#: (broadcast_if_small). Read at bench.py's tile_pipeline shape, driver-side
#: (features persisted but not built when planned): at 400k pages the tile
#: kind/props dim plans at 43.8 MB and the per-url decision table at
#: 25.8 MB (0.45 and 0.26 MB at 4,000 pages). Spark's 10 MB
#: autoBroadcastJoinThreshold would make both sort-merge joins: the dim's
#: with two more exchanges of the nested rows, the per-url one moving every
#: page. 256 MiB is more than 5x the dim, and it absorbs plan_bytes'
#: undercount of array-heavy projections (4,000 zones plan at 1.80 MB
#: against a 3.30 MB cache).
BROADCAST_MAX_BYTES = 256 << 20


def default_driver_mem() -> str:
    """Half the machine's physical memory, capped at 16g. Local mode runs
    every executor thread in the driver heap, and shuffle files share the
    rest of RAM when they go to tmpfs."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    return f"{min(half_mb, 16 << 10)}m"


def shuffle_parts(spark: SparkSession) -> int:
    """Base partition count for the engine's explicit (AQE-exempt)
    exchanges: ``spark.sql.shuffle.partitions``, or the default parallelism
    where that setting is not a number ("auto" on AQE-managed clusters)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes of a fresh optimized plan of df — the measured
    bytes of a materialized cache, else an estimate; reading it starts no job.

    A Dataset keeps the statistics of its first optimization, so a cache
    built after df was first planned would not show in df's own plan; a
    derived ``select("*")`` is optimized anew and sees it."""
    qe = df.select("*")._jdf.queryExecution()
    return int(qe.optimizedPlan().stats().sizeInBytes())


def broadcast_if_small(df: DataFrame, nbytes: int | None = None) -> DataFrame:
    """The one broadcast rule for a dim-side join input: df hinted for
    broadcast when its size — nbytes if the caller has read it already,
    else plan_bytes(df) — is at most BROADCAST_MAX_BYTES, else df unhinted,
    so Catalyst and AQE pick the join from the sizes they see.

    A hint rather than spark.sql.autoBroadcastJoinThreshold: that setting
    belongs to whoever built the session (the driver contract's entry(spark)
    and library callers bring their own, at the 10 MB default), and it
    reaches every join, AQE's runtime conversions included, not only the
    dim sides. Set to BROADCAST_MAX_BYTES in get_spark with the hints
    removed, tools/dump_plans.py gives the same six plans."""
    size = plan_bytes(df) if nbytes is None else nbytes
    return F.broadcast(df) if size <= BROADCAST_MAX_BYTES else df


def get_spark(app: str = "tile-gen-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE advisory left at the 64 MB default deliberately: 16 MB was
        # measured SLOWER at local[32] (58.5 s vs 47.2 s pipeline) — the
        # Arrow extract wants few large batches (pandas .str vectorization
        # amortizes per-task fixed cost), and the stages that must scale
        # (the shape clip and the tile agg) pin explicit AQE-exempt
        # partition counts sized from their input (tiles.clip_parts).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~10k rows per Arrow batch: wide geometry rows (SURVEY.md §4.2)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # single-JVM local mode puts ALL executor threads in the driver heap;
        # 16g measured flat-stable across reps on a 32-core box — 8g went
        # GC-bound on heavy 32-thread stages, 48g spiked on heap expansion
        # (4s → 50s outliers). Smaller boxes get half their RAM.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem())
        # UI off for bench hygiene (per-stage metrics come from the event log)
        .config("spark.ui.enabled", "false")
    )
    # Local-mode shuffle files on tmpfs when available: all N threads share
    # ONE disk in local mode, which serializes shuffle-heavy stages — an
    # artifact a real cluster (per-node SSDs scaling with node count) does
    # not have. Honored first (and the way to keep shuffle files off
    # tmpfs): SPARK_LOCAL_DIRS, or an explicit spark.local.dir via
    # SPARK_GRAFT_LOCAL_DIR. tmpfs competes with the JVM heap for RAM, so
    # the override is also skipped when /dev/shm has < 8 GiB free (large
    # spills that would fit on disk must not fail on a full tmpfs).
    explicit = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if explicit:
        b = b.config("spark.local.dir", explicit)
    elif "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            shm_free = st.f_bavail * st.f_frsize
        except OSError:
            shm_free = 0
        if shm_free >= 8 << 30:
            shm = os.path.join("/dev/shm", "spark-local")
            os.makedirs(shm, exist_ok=True)
            b = b.config("spark.local.dir", shm)
    # experiment passthrough: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — lets bench
    # A/Bs (e.g. spark.io.compression.codec, Spark's lz4 by default) run
    # without code edits; applied LAST so an experiment can override any
    # default above.
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF",
                                          "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    return b.getOrCreate()
