"""Measurement helpers: /proc CPU and peak RSS, JVM GC time, and an
order-independent in-Spark digest of every output column."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(v) for v in fields[11:15])


def _proc_table() -> dict[int, tuple[int, int]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def _tree(root: int, stats: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (the JVM's Python daemon and workers)."""
    return _tree(root, _proc_table())[1:]


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant (the JVM and its
    Python workers). Workers that already exited are included through the
    cutime/cstime of the parent that reaped them."""
    stats = _proc_table()
    return sum(stats[pid][1] for pid in _tree(root, stats)) / _TICK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _has_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_map(dt.elementType)
    return False


def _hashable(c: Column, dt: T.DataType) -> Column:
    """Rewrite maps (which Spark cannot hash) as key-sorted entry arrays,
    recursing through structs and arrays."""
    if not _has_map(dt):
        return c
    if isinstance(dt, T.MapType):
        return F.array_sort(F.map_entries(c))
    if isinstance(dt, T.StructType):
        return F.struct(*[_hashable(c[f.name], f.dataType).alias(f.name)
                          for f in dt.fields])
    return F.transform(c, lambda e: _hashable(e, dt.elementType))


def digest_columns(df: DataFrame) -> list[Column]:
    """Aggregate expressions: row count plus, per column, the sums of the
    high and low 32-bit halves of xxhash64(value). Sums commute, so the
    digest ignores row order and partitioning, while every column is read
    (Catalyst cannot prune the work that produces it)."""
    out = [F.count(F.lit(1)).alias("_rows")]
    for f in df.schema.fields:
        h = F.xxhash64(_hashable(F.col(f"`{f.name}`"), f.dataType))
        out.append(F.sum(F.shiftrightunsigned(h, 32)).alias(f"{f.name}#hi"))
        out.append(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias(f"{f.name}#lo"))
    return out


def fold_digest(row) -> dict:
    """Collapse the aggregate row into {"rows": n, "<col>": 16-hex digest}."""
    d = row.asDict()
    out = {"rows": int(d.pop("_rows"))}
    for k in [k for k in d if k.endswith("#hi")]:
        col = k[:-3]
        hi, lo = int(d[k] or 0), int(d[col + "#lo"] or 0)
        out[col] = "%016x" % (((hi << 32) + lo) % (1 << 64))
    return out


def digest(df: DataFrame) -> dict:
    """Order-independent content digest of every column, computed in Spark
    (one aggregate row comes back, never the data)."""
    return fold_digest(df.agg(*digest_columns(df)).first())
