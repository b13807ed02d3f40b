"""Inventory of the engine's environment knobs and forced broadcasts.

Every knob is a second code path or a setting someone has to know about, so
the set is pinned here: adding or removing a knob must edit KNOBS (the
TILEGEN_* knobs, scanned in the engine package and the driver entry module)
or SESSION_ENV (the SPARK_* reads of the session factory, scanned in the
engine package). The scan matches ``environ.get("…``, ``environ["…`` and
``"…" in os.environ`` reads.

A forced broadcast hint holds its input in every executor whatever its
size, so its call sites are pinned too (BROADCAST_SITES): dim-side joins go
through plans.session.broadcast_if_small, which hints only under
BROADCAST_MAX_BYTES.
"""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

KNOBS = {
    "TILEGEN_LATEST_MODE",
    "TILEGEN_REAL_DECODE",
    "TILEGEN_TABLE_FORMAT",
}

#: SPARK_* variables the session factory (plans/session.py) reads
SESSION_ENV = {
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_LOCAL_DIRS",
}

#: Broadcast hints per engine module: the size rule, and knn's
#: spec-mandated J2 cell index ("kNN via indexed broadcast of cell
#: neighbors": the index and its brute residual, both behind
#: ``broadcast_index``; the brute-force oracle; the IVF probe pairs built
#: from a driver-side query set)
BROADCAST_SITES = {
    "plans/session.py": 1,
    "operators/knn.py": 4,
}

#: ``F.broadcast(df)``, ``df.hint("broadcast")`` and SQL ``/*+ BROADCAST``
_HINT = re.compile(r"""\bF\.broadcast\(|\bfunctions\.broadcast\("""
                   r"""|\.hint\(\s*["'](?:broadcast|broadcastjoin|mapjoin)\b"""
                   r"""|/\*\+\s*(?:broadcast|broadcastjoin|mapjoin)\b""",
                   re.IGNORECASE)


def _reads(prefix: str) -> re.Pattern:
    name = f"({prefix}_[A-Z0-9_]+)"
    return re.compile(rf"""environ(?:\.get\(|\[)\s*["']{name}"""
                      rf"""|["']{name}["']\s+(?:not\s+)?in\s+(?:os\.)?environ""")


def _found(prefix: str, paths) -> set[str]:
    return {name for path in paths
            for match in _reads(prefix).findall(path.read_text())
            for name in match if name}


def _sources():
    yield from sorted((ROOT / "tile_gen_spark").rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def test_knob_inventory():
    found = _found("TILEGEN", _sources())
    assert found == KNOBS, (
        f"new: {sorted(found - KNOBS)}, gone: {sorted(KNOBS - found)}")


def test_session_env_inventory():
    found = _found("SPARK", sorted((ROOT / "tile_gen_spark").rglob("*.py")))
    assert found == SESSION_ENV, (
        f"new: {sorted(found - SESSION_ENV)}, gone: {sorted(SESSION_ENV - found)}")


def test_broadcast_hint_sites():
    pkg = ROOT / "tile_gen_spark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        n = len(_HINT.findall(path.read_text()))
        if n:
            found[path.relative_to(pkg).as_posix()] = n
    assert found == BROADCAST_SITES
