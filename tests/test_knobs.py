"""Inventory of the engine's TILEGEN_* environment knobs.

Every knob is a second code path or a setting someone has to know about, so
the set is pinned here: adding or removing a knob must edit KNOBS. The scan
covers the engine package and the driver entry module, and matches both
``environ.get("TILEGEN_…`` and ``environ["TILEGEN_…`` reads.
"""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

KNOBS = {
    "TILEGEN_BROADCAST_DIM",
    "TILEGEN_LATEST_MODE",
    "TILEGEN_REAL_DECODE",
    "TILEGEN_TABLE_FORMAT",
}

_READ = re.compile(r"""environ(?:\.get\(|\[)\s*["'](TILEGEN_[A-Z0-9_]+)""")


def _sources():
    yield from sorted((ROOT / "tile_gen_spark").rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def test_knob_inventory():
    found = {name for path in _sources()
             for name in _READ.findall(path.read_text())}
    assert found == KNOBS, (
        f"new: {sorted(found - KNOBS)}, gone: {sorted(KNOBS - found)}")
