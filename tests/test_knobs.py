"""The engine's STARLAKE_* environment knobs, pinned by name.

Every knob is a configuration surface someone has to know about. A
change that adds or retires one must edit KNOBS below, so it shows in
the diff; the set is what ROADMAP's count uses:
``grep -rhoE 'STARLAKE_[A-Z0-9_]+' starlake_spark --include='*.py'``.
"""

import pathlib
import re

KNOBS = {
    "STARLAKE_CHECKPOINT_INTERVAL",
    "STARLAKE_COMMIT_TIMEOUT_S",
    "STARLAKE_FLAT_SCAN",
    "STARLAKE_FLAT_SCAN_AVG_GROUP_BYTES",
    "STARLAKE_FLAT_SCAN_DEEP_GROUPS",
    "STARLAKE_LISTER",
    "STARLAKE_LOCK_PROVIDER",
    "STARLAKE_MV_BROADCAST_KEY_LIMIT",
    "STARLAKE_MV_DEBUG",
    "STARLAKE_MV_JOIN_PRUNE_KEY_LIMIT",
    "STARLAKE_MV_LOCAL_ROW_CAP",
    "STARLAKE_ROLLUP_RESCAN_CELL_LIMIT",
    "STARLAKE_SUITE_DIR",
    "STARLAKE_WAREHOUSE",
    "STARLAKE_WRITE_AQE",
}


def test_knob_set_is_pinned():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "starlake_spark"
    found = {m for f in pkg.rglob("*.py")
             for m in re.findall(r"STARLAKE_[A-Z0-9_]+", f.read_text())}
    assert found == KNOBS, (
        f"added: {sorted(found - KNOBS)}, removed: {sorted(KNOBS - found)}")
