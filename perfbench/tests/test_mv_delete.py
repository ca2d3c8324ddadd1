"""mv_maintain's source DML against its views, outside the timed loop.

The timed rotation runs delta upserts and delta updates. A tombstone
DELETE on the source, refreshed in a window that starts after an
earlier refresh of a delta commit, currently leaves deleted rows in the
incrementally refreshed views and rollup;
``test_refresh_of_delete_after_a_refreshed_delta`` pins that defect and
fails until the engine is fixed.
"""

import time

import numpy as np

import datagen
from workloads import MvMaintain


def _workload(spark, tmp_path):
    time.tzset()
    wl = MvMaintain(spark, np.random.default_rng(7), datagen.SCALES["sf0.001"])
    wl.setup(str(tmp_path))
    return wl


def test_rotation_keeps_views_exact(spark, tmp_path):
    wl = _workload(spark, tmp_path)
    for shape in MvMaintain.DML_ROTATION * 2:
        getattr(wl, f"source_{shape}")().run()
    assert wl.finish() == []


def test_refresh_of_delete_after_a_refreshed_delta(spark, tmp_path):
    wl = _workload(spark, tmp_path)
    wl.source_upsert().run()
    assert wl.finish() == []  # refreshes every view, then checks them
    wl.source_delete().run()
    assert wl.finish() == []
