"""The streaming monitors write their replay output under the one
per-application scratch root (``streaming.staging.scratch_root``), which
is removed at interpreter exit, instead of leaving a ``mkdtemp``
directory in the temp dir per replay."""

from __future__ import annotations

import glob
import os
import tempfile
from urllib.parse import urlparse

import pytest

# (query, output dir prefix, whether the replay itself is memoized)
MONITORS = [
    ("stream_neardup_monitor", "nd_monitor_", False),
    ("stream_ann_topk_monitor", "ann_monitor_", False),
    ("stream_preference_margin_monitor", "pref_monitor_", True),
    ("stream_ann_ivfpq_monitor", "ann_ivfpq_monitor_", False),
]


@pytest.mark.parametrize("name,prefix,memoized", MONITORS)
def test_monitor_result_reads_under_scratch_root(spark, sf_dir, name, prefix, memoized):
    from prosnet_prefect_pipelines_spark.plans import catalog
    from prosnet_prefect_pipelines_spark.session import reset_memo_fixtures
    from prosnet_prefect_pipelines_spark.streaming.staging import scratch_root

    def loose():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")))

    root = scratch_root(spark)
    before, before_loose = set(os.listdir(root)), loose()
    if memoized:
        reset_memo_fixtures(spark)
    df = catalog.load()[0][name](spark, sf_dir)

    new = [d for d in set(os.listdir(root)) - before if d.startswith(prefix)]
    assert len(new) == 1, new
    assert loose() == before_loose
    out_dir = os.path.join(root, new[0])
    assert glob.glob(os.path.join(out_dir, "*.parquet"))
    # the lazy results read the replay output back; a checkpointed one reads nothing
    read = [urlparse(f).path for f in df.inputFiles()]
    assert all(p.startswith(out_dir + os.sep) for p in read if not p.startswith(sf_dir)), read
