"""Replay stages (streaming/staging.py) do not outlive their source: a
stage whose source is rewritten or deleted can never be looked up
again, so the next staging call removes it."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from prosnet_prefect_pipelines_spark.streaming.staging import (
    private_stage_dir,
    replay_stage,
    symlink_stage,
)


def _write_embeddings(path: str, n: int) -> None:
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([[float(i), 1.0] for i in range(n)],
                                  pa.list_(pa.float32())),
        }),
        path,
    )


def _stages_of(root: str, src: str) -> list[str]:
    found = []
    for entry in os.listdir(root):
        marker = os.path.join(root, entry, "_source")
        if os.path.isfile(marker):
            with open(marker) as fh:
                if json.load(fh)["source"] == os.path.abspath(src):
                    found.append(os.path.join(root, entry))
    return found


def test_rewritten_then_deleted_source_leaves_no_stage(spark, sf_dir, tmp_path):
    src = str(tmp_path / "embeddings.parquet")
    _write_embeddings(src, 6)
    s1 = replay_stage(spark.read.parquet(src), src, "t_leak", n_files=1)
    link1 = symlink_stage(src, "t_leak_link")
    root = os.path.dirname(s1)
    unmarked = private_stage_dir("t_leak_unmarked")
    os.makedirs(unmarked, exist_ok=True)
    assert sorted(_stages_of(root, src)) == sorted([s1, link1])
    # the stage's own replay never sees the marker
    assert spark.read.parquet(s1).count() == 6

    # rewritten: the next call builds a fresh stage and drops both old ones
    _write_embeddings(src, 8)
    s2 = replay_stage(spark.read.parquet(src), src, "t_leak", n_files=1)
    assert s2 != s1 and _stages_of(root, src) == [s2]
    assert not os.path.exists(s1) and not os.path.exists(link1)

    # deleted: any later staging call removes the last one
    os.remove(src)
    symlink_stage(f"{sf_dir}/region.parquet", "t_leak_other")
    assert _stages_of(root, src) == [] and not os.path.exists(s2)
    # a directory without a marker is not ours to judge
    assert os.path.isdir(unmarked)
    os.rmdir(unmarked)
