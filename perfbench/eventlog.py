"""Per-query execution record from Spark's built-in event log.

Spark 4 writes a rolling log: a directory ``eventlog_v2_<appId>/`` of
``events_<N>_<appId>`` files. The benchmark turns the log on uncompressed,
so each file is JSON lines.

Jobs are attributed to a benchmark query through their job group. The
benchmark sets ``<workload>/<query>/<phase>`` around each call; streaming
micro-batch jobs instead carry the stream's ``runId`` as their group, which
the caller maps to a query from its streaming listener.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

_MB = 2**20


def event_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``, in write order."""
    def part(path: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(path)).group(1))

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=part)


def _events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "input_mb": 0.0, "task_skew": 0.0,
    }


def parse(log_dir: str, group_prefix: str, run_query: dict[str, str]) -> dict:
    """``{(query, phase): record}`` for the jobs whose group starts with
    ``group_prefix`` (phase from the group) or is a streaming ``runId`` in
    ``run_query`` (phase ``"stream"``). Other jobs are ignored.

    ``task_skew`` is the largest per-stage ratio of the longest task to the
    median task (durations floored at 1 ms)."""
    stage_key: dict[int, tuple[str, str]] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    recs: dict[tuple[str, str], dict] = defaultdict(_empty)
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(group_prefix):
                _, query, phase = group.rsplit("/", 2)
                key = (query, phase)
            elif group in run_query:
                key = (run_query[group], "stream")
            else:
                continue
            recs[key]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                recs[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            key = stage_key.get(sid)
            if key is None:
                continue
            rec = recs[key]
            info = ev["Task Info"]
            rec["tasks"] += 1
            if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                rec["failed_tasks"] += 1
            task_ms[sid].append(max(1, info["Finish Time"] - info["Launch Time"]))
            m = ev.get("Task Metrics") or {}
            rec["run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
            rec["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            )
            rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            rec["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
    for sid, durations in task_ms.items():
        if len(durations) > 1:
            rec = recs[stage_key[sid]]
            skew = max(durations) / statistics.median(durations)
            rec["task_skew"] = max(rec["task_skew"], skew)
    return dict(recs)


def total(recs: dict) -> dict:
    """Sum of the records (``task_skew`` is the maximum)."""
    out = _empty()
    for rec in recs.values():
        for k, v in rec.items():
            out[k] = max(out[k], v) if k == "task_skew" else out[k] + v
    return out
