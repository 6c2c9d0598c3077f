#!/usr/bin/env python3
"""Self-tests of the benchmark's tracing. Run from anywhere:

    python3 perfbench/selftest.py

It runs ``run.py`` on ``rdf_resolve`` twice, untraced and traced, from a
working directory that is not the repository root. ``turtle_serialize``
runs a ``mapInPandas`` Python worker, which must find the engine through
``PYTHONPATH``. It checks:

- ``BENCHMARK.json`` names exactly the metrics ``run.py`` emits;
- both runs pass the oracle check, with identical value hashes;
- module-span self times sum to no more than the traced pass's wall time;
- ``streaming.*``, ``operators.similarity.*`` and ``operators.dedup.*``
  read zero on ``rdf_resolve``, which bypasses those layers.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run, tracing  # noqa: E402


def bench(workload: str, trace: int, cwd: str) -> tuple[dict, dict]:
    """Run the benchmark; returns (printed result, detail record)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(run.RUNS, f"{workload}-trace{trace}.json")) as fh:
        return result, json.load(fh)


def check_benchmark_json() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS), "workloads differ"
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def main() -> int:
    check_benchmark_json()
    cwd = os.path.join(run.RUNS, "selftest-cwd")
    os.makedirs(cwd, exist_ok=True)

    plain, plain_detail = bench("rdf_resolve", 0, cwd)
    traced, traced_detail = bench("rdf_resolve", 1, cwd)
    assert plain["correct"] and traced["correct"], "oracle check failed"
    assert plain_detail["hashes"] == traced_detail["hashes"], "traced hashes differ"
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    self_s = sum(m[f"{g}.self_s"] for g in tracing.SPAN_GROUPS)
    assert self_s <= m["trace.wall_s"], f"span self time {self_s} > wall {m['trace.wall_s']}"
    bypassed = {
        k: v for k, v in m.items()
        if k.startswith(("streaming.", "operators.similarity.", "operators.dedup.")) and v
    }
    assert not bypassed, f"rdf_resolve touched bypassed layers: {bypassed}"
    print(
        f"selftest ok: traced hashes equal, span self {self_s:.2f} s <= wall "
        f"{m['trace.wall_s']:.2f} s, rdf_resolve bypasses streaming/similarity/dedup"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
