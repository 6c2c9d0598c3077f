"""Sweep root-level scratch logs into ``artifacts/``.

The bench auto-retires its own ``BENCH_*`` artifacts (r8/r9 items), but
scratch logs from audits / probes / ad-hoc bench runs had no retirement
path and re-accumulated at repo root every round (r10 verdict item 3:
``audit_r12*.err``, ``probe_err*.log``, ``bench_*.log``). This module is
that path: ``retire_scratch_logs()`` moves every root-level ``*.log`` /
``*.err`` file into ``artifacts/`` (collision-safe: an existing artifact
of the same name is never overwritten — the incoming file gets a numeric
suffix). Invoked by ``bench.py`` at the end of a run; runnable
standalone:

    python scripts/retire_logs.py
"""

from __future__ import annotations

import glob
import os


def retire_scratch_logs(repo_root: str | None = None) -> list[str]:
    """Move root-level ``*.log`` / ``*.err`` into ``artifacts/``;
    returns the basenames moved."""
    root = repo_root or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    art_dir = os.path.join(root, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    moved: list[str] = []
    for pat in ("*.log", "*.err"):
        for path in sorted(glob.glob(os.path.join(root, pat))):
            base = os.path.basename(path)
            dest = os.path.join(art_dir, base)
            if os.path.exists(dest):
                stem, ext = os.path.splitext(base)
                i = 1
                while os.path.exists(
                    os.path.join(art_dir, f"{stem}.{i}{ext}")
                ):
                    i += 1
                dest = os.path.join(art_dir, f"{stem}.{i}{ext}")
            os.replace(path, dest)
            moved.append(base)
    return moved


if __name__ == "__main__":
    for name in retire_scratch_logs():
        print(f"retired {name} -> artifacts/")
