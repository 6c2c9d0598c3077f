"""Replay staging: build-once, atomically-published parquet stages.

The streaming monitors' exact replay oracles (batches 113-116) feed a
``readStream`` from a small multi-file parquet stage so ``availableNow``
slices the input into deterministic micro-batches. Rebuilding that stage
(a shuffle + write) on every invocation is wall time the warm bench
should not pay, so stages are built once and reused — which raises two
safety questions this module answers centrally:

- **Staleness**: a stage keyed only by the source *path* replays stale
  data if the source parquet is ever regenerated in place. Stages here
  are keyed by a CONTENT fingerprint of the source (relative path +
  mtime_ns + size of every data file), so a regenerated source gets a
  fresh stage automatically.
- **Squatting**: a fixed world-readable ``/tmp`` location can be
  pre-created by another local user (breaking the publish rename
  forever, or worse, serving attacker-supplied parquet). Stages live
  under a per-user, mode-0700 directory; if that directory turns out to
  be owned by someone else or group/other-accessible, it is NOT trusted
  and the build falls back to a fresh private ``mkdtemp`` (correct,
  just unshared).

Publication is atomic (build into a private temp dir, ``os.rename`` into
place) so concurrent processes never observe a half-written stage; the
loser of a publish race discards its build and uses the winner's.

Content keying leaves a superseded stage unreachable: once its source is
regenerated or deleted, no lookup builds its key again. Each published
stage therefore records its source and that source's fingerprint in a
``_source`` marker (Spark skips ``_``-prefixed files), and every
:func:`replay_stage` / :func:`symlink_stage` call first removes the
stages whose source is gone or no longer matches. Stages without a
marker are left alone.
"""

from __future__ import annotations

import atexit
import getpass
import hashlib
import json
import os
import shutil
import tempfile


def source_fingerprint(path: str) -> str:
    """Content fingerprint of a parquet file or directory: sha256 over
    (relative path, mtime_ns, size) of every regular file under it.
    Cheap (stat-only, no reads) and changes whenever the dataset is
    regenerated — the staleness key for :func:`replay_stage`."""
    h = hashlib.sha256()
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for fn in sorted(files):
                p = os.path.join(root, fn)
                st = os.stat(p)
                h.update(
                    f"{os.path.relpath(p, path)}:{st.st_mtime_ns}:{st.st_size};".encode()
                )
    else:
        st = os.stat(path)
        h.update(f"{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()[:16]


def _private_stage_root() -> str:
    """A per-user mode-0700 staging root, or a throwaway private dir if
    the canonical location can't be trusted (owned by another uid, or
    group/other-accessible — i.e. squatted or loosened)."""
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stage_{getpass.getuser()}"
    )
    try:
        os.makedirs(base, mode=0o700, exist_ok=True)
        st = os.stat(base)
        if st.st_uid == os.getuid() and not (st.st_mode & 0o077):
            return base
    except OSError:
        pass
    # untrusted: never reuse it — build somewhere provably ours
    return tempfile.mkdtemp(prefix="spark_graft_stage_")


def private_stage_dir(name: str) -> str:
    """A caller-managed scratch directory under the user-private root —
    for write-then-reread patterns (e.g. the WAP gate's staging dir)
    that previously used fixed world-visible /tmp paths."""
    return os.path.join(_private_stage_root(), name)


_SCRATCH_REGISTERED: set[str] = set()


def scratch_root(spark) -> str:
    """The per-application scratch directory: namespaced by
    applicationId (concurrent sessions once raced rmtree/read on a
    shared path), created on first use and removed at interpreter exit,
    so repeated runs don't accumulate dirs in /tmp."""
    root = private_stage_dir(f"app_{spark.sparkContext.applicationId}")
    if root not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(root)
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


_MARKER = "_source"


def _mark(stage: str, source_path: str, fingerprint: str) -> None:
    """Record the stage's source and its fingerprint in the ``_source``
    marker (written to a temp name and renamed, so a concurrent sweep
    never reads half of it)."""
    tmp = os.path.join(stage, f"{_MARKER}.{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump({"source": os.path.abspath(source_path),
                   "fingerprint": fingerprint}, fh)
    os.replace(tmp, os.path.join(stage, _MARKER))


def _sweep_stale_stages(root: str) -> None:
    """Remove every marked stage under ``root`` whose source no longer
    exists or no longer has the fingerprint the stage was keyed on."""
    current: dict[str, str | None] = {}
    for entry in os.listdir(root):
        stage = os.path.join(root, entry)
        try:
            with open(os.path.join(stage, _MARKER)) as fh:
                mark = json.load(fh)
        except (OSError, ValueError):
            continue  # not a stage, or one that predates the marker
        src = mark["source"]
        if src not in current:
            try:
                current[src] = source_fingerprint(src)
            except FileNotFoundError:
                current[src] = None
        if current[src] != mark["fingerprint"]:
            shutil.rmtree(stage, ignore_errors=True)


def symlink_stage(source_path: str, name: str) -> str:
    """A one-entry replay stage that just symlinks the source parquet —
    for monitors that replay the source as a single micro-batch. Same
    private root and content keying as :func:`replay_stage` (a
    regenerated source gets a fresh stage dir, so a reused streaming
    checkpoint never silently replays offsets against different data)."""
    root = _private_stage_root()
    _sweep_stale_stages(root)
    fp = source_fingerprint(source_path)
    stage = os.path.join(root, f"{name}_{fp}")
    os.makedirs(stage, exist_ok=True)
    if not os.path.isfile(os.path.join(stage, _MARKER)):
        _mark(stage, source_path, fp)
    link = os.path.join(stage, os.path.basename(source_path))
    if not os.path.exists(link):
        try:
            os.symlink(source_path, link)
        except FileExistsError:
            pass  # concurrent process won the race; same target either way
    return stage


def replay_stage(
    df, source_path: str, name: str, n_files: int = 4, logic_version: str = ""
) -> str:
    """Materialize ``df`` as an ``n_files``-file parquet replay stage and
    return its path. Keyed by (``name``, content fingerprint of
    ``source_path``, DERIVATION fingerprint) under a user-private root;
    built at most once per key, published atomically, reused across
    processes of the same user.

    The derivation fingerprint hashes ``df``'s schema plus the
    caller-supplied ``logic_version``: a stage is a function of the
    *derived* frame, not just the source file, so a code change to the
    derivation (new projection, changed filter) must invalidate cached
    stages the same way a regenerated source does. Schema changes are
    caught automatically; value-only derivation changes need the caller
    to bump ``logic_version`` (or the stage ``name``).
    """
    root = _private_stage_root()
    _sweep_stale_stages(root)
    deriv = hashlib.sha256(
        (df.schema.simpleString() + "|" + logic_version).encode()
    ).hexdigest()[:8]
    fp = source_fingerprint(source_path)
    stage = os.path.join(root, f"{name}_{fp}_{deriv}")
    if not os.path.isdir(stage):
        tmp = tempfile.mkdtemp(prefix=f"{name}_build_", dir=root)
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        _mark(tmp, source_path, fp)
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the publish race
    return stage
