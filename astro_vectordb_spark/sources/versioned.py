"""Versioned parquet table: manifest-swap commits.

A plain-parquet overwrite sink lets concurrent readers race a commit
(they list files, the writer deletes them, the read fails mid-plan).
The minimal fix — what table formats do under the hood — is versioned
data directories plus an atomically-swapped pointer:

    table/
      _CURRENT          <- text file: name of the live version dir
      v42/ ... parquet
      v43/ ... parquet

Writers never touch a live directory (write v{n+1}, fsync, then
``os.replace`` the pointer — atomic on POSIX); readers resolve the
pointer once and read an immutable directory.  Old versions are
garbage-collected after the swap, keeping ``keep_versions`` behind.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

CURRENT = "_CURRENT"


def current_version(path: str) -> str | None:
    p = os.path.join(path, CURRENT)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read().strip() or None


def current_token(path: str) -> tuple | None:
    """``(live version, pointer inode, pointer mtime_ns)`` of the table
    at ``path``, or None when nothing is committed (or the pointer was
    swapped out while being read).  The version name
    alone does not identify the contents (a rebuild at the same path
    commits ``v0`` again), but every commit swaps in a fresh pointer
    file, so the triple changes with each one.  Costs one ``stat`` and
    one small read, no Spark job."""
    ver = current_version(path)
    if ver is None:
        return None
    try:
        st = os.stat(os.path.join(path, CURRENT))
    except OSError:  # swapped out between the read and the stat
        return None
    return (ver, st.st_ino, st.st_mtime_ns)


def read_current(spark: SparkSession, path: str) -> DataFrame | None:
    """The live snapshot, or None if the table has no committed version."""
    v = current_version(path)
    if v is None:
        return None
    return spark.read.parquet(os.path.join(path, v))


def commit_version(
    df: DataFrame, path: str, version: int, keep_versions: int = 2
) -> str:
    """Write ``df`` as v{version} and swap the pointer atomically."""
    vdir = f"v{version}"
    df.write.mode("overwrite").parquet(os.path.join(path, vdir))
    _swap_pointer(path, vdir, keep_versions)
    return vdir


def commit_version_multi(
    dfs: dict[str, DataFrame], path: str, version: int,
    keep_versions: int = 2,
) -> str:
    """Commit SEVERAL tables under ONE version pointer.

    A multi-table index (e.g. BM25's term_stats + corpus_stats + the
    applied-batch log) committed as separate versioned tables has a
    crash window between the pointer swaps: one table advances, its
    sibling doesn't, and an at-least-once redelivery re-merges a batch
    that is already half applied.  Writing every table into the SAME
    version directory and swapping a single pointer makes the commit
    all-or-nothing — either every table (including the batch log)
    reflects the batch, or none does.
    """
    vdir = f"v{version}"
    for name, df in dfs.items():
        df.write.mode("overwrite").parquet(os.path.join(path, vdir, name))
    _swap_pointer(path, vdir, keep_versions)
    return vdir


def current_dirs(path: str) -> dict[str, str] | None:
    """Directory of every table in the current multi-table version,
    keyed by sub-table name; None if nothing committed."""
    v = current_version(path)
    if v is None:
        return None
    vdir = os.path.join(path, v)
    return {
        name: os.path.join(vdir, name)
        for name in sorted(os.listdir(vdir))
        if os.path.isdir(os.path.join(vdir, name))
    }


def read_current_multi(
    spark: SparkSession, path: str
) -> dict[str, DataFrame] | None:
    """Live snapshots of every table in the current multi-table
    version, keyed by sub-table name; None if nothing committed."""
    dirs = current_dirs(path)
    if dirs is None:
        return None
    return {name: spark.read.parquet(d) for name, d in dirs.items()}


def _swap_pointer(path: str, vdir: str, keep_versions: int) -> None:
    tmp = os.path.join(path, CURRENT + ".tmp")
    with open(tmp, "w") as f:
        f.write(vdir)
        f.flush()
        os.fsync(f.fileno())  # pointer content durable BEFORE the swap
    os.replace(tmp, os.path.join(path, CURRENT))
    # make the rename itself durable (directory entry) so a crash can't
    # resurrect the old pointer after we report success
    dirfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dirfd)
    finally:
        os.close(dirfd)
    # GC: drop committed versions older than the newest keep_versions
    versions = sorted(
        (d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit()),
        key=lambda d: int(d[1:]),
    )
    for old in versions[:-keep_versions] if keep_versions > 0 else []:
        if old != vdir:
            shutil.rmtree(os.path.join(path, old), ignore_errors=True)


def gc_versions(
    path: str, keep_last_versions: int = 2,
    orphan_min_age_sec: float = 3600.0,
) -> dict:
    """Offline version GC — the retention face for a table whose
    writer stopped (the per-commit GC in ``_swap_pointer`` only runs
    while commits flow) or whose ``keep_versions`` policy tightened
    after the fact.

    Drops committed version directories older than the newest
    ``keep_last_versions``, NEVER the one ``_CURRENT`` points at, and
    also removes orphan ``v{n}`` directories a crashed writer left
    ABOVE the current pointer (written but never swapped in — invisible
    to readers, pure disk leak).  An orphan younger than
    ``orphan_min_age_sec`` is KEPT: nothing distinguishes "crashed"
    from "a concurrent writer about to swap this version in", so
    recent dirs get the benefit of the doubt — deleting a live
    writer's in-flight commit would make its pointer swap publish a
    missing directory.  Age is judged by the NEWEST mtime found
    walking the whole version tree, not the top-level dir: a
    partitioned parquet write mutates nested subdirectories without
    refreshing the top-level mtime, so a long-running live commit
    would otherwise look stale while still writing.  The 1h default
    is a FLOOR — size it well above your slowest commit's wall time.
    Returns ``{"removed": [...], "kept": [...]}``."""
    import time as _time

    cur = current_version(path)
    if cur is None:
        return {"removed": [], "kept": []}
    cur_n = int(cur[1:])
    versions = sorted(
        (d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit()),
        key=lambda d: int(d[1:]),
    )
    committed = [d for d in versions if int(d[1:]) <= cur_n]
    now = _time.time()

    def _newest_mtime(root: str) -> float:
        newest = os.path.getmtime(root)
        for dirpath, dirnames, filenames in os.walk(root):
            for entry in dirnames + filenames:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(dirpath, entry))
                    )
                except OSError:
                    pass  # racing writer moved it; any sibling still counts
        return newest

    def _old_enough(d: str) -> bool:
        try:
            return now - _newest_mtime(os.path.join(path, d)) >= (
                orphan_min_age_sec
            )
        except OSError:
            return False

    orphans = [
        d for d in versions if int(d[1:]) > cur_n and _old_enough(d)
    ]
    doomed = (
        committed[:-keep_last_versions] if keep_last_versions > 0 else []
    )
    removed = []
    for d in doomed + orphans:
        if d == cur:
            continue
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        removed.append(d)
    kept = [d for d in versions if d not in removed]
    return {"removed": removed, "kept": kept}
