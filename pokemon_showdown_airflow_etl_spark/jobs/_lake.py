"""How a lake write commits — the one module that knows.

Every write that replaces data a reader may be serving goes through one
of three protocols here; no other module renames a committed directory
or writes into a table it is reading:

- ``ensure_lake``: build-once cache layers (battle-log parse layer,
  content-signature layer) with a temp-dir + rename commit. Concurrent
  builders race benignly (the losing rename finds the winner's
  _SUCCESS). A directory left WITHOUT the sentinel (an interrupted
  cleanup) is junk: it is removed and the rename retried, instead of
  permanently bricking every consumer with ENOTEMPTY.
- ``replace_partitions``: replace the leaf partitions present in a frame
  (the reference's per-day file rewrite, compaction.py:219-225) by
  writing a sibling ``<table>__staging`` table and renaming each staged
  leaf over the live one (the reference's backup-table copy,
  reset_format_state.py). The staging write never targets the files the
  frame reads, so no read-before-overwrite pin is needed.
- ``replace_dir``: replace a whole multi-file artifact (tokenizer
  output, PQ layer) by building ``<out>.staging`` and swapping it in
  with two renames, parking the committed copy at ``<out>.old``.

``sweep_litter`` removes what a crash leaves behind and restores a
partition stranded between the two swap renames.

The lake is SINGLE-WRITER: the staging and backup names are fixed per
table, and every DAG runs with max_active_runs=1. Two concurrent
rewrites of one table would delete each other's in-flight staging.

Cache-layer naming:

- ``cache_root(name)``: per-layer namespace. $SPARK_GRAFT_LAKE_DIR, when
  set, is a SHARED root — each layer gets its own subdirectory under it
  (two layers whose independent VERSION counters collide must never
  serve each other's files).
- ``keyed_dir``: cache key = (layer VERSION, sf-dir basename, hash of
  the RESOLVED path, hash of the BUILD FORMULA SOURCE). The formula tag
  means an edit to any function the build depends on invalidates the
  cache automatically — no reliance on remembering a manual VERSION
  bump in a different module than the edited formula.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import time
from pathlib import Path
from typing import Callable, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

STAGING_SUFFIX = "__staging"
# dot-prefixed => invisible to Spark's file listing if left behind
SWAP_PREFIX = ".swap-"


def cache_root(name: str) -> Path:
    env = os.environ.get("SPARK_GRAFT_LAKE_DIR")
    if env:
        return Path(env) / name
    return Path(__file__).resolve().parents[2] / "spark-warehouse" / name


def formula_tag(*funcs: Callable) -> str:
    """md5 over the source of every formula the build depends on."""
    blob = "\n".join(inspect.getsource(f) for f in funcs)
    return hashlib.md5(blob.encode()).hexdigest()[:8]


def keyed_dir(name: str, version: int, sf_dir: str, tag: str) -> Path:
    p = Path(sf_dir)
    path_tag = hashlib.md5(str(p.resolve()).encode()).hexdigest()[:8]
    return cache_root(name) / f"v{version}-{p.name or 'sf'}-{path_tag}-{tag}"


def ensure_lake(out: Path, build_fn: Callable[[Path], None]) -> Path:
    """Build into ``out`` exactly once via temp dir + rename; repair a
    sentinel-less leftover instead of failing forever."""
    if (out / "_SUCCESS").exists():
        return out
    tmp = out.parent / f".tmp-{os.getpid()}-{int(time.time() * 1000)}"
    tmp.parent.mkdir(parents=True, exist_ok=True)
    try:
        build_fn(tmp)
        (tmp / "_SUCCESS").touch()
        try:
            tmp.rename(out)
        except OSError:
            if not (out / "_SUCCESS").exists():
                # out exists but is junk (interrupted cleanup left a
                # sentinel-less dir): clear it and retry the commit once
                shutil.rmtree(out, ignore_errors=True)
                try:
                    tmp.rename(out)
                except OSError:
                    if not (out / "_SUCCESS").exists():
                        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _leaf_partition_dirs(root: str, depth: int) -> list[str]:
    """Relative paths of the ``col=value`` leaf partition directories
    exactly ``depth`` levels below ``root``."""
    out: list[str] = []

    def walk(cur: str, rel: str, level: int) -> None:
        for entry in os.scandir(cur):
            if not entry.is_dir() or "=" not in entry.name:
                continue
            sub = os.path.join(rel, entry.name) if rel else entry.name
            if level + 1 == depth:
                out.append(sub)
            else:
                walk(entry.path, sub, level + 1)

    walk(root, "", 0)
    return out


def replace_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Durable per-partition replace: write ``df`` to a sibling staging
    table first, then swap each staged leaf partition directory into the
    live table with renames. Leaves absent from ``df`` are untouched;
    the table is created if it does not exist yet.

    The live files are never the write target while they are also the
    read source, so a crash mid-write leaves every live partition either
    fully old or fully new: before the first rename nothing changed;
    between renames a partition briefly lives at ``.swap-<name>``
    (restored or superseded by ``sweep_litter``). ``df`` may lazily read
    the live table; only a frame used again AFTER this call must be
    pinned, because its source files are then gone.

    File layout is the caller's: shape ``df`` (e.g. a rebalance hint on
    the partition columns) before handing it over.
    """
    staging = path + STAGING_SUFFIX
    shutil.rmtree(staging, ignore_errors=True)
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(staging)
    for rel in _leaf_partition_dirs(staging, len(partition_cols)):
        live = os.path.join(path, rel)
        parent = os.path.dirname(live)
        os.makedirs(parent, exist_ok=True)
        bak = os.path.join(parent, SWAP_PREFIX + os.path.basename(live))
        shutil.rmtree(bak, ignore_errors=True)
        if os.path.exists(live):
            os.rename(live, bak)
        os.rename(os.path.join(staging, rel), live)
        shutil.rmtree(bak, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def restore_dir(out: str, marker_rel: str) -> None:
    """Heal a crash between ``replace_dir``'s two renames: ``out`` was
    parked at ``<out>.old`` but staging never renamed in, so nothing is
    serving while ``.old`` holds the last committed snapshot. Restore it
    before anything treats ``.old`` as deletable residue."""
    old = out + ".old"
    if not os.path.exists(os.path.join(out, marker_rel)) and os.path.exists(
        os.path.join(old, marker_rel)
    ):
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.rename(old, out)


def replace_dir(out: str, build_fn: Callable[[str], T], marker_rel: str) -> T:
    """Replace the directory artifact ``out`` with whatever
    ``build_fn(staging_dir)`` writes, and return its result.
    ``marker_rel`` (relative to ``out``) is the artifact's commit marker:
    a directory without it is not committed.

    The build runs in ``<out>.staging``; the committed artifact keeps
    serving until the build is complete, a crash mid-build leaves it
    untouched, and only then is it parked at ``<out>.old`` while staging
    renames in. A crash between those two renames is healed by
    ``restore_dir`` at the start of the next run."""
    staging, old = out + ".staging", out + ".old"
    restore_dir(out, marker_rel)
    # stale residue from a crashed earlier build or swap
    for residue in (staging, old):
        shutil.rmtree(residue, ignore_errors=True)
    os.makedirs(staging)
    result = build_fn(staging)
    if os.path.isdir(out):
        if os.path.exists(os.path.join(out, marker_rel)):
            os.rename(out, old)
        else:
            shutil.rmtree(out)
    os.rename(staging, out)
    shutil.rmtree(old, ignore_errors=True)
    return result


def sweep_litter(root: str, max_age_s: float) -> tuple[list[str], list[str]]:
    """Walk ``root`` and clear what interrupted writes leave behind:
    ``_temporary`` dirs of a crashed Spark write, ``__staging`` tables of
    an interrupted ``replace_partitions``, and ``.swap-*`` backups —
    RESTORED when the live partition vanished (the crash window between
    the two renames), else deleted. Only litter older than ``max_age_s``
    is touched. Returns (removed, restored) paths relative to ``root``."""
    removed: list[str] = []
    restored: list[str] = []
    now = time.time()

    def old_enough(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= max_age_s
        except OSError:
            return False

    for dirpath, dirs, _files in os.walk(root, topdown=True):
        for d in list(dirs):
            full = os.path.join(dirpath, d)
            if d == "_temporary" or d.endswith(STAGING_SUFFIX):
                if old_enough(full):
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(os.path.relpath(full, root))
                    dirs.remove(d)
            elif d.startswith(SWAP_PREFIX):
                if not old_enough(full):
                    continue
                live = os.path.join(dirpath, d[len(SWAP_PREFIX):])
                if os.path.exists(live):
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(os.path.relpath(full, root))
                else:
                    os.rename(full, live)
                    restored.append(os.path.relpath(live, root))
                dirs.remove(d)
    return removed, restored
