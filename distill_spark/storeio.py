"""Atomic parquet-directory I/O shared by the stateful stores
(MemoryStore, SessionStore, streaming DedupeState) + guarded driver
collects.

Three write primitives over a plain-filesystem parquet directory — on a
cluster each maps 1:1 onto an Iceberg operation (the Iceberg jars are
not bundled):

  publish_dir        full overwrite        -> CREATE OR REPLACE
  append_dir         file move-in append   -> transactional APPEND
  replace_partitions rewrite ONLY the touched `col=value` subdirs
                                           -> MERGE INTO / dynamic
                                              partition overwrite

Crash safety: publish_dir stages to `p._tmpXXXX`, swaps the live dir to
`p._old`, renames tmp into place, then removes `._old`. A crash between
the two renames leaves the data in `p._old`; `recover_dir` (called at
the start of every primitive and safe to call from readers) restores it
and clears stale staging dirs, so a prior crash can neither lose the
store nor wedge the next publish (os.replace onto a non-empty dir
raises ENOTEMPTY otherwise).

replace_partitions is atomic per partition dir (crash mid-loop leaves a
prefix of partitions updated — Iceberg gives multi-partition atomicity
on clusters); its per-partition trash dirs start with '.' so a
half-finished swap is invisible to Spark's file index and healed on the
next recover_dir.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame


def _tmp_name(p: str, tag: str) -> str:
    return p + f"._{tag}" + uuid.uuid4().hex[:6]


def recover_dir(p: str) -> None:
    """Heal the directory after a crash mid-publish / mid-replace."""
    old = p + "._old"
    if not os.path.exists(p) and os.path.exists(old):
        os.replace(old, p)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)
    # stale staging dirs from crashed publishes: p._tmpXXXX / p._appXXXX / p._rpXXXX
    parent, base = os.path.split(os.path.normpath(p))
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name.startswith(base + "._") and name != base + "._old":
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    # half-swapped partition dirs from replace_partitions: the trash dir
    # is `._old-<sub>-<hex>`; if its live partner is missing, restore it
    if os.path.isdir(p):
        for name in os.listdir(p):
            if name.startswith("._old-"):
                sub = name[len("._old-"):].rsplit("-", 1)[0]
                live = os.path.join(p, sub)
                if not os.path.exists(live):
                    os.replace(os.path.join(p, name), live)
                else:
                    shutil.rmtree(os.path.join(p, name), ignore_errors=True)


def has_data(p: str) -> bool:
    """True iff the directory holds at least one parquet data file."""
    if not os.path.isdir(p):
        return False
    for root, dirs, files in os.walk(p):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def publish_dir(df: DataFrame, p: str, partition_by: str | None = None) -> None:
    """Atomic full overwrite of directory `p` with df's rows."""
    recover_dir(p)
    tmp = _tmp_name(p, "tmp")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(tmp)
    if os.path.exists(p):
        old = p + "._old"
        os.replace(p, old)
        os.replace(tmp, p)
        shutil.rmtree(old)
    else:
        os.replace(tmp, p)


def _move_files(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        sp = os.path.join(src, name)
        if os.path.isdir(sp):
            _move_files(sp, os.path.join(dst, name))
        elif name.endswith(".parquet"):
            os.replace(sp, os.path.join(dst, f"app-{uuid.uuid4().hex[:8]}-{name}"))


def append_dir(df: DataFrame, p: str, partition_by: str | None = None) -> None:
    """Append-only write: stage, then MOVE the data files in (whole
    files only — a crash mid-move leaves complete files, never partial
    ones). With partition_by, files land in their `col=value` subdirs."""
    recover_dir(p)
    if not os.path.exists(p):
        publish_dir(df, p, partition_by)
        return
    tmp = _tmp_name(p, "app")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(tmp)
    _move_files(tmp, p)
    shutil.rmtree(tmp)


def replace_partitions(
    df: DataFrame, p: str, partition_by: str, values: list
) -> None:
    """Rewrite ONLY the `partition_by=value` subdirs in `values` with
    df's content (df must hold exactly the new rows of those partitions,
    including the partition column). Untouched partition dirs are not
    read, written, or stat'd. A partition whose new content is empty is
    deleted."""
    recover_dir(p)
    if not os.path.exists(p):
        publish_dir(df, p, partition_by)
        return
    tmp = _tmp_name(p, "rp")
    df.write.mode("overwrite").partitionBy(partition_by).parquet(tmp)
    for v in values:
        sub = f"{partition_by}={v}"
        src = os.path.join(tmp, sub)
        live = os.path.join(p, sub)
        trash = os.path.join(p, f"._old-{sub}-{uuid.uuid4().hex[:6]}")
        if os.path.exists(live):
            os.replace(live, trash)
        if os.path.exists(src):
            os.replace(src, live)
        shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp)


def guarded_collect(df: DataFrame, max_rows: int, what: str) -> list:
    """Collect with a loud failure instead of a silent driver OOM
    (pattern from operators/rerank.py): fetch max_rows+1 and raise if
    the limit is hit. For output-bound edge lists that are small in any
    sane input but unbounded in theory."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{what} produced more than {max_rows} rows for a driver-side "
            "collect; this edge list is expected to be output-bound and "
            "small — raise the guard only if the batch genuinely contains "
            "that many duplicate edges"
        )
    return rows
