"""Versioned-manifest parquet table: snapshot isolation on a plain
filesystem — the offline stand-in for the Iceberg/Delta layer SURVEY
§1.1 promises under the stateful stores. It is the one table layer
under MemoryStore, SessionStore and CheckpointStore (`open_table`).

Reference analog: the SQLite schema/migration layer the reference keeps
under its memory store (/root/reference/pkg/memory/sqlite.go:67-114) —
one writer, many readers, reads never observe a half-applied mutation.

Layout (all under one table root):

    data/bucket=3/f-<uuid>.parquet     immutable data files
    _v/00000001.json … 0000000N.json   manifests: the file list (+ the
                                       partition value per file) that IS
                                       version N
    _v/LATEST                          pointer to the live version
                                       (atomic os.replace)

Semantics:

  * COPY-ON-WRITE. Mutations write NEW files, then a NEW manifest, then
    swap LATEST. Existing files are never modified or deleted by a
    writer — a reader that pinned version N keeps a consistent view
    *through* concurrent publishes/appends/partition-rewrites until
    vacuum() drops version N. The stores auto-vacuum after each commit
    with `vacuum_keep` (8 by default), so a pinned reader's lazy frame
    survives the next `vacuum_keep - 1` commits, not indefinitely; after
    that its action fails (file gone) instead of returning other rows.
    Collect or checkpoint it before more commits land.
  * ATOMIC per operation. A crash before the LATEST swap leaves the
    table at the previous version; orphaned data files are invisible
    (readers only see manifest-listed files) and reaped by vacuum().
  * TIME TRAVEL. read(version=N) reads any retained manifest.
  * vacuum(keep) drops manifests older than the last `keep` versions
    and any data file no retained manifest references.
  * NO LISTING JOB. A read hands Spark the manifest's file list and
    plans it with in-process file status calls; Spark's parallel
    listing job (above 32 paths) would only re-discover files the
    manifest already names.

Single-writer by contract (like the stores it backs); version_check on
commit makes a lost-update race loud instead of silent.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

log = logging.getLogger("distill_spark")

_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_listing_lock = threading.Lock()


class ConcurrentWriteError(RuntimeError):
    """LATEST moved between read-for-commit and commit (two writers)."""


def _nullable(schema: StructType) -> StructType:
    """All-nullable copy: a file committed before a column existed reads
    that column as null, so the recorded table schema must not promise
    non-null."""
    return StructType([
        StructField(f.name, f.dataType, True, f.metadata) for f in schema
    ])


def _merge_schemas(old: StructType | None, new: StructType) -> StructType | None:
    """Union by name; None on a type conflict (read then falls back to
    per-file footer merging, the pre-schema behavior)."""
    new = _nullable(new)
    if old is None:
        return new
    by_name = {f.name: f for f in old}
    out = list(old)
    for f in new:
        prev = by_name.get(f.name)
        if prev is None:
            out.append(f)
        elif prev.dataType != f.dataType:
            return None
    return StructType(out)


def _read_files(spark: SparkSession, reader, paths: list[str]) -> DataFrame:
    """reader.parquet(*paths) with Spark's file listing kept in this
    process: the paths are data files named by a manifest (or found by a
    walk), so a parallel-listing job would only stat them again. The
    threshold is raised for the plan construction alone; the lock keeps
    concurrent reads from restoring each other's value."""
    with _listing_lock:
        prev = spark.conf.get(_LISTING_THRESHOLD)
        spark.conf.set(_LISTING_THRESHOLD, str(max(len(paths), int(prev))))
        try:
            return reader.parquet(*paths)
        finally:
            spark.conf.set(_LISTING_THRESHOLD, prev)


def _file_stats(path: str, column: str) -> dict:
    """Per-file stats from the parquet footer (no Spark job, no data
    read): row count always; min/max of `column` when every row group
    carries stats for it. Strings/ints/floats only — anything else
    (or a stats-less row group) records min/max as None, which merge()
    treats as "could match anything"."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict = {"rows": md.num_rows}
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    ci = idx.get(column)
    lo = hi = None
    if ci is not None:
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    lo = hi = None
                    break
            if not isinstance(mn, (int, float, str)):
                lo = hi = None
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
    out["min"], out["max"] = lo, hi
    return out


class VersionedTable:
    def __init__(self, spark: SparkSession, path: str,
                 partition_by: str | None = None,
                 stats_col: str | None = None):
        """stats_col: column whose per-file min/max is recorded in the
        manifest at commit time (Iceberg-style file stats) — merge()
        uses it to rewrite only files whose key range overlaps the
        source, and it costs one footer read per new file, no data
        pass. Typically the store's id/key column."""
        self.spark, self.path = spark, path
        self.partition_by = partition_by
        self.stats_col = stats_col
        os.makedirs(self._vdir(), exist_ok=True)
        os.makedirs(self._ddir(), exist_ok=True)

    # ------------------------------------------------------------ layout
    def _vdir(self) -> str:
        return os.path.join(self.path, "_v")

    def _ddir(self) -> str:
        return os.path.join(self.path, "data")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._vdir(), f"{version:08d}.json")

    def current_version(self) -> int:
        """0 = empty table (no committed manifest)."""
        p = os.path.join(self._vdir(), "LATEST")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {"version": 0, "files": {}}
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    # ------------------------------------------------------------- read
    def files(self, version: int | None = None) -> dict[str, dict]:
        """{relpath: {partition value info}} of a version's data files."""
        v = self.current_version() if version is None else version
        return self._manifest(v)["files"]

    def _reader_for(self, man: dict):
        man_schema = man.get("schema")
        if man_schema is not None:
            # the manifest carries the committed table schema: read with
            # it directly — no per-file footer reads (mergeSchema opens
            # EVERY file's footer driver-side before planning, which at
            # 10^5+ files dominates the read; see round-4 verdict)
            reader = self.spark.read.schema(
                StructType.fromJson(json.loads(man_schema)))
        else:
            # pre-schema manifest (older table) or a type-conflicting
            # append: merge footers
            reader = self.spark.read.option("mergeSchema", "true")
        if self.partition_by:
            reader = reader.option("basePath", self._ddir())
        return reader

    def _scan(self, man: dict, rels) -> DataFrame:
        """DataFrame over exactly the data files `rels` of manifest `man`."""
        paths = [os.path.join(self._ddir(), rel) for rel in sorted(rels)]
        return _read_files(self.spark, self._reader_for(man), paths)

    def read(self, schema: str | None = None,
             version: int | None = None) -> DataFrame:
        """DataFrame over the PINNED file list of `version` (default:
        current). The plan holds explicit file paths — later commits or
        vacuums of *newer* versions cannot change what it reads."""
        v = self.current_version() if version is None else version
        man = self._manifest(v)
        files = man["files"]
        if not files:
            man_schema = man.get("schema")
            if man_schema is not None:
                # a committed-but-empty version knows its own schema
                return self.spark.createDataFrame(
                    [], StructType.fromJson(json.loads(man_schema)))
            if schema is None:
                raise ValueError("empty table and no schema given")
            return self.spark.createDataFrame([], schema)
        return self._scan(man, files)

    def row_count(self, version: int | None = None) -> int | None:
        """Exact row count from manifest stats alone (no file reads) —
        None if any file predates stats recording."""
        v = self.current_version() if version is None else version
        total = 0
        for info in self._manifest(v)["files"].values():
            st = info.get("stats")
            if st is None:
                return None
            total += st["rows"]
        return total

    # ------------------------------------------------------------ write
    def _stage_files(self, df: DataFrame) -> dict[str, dict]:
        """Write df's rows as new immutable files under data/; returns
        the manifest entries {relpath: {"part": value-or-None}}."""
        tmp = os.path.join(self.path, "_stage_" + uuid.uuid4().hex[:8])
        try:
            w = df.write.mode("overwrite")
            if self.partition_by:
                w = w.partitionBy(self.partition_by)
            w.parquet(tmp)
            entries: dict[str, dict] = {}
            for root, dirs, names in os.walk(tmp):
                dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
                for name in names:
                    if not name.endswith(".parquet"):
                        continue
                    # Spark emits zero-row part files for empty input
                    # partitions; committing them bloats the manifest
                    # and the read's file list for nothing
                    import pyarrow.parquet as pq
                    if pq.ParquetFile(
                            os.path.join(root, name)).metadata.num_rows == 0:
                        continue
                    rel_dir = os.path.relpath(root, tmp)
                    part = None
                    if rel_dir != "." and "=" in rel_dir:
                        part = rel_dir.split("=", 1)[1]
                    new_name = f"f-{uuid.uuid4().hex[:12]}.parquet"
                    dst_dir = (
                        self._ddir() if rel_dir == "."
                        else os.path.join(self._ddir(), rel_dir)
                    )
                    os.makedirs(dst_dir, exist_ok=True)
                    os.replace(os.path.join(root, name),
                               os.path.join(dst_dir, new_name))
                    rel = (new_name if rel_dir == "."
                           else os.path.join(rel_dir, new_name))
                    entry: dict = {"part": part}
                    if self.stats_col:
                        entry["stats"] = _file_stats(
                            os.path.join(dst_dir, new_name), self.stats_col)
                    entries[rel] = entry
            return entries
        finally:
            # a failed write would otherwise leave the _stage_* dir under
            # the table root forever (vacuum only walks data/); files
            # already moved into data/ are orphans a failed commit leaves
            # unreferenced, which vacuum() reaps
            shutil.rmtree(tmp, ignore_errors=True)

    def _commit(self, files: dict[str, dict], expected_version: int,
                schema: StructType | None = None) -> int:
        if self.current_version() != expected_version:
            raise ConcurrentWriteError(
                f"table {self.path} moved past v{expected_version} during "
                "this write (second writer?)"
            )
        new_v = expected_version + 1
        man = {"version": new_v, "files": files,
               "schema": schema.json() if schema is not None else None}
        mp = self._manifest_path(new_v)
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, mp)
        lp = os.path.join(self._vdir(), "LATEST")
        ltmp = lp + f".tmp{uuid.uuid4().hex[:6]}"
        with open(ltmp, "w") as f:
            f.write(str(new_v))
        os.replace(ltmp, lp)
        return new_v

    def _current_schema(self, version: int) -> StructType | None:
        s = self._manifest(version).get("schema")
        return None if s is None else StructType.fromJson(json.loads(s))

    def _next_schema(self, version: int, df: DataFrame) -> StructType | None:
        """Schema to record for a version that keeps `version`'s files and
        adds df's. A pre-schema manifest with files (older table layout)
        stays schema-less — its files' true columns are unknown without
        footer reads, so recording df.schema alone could hide columns."""
        old = self._current_schema(version)
        if old is None and self._manifest(version)["files"]:
            return None
        return _merge_schemas(old, df.schema)

    def publish(self, df: DataFrame) -> int:
        """Full overwrite (CREATE OR REPLACE): next version = df only."""
        v = self.current_version()
        return self._commit(self._stage_files(df), v,
                            schema=_nullable(df.schema))

    def append(self, df: DataFrame) -> int:
        """Transactional append: next version = current files + df's. An
        append that stages no rows commits nothing (returns the current
        version)."""
        v = self.current_version()
        staged = self._stage_files(df)
        if not staged:
            return v
        files = dict(self._manifest(v)["files"])
        files.update(staged)
        return self._commit(files, v, schema=self._next_schema(v, df))

    def merge(self, df: DataFrame, key: str) -> int:
        """MERGE df INTO table ON table.key = df.key — WHEN MATCHED
        UPDATE SET * / WHEN NOT MATCHED INSERT * (whole-row upsert, the
        batched-upsert sink's contract; reference analog: the INSERT OR
        REPLACE write path /root/reference/pkg/memory/sqlite.go).

        Copy-on-write at file granularity: only files whose manifest
        [min, max] range of `stats_col` overlaps the source's key range
        are rewritten (anti-join out matched keys, union the source);
        disjoint files carry over into the new manifest untouched. With
        stats_col != key (or stats-less legacy files) every file is a
        candidate — correct, just unpruned. df must carry the partition
        column when the table is partitioned. An empty df is a no-op
        (returns the current version, no commit). Duplicate keys in df
        are NOT collapsed (all land in the new version) — callers
        wanting SQL MERGE's one-match-per-key contract must dedup the
        source first, as the stores' batch paths already do."""
        from pyspark.sql import functions as F

        v = self.current_version()
        man = self._manifest(v)
        files = dict(man["files"])
        if not files:
            if df.isEmpty():
                return v
            return self._commit(self._stage_files(df), v,
                                schema=_nullable(df.schema))
        bounds = df.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        if bounds["lo"] is None:
            return v
        lo, hi = bounds["lo"], bounds["hi"]
        candidates = set()
        for rel, info in files.items():
            st = info.get("stats")
            try:
                if (self.stats_col == key and st is not None
                        and st.get("min") is not None
                        and (st["max"] < lo or st["min"] > hi)):
                    continue
            except TypeError:
                # stats type ≠ key type (schema drift): can't prune
                pass
            candidates.add(rel)
        if candidates:
            existing = self._scan(man, candidates)
            kept = existing.join(df.select(key).distinct(), on=key,
                                 how="left_anti")
            new_rows = kept.unionByName(df, allowMissingColumns=True)
        else:
            new_rows = df
        out = {rel: info for rel, info in files.items()
               if rel not in candidates}
        out.update(self._stage_files(new_rows))
        return self._commit(out, v, schema=self._next_schema(v, df))

    def replace_partitions(self, df: DataFrame, values: list) -> int:
        """MERGE-shaped rewrite: next version drops every file whose
        partition value is in `values` and adds df's files (df must hold
        exactly the new content of those partitions). Old files remain
        on disk for older versions' readers until vacuum()."""
        if not self.partition_by:
            raise ValueError("replace_partitions needs partition_by")
        v = self.current_version()
        drop = {str(x) for x in values}
        files = {
            rel: info
            for rel, info in self._manifest(v)["files"].items()
            if str(info.get("part")) not in drop
        }
        files.update(self._stage_files(df))
        return self._commit(files, v, schema=self._next_schema(v, df))

    # ---------------------------------------------------------- maintain
    def vacuum(self, keep: int = 2) -> list[str]:
        """Drop manifests older than the newest `keep` and delete data
        files referenced by NO retained manifest. Returns deleted paths.
        Readers pinned to vacuumed versions will fail loudly (file gone)
        — the same contract as Iceberg's expire_snapshots."""
        cur = self.current_version()
        keep_versions = set(range(max(1, cur - keep + 1), cur + 1))
        retained: set[str] = set()
        for v in keep_versions:
            retained.update(self._manifest(v)["files"])
        deleted: list[str] = []
        # old manifests
        for name in os.listdir(self._vdir()):
            if name.endswith(".json"):
                v = int(name.split(".")[0])
                if v not in keep_versions:
                    os.remove(os.path.join(self._vdir(), name))
        # stage dirs from writers that crashed between write and cleanup
        for name in os.listdir(self.path):
            if name.startswith("_stage_"):
                shutil.rmtree(os.path.join(self.path, name),
                              ignore_errors=True)
                deleted.append(name)
        # unreferenced data files (includes orphans from crashed commits)
        for root, dirs, names in os.walk(self._ddir()):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, name), self._ddir())
                if rel not in retained:
                    os.remove(os.path.join(root, name))
                    deleted.append(rel)
        return deleted


def foreign_parquet_files(root: str) -> list[str]:
    """Parquet files under `root` that are NOT part of a VersionedTable
    layout (whose own files live under data/, manifests under _v/) —
    i.e. rows a pre-existing dir-layout store left behind. open_table
    migrates these, never silently hides them (the manifest lists no
    files ⇒ the store looks empty)."""
    found: list[str] = []
    if not os.path.isdir(root):
        return found
    for cur, dirs, files in os.walk(root):
        if cur == os.path.normpath(root):
            dirs[:] = [d for d in dirs
                       if d != "data" and not d.startswith((".", "_"))]
        else:
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        found.extend(os.path.join(cur, f) for f in files
                     if f.endswith(".parquet"))
    return found


def open_table(spark: SparkSession, path: str,
               partition_by: str | None = None,
               stats_col: str | None = None,
               legacy_rows=None) -> VersionedTable:
    """The VersionedTable at `path`, adopting as version 1 any parquet a
    pre-existing dir-layout store left there (foreign_parquet_files):
    opening such a path must never silently show an empty table.

    The legacy files are read with mergeSchema (files written before a
    column existed sit beside newer ones) and basePath=`path`, so
    `col=value` directory values (e.g. bucket=N) survive as a column.
    `legacy_rows(df) -> df`, when given, brings those rows to the
    current schema before the publish; it runs on this path only. The
    legacy files and their directories are removed after the commit, so
    a second open does not re-migrate. A path holding both a manifest
    and foreign files (a half-done migration) is refused loudly."""
    legacy = foreign_parquet_files(path)
    table = VersionedTable(spark, path, partition_by=partition_by,
                           stats_col=stats_col)
    if not legacy:
        return table
    if table.current_version() != 0:
        raise RuntimeError(
            f"table at {path} has BOTH a versioned manifest and "
            f"{len(legacy)} non-versioned parquet files (e.g. {legacy[0]}); "
            "resolve manually"
        )
    reader = spark.read.option("mergeSchema", "true").option("basePath", path)
    rows = _read_files(spark, reader, legacy)
    if legacy_rows is not None:
        rows = legacy_rows(rows)
    table.publish(rows)
    tops = set()
    for f in legacy:
        os.remove(f)
        top = os.path.relpath(f, path).split(os.sep)[0]
        if top != os.path.basename(f):
            tops.add(top)
    for top in tops:  # the now-empty legacy partition dirs
        shutil.rmtree(os.path.join(path, top), ignore_errors=True)
    return table


def auto_vacuum(table: VersionedTable, keep: int | None) -> None:
    """The stores' post-commit maintenance: vacuum(keep) unless keep is
    None/0. A failure is logged on `distill_spark`, never raised — the
    mutation it follows has already committed."""
    if not keep:
        return
    try:
        table.vacuum(keep=keep)
    except Exception:
        log.warning("vacuum of table %r failed", table.path, exc_info=True)
