"""Stage checkpointing + resume ledger.

North rule: "every stage checkpoints ... with per-partition lineage +
row-count/collision metrics so the job resumes mid-pipeline".

Reference analogs (file:line into /root/reference):
  batch job status machine (queued/processing/completed/failed)
      pkg/batch/batch.go:28-40,84-258
  ingest stats (total/uploaded/failed/batches, throughput)
      pkg/ingest/pipeline.go:48-72,357-372
  frozen cache prefix skipping stable work
      pkg/cache/prefix.go:40-69

Storage: one versioned table per stage (tableio.VersionedTable, the
offline stand-in for an Iceberg table; a re-run publishes a new
snapshot, so a reader's plan over a stage survives it) + an
atomically-replaced JSONL ledger. On a cluster with Iceberg jars this
maps 1:1 onto Iceberg tables (`df.writeTo(table).createOrReplace()` + a
status table; snapshot ids become the lineage fingerprint). A stage
directory written by the older dir-overwrite layout is migrated as
version 1 on first touch (tableio.open_table), so its resume stays a
cache hit. `vacuum_keep` auto-vacuums each stage after its publish: a
stage frame handed out survives `vacuum_keep - 1` further publishes of
that stage; after that its action fails (file gone) rather than
returning other rows.

Ledger row per completed stage:
  {stage, status, rows, n_partitions, partition_rows (lineage),
   input_fingerprint, wall_sec, finished_at}

Resume contract: a stage is skipped iff its ledger row exists with
status=complete AND the recorded input_fingerprint matches the
current one. Fingerprints chain: stage N's fingerprint folds in the
fingerprints of its declared dependencies, so invalidating an early
stage invalidates everything downstream.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .operators.pipeline import CHANNELS, DedupResult, Stage, run_dedup_graph
from .tableio import auto_vacuum, open_table

log = logging.getLogger("distill_spark")


def _fingerprint(*parts: str) -> str:
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()[:16]


def input_signature(df: DataFrame) -> str:
    """Identity of a DataFrame's INPUT DATA, so a resumed pipeline run
    against different input invalidates the whole stage chain (resume
    contract: 'skipped iff input_fingerprint matches the current one').

    Folds the logical-plan semantic hash (covers source paths, filters,
    projections, and literal data of in-memory relations) with the
    source files' size+mtime (covers re-written files at the same path).
    No jobs are launched."""
    parts: list[str] = []
    try:
        parts.append(str(df.semanticHash()))
    except Exception:
        log.warning("input_signature: semanticHash() failed; the checkpoint "
                    "input fingerprint covers only the source files",
                    exc_info=True)
    try:
        files = sorted(df.inputFiles())
    except Exception:
        log.warning("input_signature: inputFiles() failed; the checkpoint "
                    "input fingerprint covers only the plan hash",
                    exc_info=True)
        files = []
    parts.append(f"nfiles={len(files)}")
    for f in files[:1000]:
        p = f[len("file:"):] if f.startswith("file:") else f
        try:
            st = os.stat(p)
            parts.append(f"{f}:{st.st_size}:{int(st.st_mtime)}")
        except OSError:
            parts.append(f)
    return _fingerprint(*parts) if parts else "unknown-input"


@dataclass
class CheckpointStore:
    base_path: str
    spark: SparkSession
    ledger: dict[str, dict] = field(default_factory=dict)
    hits: list[str] = field(default_factory=list)     # stages loaded from disk
    computed: list[str] = field(default_factory=list) # stages computed this run
    vacuum_keep: int | None = 8  # auto-vacuum each stage after publish,
                           # retaining the newest N versions (copy-on-write
                           # snapshots otherwise accumulate per re-run;
                           # round-5 advice #2)

    def __post_init__(self) -> None:
        os.makedirs(self.base_path, exist_ok=True)
        path = self._ledger_path()
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    row = json.loads(line)
                    self.ledger[row["stage"]] = row

    def _ledger_path(self) -> str:
        return os.path.join(self.base_path, "_ledger.jsonl")

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.base_path, stage)

    def _flush_ledger(self) -> None:
        tmp = self._ledger_path() + ".tmp"
        with open(tmp, "w") as f:
            for row in self.ledger.values():
                f.write(json.dumps(row) + "\n")
        os.replace(tmp, self._ledger_path())  # atomic

    def stage_fingerprint(self, stage: str, config_sig: str, deps: list[str]) -> str:
        dep_fps = [self.ledger.get(d, {}).get("input_fingerprint", "?") for d in deps]
        return _fingerprint(stage, config_sig, *dep_fps)

    def run_stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        config_sig: str = "",
        deps: list[str] | None = None,
        extra_metrics: Callable[[DataFrame], dict] | None = None,
    ) -> DataFrame:
        """Compute-or-load a stage. fn() must return a DataFrame."""
        deps = deps or []
        fp = self.stage_fingerprint(stage, config_sig, deps)
        table = open_table(self.spark, self._stage_path(stage))
        row = self.ledger.get(stage)
        if (
            row is not None
            and row.get("status") == "complete"
            and row.get("input_fingerprint") == fp
            and table.current_version() > 0
        ):
            self.hits.append(stage)
            return table.read()

        t0 = time.time()
        table.publish(fn())
        auto_vacuum(table, self.vacuum_keep)
        out = table.read()
        # per-partition lineage: row count per output file/partition
        part_rows = [
            [r["p"], r["n"]]
            for r in out.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        rows = sum(n for _, n in part_rows)
        entry = {
            "stage": stage,
            "status": "complete",
            "rows": rows,
            "n_partitions": len(part_rows),
            "partition_rows": sorted(part_rows),
            "input_fingerprint": fp,
            "wall_sec": round(time.time() - t0, 3),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if extra_metrics is not None:
            entry["metrics"] = extra_metrics(out)
        self.ledger[stage] = entry
        self._flush_ledger()
        self.computed.append(stage)
        return out


def dedupe_checkpointed(
    images: DataFrame,
    store: CheckpointStore,
    cfg=None,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str | None = "phash",
    channels: tuple[str, ...] = CHANNELS,
    data_sig: str | None = None,
) -> DedupResult:
    """Staged, resumable dedupe: the same stage graph as `dedupe()`
    (operators.pipeline.dedup_stages), each stage computed or loaded
    through `store.run_stage`, so a run resumes after its last completed
    stage. Stage parquet holds the ids the channels run on (int64 hashes
    of string ids); assignments and representatives hold original ids.

    A stage's fingerprint folds in those of the stages it reads, so
    invalidating an early stage invalidates everything downstream. Root
    fingerprints fold in the INPUT DATA identity (data_sig, default
    derived by input_signature()), so re-running against a different
    `images` table invalidates the chain instead of silently returning
    stale stage output.
    """
    cfg = cfg or DedupConfig()
    csig = json.dumps(
        {k: v for k, v in cfg.__dict__.items() if not k.startswith("_")},
        sort_keys=True, default=str,
    ) + f"|channels={sorted(channels)}|data={data_sig or input_signature(images)}"

    def on_disk(stage: Stage, compute: Callable[[], DataFrame],
                eager: bool) -> tuple[DataFrame, int]:
        df = store.run_stage(stage.name, compute, config_sig=csig,
                             deps=list(stage.deps))
        return df, store.ledger[stage.name]["rows"]

    return run_dedup_graph(images, cfg, on_disk, id_col, caption_col,
                           phash_col, channels)
