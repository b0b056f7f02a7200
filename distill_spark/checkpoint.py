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

Backend: parquet directories + an atomically-replaced JSONL ledger.
On a cluster with Iceberg jars this maps 1:1 onto Iceberg tables
(`df.writeTo(table).createOrReplace()` + a status table; snapshot ids
become the lineage fingerprint) — the jars are not in this image, so
the Iceberg writer is gated behind an import-try (see IcebergBackend).

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
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
        pass
    try:
        files = sorted(df.inputFiles())
    except Exception:
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
    backend: str = "dirs"  # "versioned": each stage is a VersionedTable
                           # (snapshot-isolated — a reader's plan over a
                           # stage survives a concurrent re-run's publish;
                           # the dir-overwrite layout's readers race the
                           # os.replace). Legacy dir-layout stages are
                           # migrated as version 1 on first touch.
    vacuum_keep: int | None = 8  # versioned backend: auto-vacuum each
                           # stage after publish, retaining the newest N
                           # versions (copy-on-write snapshots otherwise
                           # accumulate per re-run; round-5 advice #2)

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

    def _stage_table(self, stage: str):
        """VersionedTable for a stage (backend="versioned"), migrating a
        pre-existing dir-layout stage's parquet as version 1 so resumes
        written by the old backend stay cache hits."""
        from .tableio import VersionedTable, foreign_parquet_files

        path = self._stage_path(stage)
        legacy = foreign_parquet_files(path)
        table = VersionedTable(self.spark, path)
        if legacy:
            if table.current_version() != 0:
                raise RuntimeError(
                    f"checkpoint stage at {path} has BOTH a versioned "
                    f"manifest and {len(legacy)} non-versioned parquet "
                    f"files (e.g. {legacy[0]}); resolve manually"
                )
            table.publish(self.spark.read.parquet(*legacy))
            for f in legacy:
                os.remove(f)
        return table

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
        path = self._stage_path(stage)
        table = self._stage_table(stage) if self.backend == "versioned" else None
        have_data = (
            table.current_version() > 0 if table is not None
            else os.path.exists(path)
        )
        row = self.ledger.get(stage)
        if (
            row is not None
            and row.get("status") == "complete"
            and row.get("input_fingerprint") == fp
            and have_data
        ):
            self.hits.append(stage)
            return (table.read() if table is not None
                    else self.spark.read.parquet(path))

        t0 = time.time()
        df = fn()
        if table is not None:
            table.publish(df)
            if self.vacuum_keep:
                try:
                    table.vacuum(keep=self.vacuum_keep)
                except Exception:  # maintenance must never fail the stage
                    log.warning("vacuum of checkpoint stage %r failed", stage,
                                exc_info=True)
            out = table.read()
        else:
            tmp = path + "._tmp"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            df.write.mode("overwrite").parquet(tmp)
            if os.path.exists(path):
                shutil.rmtree(path)
            os.replace(tmp, path)  # atomic publish: complete or absent
            out = self.spark.read.parquet(path)
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


class IcebergBackend:
    """Iceberg-backed variant (cluster deployments). The jars are not in
    this sandbox image, so construction fails soft with instructions."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        try:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
        except Exception as ex:  # pragma: no cover - no iceberg jars in image
            raise ImportError(
                "Iceberg catalog unavailable (add iceberg-spark-runtime jars "
                "and spark.sql.catalog.* config); use CheckpointStore "
                "(parquet) in this environment"
            ) from ex
        self.spark, self.catalog, self.namespace = spark, catalog, namespace

    def write(self, df: DataFrame, table: str) -> None:  # pragma: no cover
        df.writeTo(f"{self.catalog}.{self.namespace}.{table}").createOrReplace()


def dedupe_checkpointed(
    images: DataFrame,
    store: CheckpointStore,
    cfg=None,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str | None = "phash",
    channels: tuple[str, ...] = ("minhash", "simhash", "phash", "substring"),
    data_sig: str | None = None,
):
    """Staged, resumable dedupe: each stage checkpoints through `store`.

    Stage graph (deps drive fingerprint invalidation):
      input -> signatures -> jaccard_candidates -> jaccard_edges
      input -> phash_edges
      input -> lcs_edges
      {jaccard,phash,lcs}_edges -> edges -> assignments -> representatives

    Root fingerprints fold in the INPUT DATA identity (data_sig, default
    derived by input_signature()), so re-running against a different
    `images` table invalidates the chain instead of silently returning
    stale stage output.
    """
    from .config import DedupConfig
    from .operators.signatures import with_signatures
    from .operators.minhash import band_buckets
    from .operators.lsh import pairs_from_buckets, pairs_and_overflow
    from .operators.hamming import hamming_candidate_pairs
    from .operators.winnow import with_fingerprints, refine_oversized
    from .operators.verify import verify_jaccard, verify_lcs
    from .operators.components import connected_components
    from .operators.select import representatives as select_reps
    from .operators.select import cluster_stats

    cfg = cfg or DedupConfig()
    csig = json.dumps(
        {k: v for k, v in cfg.__dict__.items() if not k.startswith("_")},
        sort_keys=True, default=str,
    ) + f"|channels={sorted(channels)}|data={data_sig or input_signature(images)}"

    cols = [id_col, caption_col] + ([phash_col] if phash_col else [])
    meta = images.select(*cols)
    # per-level hamming refinement persists; released after the edge
    # stages are parquet-backed (round-5 advice #1)
    ham_caches: list = []

    sigs = store.run_stage(
        "signatures",
        lambda: with_signatures(meta, caption_col, id_col, cfg,
                                parts=("shingles", "minhash", "simhash")),
        config_sig=csig,
    )

    def jac_cand_fn():
        parts = []
        if "minhash" in channels:
            buckets = band_buckets(
                sigs.filter(F.col("minhash").isNotNull()).select(id_col, "minhash"),
                "minhash", id_col, cfg,
            )
            # dedup=False: the unioned stream is deduplicated once below
            parts.append(
                pairs_from_buckets(buckets, ["bucket"], id_col, cfg, dedup=False)
            )
        if "simhash" in channels:
            sh = sigs.filter(F.col("simhash").isNotNull()).select(id_col, "simhash")
            parts.append(hamming_candidate_pairs(
                sh, "simhash", cfg.simhash_hamming_k, id_col, cfg,
                cache_registry=ham_caches))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.dropDuplicates(["a", "b"])

    edge_parts = []
    if {"minhash", "simhash"} & set(channels):
        jac_cand = store.run_stage(
            "jaccard_candidates", jac_cand_fn, config_sig=csig, deps=["signatures"]
        )
        edge_parts.append(
            store.run_stage(
                "jaccard_edges",
                lambda: verify_jaccard(
                    jac_cand, sigs.select(id_col, "shingles"),
                    cfg.jaccard_threshold, "shingles", id_col,
                    # jac_cand is parquet-backed (run_stage), so the
                    # triple-consume semijoin contract holds here
                    semijoin=True,
                ),
                config_sig=csig,
                deps=["signatures", "jaccard_candidates"],
            )
        )
    if "phash" in channels and phash_col:
        ph = meta.select(id_col, phash_col)
        edge_parts.append(
            store.run_stage(
                "phash_edges",
                lambda: hamming_candidate_pairs(
                    ph, phash_col, cfg.phash_hamming_k, id_col, cfg,
                    cache_registry=ham_caches),
                config_sig=csig,
            )
        )
    if "substring" in channels:
        def lcs_fn():
            fp = with_fingerprints(meta.select(id_col, caption_col), caption_col,
                                   "fp", cfg)
            fpx = fp.select(id_col, F.explode("fp").alias("fingerprint"))
            small_cand, overflow = pairs_and_overflow(
                fpx, ["fingerprint"], id_col, cfg, cap=cfg.max_fp_bucket_size
            )
            refined = refine_oversized(
                overflow, meta.select(id_col, caption_col), cfg, id_col, caption_col
            )
            sub_cand = pairs_from_buckets(
                refined, ["fingerprint", "subfp"], id_col, cfg,
                cap=cfg.max_fp_bucket_size, oversize="star",
            )
            # sub_cand pairs share the literal L-char window string
            # (refine_oversized, round 6) — verified by construction,
            # so only the small-bucket candidates attach captions
            verified = verify_lcs(small_cand, meta.select(id_col, caption_col),
                                  cfg, caption_col, id_col)
            return verified.unionByName(sub_cand).dropDuplicates(["a", "b"])

        edge_parts.append(store.run_stage("lcs_edges", lcs_fn, config_sig=csig))

    edge_stage_names = [
        s for s, on in (
            ("jaccard_edges", bool({"minhash", "simhash"} & set(channels))),
            ("phash_edges", "phash" in channels and phash_col),
            ("lcs_edges", "substring" in channels),
        ) if on
    ]

    def edges_fn():
        out = edge_parts[0]
        for p in edge_parts[1:]:
            out = out.unionByName(p)
        return out.dropDuplicates(["a", "b"])

    edges = store.run_stage("edges", edges_fn, config_sig=csig, deps=edge_stage_names)
    for df in ham_caches:  # edge stages are parquet-backed now
        try:
            df.unpersist()
        except Exception:
            pass

    assignments = store.run_stage(
        "assignments",
        lambda: connected_components(edges, nodes=meta.select(id_col), id_col=id_col, cfg=cfg),
        config_sig=csig,
        deps=["edges"],
    )

    reps = store.run_stage(
        "representatives",
        lambda: select_reps(assignments, images=meta, strategy=cfg.rep_strategy,
                            id_col=id_col, caption_col=caption_col),
        config_sig=csig,
        deps=["assignments"],
    )

    from .operators.pipeline import DedupResult

    return DedupResult(
        assignments=assignments,
        representatives=reps,
        edges=edges,
        conflicts=None,
        stats=cluster_stats(assignments),
    )
