"""Async batch-job API over the dedup pipeline — submit / status /
progress / results with a retention TTL.

Reference: /root/reference/pkg/batch/batch.go:28-258 — a Processor
with an in-memory job map, a bounded queue, a worker pool, the
queued/processing/completed/failed status machine, Job.Progress 0-1,
Results() only for completed jobs, List(status) filtering, and an
eviction loop deleting completed/failed jobs past ResultTTL
(batch.go:232-247). Lifecycle invariants mirrored from
pkg/batch/batch_test.go:13-120 in tests/test_jobs.py.

Spark shape: the job LEDGER is a persisted JSONL file (atomic
replace), not process memory — a driver restart resumes the queue
instead of losing it, which is the Spark-native reading of "async at
10^12 rows" (a queued job IS its input parquet + options; nothing
lives only in RAM). submit() snapshots the input DataFrame to the
job's directory; process_next()/worker threads run the chained
pipeline runner with per-stage progress written back to the ledger;
results are parquet + a stats row, readable until evict() (TTL)
removes them. Worker threads are ordinary driver threads — Spark
schedules their jobs concurrently on one SparkContext, the cluster
analog of the reference's goroutine pool.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field, fields, asdict

from pyspark.sql import DataFrame, SparkSession

from .operators.runner import run_pipeline, PipelineOptions, PipelineRunResult

log = logging.getLogger("distill_spark")

QUEUED = "queued"
PROCESSING = "processing"
COMPLETED = "completed"
FAILED = "failed"


class JobNotFound(KeyError):
    """Mirrors ErrJobNotFound (batch.go:49)."""


class ResultNotReady(RuntimeError):
    """Results() on a job that is not completed (batch.go:156-160)."""


class QueueFull(RuntimeError):
    """Submit when queued jobs == queue_size (batch.go:130-137)."""


@dataclass
class Job:
    id: str
    status: str = QUEUED
    progress: float = 0.0
    created_at: float = 0.0
    started_at: float = 0.0
    completed_at: float = 0.0
    error: str = ""
    n_input: int = 0
    options: dict = field(default_factory=dict)
    stage: str = ""


class JobProcessor:
    def __init__(self, spark: SparkSession, path: str,
                 result_ttl_sec: float = 24 * 3600.0,
                 queue_size: int = 1000,
                 id_col: str = "image_id", text_col: str = "caption"):
        self.spark, self.path = spark, path
        self.result_ttl_sec = result_ttl_sec
        self.queue_size = queue_size
        self.id_col, self.text_col = id_col, text_col
        os.makedirs(path, exist_ok=True)
        self._lock = threading.Lock()
        self._jobs: dict[str, Job] = {}
        # full PipelineOptions (incl. dedup_cfg) for jobs submitted in
        # THIS process; restarted jobs rebuild from the persisted scalar
        # options in the ledger
        self._opts_store: dict[str, PipelineOptions] = {}
        # jobs whose queue slot is reserved but whose input snapshot is
        # still being written — workers must not pick these up yet
        self._pending_input: set[str] = set()
        self._threads: list[threading.Thread] = []
        self._stop = threading.Event()
        self._load()

    # ------------------------------------------------------------- ledger
    def _ledger_path(self) -> str:
        return os.path.join(self.path, "_jobs.jsonl")

    def _job_dir(self, job_id: str) -> str:
        return os.path.join(self.path, job_id)

    def _load(self) -> None:
        p = self._ledger_path()
        if os.path.exists(p):
            with open(p) as f:
                for line in f:
                    d = json.loads(line)
                    self._jobs[d["id"]] = Job(**d)
        # a crash mid-run leaves PROCESSING rows; re-queue them so a
        # restarted processor picks the work back up (the input parquet
        # is still there — nothing was lost, unlike an in-memory queue)
        for j in self._jobs.values():
            if j.status == PROCESSING:
                j.status, j.progress, j.stage = QUEUED, 0.0, ""
            # a crash mid-submit leaves a ledgered job with no input
            # snapshot: fail it loudly instead of letting a worker crash
            if j.status == QUEUED and not os.path.isdir(
                os.path.join(self._job_dir(j.id), "input")
            ):
                j.status = FAILED
                j.error = "submit did not complete (input snapshot missing)"
        self._flush()

    def _flush(self) -> None:
        tmp = self._ledger_path() + ".tmp"
        with open(tmp, "w") as f:
            for j in self._jobs.values():
                f.write(json.dumps(asdict(j)) + "\n")
        os.replace(tmp, self._ledger_path())

    # ---------------------------------------------------------------- API
    def submit(self, df: DataFrame, opts: PipelineOptions | None = None) -> Job:
        """Snapshot the input, enqueue, return the queued Job.

        The queue slot is RESERVED (placeholder job inserted) inside the
        same critical section as the fullness check — concurrent
        submitters cannot all pass the check and exceed queue_size while
        one of them is off writing its input snapshot."""
        opts = opts or PipelineOptions()
        job_id = f"batch_{int(time.time() * 1e6)}_{uuid.uuid4().hex[:6]}"
        job = Job(
            id=job_id, status=QUEUED, created_at=time.time(),
            options={
                k: v for k, v in vars(opts).items() if k != "dedup_cfg"
            },
        )
        # dedup_cfg scalars ride the ledger too: a job re-queued after a
        # driver restart must rerun with the SUBMITTED config, not the
        # default (the `extra` dict is dropped — scalars only)
        job.options["dedup_cfg"] = {
            k: v for k, v in vars(opts.dedup_cfg).items()
            if isinstance(v, (bool, int, float, str)) or v is None
        }
        with self._lock:
            n_queued = sum(1 for j in self._jobs.values() if j.status == QUEUED)
            if n_queued >= self.queue_size:
                raise QueueFull(f"job queue is full ({self.queue_size} queued)")
            self._jobs[job_id] = job
            self._opts_store[job_id] = opts
            self._pending_input.add(job_id)
            self._flush()
        jd = self._job_dir(job_id)
        try:
            df.select(self.id_col, self.text_col).write.mode("overwrite").parquet(
                os.path.join(jd, "input")
            )
            n = self.spark.read.parquet(os.path.join(jd, "input")).count()
        except Exception:
            with self._lock:  # release the reserved slot on a failed snapshot
                self._jobs.pop(job_id, None)
                self._opts_store.pop(job_id, None)
                self._pending_input.discard(job_id)
                self._flush()
            shutil.rmtree(jd, ignore_errors=True)
            raise
        with self._lock:
            self._jobs[job_id].n_input = n
            self._pending_input.discard(job_id)
            self._flush()
        return self.get(job_id)

    def get(self, job_id: str) -> Job:
        with self._lock:
            j = self._jobs.get(job_id)
            if j is None:
                raise JobNotFound(job_id)
            return Job(**asdict(j))  # copy, like batch.go:149-151

    def list(self, status: str | None = None) -> list[Job]:
        with self._lock:
            return [
                Job(**asdict(j))
                for j in self._jobs.values()
                if status is None or j.status == status
            ]

    def results(self, job_id: str) -> tuple[DataFrame, DataFrame]:
        """-> (output rows, stats) for a COMPLETED job (batch.go:155-167).

        Lifetime contract: the returned DataFrames are LAZY readers over
        the job directory; evict() deletes that directory when the TTL
        passes. Callers that hold results across evictions must
        collect() or copy (write elsewhere) promptly — the same
        contract as reading any table another process may drop."""
        j = self.get(job_id)
        if j.status != COMPLETED:
            raise ResultNotReady(f"job {job_id} is {j.status}, not completed")
        out = os.path.join(self._job_dir(job_id), "output")
        stats = os.path.join(self._job_dir(job_id), "stats")
        return self.spark.read.parquet(out), self.spark.read.parquet(stats)

    # ------------------------------------------------------------ workers
    def process_next(self) -> str | None:
        """Run the oldest queued job to completion; returns its id (None
        if the queue is empty). Deterministic single-step worker — the
        threaded pool below just loops this."""
        with self._lock:
            queued = sorted(
                (
                    j for j in self._jobs.values()
                    if j.status == QUEUED and j.id not in self._pending_input
                ),
                key=lambda j: j.created_at,
            )
            if not queued:
                return None
            job = queued[0]
            job.status, job.started_at, job.progress = PROCESSING, time.time(), 0.0
            self._flush()
            job_id = job.id
        self._process(job_id)
        return job_id

    def _set_progress(self, job_id: str, stage: str, frac: float) -> None:
        with self._lock:
            j = self._jobs.get(job_id)
            if j is not None:
                j.progress, j.stage = round(frac, 4), stage
                self._flush()

    def _process(self, job_id: str) -> None:
        jd = self._job_dir(job_id)
        opts = self._opts_store.get(job_id)
        if opts is None:  # restarted processor: rebuild from the ledger
            j = self.get(job_id)
            from .config import DedupConfig

            od = dict(j.options)
            cfg_d = od.pop("dedup_cfg", None) or {}
            opts = PipelineOptions(**od)
            if cfg_d:  # restore the submitted dedup config, not the default
                known = {f.name for f in fields(DedupConfig)}
                stale = sorted(set(cfg_d) - known)
                if stale:  # a job ledgered by an older DedupConfig
                    log.warning("job %s: dropping unknown dedup_cfg keys %s",
                                job_id, stale)
                opts.dedup_cfg = DedupConfig(
                    **{k: v for k, v in cfg_d.items() if k in known})
        try:
            inp = self.spark.read.parquet(os.path.join(jd, "input"))
            res: PipelineRunResult = run_pipeline(
                inp, opts, id_col=self.id_col, text_col=self.text_col,
                progress_cb=lambda stage, frac: self._set_progress(job_id, stage, frac),
            )
            res.output.write.mode("overwrite").parquet(os.path.join(jd, "output"))
            res.stats.write.mode("overwrite").parquet(os.path.join(jd, "stats"))
            res.output.unpersist()
            with self._lock:
                j = self._jobs[job_id]
                j.status, j.progress = COMPLETED, 1.0
                j.completed_at = time.time()
                self._flush()
        except Exception as ex:  # failed jobs keep the error (batch.go:225-227)
            with self._lock:
                j = self._jobs.get(job_id)
                if j is not None:
                    j.status, j.error = FAILED, str(ex)[:500]
                    j.completed_at = time.time()
                    self._flush()

    def start_workers(self, n: int = 2) -> None:
        """Reference worker pool (batch.go:102-107) as driver threads —
        Spark runs their actions concurrently on the shared context."""
        def loop() -> None:
            while not self._stop.is_set():
                if self.process_next() is None:
                    self._stop.wait(0.05)

        for _ in range(n):
            t = threading.Thread(target=loop, daemon=True)
            t.start()
            self._threads.append(t)

    def stop(self) -> None:
        """Graceful shutdown: in-flight jobs finish (batch.go:184-188)."""
        self._stop.set()
        for t in self._threads:
            t.join(timeout=60)
        self._threads.clear()

    # ----------------------------------------------------------- eviction
    def evict(self, now: float | None = None) -> list[str]:
        """Delete completed/failed jobs whose results are past the TTL
        (batch.go:232-247). Returns the evicted ids."""
        now = now if now is not None else time.time()
        cutoff = now - self.result_ttl_sec
        gone: list[str] = []
        with self._lock:
            for job_id, j in list(self._jobs.items()):
                if j.status in (COMPLETED, FAILED) and j.completed_at < cutoff:
                    del self._jobs[job_id]
                    gone.append(job_id)
            if gone:
                self._flush()
        for job_id in gone:
            shutil.rmtree(self._job_dir(job_id), ignore_errors=True)
        return gone
