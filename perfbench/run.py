"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload planted_100k --seed 7 --seconds 20 --trace 0

Runs from the root of a source checkout on local[<cores available>] in
one Python process. The input is generated from --seed, then set-up
(session start, input written to parquet and read back, warm-up; see
set_up), then one caller runs the workload's unit of work in a closed
loop for --seconds, checking every unit's outputs outside the timed
region. The last stdout line is the JSON result: end-to-end metrics
with --trace 0, per-layer metrics (perfbench/layers.py) with --trace 1.

Workloads (sizes and checks in README.md):
  planted_100k   full dedupe() over the planted-dup images table
  ingest_stream  incremental_dedupe_batch over id-hash micro-batches of
                 a planted table, into a growing on-disk state
  docs_lowvocab  full dedupe() over a low-vocabulary documents table,
                 checked edge-for-edge against the exact oracle (not
                 declared in BENCHMARK.json)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3
PLANTED_ROWS = 8_000
DOCS_ROWS = 1_200
WARM_ROWS = 300           # warm-up slice of the batch workloads
STREAM_ROWS = 20_000
STREAM_BATCHES = 10       # ~2k rows per micro-batch
WARM_BATCHES = 2


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """VmHWM summed over the JVM and its Python workers (every process
    this process started)."""
    kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_spark() -> None:
    """Stop the session, the gateway JVM and every Python worker, and
    wait until each has ended."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception as e:  # the JVM may already be gone
            log("gateway shutdown:", e)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.2)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


# --------------------------------------------------------------- session


def start_session(trace: bool):
    from distill_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
        })
    n = cores()
    return get_spark("perfbench", cores=n, extra_conf=conf)


def release(spark, result) -> None:
    """Drop a unit's caches, so no unit re-uses a previous one's plans."""
    result.unpersist()
    spark.catalog.clearCache()


# ------------------------------------------------------------- workloads


class BatchDedupe:
    """A full dedupe() over one table; the unit is dedupe() + reading
    back the assignments and representatives."""

    rows = 0

    def __init__(self, seed: int):
        self.seed = seed

    def unit(self, spark, df=None):
        from distill_spark.operators import dedupe

        r = dedupe(self.df if df is None else df)
        assign = r.assignments.toPandas()
        r.representatives.count()
        return r, assign

    def unit_rows(self, out) -> int:
        return self.rows

    def check(self, spark, out):
        """-> (ok, recall, message); releases the unit's caches."""
        r, assign = out
        try:
            return self.check_assignments(r, dict(zip(assign.image_id, assign.component)))
        finally:
            release(spark, r)

    def final_checks(self) -> list:
        return []

    def warm(self, spark) -> None:
        r, _ = self.unit(spark, self.df.limit(WARM_ROWS))
        release(spark, r)

    def trace_table(self):
        return self.df

    def trace_batches(self, spark):
        from layers import micro_batches

        return micro_batches(self.df, self.rows)

    def edges(self, r) -> set:
        return {(a, b) for a, b in r.edges.collect()}


class Planted(BatchDedupe):
    rows = PLANTED_ROWS

    def generate(self) -> None:
        from inputs import DupPredicate, planted_pdf

        self.pdf, self.truth = planted_pdf(self.rows, self.seed)
        self.is_dup = DupPredicate(self.pdf)

    def materialise(self, spark) -> None:
        from inputs import write_parquet

        path = write_parquet(self.pdf, os.path.join(WORK, "planted.parquet"))
        self.df = spark.read.parquet(path)

    @property
    def pairs(self):
        from inputs import caption_pairs

        return caption_pairs(self.truth, self.pdf)

    def check_assignments(self, r, comp):
        from inputs import check_planted

        return check_planted(self.truth, self.is_dup, comp, self.edges(r))


class Docs(BatchDedupe):
    rows = DOCS_ROWS
    pairs: list = []  # no planted truth: the oracle is the check
    _oracle = None

    def generate(self) -> None:
        from inputs import documents_pdf

        self.docs = documents_pdf(self.rows, self.seed)

    def materialise(self, spark) -> None:
        from distill_spark.datagen import images_from_documents
        from inputs import write_parquet

        d = os.path.join(WORK, "docs")
        os.makedirs(d, exist_ok=True)
        write_parquet(self.docs, os.path.join(d, "documents.parquet"))
        path = os.path.join(WORK, "docs_images.parquet")
        images_from_documents(spark, d).write.mode("overwrite").parquet(path)
        self.df = spark.read.parquet(path)

    def oracle(self):
        """Exact oracle over the generated rows; computed once per input,
        outside set-up and timed regions."""
        if self._oracle is None:
            from inputs import components, exact_edges

            pdf = self.df.select("image_id", "caption", "phash").toPandas()
            edges = exact_edges(pdf)
            self._oracle = (components(pdf["image_id"].tolist(), edges), edges)
        return self._oracle

    def check_assignments(self, r, comp):
        from inputs import check_docs

        o_assign, o_edges = self.oracle()
        return check_docs(o_assign, o_edges, comp, self.edges(r))


class Stream:
    """incremental_dedupe_batch over id-hash micro-batches of a planted
    table, in order, into one on-disk state; the unit is one batch. The
    warm-up ingests the first WARM_BATCHES batches (the empty-state and
    the stored-state paths), so measured batches meet a grown state."""

    rows = STREAM_ROWS

    def __init__(self, seed: int):
        self.seed = seed
        self.passes = 0
        self.pass_checks: list = []  # of passes that ran out of batches

    def generate(self) -> None:
        from inputs import caption_pairs, planted_pdf, stream_batches

        pdf, truth = planted_pdf(self.rows, self.seed)
        self.pairs = caption_pairs(truth, pdf)
        self.parts = stream_batches(pdf, STREAM_BATCHES)

    def materialise(self, spark) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from inputs import write_parquet

        path = write_parquet(
            pd.concat([p.assign(batch=b) for b, p in enumerate(self.parts)]),
            os.path.join(WORK, "stream.parquet"))
        table = spark.read.parquet(path)
        self.batches = [(table.filter(F.col("batch") == b).drop("batch"), len(p))
                        for b, p in enumerate(self.parts)]

    def new_state(self, spark) -> None:
        from distill_spark.streaming.ingest import DedupeState

        self.passes += 1
        self.state = DedupeState(spark, os.path.join(WORK, f"state_{self.passes}"))
        self.done: list[tuple[dict, int]] = []

    def unit(self, spark):
        from distill_spark.streaming.ingest import incremental_dedupe_batch

        if len(self.done) == len(self.batches):
            self.pass_checks = self.final_checks()
            self.new_state(spark)
        b = len(self.done)
        df, n = self.batches[b]
        m = incremental_dedupe_batch(self.state, df, b)
        self.done.append((m, n))
        return m, n

    def unit_rows(self, out) -> int:
        return out[1]

    def check(self, spark, out):
        m, n = out
        ok = (m.get("status") == "complete"
              and m["rows_in"] == m["novel"] + m["duplicates"] == n)
        return ok, None, f"batch {m.get('batch_id')}: {m} vs {n} rows sent"

    def final_checks(self) -> list:
        from inputs import check_stream

        return self.pass_checks + [check_stream(
            [m for m, _ in self.done], [n for _, n in self.done],
            self.state.path, self.pairs)]

    def warm(self, spark) -> None:
        self.new_state(spark)
        for _ in range(WARM_BATCHES):
            self.unit(spark)

    def trace_table(self):
        return self.batches[0][0]

    def trace_batches(self, spark):
        from layers import INGEST_BATCHES

        return self.batches[:INGEST_BATCHES]


WORKLOADS = {"planted_100k": Planted, "docs_lowvocab": Docs, "ingest_stream": Stream}


# ------------------------------------------------------------ the run


def set_up(wl, trace: bool):
    """-> (spark, setup seconds).

    The input is generated from the seed first, outside set-up. Then
    session start and input materialisation run SETUP_REPS times (each
    later rep stops the session and starts a fresh one in the running
    JVM) and their median is taken; then the warm-up — one unit over a
    WARM_ROWS slice, paying the Python-worker spawn and the first-job
    code generation and JIT — runs once, since a JVM pays it once.
    setup_s = median rep + warm-up. A traced run sets up once."""
    wl.generate()
    reps, spark = [], None
    for rep in range(1 if trace else SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(trace)
        wl.materialise(spark)
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm(spark)
    warm = time.perf_counter() - t0
    log(f"setup reps {[round(x, 2) for x in reps]} warm-up {warm:.2f}s")
    return spark, statistics.median(reps) + warm


def measure(wl, spark, seconds: float) -> dict:
    """Closed loop, one caller, for `seconds`; every unit is checked."""
    lat, rows, attempted, failed, recalls = [], 0, 0, 0, []
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        out = wl.unit(spark)
        lat.append(time.perf_counter() - t0)
        rows += wl.unit_rows(out)
        done = time.perf_counter() >= t_end
        checks = [wl.check(spark, out)] + (wl.final_checks() if done else [])
        for ok, recall, msg in checks:
            attempted += 1
            if recall is not None:
                recalls.append(recall)
            if not ok:
                failed += 1
                log("CHECK FAILED:", msg)
        if done:
            break
    return {"lat": lat, "rows": rows, "attempted": attempted, "failed": failed,
            "recall": min(recalls)}


def end_to_end(wl, spark, seconds: float, setup_s: float):
    m = measure(wl, spark, seconds)
    log(f"units={m['attempted']} lat={[round(x, 2) for x in m['lat']]}")
    metrics = {
        "setup_s": (setup_s, "s"),
        "images_per_s": (m["rows"] / sum(m["lat"]), "1/s"),
        "batch_p50_s": (statistics.median(m["lat"]), "s"),
        "dup_pair_recall": (m["recall"], "ratio"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }
    return m, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "distill_spark", "__init__.py")):
        log(f"no distill_spark package under {ROOT}: run from a source checkout")
        return 2

    # everything the run writes stays under the checkout
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "spans"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]

    wl = WORKLOADS[args.workload](args.seed)
    try:
        spark, setup_s = set_up(wl, bool(args.trace))
        if isinstance(wl, Docs) and not args.trace:
            wl.oracle()
        if args.trace:
            from layers import traced_run

            m, metrics = traced_run(wl, spark, args, WORK)
        else:
            m, metrics = end_to_end(wl, spark, args.seconds, setup_s)
    finally:
        shutdown_spark()
        for d in os.listdir(WORK):
            p = os.path.join(WORK, d)
            if d != "spans":
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    out = {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
