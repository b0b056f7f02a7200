"""Traced run: per-layer spans measured from outside the program.

The traced sequence rebuilds the narrow-mode (single-box) call sequence
of `distill_spark.operators.pipeline.candidate_edges` + `dedupe`, one
public layer call at a time. Each call runs under its own Spark job
group and is forced at its boundary with `localCheckpoint(eager=True)`,
so the stages Spark reports through its REST API for that group are the
call's own work. Counts are taken after the span closes, under a
separate job group, so they never inflate a span. Spans are kept in
memory and written out when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distill_spark.config import DEFAULT
from distill_spark.operators.components import connected_components
from distill_spark.operators.hamming import hamming_candidate_pairs, verify_hamming
from distill_spark.operators.lsh import pairs_and_overflow, pairs_from_buckets
from distill_spark.operators.minhash import band_buckets
from distill_spark.operators.select import cluster_stats, representatives
from distill_spark.operators.signatures import with_signatures
from distill_spark.operators.verify import verify_jaccard, verify_lcs
from distill_spark.operators.winnow import refine_oversized

MB = 1 << 20
COUNT_GROUP = "perfbench:count"


class Tracer:
    """In-memory spans of one traced run (`trace_id`); each span is one
    Spark job group. Outside a span, jobs run under COUNT_GROUP."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.layer_counts: dict = {}
        self.sc.setJobGroup(COUNT_GROUP, "count")

    @contextmanager
    def span(self, layer: str, call: str):
        sid = len(self.spans)
        rec = {"id": sid, "trace": self.trace_id, "layer": layer, "call": call,
               "group": f"{self.trace_id}:{sid}:{layer}.{call}"}
        self.spans.append(rec)
        self.sc.setJobGroup(rec["group"], f"{layer}.{call}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setJobGroup(COUNT_GROUP, "count")


def forced(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def payload_mb(df: DataFrame) -> float:
    """Bytes of the frame's values (array elements x element width +
    fixed-width columns): the data a layer hands across its boundary."""
    width = {T.LongType: 8, T.IntegerType: 4, T.DoubleType: 8}
    terms = []
    for f in df.schema.fields:
        dt = f.dataType
        if isinstance(dt, T.ArrayType):
            terms.append(F.sum(F.size(f.name).cast("long")) * width.get(type(dt.elementType), 8))
        elif isinstance(dt, T.StringType):
            terms.append(F.sum(F.length(f.name).cast("long")))
        else:
            terms.append(F.count(F.lit(1)) * width.get(type(dt), 8))
    row = df.agg(*[t.alias(f"c{i}") for i, t in enumerate(terms)]).collect()[0]
    return sum(v or 0 for v in row) / MB


def traced_dedupe(tr: Tracer, images: DataFrame, cfg=DEFAULT,
                  id_col: str = "image_id", caption_col: str = "caption",
                  phash_col: str = "phash") -> DataFrame:
    """The narrow-mode dedupe() sequence with a span per layer call.
    Returns the verified edge frame in int-id space (the frame dedupe()
    keeps as `DedupResult.cached`) for the drift guard."""
    meta = images.select(id_col, caption_col, phash_col)
    meta_i = meta.withColumn(id_col, F.xxhash64(F.col(id_col)))
    c = {}

    with tr.span("signatures", "with_signatures"):
        sigs = forced(with_signatures(
            meta_i, caption_col, id_col, cfg,
            parts=("shingles", "minhash", "simhash", "winnow")))
    c["signatures.rows_out"] = sigs.count()
    c["signatures.out_mb"] = payload_mb(sigs)
    shingled = sigs.select(id_col, "shingles")
    minhash_sig = sigs.filter(F.col("minhash").isNotNull()).select(id_col, "minhash")
    simhash_sig = sigs.filter(F.col("simhash").isNotNull()).select(id_col, "simhash")

    with tr.span("lsh", "band_buckets"):
        buckets = forced(band_buckets(minhash_sig, "minhash", id_col, cfg))
    with tr.span("lsh", "pairs_from_buckets"):
        lsh_pairs = forced(pairs_from_buckets(buckets, ["bucket"], id_col, cfg,
                                              dedup=False))
    c["lsh.bucket_rows"] = buckets.count()
    c["lsh.candidates"] = lsh_pairs.count()
    c["lsh.oversized_buckets"] = (
        buckets.groupBy("bucket").count()
        .filter(F.col("count") > cfg.max_bucket_size).count())

    cache_registry: list = []
    with tr.span("hamming", "hamming_candidate_pairs.simhash"):
        sim_cand = forced(hamming_candidate_pairs(
            simhash_sig, "simhash", cfg.simhash_hamming_k, id_col, cfg,
            cache_registry=cache_registry))
    with tr.span("hamming", "verify_hamming.simhash"):
        sim_ok = forced(verify_hamming(sim_cand, simhash_sig, "simhash",
                                       cfg.simhash_hamming_k, id_col))
    ph = meta_i.select(id_col, phash_col)
    with tr.span("hamming", "hamming_candidate_pairs.phash"):
        ph_cand = forced(hamming_candidate_pairs(
            ph, phash_col, cfg.phash_hamming_k, id_col, cfg,
            cache_registry=cache_registry))
    with tr.span("hamming", "verify_hamming.phash"):
        ph_edges = forced(verify_hamming(ph_cand, ph, phash_col,
                                         cfg.phash_hamming_k, id_col))
    ham_cand = sim_cand.count() + ph_cand.count()
    ham_ok = sim_ok.count() + ph_edges.count()
    c["hamming.candidates"] = ham_cand
    c["hamming.verified"] = ham_ok
    c["hamming.useful_frac"] = ham_ok / ham_cand if ham_cand else 1.0

    with tr.span("verify", "verify_jaccard"):
        jac_cand = lsh_pairs.unionByName(sim_ok).dropDuplicates(["a", "b"])
        jac_edges = forced(verify_jaccard(
            jac_cand, shingled, cfg.jaccard_threshold, "shingles", id_col,
            semijoin=False))
    jac_attempts = jac_cand.count()
    c["verify.jaccard_attempts"] = jac_attempts
    c["verify.jaccard_useful_frac"] = (jac_edges.count() / jac_attempts
                                       if jac_attempts else 1.0)

    fpx = sigs.select(id_col, F.explode("fps").alias("fingerprint"))
    with tr.span("lsh", "pairs_and_overflow"):
        small_cand, overflow = pairs_and_overflow(
            fpx, ["fingerprint"], id_col, cfg, cap=cfg.max_fp_bucket_size)
        small_cand, overflow = forced(small_cand), forced(overflow)
    c["winnow.small_candidates"] = small_cand.count()
    c["winnow.overflow_rows"] = overflow.count()
    c["lsh.oversized_buckets"] += overflow.select("fingerprint").distinct().count()
    captions = meta_i.select(id_col, caption_col)
    with tr.span("winnow", "refine_oversized"):
        refined = forced(refine_oversized(overflow, captions, cfg, id_col,
                                          caption_col))
    with tr.span("lsh", "pairs_from_buckets.refined"):
        sub_cand = forced(pairs_from_buckets(
            refined, ["fingerprint", "subfp"], id_col, cfg,
            cap=cfg.max_fp_bucket_size, oversize="star"))
    c["winnow.sub_pairs"] = sub_cand.count()

    with tr.span("verify", "verify_lcs"):
        lcs_edges = forced(verify_lcs(small_cand, captions, cfg, caption_col,
                                      id_col, impl=cfg.lcs_impl, semijoin=False))
    c["verify.lcs_attempts"] = c["winnow.small_candidates"]
    c["verify.lcs_useful_frac"] = (lcs_edges.count() / c["verify.lcs_attempts"]
                                   if c["verify.lcs_attempts"] else 1.0)

    edges_i = (jac_edges.unionByName(ph_edges).unionByName(sub_cand)
               .unionByName(lcs_edges).dropDuplicates(["a", "b"])).persist()
    c["components.edges_in"] = edges_i.count()

    with tr.span("components", "connected_components"):
        cc = forced(connected_components(edges_i, nodes=None, id_col="__iid",
                                         out_col="__icomp", cfg=cfg))
    c["components.clusters"] = cc.select("__icomp").distinct().count()

    with tr.span("select", "representatives"):
        idmap = meta.select(id_col, F.xxhash64(F.col(id_col)).alias("__iid"))
        cc_s = cc.join(idmap, "__iid")
        names = cc_s.groupBy("__icomp").agg(F.min(id_col).alias("__comp_name"))
        edge_assign = cc_s.join(names, "__icomp").select(
            id_col, F.col("__comp_name").alias("component"))
        assignments = forced(
            meta.select(id_col).join(edge_assign, id_col, "left")
            .select(id_col, F.coalesce("component", F.col(id_col)).alias("component")))
        forced(representatives(assignments, images=meta,
                               strategy=cfg.rep_strategy, id_col=id_col,
                               caption_col=caption_col))
    with tr.span("select", "cluster_stats"):
        cluster_stats(assignments).collect()

    for df in cache_registry:
        df.unpersist()
    tr.layer_counts = c
    return edges_i


def edge_fingerprint(spark, edges: DataFrame) -> tuple[int, str]:
    """(count, order-insensitive xxhash64 sum) of an (a, b) edge frame."""
    spark.sparkContext.setJobGroup(COUNT_GROUP, "count")
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


# ------------------------------------------------------------- REST metrics


class SparkRest:
    """Stage metrics from the session's own status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled(self, timeout: float = 20.0) -> tuple[list, dict]:
        """(jobs, stageId -> stage) once the listener has caught up: no
        running job and the same totals on two consecutive polls."""
        last, deadline = None, time.time() + timeout
        while True:
            jobs = self.get("/jobs")
            stages = self.get("/stages")
            key = (len(jobs), len(stages),
                   sum(s.get("executorRunTime", 0) for s in stages))
            running = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages)
            if (key == last and not running) or time.time() > deadline:
                by_id = {}
                for s in stages:  # keep the latest attempt of each stage
                    by_id.setdefault(s["stageId"], s)
                return jobs, by_id
            last = key
            time.sleep(0.5)


def group_stages(jobs: list, stages: dict) -> dict[str, list]:
    """jobGroup -> executed (non-skipped) stages of its jobs."""
    out: dict[str, list] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if g is None:
            continue
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if s is not None and s["status"] != "SKIPPED":
                out.setdefault(g, []).append(s)
    return out


def stage_totals(stage_list: list) -> dict:
    run_ms = sum(s.get("executorRunTime", 0) for s in stage_list)
    cpu_ns = sum(s.get("executorCpuTime", 0) for s in stage_list)
    return {
        "stages": len(stage_list),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stage_list),
        "task_s": run_ms / 1000.0,
        "cpu_frac": cpu_ns / (run_ms * 1e6) if run_ms else 0.0,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stage_list) / 1000.0,
        "shuffle_mb": sum(s.get("shuffleWriteBytes", 0) for s in stage_list) / MB,
        "spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                        for s in stage_list) / MB,
    }
