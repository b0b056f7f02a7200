"""Connected components over an edge DataFrame — the clustering step.

Single-linkage agglomerative clustering at threshold t (reference
/root/reference/pkg/contextlab/cluster.go:65-214, O(N^3) merge loop per
FAQ.md:73) is exactly connected components of the "similarity >= t"
graph, so we match the reference's cluster semantics with a distributed
algorithm: iterative hash-min label propagation with pointer jumping
(the large-star/small-star family; converges in O(log diameter)
rounds). Deterministic: component id = min member id (total order on
string ids).

Every frame CC materializes (the local label table, the loop's edges,
initial labels and each iteration's labels) goes through
onetask.observed, whose checkpoint cuts the lineage (SURVEY.md §7.3
risk (b): CC lineage blowup). The convergence probe is an aggregate of
the SAME job (a CollectMetrics node evaluated during the checkpoint
action), so each iteration costs ONE job instead of checkpoint + count —
the iteration count is the serial floor of the whole pipeline. A loop
that reaches cfg.cc_max_iters with labels still changing raises. A
caller that has materialized the edges passes their row count and CC
takes them as given. Nothing is persisted.
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig, DEFAULT
from .onetask import id_bytes, observed, one_task

log = logging.getLogger("distill_spark")

# Dup graphs of at most this many edges run the CC fixpoint in ONE task
# (_cc_local_labels) instead of the distributed loop, whose ~4 shuffles +
# driver round-trip per iteration dominate small graphs. 20M int64-id
# edges ≈ 1.9 GB of working set — seconds of numpy; graphs above it, or
# over the one-task byte budget at their id width (string ids: ~2.8M
# edges), take the loop. Data-adaptive (the edge count is observed at
# runtime), not tuned to any core count; identical labels either way.
LOCAL_MAX_EDGES = 20_000_000
# ids held per edge by _cc_local_labels: a and b in the Arrow batches,
# their concatenations, the combined array and np.unique's sorted copy
# and result — ~6 copies of each of the two ids
_CC_IDS_PER_EDGE = 12


def edge_bytes(id_type: T.DataType) -> int:
    """Task bytes per edge of cc_labels over ids of `id_type`."""
    return _CC_IDS_PER_EDGE * id_bytes(id_type)


def cc_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Edges (a[i], b[i]) -> (every edge-touching node, the min node of
    its component), by vectorized min-label propagation + pointer
    jumping to the fixpoint."""
    # factorize ids -> dense codes; np.unique sorts ascending, so
    # code order == id order and min-code == min-id per component
    uniq, codes = np.unique(np.concatenate([a, b]), return_inverse=True)
    ca, cb = codes[: len(a)], codes[len(a):]
    p = np.arange(len(uniq), dtype=np.int64)
    while True:
        before = p.copy()
        m = np.minimum(p[ca], p[cb])
        np.minimum.at(p, ca, m)
        np.minimum.at(p, cb, m)
        while True:  # pointer jumping to the current fixpoint
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        if np.array_equal(before, p):
            break
    return uniq, uniq[p]


def _cc_local_labels(
    edges: DataFrame, id_col: str, out_col: str
) -> DataFrame:
    """Single-task CC: cc_labels in ONE mapInPandas task, for an edge set
    that passed the one-task gate (LOCAL_MAX_EDGES), instead of the
    loop's ~4 shuffle stages + driver round-trip per iteration (at sf0.1
    that fixed cost was ~8-14 s of a ~36 s pipeline for 122k edges).
    Output is IDENTICAL to the loop: (node, min id of its component) for
    every edge-touching node, computed in an executor task (no collect)."""
    out_type = edges.schema["a"].dataType.simpleString()
    schema = f"{id_col} {out_type}, {out_col} {out_type}"

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a_parts, b_parts = [], []
        for pdf in it:
            if len(pdf):
                a_parts.append(pdf["a"].to_numpy())
                b_parts.append(pdf["b"].to_numpy())
        if not a_parts:
            return
        nodes, labels = cc_labels(np.concatenate(a_parts), np.concatenate(b_parts))
        yield pd.DataFrame({id_col: nodes, out_col: labels})

    return edges.coalesce(1).mapInPandas(kernel, schema=schema)


def _without_size_estimate(df: DataFrame) -> DataFrame:
    """The same rows as a plan leaf with Spark's default size estimate, not
    the one a checkpoint inherits from the plan it cut. The loop joins each
    iteration's labels with themselves, so an inherited estimate squares
    per iteration (a 3.3k-edge graph spent most of 88 s of 22 iterations
    multiplying ~10^8-digit estimates; 23 s with the reset)."""
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.createDataFrame(df._jdf.rdd(), df._jdf.schema()),
                     spark)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "image_id",
    out_col: str = "component",
    cfg: DedupConfig = DEFAULT,
    rows: int | None = None,
) -> DataFrame:
    """edges(a, b) [+ optional nodes(id_col) incl. singletons]
    -> (id_col, out_col) where out_col = min id of the component.

    Scale-adaptive (guide §1.2 "the distributed algorithm" + §2.4
    "remove shuffles outright"): the edge count picks the execution
    shape at runtime — small graphs (<= LOCAL_MAX_EDGES, and within the
    one-task memory budget at the id column's width) run the exact same
    min-label fixpoint in ONE task (_cc_local_labels), large graphs run
    the iterative distributed loop below. Both are deterministic and
    produce identical labels. `rows` is the count of an `edges` frame
    the caller has materialized; without it CC checkpoints and counts
    the edges itself.
    """
    edges = edges.select("a", "b")
    if rows is None:
        edges, n = observed(edges, cfg)
        rows = n["rows"]
    if one_task("connected_components", rows, "edges", LOCAL_MAX_EDGES,
                edge_bytes(edges.schema["a"].dataType)):
        # one stage instead of ~4 shuffles x iterations; the label
        # table is consumed several times downstream, so cut its
        # (single-task) lineage eagerly
        result, _ = observed(_cc_local_labels(edges, id_col, out_col), cfg)
        iters = 0
    else:
        sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        # the iterative loop runs ONLY over nodes that touch an edge —
        # singletons (usually the majority) are attached afterwards with a
        # single left join, keeping every iteration's shuffles proportional
        # to the duplicate population, not the corpus
        edge_nodes = sym.select(F.col("u").alias("node")).distinct()

        labels, _ = observed(edge_nodes.withColumn("label", F.col("node")), cfg)
        sym, _ = observed(sym, cfg)

        iters, changed = 0, None
        while changed != 0:
            if iters == cfg.cc_max_iters:
                raise RuntimeError(
                    f"connected_components: {changed} labels still changing "
                    f"after cc_max_iters={cfg.cc_max_iters} iterations")
            iters += 1
            # hash-min: candidate label for v = min label among neighbors
            nbr = (
                sym.join(labels.withColumnRenamed("node", "u"), "u")
                .groupBy("v")
                .agg(F.min("label").alias("nbr_label"))
                .withColumnRenamed("v", "node")
            )
            stepped = (
                labels.join(nbr, "node", "left")
                .select(
                    "node",
                    F.col("label").alias("old_label"),
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                )
            )
            # pointer jumping: label <- label(label)  (min-labels only shrink)
            parents = stepped.select(
                F.col("node").alias("plabel_node"), F.col("label").alias("plabel")
            )
            label = F.least(F.col("label"), F.coalesce("plabel", F.col("label")))
            jumped = stepped.join(
                parents, stepped["label"] == parents["plabel_node"], "left"
            ).select("node", label.alias("label"),
                     (label != F.col("old_label")).alias("moved"))
            # convergence metric rides the checkpoint job (no separate count)
            labels, n = observed(jumped, cfg, changed=F.sum(F.col("moved").cast("long")))
            labels = _without_size_estimate(labels.select("node", "label"))
            changed = n["changed"] or 0
        result = labels.select(F.col("node").alias(id_col),
                               F.col("label").alias(out_col))
    # observability for scale probes: how many hash-min+jump rounds
    # this graph needed — the serial floor of the pipeline at any
    # cluster size
    connected_components.last_iterations = iters
    log.debug("connected_components: %d iterations", iters)

    if nodes is not None:
        all_nodes = nodes.select(F.col(id_col)).distinct()
        result = all_nodes.join(result, id_col, "left").select(
            id_col, F.coalesce(out_col, F.col(id_col)).alias(out_col)
        )
    return result
