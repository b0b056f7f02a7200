"""Write-time dedup probe shared by MemoryStore.store_batch,
SessionStore.push and streaming ingest: the reference's per-entry
`findSimilar` probe (SURVEY J3), its conflict band (J4) and session
push probe (J5) as one batched join plus the id-order greedy
(oracle.oracle_ingest's rule). Callers key new rows so that string id
order is their arrival order."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from .minhash import band_buckets
from .verify import jaccard_col


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


def probe_edges(new: DataFrame, stored: DataFrame, cfg: DedupConfig,
                floor: float, what: str) -> list:
    """Rows (n, o, old, jaccard) with exact shingle Jaccard >= floor.

    `new` and `stored` are (id, shingles, minhash) frames (extra columns
    are ignored; a null minhash never matches). Each row pairs a new id
    n with a stored id (old=True) or with a smaller new id (old=False,
    o < n); an id present on both sides attaches once per side.

    `new` must already be persisted: it feeds the bucket side, the
    intra side and the shingle attach, and an unpersisted signature pass
    would run once per consumer. The collect fails loudly past
    cfg.extra["dup_edges_max"] (default 1,000,000) stored + intra rows;
    `what` names it in the error."""
    new = new.select("id", "shingles", "minhash")
    stored = stored.select("id", "shingles", "minhash")
    bb_n = band_buckets(new.filter(F.col("minhash").isNotNull()),
                        "minhash", "id", cfg)
    bb_o = band_buckets(stored.filter(F.col("minhash").isNotNull()),
                        "minhash", "id", cfg)
    cand = (
        bb_n.withColumnRenamed("id", "n")
        .join(bb_o.withColumn("old", F.lit(True))
              .unionByName(bb_n.withColumn("old", F.lit(False)))
              .withColumnRenamed("id", "o"), "bucket")
        .filter(F.col("old") | (F.col("o") < F.col("n")))
        .select("n", "o", "old")
        .dropDuplicates()
    )
    sides = stored.withColumn("old", F.lit(True)).unionByName(
        new.withColumn("old", F.lit(False)))
    verified = (
        cand.join(new.select(F.col("id").alias("n"),
                             F.col("shingles").alias("sh_n")), "n")
        .join(sides.select(F.col("id").alias("o"), "old",
                           F.col("shingles").alias("sh_o")), ["o", "old"])
        .withColumn("jaccard", jaccard_col(F.col("sh_n"), F.col("sh_o")))
        .filter(F.col("jaccard") >= floor)
        .select("n", "o", "old", "jaccard")
    )
    return guarded_collect(
        verified, int(cfg.extra.get("dup_edges_max", 1_000_000)), what)


def greedy_accept(edges) -> dict:
    """{rejected n: matched o} over probe_edges rows (or any iterable of
    (n, o, old, ...) tuples). o is the smallest stored id n matches; a
    row with no stored match takes the smallest earlier accepted new row
    it matches. Rows absent from the result are accepted."""
    out: dict = {}
    intra: dict = {}
    for n, o, old, *_ in edges:
        if old:
            out[n] = min(out.get(n, o), o)
        else:
            intra.setdefault(n, []).append(o)
    # ascending n: every o < n already has its final status
    for n in sorted(intra.keys() - out.keys()):
        hit = min((o for o in intra[n] if o not in out), default=None)
        if hit is not None:
            out[n] = hit
    return out
