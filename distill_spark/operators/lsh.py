"""Candidate-pair generation from bucket tables, with explicit skew
handling.

Input: any (id, bucket-key...) table — MinHash band buckets, SimHash
pigeonhole blocks, or winnowing fingerprints. Output: distinct
candidate pairs (a, b) with a < b.

ONE shuffle: groupBy(bucket).collect_list(id) aggregates members, then
pairs are expanded JVM-side from the sorted member array. (The earlier
window-count + self-join formulation shuffled the bucket table three
times; at 10^6 rows x 32 bands that is ~100M shuffled rows vs ~32M
here.)

Skew strategy (north rule: "salted repartitioning breaks hot LSH
buckets") — two modes, chosen per channel by its recall contract:

  * pairs_from_buckets (star fallback): buckets <= cap expand all-pairs;
    oversized buckets emit a STAR (every member vs the bucket's min id).
    PRECONDITION for using star: either (a) the channel is probabilistic
    and other buckets rescue missed pairs (MinHash bands — a pair missed
    in one oversized band has 31 more bands), or (b) every pair inside
    the bucket is guaranteed to pass exact verification (so hub-spoke
    edges survive and connected components still merge the bucket). Star
    is NOT valid for recall-guaranteed channels whose bucket members may
    fail pairwise verification (pigeonhole Hamming blocks, raw winnowing
    fingerprints) — those use pairs_and_overflow + channel refinement.

  * pairs_and_overflow: buckets <= cap expand all-pairs; oversized
    buckets are RETURNED as member rows so the channel can refine them
    on additional signature bits (hamming.py recursive pigeonhole,
    winnow.py full-window sub-fingerprints) without losing pairs.

Known bound: a single small bucket's member list must fit in one task
(~12 B/id x cap). Oversized buckets are never collected into one list
under pairs_and_overflow (they stay as rows). bucket_stats() feeds the
metrics ledger for monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT


def _allpairs_expr(cap: int | None) -> F.Column:
    """Expand sorted member array `_ids` into distinct ordered pairs.
    cap=None: always all-pairs. Else: star topology above cap (see
    module docstring for the star precondition)."""
    allp = """
        flatten(transform(_ids, (x, i) ->
          transform(slice(_ids, i + 2, size(_ids) - i - 1),
                    y -> struct(x AS a, y AS b))))
    """
    if cap is None:
        return F.expr(allp)
    return F.expr(
        f"""
        CASE WHEN size(_ids) <= {cap} THEN {allp}
        ELSE
          transform(slice(_ids, 2, size(_ids) - 1),
                    y -> struct(element_at(_ids, 1) AS a, y AS b))
        END
        """
    )


def pairs_from_buckets(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT,
    cap: int | None = None,
    oversize: str = "star",
    dedup: bool = True,
) -> DataFrame:
    """-> DataFrame[a, b] (same type as id_col), a < b; distinct unless
    dedup=False.

    dedup=False skips the final dropDuplicates exchange — for callers
    that union several candidate streams and deduplicate ONCE after the
    union (guide §2.4: two dedups one step apart shuffle the same pairs
    twice).

    oversize: "star" (default — see precondition in module docstring) or
    "allpairs" (ignore the cap; exact but quadratic per bucket).

    Oversized buckets are NEVER collected into a per-bucket list: star
    pairs are emitted row-wise from one (size, min) window pass, so a
    10^6-member hot bucket costs 10^6 rows across tasks, not one
    10^6-element array in one task (round-1 straggler).
    """
    if cap is None:
        cap = cfg.max_bucket_size
    if oversize == "allpairs":
        grouped = (
            buckets.groupBy(*key_cols)
            .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
            .filter(F.size("_ids") > 1)
        )
        pairs = grouped.select(F.explode(_allpairs_expr(None)).alias("p")).select(
            "p.a", "p.b"
        )
    else:
        w = Window.partitionBy(*key_cols)
        sized = buckets.withColumn("_sz", F.count(F.lit(1)).over(w)).withColumn(
            "_min", F.min(F.col(id_col)).over(w)
        )
        small = sized.filter((F.col("_sz") >= 2) & (F.col("_sz") <= cap))
        grouped = small.groupBy(*key_cols).agg(
            F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
        )
        small_pairs = grouped.select(
            F.explode(_allpairs_expr(None)).alias("p")
        ).select("p.a", "p.b")
        star = (
            sized.filter(F.col("_sz") > cap)
            .filter(F.col(id_col) != F.col("_min"))
            .select(F.col("_min").alias("a"), F.col(id_col).alias("b"))
        )
        pairs = small_pairs.unionByName(star)
    return pairs.dropDuplicates(["a", "b"]) if dedup else pairs


def pairs_and_overflow(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str = "image_id",
    cfg: DedupConfig = DEFAULT,
    cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split buckets by size: (all-pairs of buckets <= cap, member rows
    of oversized buckets). Oversized members keep the original columns
    so the caller can refine them on more signature bits — no pair is
    silently dropped. Both outputs derive from ONE window exchange
    (Catalyst reuses it when they meet in the same query tree), and
    oversized buckets are never collected into a single task's list.
    """
    if cap is None:
        cap = cfg.max_bucket_size
    w = Window.partitionBy(*key_cols)
    sized = buckets.withColumn("_sz", F.count(F.lit(1)).over(w))
    small = sized.filter((F.col("_sz") >= 2) & (F.col("_sz") <= cap))
    grouped = small.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
    )
    pairs = (
        grouped.select(F.explode(_allpairs_expr(None)).alias("p"))
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )
    overflow = sized.filter(F.col("_sz") > cap).drop("_sz")
    return pairs, overflow


def bucket_stats(buckets: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collision metrics: how skewed is the bucket table?"""
    sizes = buckets.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("bucket_size"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket"),
        F.expr("percentile_approx(bucket_size, 0.99)").alias("p99_bucket"),
        F.sum(
            F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
        ).alias("candidate_pairs_upper_bound"),
    )
