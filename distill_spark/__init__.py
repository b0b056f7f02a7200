"""distill_spark — a from-scratch PySpark-native near-duplicate detection
and clustering engine with the query/data-processing capabilities of
CrazyForks/distill (reference read-only at /root/reference; cited by
file:line in docstrings).

NOT a port: the reference is a single-node Go engine built on exact
O(N^2) distance matrices (pkg/contextlab/cluster.go:217-242) and
full-table dedup scans (pkg/memory/sqlite.go:243-279). This package
re-expresses the same semantics as declarative DataFrame plans that
survive 10^12-row inputs: MinHash/LSH banding, SimHash + Hamming-ball
block joins, winnowing + suffix-array LCS verification, and
connected-components clustering over edge DataFrames.

Layout:
  session.py            SparkSession factory (AQE, Arrow, skew-join on)
  config.py             DedupConfig — shingle/signature/band/threshold knobs
  datagen.py            deterministic synthetic images(image_id, bytes, w,
                        h, fmt, caption, phash) tables with planted dups
  oracle.py             brute-force exact oracle (union-find) at test scale
  operators/            the dedup pipeline stages (each DataFrame->DataFrame)
  functions/            scalar/columnar function library (text, scoring,
                        sensitivity, hashing, vectors)
  tableio.py            versioned-manifest parquet table: the one table
                        layer under the stores (copy-on-write snapshots,
                        atomic commits, vacuum, legacy-layout migration;
                        Iceberg tables on a cluster)
  checkpoint.py         stage ledger + one versioned table per stage
  memory.py             bucket-partitioned memory store (write-time dedup,
                        recall, lifecycle) — partial-partition mutations
  session_store.py      session store (push-dedup, budget escalation,
                        cache boundary)
  jobs.py               async batch-job API (submit/status/progress/
                        results, TTL eviction, restart-safe ledger)
  embedding.py          pluggable embedding providers (registry + cache +
                        hash-projection default) + with_embeddings
  streaming/            foreachBatch-style incremental ingest
"""

import sys

__version__ = "0.1.0"


def _keep_zip_directories() -> None:
    """Inside a PySpark worker, stop importlib.invalidate_caches() from
    re-reading every zip archive on sys.path. The worker calls it before
    every task, and on interpreters whose zipimporter.invalidate_caches
    re-reads its archive's directory at once (it first appeared in 3.10)
    each of the worker's ~16 importers over pyspark.zip and py4j re-reads
    its whole archive: ~0.28 s per task. The no-op restores the behaviour
    from before 3.10; an archive added to sys.path later still gets a
    fresh importer, which reads its directory when it is created."""
    if "pyspark.worker" not in sys.modules:
        return
    import zipimport

    meth = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if meth is not None and "_read_directory" in meth.__code__.co_names:
        zipimport.zipimporter.invalidate_caches = lambda self: None


_keep_zip_directories()
