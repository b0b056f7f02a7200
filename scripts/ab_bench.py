import sys, time, os
from dataclasses import replace

sys.path.insert(0, "/root/repo")
from distill_spark.session import get_spark
from distill_spark.config import DedupConfig
from distill_spark.operators import dedupe

spark = get_spark("ab", cores=int(os.environ.get("DBG_CPUS", "32")),
                  shuffle_partitions=int(os.environ.get("DBG_SHUF", "64")))
images = spark.read.parquet("/tmp/distill_bench/images_n100000_seed42.parquet")

base = DedupConfig()
np = replace(base, persist_shingles=False)
variants = {
    "default": base,
    "np": np,
    "np_lcsjvm": replace(np, lcs_impl="jvm"),
    "np_fpcap256": replace(np, max_fp_bucket_size=256),
    "np2": np,
}
# warm
w = images.limit(2000).cache(); w.count()
dedupe(w, base).assignments.count()
w.unpersist()

order = sys.argv[1].split(",") if len(sys.argv) > 1 else list(variants)
for name in order:
    cfg = variants[name]
    spark.catalog.clearCache()
    t0 = time.time()
    n = dedupe(images, cfg).assignments.count()
    print(f"{name}: {time.time()-t0:.1f}s (n={n})", flush=True)
