"""r8 supplementary benchmarks (bench.py is frozen for measurement; the
probes that motivated this round's optimizations live here so they stay
reproducible).  Prints ONE JSON line.

Contents:
* noop-sink stage isolation of quality_filter at the 10x corpus (guide
  §1.4): featurize / dictionary-rescan / full, the split that exposed the
  JVM mask chain (the test-side reference in tests/reference_paths.py) as
  half the pipeline wall;
* embedding_near_dup_pairs at the bench shape (4k vectors) and at a 10x
  scale point (VERDICT_r7 #3 — the one dedup/ANN member without
  order-of-magnitude evidence).  At 10x the vectors, the bench shape's
  16-planes/4-bands config (16-value bands) is degenerate by design: every
  bucket exceeds the boilerplate cap and candidates vanish, so the scale
  point widens the bands (32 planes / 4 bands = 256-value bands) to keep
  realistic bucket occupancy; the plan shape (banded self-join + capped
  window + exact rescore) is identical.

Usage: python bench_extra.py   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _mat(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> dict:
    from pyspark.sql import functions as F

    from bytefreq_spark.pipeline import (
        featurize, mask_frequency_dict, quality_filter, with_mask_key_arrow,
    )
    from bytefreq_spark.session import get_spark
    from bytefreq_spark.similarity import embedding_near_dup_pairs
    from bytefreq_spark.synth import gen_transcripts_spark
    from tests.reference_paths import with_mask_key

    spark = get_spark("bytefreq-bench-extra", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    sc = spark.sparkContext
    out: dict = {"metric": "r8_supplementary", "unit": "sec", "cpus": CPUS}
    root = tempfile.mkdtemp(prefix="bytefreq_bench_extra_")

    # warm the python worker pool once (same as bench.py)
    @F.pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s * 1.0

    spark.range(100000, numPartitions=CPUS).select(
        F.sum(_warm(F.col("id").cast("double")))).collect()

    def timed(name, thunk, reps=3, restore=None):
        walls = []
        for _ in range(reps):
            spark.catalog.clearCache()
            arg = restore() if restore else None
            t0 = time.time()
            thunk(arg)
            walls.append(round(time.time() - t0, 3))
        out[name] = {"runs": walls, "min": min(walls),
                     "loadavg": round(os.getloadavg()[0], 2)}

    try:
        # ---- corpora (same generator the bench uses; untimed) -----------
        n10 = max(int(0.1 * 100000), 200) * 10
        gen_transcripts_spark(spark, n10, partitions=CPUS).write.mode(
            "overwrite").parquet(f"{root}/sf1")

        def cached(name):
            def _r():
                df = spark.read.parquet(f"{root}/{name}").cache()
                df.count()
                return df
            return _r

        # ---- 1. quality_filter stage isolation at 10x -------------------
        sc.setJobDescription("stage: featurize only (nosalt)")
        timed("qf_sf1_featurize_only", lambda d: _mat(featurize(d, None)),
              restore=cached("sf1"))
        sc.setJobDescription("stage: dict rescan JVM chain")
        timed("qf_sf1_dict_jvm_chain",
              lambda d: _mat(mask_frequency_dict(with_mask_key(d))),
              restore=cached("sf1"))
        sc.setJobDescription("stage: dict rescan Arrow kernel")
        timed("qf_sf1_dict_arrow",
              lambda d: _mat(mask_frequency_dict(with_mask_key_arrow(d))),
              restore=cached("sf1"))
        sc.setJobDescription("full quality_filter (default config)")
        timed("qf_sf1_full_default",
              lambda d: _mat(quality_filter(d, salt_partitions=CPUS * 2)),
              restore=cached("sf1"))

        # ---- 2. embedding near-dups: bench shape + 10x scale point ------
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        dim = len(emb.select("embedding").head(1)[0][0])
        both = emb.union(
            emb.withColumn("vec_id", F.col("vec_id") + 10_000_000))
        sc.setJobDescription("embedding_near_dups (bench shape)")
        timed("embedding_near_dups",
              lambda _: _mat(embedding_near_dup_pairs(
                  both, threshold=0.99, dim=dim)))
        big = emb
        for k in range(1, 20):
            big = big.union(
                emb.withColumn("vec_id", F.col("vec_id") + 10_000_000 * k))
        sc.setJobDescription("embedding_near_dups_sf1 (10x, 32 planes)")
        timed("embedding_near_dups_sf1",
              lambda _: _mat(embedding_near_dup_pairs(
                  big, threshold=0.99, n_planes=32, bands=4, dim=dim)),
              reps=2)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return out


if __name__ == "__main__":
    print(json.dumps(main()))
