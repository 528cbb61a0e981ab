"""Regenerate the frozen-expectation goldens in tests/golden/ — run ONLY
after an intended semantic change to langid / scrub / decision kernels,
and review the diff before committing."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "tests", "golden")


def main():
    from pyspark.sql import functions as F

    from bytefreq_spark.pipeline import quality_filter
    from bytefreq_spark.session import get_spark
    from bytefreq_spark.synth import gen_transcripts_spark
    from bytefreq_spark.textstats import with_langid

    spark = get_spark("goldens", cores=8, shuffle_partitions=8)
    os.makedirs(GOLDEN, exist_ok=True)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    (
        with_langid(docs).select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id").toPandas()
        .to_csv(os.path.join(GOLDEN, "langid_sf0001.csv"), index=False)
    )

    tr = gen_transcripts_spark(spark, 120, skew_every=50, skew_len=300)
    (
        quality_filter(tr)
        .select(
            "conv_id", "turn_idx", "role", "lang", "keep", "drop_reason",
            F.md5(F.coalesce("scrubbed_text", F.lit(""))).alias("scrub_md5"),
        )
        .orderBy("conv_id", "turn_idx").toPandas()
        .to_csv(os.path.join(GOLDEN, "quality_filter_120.csv"), index=False)
    )
    import shutil
    import tempfile

    from bytefreq_spark.pipeline import run_with_checkpoints

    ck = tempfile.mkdtemp(prefix="bfq_golden_ck_")
    try:
        tr60 = gen_transcripts_spark(spark, 60)
        (
            run_with_checkpoints(spark, tr60, ck)
            .select("conv_id", "turn_idx", "keep", "drop_reason")
            .orderBy("conv_id", "turn_idx").toPandas()
            .to_csv(os.path.join(GOLDEN, "checkpoint_labels_60.csv"),
                    index=False)
        )
    finally:
        shutil.rmtree(ck, ignore_errors=True)

    spark.stop()
    print(f"goldens written to {GOLDEN}")


if __name__ == "__main__":
    main()
