"""spark-submit entry point for the quality-filter pipeline.

    spark-submit --master <cluster> --py-files dist/bytefreq_spark.zip \
        scripts/submit_job.py --input transcripts/ --output labeled/ \
        [--salt-partitions N] [--checkpoint-dir ckpt/]

Deliberately self-contained: imports bytefreq_spark only from the shipped
zip (no repo sys.path tricks), builds the session from spark-submit's conf,
and writes conversation-contiguous labeled output.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bytefreq-quality-filter").getOrCreate()

    from bytefreq_spark.pipeline import quality_filter, run_with_checkpoints

    tr = spark.read.parquet(args.input)
    if args.checkpoint_dir:
        labels = run_with_checkpoints(
            spark, tr, args.checkpoint_dir,
            salt_partitions=args.salt_partitions,
        )
        labels.write.mode("overwrite").parquet(args.output)
    else:
        out = quality_filter(tr, salt_partitions=args.salt_partitions)
        out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"output": args.output, "rows": n}))
    spark.stop()


if __name__ == "__main__":
    main()
