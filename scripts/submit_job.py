"""spark-submit entry point: a shim over ``bytefreq_spark.cli``.

    spark-submit --master <cluster> --py-files dist/bytefreq_spark.zip \
        scripts/submit_job.py quality-filter --input transcripts/ \
        --output labeled/ [--checkpoint-dir ckpt/]

spark-submit runs a file, not a module, so this file only hands its
arguments to the CLI; every CLI command works the same way.  It imports
bytefreq_spark only from the shipped zip (no repo sys.path tricks), and the
last stdout line of ``quality-filter`` is ``{"output": ..., "rows": ...}``.
"""

import sys

from bytefreq_spark.cli import main

if __name__ == "__main__":
    sys.exit(main())
