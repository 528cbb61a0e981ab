"""The north rule's launch mode, evidenced for real: package the engine as a
--py-files zip and run the quality filter through spark-submit from a cwd
OUTSIDE the repo, so every bytefreq_spark import must resolve from the zip."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles(tmp_path, spark):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_pyfiles import build

    zip_path = build(str(tmp_path / "bytefreq_spark.zip"))

    # stage input with the session fixture (cheap), then launch the job in
    # its own JVM via spark-submit
    from bytefreq_spark.synth import gen_transcripts_spark

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    gen_transcripts_spark(spark, 30).coalesce(2).write.parquet(in_dir)
    n_in = spark.read.parquet(in_dir).count()

    proc = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "submit_job.py"),
            "quality-filter", "--input", in_dir, "--output", out_dir,
        ],
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert result["rows"] == n_in
    got = spark.read.parquet(out_dir)
    assert got.count() == n_in
    assert {"keep", "drop_reason", "scrubbed_text"} <= set(got.columns)


def test_cli_ingest_batch_idempotent(tmp_path, spark):
    """CLI face of the incremental ingest (S9): first run labels everything
    and commits snapshot v1; re-running the same input is a no-op (anti-join
    against the committed conv index).  Subprocess so the CLI's own
    SparkSession lifecycle can't disturb the fixture session."""
    from bytefreq_spark.synth import gen_transcripts_spark

    in_dir = str(tmp_path / "in")
    snap = str(tmp_path / "snap")
    gen_transcripts_spark(spark, 20).coalesce(2).write.parquet(in_dir)
    n_in = spark.read.parquet(in_dir).count()

    def run_cli():
        proc = subprocess.run(
            [sys.executable, "-m", "bytefreq_spark.cli", "ingest",
             "--input", in_dir, "--snapshot-dir", snap],
            cwd=REPO, capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        return json.loads(
            [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        )

    first = run_cli()
    assert first["labels_rows"] == n_in and first["new_turns"] == n_in
    second = run_cli()
    assert second["labels_rows"] == n_in and second["new_turns"] == 0
