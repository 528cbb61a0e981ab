"""End-to-end quality-filter contract (BASELINE.md targets):

* keep/drop F1 ≥ 0.99 vs the single-node reference pipeline (we target exact
  agreement, F1 == 1.0);
* byte-identical scrubbed text per turn;
* stable (conv_id, turn_idx) output ordering;
* invariance under different parallelism (determinism half of scaling check);
* checkpoint resume reproduces the identical table.
"""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bytefreq_spark.pipeline import (
    featurize, label_turns, mask_frequency_dict, quality_filter,
    run_with_checkpoints, with_mask_key_arrow,
)
from bytefreq_spark.reference import run_reference
from bytefreq_spark.synth import gen_transcripts_pandas, gen_transcripts_spark
from tests.reference_paths import (
    with_decision_udf, with_dup_flag, with_mask_key, with_prev_turn,
)

N_CONVS = 400  # ≈ several thousand turns incl. one skewed whale (serial 399? no: 997-1 not hit; use skew_every=200)
SKEW = dict(skew_every=200, skew_len=400)


def forced_salt(df, n):
    """``quality_filter`` with the featurize salt pinned to ``n`` partitions
    instead of the probe's decision, composed from its parts."""
    return label_turns(featurize(df, n),
                       mask_frequency_dict(with_mask_key_arrow(df)))


@pytest.fixture(scope="module")
def corpus_pdf():
    return gen_transcripts_pandas(N_CONVS, **SKEW)


@pytest.fixture(scope="module")
def reference_labels(corpus_pdf):
    return run_reference(corpus_pdf)


@pytest.fixture(scope="module")
def spark_labels(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    return quality_filter(df).toPandas()


def test_generator_parity(spark, corpus_pdf):
    """Distributed generator ≡ driver-side generator (same seed)."""
    sdf = gen_transcripts_spark(spark, 50, **SKEW).toPandas()
    pdf = gen_transcripts_pandas(50, **SKEW)
    key = ["conv_id", "turn_idx"]
    a = sdf.sort_values(key).reset_index(drop=True)
    b = pdf.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[pdf.columns], b, check_dtype=False)


def test_skew_exercised(corpus_pdf):
    sizes = corpus_pdf.groupby("conv_id").size()
    assert sizes.max() >= 400  # whale conversation present
    assert sizes.median() <= 10


def test_keep_f1_and_reasons(reference_labels, spark_labels):
    key = ["conv_id", "turn_idx"]
    ref = reference_labels.set_index(key).sort_index()
    got = spark_labels.set_index(key).sort_index()
    assert len(ref) == len(got)
    merged = ref[["keep", "drop_reason"]].join(
        got[["keep", "drop_reason"]], lsuffix="_ref", rsuffix="_got"
    )
    tp = ((merged.keep_ref) & (merged.keep_got)).sum()
    fp = ((~merged.keep_ref) & (merged.keep_got)).sum()
    fn = ((merged.keep_ref) & (~merged.keep_got)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1}"
    # we hold ourselves to exact agreement, reasons included
    assert (merged.keep_ref == merged.keep_got).all()
    assert (
        merged.drop_reason_ref.fillna("") == merged.drop_reason_got.fillna("")
    ).all()


def test_scrubbed_text_byte_identical(reference_labels, spark_labels):
    key = ["conv_id", "turn_idx"]
    ref = reference_labels.set_index(key)["scrubbed_text"].sort_index()
    got = spark_labels.set_index(key)["scrubbed_text"].sort_index()
    assert (ref.fillna("") == got.fillna("")).all()


def test_scrub_actually_fires(reference_labels):
    st = reference_labels["scrubbed_text"].str.cat(sep="\n")
    for tok in ("<EMAIL>", "<CARD>", "<PHONE>", "<IP>", "<TOX>"):
        assert tok in st, tok
    raw = reference_labels["text"].str.cat(sep="\n")
    assert "@example" in raw  # generator produced PII
    assert "@example" not in st  # scrubber removed it


def test_stable_output_ordering(spark, corpus_pdf):
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(corpus_pdf)
    out = quality_filter(df)
    pdf = out.select(
        SF.spark_partition_id().alias("pid"), "conv_id", "turn_idx"
    ).toPandas()
    # stable ordering contract: within every output partition rows are sorted
    # by (conv_id, turn_idx), and no conversation straddles two partitions
    for _pid, grp in pdf.groupby("pid", sort=False):
        g = grp.reset_index(drop=True)
        s = g.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, s)
    conv_parts = pdf.groupby("conv_id")["pid"].nunique()
    assert (conv_parts == 1).all()


def test_parallelism_invariance(spark, corpus_pdf, spark_labels):
    """Same labels under a different salt/partitioning (scaling determinism)."""
    df = spark.createDataFrame(corpus_pdf).repartition(3)
    other = forced_salt(df, 5).toPandas()
    key = ["conv_id", "turn_idx"]
    a = spark_labels.set_index(key)[["keep", "scrubbed_text"]].sort_index()
    b = other.set_index(key)[["keep", "scrubbed_text"]].sort_index()
    assert (a["keep"] == b["keep"]).all()
    assert (a["scrubbed_text"].fillna("") == b["scrubbed_text"].fillna("")).all()


def test_checkpoint_resume(spark, corpus_pdf, reference_labels):
    tmp = tempfile.mkdtemp(prefix="bfq_ckpt_")
    try:
        df = spark.createDataFrame(corpus_pdf)
        first = run_with_checkpoints(spark, df, tmp).toPandas()
        # resume: same config → featurized+labels snapshots reused
        second = run_with_checkpoints(spark, df, tmp).toPandas()
        key = ["conv_id", "turn_idx"]
        a = first.set_index(key).sort_index()
        b = second.set_index(key).sort_index()
        assert (a["keep"] == b["keep"]).all()
        assert (a["scrubbed_text"].fillna("") == b["scrubbed_text"].fillna("")).all()
        # and the checkpointed run matches the reference labels too
        ref = reference_labels.set_index(key).sort_index()
        assert (a["keep"] == ref["keep"]).all()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dup_flag_hashed_equals_exact(spark):
    """The r6 dup flag lags a pre-shuffle 64-bit text hash instead of the
    raw text (so drop_text can prune text from the wide exchange).  On every
    non-colliding input — i.e. everything but a deliberate 2⁻⁶⁴ event — it
    must equal the exact comparison, including the NULL/empty edges: NULL
    text never matches anything (hash column stays NULL), empty text never
    flags, and duplicates across conversation boundaries never flag."""
    from bytefreq_spark.pipeline import (
        conversation_layout, with_dup_flag_hashed,
    )

    rows = [
        ("c0", 0, "same turn"), ("c0", 1, "same turn"),   # true adjacent dup
        ("c0", 2, "other"), ("c0", 3, "same turn"),       # non-adjacent: no
        ("c1", 0, None), ("c1", 1, None),                 # NULL pair: no
        ("c1", 2, ""), ("c1", 3, ""),                     # empty pair: no
        ("c1", 4, "x"), ("c2", 0, "x"),                   # across convs: no
        ("c2", 1, "x"),                                   # within conv: yes
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).withColumn("n_chars", F.coalesce(F.length("text"), F.lit(0)).cast("long"))
    laid = conversation_layout(df.withColumn(
        "_text_h", F.when(F.col("text").isNotNull(), F.xxhash64("text"))))
    key = ["conv_id", "turn_idx"]
    exact = {(r["conv_id"], r["turn_idx"]): r["is_dup"]
             for r in with_dup_flag(laid).select(*key, "is_dup").collect()}
    hashed = {(r["conv_id"], r["turn_idx"]): r["is_dup"]
              for r in with_dup_flag_hashed(laid).select(*key, "is_dup").collect()}
    assert hashed == exact
    assert hashed[("c0", 1)] is True and hashed[("c2", 1)] is True
    assert sum(v for v in hashed.values()) == 2


def test_lu_key_python_equals_jvm(spark):
    """r6 moved lu_key INTO the featurize UDF (Python kernel ~7× cheaper
    than the JVM regexp chain — docs/PLANS.md §lu_key_mask_cost); the JVM
    chain survives as the test-side reference ``with_mask_key``.  The two
    engines must agree on EVERY row — including NULL text (NULL key on both
    sides, so dictionary joins behave identically) and empty text ('_'),
    else frequency joins would silently miss."""
    from bytefreq_spark.pipeline import featurize

    rows = [
        ("c0", 0, "user", "Hello World 42!", None),
        ("c0", 1, "assistant", None, None),            # NULL text
        ("c0", 2, "user", "", None),                   # empty text
        ("c0", 3, "user", "día 123 Ü—ß " * 60, None),  # >512 chars, unicode
        ("c0", 4, "user", "aaaa    bbbb", None),       # collapse runs
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    jvm = {r["turn_idx"]: r["lu_key"]
           for r in with_mask_key(df).select("turn_idx", "lu_key").collect()}
    py = {r["turn_idx"]: r["lu_key"]
          for r in featurize(df).select("turn_idx", "lu_key").collect()}
    assert py == jvm, (py, jvm)
    assert py[1] is None and py[2] == "_"


def test_mask_key_arrow_equals_jvm(spark):
    """r8 routed the rescan dictionary branch through the Arrow kernel
    (``with_mask_key_arrow``): the JVM regexp chain measured ~half the
    whole pipeline wall at sf1 while the fused Python kernel is ~7× cheaper
    per turn.  The two rescan surfaces must agree key-for-key — NULL text →
    NULL key, empty → '_', >512-char prefix truncation, non-ASCII classes,
    run collapse — and the dictionary built from either must be identical."""
    from bytefreq_spark.pipeline import mask_frequency_dict, with_mask_key_arrow

    rows = [
        ("c0", 0, "user", "Hello World 42!", None),
        ("c0", 1, "assistant", None, None),            # NULL text
        ("c0", 2, "user", "", None),                   # empty text
        ("c0", 3, "user", "día 123 Ü—ß " * 60, None),  # >512 chars, unicode
        ("c0", 4, "user", "aaaa    bbbb", None),       # collapse runs
        ("c0", 5, "user", "数据质量 123 データ", None),   # CJK long-tail LUT
        ("c0", 6, "user", "Hello World 42!", None),    # repeat (count > 1)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    def _keys(frame):
        return sorted(
            (r["lu_key"] for r in frame.collect()),
            key=lambda k: (k is None, k or ""),
        )

    jvm = _keys(with_mask_key(df).select("lu_key"))
    arrow = _keys(with_mask_key_arrow(df))
    assert arrow == jvm, (arrow, jvm)
    dict_jvm = {r["lu_key"]: r["lu_count"] for r in
                mask_frequency_dict(with_mask_key(df)).collect()}
    dict_arrow = {r["lu_key"]: r["lu_count"] for r in
                  mask_frequency_dict(with_mask_key_arrow(df)).collect()}
    assert dict_arrow == dict_jvm
    assert dict_arrow[None] == 1 and dict_arrow["_"] == 1


def test_drop_reason_distribution(reference_labels):
    """The synthetic mixture must exercise every decision path."""
    reasons = set(reference_labels["drop_reason"].dropna().unique())
    for expected in ("empty", "lang", "weird_chars", "digits", "duplicate"):
        assert expected in reasons, (expected, reasons)
    keep_rate = reference_labels["keep"].mean()
    assert 0.3 < keep_rate < 0.9, keep_rate


def test_native_decision_equals_kernel(spark, corpus_pdf):
    """decision_cols (native exprs) ≡ decide() kernel (pandas UDF)."""
    from bytefreq_spark.pipeline import (
        conversation_layout, featurize, mask_frequency_dict, with_decision,
        with_mask_frequency,
    )

    df = spark.createDataFrame(corpus_pdf)
    feat = featurize(df, 8)
    freq = mask_frequency_dict(with_mask_key(df))
    base = with_dup_flag(conversation_layout(with_mask_frequency(feat, freq)))
    key = ["conv_id", "turn_idx"]
    a = with_decision(base).select(*key, "keep", "drop_reason").toPandas().set_index(key).sort_index()
    b = with_decision_udf(base).select(*key, "keep", "drop_reason").toPandas().set_index(key).sort_index()
    assert (a["keep"] == b["keep"]).all()
    assert (a["drop_reason"].fillna("") == b["drop_reason"].fillna("")).all()


def test_whale_conversation_stress(spark):
    """The north rule's skew claim made falsifiable: ONE 10^5-turn whale
    conversation among ~1200 tiny ones.  Asserts (a) the pipeline completes
    and labels every turn, (b) the salted featurize stage is balanced (the
    whale does NOT pin the expensive UDF work to one task), (c) the
    window-lag dup path over the conversation layout agrees exactly with the
    layout-free self-join path at whale scale."""
    from pyspark.sql import functions as F

    from bytefreq_spark.pipeline import (
        featurize,
        mask_frequency_dict,
        quality_filter,
        with_decision,
        with_mask_frequency,
    )
    from bytefreq_spark.synth import gen_transcripts_spark

    tr = gen_transcripts_spark(
        spark, 1200, skew_every=1200, skew_len=100_000, partitions=16
    ).cache()
    n = tr.count()
    whale = tr.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert whale["count"] == 100_000  # the whale is really there
    assert n < whale["count"] * 1.5   # ...and dominates the corpus

    # (a) completes, labels every turn
    out = quality_filter(tr).cache()
    assert out.count() == n
    assert out.filter(F.col("keep").isNull()).count() == 0

    # (b) round-robin salt balances the featurize stage: no partition holds
    # more than ~2x its fair share even though one conversation is 80% of
    # the corpus
    feat = featurize(tr, salt_partitions=16)
    sizes = [r["n"] for r in feat.groupBy(
        F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 16
    assert max(sizes) <= 2 * (n / 16), sizes

    # (c) lag-over-layout dup path == skew-safe self-join dup path, at scale
    freq = mask_frequency_dict(with_mask_key(tr))
    alt = with_decision(
        with_prev_turn(with_mask_frequency(featurize(tr, 16), freq))
    ).select("conv_id", "turn_idx", "keep", "drop_reason")
    main = out.select("conv_id", "turn_idx", "keep", "drop_reason")
    assert main.exceptAll(alt).count() == 0
    assert alt.exceptAll(main).count() == 0
    tr.unpersist()
    out.unpersist()


def test_longdoc_corpus_parity(spark):
    """r4: the long-document corpus shape (10-50 KB texts — the lengths the
    BPE/LSH paths are tuned for).  Asserts (a) the generator really produces
    long texts, (b) quality_filter labels + scrubbed text agree EXACTLY with
    the single-node reference at that shape, (c) the default generator path
    is bit-unchanged by the new flag (same rng draw sequence)."""
    from bytefreq_spark.synth import gen_conversation

    # (c) default path bit-identical: flag-off == the pre-flag generator
    a = gen_conversation(7)
    b = gen_conversation(7, doc_words=None)
    pd.testing.assert_frame_equal(a, b)

    pdf = gen_transcripts_pandas(40, skew_every=0, doc_words=(1700, 8500))
    lens = pdf["text"].str.len()
    assert lens.max() > 10_000            # (a) real long docs
    assert lens[lens > 0].median() > 8_000

    ref = run_reference(pdf)
    out = (
        quality_filter(spark.createDataFrame(pdf))
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    refs = ref.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (out["keep"] == refs["keep"]).all()            # (b) F1 == 1.0
    assert (out["scrubbed_text"] == refs["scrubbed_text"]).all()


def test_quality_filter_stream_matches_batch(spark, tmp_path):
    """foreachBatch streaming quality filter (availableNow over a staged
    directory): a single micro-batch must equal the batch pipeline exactly
    (single batch ⇒ the intra-batch dup lag sees the whole input, so the
    cross-batch dup gap does not bite); a checkpointed restart must be a
    no-op."""
    from bytefreq_spark.pipeline import mask_frequency_dict, quality_filter
    from bytefreq_spark.streaming.profile_stream import (
        quality_filter_stream, read_transcript_stream,
    )
    from bytefreq_spark.synth import gen_transcripts_spark

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    gen_transcripts_spark(spark, 60).coalesce(1).write.parquet(in_dir)
    batch_input = spark.read.parquet(in_dir)
    freq = mask_frequency_dict(with_mask_key(batch_input))

    def run_stream():
        q = (
            quality_filter_stream(
                read_transcript_stream(spark, in_dir), out_dir, ckpt, freq,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    cols = ["conv_id", "turn_idx", "keep", "drop_reason", "scrubbed_text"]
    got = spark.read.parquet(out_dir).select(cols)
    want = quality_filter(batch_input).select(cols)
    assert got.count() == batch_input.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # restart against the same checkpoint: input already committed → no-op
    run_stream()
    assert spark.read.parquet(out_dir).count() == batch_input.count()


def test_snapshot_time_travel(spark, tmp_path):
    """Iceberg-style snapshot semantics: versioned immutable data dirs, an
    atomically-replaced manifest as the commit point, time-travel reads of
    prior versions, and config-fingerprint validity on the current one."""
    from bytefreq_spark.pipeline import (
        read_snapshot, snapshot_valid, snapshot_versions, write_snapshot,
    )

    out = str(tmp_path)
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(9).withColumnRenamed("id", "x")
    write_snapshot(df1, out, "t", {"cfg": 1})
    assert snapshot_valid(out, "t", {"cfg": 1})
    assert snapshot_versions(out, "t") == [1]

    write_snapshot(df2, out, "t", {"cfg": 2})
    assert snapshot_versions(out, "t") == [1, 2]
    assert snapshot_valid(out, "t", {"cfg": 2})
    assert not snapshot_valid(out, "t", {"cfg": 1})  # current is v2
    # current read sees v2; time travel still reads v1
    assert read_snapshot(spark, out, "t").count() == 9
    assert read_snapshot(spark, out, "t", version=1).count() == 5

    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, out, "t", version=7)
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, out, "missing")

    # maintenance: expire old versions, current stays readable
    from bytefreq_spark.pipeline import expire_snapshots

    assert expire_snapshots(out, "t", keep_last=1) == [1]
    assert snapshot_versions(out, "t") == [2]
    assert read_snapshot(spark, out, "t").count() == 9
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, out, "t", version=1)

    # r4 crash-recovery contract: (a) the manifest is rewritten BEFORE data
    # dirs are deleted, so a crash can only leave orphan dirs, never a
    # manifest pointing at missing data; (b) the orphan sweep on the next
    # expire reclaims such leftovers (simulated by planting a dir the
    # manifest doesn't list)
    import os as _os
    orphan = _os.path.join(out, "t", "v1")
    _os.makedirs(orphan, exist_ok=True)
    with open(_os.path.join(orphan, "junk"), "w") as f:
        f.write("crashed-expire leftover")
    assert expire_snapshots(out, "t", keep_last=1) == []  # nothing in log
    assert not _os.path.exists(orphan)                     # ...but swept
    assert read_snapshot(spark, out, "t").count() == 9     # current intact


def test_snapshot_modes_set_in_process(spark, tmp_path):
    """The session's local file system sets modes through java.nio (no chmod
    process per created file or directory), and a snapshot gets the modes
    Hadoop's default umask 022 gives: 0755 directories, 0644 files."""
    import os as _os

    from bytefreq_spark.pipeline import write_snapshot
    from bytefreq_spark.session import local_fs_classpath

    if local_fs_classpath() is None:
        pytest.skip("no javac or Hadoop jar: the session keeps Hadoop's own")
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"),
        spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == "bytefreq.InProcessLocalFileSystem"

    path = write_snapshot(spark.range(50, numPartitions=2), str(tmp_path),
                          "t", {})
    modes = {}
    for root, dirs, files in _os.walk(path):
        modes[root] = 0o755
        modes.update({_os.path.join(root, f): 0o644 for f in files})
    assert sum(f.endswith(".crc") for f in modes) >= 2  # checksums still kept
    assert {p: _os.stat(p).st_mode & 0o7777 for p in modes} == modes

    # exact bits, and the sticky bit (no java.nio flag) through chmod
    for mode in ("600", "751", "1777"):
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(path),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        assert _os.stat(path).st_mode & 0o7777 == int(mode, 8)


def test_get_spark_on_a_running_jvm_keeps_hadoop_fs(tmp_path):
    """A driver JVM started without the class's directory (plain builder,
    then stopped) gets no ``fs.file.impl`` it cannot load: get_spark on it
    still writes and reads local parquet."""
    import os as _os
    import subprocess
    import sys

    script = f"""
from pyspark.sql import SparkSession
from bytefreq_spark.session import get_spark
SparkSession.builder.master("local[2]").getOrCreate().stop()
s = get_spark("reuse", cores=2)
s.range(10).write.parquet({str(tmp_path / "p")!r})
assert s.read.parquet({str(tmp_path / "p")!r}).count() == 10
s.stop()
"""
    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", script], cwd=repo, check=True,
                   capture_output=True, timeout=600)


def test_quality_filter_stream_multibatch_boundary(spark, tmp_path):
    """The stateless stream's dup scope, made falsifiable: with >1
    micro-batch the foreachBatch filter detects only intra-batch duplicate
    turns (cross-batch pairs are streaming.stateful_dedup's job).  A dup
    pair straddling the batch boundary is flagged by the batch pipeline but
    NOT by the stream — and that must be the ONLY divergence."""
    from pyspark.sql import functions as F

    from bytefreq_spark.pipeline import mask_frequency_dict, quality_filter
    from bytefreq_spark.streaming.profile_stream import quality_filter_stream
    from bytefreq_spark.synth import TRANSCRIPT_SCHEMA

    base = "it is a fine day and we review the report"  # low-ppl keeper
    rows1 = [
        ("c1", 0, "user", base, None, "2025-01-01 00:00:00"),
        ("c2", 0, "user", "a fine day to review the report with you", None,
         "2025-01-01 00:00:01"),
    ]
    rows2 = [
        ("c1", 1, "user", base, None, "2025-01-01 00:00:02"),  # cross-batch dup
        ("c2", 1, "user", "it is a fine day and we review it", None,
         "2025-01-01 00:00:03"),
        ("c2", 2, "user", "it is a fine day and we review it", None,
         "2025-01-01 00:00:04"),  # in-batch dup
    ]

    def mk(rows):
        df = spark.createDataFrame(
            [(c, t, r, x, tool, ts) for c, t, r, x, tool, ts in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string",
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    mk(rows1).coalesce(1).write.parquet(in_dir)
    mk(rows2).coalesce(1).write.mode("append").parquet(in_dir)
    full = spark.read.parquet(in_dir)
    assert len(full.inputFiles()) >= 2
    freq = mask_frequency_dict(with_mask_key(full))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        quality_filter_stream(stream, out_dir, ckpt, freq)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    key = ["conv_id", "turn_idx"]
    got = (
        spark.read.parquet(out_dir)
        .select(*key, "keep", "drop_reason").toPandas()
        .set_index(key).sort_index()
    )
    want = (
        quality_filter(full)
        .select(*key, "keep", "drop_reason").toPandas()
        .set_index(key).sort_index()
    )
    assert len(got) == len(want) == 5
    diff = got["keep"] != want["keep"]
    # exactly the boundary-straddling dup diverges: batch drops it as
    # duplicate, the stream (which never saw turn 0 in the same batch) keeps it
    assert list(got.index[diff]) == [("c1", 1)]
    assert want.loc[("c1", 1), "drop_reason"] == "duplicate"
    assert bool(got.loc[("c1", 1), "keep"]) is True
    # the in-batch dup is caught by BOTH paths
    assert want.loc[("c2", 2), "drop_reason"] == "duplicate"
    assert got.loc[("c2", 2), "drop_reason"] == "duplicate"


def test_labels_bucket_pruning(spark, tmp_path):
    """The labels-table layout at 10^12 turns: conversations hash-bucketed
    into partition dirs; a per-conversation read prunes to ONE bucket
    (PartitionFilters + scanned-file evidence), and returns exactly that
    conversation's turns in order."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from bytefreq_spark.pipeline import (
        quality_filter, read_conversation, write_labels_partitioned,
    )
    from bytefreq_spark.synth import gen_transcripts_spark

    tr = gen_transcripts_spark(spark, 60)
    labels = quality_filter(tr)
    path = str(tmp_path / "labels")
    write_labels_partitioned(labels, path, n_buckets=8)

    conv = "conv_00000007"
    got = read_conversation(spark, path, conv, n_buckets=8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "conv_bucket" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]

    rows = got.collect()
    want = [r["turn_idx"] for r in tr.filter(
        F.col("conv_id") == conv).orderBy("turn_idx").collect()]
    assert [r["turn_idx"] for r in rows] == want and want

    # file evidence: the bucket-filtered scan touches exactly one bucket dir
    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(conv)), F.lit(8)).cast("int").alias("b")
    ).first()["b"]
    files = [r[0] for r in spark.read.parquet(path).filter(
        F.col("conv_bucket") == int(bucket)).select(
        F.input_file_name()).distinct().collect()]
    assert files and all(f"conv_bucket={bucket}/" in f for f in files)


def test_run_incremental(spark, tmp_path):
    """Incremental ingest: only new conversations are labeled, the mask
    dictionary is an additive monoid (the committed labels' tally equals
    the full-corpus tally), new rows match a full recompute, re-ingesting
    the same corpus is a no-op, and no freq snapshot is written or read."""
    from bytefreq_spark.pipeline import (
        mask_frequency_dict, quality_filter, read_snapshot, run_incremental,
        snapshot_versions, write_snapshot,
    )
    from bytefreq_spark.synth import gen_transcripts_spark

    out = str(tmp_path / "inc")
    a = gen_transcripts_spark(spark, 40)
    lab1, n1 = run_incremental(spark, a, out)
    assert n1 == a.count() and lab1.count() == n1

    ab = gen_transcripts_spark(spark, 70)  # serials 0..69 ⊃ A's 0..39
    b_only = ab.join(a.select("conv_id").distinct(), "conv_id", "left_anti")
    lab2, n2 = run_incremental(spark, ab, out)
    assert n2 == b_only.count() and n2 > 0
    assert lab2.count() == ab.count()
    assert snapshot_versions(out, "labels") == [1, 2]

    # monoid check: the committed labels' lu_key tally (the dictionary's
    # source for committed turns) == the full-corpus rescan tally
    freq_inc = {r["lu_key"]: r["lu_count"]
                for r in mask_frequency_dict(lab2).collect()}
    freq_full = {r["lu_key"]: r["lu_count"]
                 for r in mask_frequency_dict(with_mask_key(ab)).collect()}
    assert freq_inc == freq_full

    # the new batch's decisions equal a full recompute's decisions for the
    # same conversations (both see the full dictionary)
    cols = ["conv_id", "turn_idx", "keep", "drop_reason"]
    b_ids = b_only.select("conv_id").distinct()
    got_b = lab2.join(b_ids, "conv_id").select(cols)
    want_b = quality_filter(ab).join(
        b_ids, "conv_id").select(cols)
    assert got_b.exceptAll(want_b).count() == 0
    assert want_b.exceptAll(got_b).count() == 0

    # idempotence: same corpus again → nothing new, table unchanged
    lab3, n3 = run_incremental(spark, ab, out)
    assert n3 == 0 and lab3.count() == ab.count()
    assert snapshot_versions(out, "labels") == [1, 2]
    assert snapshot_versions(out, "freq") == []

    # a leftover freq table, as an older version wrote it (keyed to the
    # current labels version, so it would pass a validity check), changes
    # no decision: the next batch labels exactly as it does in a copy of
    # the directory without it
    clean = str(tmp_path / "clean")
    shutil.copytree(out, clean)
    bogus = spark.createDataFrame([("zzzz", 10**9)],
                                  "lu_key string, lu_count long")
    write_snapshot(bogus, out, "freq", {"version": 2, "labels_version": 2})
    abc = gen_transcripts_spark(spark, 85)
    lab4, n4 = run_incremental(spark, abc, out)
    want4, want_n4 = run_incremental(spark, abc, clean)
    assert n4 == want_n4 > 0 and lab4.count() == abc.count()
    assert lab4.select(cols).exceptAll(want4.select(cols)).count() == 0
    assert want4.select(cols).exceptAll(lab4.select(cols)).count() == 0
    assert snapshot_versions(clean, "freq") == []
    freq_full3 = {r["lu_key"]: r["lu_count"]
                  for r in mask_frequency_dict(with_mask_key(abc)).collect()}
    assert {r["lu_key"]: r["lu_count"]
            for r in mask_frequency_dict(lab4).collect()} == freq_full3

    # the thin conv_index cache (the anti-join's right side at scale) is
    # maintained and equals the committed conversations; a stale/corrupt one
    # (crash between the labels and index commits) is ignored — the
    # anti-join falls back to distinct-ing the labels table, so a poisoned
    # index can never drop or duplicate conversations
    idx = {r["conv_id"] for r in read_snapshot(spark, out, "conv_index").collect()}
    assert idx == {r["conv_id"]
                   for r in abc.select("conv_id").distinct().collect()}
    poisoned = spark.createDataFrame(
        [("never-a-conv",)], "conv_id string")
    write_snapshot(poisoned, out, "conv_index", {"labels_version": -1})
    abcd = gen_transcripts_spark(spark, 100)
    lab5, n5 = run_incremental(spark, abcd, out)
    d_only = abcd.join(abc.select("conv_id").distinct(), "conv_id",
                       "left_anti")
    assert n5 == d_only.count() and lab5.count() == abcd.count()
    idx5 = {r["conv_id"] for r in read_snapshot(spark, out, "conv_index").collect()}
    assert idx5 == {r["conv_id"]
                    for r in abcd.select("conv_id").distinct().collect()}


def test_incremental_ingest_stream(spark, tmp_path):
    """r4: the 10^12-turn ingest loop as a streaming job — each micro-batch
    runs the crash-safe run_incremental commit.  Asserts (a) multi-micro-
    batch ingest (maxFilesPerTrigger=1) labels everything exactly once and
    the committed labels' tally equals the full-corpus tally, (b) REPLAYING the
    whole feed under a FRESH checkpoint (foreachBatch's at-least-once worst
    case) is a no-op thanks to the anti-join — effectively-exactly-once
    without sink transactions."""
    from bytefreq_spark.pipeline import (
        mask_frequency_dict, read_snapshot, snapshot_versions,
    )
    from bytefreq_spark.streaming.profile_stream import (
        incremental_ingest_stream, read_transcript_stream,
    )
    from bytefreq_spark.synth import gen_transcripts_spark

    in_dir, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    a = gen_transcripts_spark(spark, 25)
    b = gen_transcripts_spark(spark, 50).join(
        a.select("conv_id").distinct(), "conv_id", "left_anti")
    a.coalesce(1).write.mode("append").parquet(in_dir)
    b.coalesce(1).write.mode("append").parquet(in_dir)
    full = spark.read.parquet(in_dir)

    def run(ckpt_dir):
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = (
            incremental_ingest_stream(stream, out, ckpt_dir)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run(ckpt)
    labels = read_snapshot(spark, out, "labels")
    assert labels.count() == full.count()
    assert labels.select("conv_id", "turn_idx").distinct().count() == full.count()
    n_versions = len(snapshot_versions(out, "labels"))
    assert n_versions >= 2  # really ingested in >1 micro-batch

    freq_inc = {r["lu_key"]: r["lu_count"]
                for r in mask_frequency_dict(labels).collect()}
    freq_full = {r["lu_key"]: r["lu_count"]
                 for r in mask_frequency_dict(with_mask_key(full)).collect()}
    assert freq_inc == freq_full

    # full replay, fresh checkpoint: every batch reprocessed, nothing changes
    run(str(tmp_path / "ckpt2"))
    labels2 = read_snapshot(spark, out, "labels")
    assert labels2.count() == full.count()
    assert len(snapshot_versions(out, "labels")) == n_versions


def test_drop_text_equals_default_projection(spark, corpus_pdf):
    """VERDICT_r6 #2: the at-scale config end-to-end — quality_filter(
    drop_text=True) must equal the default run projected to the surviving
    columns, over the standard corpus (which includes non-ASCII, scrubbed,
    NULL-tool and empty-text rows), not just the dup-flag core."""
    df = spark.createDataFrame(corpus_pdf)
    full = quality_filter(df).toPandas()
    dropped = quality_filter(df, drop_text=True).toPandas()
    surviving = [c for c in full.columns if c not in ("text", "tool", "lu_key")]
    assert sorted(dropped.columns) == sorted(surviving)
    key = ["conv_id", "turn_idx"]
    a = full[surviving].sort_values(key).reset_index(drop=True)
    b = dropped[surviving].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_auto_salt_decision(spark):
    """The r7 measured salt-skip (VERDICT_r6 #1): a balanced layout skips
    the featurize round-robin exchange, a whale-skewed layout keeps it, and
    the probed output is identical to the always-salted run."""
    from bytefreq_spark.pipeline import input_salt_decision
    from bytefreq_spark.synth import gen_transcripts_pandas as gen

    pdf = gen(120)
    df = spark.createDataFrame(pdf).repartition(8)
    assert input_salt_decision(df, 8) is None  # balanced round-robin → skip

    whale = gen(30, skew_every=30, skew_len=3000)
    wdf = spark.createDataFrame(whale).repartition(8, "conv_id")
    assert input_salt_decision(wdf, 8) == 8    # one fat partition → salt

    key = ["conv_id", "turn_idx"]
    out_a = (quality_filter(df)
             .toPandas().sort_values(key).reset_index(drop=True))
    out_b = (forced_salt(df, 8)
             .toPandas().sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(out_a, out_b)


def test_auto_salt_is_default(spark):
    """r8 (VERDICT_r7 #2): a plain ``quality_filter(df)`` call probes the
    layout and drops the round-robin exchange on balanced input, while the
    composed pipeline with ``featurize(df, N)`` salts unconditionally."""
    from bytefreq_spark.synth import gen_transcripts_pandas as gen

    df = spark.createDataFrame(gen(120)).repartition(8)
    # the probe's width 16 (2 × the session's 8 cores) ≠ the input's own
    # repartition(8), so the salt exchange is identifiable in the plan text
    # (and CollapseRepartition cannot merge the two the way equal widths
    # would)
    def plan_of(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    probed = quality_filter(df)
    forced = forced_salt(df, 16)
    assert "RoundRobinPartitioning(16)" not in plan_of(probed)  # skipped
    assert "RoundRobinPartitioning(16)" in plan_of(forced)      # pinned salt


def test_checkpoint_resume_skips_salt_probe(spark, tmp_path, monkeypatch):
    """ADVICE_r7 #1: a fully-resumed run must NOT re-scan the input — the
    salt only places rows, so it is not in the snapshot fingerprint and the
    probe runs only when the featurized snapshot is rebuilt."""
    import bytefreq_spark.pipeline as P

    df = gen_transcripts_spark(spark, 40, partitions=4)
    out = str(tmp_path / "ckpt_probe_skip")
    first = run_with_checkpoints(spark, df, out)
    n_first = first.count()

    calls = {"n": 0}
    real = P.input_salt_decision

    def spy(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(P, "input_salt_decision", spy)
    labels = P.run_with_checkpoints(spark, df, out)
    assert calls["n"] == 0, "resume re-ran the input salt probe"
    assert labels.count() == n_first
    assert P.snapshot_versions(out, "labels") == [1]
    # a fresh directory (here also another config) probes once
    out2 = str(tmp_path / "ckpt_probe_skip2")
    P.run_with_checkpoints(spark, df, out2, drop_text=True)
    assert calls["n"] == 1


def test_input_lineage_many_files(spark, tmp_path):
    """VERDICT_r6 #6: a 100 TB run starts as thousands of parquet files —
    the input-lineage table must pick up the REAL file boundaries
    (input_file_name), one row per part file, rows summing to the corpus."""
    import glob
    import os as _os

    src = str(tmp_path / "src")
    gen_transcripts_spark(spark, 60, partitions=4).repartition(6).write.parquet(src)
    part_files = glob.glob(src + "/part-*.parquet")
    assert len(part_files) == 6

    tr = spark.read.parquet(src)
    out_dir = str(tmp_path / "ckpt_lineage")
    run_with_checkpoints(spark, tr, out_dir)

    from bytefreq_spark.pipeline import read_snapshot

    lin = read_snapshot(spark, out_dir, "input_lineage").toPandas()
    assert len(lin) == len(part_files)
    assert {_os.path.basename(f) for f in lin["file"]} == {
        _os.path.basename(p) for p in part_files
    }
    assert int(lin["rows"].sum()) == tr.count()


def test_input_salt_decision_byte_skew(spark):
    """r7 review: a byte-skewed but row-balanced input must KEEP the salt —
    a longdocs-style fat partition starves featurize just like a fat-row
    one, and the rows-only probe used to wave it through."""
    from bytefreq_spark.pipeline import input_salt_decision

    small = pd.DataFrame({"text": ["hello world"] * 70})
    big = pd.DataFrame({"text": ["x" * 20000] * 10})
    sdf = spark.createDataFrame(small).repartition(7)
    # union preserves child partitioning: 7 short partitions + 1 partition
    # with the SAME row count carrying ~200x the bytes
    skewed = sdf.unionByName(spark.createDataFrame(big).coalesce(1))
    assert input_salt_decision(skewed, 8) == 8

    # control: the same 7+1 layout with short texts everywhere passes
    ctrl = sdf.unionByName(
        spark.createDataFrame(
            pd.DataFrame({"text": ["hello world"] * 10})).coalesce(1))
    assert input_salt_decision(ctrl, 8) is None


def test_auto_salt_default_target(spark):
    """r7 review: the probe runs against a parallelism-derived target and produces identical output — previously
    it was a silent no-op."""
    pdf = gen_transcripts_pandas(100)
    df = spark.createDataFrame(pdf).repartition(8)
    key = ["conv_id", "turn_idx"]
    out_a = (quality_filter(df)
             .toPandas().sort_values(key).reset_index(drop=True))
    out_b = (forced_salt(df, 8)
             .toPandas().sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(out_a, out_b)


@pytest.mark.parametrize("drop_text", [False, True])
def test_checkpoint_drop_text_and_auto_salt(spark, corpus_pdf, drop_text):
    """r7 review: the CLI forwards --drop-text and the probed salt to the
    checkpointed path — it must behave like quality_filter in the same
    config, column for column, not silently ignore the flags."""
    import tempfile as _tf

    df = spark.createDataFrame(corpus_pdf)
    tmp = _tf.mkdtemp(prefix="bfq_ckpt_at_")
    try:
        labels = run_with_checkpoints(
            spark, df, tmp, drop_text=drop_text).toPandas()
        for gone in ("text", "tool", "lu_key"):
            assert (gone in labels.columns) is not drop_text
        full = quality_filter(df, drop_text=drop_text).toPandas()
        assert list(labels.columns) == list(full.columns)
        key = ["conv_id", "turn_idx"]
        a = labels.sort_values(key).reset_index(drop=True)
        b = full.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_checkpoint_lineage_resume_gap(spark, tmp_path):
    """r7 review: a crash between the metrics commit and the lineage
    commits must leave a RESUMABLE gap — the next run rewrites only the
    missing snapshot (no duplicate versions of the ones that committed)."""
    import os as _os

    from bytefreq_spark.pipeline import read_snapshot, snapshot_valid

    df = gen_transcripts_spark(spark, 40, partitions=4)
    out = str(tmp_path / "ckpt_gap")
    run_with_checkpoints(spark, df, out)

    import json as _json

    def _current(name):
        with open(_os.path.join(out, f"{name}.manifest.json")) as f:
            return _json.load(f)["current"]

    before = {n: _current(n) for n in ("labels", "metrics", "lineage")}
    # simulate the crash: the manifest IS the commit point, so removing it
    # is exactly "metrics committed, input_lineage never did"
    _os.remove(_os.path.join(out, "input_lineage.manifest.json"))

    labels = run_with_checkpoints(spark, df, out)
    cfg = {"version": 2, "drop_text": False, "labels_version": 1}
    assert snapshot_valid(out, "input_lineage", cfg)
    lin = read_snapshot(spark, out, "input_lineage").toPandas()
    assert int(lin["rows"].sum()) == labels.count()
    # the already-committed tables were NOT re-appended
    for n, v in before.items():
        assert _current(n) == v


# byte strings that are not valid UTF-8, one per failure class: truncated
# sequences, a lone continuation byte, overlong forms, a UTF-16 surrogate,
# a code point above U+10FFFF, a 5-byte form and stray 0xFF/0xFE
_BAD_UTF8 = [
    b"\xff\xfe", b"\xed\xa0\x80", b"\xc3", b"\xe2\x82", b"\xf0\x9f\x98",
    b"\x80", b"\xc0\xaf", b"\xe0\x80\xaf", b"\xf4\x90\x80\x80",
    b"\xf8\x88\x80\x80\x80",
]
_GOOD_UTF8 = [b"", b"hello world", "café".encode(), "😀".encode()]


def _binary_text_frame(spark, rows):
    """``(conv_id, turn_idx, role, bytes)`` rows → a transcript frame whose
    ``text`` is ``CAST(binary AS STRING)``: the JVM holds the bytes as they
    are, invalid UTF-8 included."""
    raw = spark.createDataFrame(
        [(c, t, r, None if b is None else bytearray(b))
         for c, t, r, b in rows],
        "conv_id string, turn_idx int, role string, raw binary")
    return raw.select(
        "conv_id", "turn_idx", "role", F.col("raw").cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))


def test_invalid_utf8_repair_equals_python_decode(spark):
    """featurize and the rescan key replace invalid UTF-8 exactly as
    ``bytes.decode("utf-8", "replace")`` does: the repaired text, every
    feature and the dictionary keys equal a run over the Python-decoded
    strings (hand-picked failure classes plus random concatenations)."""
    import random

    rng = random.Random(7)
    pool = _BAD_UTF8 + _GOOD_UTF8 + [bytes([b]) for b in range(0x80, 0x100)]
    cases = _BAD_UTF8 + _GOOD_UTF8 + [
        b"".join(rng.choice(pool) for _ in range(rng.randint(1, 6)))
        for _ in range(2000)]
    rows = [("c", i, "user", b) for i, b in enumerate(cases)]
    cast = _binary_text_frame(spark, rows)
    decoded = spark.createDataFrame(
        [(c, i, r, b.decode("utf-8", "replace"), None, None)
         for c, i, r, b in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    cols = ["turn_idx", "text", "n_chars", "lu_key", "lang", "ppl",
            "scrubbed_text"]

    def feats(df):
        return featurize(df).select(cols).toPandas().sort_values(
            "turn_idx").reset_index(drop=True)

    got = feats(cast)
    assert got["text"].tolist() == [b.decode("utf-8", "replace")
                                    for b in cases]
    pd.testing.assert_frame_equal(got, feats(decoded))

    def keys(df):
        return sorted(r["lu_key"] for r in with_mask_key_arrow(df).collect())

    assert keys(cast) == keys(decoded)


def test_invalid_utf8_every_entry_point(spark, tmp_path):
    """A turn holding invalid UTF-8 or other pathological text no longer
    fails the job: the one-shot, checkpointed, incremental and streaming
    runs all label the frame as the single-node reference labels the
    Python-decoded texts.  The pathological rows: NUL bytes, an astral
    emoji with a skin-tone modifier, stacked combining marks, BOM and
    RTL/LTR marks, a 200k-space run, a 1 MiB turn, a 2.4M-char turn (at
    least 2^21 chars: the widest class-count packing), an empty and a NULL
    text."""
    from bytefreq_spark.pipeline import run_incremental
    from bytefreq_spark.streaming.profile_stream import (
        quality_filter_stream, read_transcript_stream,
    )

    texts = [b"hello world", b"\xff\xfe", b"\xed\xa0\x80",
             b"nul\x00byte\x00\x00 end",
             "thumbs \U0001F44D\U0001F3FD up \U0001F9D1\U0001F3FF\u200d"
             "\U0001F4BB".encode(),
             "e\u0301\u0301 n\u0303o Z\u0351\u0352\u0353\u0354".encode(),
             "\ufeffhello \u200f\u05e9\u05dc\u05d5\u05dd\u200e world".encode(),
             b"a" + b" " * 200_000 + b"b",
             (b"The quick brown fox, 42 times. " * 40_000)[:1 << 20],
             ("aA9 ,\u00e91234 zz " * 200_000)[:2_400_000].encode(),
             b"", None]
    rows = [("c1", i, ("user", "assistant")[i % 2], b)
            for i, b in enumerate(texts)]
    pdf = pd.DataFrame(
        [(c, t, r, None if b is None else b.decode("utf-8", "replace"),
          None, None) for c, t, r, b in rows],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    key = ["conv_id", "turn_idx"]
    cols = key + ["keep", "drop_reason", "scrubbed_text"]
    want = run_reference(pdf)[cols].sort_values(key).reset_index(drop=True)
    assert want["scrubbed_text"].tolist()[1:3] == ["\ufffd" * 2, "\ufffd" * 3]

    df = _binary_text_frame(spark, rows)
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    q = (quality_filter_stream(
            read_transcript_stream(spark, in_dir), out_dir,
            str(tmp_path / "sck"),
            mask_frequency_dict(with_mask_key_arrow(spark.read.parquet(in_dir))))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    runs = {
        "quality_filter": quality_filter(df),
        "run_with_checkpoints": run_with_checkpoints(
            spark, df, str(tmp_path / "ck")),
        "run_incremental": run_incremental(
            spark, df, str(tmp_path / "inc"))[0],
        "quality_filter_stream": spark.read.parquet(out_dir),
    }
    for name, out in runs.items():
        got = out.select(cols).toPandas().sort_values(key).reset_index(
            drop=True)
        pd.testing.assert_frame_equal(got, want[cols], check_dtype=False,
                                      obj=name)


def test_invalid_utf8_profiling_entry_points(spark):
    """The mask tally (every grain), the enhanced HU/LU masks and the
    minhash near-dup search take invalid UTF-8 (a binary cast) as the
    Python-decoded text: their Arrow kernels see U+FFFD, as featurize's
    does, instead of failing the job."""
    from bytefreq_spark.dedup import minhash_near_dups
    from bytefreq_spark.profile import mask_frequency
    from bytefreq_spark.rules import enhanced

    fox = b"the quick brown fox jumps over the lazy dog "
    texts = [b"hello world", b"\xff\xfe", b"\xed\xa0\x80 x9",
             fox + b"\xff\xfe", fox + b"\xff\xfe!", b"caf\xc3\xa9 42", b"",
             None]
    rows = [("c1", i, "user", b) for i, b in enumerate(texts)]
    bad = _binary_text_frame(spark, rows).select(
        F.col("turn_idx").alias("doc_id"), "text")
    good = spark.createDataFrame(
        [(i, None if b is None else b.decode("utf-8", "replace"))
         for i, b in enumerate(texts)], "doc_id int, text string")
    for grain in ("H", "L", "HU", "LU", "AWK_H", "AWK_L"):
        got, want = ({(r["pattern"], r["count"]) for r in mask_frequency(
            df, ["text"], grain).collect()} for df in (bad, good))
        assert got == want, grain
    got, want = (sorted(str(tuple(r)) for r in enhanced(df, ["text"]).select(
        "text.HU", "text.LU").collect()) for df in (bad, good))
    assert got == want
    got, want = ({(r["id_a"], r["id_b"]) for r in minhash_near_dups(
        df, threshold=0.5).collect()} for df in (bad, good))
    assert got == want and (3, 4) in got
