"""Frozen-expectation (golden) tests for the two kernel-heaviest driver
surfaces: langid and the full quality filter.  Both now have staged-artifact
DuckDB oracles (decision-layer replay over staged features, since r5/r6),
but the feature KERNELS themselves are not SQL-expressible — the goldens
freeze their behavior: any semantic drift in the kernels (langid tiers,
scrub rules, decision order, mask entropy, dup detection) shows up as a
value diff here, not just a row-count change.

Regenerate deliberately (after an intended semantic change) with:
    python scripts/make_goldens.py
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def test_langid_matches_golden(spark):
    from bytefreq_spark.textstats import with_langid

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = (
        with_langid(docs)
        .select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id")
        .toPandas()
    )
    want = pd.read_csv(os.path.join(GOLDEN, "langid_sf0001.csv"))
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )


def test_quality_filter_matches_golden(spark):
    """Same corpus + params as the driver's quality_filter_transcripts
    entry; scrubbed text is frozen byte-exactly via per-row md5."""
    from pyspark.sql import functions as F

    from bytefreq_spark.pipeline import quality_filter
    from bytefreq_spark.synth import gen_transcripts_spark

    tr = gen_transcripts_spark(spark, 120, skew_every=50, skew_len=300)
    got = (
        quality_filter(tr)
        .select(
            "conv_id", "turn_idx", "role", "lang", "keep", "drop_reason",
            F.md5(F.coalesce("scrubbed_text", F.lit(""))).alias("scrub_md5"),
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = pd.read_csv(os.path.join(GOLDEN, "quality_filter_120.csv"))
    assert len(got) == len(want)
    for df in (got, want):
        df["drop_reason"] = df["drop_reason"].fillna("")
        df["keep"] = df["keep"].astype(bool)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )


@pytest.mark.parametrize("name", ["langid_sf0001.csv", "quality_filter_120.csv"])
def test_goldens_checked_in(name):
    assert os.path.exists(os.path.join(GOLDEN, name))


def test_checkpoint_labels_match_golden(spark, tmp_path):
    """The checkpointed run's labels on the driver entry's corpus, frozen —
    the last rows-only surface now matches fixed expectations, not just a
    row count."""
    from bytefreq_spark.pipeline import run_with_checkpoints
    from bytefreq_spark.synth import gen_transcripts_spark

    tr = gen_transcripts_spark(spark, 60)
    got = (
        run_with_checkpoints(spark, tr, str(tmp_path / "ck"))
        .select("conv_id", "turn_idx", "keep", "drop_reason")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = pd.read_csv(os.path.join(GOLDEN, "checkpoint_labels_60.csv"))
    assert len(got) == len(want)
    for df in (got, want):
        df["drop_reason"] = df["drop_reason"].fillna("")
        df["keep"] = df["keep"].astype(bool)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )


def _perplexity_sample() -> pd.Series:
    """A seeded multilingual sample plus empty, NULL, over-cap, 1-char
    (right after a long row), dotted-I (lowers to two chars) and astral
    rows."""
    from bytefreq_spark.perplexity import CAP_CHARS
    from bytefreq_spark.synth import MULTILANG_KINDS, gen_transcripts_pandas

    edge = ["", None, "the quick brown fox " * 300, "x", "İ",
            "😀 astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text"]
    assert len(edge[2]) > CAP_CHARS
    return pd.concat([
        gen_transcripts_pandas(200, kinds=MULTILANG_KINDS)["text"],
        pd.Series(edge, dtype=object),
    ], ignore_index=True)


def test_perplexity_matches_golden_digest():
    """``ppl`` values pinned bit for bit (the other goldens hold only the
    keep/drop decisions they feed): sha256 of the float64 buffer over
    :func:`_perplexity_sample`.  The digest is also that of every row
    scored alone."""
    import hashlib

    from bytefreq_spark.perplexity import perplexity

    ppl = perplexity(_perplexity_sample())
    assert len(ppl) == 3843
    assert hashlib.sha256(ppl.to_numpy().tobytes()).hexdigest() == (
        "6adb3a94ed58214a9eeff05bead26acb88fcb51fe4591e30413fd569fce12feb")


def test_perplexity_batch_equals_row_alone():
    """A row's ``ppl`` does not depend on its neighbours: scoring the
    sample as one batch equals scoring each row alone, bit for bit (Spark's
    Arrow batches and the reference's single batch cut rows differently)."""
    import numpy as np

    from bytefreq_spark.perplexity import perplexity

    s = _perplexity_sample()
    batch = perplexity(s).to_numpy()
    alone = np.array([perplexity(s.iloc[i:i + 1]).iloc[0]
                      for i in range(len(s))])
    assert batch.tobytes() == alone.tobytes()
