"""Distributed quality-filter pipeline (the north-rule system).

One tally pass, then one rule pass — every entry point runs the same chain
(all declarative DataFrame ops; Python only in Arrow-vectorized pandas-UDF
stages):

1. **salt probe** (one-shot and checkpointed runs) —
   ``input_salt_decision`` measures the input's partition layout and keeps
   the featurize round-robin only when partitions are too few or skewed by
   rows or bytes; the incremental run and the streams featurize in the
   input's own layout.
2. **featurize** — one pandas-UDF stage computing per-turn features, langid,
   perplexity, the LU mask key and scrubbed text from the shared kernels
   (single Arrow round-trip; no per-row Python).  Only ``text`` crosses in;
   every turn is scrubbed by the one Python rule table, the same function
   ``reference.run_reference`` runs.
3. **mask-frequency dictionary** — distributed ``groupBy(lu_key).count()``
   (the Spark analogue of bytefreq's associative-array tallies).  Only its
   source differs per entry point: a column-pruned Arrow rescan of the input
   (``quality_filter``), the featurized snapshot (``run_with_checkpoints``),
   the monoid merge of the committed tally with the new batch's
   (``run_incremental``), or a caller-supplied dictionary (the stream).
4. **labelling** — :func:`label_turns`: broadcast-join the dictionary (J4),
   hash the raw text to 64 bits, ONE hash exchange on ``conv_id`` sorted by
   ``(conv_id, turn_idx)`` (``conversation_layout``), an exchange-free lag
   over the hash for the duplicate flag, and the keep/drop decision as
   native expressions.  The output is conversation-contiguous and sorted
   by construction.
5. **snapshots** — versioned parquet snapshots with manifests for
   checkpoint/resume and incremental ingest, plus per-partition metrics and
   file lineage.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from .langid import detect_language
from .perplexity import perplexity
from .profile import per_file_counts
from .quality import text_features
from .scrub import scrub_series_sparse

FEATURE_SCHEMA = StructType([
    StructField("lu_key", StringType()),
    StructField("n_tokens", LongType()),
    StructField("digit_count", LongType()),
    StructField("weird_count", LongType()),
    StructField("mask_entropy", DoubleType()),
    StructField("lang", StringType()),
    StructField("ppl", DoubleType()),
    StructField("scrubbed_text", StringType()),
])


def _featurize_udf():
    @F.pandas_udf(FEATURE_SCHEMA)
    def feats(text: pd.Series) -> pd.DataFrame:
        # lu_key from the Python kernel: the vectorized run-collapse costs
        # ~13 µs core/turn vs ~87 µs for the JVM regexp chain kept in
        # tests/reference_paths.py (docs/PLANS.md §lu_key_mask_cost).  NULL
        # text yields NULL lu_key, exactly as the rescan dictionary's key
        # (with_mask_key_arrow).
        f = text_features(text).drop(columns=["n_chars"])
        f.loc[text.isna(), "lu_key"] = None
        f["lang"] = detect_language(text)
        f["ppl"] = perplexity(text)
        # rows the rule table leaves unchanged come back NULL, so unchanged
        # text never re-crosses Arrow; ``featurize`` coalesces them back to
        # the input.  NULL text scrubs to "".
        f["scrubbed_text"] = scrub_series_sparse(text)
        return f[[fld.name for fld in FEATURE_SCHEMA.fields]]

    return feats


def _lu_key_udf():
    """Arrow-vectorized LU dictionary key: the fused flat-buffer kernel
    (``masks.lu_mask_key_series``) over a JVM-side 512-char prefix.

    This is the same kernel featurize emits ``lu_key`` from, so dictionary
    keys and featurize keys agree STRUCTURALLY (one engine), on top of the
    char-for-char parity test_masks pins against the JVM chain (kept in
    tests/reference_paths.py).  NULL text yields NULL
    key, as in featurize (explicit ``.loc[text.isna()] = None``)."""
    from .masks import lu_mask_key_series
    from .quality import LU_KEY_LEN, LU_KEY_SRC_CHARS

    @F.pandas_udf(StringType())
    def lu_key(prefix: pd.Series) -> pd.Series:
        out = lu_mask_key_series(prefix, LU_KEY_SRC_CHARS, LU_KEY_LEN)
        out[prefix.isna()] = None
        return out

    return lu_key


def with_mask_key_arrow(df: DataFrame) -> DataFrame:
    """The RESCAN dictionary projection via the Arrow kernel: ``(lu_key)``
    only — the frequency dictionary groups by the key and needs nothing
    else, so the Arrow boundary carries exactly one 512-char JVM-side text
    prefix in and one ≤64-char key out (ship only the columns the function
    needs).

    r8: the JVM mask chain (translate + 5 regexp passes + the backreference
    collapse) measured 5.1-6.9 s on the 1.86M-turn corpus — half the entire
    pipeline wall — while this kernel does the same masking ~7× cheaper per
    turn (docs/PLANS.md §lu_key_mask_cost).  The JVM chain survives as the
    differential-test reference in the test suite.  The projection keeps
    the input's partition layout: a salt exchange in front of it measured
    1.87 s against 1.04 s unsalted on the whale_sf1 dictionary branch."""
    from .quality import LU_KEY_SRC_CHARS

    # invalid UTF-8 (a binary cast) is repaired to U+FFFD before it reaches
    # Arrow, as in featurize, so both keys see the same text
    pref = df.select(
        F.substring(F.make_valid_utf8("text"), 1, LU_KEY_SRC_CHARS)
        .alias("_pref")
    )
    return pref.select(_lu_key_udf()(F.col("_pref")).alias("lu_key"))


def input_salt_decision(
    df: DataFrame, target: int, skew_tolerance: float = 2.0,
) -> int | None:
    """Measured salt decision (VERDICT_r6 #1): probe the input's partition
    layout with one cheap job and return ``None`` when the layout is already
    acceptable — the featurize round-robin exchange is pure overhead on a
    balanced input (docs/SCALE.md: salt is optional on bucketed Iceberg).

    "Acceptable" = enough partitions to occupy the cluster (≥ target/2) AND
    no partition more than ``skew_tolerance``× the mean by EITHER row count
    or text bytes — a whale conversation is whale-shaped in rows, but a
    longdocs-style file is whale-shaped in bytes at balanced row counts,
    and both starve the featurize stage (r7 review: the original
    rows-only probe passed the byte-skewed shape).  On a real Iceberg
    table the same decision can be made from file-size metadata without
    any job at all — this helper is the sandbox-honest version that
    actually measures.

    r8: the conjunction is evaluated LAZILY in two jobs — a row-count-only
    pass first (column-pruned to nothing: no text bytes touched), and the
    byte-sum pass only when the counts already look acceptable.  The
    decision is identical (same predicate, short-circuited), but a
    row-skewed input — the whale, and the longdocs shape whose zipf turn
    counts are themselves skewed — resolves to keep-the-salt without ever
    streaming its text column (measured ~0.5 s saved per call on the
    176 MB longdocs corpus); a balanced input pays one extra count-only
    job (~0.05 s) before the byte check the skip decision genuinely
    needs."""
    by_part = df.groupBy(F.spark_partition_id().alias("p"))
    counts = [r["cnt"] for r in by_part.agg(
        F.count("*").alias("cnt")).collect()]
    if not _layout_acceptable(counts, None, target, skew_tolerance):
        return target
    if "text" not in df.columns:
        return None
    chars = [r["chars"] for r in by_part.agg(
        F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("chars")
    ).collect()]
    ok = _layout_acceptable(counts, chars, target, skew_tolerance)
    return None if ok else target


def _layout_acceptable(
    counts: list, chars: list | None, target: int,
    skew_tolerance: float = 2.0,
) -> bool:
    """Pure decision core of :func:`input_salt_decision` (property-tested):
    acceptable iff there are enough partitions to occupy the cluster AND
    the layout is balanced by rows AND (when known) by bytes."""
    if not counts:
        return True

    def _balanced(vals: list) -> bool:
        mean = sum(vals) / len(vals)
        return mean == 0 or max(vals) <= skew_tolerance * mean

    return (
        len(counts) >= max(target // 2, 1)
        and _balanced(counts)
        and (chars is None or _balanced(chars))
    )


def featurize(df: DataFrame, salt_partitions: int | None = None) -> DataFrame:
    """Stage 1: per-turn features/lang/ppl/scrub in one Arrow round-trip.

    ``salt_partitions`` forces an even round-robin repartition before the UDF
    stage so a skewed upstream layout (one huge conversation in one input
    file) cannot starve the scoring stage — per-turn work is
    order-independent, so this is free correctness-wise.  The Arrow stage
    ships only ``text``; every turn is scrubbed by the one Python rule
    table (``scrub.scrub_series_sparse``), and the rows it leaves unchanged
    coalesce back to the input JVM-side.  Invalid UTF-8 in ``text`` (a
    binary cast) is replaced by U+FFFD first, exactly as Python's
    ``bytes.decode("utf-8", "replace")`` does, so the Arrow stage never
    fails on it and every later column sees the repaired text.
    """
    if salt_partitions:
        df = df.repartition(salt_partitions)  # round-robin: breaks any skew
    df = df.withColumn("text", F.make_valid_utf8("text"))
    # n_chars stays a JVM projection (one length() call); every other
    # feature, lu_key included, comes from the UDF's Python kernels.  The
    # rescan dictionary branch runs the same lu_key kernel
    # (with_mask_key_arrow).
    df = df.withColumn(
        "n_chars", F.coalesce(F.length("text"), F.lit(0)).cast("long"))
    return (
        df.withColumn("_f", _featurize_udf()(F.col("text")))
        .select("*", "_f.*").drop("_f")
        .withColumn("scrubbed_text", F.coalesce("scrubbed_text", "text"))
    )


def mask_frequency_dict(featurized: DataFrame) -> DataFrame:
    """Stage 2a: corpus-wide LU-mask frequency dictionary (distributed
    groupBy-count; the bytefreq tally, A1)."""
    return featurized.groupBy("lu_key").agg(F.count("*").alias("lu_count"))


def with_mask_frequency(featurized: DataFrame, freq: DataFrame) -> DataFrame:
    """Stage 2b: broadcast the dictionary back onto turns (J4)."""
    # lu_total rides on the dictionary itself so the dict has exactly one
    # consumer — a second consumer (e.g. a separate total agg) would re-run
    # the full input scan that builds it.  Fold the tiny dict to ONE row
    # (entries list + grand total) and re-explode: same single-consumer DAG
    # as a global window but with no single-partition WindowExec (and no
    # 'No Partition Defined' log noise).  Safe because the dict is
    # post-aggregation low-cardinality (bounded by distinct truncated masks).
    one = freq.agg(
        F.collect_list(F.struct("lu_key", "lu_count")).alias("_entries"),
        F.sum("lu_count").alias("lu_total"),
    )
    freq2 = one.select(
        F.explode("_entries").alias("_e"), "lu_total"
    ).select("_e.lu_key", "_e.lu_count", "lu_total")
    return featurized.join(F.broadcast(freq2), "lu_key", "left")


def conversation_layout(df: DataFrame) -> DataFrame:
    """THE wide shuffle: hash-partition by conv_id, sort by (conv_id, turn_idx).

    This single exchange serves three consumers at once:
    1. the duplicate-turn ``lag`` window (needs conv_id partitioning + turn
       order → planned with NO additional exchange or sort),
    2. the stable (conv_id, turn_idx) output ordering (conversation-contiguous
       files, deterministic row order),
    3. conversation-level aggregates downstream.

    Skew note: a whale conversation lands in one partition, but by this point
    the expensive per-turn UDF work is already done (salted, upstream) — the
    whale only pays a streaming lag + native filters here.
    """
    return df.repartition("conv_id").sortWithinPartitions("conv_id", "turn_idx")


def with_dup_flag_hashed(df: DataFrame) -> DataFrame:
    """Duplicate-turn flag: a lag over the PRE-SHUFFLE 64-bit text hash
    ``_text_h`` instead of the raw text, so the lag window never needs the
    text column and ``drop_text=True`` can prune text/tool BEFORE the wide
    conversation shuffle (the dominant data movement at scale — see
    docs/SCALE.md).

    MUST run on a ``conversation_layout`` frame — then Catalyst plans the
    window with zero extra exchanges (check: no Exchange above the window in
    `.explain`).  The hash column must be NULL for NULL text (``xxhash64``
    would hash a NULL to the seed constant, letting a real text that hashes
    to the seed false-match an adjacent NULL row); with that convention the
    NULL/empty semantics match the exact text comparison.  A 64-bit
    collision between two ADJACENT same-conversation turns falsely flags a
    duplicate: expected false dups ≈ n_pairs·2⁻⁶⁴ ≈ 5×10⁻⁸ across 10^12
    turns — noise for a training-corpus filter (same documented tradeoff as
    paragraph_dedup's hash keys).  Equivalence with the exact flag is
    differential-tested (test_dup_flag_hashed_equals_exact)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("_text_h").over(w)
    return df.withColumn(
        "is_dup",
        prev.isNotNull()
        & (prev == F.col("_text_h"))
        & (F.col("n_chars") > 0),
    )


def decision_cols() -> tuple[F.Column, F.Column]:
    """Native-expression mirror of ``quality.decide`` (same rule order, same
    integer cross-multiplication, same float comparisons — no Arrow
    round-trip).  Parity is enforced by the end-to-end F1 test."""
    from . import quality as Q

    n = F.col("n_chars")
    dc, wc = F.col("digit_count"), F.col("weird_count")
    ent, ppl = F.col("mask_entropy"), F.col("ppl")
    lc = F.coalesce(F.col("lu_count"), F.lit(0))
    lt = F.coalesce(F.col("lu_total"), F.lit(0))
    lang = F.coalesce(F.col("lang"), F.lit("und"))
    role = F.coalesce(F.col("role"), F.lit(""))
    dup = F.coalesce(F.col("is_dup"), F.lit(False))

    reason = (
        F.when(n == 0, "empty")
        .when(n > Q.MAX_CHARS, "too_long")
        .when(~lang.isin(*Q.ALLOWED_LANGS), "lang")
        .when(wc * Q.WEIRD_DEN > n * Q.WEIRD_NUM, "weird_chars")
        .when(dc * Q.DIGIT_DEN > n * Q.DIGIT_NUM, "digits")
        .when(
            lang.isin(*Q.LATIN_LANGS)
            & role.isin("user", "assistant")
            & (ppl > Q.PPL_MAX),
            "perplexity",
        )
        .when(
            (n < Q.RARE_MAX_CHARS) & (lt > 0)
            & (lc * 1_000_000 < lt * Q.RARE_PPM),
            "rare_pattern",
        )
        .when((n >= Q.ENTROPY_MIN_CHARS) & (ent < Q.ENTROPY_MIN), "low_entropy")
        .when(dup, "duplicate")
    )
    return reason.isNull().alias("keep"), reason.alias("drop_reason")


def with_decision(df: DataFrame) -> DataFrame:
    """Stage 4: keep/drop as native expressions (JVM, whole-stage codegen)."""
    keep, reason = decision_cols()
    return df.withColumns({"keep": keep, "drop_reason": reason})


def label_turns(
    feat: DataFrame, freq: DataFrame, drop_text: bool = False,
) -> DataFrame:
    """The labelling tail every entry point shares: featurized turns + a
    mask-frequency dictionary → labeled turns.

    ONE wide shuffle: dictionary broadcast join → conversation layout →
    exchange-free lag window → native decision.  Output is
    conversation-contiguous and (conv_id, turn_idx)-sorted by construction;
    no sampling job, no persist needed.  The dup lag compares a 64-bit text
    hash computed BEFORE the shuffle (NULL for NULL text — see
    with_dup_flag_hashed), so with ``drop_text`` the raw text/tool columns
    are pruned from the exchange payload entirely: at 10^12-turn scale that
    halves the one full-data shuffle (scrubbed_text is the deliverable; raw
    text was riding along only to feed the adjacent-duplicate comparison).
    ``drop_text`` also drops ``lu_key`` from the output."""
    pre = with_mask_frequency(feat, freq).withColumn(
        "_text_h",
        F.when(F.col("text").isNotNull(), F.xxhash64("text")),
    )
    if drop_text:
        pre = pre.drop("text", "tool")
    labels = with_decision(
        with_dup_flag_hashed(conversation_layout(pre))).drop("_text_h")
    return labels.drop("lu_key") if drop_text else labels


def _probe_salt(df: DataFrame) -> int | None:
    """The one salt rule of the one-shot and checkpointed runs: probe the
    input layout and keep a featurize round-robin of 2× the session's
    default parallelism only where the probe finds too few or skewed
    partitions (``input_salt_decision``).  Looks ``input_salt_decision`` up
    at call time, so a wrapper installed on this module (the traced
    benchmark's probe timer) sees every call."""
    return input_salt_decision(
        df, df.sparkSession.sparkContext.defaultParallelism * 2)


def quality_filter(df: DataFrame, drop_text: bool = False) -> DataFrame:
    """Full pipeline: transcripts → labeled/scrubbed turns.

    The corpus-wide mask-frequency dictionary — the one stage that
    inherently needs a second look at the data — comes from a second,
    column-pruned scan of the *input* (``with_mask_key_arrow``): only a
    512-char text prefix crosses into the Arrow mask kernel and only the
    ≤64-char key comes back, so the heavy featurize UDF stage runs exactly
    once.  Cost at 100 TB: input is columnar parquet, so the rescan reads
    just the text column's compressed bytes (~the dominant column, call it
    T bytes) a second time — total I/O ≈ 2T reads, zero extra writes.
    (Persisting the featurized frame instead writes and re-reads its 2-3T
    of text + scrubbed_text + features; it measured slower in BENCH_r08.)

    ``drop_text`` drops the raw text/tool columns (and ``lu_key``) from the
    output — the scrubbed text is the deliverable at scale.  Output is
    always conversation-contiguous sorted (it falls out of the one shuffle;
    see :func:`label_turns`).

    The featurize salt is a MEASURED decision (:func:`_probe_salt`): the
    round-robin exchange is kept only when the input layout probe finds too
    few or skewed partitions; a balanced input (bucketed Iceberg, a
    freshly-written parquet corpus) skips it, removing one full-data
    exchange from the plan (docs/PLANS.md §quality_filter_nosalt proves the
    shape; the whale corpus measurably keeps the salt, see the salt-decision
    tests in tests/test_pipeline.py).  The probe costs one cheap
    column-pruned job (0.1 s at sf0.1, ~0.5 s at sf1; free on real Iceberg
    via file metadata).  To pin a plan shape instead, compose the parts:
    ``label_turns(featurize(df, n), mask_frequency_dict(
    with_mask_key_arrow(df)))`` with ``n`` partitions or ``None``.
    """
    feat = featurize(df, _probe_salt(df))
    return label_turns(
        feat, mask_frequency_dict(with_mask_key_arrow(df)), drop_text)


def run_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    config: dict | None = None,
) -> tuple[DataFrame, int]:
    """Incremental ingest — the 10^12-turn reality: you never reprocess the
    corpus; each batch labels only conversations not yet in the labels
    snapshot and commits new snapshot versions.

    The mask-frequency dictionary is maintained as the additive monoid it is
    (bytefreq's tally is just counts): ``freq(N+1) = freq(N) ⊎ tally(new
    turns)`` — exactly equal to a full-corpus recompute (asserted in
    test_run_incremental), with only the new turns scanned.  Crash safety:
    the labels table is the ONLY commit point (it retains ``lu_key`` —
    which is also why this path deliberately offers no ``drop_text``: the
    freq snapshot is rebuilt from labels on a validity mismatch, so the
    mask key must survive in the committed table; run the checkpointed or
    one-shot pipeline for the text-free output shape); the
    freq snapshot is a derived cache validity-keyed to the labels version,
    rebuilt from labels whenever the key mismatches — a failure between the
    labels and freq commits can never double- or under-count.  New
    conversations are decided against the dictionary as of their ingest;
    conversations are ingest-atomic (all turns arrive together), so the
    dup-lag and ordering semantics are unaffected.  The labels commit here
    rewrites old+new as v(N+1) (the sandbox parquet stand-in); on Iceberg
    this is a fast append of the new files to the table snapshot.

    The new batch featurizes in its own layout: no salt and no layout
    probe.  A per-batch probe measured 0.5-1.5 s dearer per two-batch
    ingest at ``local[4]`` (BENCH/NOTES.md, "Per-batch salt probe"); a
    probe that needs no Spark job (file metadata) is what would make it
    free.  The config is ``{**config, version: 2}``.

    Returns ``(labels_df, n_new_turns)``.
    """
    config = dict(config or {}, version=2)
    labels_v = snapshot_versions(out_dir, "labels")
    if labels_v:
        old_labels = read_snapshot(spark, out_dir, "labels")
        derived = dict(config, labels_version=labels_v[-1])
        # the anti-join's right side is the THIN conv_index cache (one
        # distinct conv_id column, ~avg_turns_per_conv × narrower than the
        # wide labels table a per-batch distinct would rescan); like freq it
        # is keyed to the labels version, so a crash between the commits can
        # never lose or duplicate conversations.  AQE turns the anti-join
        # into a broadcast join whenever the index is small enough.
        existing = _materialize(
            spark, out_dir, "conv_index", derived,
            lambda: old_labels.select("conv_id").distinct())
        new = transcripts.join(existing, "conv_id", "left_anti")
    else:
        old_labels, new = None, transcripts
    n_new = new.count()
    if n_new == 0 and old_labels is not None:
        return old_labels, 0

    # the delta tally runs the rescan's Arrow mask kernel, so it agrees
    # with featurize's lu_key by construction
    freq = mask_frequency_dict(with_mask_key_arrow(new))
    if old_labels is not None:
        freq_old = _materialize(
            spark, out_dir, "freq", derived,
            lambda: mask_frequency_dict(old_labels))
        freq = freq_old.unionByName(freq).groupBy("lu_key").agg(
            F.sum("lu_count").alias("lu_count"))

    labeled_new = label_turns(featurize(new), freq)
    combined = (
        labeled_new if old_labels is None
        else old_labels.unionByName(labeled_new)
    )
    write_snapshot(combined, out_dir, "labels", config)  # THE commit point
    labels = read_snapshot(spark, out_dir, "labels")
    # refresh the derived caches, keyed to the version just committed
    derived = dict(
        config, labels_version=snapshot_versions(out_dir, "labels")[-1])
    write_snapshot(mask_frequency_dict(labels), out_dir, "freq", derived)
    write_snapshot(
        labels.select("conv_id").distinct(), out_dir, "conv_index", derived)
    return labels, n_new


def conv_bucket_col(n_buckets: int) -> F.Column:
    """Stable conversation bucket: pmod(xxhash64(conv_id), n)."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def write_labels_partitioned(
    labels: DataFrame, path: str, n_buckets: int = 256,
) -> None:
    """The 10^12-turn labels-table layout: hash-bucket conversations into
    ``n_buckets`` parquet partitions.  Per-conversation reads (inspection,
    audits, incremental reprocessing) then prune to ONE bucket directory
    instead of scanning the table — same PartitionFilters mechanism as the
    IVF layout, asserted in test_labels_bucket_pruning."""
    (
        labels.withColumn("conv_bucket", conv_bucket_col(n_buckets))
        .write.partitionBy("conv_bucket")
        .mode("overwrite")
        .parquet(path)
    )


def read_conversation(
    spark: SparkSession, path: str, conv_id: str, n_buckets: int = 256,
) -> DataFrame:
    """Point lookup against the bucketed labels layout: compute the bucket
    for ``conv_id`` (same xxhash64 expression, evaluated on a literal), read
    only that partition, then filter to the conversation."""
    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(conv_id)), F.lit(n_buckets)).cast("int").alias("b")
    ).first()["b"]
    return (
        spark.read.parquet(path)
        .filter(F.col("conv_bucket") == int(bucket))
        .filter(F.col("conv_id") == conv_id)
        .orderBy("turn_idx")
    )


# ---------------------------------------------------------------------------
# Snapshots, checkpoint/resume, metrics, lineage
# ---------------------------------------------------------------------------


def _manifest_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, f"{name}.manifest.json")


def _load_manifest(out_dir: str, name: str) -> dict | None:
    mf = _manifest_path(out_dir, name)
    if not os.path.exists(mf):
        return None
    with open(mf) as f:
        return json.load(f)


def _commit_manifest(out_dir: str, name: str, man: dict) -> None:
    """Atomically replace the manifest of ``name`` — THE commit point of
    every snapshot write and expiry (tmp file + ``os.replace``)."""
    mf = _manifest_path(out_dir, name)
    with open(mf + ".tmp", "w") as f:
        json.dump(man, f, sort_keys=True)
    os.replace(mf + ".tmp", mf)


def write_snapshot(df: DataFrame, out_dir: str, name: str, config: dict) -> str:
    """Iceberg-style versioned snapshot commit.

    Data lands in an immutable ``{name}/v{N}`` directory first; the tiny
    manifest (version log + current pointer) is atomically replaced LAST —
    the commit point.  A crash mid-write leaves the previous version current
    and the half-written directory invisible; previous versions stay
    readable (``read_snapshot(version=...)`` time travel) until expired.
    """
    man = _load_manifest(out_dir, name) or {
        "name": name, "current": 0, "versions": {},
    }
    version = int(man["current"]) + 1
    path = os.path.join(out_dir, name, f"v{version}")
    df.write.mode("overwrite").parquet(path)
    man["versions"][str(version)] = {
        "config": config,
        "schema": df.schema.simpleString(),
    }
    man["current"] = version
    _commit_manifest(out_dir, name, man)
    return path


def read_snapshot(
    spark: SparkSession, out_dir: str, name: str, version: int | None = None,
) -> DataFrame:
    """Read a committed snapshot — the current one by default, or any prior
    version still in the log (time travel)."""
    man = _load_manifest(out_dir, name)
    if man is None or not man.get("current"):
        raise FileNotFoundError(f"no committed snapshot '{name}' in {out_dir}")
    v = int(version if version is not None else man["current"])
    if str(v) not in man["versions"]:
        raise FileNotFoundError(f"snapshot '{name}' has no version {v}")
    return spark.read.parquet(os.path.join(out_dir, name, f"v{v}"))


def snapshot_versions(out_dir: str, name: str) -> list[int]:
    man = _load_manifest(out_dir, name)
    return sorted(int(v) for v in (man or {}).get("versions", {}))


def expire_snapshots(out_dir: str, name: str, keep_last: int = 1) -> list[int]:
    """Iceberg-style maintenance: drop all but the newest ``keep_last``
    versions (data dirs deleted, log entries removed, current pointer kept).
    The current version always survives, so ``keep_last`` is clamped to ≥ 1.
    Also sweeps orphan ``v{N}`` dirs the manifest doesn't list (crashed
    expire leftovers / abandoned half-written snapshots) — like Iceberg's
    own maintenance actions, this must not run concurrently with a writer
    on the same snapshot name.  Returns the expired version ids."""
    import shutil

    keep_last = max(keep_last, 1)
    man = _load_manifest(out_dir, name)
    if man is None:
        return []
    versions = sorted(int(v) for v in man["versions"])
    expire = [v for v in versions[:-keep_last] if v != int(man["current"])]
    # manifest-first, delete-second: the manifest is the commit point, so it
    # must never list a version whose data is gone.  A crash after the
    # os.replace merely orphans data dirs; the reverse order would break
    # time travel on every surviving reader.
    for v in expire:
        man["versions"].pop(str(v), None)
    _commit_manifest(out_dir, name, man)
    for v in expire:
        shutil.rmtree(os.path.join(out_dir, name, f"v{v}"), ignore_errors=True)
    # orphan sweep — the recovery half of manifest-first ordering: any v{N}
    # dir on disk that the committed manifest no longer (or never) lists is
    # either a crashed expire's leftover or a half-written snapshot; without
    # this, repeated crashes would leak data dirs forever.  v{current+1} is
    # EXEMPT: write_snapshot stages data there before its manifest commit,
    # so under a concurrent writer that directory is indistinguishable from
    # a crashed leftover — it is the only version a writer can be staging,
    # and a genuinely crashed v{current+1} is swept by the next expire after
    # a successful commit moves current past it.
    base = os.path.join(out_dir, name)
    live = {f"v{v}" for v in man["versions"]}
    live.add(f"v{int(man['current']) + 1}")
    if os.path.isdir(base):
        for d in os.listdir(base):
            if (d.startswith("v") and d[1:].isdigit() and d not in live
                    and os.path.isdir(os.path.join(base, d))):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return expire


def snapshot_valid(out_dir: str, name: str, config: dict) -> bool:
    """True iff the CURRENT committed version was produced with ``config``."""
    man = _load_manifest(out_dir, name)
    if man is None or not man.get("current"):
        return False
    cur = man["versions"].get(str(man["current"]), {})
    return cur.get("config") == config


def _materialize(
    spark: SparkSession, out_dir: str, name: str, config: dict, build,
) -> DataFrame:
    """The one snapshot step of the checkpointed and incremental runs:
    commit ``build()`` as ``name`` unless its current version was made under
    ``config``, then read the committed table back.  ``build`` runs only
    when the snapshot is stale, so whatever it depends on (the salt probe,
    an upstream snapshot) is skipped on a valid resume."""
    if not snapshot_valid(out_dir, name, config):
        write_snapshot(build(), out_dir, name, config)
    return read_snapshot(spark, out_dir, name)


def run_with_checkpoints(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    config: dict | None = None,
    drop_text: bool = False,
) -> DataFrame:
    """Resumable run: each stage materializes a snapshot; a restart reloads
    completed stages (manifest + config fingerprint match) instead of
    recomputing — the sandbox stand-in for Iceberg snapshot checkpoints.

    The probe decides the salt as in :func:`quality_filter`, and with
    ``drop_text`` the labels snapshot carries scrubbed text only.  The
    labels come from the same :func:`label_turns` tail; the dictionary is
    tallied from the featurized snapshot's ``lu_key`` instead of a rescan
    of the input.

    The config is ``{**config, version: 2, drop_text}``: the salt only
    places rows and is not part of it, so the probe runs inside the
    featurized build and a resume with valid labels neither probes nor
    reads ``featurized``.  A resume serves the committed labels whatever
    the input now holds — point a new input at a new ``out_dir``.  The
    metrics and lineage tables are keyed to the labels version and each is
    committed only when stale, so a crash between their commits leaves a
    resumable gap."""
    os.makedirs(out_dir, exist_ok=True)
    config = dict(config or {}, version=2, drop_text=drop_text)

    def build_labels() -> DataFrame:
        feat = _materialize(
            spark, out_dir, "featurized", config,
            lambda: featurize(transcripts, _probe_salt(transcripts)))
        return label_turns(feat, mask_frequency_dict(feat), drop_text)

    labels = _materialize(spark, out_dir, "labels", config, build_labels)
    derived = dict(
        config, labels_version=snapshot_versions(out_dir, "labels")[-1])
    # input_lineage counts rows per source file of the transcripts: at
    # 100 TB audits need the real file boundaries, not the labels' layout
    tables = {
        "metrics": lambda: labels.groupBy(
            F.spark_partition_id().alias("partition_id")
        ).agg(
            F.count("*").alias("rows"),
            F.sum(F.col("keep").cast("int")).alias("kept"),
            F.approx_count_distinct("conv_id").alias("convs"),
        ),
        "lineage": lambda: per_file_counts(labels),
        "input_lineage": lambda: per_file_counts(transcripts),
    }
    for name, build in tables.items():
        if not snapshot_valid(out_dir, name, derived):
            write_snapshot(build(), out_dir, name, derived)
    return labels
