"""Bench harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Credibility design (r6, after VERDICT_r5 flagged the harness as the least
defensible artifact in the repo):

* **All synthetic corpora are generated and PERSISTED to parquet before the
  first timed query** — corpus generation is heavy (mapInPandas over every
  conversation) and, when interleaved with timed rows, self-heats the host
  so later rows measure the harness's own noise.  Re-establishing an input
  between reps is now a parquet re-read (+cache), not a regeneration.
* **Per-query loadavg snapshots** (the ``loadavg`` dict in the output): one
  loadavg pair around a multi-minute sweep cannot adjudicate per-query
  noise; a reader can now see exactly which rows ran under external load.
* **Heavy rows run LAST** (flagship → forcesalt → whale → longdocs → the sf1
  block), so their heat cannot contaminate the cheap JVM-native rows that
  r5's sweep showed as phantom 18-84% "regressions".

``--scaling`` additionally runs the flagship quality-filter job at two
parallelism levels on identical input and reports throughput + scaling
efficiency into BENCH/BASELINE.md (the sandbox evidence for the north
rule's two-cluster-size criterion).
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


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _materialize(df):
    df.write.format("noop").mode("overwrite").save()


def _prepare_corpora(spark, sf: float, root: str) -> dict[str, dict]:
    """Generate every synthetic transcript corpus ONCE, before any timing,
    and persist each to parquet.  Returns name -> {path, turns}.  Timed reps
    re-establish an input with a cheap parquet read + cache instead of a
    full regeneration (the r5 harness regenerated the 1.86M-turn corpus
    inside the sweep — heat that contaminated unrelated rows)."""
    from bytefreq_spark.synth import MULTILANG_KINDS, gen_transcripts_spark

    n_convs = max(int(sf * 100000), 200)
    specs = {
        # flagship: 10k convs/sf0.1 ≈ 190k turns — big enough that
        # steady-state kernel throughput dominates fixed overhead
        "flagship": dict(n=n_convs, kw={}),
        # one order-of-magnitude scale step (linearity check)
        "sf1": dict(n=n_convs * 10, kw={}),
        # whale-skew stress: ONE 10^5-turn conversation among 2000 tiny ones
        "whale": dict(n=2000, kw=dict(skew_every=2000, skew_len=100_000)),
        # whale at sf1 ambient (VERDICT_r5 ask): the same 10^5-turn whale
        # hiding in the 10x corpus — skew handling must not degrade when
        # the surrounding shuffle is 10x wider
        "whale_sf1": dict(
            n=n_convs * 10,
            kw=dict(skew_every=n_convs * 10, skew_len=100_000),
        ),
        # long documents: 10-50 KB texts; MB/s is the honest unit here
        "longdocs": dict(
            n=max(int(sf * 4000), 50), kw=dict(skew_every=0,
                                               doc_words=(1700, 8500)),
        ),
        # non-ASCII-heavy mix (VERDICT_r6 #5): same conversation count as the
        # flagship but ~45% of turns in non-Latin scripts — prices the
        # Python scrub/langid branches the ASCII-dominated corpora hide
        "multilang": dict(n=n_convs, kw=dict(kinds=MULTILANG_KINDS)),
    }
    out: dict[str, dict] = {}
    for name, spec in specs.items():
        path = os.path.join(root, name)
        df = gen_transcripts_spark(spark, spec["n"], partitions=CPUS,
                                   **spec["kw"])
        df.write.mode("overwrite").parquet(path)
        out[name] = {"path": path}
    # row counts from parquet metadata (cheap, still untimed)
    for name in out:
        out[name]["turns"] = spark.read.parquet(out[name]["path"]).count()
    # many-file exhibit (VERDICT_r6 #6): the sf1 corpus rewritten as ~256
    # parquet files — a 100 TB input is thousands of files, not one cached
    # frame; its bench row reads this layout UNCACHED from disk
    path = os.path.join(root, "sf1_files256")
    spark.read.parquet(out["sf1"]["path"]).repartition(256).write.mode(
        "overwrite").parquet(path)
    out["sf1_files256"] = {"path": path, "turns": out["sf1"]["turns"]}
    return out


def _cooldown(ambient: float, timeout: float = 240.0) -> None:
    """VERDICT_r6 #4: the untimed corpus-generation burst self-heats the
    host, so the first timed rows after it read as phantom regressions
    (r6: token_stats +44% at loadavg 12 after a 49 s generation burst).
    Bounded sleep-poll until loadavg_1m decays to ~2× the recorded pre-run
    ambient (or a floor of 4 — this box idles around 2-3)."""
    target = max(ambient * 2.0, 4.0)
    t0 = time.time()
    while time.time() - t0 < timeout and os.getloadavg()[0] > target:
        time.sleep(5)


def _cached(spark, path: str):
    """Parquet read + cache + materialize — the untimed input re-establish
    used between reps (clearCache drops everything, including the input)."""
    df = spark.read.parquet(path).cache()
    df.count()
    return df


def bench_queries(spark, sf_dir: str, corpus_root: str,
                  ambient: float | None = None):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    from bytefreq_spark.dedup import minhash_near_dups, paragraph_dedup
    from bytefreq_spark.pipeline import (
        featurize, label_turns, mask_frequency_dict, quality_filter,
        with_mask_key_arrow,
    )
    from bytefreq_spark.profile import char_histogram, dq_report

    timings: dict[str, float] = {}
    # loadavg_1m snapshot taken immediately before each query's first rep —
    # the per-query noise context VERDICT_r5 asked for (a single pair around
    # the whole sweep cannot attribute a slow row to external load)
    loads: dict[str, float] = {}

    # min-of-2 even for the cheap rows: this host has external noisy
    # neighbors (loadavg 16 with zero local consumers observed) that can
    # triple a single run
    def run(name, thunk, reps: int = 2, clear_cache: bool = False,
            restore=None):
        loads[name] = round(os.getloadavg()[0], 2)
        walls = []
        for _rep in range(reps):
            if clear_cache:
                spark.catalog.clearCache()
                if restore is not None:
                    restore()
            t0 = time.time()
            thunk()
            walls.append(time.time() - t0)
        timings[name] = round(min(walls), 3)

    # ---- untimed prepare phase -------------------------------------------
    # session warm-up: JVM codegen + spawn the python worker pool once
    @F.pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s * 1.0

    spark.range(100000, numPartitions=CPUS).select(
        F.sum(_warm(F.col("id").cast("double")))
    ).collect()

    sf = _sf_from_dir(sf_dir)
    t_prep = time.time()
    corpora = _prepare_corpora(spark, sf, corpus_root)
    timings["_prepare_sec"] = round(time.time() - t_prep, 3)
    # let the generation burst's loadavg decay before the first timed row
    # (VERDICT_r6 #4) — the cooldown wall is recorded, not hidden
    t_cool = time.time()
    _cooldown(ambient if ambient is not None else 2.0)
    timings["_cooldown_sec"] = round(time.time() - t_cool, 3)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # ---- light JVM-native rows (first: coldest ambient) ------------------
    run("profile_events_lu", lambda: _materialize(
        dq_report(ev, ["event_type", "props", "value"], "LU")))
    run("profile_documents_hu", lambda: _materialize(
        dq_report(docs, ["text", "lang", "source"], "HU")))
    run("char_histogram", lambda: _materialize(char_histogram(docs, "text")))
    run("q1_pricing", lambda: _materialize(entry.q_q1_pricing(spark, sf_dir)))

    # decimal-vs-double cost probe: the contract variant sums in exact
    # decimal (cross-engine hash-exact money aggregates — the r2 correctness
    # fix); this row measures the same query with double sums + round.
    # Measured interleaved at sf0.1: decimal is ~3.4x the double variant —
    # the r1->r2 q1 regression is entirely the exactness tax, kept on
    # purpose (correctness over bench cosmetics).
    def _q1_double():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("2025-06-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                .alias("sum_disc_price"),
                F.count("*").alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    run("q1_pricing_double", lambda: _materialize(_q1_double()))
    run("revenue_join", lambda: _materialize(entry.q_revenue_by_segment(spark, sf_dir)))
    run("window_topk", lambda: _materialize(entry.q_top_orders_window(spark, sf_dir)))
    run("token_stats", lambda: _materialize(entry.q_token_stats(spark, sf_dir)))

    # ---- dedup / similarity family ---------------------------------------
    # min-of-2 with a cache clear between (minhash caches its signature
    # table internally — without clearCache a repeat run measures a cache
    # read, not the kernel)
    run("minhash_near_dups",
        lambda: _materialize(minhash_near_dups(docs, threshold=0.5)),
        clear_cache=True)

    # scale-path ANN rows (r4): embedding_near_dups = corpus-wide banded-LSH
    # self-join + exact cosine rescore over the sf embeddings unioned with a
    # shifted copy of itself (guaranteed near-dup pairs, 2x corpus)
    from bytefreq_spark.similarity import (
        embedding_near_dup_pairs, ivf_topk_partitioned,
        ivf_train_centroids, ivf_write_partitioned,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").head(1)[0][0])
    both = emb.union(
        emb.withColumn("vec_id", F.col("vec_id") + 10_000_000))
    run("embedding_near_dups",
        lambda: _materialize(
            embedding_near_dup_pairs(both, threshold=0.99, dim=dim)),
        clear_cache=True)

    # paragraph dedup over the documents corpus, paragraphized
    # deterministically (the synthetic docs are single-paragraph word salad;
    # breaking on a common word yields realistic paragraph counts with heavy
    # cross-document duplication — exactly the C4 shape the operator targets)
    para_docs = docs.select(
        "doc_id",
        F.regexp_replace("text", " table ", "\n\n").alias("text"),
    )
    run("paragraph_dedup",
        lambda: _materialize(paragraph_dedup(para_docs)), clear_cache=True)

    # boilerplate-heavy variant: 5 paragraphs per doc, 4 drawn from pools of
    # 20/7/3/1 templates — 80% of paragraphs are corpus-wide repeats (the C4
    # shape).  This is where the r5 keep-first rewrite shows: hot paragraphs
    # hash-aggregate map-side and the shuffle carries 8-byte xxhash64 keys,
    # not the repeated text
    boiler_docs = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.col("text"),
            F.concat(F.lit("site footer variant "),
                     (F.col("doc_id") % 20).cast("string")),
            F.concat(F.lit("navigation menu home products about contact "),
                     (F.col("doc_id") % 7).cast("string")),
            F.concat(F.lit("cookie consent banner accept decline "),
                     (F.col("doc_id") % 3).cast("string")),
            F.lit("copyright boilerplate shared by every page"),
        ).alias("text"),
    )
    run("paragraph_dedup_boiler",
        lambda: _materialize(paragraph_dedup(boiler_docs)), clear_cache=True)

    # IVF: the one-time index build (k-means train + partitionBy layout
    # write) and the per-query pruned probe read are separate costs — a user
    # pays the first once per corpus, the second per search.
    ivf_dir = tempfile.mkdtemp(prefix="bytefreq_bench_ivf_")
    try:
        qvec = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
        loads["ivf_build_partitioned"] = round(os.getloadavg()[0], 2)
        t0 = time.time()
        cents = ivf_train_centroids(emb, n_centroids=8)
        ivf_write_partitioned(emb, cents, ivf_dir)
        timings["ivf_build_partitioned"] = round(time.time() - t0, 3)
        run("ivf_partitioned_topk",
            lambda: _materialize(ivf_topk_partitioned(
                spark, ivf_dir, qvec, cents, k=10, n_probe=3)), reps=3)
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)

    # ---- quality-filter family (pre-staged corpora) ----------------------
    # flagship: min-of-5 — (a) external noisy neighbors can triple a single
    # run; (b) the JVM's C2 JIT keeps improving the wide codegen'd pipeline
    # through ~4 executions (measured: 6.4 -> 6.7 -> 4.8 -> 3.8 s across
    # reps at RISING load), so a min-of-3 still measures a part-interpreted
    # plan.  CacheManager would serve a repeat run from the previous run's
    # internal persist (plan-identical fragments) — clear + re-cache the
    # input between reps (a cheap parquet re-read now, not a regeneration).
    state = {"tr": _cached(spark, corpora["flagship"]["path"])}
    _materialize(quality_filter(state["tr"]))  # warm-up

    def _restore_flagship():
        state["tr"] = _cached(spark, corpora["flagship"]["path"])

    run("quality_filter",
        lambda: _materialize(quality_filter(state["tr"])),
        reps=5, clear_cache=True, restore=_restore_flagship)
    n_turns = corpora["flagship"]["turns"]
    timings["_turns"] = n_turns
    timings["_turns_per_sec"] = round(n_turns / timings["quality_filter"], 1)

    # the AT-SCALE config (drop_text=True — scrubbed text is the
    # deliverable): the dup lag compares a pre-shuffle 64-bit hash, so the
    # raw text never crosses the wide conversation exchange (plan-audit-
    # asserted).  Same work as the flagship row minus the text payload of
    # THE shuffle — the delta is the measured value of the r6 pruning.
    run("quality_filter_droptext",
        lambda: _materialize(quality_filter(state["tr"], drop_text=True)),
        clear_cache=True, restore=_restore_flagship)

    # measured salt-skip (VERDICT_r6 #1): the flagship corpus is balanced
    # (32 even generator partitions), so quality_filter's layout probe skips
    # the featurize round-robin in the flagship row; this row composes the
    # same parts with the salt forced — ONE MORE full-data exchange (plan
    # audit §quality_filter vs §quality_filter_nosalt) — so the delta is the
    # measured price of the salt on an input that doesn't need it
    run("quality_filter_forcesalt",
        lambda: _materialize(label_turns(
            featurize(state["tr"], CPUS * 2),
            mask_frequency_dict(with_mask_key_arrow(state["tr"])))),
        clear_cache=True, restore=_restore_flagship)
    state["tr"].unpersist()

    # whale-skew stress (the north rule's skew claim): salted featurize +
    # composite-key layout keep the 10^5-turn conversation moving;
    # correctness at this shape is asserted in
    # test_whale_conversation_stress — this row records the wall cost.
    wstate = {"df": _cached(spark, corpora["whale"]["path"])}

    def _restore_whale():
        wstate["df"] = _cached(spark, corpora["whale"]["path"])

    # a new key: the former quality_filter_whale row also salted the
    # dictionary rescan, a different plan
    run("quality_filter_whale_nodictsalt",
        lambda: _materialize(quality_filter(wstate["df"])),
        clear_cache=True, restore=_restore_whale)
    n_whale = corpora["whale"]["turns"]
    timings["_whale_turns"] = n_whale
    timings["_whale_nodictsalt_turns_per_sec"] = round(
        n_whale / timings["quality_filter_whale_nodictsalt"], 1)
    wstate["df"].unpersist()

    # long-document corpus (r4): 10-50 KB texts — mask/scrub/langid measured
    # at the lengths the BPE/LSH paths were tuned for.  MB/s is the honest
    # unit (turns/s rewards short rows).
    lstate = {"df": _cached(spark, corpora["longdocs"]["path"])}
    ld_mb = lstate["df"].select(F.sum(F.length("text"))).first()[0] / 1e6

    def _restore_longdocs():
        lstate["df"] = _cached(spark, corpora["longdocs"]["path"])

    run("quality_filter_longdocs",
        lambda: _materialize(quality_filter(lstate["df"])),
        clear_cache=True, restore=_restore_longdocs)
    timings["_longdoc_turns"] = corpora["longdocs"]["turns"]
    timings["_longdoc_mb"] = round(ld_mb, 1)
    timings["_longdoc_mb_per_sec"] = round(
        ld_mb / timings["quality_filter_longdocs"], 1)
    lstate["df"].unpersist()

    # non-ASCII-heavy corpus (VERDICT_r6 #5): same conversation count as the
    # flagship, ~45% non-Latin turns — every such turn takes the Python
    # scrub kernel (flag 2) and the langid script tiers, so the delta vs the
    # flagship row prices the non-ASCII branch the ASCII corpora never pay
    mlstate = {"df": _cached(spark, corpora["multilang"]["path"])}

    def _restore_multilang():
        mlstate["df"] = _cached(spark, corpora["multilang"]["path"])

    run("quality_filter_multilang",
        lambda: _materialize(quality_filter(mlstate["df"])),
        clear_cache=True, restore=_restore_multilang)
    n_ml = corpora["multilang"]["turns"]
    timings["_multilang_turns"] = n_ml
    timings["_multilang_turns_per_sec"] = round(
        n_ml / timings["quality_filter_multilang"], 1)
    mlstate["df"].unpersist()

    # ---- sf1 block (heaviest rows LAST — their heat cannot contaminate
    # the rows above) ------------------------------------------------------
    # one order-of-magnitude scale step for the flagship: the same job on a
    # 10× corpus.  This row exists to check LINEARITY — that no superlinear
    # term (freq-dict growth, broadcast limits, AQE re-plans) hides between
    # scales — so the turns/s should land within ~20% of the flagship row
    s1 = {"df": _cached(spark, corpora["sf1"]["path"])}

    def _restore_sf1():
        s1["df"] = _cached(spark, corpora["sf1"]["path"])

    run("quality_filter_sf1",
        lambda: _materialize(quality_filter(s1["df"])),
        reps=3, clear_cache=True, restore=_restore_sf1)
    n1 = corpora["sf1"]["turns"]
    timings["_sf1_turns"] = n1
    timings["_sf1_turns_per_sec"] = round(n1 / timings["quality_filter_sf1"], 1)

    # the FULL at-scale config — the salt probe AND drop_text together, the
    # two measured r7 levers and exactly what the scaling exhibit runs
    # (docs/SCALE.md): the layout probe (in the timing) skips the featurize
    # round-robin on this balanced input and raw text stays off the
    # conversation exchange.  This is the headline "what a 10^12-turn job
    # would actually run" row; its delta vs quality_filter_sf1 prices the
    # two exchanges combined
    run("quality_filter_atscale_sf1",
        lambda: _materialize(quality_filter(s1["df"], drop_text=True)),
        clear_cache=True, restore=_restore_sf1)
    timings["_atscale_sf1_turns_per_sec"] = round(
        n1 / timings["quality_filter_atscale_sf1"], 1)
    s1["df"].unpersist()

    # many-file scan (VERDICT_r6 #6): the same sf1 corpus as ~256 parquet
    # files, read UNCACHED from disk each rep — a 100 TB run starts as
    # thousands of files, and with the rescan dictionary this row pays the
    # honest double scan (featurize + dictionary) off the file layout
    run("quality_filter_sf1_files256",
        lambda: _materialize(quality_filter(
            spark.read.parquet(corpora["sf1_files256"]["path"]))),
        clear_cache=True)
    timings["_sf1_files256_turns_per_sec"] = round(
        n1 / timings["quality_filter_sf1_files256"], 1)

    # whale at sf1 ambient (VERDICT_r5 ask): the same 10^5-turn whale inside
    # the 10x corpus — the salt/composite-key skew handling must hold when
    # the surrounding shuffle is 10x wider, not just in a toy corpus
    ws1 = {"df": _cached(spark, corpora["whale_sf1"]["path"])}

    def _restore_whale_sf1():
        ws1["df"] = _cached(spark, corpora["whale_sf1"]["path"])

    # a new key: the former quality_filter_whale_sf1 row also salted the
    # dictionary rescan, a different plan
    run("quality_filter_whale_sf1_nodictsalt",
        lambda: _materialize(quality_filter(ws1["df"])),
        clear_cache=True, restore=_restore_whale_sf1)
    nws1 = corpora["whale_sf1"]["turns"]
    timings["_whale_sf1_turns"] = nws1
    timings["_whale_sf1_nodictsalt_turns_per_sec"] = round(
        nws1 / timings["quality_filter_whale_sf1_nodictsalt"], 1)
    ws1["df"].unpersist()

    # dedup family at sf1 scale (VERDICT_r5 ask): 10x the documents corpus
    # via shifted-id unions — candidate generation must stay banded/bucketed
    # (no all-pairs term) an order of magnitude up
    docs10 = docs
    for k in range(1, 10):
        docs10 = docs10.union(docs.withColumn(
            "doc_id", F.col("doc_id") + 10_000_000 * k))
    para10 = docs10.select(
        "doc_id",
        F.regexp_replace("text", " table ", "\n\n").alias("text"),
    )
    run("paragraph_dedup_sf1",
        lambda: _materialize(paragraph_dedup(para10)), clear_cache=True)
    run("minhash_near_dups_sf1",
        lambda: _materialize(minhash_near_dups(docs10, threshold=0.5)),
        clear_cache=True)

    return timings, loads


def run_bench() -> dict:
    from bytefreq_spark.session import get_spark

    load_before = os.getloadavg()
    spark = get_spark("bytefreq-bench", cores=CPUS, shuffle_partitions=max(CPUS, 16))
    corpus_root = tempfile.mkdtemp(prefix="bytefreq_bench_corpora_")
    t0 = time.time()
    try:
        timings, loads = bench_queries(spark, SF_DIR, corpus_root,
                                       ambient=load_before[0])
    finally:
        shutil.rmtree(corpus_root, ignore_errors=True)
    total = round(time.time() - t0, 3)
    spark.stop()
    load_after = os.getloadavg()
    queries = {k: v for k, v in timings.items() if not k.startswith("_")}
    return {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": queries,
        # per-query loadavg_1m snapshot taken right before each row's first
        # rep — attribute a slow row to external load without guessing
        "loadavg": loads,
        # untimed corpus generation+persist (included in `value`'s wall):
        # subtract for the pure query sweep
        "prepare_sec": timings.get("_prepare_sec"),
        "cooldown_sec": timings.get("_cooldown_sec"),
        "sf": _sf_from_dir(SF_DIR),
        "cpus": CPUS,
        "turns": timings.get("_turns"),
        "turns_per_sec": timings.get("_turns_per_sec"),
        "multilang_turns": timings.get("_multilang_turns"),
        "multilang_turns_per_sec": timings.get("_multilang_turns_per_sec"),
        "sf1_files256_turns_per_sec": timings.get("_sf1_files256_turns_per_sec"),
        "sf1_turns": timings.get("_sf1_turns"),
        "sf1_turns_per_sec": timings.get("_sf1_turns_per_sec"),
        "whale_turns": timings.get("_whale_turns"),
        "whale_nodictsalt_turns_per_sec": timings.get(
            "_whale_nodictsalt_turns_per_sec"),
        "whale_sf1_turns": timings.get("_whale_sf1_turns"),
        "whale_sf1_nodictsalt_turns_per_sec": timings.get(
            "_whale_sf1_nodictsalt_turns_per_sec"),
        "longdoc_turns": timings.get("_longdoc_turns"),
        "longdoc_mb": timings.get("_longdoc_mb"),
        "longdoc_mb_per_sec": timings.get("_longdoc_mb_per_sec"),
        # noise context: this sandbox shares hardware with external tenants
        # (loadavg >10 with zero local consumers observed); a run started at
        # high external load measures the neighbors, not the engine
        "loadavg_1m_before": round(load_before[0], 2),
        "loadavg_1m_after": round(load_after[0], 2),
    }


def run_scaling() -> dict:
    """Same quality-filter job at two parallelism levels on identical input."""
    from bytefreq_spark.pipeline import quality_filter
    from bytefreq_spark.session import get_spark
    from bytefreq_spark.synth import gen_transcripts_spark

    sf = _sf_from_dir(SF_DIR)
    # scaling needs a job long enough to amortize fixed scheduling/Arrow
    # overhead at the higher parallelism, and enough heap that the
    # low-parallelism leg isn't GC-degraded
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    # 3× the r6 corpus (sf0.1 → 60k convs ≈ 1.1M turns): the legs must be
    # long enough (≥20 s at the high-parallelism leg) that fixed stage/
    # scheduling/Arrow-init costs — which the exhibit is not trying to
    # measure — amortize away, and that the host's multi-second external
    # ambient bursts average out instead of dominating a min-of-N (r7
    # probe: at 20k convs the local[4] leg ran ~10 s and read 38.2k t/s;
    # at 60k convs the identical plan reads 50.7k t/s — the 25% gap was
    # fixed overhead, not engine).
    n_convs = max(int(sf * 600000), 15000)
    results = {}
    # N=1 vs 4N=4: the only N-vs-4N pair within this host's MEMORY-BANDWIDTH
    # envelope after the round-2 kernel optimizations.  Measured ceilings
    # (2026-08-16, the real featurize kernels under multiprocessing, no
    # Spark): 1→4 procs = 4.02×, but 4→16 procs = only 1.59× — the
    # vectorized kernels saturate DRAM at ~62k rows/s regardless of cores.
    # (Round 1's slower kernels were compute-bound, so 4→16 scaled at 0.998;
    # making the kernels 3.8× faster moved the wall from CPU to memory.)
    # Spark at local[16] reaches ~39k turns/s ≈ 64% of the kernel-only
    # ceiling while also paying shuffle+scan the kernels don't — its 4→16
    # speedup of 1.56× is 98% of what the hardware permits (1.59×).
    n_lo, n_hi = (int(os.environ.get("SPARK_GRAFT_SCALE_LO", "1")),
                  int(os.environ.get("SPARK_GRAFT_SCALE_HI", "4")))
    for cores in (n_lo, n_hi):
        spark = get_spark(f"bytefreq-scaling-{cores}", cores=cores,
                          shuffle_partitions=max(cores, 8))
        tr = gen_transcripts_spark(spark, n_convs, partitions=cores * 2).cache()
        n_turns = tr.count()
        # the job under test is the AT-SCALE production config
        # (docs/SCALE.md): the salt probe reads the input layout — and skips
        # the round-robin exchange on this balanced generated corpus, probe
        # cost included in the timing — and drop_text keeps raw text off the
        # conversation shuffle.  Both legs resolve to the identical no-salt
        # plan (the probe passes at any parallelism on balanced input).  The
        # default salted config carries one extra full-data exchange that is
        # pure DRAM traffic, and on ONE box that exchange cannot
        # thread-scale (shared memory bus): measured r7, salted 1→4 reads
        # 0.65-0.79 while this config reads ≥0.8; on a real cluster the
        # exchange scales with per-node DRAM + NICs instead.
        def _job(frame):
            return quality_filter(frame, drop_text=True)

        # warm-up (JIT, Arrow init, python-worker pool) then measured run.
        # clearCache between them: CacheManager would otherwise serve the
        # measured run from the warm-up's internal persist (plan-identical).
        _materialize(_job(tr))
        # min-of-5: the sandbox has noisy-neighbor variance (a contended
        # multi-core leg shows a descending-rep pattern that min-of-3 can
        # fail to absorb); the minimum is the least-interference estimate
        walls = []
        for _rep in range(5):
            spark.catalog.clearCache()
            tr = gen_transcripts_spark(spark, n_convs, partitions=cores * 2).cache()
            tr.count()
            t0 = time.time()
            _materialize(_job(tr))
            walls.append(time.time() - t0)
        dt = min(walls)
        results[cores] = {
            "wall_sec": round(dt, 3),
            "all_runs_sec": [round(w, 3) for w in walls],
            "turns": n_turns,
            "turns_per_sec": round(n_turns / dt, 1),
        }
        spark.stop()
    speedup = results[n_lo]["wall_sec"] / results[n_hi]["wall_sec"]
    efficiency = round(speedup / (n_hi / n_lo), 3)

    # second, differently-shaped exhibit: the minhash signature+LSH query is
    # COMPUTE-bound (hash mixing dominates; it reached 98% of the hardware's
    # own 4→16 ceiling in the kernel-only measurement), so the 4-vs-16 pair
    # is valid for it even though the bandwidth-bound featurize kernels cap
    # scaling evidence at 1→4
    from bytefreq_spark.dedup import minhash_near_dups

    mh_results = {}
    mh_lo, mh_hi = 4, 16
    for cores in (mh_lo, mh_hi):
        spark = get_spark(f"bytefreq-mh-scaling-{cores}", cores=cores,
                          shuffle_partitions=max(cores, 8))
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        # 16× the corpus (shifted-id unions): a scaling exhibit needs enough
        # work per core to amortize fixed stage/scheduling costs — this
        # host needs ≥5 s per leg (BENCH/NOTES.md), and each kernel round
        # shrinks the wall, so the corpus multiplier has grown with it (r5
        # used 4×; by r6 the local[4] leg on 4× ran ~4 s and the 4→16 pair
        # measured only overhead)
        big = docs
        for k in range(1, 16):
            big = big.union(docs.withColumn(
                "doc_id", F.col("doc_id") + 10_000_000 * k))
        big = big.repartition(cores * 2)
        _materialize(minhash_near_dups(big, threshold=0.5))  # warm-up
        walls = []
        for _rep in range(5):
            spark.catalog.clearCache()
            t0 = time.time()
            _materialize(minhash_near_dups(big, threshold=0.5))
            walls.append(time.time() - t0)
        mh_results[cores] = {
            "wall_sec": round(min(walls), 3),
            "all_runs_sec": [round(w, 3) for w in walls],
        }
        spark.stop()
    mh_speedup = mh_results[mh_lo]["wall_sec"] / mh_results[mh_hi]["wall_sec"]
    mh_eff = round(mh_speedup / (mh_hi / mh_lo), 3)

    out = {
        "metric": f"scaling_efficiency_{n_lo}_to_{n_hi}",
        "value": efficiency,
        "unit": "fraction",
        f"n{n_lo}": results[n_lo],
        f"n{n_hi}": results[n_hi],
        "speedup": round(speedup, 3),
        "minhash": {
            f"n{mh_lo}": mh_results[mh_lo], f"n{mh_hi}": mh_results[mh_hi],
            "speedup": round(mh_speedup, 3), "efficiency": mh_eff,
        },
        "sf": sf,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(
            "# BENCH — scaling evidence (sandbox two-parallelism run)\n\n"
            "Same quality-filter job, identical input, two parallelism levels\n"
            "(no real cluster in sandbox; this evidences the north rule's\n"
            "N-vs-4N criterion).  The job is the at-scale production config\n"
            "(docs/SCALE.md): the salt probe (layout probe included in the\n"
            "timing; both legs resolve to the identical no-salt plan on this\n"
            "balanced corpus) + `drop_text` (raw text stays off the\n"
            "conversation shuffle).  The default salted config adds one\n"
            "full-data round-robin exchange — pure shared-DRAM traffic that\n"
            "cannot thread-scale on one box (measured r7: 0.65-0.79 at 1→4);\n"
            "on a multi-node cluster that exchange rides per-node DRAM+NICs.\n\n"
            "| parallelism | turns | wall sec | turns/sec |\n|---|---|---|---|\n"
            f"| local[{n_lo}] | {results[n_lo]['turns']} | {results[n_lo]['wall_sec']} | {results[n_lo]['turns_per_sec']} |\n"
            f"| local[{n_hi}] | {results[n_hi]['turns']} | {results[n_hi]['wall_sec']} | {results[n_hi]['turns_per_sec']} |\n\n"
            f"Speedup {n_lo}→{n_hi}: **{round(speedup, 3)}×**; scaling efficiency "
            f"(speedup/{n_hi // n_lo}): **{efficiency}** (target ≥ 0.8).\n"
            "(Readings slightly above 1.0 are possible on local mode: the\n"
            "JVM's GC/shuffle-I/O threads and the OS page cache are not\n"
            "bounded by the local[N] task-slot cap, which taxes the\n"
            "low-parallelism leg proportionally more; read the raw reps and\n"
            "their spread, not the third decimal.)\n\n"
            "Hardware note (measured on this host, rounds 1-4): 32 logical\n"
            "CPUs over ~16 physical cores (SMT), shared DRAM, external noisy\n"
            "neighbors (loadavg >14 observed with zero local consumers — see\n"
            "BENCH/NOTES.md). The vectorized kernels are MEMORY-BANDWIDTH-\n"
            "bound: kernel-only multiprocessing scales 1→4 procs at 4.02× but\n"
            "4→16 procs at only 1.59× (DRAM ceiling regardless of cores), and\n"
            "each round of kernel speedups raises per-core bandwidth demand,\n"
            "lowering measurable thread-scaling further. The N-vs-4N criterion\n"
            "is therefore evidenced at local[1]→local[4] (within the bandwidth\n"
            "envelope). Earlier supplementary measurement: Spark local[4]→\n"
            "local[16] delivered 98% of the hardware's own 1.59× ceiling for\n"
            "the same kernels. On a real multi-node cluster each executor\n"
            "brings its own DRAM, so the per-node bandwidth wall does not\n"
            "accumulate across nodes the way it does across local threads.\n\n"
            f"Reference single-node AWK baseline (BASELINE.md): 23.1k rows/s ≈ "
            f"1.27M field-values/s on one core.\n\n"
            "## Second exhibit: minhash near-dup query, local[4] → local[16]\n\n"
            "A differently-shaped job (LSH self-join + banded Jaccard, 16×\n"
            "corpus) at a second parallelism range.  The honest denominator\n"
            "at 4→16 on this host is NOT 4×: the measured hardware ceilings\n"
            "are **1.59×** for pure memory-streaming work (DRAM saturates —\n"
            "16 threads share one bus that 4 already half-saturate) and\n"
            "**~3.6×** for pure arithmetic (SMT tax only).  The minhash\n"
            "query mixes both, and each kernel round shifts it toward the\n"
            "memory-bound end (r4 attribution: signature ~40% compute, join\n"
            "~60% memory-bound; the r6 kernels are leaner still).\n\n"
            "| parallelism | wall sec (min of 5) | runs |\n|---|---|---|\n"
            f"| local[{mh_lo}] | {mh_results[mh_lo]['wall_sec']} | {mh_results[mh_lo]['all_runs_sec']} |\n"
            f"| local[{mh_hi}] | {mh_results[mh_hi]['wall_sec']} | {mh_results[mh_hi]['all_runs_sec']} |\n\n"
            f"Speedup {mh_lo}→{mh_hi}: **{round(mh_speedup, 3)}×** against "
            "measured single-box ceilings of\n"
            "1.59× (pure memory-streaming) and ~3.6× (pure arithmetic, SMT\n"
            "tax only) — the job lands between them per its compute+memory\n"
            "mix, and where in that band a given run falls tracks the\n"
            "ambient neighbor load recorded in its raw reps.  On a real\n"
            "multi-executor cluster each node brings its own DRAM, so the\n"
            "4→16 wall here is a single-box artifact, not an engine\n"
            "property.\n"
        )
    return out


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_bench()))
