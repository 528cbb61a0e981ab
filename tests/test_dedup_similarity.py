"""Dedup + similarity + textstats + multimodal operators on driver testdata.

The driver's documents table plants near-duplicates: ~5% of docs are another
doc's text plus a trailing " dup" token — MinHash/Jaccard must find them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytefreq_spark.dedup import (
    dedup_exact,
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_near_dups,
    minhash_signatures,
    ngram_jaccard,
    simhash_groups,
)
from bytefreq_spark.multimodal import extract_features, media_metadata_summary, synth_media
from bytefreq_spark.similarity import ann_lsh_topk, cosine_topk, pairwise_topk
from bytefreq_spark.textstats import (
    fingerprint_col,
    quality_score_col,
    with_langid,
    with_token_stats,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    base = docs.select("doc_id", "text")
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    both = base.union(dup)
    groups = exact_dup_groups(both)
    assert groups.count() == base.count()
    kept = dedup_exact(both)
    assert kept.count() == base.count()
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 100000  # min-id kept


def test_minhash_finds_planted_near_dups(spark, docs):
    planted = docs.filter(F.col("text").endswith(" dup")).count()
    assert planted > 0
    near = minhash_near_dups(docs, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in near}
    # verify against ground truth: doc whose text == other + " dup"
    truth = (
        docs.alias("a")
        .join(
            docs.alias("b"),
            F.col("a.text") == F.concat(F.col("b.text"), F.lit(" dup")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("x"),
            F.greatest("a.doc_id", "b.doc_id").alias("y"),
        )
        .collect()
    )
    truth_pairs = {(r["x"], r["y"]) for r in truth}
    assert truth_pairs, "planted near-dups missing from fixture"
    found = len(truth_pairs & pairs)
    recall = found / len(truth_pairs)
    assert recall >= 0.8, (recall, len(truth_pairs), len(pairs))


def test_minhash_signature_deterministic(docs):
    s1 = {r["doc_id"]: tuple(r["signature"]) for r in
          minhash_signatures(docs.limit(20)).collect()}
    s2 = {r["doc_id"]: tuple(r["signature"]) for r in
          minhash_signatures(docs.limit(20).repartition(7)).collect()}
    assert s1 == s2


def test_ngram_jaccard_on_candidates(spark, docs):
    sigs = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sigs)
    jac = ngram_jaccard(pairs, docs).filter(F.col("jaccard") >= 0.5)
    # every planted pair has very high token-ngram overlap
    assert jac.count() >= 1
    top = jac.orderBy(F.desc("jaccard")).first()
    assert top["jaccard"] > 0.8


def test_simhash_exact_and_near_dups(spark, docs):
    from bytefreq_spark.dedup import simhash_col

    base = docs.select("doc_id", "text").limit(50)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    both = base.union(dup)
    groups = simhash_groups(both)
    # every (id, id+100000) identical-text pair must share a group; distinct
    # docs from a small vocab MAY also collide (that's simhash working), so
    # assert pair-co-membership rather than group count
    rows = groups.collect()
    member = {}
    for r in rows:
        for i in r["ids"]:
            member[i] = r["simhash"]
    paired = sum(
        1 for r in base.collect()
        if member.get(r["doc_id"]) is not None
        and member.get(r["doc_id"]) == member.get(r["doc_id"] + 100000)
    )
    assert paired == 50

    # planted near-dups (text + " dup") land within small hamming distance
    h = docs.select("doc_id", "text", simhash_col("text").alias("sh"))
    pairs = (
        h.alias("a")
        .join(h.alias("b"),
              F.col("a.text") == F.concat(F.col("b.text"), F.lit(" dup")))
        .select(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("d"))
        .collect()
    )
    assert pairs
    close = sum(1 for r in pairs if r["d"] <= 16) / len(pairs)
    assert close >= 0.8, close


def _flood_frame(spark, family):
    """A 200-member boilerplate flood (ids 0-199, one identical item), a
    planted near-dup pair (1000, 1001) and 20 unrelated items."""
    import numpy as np

    if family == "embedding":
        rng = np.random.RandomState(17)
        flood = rng.standard_normal(16)
        base = rng.standard_normal(16)
        rows = [(i, flood) for i in range(200)]
        rows += [(1000, base), (1001, base + rng.standard_normal(16) * 0.01)]
        rows += [(2000 + i, rng.standard_normal(16)) for i in range(20)]
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>")
    base = " ".join(f"token{i}" for i in range(40))
    rows = [(i, "click here to unsubscribe from this mailing list today")
            for i in range(200)]
    rows += [(1000, base), (1001, base.replace("token7", "changed"))]
    rows += [(2000 + i, f"wholly unrelated document number {i} with words "
                        f"alpha{i} beta{i} gamma{i}") for i in range(20)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _family_pairs(df, family, max_bucket):
    """Candidate (minhash) or verified (simhash, embedding) pairs of one
    near-dup family; all three go through ``dedup.bucket_pairs``."""
    from bytefreq_spark.dedup import simhash_near_dup_pairs
    from bytefreq_spark.similarity import embedding_near_dup_pairs

    if family == "minhash":
        return lsh_candidate_pairs(minhash_signatures(df), max_bucket=max_bucket)
    if family == "simhash":
        return simhash_near_dup_pairs(df, max_hamming=12, bands=16,
                                      max_bucket=max_bucket)
    return embedding_near_dup_pairs(df, threshold=0.99, max_bucket=max_bucket)


@pytest.mark.parametrize("family", ["minhash", "simhash", "embedding"])
def test_lsh_hot_bucket_cap(spark, family):
    """A planted boilerplate cluster must not produce quadratic pairs in any
    near-dup family; genuine small near-dup groups still pair up; for
    minhash the dropped buckets surface in the lsh_hot_buckets side table."""
    from bytefreq_spark.dedup import lsh_hot_buckets

    df = _flood_frame(spark, family)
    capped = _family_pairs(df, family, 64).collect()
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped}
    # no pair from the 200-member boilerplate class (would be 19,900 pairs)
    assert not any(a < 200 and b < 200 for a, b in capped_pairs), len(capped_pairs)
    # the genuine near-dup pair survives the cap
    assert (1000, 1001) in capped_pairs

    uncapped = _family_pairs(df, family, None)
    assert uncapped.count() >= 19900  # what the cap is protecting against

    if family == "minhash":
        hot = lsh_hot_buckets(minhash_signatures(df), max_bucket=64).collect()
        assert hot and all(r["n"] == 200 for r in hot)
        assert all(r["rep_id"] < 200 for r in hot)


def test_simhash_hamming_near_dup_pairs(spark):
    """Docs differing by one token of ~40 land within small hamming distance
    and are found by the banded simhash join; unrelated docs are not paired."""
    from bytefreq_spark.dedup import simhash_near_dup_pairs

    base = " ".join(f"token{i}" for i in range(40))
    variant = base.replace("token7", "changed")
    rows = [(1, base), (2, variant),
            (3, " ".join(f"other{i}" for i in range(40)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = simhash_near_dup_pairs(df, max_hamming=12, bands=16).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found, pairs
    assert (1, 3) not in found and (2, 3) not in found
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert 0 < ham[(1, 2)] <= 12


def test_cosine_topk(spark, emb):
    qrow = emb.orderBy("vec_id").first()
    q = list(qrow["embedding"])
    top = cosine_topk(emb, q, k=5).collect()
    assert len(top) == 5
    assert top[0]["vec_id"] == qrow["vec_id"]  # self is nearest
    assert abs(top[0]["cosine"] - 1.0) < 1e-4
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ann_lsh_vs_brute_force(spark, emb):
    qrow = emb.orderBy("vec_id").first()
    q = list(qrow["embedding"])
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    ann = [r["vec_id"] for r in
           ann_lsh_topk(emb, q, k=10, n_planes=4, probe_radius=2).collect()]
    overlap = len(set(brute) & set(ann)) / 10
    # driver embeddings are RANDOM (no cluster structure) — the worst case
    # for LSH; 4 planes + radius-2 multiprobe still recovers most of top-10
    assert overlap >= 0.5, (overlap, brute, ann)


def test_pairwise_topk(spark, emb):
    probes = [r["vec_id"] for r in emb.orderBy("vec_id").limit(2).collect()]
    out = pairwise_topk(emb, probes, k=3).collect()
    assert len(out) == 6
    assert all(r["rank"] <= 3 for r in out)


def test_token_stats_and_quality(spark, docs):
    out = with_token_stats(docs).withColumn("q", quality_score_col("text"))
    row = out.filter(F.length("text") > 50).first()
    assert row["n_tokens"] > 0
    assert 0.0 <= row["q"] <= 1.0
    # n_chars matches the table's own n_chars column
    bad = out.filter(F.col("n_chars_calc") != F.col("n_chars")).count()
    assert bad == 0


def test_fingerprint_stable_and_discriminative(spark, docs):
    fp = docs.select("doc_id", fingerprint_col("text").alias("fp"))
    n = fp.count()
    distinct = fp.select("fp").distinct().count()
    assert distinct > n * 0.8  # discriminative on distinct texts
    again = docs.repartition(5).select("doc_id", fingerprint_col("text").alias("fp"))
    assert sorted(map(tuple, fp.collect())) == sorted(map(tuple, again.collect()))


def test_langid_documents(spark, docs):
    # documents.lang labels are decorative (same English-ish word salad under
    # every label) — only check the detector output is sane on ASCII prose
    out = with_langid(docs)
    preds = {r["lang_pred"] for r in out.select("lang_pred").distinct().collect()}
    assert preds <= {"en", "und"}, preds
    en_rate = out.filter(F.col("lang_pred") == "en").count() / out.count()
    assert en_rate > 0.6, en_rate


def test_langid_real_languages(spark):
    # real per-language text from the synth word pools → exact detection
    from bytefreq_spark.synth import gen_transcripts_pandas

    pdf = gen_transcripts_pandas(150)
    from bytefreq_spark.langid import detect_language

    lang = detect_language(pdf["text"])
    # conversation texts of explicit language kinds are detected correctly —
    # checked indirectly: every language appears, and script-tier languages
    # (zh/ru/el/hi) are only ever assigned to texts with those scripts
    assert {"en", "fr", "de", "es", "zh", "ru", "el", "hi"} <= set(lang.unique())
    zh_rows = pdf["text"][lang == "zh"]
    assert zh_rows.str.contains(r"[一-鿿]").all()
    ru_rows = pdf["text"][lang == "ru"]
    assert ru_rows.str.contains(r"[Ѐ-ӿ]").all()


def test_multimodal_plumbing(spark):
    media = synth_media(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["features"]) == 16 for r in rows)
    # deterministic across partitionings
    again = extract_features(media.repartition(4)).collect()
    a = {r["media_id"]: r["features"] for r in rows}
    b = {r["media_id"]: r["features"] for r in again}
    assert a == b
    summary = media_metadata_summary(media).collect()
    assert {r["kind"] for r in summary} == {"image", "audio", "video"}


def test_ivf_full_probe_equals_brute(spark, emb):
    """n_probe == n_centroids degrades to the exact brute-force answer."""
    from bytefreq_spark.similarity import ivf_topk

    qrow = emb.orderBy("vec_id").first()
    q = list(qrow["embedding"])
    brute = [(r["vec_id"], r["cosine"]) for r in cosine_topk(emb, q, k=10).collect()]
    full = [(r["vec_id"], r["cosine"]) for r in
            ivf_topk(emb, q, k=10, n_centroids=8, n_probe=8).collect()]
    assert full == brute


def test_ivf_clustered_recall(spark):
    """On clustered embeddings (the real-corpus case) IVF with few probes
    recovers the exact top-k."""
    import numpy as np

    from bytefreq_spark.similarity import ivf_topk, cosine_topk as brute_topk

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((8, 16)) * 5.0
    rows = []
    for i in range(800):
        c = i % 8
        v = centers[c] + rng.standard_normal(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[3][1]  # a member of cluster 3's neighborhood
    brute = [r["vec_id"] for r in brute_topk(df, q, k=10).collect()]
    ivf = [r["vec_id"] for r in
           ivf_topk(df, q, k=10, n_centroids=8, n_probe=2).collect()]
    recall = len(set(brute) & set(ivf)) / 10
    assert recall >= 0.9, (recall, brute, ivf)


def test_ivf_assignments_deterministic(spark, emb):
    from bytefreq_spark.similarity import ivf_assignments, ivf_train_centroids

    cents = ivf_train_centroids(emb, n_centroids=8)
    cents2 = ivf_train_centroids(emb.repartition(5), n_centroids=8)
    import numpy as np

    assert np.allclose(cents, cents2)
    a = {r["vec_id"]: r["ivf_cluster"] for r in
         ivf_assignments(emb.limit(50), cents).collect()}
    b = {r["vec_id"]: r["ivf_cluster"] for r in
         ivf_assignments(emb.limit(50).repartition(3), cents).collect()}
    assert a == b


def test_ivf_null_and_ragged_vectors(spark):
    """A NULL or ragged vector gets a NULL cluster instead of failing the
    job: training skips it, the valid rows get the clusters they get
    alone, and the full-probe search equals the brute force over the valid
    rows."""
    import numpy as np

    from bytefreq_spark.similarity import (
        ivf_assignments, ivf_topk, ivf_train_centroids,
    )

    rng = np.random.RandomState(11)
    valid = [(i, [float(x) for x in rng.standard_normal(8)])
             for i in range(60)]
    schema = "vec_id long, embedding array<float>"
    good = spark.createDataFrame(valid, schema)
    df = spark.createDataFrame(valid + [(100, None), (101, [1.0, 2.0])], schema)

    cents = ivf_train_centroids(df, n_centroids=4)
    assert np.allclose(cents, ivf_train_centroids(good, n_centroids=4))
    got = {r["vec_id"]: r["ivf_cluster"]
           for r in ivf_assignments(df, cents).collect()}
    alone = {r["vec_id"]: r["ivf_cluster"]
             for r in ivf_assignments(good, cents).collect()}
    assert got[100] is None and got[101] is None
    assert {i: c for i, c in got.items() if i < 100} == alone
    assert all(c is not None for c in alone.values())

    q = valid[5][1]
    full = [(r["vec_id"], r["cosine"]) for r in
            ivf_topk(df, q, k=10, n_centroids=4, n_probe=4).collect()]
    brute = [(r["vec_id"], r["cosine"])
             for r in cosine_topk(good, q, k=10).collect()]
    assert full == brute


def test_ivf_train_without_vectors_names_column(spark):
    """An input with no usable vector (empty, or every vector NULL) fails
    training with a ValueError naming the vector column, not a numpy
    IndexError from the empty sample."""
    from bytefreq_spark.similarity import ivf_train_centroids

    schema = "vec_id long, emb array<float>"
    for rows in ([], [(1, None), (2, None)]):
        df = spark.createDataFrame(rows, schema)
        with pytest.raises(ValueError, match="'emb'"):
            ivf_train_centroids(df, n_centroids=4, vec_col="emb")


def test_cosine_zero_vector_yields_null_not_crash(spark):
    """ANSI mode: zero vectors must produce NULL cosine (try_divide), not a
    DIVIDE_BY_ZERO crash taking down the scan."""
    from bytefreq_spark.similarity import cosine_topk

    rows = [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["cosine"] for r in cosine_topk(df, [1.0, 0, 0, 0], k=3).collect()}
    assert out[1] == 1.0 and out[2] == 0.0 and out[0] is None


def test_ivf_partitioned_pruning(spark, tmp_path):
    """The documented 100 TB path, exercised for real: materialize the
    partitionBy(ivf_cluster) layout, query it with a pruned probe read, and
    assert (a) PartitionFilters on the scan plan, (b) the scan physically
    touched ONLY probed cluster directories (input_file_name evidence),
    (c) recall vs brute force on clustered data, (d) exact degradation when
    every cluster is probed."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    from pyspark.sql import functions as F

    from bytefreq_spark.similarity import (
        cosine_topk,
        ivf_query_clusters,
        ivf_topk_partitioned,
        ivf_train_centroids,
        ivf_write_partitioned,
    )

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((8, 16)) * 5.0
    rows = []
    for i in range(800):
        v = centers[i % 8] + rng.standard_normal(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_train_centroids(df, n_centroids=8)
    layout = str(tmp_path / "ivf_layout")
    ivf_write_partitioned(df, cents, layout)

    q = rows[3][1]
    probes = set(ivf_query_clusters(cents, q, 2))
    pruned = ivf_topk_partitioned(spark, layout, q, cents, k=10, n_probe=2)

    # (a) the isin filter lands as a partition filter, not a data filter
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "ivf_cluster" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]

    # (b) only probed cluster directories are ever read
    cands = spark.read.parquet(layout).filter(
        F.col("ivf_cluster").isin([int(p) for p in probes])
    )
    files = [r[0] for r in cands.select(F.input_file_name()).distinct().collect()]
    assert files
    assert all(any(f"ivf_cluster={p}/" in f for p in probes) for f in files)
    assert not any(
        f"ivf_cluster={c}/" in f for f in files for c in set(range(8)) - probes
    )

    # (c) pruned search still recovers the exact neighbors on clustered data
    brute = [r["vec_id"] for r in cosine_topk(df, q, k=10).collect()]
    got = [r["vec_id"] for r in pruned.collect()]
    assert len(set(brute) & set(got)) >= 9

    # (d) probing every cluster degrades to the exact brute-force answer
    full = ivf_topk_partitioned(spark, layout, q, cents, k=10, n_probe=8)
    assert [(r["vec_id"], r["cosine"]) for r in full.collect()] == [
        (r["vec_id"], r["cosine"]) for r in cosine_topk(df, q, k=10).collect()
    ]


def test_lsh_signature_native_equals_arrow(spark):
    """The Arrow matmul signature kernel agrees with the native literal-tree
    reference at a small and a production dim, NULL and ragged vectors
    included (signature 0 on both, not a failed batch), and
    ``hyperplane_signatures`` plans it as an Arrow stage (never the literal
    tree — r8: a ~5k-node interpreted expression re-evaluated per
    consumer).  The embedding near-dup job over such a frame completes and
    finds the one planted copy."""
    import numpy as np

    from bytefreq_spark.similarity import (
        embedding_near_dup_pairs, hyperplane_signature_udf,
        hyperplane_signatures, make_planes,
    )
    from tests.reference_paths import hyperplane_signature_col

    rng = np.random.RandomState(11)
    for dim, n_planes in ((16, 8), (768, 12)):
        rows = [(i, [float(x) for x in rng.standard_normal(dim)])
                for i in range(30)]
        rows += [(30, None), (31, [1.0, 2.0]), (32, rows[0][1])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        planes = make_planes(dim, n_planes, seed=5)
        sigs = df.select(
            "vec_id",
            hyperplane_signature_col("embedding", planes).alias("nat"),
            hyperplane_signature_udf(planes)("embedding").alias("arw"),
        ).collect()
        nat = {r["vec_id"]: r["nat"] for r in sigs}
        assert nat == {r["vec_id"]: r["arw"] for r in sigs}, (dim, n_planes)
        assert nat[30] == nat[31] == 0
        routed = hyperplane_signatures(df, planes)
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan
        assert {r["vec_id"]: r["_sig"] for r in routed.collect()} == nat
        pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(
            df, threshold=0.99, dim=dim).collect()}
        assert pairs == {(0, 32)}, dim


def test_seq_dot_udf_equals_expression(spark):
    """The r8 rescore kernel must be BIT-identical to the zip_with/aggregate
    dot-product expression (same sequential IEEE fold), including the
    all-zero vector; a NULL vector comes back NULL on both surfaces (the
    kernel emits NaN, which the Arrow return path maps to NULL)."""
    import numpy as np

    from bytefreq_spark.similarity import _dot, seq_dot_udf

    rng = np.random.RandomState(7)
    dim = 48
    rows = [(i,
             [float(x) for x in rng.standard_normal(dim)],
             [float(x) for x in rng.standard_normal(dim)])
            for i in range(40)]
    rows.append((40, [0.0] * dim, [float(x) for x in rng.standard_normal(dim)]))
    df = spark.createDataFrame(
        rows, "pid long, a array<float>, b array<float>")
    expr = {r["pid"]: r["d"] for r in df.select(
        "pid", _dot(F.col("a"), F.col("b")).alias("d")).collect()}
    arrow = {r["pid"]: r["d"] for r in df.select(
        "pid", seq_dot_udf(dim)(F.col("a"), F.col("b")).alias("d")).collect()}
    assert expr == arrow  # bit-identical doubles, exact dict equality
    # NULL vector: NULL on both surfaces (kernel NaN → Arrow NULL)
    ndf = spark.createDataFrame(
        [(0, None, [1.0] * dim)], "pid long, a array<float>, b array<float>")
    nexpr = ndf.select(_dot(F.col("a"), F.col("b")).alias("d")).first()["d"]
    narrow = ndf.select(seq_dot_udf(dim)(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert nexpr is None and narrow is None


def test_ann_lsh_high_dim_runs_arrow(spark):
    """ann_lsh_topk at production dims uses the Arrow path end-to-end and
    still returns the planted nearest neighbor."""
    import numpy as np

    from bytefreq_spark.similarity import ann_lsh_topk

    rng = np.random.RandomState(3)
    dim = 768
    base = rng.standard_normal(dim)
    rows = [(0, [float(x) for x in base])]
    rows += [(i, [float(x) for x in rng.standard_normal(dim)])
             for i in range(1, 120)]
    rows.append((999, [float(x) for x in base + rng.standard_normal(dim) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ann_lsh_topk(df, rows[0][1], k=3, n_planes=8, probe_radius=2)
    ids = [r["vec_id"] for r in got.collect()]
    assert ids[0] == 0 and 999 in ids


def test_bpe_tokenizer_splits(spark):
    """GPT-2-style pre-tokenizer behavior: contraction suffixes split,
    whitespace folds into the following piece, scripts/digits/punct chunk."""
    from bytefreq_spark.textstats import with_bpe_token_stats

    rows = [
        (0, "it's a day"),          # it / 's / _a / _day
        (1, ""),                     # zero pieces
        (2, "don't we'll"),          # don / 't / _we / 'll
        (3, "abc 123 !?"),           # abc / _123 / _!?
        (4, "数据质量 test"),          # CJK run + word
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in with_bpe_token_stats(df).collect()}
    assert got == {0: 4, 1: 0, 2: 4, 3: 3, 4: 2}


def test_bpe_regex_cross_engine_random(spark):
    """Dialect-drift guard: the BPE split pattern must count identically
    under Java regex (Spark) and RE2 (DuckDB) on randomized unicode covering
    contractions, CJK, emoji, digit runs, punctuation and whitespace runs."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from bytefreq_spark.textstats import BPE_SPLIT_RE

    rng = np.random.RandomState(99)
    pieces = ["it's", "don't", "we'll", "naïve", "café", "数据质量", "Пять",
              "😀", "42", "3.14", "!?", "--", "a@b.c", "   ", "\t", "\n",
              "word", "'", "''", "x" * 50, "…", "ß", ""]
    rows = []
    for i in range(400):
        k = rng.randint(0, 12)
        s = "".join(pieces[j] for j in rng.randint(0, len(pieces), k))
        rows.append((i, s))
    df = spark.createDataFrame(rows, "i long, text string")
    got = {r["i"]: r["n"] for r in df.select(
        "i",
        F.size(F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), F.lit(0))).alias("n"),
    ).collect()}
    con = duckdb.connect()
    pat = BPE_SPLIT_RE.replace("'", "''")
    for i, s in rows:
        want = con.execute(
            f"select len(regexp_extract_all(?, '{pat}'))", [s]
        ).fetchone()[0]
        assert got[i] == want, (i, repr(s), got[i], want)


def test_embedding_near_dup_pairs(spark):
    """Corpus-wide embedding near-dup pairs: perturbed copies (cosine ~0.999)
    among random vectors; LSH banding finds them, exact rescoring keeps zero
    false positives at the threshold."""
    import numpy as np

    from bytefreq_spark.similarity import embedding_near_dup_pairs

    rng = np.random.RandomState(13)
    dim = 16
    rows = []
    planted = set()
    for i in range(300):
        v = rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
        if i % 5 == 0:  # 60 planted near-dups: tiny perturbation
            w = v + rng.standard_normal(dim) * 0.01
            rows.append((i + 10000, [float(x) for x in w]))
            planted.add((i, i + 10000))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in embedding_near_dup_pairs(df, threshold=0.99).collect()}
    found = planted & set(got)
    assert len(found) / len(planted) >= 0.9, (len(found), len(planted))
    # the exact filter guarantees every reported pair clears the threshold
    assert all(c >= 0.99 for c in got.values())
    # random 16-dim pairs essentially never hit 0.99 → no junk pairs
    assert len(set(got) - planted) <= 2


def _plan_nodes(node, seen_caches):
    """Every node of an executed physical plan, each cached plan walked once
    (however many scans read it) and reused exchanges not re-walked."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan(), seen_caches)
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan(), seen_caches)
        return
    yield node
    if name == "InMemoryTableScanExec":
        cache = node.relation().cacheBuilder()
        if not any(cache.equals(c) for c in seen_caches):
            seen_caches.append(cache)
            yield from _plan_nodes(node.relation().cachedPlan(), seen_caches)
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i), seen_caches)


def test_embedding_near_dup_signature_kernel_runs_once(spark):
    """The self-join reads the banded table twice; the signature kernel
    over the vector column must still be planned once, not once per join
    side — which is what bucket_pairs' cache of the capped banded table
    buys.  The rescore dot kernel must be planned once too, not copied
    into the pushed-down threshold filter.  Exchange reuse is switched off
    for the query: on a small input AQE would otherwise reuse the band
    shuffle and hide a missing cache."""
    import numpy as np

    from bytefreq_spark.similarity import embedding_near_dup_pairs

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    reuse = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        out = embedding_near_dup_pairs(df, threshold=0.0, dim=16)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.exchange.reuse", reuse)
    nodes = list(_plan_nodes(plan, []))
    arrow = [n.simpleString(10) for n in nodes
             if n.getClass().getSimpleName() == "ArrowEvalPythonExec"]
    assert sum("[sig(" in a for a in arrow) == 1, arrow
    # the rescore kernel, planned once (not copied into the threshold filter)
    assert sum("[dot(" in a for a in arrow) == 1, arrow


def test_paragraph_dedup(spark):
    """r4: C4-style corpus-level paragraph dedup — first occurrence (by
    (id, pos)) of every exact paragraph survives, later repeats vanish,
    paragraph order inside documents is preserved, fully-deduped documents
    come back empty (kept for lineage), sub-min_chars paragraphs bypass."""
    from bytefreq_spark.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique one\n\nshared boiler\n\nmore of one"),
            (2, "shared boiler\n\nunique two"),
            (3, "shared boiler"),
            (4, "unique two\n\nx\n\nunique four"),  # 'x' < min_chars=2
            (5, "shared boiler\n\nshared boiler"),   # repeat within one doc
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in paragraph_dedup(docs, min_chars=2).collect()}
    assert out[1] == "unique one\n\nshared boiler\n\nmore of one"  # first wins
    assert out[2] == "unique two"
    assert out[3] == ""                      # fully deduped, kept as empty
    # doc 4: 'unique two' first occurred at (2, 1) so it vanishes here;
    # 'x' bypasses dedup via min_chars
    assert out[4] == "x\n\nunique four"
    assert out[5] == ""                      # both copies lose to (1, 1)
    assert set(out) == {1, 2, 3, 4, 5}
