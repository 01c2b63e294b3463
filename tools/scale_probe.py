"""Scale probe — second/third scale points beyond the sf0.1 bench.

Usage:
    python tools/scale_probe.py [mc|docs|all]

Measures how the two heaviest engine paths scale when the DATA grows 10x
with the plan held fixed, which is the local stand-in for the 100 TB
question ("does the operator profile survive a scale-up, or does some
hidden driver collect / shuffle explosion appear?"):

- ``mc``: the nb[23]-shape Monte Carlo grid at N=1e5 (the bench's
  mc_grid_full shape) and at N=1e6 — 10M vs 100M expanded (unit, gamma,
  sim) rows through the same grouped-estimator study.
- ``docs``: the MinHash/LSH dedup candidate path over the sf0.1
  documents corpus at 1x and a 10x union (ids offset so the copies are
  distinct docs), plus the text-stats scan profile at both sizes.

Prints one JSON line per measurement; paste results into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _timed(label: str, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(json.dumps({"probe": label, "sec": round(dt, 2), "result_rows": out}))
    return dt


def probe_mc(spark):
    from data_integration_est_spark.montecarlo import run_nmar_study

    # bench shape: 100 cells over a 10M-row expanded grid
    def small():
        res = run_nmar_study(
            spark, N=100_000, n_sim=20, gammas=(0.0, 0.25, 0.5, 0.75, 1.0),
            size_a=500, size_b=2_000, seed=1234,
        )
        return len(res.summary.collect())

    # 10x population, 30 cells over a 30M-row expanded grid — per-row
    # throughput should hold or improve (fewer, bigger cells)
    def big():
        res = run_nmar_study(
            spark, N=1_000_000, n_sim=10, gammas=(0.0, 0.5, 1.0),
            size_a=2_000, size_b=20_000, seed=1234,
        )
        return len(res.summary.collect())

    t_small = _timed("mc_grid_N1e5_100cells_10Mrows", small)
    t_big = _timed("mc_grid_N1e6_30cells_30Mrows", big)
    print(json.dumps({
        "probe": "mc_rows_per_sec",
        "small": round(10e6 / t_small),
        "big": round(30e6 / t_big),
    }))


def probe_docs(spark, sf_dir: str):
    from data_integration_est_spark.ops import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]

    def corpus(mult: int):
        parts = [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (max_id + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def minhash_at(mult: int):
        c = corpus(mult).persist()
        c.count()
        try:
            sigs = dedup.minhash_signatures(c, num_hashes=32)
            cand = dedup.lsh_candidate_pairs(sigs, bands=16, rows_per_band=2)
            return cand.count()
        finally:
            c.unpersist()

    def text_stats_at(mult: int):
        c = corpus(mult)
        return (
            c.select(
                F.length("text").alias("len"),
                F.size(F.split(F.col("text"), r"\s+")).alias("toks"),
            )
            .agg(F.avg("len"), F.avg("toks"), F.count(F.lit(1)))
            .count()
        )

    t1 = _timed(f"minhash_lsh_docs_x1_{n}rows", lambda: minhash_at(1))
    t10 = _timed(f"minhash_lsh_docs_x10_{10 * n}rows", lambda: minhash_at(10))
    print(json.dumps({
        "probe": "minhash_scale_factor_10x",
        "factor": round(t10 / t1, 2),
    }))
    s1 = _timed(f"text_scan_x1_{n}rows", lambda: text_stats_at(1))
    s10 = _timed(f"text_scan_x10_{10 * n}rows", lambda: text_stats_at(10))
    print(json.dumps({
        "probe": "text_scan_scale_factor_10x",
        "factor": round(s10 / s1, 2),
    }))


def probe_r5_ops(spark, sf_dir: str):
    """r5 additions at 1x and 10x: heavy hitters over exploded tokens
    (candidate count must stay ~flat — it is O(partitions/phi), not
    O(rows)), and no-split bin packing (per-stream sequential, stream
    count fixed, so wall should track data near-linearly)."""
    from data_integration_est_spark.ops.heavy_hitters import heavy_hitters
    from data_integration_est_spark.ops.packing import bin_stats, pack_bins

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]

    def corpus(mult: int):
        parts = [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (max_id + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def hh_at(mult: int):
        toks = (
            corpus(mult)
            .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
            .filter(F.col("tok") != "")
        )
        return heavy_hitters(toks, "tok", phi=0.002).count()

    def pack_at(mult: int):
        plan = pack_bins(corpus(mult), "n_chars", budget=8192, by="source")
        return bin_stats(plan, 8192).count()

    h1 = _timed(f"heavy_tokens_x1_{n}docs", lambda: hh_at(1))
    h10 = _timed(f"heavy_tokens_x10_{10 * n}docs", lambda: hh_at(10))
    print(json.dumps({"probe": "heavy_tokens_scale_factor_10x",
                      "factor": round(h10 / h1, 2)}))
    p1 = _timed(f"pack_bins_x1_{n}docs", lambda: pack_at(1))
    p10 = _timed(f"pack_bins_x10_{10 * n}docs", lambda: pack_at(10))
    print(json.dumps({"probe": "pack_bins_scale_factor_10x",
                      "factor": round(p10 / p1, 2)}))


def probe_stats(spark, sf_dir: str):
    """r5/r6 statistical kernels at 1x and 10x events (r5 VERDICT #9):
    svyquantile (+Woodruff CI), rake/IPF, Poisson bootstrap, and svyglm.
    Every kernel is scan-shaped (fixed pass count, O(groups x k^2) driver
    scalars), so wall time should track data sub-linearly at this size
    (fixed job overhead amortizes) and the shuffle structure is
    unchanged by construction — the factor printed is the wall ratio."""
    from data_integration_est_spark.design import SurveyDesign
    from data_integration_est_spark.estimators.glm import svyglm
    from data_integration_est_spark.kernels.quantile import svyquantile
    from data_integration_est_spark.kernels.rake import rake
    from data_integration_est_spark.kernels.replicate import poisson_bootstrap_mean

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    max_id = ev.agg(F.max("event_id")).collect()[0][0]

    def events(mult: int):
        parts = [
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * (max_id + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.withColumn(
            "w", 1.0 + (F.col("event_id") % 10).cast("double")
        )

    def quant_at(mult: int):
        des = SurveyDesign(df=events(mult), weight_col="w")
        return len(
            svyquantile(des, "value", qs=(0.25, 0.5, 0.9),
                        group_cols=["event_type"], alpha=0.05).collect()
        )

    def rake_at(mult: int):
        e = events(mult).withColumn(
            "bucket", (F.col("user_id") % 5).cast("string")
        ).na.drop(subset=["value"])
        m_type = {
            r["event_type"]: float(r["n"]) for r in
            e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        m_bucket = {
            r["bucket"]: float(r["n"]) for r in
            e.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        out = rake(e, {"event_type": m_type, "bucket": m_bucket},
                   d_col="w", max_iter=3, tol=None)
        return out.agg(F.sum("w_rake")).count()

    def boot_at(mult: int):
        return poisson_bootstrap_mean(
            events(mult), "value", "event_id", weight_col="w",
            n_replicates=64,
        ).count()

    def glm_at(mult: int):
        e = events(mult).na.drop(subset=["value"]).withColumn(
            "x", (F.col("user_id") % 100).cast("double")
        )
        des = SurveyDesign(df=e, weight_col="w")
        return svyglm(des, "value ~ x").count()

    for label, fn in [
        ("svyquantile_ci", quant_at), ("rake", rake_at),
        ("bootstrap64", boot_at), ("svyglm", glm_at),
    ]:
        t1 = _timed(f"{label}_x1_{n}rows", lambda m=1, f=fn: f(m))
        t10 = _timed(f"{label}_x10_{10 * n}rows", lambda m=10, f=fn: f(m))
        print(json.dumps({
            "probe": f"{label}_scale_factor_10x", "factor": round(t10 / t1, 2)
        }))


def probe_r6_ops(spark, sf_dir: str):
    """r6 heavy additions at 1x and 10x: BPE learning (merge count fixed,
    so jobs are constant — wall should track the word-table build) and
    PQ train+encode (n_iter+2 jobs regardless of m after the r6
    batching; wall should track data sub-linearly at this size)."""
    from data_integration_est_spark.ops.bpe import learn_bpe
    from data_integration_est_spark.ops.pq import pq_encode, pq_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    dmax = docs.agg(F.max("doc_id")).collect()[0][0]

    def corpus(mult: int):
        parts = [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (dmax + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionByName(pp)
        return out

    def bpe_at(mult: int):
        merges, _ = learn_bpe(corpus(mult), num_merges=8)
        return len(merges)

    b1 = _timed(f"bpe8_x1_{n}docs", lambda: bpe_at(1))
    b10 = _timed(f"bpe8_x10_{10 * n}docs", lambda: bpe_at(10))
    print(json.dumps({"probe": "bpe_scale_factor_10x",
                      "factor": round(b10 / b1, 2)}))

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ne = emb.count()
    emax = emb.agg(F.max("vec_id")).collect()[0][0]

    def vecs(mult: int):
        parts = [
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * (emax + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionByName(pp)
        return out

    def pq_at(mult: int):
        v = vecs(mult)
        books = pq_train(v, m=16, k=16, n_iter=2)
        return pq_encode(v, books).agg(
            F.sum(F.element_at("pq_code", 1))
        ).count()

    p1 = _timed(f"pq_train_encode_x1_{ne}vecs", lambda: pq_at(1))
    p10 = _timed(f"pq_train_encode_x10_{10 * ne}vecs", lambda: pq_at(10))
    print(json.dumps({"probe": "pq_scale_factor_10x",
                      "factor": round(p10 / p1, 2)}))


def probe_pq_realistic(spark, sf_dir: str):
    """r7: the FAISS-realistic codebook shape (m=16, k=256, n_iter=5 —
    the 'IVF-PQ16x8' configuration) at 1x and 10x, recording wall AND
    the driver-resident codebook footprint, to back ``ops/pq.py``'s
    claim that k <= 256 keeps codes at m bytes/vector with the
    codebooks a broadcast-sized driver object (m * k * d/m * 8 bytes =
    dim * k * 8, independent of corpus size)."""
    from data_integration_est_spark.ops.pq import pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ne = emb.count()
    emax = emb.agg(F.max("vec_id")).collect()[0][0]

    def vecs(mult: int):
        parts = [
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * (emax + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionByName(pp)
        return out

    books_box = {}

    def pq_real_at(mult: int):
        v = vecs(mult)
        books = pq_train(v, m=16, k=256, n_iter=5)
        books_box[mult] = books
        return pq_encode(v, books).agg(
            F.sum(F.element_at("pq_code", 1))
        ).count()

    p1 = _timed(f"pq16x256_train_encode_x1_{ne}vecs", lambda: pq_real_at(1))
    p10 = _timed(
        f"pq16x256_train_encode_x10_{10 * ne}vecs", lambda: pq_real_at(10)
    )
    books = books_box[10]
    codebook_bytes = sum(
        len(sub) * len(sub[0]) * 8 for sub in books
    )
    print(json.dumps({
        "probe": "pq16x256_scale_factor_10x",
        "factor": round(p10 / p1, 2),
        "codebook_bytes": codebook_bytes,
        "n_subspaces": len(books),
        "k": max(len(sub) for sub in books),
        "code_bytes_per_vector": len(books),
    }))


def probe_r7_ops(spark, sf_dir: str):
    """r7 additions at 1x and 10x: duplicated-span removal (O(corpus
    tokens): window-key groupBy + islands + span join), trigram LM
    scoring (two explode projections + persisted count tables), and the
    per-source top-fraction cut (one keyed window)."""
    from data_integration_est_spark.ops.dedup import duplicated_span_dedup
    from data_integration_est_spark.ops.mixing import keep_top_fraction
    from data_integration_est_spark.ops.text import trigram_logprob_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    dmax = docs.agg(F.max("doc_id")).collect()[0][0]

    def corpus(mult: int):
        parts = [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (dmax + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionByName(pp)
        return out

    probes = [
        ("span_dedup", lambda m: duplicated_span_dedup(
            corpus(m), min_len=8).agg(
                F.sum("n_removed")).collect()[0][0]),
        ("trigram_lm", lambda m: trigram_logprob_scores(
            corpus(m)).agg(F.sum("n_trigrams")).collect()[0][0]),
        ("quality_cut", lambda m: keep_top_fraction(
            corpus(m).withColumn("sc", (F.col("n_chars") % 50).cast("double")),
            "sc", 0.3, key_cols="source").count()),
    ]
    for label, fn in probes:
        t1 = _timed(f"{label}_x1_{n}docs", lambda m=1, f=fn: f(m))
        t10 = _timed(f"{label}_x10_{10 * n}docs", lambda m=10, f=fn: f(m))
        print(json.dumps({
            "probe": f"{label}_scale_factor_10x", "factor": round(t10 / t1, 2)
        }))


def probe_r8_ops(spark, sf_dir: str):
    """r8: duplicated-span removal at the REALISTIC min_len (Lee et al.
    2022 deduplicate ~50-token spans; the r7 probe ran L=8) — records
    the window-key count at L=8 vs L=50 (the explosion factor a user
    actually pays) and the 1x/10x wall factor at L=50 — plus the
    grouped BRR kernel at 1x/10x (one keyed pass, R replicates as
    driver numpy arithmetic regardless of data size)."""
    from data_integration_est_spark.kernels.replicate import brr_mean
    from data_integration_est_spark.ops.dedup import duplicated_span_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    dmax = docs.agg(F.max("doc_id")).collect()[0][0]

    def corpus(mult: int):
        parts = [
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (dmax + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionByName(pp)
        return out

    # window-key volume per min_len: sum_docs max(0, T - L + 1)
    toks = docs.select(
        F.size(F.split(F.col("text"), r"\s+")).alias("T")
    )
    keys = {
        L: toks.agg(
            F.sum(F.greatest(F.col("T") - F.lit(L - 1), F.lit(0)))
        ).collect()[0][0]
        for L in (8, 50)
    }
    print(json.dumps({
        "probe": "span_dedup_window_keys",
        "keys_L8": int(keys[8]), "keys_L50": int(keys[50]),
        "L8_over_L50": round(keys[8] / max(1, keys[50]), 2),
    }))

    def span50(m):
        return duplicated_span_dedup(corpus(m), min_len=50).agg(
            F.sum("n_removed")).collect()[0][0]

    t1 = _timed(f"span_dedup_L50_x1_{n}docs", lambda: span50(1))
    t10 = _timed(f"span_dedup_L50_x10_{10 * n}docs", lambda: span50(10))
    print(json.dumps({
        "probe": "span_dedup_L50_scale_factor_10x", "factor": round(t10 / t1, 2)
    }))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ne = ev.count()

    def brr_by(m):
        base = ev
        for i in range(1, m):
            base = base.unionByName(ev)
        base = (
            base.withColumn("h", F.col("event_id") % 32)
            .withColumn("p", F.pmod(F.floor(F.col("event_id") / 32), F.lit(2)))
            .withColumn("w", 1.0 + (F.col("event_id") % 10).cast("double"))
        )
        return brr_mean(
            base, "value", "h", "p", weight_col="w",
            group_cols=["event_type"],
        ).count()

    b1 = _timed(f"brr_by_x1_{ne}rows", lambda: brr_by(1))
    b10 = _timed(f"brr_by_x10_{10 * ne}rows", lambda: brr_by(10))
    print(json.dumps({
        "probe": "brr_grouped_scale_factor_10x", "factor": round(b10 / b1, 2)
    }))

    # SemDeDup: 10x vectors at FIXED k multiplies per-cluster pair work
    # by 100x (the quadratic term) — so the honest probe scales k with N
    # (the paper's operating rule: cluster size ~ N/k stays constant).
    from data_integration_est_spark.ops.semdedup import (
        deterministic_centroids, semdedup_flags,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nv = emb.count()
    vmax = emb.agg(F.max("vec_id")).collect()[0][0]

    def vecs(mult: int):
        parts = [
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * (vmax + 1)))
            for i in range(mult)
        ]
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionByName(pp)
        return out

    def sem(mult: int, k: int):
        # persist the working set first: Lloyd + assignment are 4+ jobs
        # over the same corpus, and an unpersisted multi-branch union
        # re-compiles the k x dim assignment expression per branch per
        # job (measured 4x wall at k=40) — cache it like any iterative
        # algorithm's input
        d = vecs(mult).persist()
        d.count()
        try:
            cents = deterministic_centroids(d, k=k, n_iter=2)
            return semdedup_flags(d, threshold=0.95, centroids=cents).filter(
                "is_semdup").count()
        finally:
            d.unpersist()

    s1 = _timed(f"semdedup_x1_{nv}vecs_k4", lambda: sem(1, 4))
    s10 = _timed(f"semdedup_x10_{10 * nv}vecs_k40", lambda: sem(10, 40))
    print(json.dumps({
        "probe": "semdedup_scale_factor_10x_k_scaled",
        "factor": round(s10 / s1, 2),
    }))

    # portable HLL: one keyed pass, at most 2^p rows out per group
    from data_integration_est_spark.ops.sketches import hll_count_distinct

    h1 = _timed(f"hll_x1_{ne}rows", lambda: hll_count_distinct(
        ev, "user_id", p=12).collect())
    ev10 = ev
    for _ in range(9):
        ev10 = ev10.unionByName(ev)
    h10 = _timed(f"hll_x10_{10 * ne}rows", lambda: hll_count_distinct(
        ev10, "user_id", p=12).collect())
    print(json.dumps({
        "probe": "hll_scale_factor_10x", "factor": round(h10 / h1, 2)
    }))


def probe_r10_semdedup(spark, sf_dir: str):
    """r10 (r8 VERDICT ask #6): SemDeDup at REALISTIC k — the per-
    cluster applyInPandas Gram is the operator's only unbounded
    dimension, and earlier probes ran k<=40.  Here: 10x embeddings,
    k=256 (>= the paper's cluster-size regime for this corpus),
    centroids trained on a 25% hash-Bernoulli sample
    (``kmeans_centroids(sample_frac=)``, the billion-vector practice),
    recording the FULL per-cluster size distribution — max cluster size
    is the quantity that bounds the O(size^2) Gram."""
    from data_integration_est_spark.ops.semdedup import (
        assign_clusters, semdedup_flags,
    )
    from data_integration_est_spark.ops.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nv = emb.count()
    vmax = emb.agg(F.max("vec_id")).collect()[0][0]
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * (vmax + 1)))
        for i in range(10)
    ]
    big = parts[0]
    for pp in parts[1:]:
        big = big.unionByName(pp)
    big = big.persist()
    n10 = big.count()

    k = 256
    t0 = time.perf_counter()
    cents = kmeans_centroids(big, k=k, n_iter=3, sample_frac=0.25)
    t_train = time.perf_counter() - t0
    sizes = (
        assign_clusters(big, cents)
        .groupBy("cluster").count()
        .agg(
            F.max("count").alias("mx"),
            F.expr("percentile_approx(count, 0.99)").alias("p99"),
            F.expr("percentile_approx(count, 0.5)").alias("p50"),
            F.count(F.lit(1)).alias("nonempty"),
        )
        .collect()[0]
    )
    print(json.dumps({
        "probe": f"semdedup_k{k}_cluster_sizes_{n10}vecs",
        "train_sec": round(t_train, 2),
        "max_cluster": int(sizes["mx"]), "p99": int(sizes["p99"]),
        "p50": int(sizes["p50"]), "nonempty_clusters": int(sizes["nonempty"]),
        "mean_if_uniform": round(n10 / k, 1),
    }))
    _timed(
        f"semdedup_x10_{n10}vecs_k{k}_sampled_train",
        lambda: semdedup_flags(big, threshold=0.95, centroids=cents)
        .filter("is_semdup").count(),
    )
    big.unpersist()


def probe_r10_select(spark, sf_dir: str):
    """r10 new families at 1x and 10x: DSIR weights + Gumbel top-k over
    a 10x documents union (distinct ids), and Bloom build+probe over a
    10x synthetic id set.  What must hold: DSIR's wall is dominated by
    the feature explode (linear), the ratio join stays broadcast, the
    top-k stays TakeOrderedAndProject (no global sort); Bloom's word
    table stays <= m/32 rows regardless of input size (the monoid
    absorbs the 10x on the map side)."""
    from data_integration_est_spark.ops.bloom import bloom_build, bloom_contains
    from data_integration_est_spark.ops.dsir import (
        dsir_importance_weights, dsir_resample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dmax = docs.agg(F.max("doc_id")).collect()[0][0]
    big = docs
    for i in range(1, 10):
        big = big.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (dmax + 1)))
        )
    big = big.persist()
    n10 = big.count()

    def run_dsir(frame):
        w = dsir_importance_weights(
            frame, frame.filter(F.col("lang") == "en"),
            n_buckets=65536,
        )
        return dsir_resample(w, k=max(100, n10 // 50)).count()

    t1 = _timed(f"dsir_1x_{docs.count()}docs_B65536",
                lambda: run_dsir(docs))
    t10 = _timed(f"dsir_10x_{n10}docs_B65536", lambda: run_dsir(big))
    print(json.dumps({"probe": "dsir_wall_factor_10x",
                      "factor": round(t10 / max(t1, 1e-9), 2)}))

    ids = spark.range(2_000_000).select((F.col("id") * 13 + 7).alias("v"))
    big_ids = spark.range(20_000_000).select(
        (F.col("id") * 13 + 7).alias("v")
    )
    m, k = 1 << 26, 5

    def bloom_roundtrip(frame):
        bl = bloom_build(frame.filter(F.col("v") % 10 == 3), "v", m, k)
        return bloom_contains(
            frame, "v", bl, m, k, id_col="v"
        ).filter("might_contain").count()

    b1 = _timed("bloom_build_probe_2M_m2^26", lambda: bloom_roundtrip(ids))
    b10 = _timed("bloom_build_probe_20M_m2^26",
                 lambda: bloom_roundtrip(big_ids))
    print(json.dumps({"probe": "bloom_wall_factor_10x",
                      "factor": round(b10 / max(b1, 1e-9), 2)}))
    big.unpersist()


def probe_r10_late(spark, sf_dir: str):
    """r10 late additions at 1x/10x: PMI collocation mining over a 10x
    documents union and time-grid resampling over a 10x events union
    (ids offset; the event copies shift by one step so the grid mass
    grows too).  What must hold: PMI's wall is the tokenize explode
    (linear) + vocabulary-sized count joins; resample's grid stays
    sum-of-spans-sized with keyed-window fills (no cross join)."""
    from data_integration_est_spark.ops.collocations import pmi_collocations
    from data_integration_est_spark.ops.timeseries import resample_timeseries

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big_docs = docs
    for _ in range(9):
        big_docs = big_docs.unionByName(docs)
    n10 = big_docs.count()
    t1 = _timed(
        f"pmi_1x_{docs.count()}docs",
        lambda: pmi_collocations(docs, min_count=10, top_k=100).count(),
    )
    t10 = _timed(
        f"pmi_10x_{n10}docs",
        lambda: pmi_collocations(big_docs, min_count=100, top_k=100).count(),
    )
    print(json.dumps({"probe": "pmi_wall_factor_10x",
                      "factor": round(t10 / max(t1, 1e-9), 2)}))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    big_ev = ev
    for i in range(1, 10):
        big_ev = big_ev.unionByName(
            ev.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i} HOURS"))
        )
    m10 = big_ev.count()
    r1 = _timed(
        f"resample_1x_{ev.count()}events",
        lambda: resample_timeseries(
            ev, "ts", "value", "event_type", 600, fill="linear"
        ).count(),
    )
    r10 = _timed(
        f"resample_10x_{m10}events",
        lambda: resample_timeseries(
            big_ev, "ts", "value", "event_type", 600, fill="linear"
        ).count(),
    )
    print(json.dumps({"probe": "resample_wall_factor_10x",
                      "factor": round(r10 / max(r1, 1e-9), 2)}))


def probe_streaming_state(spark):
    """r11 (r10 verdict #7): the three applyInPandasWithState monitors
    (frequency/CMS, cardinality/HLL, quantile/histogram) at 1x and 10x
    KEY cardinality with the row count held fixed — streaming state is
    keys x a constant-size sketch (d*w counters / 2^p registers / bins
    counts), so state must grow ~10x while drain wall stays ~flat (the
    row volume, not the key count, is the work).  A fat-key run (all
    rows one key) checks the per-key state bound: sketch state cannot
    grow with rows, so no state cap is needed — unlike a
    collect-the-values stateful op.  Drains use availableNow over 8
    parquet files in 4 micro-batches (maxFilesPerTrigger=2)."""
    import shutil
    import tempfile

    from data_integration_est_spark.streaming import cardinality as sc
    from data_integration_est_spark.streaming import docs as sd
    from data_integration_est_spark.streaming import events as se
    from data_integration_est_spark.streaming import frequency as sf
    from data_integration_est_spark.streaming import monitor as sm

    n_rows = 400_000
    d, w, p, bins = 4, 256, 12, 64

    def drive(tag, keys, fat=False):
        tmp = tempfile.mkdtemp(prefix="stream_scale_")
        try:
            key = F.lit("k0") if fat else F.concat(
                F.lit("k"), (F.col("id") % keys).cast("string")
            )
            (
                spark.range(n_rows)
                .select(
                    F.col("id").alias("doc_id"),
                    key.alias("source"),
                    (F.col("id") % 9973).alias("v"),
                    ((F.col("id") * 37) % 1000).cast("double").alias("x"),
                )
                .repartition(8)
                .write.parquet(tmp, mode="overwrite")
            )
            stream = lambda: sd.read_doc_stream(  # noqa: E731
                spark, tmp, max_files_per_trigger=2
            )
            n_keys = 1 if fat else keys
            t = _timed(
                f"stream_freq_{tag}_{n_keys}keys",
                lambda: se.run_to_memory(
                    sf.frequency_monitor_stream(
                        stream(), "v", "source", depth=d, width=w),
                    f"sp_f_{tag}", output_mode="update",
                ).select("key").distinct().count(),
            )
            t2 = _timed(
                f"stream_hll_{tag}_{n_keys}keys",
                lambda: se.run_to_memory(
                    sc.distinct_monitor_stream(stream(), "v", "source", p=p),
                    f"sp_c_{tag}", output_mode="update",
                ).select("key").distinct().count(),
            )
            t3 = _timed(
                f"stream_qmon_{tag}_{n_keys}keys",
                lambda: se.run_to_memory(
                    sm.quantile_monitor_stream(
                        stream(), "x", "source", 0.0, 1000.0, bins=bins),
                    f"sp_q_{tag}", output_mode="update",
                ).select("key").distinct().count(),
            )
            print(json.dumps({
                "probe": f"stream_state_{tag}",
                "keys": n_keys,
                "rows": n_rows,
                "state_ints": {
                    "freq(d*w/key)": n_keys * d * w,
                    "hll(2^p/key)": n_keys * (1 << p),
                    "qmon(bins/key)": n_keys * bins,
                },
                "drain_sec": {"freq": round(t, 2), "hll": round(t2, 2),
                              "qmon": round(t3, 2)},
                "rows_per_sec": {
                    "freq": round(n_rows / t), "hll": round(n_rows / t2),
                    "qmon": round(n_rows / t3)},
            }))
            return t, t2, t3
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    s1 = drive("x1", 100)
    s10 = drive("x10", 1000)
    fat = drive("fat", 1, fat=True)
    print(json.dumps({
        "probe": "stream_state_scale_factors_10x_keys",
        "wall_factor": {
            n: round(b / max(a, 1e-9), 2)
            for n, a, b in zip(("freq", "hll", "qmon"), s1, s10)
        },
        "fat_key_wall_factor_vs_x1": {
            n: round(b / max(a, 1e-9), 2)
            for n, a, b in zip(("freq", "hll", "qmon"), s1, fat)
        },
    }))


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from data_integration_est_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    if which in ("mc", "all"):
        probe_mc(spark)
    if which in ("docs", "all"):
        probe_docs(spark, sf_dir)
    if which in ("r5", "all"):
        probe_r5_ops(spark, sf_dir)
    if which in ("stats", "all"):
        probe_stats(spark, sf_dir)
    if which in ("r6", "all"):
        probe_r6_ops(spark, sf_dir)
    if which in ("pq", "all"):
        probe_pq_realistic(spark, sf_dir)
    if which in ("r7", "all"):
        probe_r7_ops(spark, sf_dir)
    if which in ("r8", "all"):
        probe_r8_ops(spark, sf_dir)
    if which in ("r10", "all"):
        probe_r10_semdedup(spark, sf_dir)
    if which in ("r10sel", "all"):
        probe_r10_select(spark, sf_dir)
    if which in ("r10late", "all"):
        probe_r10_late(spark, sf_dir)
    if which in ("streaming", "all"):
        probe_streaming_state(spark)


if __name__ == "__main__":
    main()
