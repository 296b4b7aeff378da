"""Recall-targeted ANN parameter derivation (VERDICT r5 task 6): the
occupancy family extended from cost to quality — (n_planes, n_tables)
from a closed-form collision bound, nprobe from bounded empirical
calibration — verified against exact brute force on synthetic corpora
with known neighbor structure."""

from __future__ import annotations

import math

import numpy as np
import pytest

from receiptanalyzerpipeline_spark.operators.ivf import (
    auto_n_cells,
    calibrate_nprobe,
    fit_centroids,
    ivf_topk,
)
from receiptanalyzerpipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
    lsh_recall_params,
)


def _corpus(spark, n=400, dim=64, seed=7, planted_pairs=40, sim=0.95):
    """Random unit vectors + ``planted_pairs`` near-duplicates at cosine
    ≈ ``sim`` (each planted vector is a noised copy of an anchor)."""
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    noise_scale = math.sqrt(1.0 / sim**2 - 1.0)
    for i in range(planted_pairs):
        anchor = X[i]
        noise = rng.normal(size=dim)
        noise -= noise @ anchor * anchor
        noise /= np.linalg.norm(noise)
        v = anchor + noise_scale * noise
        X[n - planted_pairs + i] = v / np.linalg.norm(v)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_recall_params_formula_properties():
    planes, tables = lsh_recall_params(10_000, recall_target=0.9, sim_floor=0.8)
    # More demanding target or lower floor ⇒ at least as many tables.
    _, t_hi = lsh_recall_params(10_000, recall_target=0.99, sim_floor=0.8)
    _, t_lo_floor = lsh_recall_params(10_000, recall_target=0.9, sim_floor=0.6)
    assert t_hi >= tables and t_lo_floor >= tables
    # The bound itself: 1 - (1 - p^planes)^tables >= target.
    p = 1 - math.acos(0.8) / math.pi
    assert 1 - (1 - p**planes) ** tables >= 0.9
    # Occupancy side unchanged: planes matches auto_n_planes.
    from receiptanalyzerpipeline_spark.operators.similarity import auto_n_planes

    assert planes == auto_n_planes(10_000)


def test_lsh_derived_params_hit_recall_on_planted_neighbors(spark):
    """Probes are the planted near-duplicates; ground truth rank-1 is the
    anchor at cosine ≈ 0.95. With params derived for target 0.9 at floor
    0.9, the anchor must be retrieved for ≥ 85% of probes (bound slack:
    the formula is per-neighbor; ties/noise cost a few points)."""
    n, planted = 400, 40
    corpus = _corpus(spark, n=n, planted_pairs=planted, sim=0.95)
    planes, tables = lsh_recall_params(n, recall_target=0.9, sim_floor=0.9)
    probes = (
        corpus.where(f"vec_id >= {n - planted}")
        .selectExpr("vec_id AS q_id", "embedding AS q_emb")
    )
    got = lsh_bucketed_topk(
        corpus, probes, k=1, n_planes=planes, n_tables=tables
    ).collect()
    hits = sum(1 for r in got if r["vec_id"] == r["q_id"] - (n - planted))
    assert hits / planted >= 0.85, f"recall {hits}/{planted} with {planes=} {tables=}"


def test_auto_n_cells_occupancy_and_bounds():
    assert auto_n_cells(1000, target_cell_size=256) == 4
    assert auto_n_cells(100_000, target_cell_size=256) == 391
    assert auto_n_cells(10, target_cell_size=256) == 4  # lo clamp
    assert auto_n_cells(10**9, target_cell_size=256) == 4096  # hi clamp


@pytest.mark.slow
def test_calibrate_nprobe_meets_target_and_is_minimal(spark):
    corpus = _corpus(spark, n=400, planted_pairs=0)
    centroids = fit_centroids(corpus, n_cells=16, sample_n=400)
    nprobe, recall = calibrate_nprobe(
        corpus, centroids, recall_target=0.9, k=10, sample_probes=12
    )
    assert recall >= 0.9
    assert 1 <= nprobe <= 16
    if nprobe > 1:  # minimality: half the probes missed the target
        probes = (
            corpus.selectExpr("vec_id AS q_id", "embedding AS q_emb")
            .orderBy("q_id")
            .limit(12)
        )
        truth = {
            (r["q_id"], r["vec_id"])
            for r in brute_force_topk(corpus, probes, k=10).collect()
        }
        got = {
            (r["q_id"], r["vec_id"])
            for r in ivf_topk(
                corpus, probes, centroids, k=10, nprobe=nprobe // 2
            ).collect()
        }
        assert len(got & truth) / len(truth) < 0.9


@pytest.mark.slow
def test_calibrate_shortlist_meets_target_and_is_minimal(spark):
    """VERDICT r6 task 6: PQ's rerank shortlist is DERIVED like nprobe —
    the smallest doubling that clears the recall bar against exact L2 on
    a bounded probe sample."""
    from pyspark.sql import functions as F

    from receiptanalyzerpipeline_spark.operators.pq import (
        calibrate_shortlist,
        pq_fit_encode,
        pq_search_rerank,
    )

    corpus = _corpus(spark, n=400, planted_pairs=0)
    emb = corpus.select("vec_id", F.col("embedding").alias("v"))
    codebooks, codes = pq_fit_encode(emb, dims=64, m=8, ks=16)
    shortlist, recall = calibrate_shortlist(
        emb, codebooks, codes, dims=64, m=8,
        recall_target=0.9, k=10, sample_probes=12,
    )
    assert recall >= 0.9
    assert 10 <= shortlist <= 4096
    if shortlist > 16:  # minimality: half the shortlist missed the target
        probes = (
            emb.selectExpr("vec_id AS q_id", "v AS qv").orderBy("q_id").limit(12)
        )
        d2 = F.aggregate(
            F.zip_with(F.col("qv"), F.col("v"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        from pyspark.sql.window import Window

        rk = Window.partitionBy("q_id").orderBy("d", "vec_id")
        truth = {
            (r["q_id"], r["vec_id"])
            for r in emb.join(
                F.broadcast(probes), F.col("vec_id") != F.col("q_id")
            )
            .select("q_id", "vec_id", d2.alias("d"))
            .withColumn("rank", F.row_number().over(rk))
            .where(F.col("rank") <= 10)
            .collect()
        }
        got = {
            (r["q_id"], r["vec_id"])
            for r in pq_search_rerank(
                probes, codebooks, codes, emb, dims=64, m=8,
                shortlist=shortlist // 2, top_k=10,
            ).collect()
        }
        assert len(got & truth) / len(truth) < 0.9

