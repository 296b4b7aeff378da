"""ANN recall harness at 1×/10×/100× (VERDICT r5 task 6).

The round-5 100× experiments measured wall-clock only; this measures
QUALITY: recall@10 of the three approximate paths — hyperplane LSH
(params from lsh_recall_params), IVF (auto_n_cells + calibrate_nprobe),
PQ ADC with exact re-rank — against exact brute-force cosine, on the
same perturbed-replica corpus protocol as SCALE.md's 100× rows (sf0.1
embeddings replicated with per-replica noise so vectors aren't exact
twins; probe set = 20 original vectors, fixed across scales).

Run:  python scripts/ann_recall_scale.py [--scales 1 10 100]
Emits one JSON line per (scale, method).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import SparkSession, functions as F


def replicate(spark, base, times: int, dim: int):
    """times perturbed replicas with shifted ids (round-5 protocol)."""
    if times == 1:
        return base
    reps = [base]
    n = base.count()
    for r in range(1, times):
        rng_seed = 1000 + r
        rep = base.select(
            (F.col("vec_id") + r * n).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + 0.05
                * (
                    F.sin(
                        (F.col("vec_id") + F.lit(r * n)).cast("double") * (i + 1)
                        + F.lit(float(rng_seed))
                    )
                ),
            ).alias("embedding"),
        )
        reps.append(rep)
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    return out


def recall_at_k(got_rows, truth_rows, k):
    truth = {}
    for r in truth_rows:
        truth.setdefault(r["q_id"], set()).add(r["vec_id"])
    got = {}
    for r in got_rows:
        got.setdefault(r["q_id"], set()).add(r["vec_id"])
    per = [
        len(got.get(q, set()) & ids) / len(ids) for q, ids in truth.items() if ids
    ]
    return sum(per) / len(per) if per else 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[1, 10, 100])
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--probes", type=int, default=20)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from receiptanalyzerpipeline_spark.operators.ivf import (
        auto_n_cells,
        calibrate_nprobe,
        fit_centroids,
        ivf_topk,
    )
    from receiptanalyzerpipeline_spark.operators.pq import (
        calibrate_shortlist,
        pq_fit_encode,
        pq_search_rerank,
    )
    from receiptanalyzerpipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
        lsh_recall_params,
    )

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("ann-recall-scale")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = len(base.select("embedding").first()[0])
    probes = (
        base.orderBy("vec_id")
        .limit(args.probes)
        .selectExpr("vec_id AS q_id", "embedding AS q_emb")
    )

    for scale in args.scales:
        corpus = replicate(spark, base, scale, dim).persist()
        n = corpus.count()
        truth = brute_force_topk(corpus, probes, k=args.k).collect()

        # LSH with recall-derived parameters.
        planes, tables = lsh_recall_params(n, recall_target=0.9, sim_floor=0.8)
        t0 = time.time()
        got = lsh_bucketed_topk(
            corpus, probes, k=args.k, n_planes=planes, n_tables=tables, dims=dim
        ).collect()
        print(json.dumps({
            "scale": scale, "n": n, "method": "lsh",
            "params": {"n_planes": planes, "n_tables": tables},
            "recall@k": round(recall_at_k(got, truth, args.k), 4),
            "search_s": round(time.time() - t0, 2),
        }), flush=True)

        # IVF with occupancy-derived cells + recall-calibrated nprobe.
        n_cells = auto_n_cells(n)
        centroids = fit_centroids(corpus, n_cells=n_cells, sample_n=2048)
        nprobe, cal = calibrate_nprobe(
            corpus, centroids, recall_target=0.9, k=args.k, sample_probes=12
        )
        t0 = time.time()
        got = ivf_topk(corpus, probes, centroids, k=args.k, nprobe=nprobe).collect()
        print(json.dumps({
            "scale": scale, "n": n, "method": "ivf",
            "params": {"n_cells": n_cells, "nprobe": nprobe, "calibration_recall": round(cal, 3)},
            "recall@k": round(recall_at_k(got, truth, args.k), 4),
            "search_s": round(time.time() - t0, 2),
        }), flush=True)

        # PQ ADC + exact re-rank. Vectors are L2-normalized first so the
        # exact-L2 rerank order equals the cosine truth's (d² = 2 − 2cos).
        unit = "transform({c}, x -> x / sqrt(aggregate({c}, 0D, (a, y) -> a + y * y)))"
        pq_emb = corpus.select(
            "vec_id", F.expr(unit.format(c="embedding")).alias("v")
        )
        pq_probes = probes.select(
            "q_id", F.expr(unit.format(c="q_emb")).alias("qv")
        )
        codebooks, codes = pq_fit_encode(pq_emb, dims=dim, m=8, ks=16)
        # Shortlist DERIVED, not fixed (VERDICT r6 task 6): fixed 64
        # decayed 0.915 → 0.735 recall at 200 k vectors.
        shortlist, cal = calibrate_shortlist(
            pq_emb, codebooks, codes, dims=dim, m=8,
            recall_target=0.9, k=args.k, sample_probes=12,
        )
        t0 = time.time()
        got = pq_search_rerank(
            pq_probes, codebooks, codes, pq_emb, dims=dim, m=8,
            shortlist=shortlist, top_k=args.k + 1,  # rerank includes self
        ).where("q_id != vec_id").collect()
        print(json.dumps({
            "scale": scale, "n": n, "method": "pq",
            "params": {"m": 8, "ks": 16, "shortlist": shortlist,
                       "calibration_recall": round(cal, 3)},
            "recall@k": round(recall_at_k(got, truth, args.k), 4),
            "search_s": round(time.time() - t0, 2),
        }), flush=True)
        corpus.unpersist()


if __name__ == "__main__":
    main()
