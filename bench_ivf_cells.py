"""IVF with cells >> cores (BENCH/SIMILARITY.md follow-up): wall time and
recall@5 versus nprobe at n_centroids in {16, 256, 1024} on the
sign-flip-replicated corpus of ``bench_scaling.py``, at one level
(``local[default_cpus]``), against exact ground truth from cosine_topk on
the same corpus. The blas kernel's scoring stage then has 256-1024
parallel groups instead of 16.

    python bench_ivf_cells.py

Its N-vs-4N scaling point is ``python bench_scaling.py ivf_blas_256``; the
input (SCALE_REPLICAS, default that job's x96) is shared with it.
"""
from __future__ import annotations

import json
import time

import numpy as np
import pyspark.sql.functions as F

import bench_scaling as B
from pysemanticcomplexity_spark.operators.similarity import (
    cosine_topk, ivf_topk)
from pysemanticcomplexity_spark.session import default_cpus, get_spark


def main():
    cpus = default_cpus()
    spark = get_spark(app_name=f"ivf-cells{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2, extra_conf=B.SCAN_1M)
    emb = spark.read.parquet(B.write_input(spark, B.JOBS["ivf_blas_256"]))
    out = {"cpus": cpus, "vectors": emb.count()}
    queries = emb.filter(F.col("vec_id") < 100)          # one replica's 100
    exact = {}
    t0 = time.time()
    for r in cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    out["exact_gt_wall_s"] = round(time.time() - t0, 3)
    sweeps = []
    for n_cells in (16, 256, 1024):
        cents = B.spherical_centroids(n_cells)
        for nprobe in (1, 4, 16, 64):
            if nprobe > n_cells:
                continue
            t0 = time.time()
            got = {}
            for r in ivf_topk(emb, queries, k=5, centroids=cents,
                              nprobe=nprobe, kernel="blas").collect():
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            wall = time.time() - t0
            rec = np.mean([len(got.get(q, set()) & exact[q]) / len(exact[q])
                           for q in exact])
            sweeps.append({"n_cells": n_cells, "nprobe": nprobe,
                           "wall_s": round(wall, 3),
                           "recall_at_5": round(float(rec), 4)})
    out["sweep"] = sweeps
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
