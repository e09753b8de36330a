"""IVF cell-skew study (BENCH/SIMILARITY.md): a hot centroid makes one IVF
cell a join-side skew key — the ANN analogue of the A2/A3 hub-key study in
BENCH/SKEW.md. Measures (a) the cell-population histogram of the realistic
S3 quantizer, (b) a worst-case quantizer (one centroid at the data mean of
gaussian data captures ~every vector), and (c) ivf_topk wall time on the
skewed quantizer with AQE skew-join handling ON vs OFF.

Usage: python scripts/bench_ivf_skew.py [replicated_emb_parquet]
       (defaults to /tmp/bench_scaling/sign_flipped-x16, the input
       `python bench_scaling.py sim_lsh` writes)
"""
from __future__ import annotations

import json
import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

from pysemanticcomplexity_spark.operators.similarity import (  # noqa: E402
    _ivf_assign_udf, ivf_topk)
from pysemanticcomplexity_spark.session import get_spark  # noqa: E402


def cell_histogram(emb, cents):
    one = _ivf_assign_udf(cents, nprobe=1)
    counts = (emb.select(F.get(one("embedding"), 0).alias("cell"))
              .groupBy("cell").count().orderBy(F.desc("count")).collect())
    sizes = [r["count"] for r in counts]
    return {"n_cells": len(sizes), "max": sizes[0],
            "median": sizes[len(sizes) // 2], "min": sizes[-1],
            "max_share": round(sizes[0] / sum(sizes), 4)}


def timed_topk(spark, emb, queries, cents, aqe: bool):
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(aqe).lower())
    t0 = time.time()
    n = ivf_topk(emb, queries, k=5, centroids=cents, nprobe=2).count()
    return round(time.time() - t0, 3), n


def main():
    path = (sys.argv[1] if len(sys.argv) > 1
            else "/tmp/bench_scaling/sign_flipped-x16")
    spark = get_spark(app_name="ivf-skew", master="local[32]",
                      shuffle_partitions=32)
    emb = spark.read.parquet(path)
    emb = emb.withColumn("embedding",
                         F.transform("embedding",
                                     lambda x: x.cast("double")))
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % 10_000_000 < 200)

    rng = np.random.RandomState(7)
    # the testdata embeddings are unit-norm: quantizers must be spherical
    # (unit-norm centroids), else the smallest-norm centroid wins every
    # argmin and ALL vectors land in one cell (measured: n_cells == 1)
    realistic = rng.randn(16, 64)
    realistic /= np.linalg.norm(realistic, axis=1, keepdims=True)
    # skewed: 12 of 16 centroids are tiny perturbations of ONE direction
    # (they micro-slice a small cone), leaving 4 centroids to absorb the
    # rest of the sphere -> a few hot cells with ~25% of the corpus each
    skewed = rng.randn(16, 64)
    skewed[4:] = skewed[4][None, :] + 0.01 * rng.randn(12, 64)
    skewed /= np.linalg.norm(skewed, axis=1, keepdims=True)

    out = {"vectors": n,
           "realistic_cells": cell_histogram(emb, realistic),
           "skewed_cells": cell_histogram(emb, skewed)}
    timed_topk(spark, emb, queries, skewed, True)     # JIT/Arrow warmup
    for aqe in (True, False):
        wall, rows = timed_topk(spark, emb, queries, skewed, aqe)
        out[f"skewed_topk_aqe_{aqe}"] = {"wall_s": wall, "rows": rows}
    wall, rows = timed_topk(spark, emb, queries, realistic, True)
    out["realistic_topk_aqe_True"] = {"wall_s": wall, "rows": rows}
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
