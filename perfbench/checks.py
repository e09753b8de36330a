"""Output checks. Each returns a list of problems; empty means correct.

Table checksums are order-independent: the row count plus the sum of each
row's xxhash64, summed as decimal(38,0) so it never overflows. Doubles are
canonicalised first (NaN and NULL both become NULL, values rounded to 9
decimals) so that paths that differ only in float summation order agree.
"""
from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T

DEC = "decimal(38,0)"
ROUND = 9


def _canon(col, dtype):
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        c = col.cast("double")
        return F.when(F.isnan(c) | c.isNull(), F.lit(None).cast("double")) \
            .otherwise(F.round(c, ROUND))
    return col


def _canon_array(arr):
    return F.transform(arr, lambda x: _canon(x, T.DoubleType()))


def _sum_hash(df, hash_col) -> tuple:
    row = df.select(hash_col.cast(DEC).alias("h")) \
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).first()
    return int(row["n"]), str(row["h"] or 0)


def frame_checksum(df) -> tuple:
    """(rows, hash) of any DataFrame of scalar columns."""
    cols = [_canon(F.col(f.name), f.dataType) for f in df.schema.fields]
    return _sum_hash(df, F.xxhash64(*cols))


def kg_table_checksum(triples, features, feature_cols) -> dict:
    """Checksums of a triples table (url, subj, pred, obj) and a features
    table (filename + ``feature_cols``)."""
    n_t, h_t = _sum_hash(triples, F.xxhash64("url", "subj", "pred", "obj"))
    feats = F.array(*[F.col(c).cast("double") for c in feature_cols])
    n_f, h_f = _sum_hash(features,
                         F.xxhash64(F.col("filename"), _canon_array(feats)))
    return {"triples": n_t, "triples_hash": h_t,
            "features": n_f, "features_hash": h_f}


def fused_docs_checksum(docs) -> dict:
    """The same checksums as ``kg_table_checksum``, computed in one pass
    over per-document output rows (url, nb_words, triples, features)."""
    zero = F.lit(0).cast(DEC)
    per_doc = docs.select(
        F.size("triples").cast("long").alias("nt"),
        F.aggregate(
            F.transform("triples", lambda t: F.xxhash64(
                F.col("url"), t["subj"], t["pred"], t["obj"]).cast(DEC)),
            zero, lambda acc, x: (acc + x).cast(DEC)).alias("th"),
        F.xxhash64(F.col("url"), _canon_array(F.col("features")))
        .cast(DEC).alias("fh"))
    row = per_doc.agg(F.count(F.lit(1)).alias("nf"), F.sum("nt").alias("nt"),
                      F.sum("th").alias("th"), F.sum("fh").alias("fh")).first()
    return {"triples": int(row["nt"] or 0), "triples_hash": str(row["th"] or 0),
            "features": int(row["nf"]), "features_hash": str(row["fh"] or 0)}


def compare_checksums(got: dict, want: dict, what: str) -> list:
    return [f"{what}: {k} {got.get(k)} != expected {v}"
            for k, v in want.items() if got.get(k) != v]


def _close(a, b, tol: float = 1e-9) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def reference_sample(out_dir: str, spark, ref_triples: set,
                     ref_vectors: dict, feature_cols) -> list:
    """Written triples/features of the sample URLs equal the pure-Python
    reference pipeline's."""
    urls = sorted(ref_vectors)
    trip = (spark.read.parquet(os.path.join(out_dir, "triples"))
            .filter(F.col("url").isin(urls))
            .select("url", "subj", "pred", "obj").collect())
    got_t = {tuple(r) for r in trip}
    problems = []
    if got_t != ref_triples or len(trip) != len(got_t):
        problems.append(
            f"reference sample: {len(ref_triples - got_t)} triples missing, "
            f"{len(got_t - ref_triples)} extra, "
            f"{len(trip) - len(got_t)} duplicated")
    feats = (spark.read.parquet(os.path.join(out_dir, "features"))
             .filter(F.col("filename").isin(urls)).collect())
    got_f = {r["filename"]: [r[c] for c in feature_cols] for r in feats}
    if set(got_f) != set(ref_vectors) or len(feats) != len(got_f):
        problems.append(f"reference sample: {len(feats)} feature rows for "
                        f"{len(ref_vectors)} sample pages")
    else:
        bad = [u for u, ref in ref_vectors.items()
               if not all(_close(a, b) for a, b in zip(got_f[u], ref))]
        if bad:
            problems.append(f"reference sample: {len(bad)} feature rows "
                            f"differ, e.g. {bad[0]}")
    return problems


def bucket_dirs(table_dir: str) -> set:
    return {int(d.split("=", 1)[1]) for d in os.listdir(table_dir)
            if d.startswith("bucket=")}


def lineage_check(spark, out_dir: str, stages, want_rows: dict = None) -> list:
    """For every stage: each bucket partition on disk has exactly one done
    lineage row whose row count matches the data, and no done lineage row
    lacks its partition. With ``want_rows`` ({stage: {bucket: rows}}), the
    per-bucket row counts must also equal it (no duplicated, lost or
    unexpected bucket)."""
    problems = []
    lin = spark.read.parquet(os.path.join(out_dir, "_lineage")) \
        .filter(F.col("status") == "done") \
        .select("stage", "bucket", "rows").collect()
    for stage in stages:
        target = os.path.join(out_dir, stage)
        rows = dict(spark.read.parquet(target).groupBy("bucket").count()
                    .collect())
        if set(rows) != bucket_dirs(target):
            problems.append(f"{stage}: empty bucket partitions on disk")
        lin_rows, dup = {}, 0
        for r in lin:
            if r["stage"] == stage:
                dup += r["bucket"] in lin_rows
                lin_rows[r["bucket"]] = r["rows"]
        if dup:
            problems.append(f"{stage}: {dup} buckets with duplicate lineage")
        if set(lin_rows) != set(rows):
            problems.append(
                f"{stage}: {len(set(rows) - set(lin_rows))} buckets lack a "
                f"done lineage row, {len(set(lin_rows) - set(rows))} lineage "
                f"rows lack data")
        else:
            bad = [b for b in rows if rows[b] != lin_rows[b]]
            if bad:
                problems.append(f"{stage}: lineage row counts differ from "
                                f"the data in {len(bad)} buckets")
        if want_rows is not None and rows != want_rows[stage]:
            diff = [b for b in set(rows) | set(want_rows[stage])
                    if rows.get(b) != want_rows[stage].get(b)]
            problems.append(f"{stage}: {len(diff)} buckets differ from the "
                            f"uninterrupted output")
    return problems
