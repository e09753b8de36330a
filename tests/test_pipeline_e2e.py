"""End-to-end: P/R vs oracle, determinism, disambiguation modes, resume."""
import math

import pyspark.sql.functions as F

from pysemanticcomplexity_spark import FEATURE_COLUMNS, fixtures
from pysemanticcomplexity_spark.pipeline import KGPipeline


def _triples(df):
    return {(r["url"], r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_triple_pr_exact(pipeline_result, oracle60):
    """BASELINE.json target is P/R >= 0.95; we hold exact equality."""
    _, _, ref_triples, _ = oracle60
    got = _triples(pipeline_result.triples)
    tp = len(got & ref_triples)
    assert tp / len(got) == 1.0
    assert tp / len(ref_triples) == 1.0


def test_determinism_two_runs(spark, dims, pages60_df):
    pipe = KGPipeline(spark, fixtures.gazetteer(), fixtures.ontology_edges(),
                      dims["instance_types"], dims["kb_triples"])
    r1 = pipe.run(pages60_df)
    r2 = pipe.run(pages60_df)
    assert _triples(r1.triples) == _triples(r2.triples)
    f1 = {r["filename"]: [r[c] for c in FEATURE_COLUMNS[1:]] for r in r1.features.collect()}
    f2 = {r["filename"]: [r[c] for c in FEATURE_COLUMNS[1:]] for r in r2.features.collect()}
    assert set(f1) == set(f2)
    for k in f1:
        for a, b in zip(f1[k], f2[k]):
            assert (a is None and b is None) or \
                (isinstance(a, float) and math.isnan(a) and math.isnan(b)) or a == b


def test_disambiguation_modes_same_triples(spark, dims, pages60_df, oracle60):
    _, _, ref_triples, _ = oracle60
    for mode in ("agg", "apply"):
        pipe = KGPipeline(spark, fixtures.gazetteer(), fixtures.ontology_edges(),
                          dims["instance_types"], dims["kb_triples"],
                          disambiguation=mode)
        got = _triples(pipe.run(pages60_df).triples)
        assert got == ref_triples, mode


def _bucket(col, n):
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


def _read_tables(spark, out):
    """(triples set, features dict) of a run_and_write output directory."""
    triples = _triples(spark.read.parquet(out + "/triples"))
    feats = {r["filename"]: [r[c] for c in FEATURE_COLUMNS[1:]]
             for r in spark.read.parquet(out + "/features").collect()}
    return triples, feats


def _undefined(x):
    return x is None or (isinstance(x, float) and math.isnan(x))


def _assert_same_output(spark, want_dir, got_dir, tol=0.0):
    """Equal triples, and feature vectors equal within ``tol`` with
    NaN == NaN."""
    t1, f1 = _read_tables(spark, want_dir)
    t2, f2 = _read_tables(spark, got_dir)
    assert t1 == t2
    assert set(f1) == set(f2)
    for url, v1 in f1.items():
        for name, a, b in zip(FEATURE_COLUMNS[1:], v1, f2[url]):
            if _undefined(a) or _undefined(b):
                assert _undefined(a) and _undefined(b), (url, name, a, b)
            else:
                assert abs(a - b) <= tol, (url, name, a, b)


def _assert_lineage_matches_tables(spark, out):
    """Per bucket, the done-lineage row sums equal the rows on disk; no
    (url, subj, pred, obj) row written twice."""
    lin = spark.read.parquet(out + "/_lineage").filter("status = 'done'")
    for stage in ("triples", "features"):
        logged = {r["bucket"]: r["n"] for r in lin.filter(F.col("stage") == stage)
                  .groupBy("bucket").agg(F.sum("rows").alias("n")).collect()}
        on_disk = {r["bucket"]: r["count"] for r in
                   spark.read.parquet(f"{out}/{stage}").groupBy("bucket")
                   .count().collect()}
        assert logged == on_disk, stage
    dup = (spark.read.parquet(out + "/triples")
           .groupBy("url", "subj", "pred", "obj").count().filter("count > 1"))
    assert dup.isEmpty()


def _assert_table_schemas(spark, out):
    """Every data file carries exactly the schemas.TRIPLES / FEATURES
    column names and types, and the directory reads as one table."""
    import glob

    import pyarrow.parquet as pq
    from pysemanticcomplexity_spark import schemas
    for stage, schema in (("triples", schemas.TRIPLES),
                          ("features", schemas.FEATURES)):
        want = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        files = glob.glob(f"{out}/{stage}/bucket=*/*.parquet")
        assert files, stage
        for path in files:
            got = [(f.name, str(f.type)) for f in pq.read_schema(path)]
            assert got == want, path
        table = spark.read.option("mergeSchema", "true").parquet(
            f"{out}/{stage}")
        assert [(f.name, f.dataType.simpleString())
                for f in table.schema.fields] == want + [("bucket", "int")]


def test_resume_identical_output(spark, dims, tmp_path):
    """Kill-and-rerun semantics: write half the buckets, rerun everything,
    final tables equal a single-shot run (north_rule resume requirement) —
    also when the first half was written by the staged path, the layout of
    output directories that predate the fused production write."""
    from pysemanticcomplexity_spark.lineage import resumable_write
    out1 = str(tmp_path / "full")
    out2 = str(tmp_path / "resumed")
    out3 = str(tmp_path / "mixed")
    pages_df = fixtures.spark_pages(spark, 40)
    pipe = KGPipeline(spark, fixtures.gazetteer(), fixtures.ontology_edges(),
                      dims["instance_types"], dims["kb_triples"])

    def cached_rdds():
        return {i.id() for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    assert pipe.run_and_write(pages_df, out1, n_buckets=8,
                              run_id="single") is None
    # nothing left cached by the production write
    assert cached_rdds() <= before
    _assert_lineage_matches_tables(spark, out1)

    # partial first run: only pages whose bucket is even (simulated crash
    # after some partitions completed)
    partial = pages_df.filter(_bucket("url", 8) % 2 == 0)
    pipe.run_and_write(partial, out2, n_buckets=8, run_id="r1")
    # rerun with the full input; completed buckets are skipped
    pipe.run_and_write(pages_df, out2, n_buckets=8, run_id="r2", resume=True)
    _assert_same_output(spark, out1, out2)
    _assert_lineage_matches_tables(spark, out2)

    # mixed history: the even buckets written from the staged run() the way
    # the production write did before it was fused, completed by the fused
    # run_and_write
    staged = pipe.run(partial)
    resumable_write(staged.triples.withColumn("bucket", _bucket("url", 8)),
                    out3, "triples", run_id="staged")
    resumable_write(staged.features.withColumn("bucket",
                                               _bucket("filename", 8)),
                    out3, "features", run_id="staged")
    pipe.run_and_write(pages_df, out3, n_buckets=8, run_id="fused",
                       resume=True)
    writers = {r["run_id"] for r in spark.read.parquet(out3 + "/_lineage")
               .filter("stage = 'features'").select("run_id").collect()}
    assert writers == {"staged", "fused"}      # both wrote some buckets
    # the staged kernel sums features in another order: equal to the last
    # few ulps, the tolerance of tests/test_fused.py
    _assert_same_output(spark, out1, out3, tol=1e-9)
    _assert_lineage_matches_tables(spark, out3)
    _assert_table_schemas(spark, out3)


def test_features_cover_every_page(pipeline_result, pages60):
    urls = {r["filename"] for r in pipeline_result.features.collect()}
    assert urls == {p["url"] for p in pages60}
