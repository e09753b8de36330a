"""Benchmark decontamination + deterministic stratified sampling."""
import re

import pytest

from pysemanticcomplexity_spark import plans
from pysemanticcomplexity_spark.operators.corpus import (
    SAMPLE_A, SAMPLE_B, SAMPLE_DENOM, contamination_flags, stratified_sample)
from pysemanticcomplexity_spark.operators.dedup import POLY_MOD


def _py_shingles(text, n=3):
    toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
            if " ".join(toks[i:i + n])}


def _py_poly(s):
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % POLY_MOD
    return acc


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "web"),
    (1, "the quick brown fox sleeps all day long", "web"),
    (2, "completely unrelated text about spark joins", "wiki"),
    (3, "too short", "wiki"),                       # < n tokens: no shingles
    (4, "the  QUICK   brown fox jumps over the lazy dog", "code"),  # ws+case
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_contamination_matches_python_oracle(spark, docs_df):
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps high")], "doc_id long, text string")
    bench_sh = _py_shingles("quick brown fox jumps high")
    got = {r["id"]: r for r in contamination_flags(docs_df, bench).collect()}
    assert set(got) == {d[0] for d in DOCS}
    for doc_id, text, _src in DOCS:
        sh = _py_shingles(text)
        hit = len(sh & bench_sh)
        assert got[doc_id]["n_shingles"] == len(sh), doc_id
        assert got[doc_id]["n_contaminated"] == hit, doc_id
        want = hit / len(sh) if sh else 0.0
        assert got[doc_id]["contamination"] == pytest.approx(want), doc_id
    # the whitespace/case variant of doc 0 must contaminate identically
    assert got[4]["n_contaminated"] == got[0]["n_contaminated"] > 0


def test_contamination_empty_benchmark_zero_fills(spark, docs_df):
    bench = spark.createDataFrame([], "doc_id long, text string")
    rows = contamination_flags(docs_df, bench).collect()
    assert len(rows) == len(DOCS)
    assert all(r["n_contaminated"] == 0 and r["contamination"] == 0.0
               for r in rows)


def test_contamination_benchmark_is_broadcast(spark, docs_df):
    bench = spark.createDataFrame([(100, "quick brown fox jumps high")],
                                  "doc_id long, text string")
    plan = plans.executed_plan(contamination_flags(docs_df, bench))
    assert "BroadcastHashJoin" in plan
    # the corpus side must never self-join
    assert plan.count("BroadcastHashJoin") == 1


def test_stratified_sample_matches_python_threshold(spark, docs_df):
    fracs = {"web": 1.0, "wiki": 0.5}
    kept = {r["doc_id"] for r in
            stratified_sample(docs_df, fracs).collect()}
    want = set()
    for doc_id, _text, src in DOCS:
        thr = int(round(fracs.get(src, 0.0) * SAMPLE_DENOM))
        h = (_py_poly(f"mix:{doc_id}") * SAMPLE_A + SAMPLE_B) % POLY_MOD
        if h % SAMPLE_DENOM < thr:
            want.add(doc_id)
    assert kept == want
    assert not any(src == "code" for d, _t, src in DOCS if d in kept)


def test_stratified_sample_deterministic_and_fraction_accurate(spark):
    rows = [(i, "t", "a" if i % 2 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept1 = sorted(r["doc_id"] for r in
                   stratified_sample(df, {"a": 0.3, "b": 0.8}).collect())
    kept2 = sorted(r["doc_id"] for r in
                   stratified_sample(df, {"a": 0.3, "b": 0.8}).collect())
    assert kept1 == kept2
    n_a = sum(1 for d in kept1 if d % 2 == 1)
    n_b = sum(1 for d in kept1 if d % 2 == 0)
    assert abs(n_a / 2000 - 0.3) < 0.05
    assert abs(n_b / 2000 - 0.8) < 0.05
    # a different salt draws an independent sample of similar size
    kept3 = sorted(r["doc_id"] for r in
                   stratified_sample(df, {"a": 0.3, "b": 0.8},
                                     salt="mix2:").collect())
    assert kept3 != kept1
    assert abs(len(kept3) - len(kept1)) < 0.1 * len(kept1)


def test_stratified_sample_validates_fractions(spark, docs_df):
    with pytest.raises(ValueError):
        stratified_sample(docs_df, {"web": 1.5})
    with pytest.raises(ValueError):
        stratified_sample(docs_df, {}, default_fraction=-0.1)


def test_stratified_sample_plan_is_filter_only(spark, docs_df):
    plan = plans.executed_plan(stratified_sample(docs_df, {"web": 0.5}))
    assert "Exchange" not in plan          # pure filter: no shuffle


def test_rowlocal_contamination_equals_join_version(spark, docs_df):
    from pysemanticcomplexity_spark.operators.corpus import (
        contamination_flags_rowlocal)
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps high")], "doc_id long, text string")
    a = {r["id"]: (r["n_shingles"], r["n_contaminated"], r["contamination"])
         for r in contamination_flags(docs_df, bench).collect()}
    b = {r["id"]: (r["n_shingles"], r["n_contaminated"], r["contamination"])
         for r in contamination_flags_rowlocal(docs_df, bench).collect()}
    assert a == b


def test_rowlocal_contamination_whitespace_edges_match_join(spark):
    """Leading/trailing \\t/\\n survive Spark trim() (spaces only) and
    become an empty edge token after collapse; the Python kernel must
    reproduce that exactly, not python-strip them away."""
    from pysemanticcomplexity_spark.operators.corpus import (
        contamination_flags_rowlocal)
    rows = [(0, "\nquick brown fox jumps high\t"),
            (1, "  quick brown fox jumps high  "),
            (2, "\t\nquick brown\nfox\n")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, "quick brown fox jumps high")],
                                  "doc_id long, text string")
    a = sorted(map(tuple, contamination_flags(df, bench).collect()))
    b = sorted(map(tuple, contamination_flags_rowlocal(df, bench).collect()))
    assert a == b


def test_rowlocal_contamination_equals_join_on_testdata(spark):
    from pysemanticcomplexity_spark.operators.corpus import (
        contamination_flags_rowlocal)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id % 7 = 0")
    a = sorted(map(tuple, contamination_flags(docs, bench).collect()))
    b = sorted(map(tuple, contamination_flags_rowlocal(docs, bench).collect()))
    assert a == b


def test_rowlocal_contamination_refuses_oversized_benchmark(
        spark, docs_df, monkeypatch):
    """The benchmark shingle set is collected to the driver: past the cap
    the row-local variant must refuse and point at the JVM-join one."""
    from pysemanticcomplexity_spark.operators import corpus
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps high")], "doc_id long, text string")
    monkeypatch.setattr(corpus, "MAX_ROWLOCAL_SHINGLES", 3)   # bench has 3
    corpus.contamination_flags_rowlocal(docs_df, bench)
    monkeypatch.setattr(corpus, "MAX_ROWLOCAL_SHINGLES", 2)
    with pytest.raises(ValueError,
                       match=r"more than 2 .*contamination_flags,"):
        corpus.contamination_flags_rowlocal(docs_df, bench)


def test_rowlocal_contamination_zero_shuffle(spark, docs_df):
    from pysemanticcomplexity_spark.operators.corpus import (
        contamination_flags_rowlocal)
    bench = spark.createDataFrame([(100, "quick brown fox")],
                                  "doc_id long, text string")
    plan = plans.executed_plan(contamination_flags_rowlocal(docs_df, bench))
    assert "Exchange" not in plan


def test_rowlocal_contamination_streams(spark, tmp_path):
    """Stateless => legal mid-stream with no watermark: an AvailableNow
    drain over a file stream must produce exactly the batch result."""
    from pysemanticcomplexity_spark.operators.corpus import (
        contamination_flags_rowlocal)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, source string")
    docs.coalesce(2).write.parquet(src)
    bench = spark.createDataFrame([(100, "quick brown fox jumps high")],
                                  "doc_id long, text string")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string").parquet(src)
    q = (contamination_flags_rowlocal(stream, bench)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, contamination_flags_rowlocal(docs, bench).collect()))
    assert got == want


def test_rowlocal_passthrough_keeps_columns(spark, docs_df):
    from pysemanticcomplexity_spark.operators.corpus import (
        contamination_flags_rowlocal)
    bench = spark.createDataFrame([(100, "quick brown fox jumps high")],
                                  "doc_id long, text string")
    out = contamination_flags_rowlocal(docs_df, bench, passthrough=True)
    assert out.columns == ["doc_id", "text", "source", "n_shingles",
                           "n_contaminated", "contamination"]
    a = {r["doc_id"]: (r["n_shingles"], r["n_contaminated"],
                       r["contamination"]) for r in out.collect()}
    b = {r["id"]: (r["n_shingles"], r["n_contaminated"], r["contamination"])
         for r in contamination_flags_rowlocal(docs_df, bench).collect()}
    assert a == b


def _prep_doc(i, stem):
    # 60 tokens, >=2 distinct stopwords, mean word len in bounds, all
    # alpha, and (crucially) shingles unique to the doc so only the
    # deliberately-planted duplicate/contaminated rows overlap
    words = ["the", "of", "to", "a"] + [f"{stem}w{k}" for k in range(56)]
    return " ".join(words)


def test_streaming_corpus_prep_equals_batch(spark, tmp_path):
    import pyspark.sql.functions as F
    from pysemanticcomplexity_spark.operators.corpus import (
        contamination_flags_rowlocal, stratified_sample)
    from pysemanticcomplexity_spark.operators.dedup import exact_key_cols
    from pysemanticcomplexity_spark.operators.textstats import (
        gopher_metric_exprs)
    from pysemanticcomplexity_spark.streaming.corpus import (
        streaming_corpus_prep)

    rows = []
    for i in range(8):
        rows.append((i, _prep_doc(i, f"stem{i}"), "web",
                     f"2024-01-01 10:0{i}:00"))
    rows.append((8, rows[2][1], "web", "2024-01-01 10:08:00"))   # dup of 2
    rows.append((9, "too short", "web", "2024-01-01 10:09:00"))  # fails QF
    # contaminated: shares its entire text with the benchmark
    rows.append((10, _prep_doc(10, "bench"), "web", "2024-01-01 10:10:00"))
    schema = "doc_id long, text string, source string, event_ts string"
    docs = spark.createDataFrame(rows, schema)
    bench = spark.createDataFrame([(100, _prep_doc(10, "bench"))],
                                  "doc_id long, text string")
    fr = {"web": 1.0}

    # batch reference: same stages, keep the retained key set
    sampled = stratified_sample(docs, fr)
    qualified = sampled.where(gopher_metric_exprs()["passes"])
    clean = (contamination_flags_rowlocal(qualified, bench, passthrough=True)
             .where(F.col("contamination") <= 0.05))
    want_keys = {(r[0], r[1]) for r in clean.withColumns(
        dict(zip(["hi", "lo"], exact_key_cols())))
        .select("hi", "lo").distinct().collect()}
    assert len(want_keys) == 8          # 8 unique quality docs survive

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    docs.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (streaming_corpus_prep(stream, bench, fr)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    got_keys = {(r["text_key_hi"], r["text_key_lo"]) for r in got.collect()}
    assert got_keys == want_keys
    assert got.count() == len(want_keys)            # one winner per key
    ids = {r["doc_id"] for r in got.collect()}
    assert 9 not in ids and 10 not in ids           # QF + contamination drops
    assert len({2, 8} & ids) == 1                   # exactly one of the dups


def test_streaming_sample_after_dedup(spark, tmp_path):
    """A duplicate group is sampled ONCE, through its dedup representative:
    when the first-arriving member's id fails the stratified-sample hash,
    the group is dropped even though a later duplicate's id would pass.
    (Sampling before dedup retained a k-member group whenever ANY member
    passed — probability 1-(1-f)^k instead of f — skewing the mix toward
    duplicated content.)"""
    from pysemanticcomplexity_spark.operators.corpus import stratified_sample
    from pysemanticcomplexity_spark.streaming.corpus import (
        streaming_corpus_prep)

    fr = {"web": 0.5}
    cand = spark.createDataFrame([(i, "web") for i in range(200)],
                                 "doc_id long, source string")
    passing = {r["doc_id"] for r in stratified_sample(cand, fr).collect()}
    fail_id = next(i for i in range(200) if i not in passing)
    pass_id = next(i for i in range(200) if i in passing and i != fail_id)
    sentinel = next(i for i in sorted(passing) if i != pass_id)

    # short stems: _prep_doc token length feeds Gopher's mean-word-length
    # bound (a "solostem" stem pushes the mean over 10 and fails QF)
    dup_text = _prep_doc(0, "dup")
    schema = "doc_id long, text string, source string, event_ts string"
    bench = spark.createDataFrame([(100, _prep_doc(10, "bench"))],
                                  "doc_id long, text string")
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (streaming_corpus_prep(stream, bench, fr)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: the FAILING id arrives first -> becomes the representative;
    # a passing-id sentinel with unique text proves the pipeline retains
    spark.createDataFrame(
        [(fail_id, dup_text, "web", "2024-01-01 10:00:00"),
         (sentinel, _prep_doc(1, "solo"), "web", "2024-01-01 10:00:30")],
        schema).coalesce(1).write.mode("append").parquet(src)
    run()
    # batch 2: a duplicate with a PASSING id arrives later -> deduped away
    spark.createDataFrame(
        [(pass_id, dup_text, "web", "2024-01-01 10:01:00")],
        schema).coalesce(1).write.mode("append").parquet(src)
    run()

    got_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert sentinel in got_ids
    assert fail_id not in got_ids          # representative failed the hash
    assert pass_id not in got_ids          # duplicate never re-sampled


def test_pack_sequences_matches_global_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from pysemanticcomplexity_spark.operators.corpus import pack_sequences
    import numpy as np
    rng = np.random.RandomState(3)
    rows = [(int(i), int(t)) for i, t in
            enumerate(rng.randint(1, 900, 500))]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {r["id"]: (r["tokens_before"], r["pack_id"])
           for r in pack_sequences(df, capacity=2048, num_ranges=8).collect()}
    win = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    want = {r["doc_id"]: (r["tb"], r["pk"]) for r in df.select(
        "doc_id",
        (F.sum("n_tokens").over(win) - F.col("n_tokens")).alias("tb"),
        F.floor((F.sum("n_tokens").over(win) - F.col("n_tokens")) / 2048)
        .cast("long").alias("pk")).collect()}
    assert got == want
    # deterministic across invocations
    got2 = {r["id"]: (r["tokens_before"], r["pack_id"])
            for r in pack_sequences(df, capacity=2048, num_ranges=8).collect()}
    assert got2 == got


def test_pack_sequences_edge_cases(spark):
    from pysemanticcomplexity_spark.operators.corpus import pack_sequences
    import pytest as _pytest
    df = spark.createDataFrame(
        [(1, 10), (2, 5000), (3, 10)], "doc_id long, n_tokens long")
    out = {r["id"]: r["pack_id"]
           for r in pack_sequences(df, capacity=1000).collect()}
    # doc 2 exceeds a whole pack: starts in pack 0 (offset 10), doc 3
    # starts at offset 5010 -> pack 5
    assert out == {1: 0, 2: 0, 3: 5}
    with _pytest.raises(ValueError):
        pack_sequences(df, capacity=0)


def test_pack_split_every_pack_at_capacity(spark):
    # property: with splitting, every pack except the last holds EXACTLY
    # `capacity` tokens, parts are contiguous within each doc and sum to
    # n_tokens, and part ranges never cross pack boundaries
    import numpy as np
    import pyspark.sql.functions as F
    from pysemanticcomplexity_spark.operators.corpus import pack_sequences_split
    rng = np.random.RandomState(11)
    rows = [(int(i), int(t)) for i, t in
            enumerate(rng.randint(0, 900, 400))]    # includes 0-token docs
    rows[7] = (7, 5000)                             # multi-pack doc
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    C = 1000
    out = pack_sequences_split(df, capacity=C, num_ranges=8).collect()
    total = sum(t for _, t in rows)
    by_pack = {}
    by_doc = {}
    for r in out:
        assert 0 < r["tok_len"] <= C
        assert 0 <= r["tok_start"] < r["n_tokens"]
        by_pack.setdefault(r["pack_id"], 0)
        by_pack[r["pack_id"]] += r["tok_len"]
        by_doc.setdefault(r["id"], []).append(r)
    last_pack = max(by_pack)
    for p, tot in by_pack.items():
        assert tot == (C if p != last_pack else total - C * last_pack)
    toks = dict(rows)
    for did, parts in by_doc.items():
        parts.sort(key=lambda r: r["part_idx"])
        assert [p["part_idx"] for p in parts] == list(range(len(parts)))
        assert [p["pack_id"] for p in parts] == \
            list(range(parts[0]["pack_id"], parts[0]["pack_id"] + len(parts)))
        pos = 0
        for p in parts:
            assert p["tok_start"] == pos
            pos += p["tok_len"]
        assert pos == toks[did]
    # zero-token docs emit no parts; all others emit at least one
    emitted = set(by_doc)
    assert emitted == {i for i, t in rows if t > 0}


def test_pack_split_single_part_docs_match_pack_sequences(spark):
    # docs that never cross a boundary must land in the same pack as the
    # non-splitting operator assigns
    from pysemanticcomplexity_spark.operators.corpus import (
        pack_sequences, pack_sequences_split)
    rows = [(i, 100) for i in range(50)]            # 100-token docs, C=1000
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    plain = {r["id"]: r["pack_id"]
             for r in pack_sequences(df, capacity=1000, num_ranges=4).collect()}
    split = pack_sequences_split(df, capacity=1000, num_ranges=4).collect()
    assert all(r["part_idx"] == 0 and r["tok_start"] == 0
               and r["tok_len"] == 100 for r in split)
    assert {r["id"]: r["pack_id"] for r in split} == plain


def test_corpus_prep_resume_after_kill(spark, tmp_path):
    # E2E corpus prep gets the same kill-rerun resume coverage as the KG
    # path: a run killed after stage k (some buckets written + recorded,
    # one bucket's data landed but its lineage row did NOT) must, on
    # rerun, produce exactly the full-run retained set — completed
    # buckets untouched, the crashed bucket REPLACED (not appended)
    import pyspark.sql.functions as F
    from pysemanticcomplexity_spark.lineage import (
        completed_buckets, read_lineage, resumable_write)
    from pysemanticcomplexity_spark.operators.corpus import (
        corpus_prep, corpus_prep_and_write)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 53 == 0)
    fr = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
    kw = dict(default_fraction=0.5, contamination_threshold=0.05,
              mq_margin=-0.25)
    n_buckets = 8
    bucket = F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                    F.lit(n_buckets)).cast("int")

    # ground truth: the one-shot run
    ref_dir = str(tmp_path / "ref")
    corpus_prep_and_write(docs, bench, fr, ref_dir, n_buckets=n_buckets,
                          run_id="full", **kw)
    want = {r["doc_id"] for r in
            spark.read.parquet(ref_dir + "/retained").collect()}
    assert want and want < {r["doc_id"] for r in docs.collect()}

    # killed run: buckets 0-2 complete with lineage; bucket 3's data
    # partially landed but the crash hit before its lineage row
    out = str(tmp_path / "out")
    # full_rows=True matches what corpus_prep_and_write itself writes —
    # a real crash always leaves full-row files, and mixing the narrow
    # schema here would make the later read depend on which parquet
    # footer Spark samples (ADVICE r4)
    retained = corpus_prep(docs, bench, fr, full_rows=True,
                           **kw).withColumn("bucket", bucket)
    resumable_write(retained.filter("bucket <= 2"), out, "retained",
                    run_id="killed")
    (retained.filter("bucket = 3").limit(2)
     .write.mode("append").partitionBy("bucket")
     .parquet(out + "/retained"))
    assert sorted(completed_buckets(spark, out, "retained")) == [0, 1, 2]

    # rerun resumes: identical retained set, no duplicates
    corpus_prep_and_write(docs, bench, fr, out, n_buckets=n_buckets,
                          run_id="resume", **kw)
    got_df = spark.read.parquet(out + "/retained")
    got = [r["doc_id"] for r in got_df.collect()]
    assert set(got) == want and len(got) == len(want)
    # lineage row counts equal the per-bucket data counts, and the
    # completed buckets kept their original run_id (never re-written)
    lin = read_lineage(spark, out)
    lin_counts = {(r["bucket"]): r["rows"] for r in lin.collect()}
    data_counts = {r["bucket"]: r["cnt"] for r in
                   got_df.groupBy("bucket").agg(F.count("*").alias("cnt"))
                   .collect()}
    assert lin_counts == data_counts
    runs = {r["bucket"]: r["run_id"] for r in lin.collect()}
    assert all(runs[b] == "killed" for b in (0, 1, 2))
    assert all(rid == "resume" for b, rid in runs.items() if b > 2)


def test_corpus_prep_fused_equals_staged(spark):
    # the single-scan (fused) corpus prep must retain the identical
    # (id, source, n_words) set as the staged join composition
    import pyspark.sql.functions as F
    from pysemanticcomplexity_spark.operators.corpus import corpus_prep
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = d.filter(F.col("doc_id") % 53 == 0)
    fr = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
    kw = dict(default_fraction=0.5, contamination_threshold=0.05,
              mq_margin=-0.25)
    a = sorted(map(tuple, corpus_prep(d, bench, fr, **kw).collect()))
    b = sorted(map(tuple,
                   corpus_prep(d, bench, fr, fused=True, **kw).collect()))
    assert a == b and a


def test_chunk_documents_invariants(spark):
    import numpy as np
    import pytest as _pytest
    from pysemanticcomplexity_spark.operators.corpus import chunk_documents
    rng = np.random.RandomState(5)
    rows = [(int(i), int(t)) for i, t in enumerate(rng.randint(0, 3000, 200))]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    size, stride = 512, 256
    out = chunk_documents(df, size=size, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    toks = dict(rows)
    for did, n in rows:
        chunks = sorted(by_doc.get(did, []), key=lambda r: r["chunk_idx"])
        if n == 0:
            assert not chunks
            continue
        import math
        # stop-once-covered: one chunk, plus one per stride past `size`
        assert len(chunks) == 1 + math.ceil(max(0, n - size) / stride)
        for k, c in enumerate(chunks):
            assert c["chunk_idx"] == k
            assert c["tok_start"] == k * stride
            assert c["tok_len"] == min(size, n - k * stride) > 0
        # full coverage: every token position falls in >= 1 chunk
        assert chunks[-1]["tok_start"] + chunks[-1]["tok_len"] == n
        # no redundant tail: the last chunk is not contained in its
        # predecessor
        if len(chunks) > 1:
            prev_end = chunks[-2]["tok_start"] + chunks[-2]["tok_len"]
            assert prev_end < n
    with _pytest.raises(ValueError):
        chunk_documents(df, size=0)
    with _pytest.raises(ValueError):
        chunk_documents(df, size=10, stride=11)


def test_upsample_below_one_equals_stratified_sample(spark):
    from pysemanticcomplexity_spark.operators.corpus import (
        upsample_stratified)
    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(400)], "doc_id long, source string")
    fr = {"src0": 0.5, "src1": 1.0}       # src2 -> default 0.0
    want = {r["doc_id"] for r in stratified_sample(df, fr).collect()}
    got = [(r["doc_id"], r["copy_idx"])
           for r in upsample_stratified(df, fr).collect()]
    assert {d for d, _ in got} == want    # identical keep SET
    assert all(c == 0 for _, c in got)    # and exactly one copy each


def test_upsample_fractional_copies(spark):
    from pysemanticcomplexity_spark.operators.corpus import (
        upsample_stratified)
    df = spark.createDataFrame(
        [(i, "web") for i in range(1000)], "doc_id long, source string")
    rows = upsample_stratified(df, {"web": 2.5}).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    assert set(per_doc) == set(range(1000))          # every doc kept
    for d, copies in per_doc.items():
        assert sorted(copies) == list(range(len(copies)))  # dense 0..k-1
        assert len(copies) in (2, 3)
    mean = sum(len(c) for c in per_doc.values()) / 1000
    assert 2.4 < mean < 2.6                           # ~f in expectation
    # integer fraction has no hash-gated copy: exactly k everywhere
    exact = upsample_stratified(df, {"web": 2.0}).groupBy("doc_id").count()
    assert {r["count"] for r in exact.collect()} == {2}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="fraction"):
        upsample_stratified(df, {"web": -0.5})


def test_training_order_is_dense_permutation_and_matches_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from pysemanticcomplexity_spark.operators.corpus import training_order
    df = spark.createDataFrame([(i,) for i in range(700)], "doc_id long")
    got = training_order(df, num_ranges=8).collect()
    # dense 0-based permutation, ordered by (shuffle_key, id)
    assert sorted(r["position"] for r in got) == list(range(700))
    srt = sorted(got, key=lambda r: (r["shuffle_key"], r["doc_id"]))
    assert [r["position"] for r in srt] == list(range(700))
    # two-phase bucketed rank == the naive single-partition global window
    naive = training_order(df, num_ranges=1).collect()
    assert ({r["doc_id"]: r["position"] for r in got}
            == {r["doc_id"]: r["position"] for r in naive})
    # a different salt draws a different permutation of the same ids
    other = training_order(df, salt="epoch2:", num_ranges=8).collect()
    assert ({r["doc_id"]: r["position"] for r in other}
            != {r["doc_id"]: r["position"] for r in got})


def test_take_token_budget_semantics(spark):
    from pysemanticcomplexity_spark.operators.corpus import (
        take_token_budget)
    df = spark.createDataFrame(
        [(i, f"src{i % 3}", 10 + i % 7) for i in range(600)],
        "doc_id long, source string, n_tokens long")
    budgets = {"src0": 500, "src1": 123}
    rows = take_token_budget(df, budgets, num_ranges=8).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(budgets)        # src2 dropped entirely
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["tokens_before"])
        run = 0
        for r in rs:
            assert r["tokens_before"] == run  # contiguous prefix sums
            run += r["n_tokens"]
        # every kept doc started under budget; nothing else would fit
        assert rs[-1]["tokens_before"] < budgets[src]
        assert run >= budgets[src]            # budget actually exhausted
    # two-phase bucketed == single-bucket naive window
    naive = {(r["doc_id"], r["tokens_before"]) for r in
             take_token_budget(df, budgets, num_ranges=1)
             .withColumnRenamed("id", "doc_id").collect()}
    got = {(r["id"], r["tokens_before"]) for r in rows}
    assert {(d, t) for d, t in naive} == got
    import pytest as _pytest
    with _pytest.raises(ValueError, match="budget"):
        take_token_budget(df, {"src0": -1})


def test_pack_sequences_drops_null_ids(spark):
    """A NULL doc id used to surface as a None bucket key and crash the
    driver-side offset sort (review finding, round 5)."""
    import pyspark.sql.functions as F
    from pysemanticcomplexity_spark.operators.corpus import pack_sequences
    rows = [(i, 10) for i in range(50)] + [(None, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, capacity=25, num_ranges=4).collect()
    assert len(out) == 50
    assert all(r["id"] is not None for r in out)
