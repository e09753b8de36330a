"""N-vs-4N scaling harness (the BASELINE.md protocol) over a job registry.

    python bench_scaling.py [JOB ...]        # no names: every job in JOBS

One protocol for every job:

* a child process writes each named job's replicated input once;
* N is a quarter of the host's cores (``session.default_cpus() // 4``)
  and 4N = 4 N: ``local[1]`` and ``local[4]`` on a 4-core host;
* for each level a fresh child process starts its own JVM with
  ``get_spark(master=local[c], shuffle_partitions=2c, extra_conf=job.conf)``,
  makes one warm-up call on the first ``WARMUP_ROWS`` input rows, takes the
  best of ``TIMED_RUNS`` timed calls of the job's action and prints one
  ``RESULT`` JSON line;
* a pure ``multiprocessing`` control (Treebank tokenizer + numpy kernel, no
  Spark) runs once at the same levels: it measures what the host itself
  allows over the window (all-core clock, memory bandwidth);
* the parent prints one JSON line per job with both levels, efficiency =
  tp_4N / (4 tp_N) and that efficiency divided by the control's.

A child returns only once every process of its session has exited: the
pyspark JVM outlives the child's Python until it sees EOF on its stdin, and
a level timed while the previous level's JVM still runs is timed against it.

Replication keeps per-row work identical while growing the input linearly;
how a replica must differ from the original so that copies never meet in a
join or a group depends on the operator, hence one shape per family below.

Environment: ``SPARK_GRAFT_SF_DIR`` (input, default sf0.1),
``SCALE_REPLICAS`` (overrides every job's default replica count) and
``SCALE_WORK_DIR`` (where replicated inputs are written, default
/tmp/bench_scaling).
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, Optional

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pysemanticcomplexity_spark.session import default_cpus, get_spark

REPO = os.path.dirname(os.path.abspath(__file__))
WARMUP_ROWS = 512
TIMED_RUNS = 2
# parquet files per replicated input; embedding rows are small, and at 256
# files the 1m/64k scan packing splits them into ~3x the tasks of 64 files
# (sim_lsh x2 on 4 cores: 4.2 s at 256 files, 1.7 s at 64)
WRITE_FILES, EMBEDDING_FILES = 256, 64
CHILD_TIMEOUT_S = 3600
EXIT_GRACE_S = 30.0


# ---------------------------------------------------------------------------
# replication shapes: (spark, sf_dir, replicas) -> DataFrame whose first
# column is a row key that stays distinct across replicas
# ---------------------------------------------------------------------------

def _replicated(df: DataFrame, replicas: int) -> DataFrame:
    """Each row once per replica, the replica number in column ``r``."""
    return df.withColumn(
        "r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))


def url_suffixed_pages(spark, sf_dir, replicas):
    """Pages whose url gets a ``#r`` suffix: identical per-page work."""
    from pysemanticcomplexity_spark.sources.pages import pages_from_documents
    return (_replicated(pages_from_documents(spark, sf_dir), replicas)
            .withColumn("url", F.concat("url", F.lit("#"),
                                        F.col("r").cast("string")))
            .drop("r"))


def _documents(spark, sf_dir, *cols):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", *cols)


def offset_ids(spark, sf_dir, replicas):
    """Documents with doc_id + r*10M and unchanged text: the corpus-bound
    stages grow linearly while the entity vocabulary stays fixed, the
    real-corpus shape."""
    return _replicated(_documents(spark, sf_dir), replicas).select(
        (F.col("doc_id") + F.col("r").cast("long") * 10_000_000)
        .alias("doc_id"), "text")


def trailing_marker(spark, sf_dir, replicas):
    """One trailing ``zz<r>`` token: exact-dedup groups stay replica-local
    while all but the last shingles still match a benchmark drawn from
    replica 0 (doc_id < 1M), so the corpus grows and the benchmark does
    not."""
    return _replicated(_documents(spark, sf_dir, "source"), replicas).select(
        (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz"), F.col("r").cast("string"))
        .alias("text"),
        "source")


def interleaved_marker(spark, sf_dir, replicas):
    """A ``zz<r>`` token between every two words: every 3-gram shingle is
    replica-local, so candidate pairs grow linearly in the replica count
    instead of K^2/2 per near-duplicate group."""
    return _replicated(_documents(spark, sf_dir), replicas).select(
        (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
        F.regexp_replace("text", r"\s+",
                         F.concat(F.lit(" zz"), F.col("r").cast("string"),
                                  F.lit(" "))).alias("text"))


def sign_flipped(spark, sf_dir, replicas):
    """Embeddings times a per-(replica, dim) sign pattern: an isometry, so
    neighbours within a replica are unchanged while SRP buckets and IVF
    cells of different replicas scatter independently. The id offset is
    long arithmetic: int32 r*10M wraps at r >= 215."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    flipped = F.transform(
        "embedding",
        lambda x, i: x * F.when(F.xxhash64(F.col("r"), i) % 2 == 0,
                                F.lit(1.0)).otherwise(F.lit(-1.0))
        .cast("float"))
    return _replicated(emb, replicas).select(
        (F.col("vec_id")
         + F.col("r").cast("long") * F.lit(10_000_000).cast("long"))
        .alias("vec_id"),
        flipped.alias("embedding"))


# 64 replicas give V = 200k nodes and E = 2M edge ids (mean degree ~20)
NODES_PER_REPLICA, EDGES_PER_REPLICA = 3_125, 31_250


def _edge_ids(spark, replicas, hub_share_tenths):
    """Hash-deterministic undirected edge ids ``(id, src <= dst)``; in
    ``hub_share_tenths`` of ten ids one endpoint is hub node 0."""
    v = NODES_PER_REPLICA * replicas
    a = F.pmod(F.xxhash64("id"), v)
    if hub_share_tenths:
        a = F.when(F.col("id") % 10 < hub_share_tenths, F.lit(0)).otherwise(a)
    b = F.pmod(F.xxhash64(F.lit(1), F.col("id")), v)
    return spark.range(EDGES_PER_REPLICA * replicas).select(
        "id", F.least(a, b).alias("src"), F.greatest(a, b).alias("dst"))


def uniform_edges(spark, sf_dir, replicas):
    """Synthetic co-occurrence graph with uniform endpoints."""
    return _edge_ids(spark, replicas, 0)


def star90_edges(spark, sf_dir, replicas):
    """The same edge count with 90% of the edges on one hub node: the skew
    case for wedge joins."""
    return _edge_ids(spark, replicas, 9)


# ---------------------------------------------------------------------------
# jobs: bind(spark) -> body; body(input DataFrame) -> action; action() ->
# result count. Only the action is timed.
# ---------------------------------------------------------------------------

# The replicated inputs are tens of MB of parquet: the default 128 MB
# bin-packing would collapse them into a handful of scan partitions (at
# 100 TB the default sizing is right).
SCAN_1M = {"spark.sql.files.maxPartitionBytes": "1m",
           "spark.sql.files.openCostInBytes": "64k"}
SCAN_8M = {"spark.sql.files.maxPartitionBytes": "8m",
           "spark.sql.files.openCostInBytes": "64k"}


@dataclass(frozen=True)
class Job:
    """One timed job. An action that writes to the noop sink returns None:
    its result count is then its input rows."""
    shape: Callable[[SparkSession, str, int], DataFrame]
    replicas: int                       # default; SCALE_REPLICAS overrides
    counts: str                         # what the result count counts
    bind: Callable[[SparkSession],
                   Callable[[DataFrame], Callable[[], Optional[int]]]]
    conf: Dict[str, str] = field(default_factory=dict)


def _kg_fused(spark):
    from pysemanticcomplexity_spark import fixtures
    from pysemanticcomplexity_spark.pipeline import KGPipeline
    dims = fixtures.spark_dims(spark)
    pipe = KGPipeline(spark, fixtures.gazetteer(), fixtures.ontology_edges(),
                      dims["instance_types"], dims["kb_triples"])
    # run_fused builds its broadcast state (~1.5 s) before the timed count
    return lambda d: pipe.run_fused(d, persist_docs=False,
                                    with_features=False).triples.count


def _kg_cooc(spark):
    import __spark_entry__ as E
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        entity_cooccurrence)

    def body(d):
        lower = F.lower(F.col("text"))
        entries = [F.struct(F.lit(uri).alias("uri"),
                            F.regexp_count(lower, F.lit(rf"\b{surface}\b"))
                            .cast("long").alias("occurrences"))
                   for surface, uri in E._GAZ_UNAMBIGUOUS]
        mentions = (d.select("doc_id", F.explode(F.array(*entries)).alias("m"))
                    .select("doc_id", "m.uri", "m.occurrences")
                    .filter(F.col("occurrences") > 0))
        return entity_cooccurrence(mentions, persist_mentions=True).count
    return body


def _corpus_prep(spark):
    from pysemanticcomplexity_spark.operators import corpus

    def retained(d):
        # the library flagship: the composition the driver
        # E2E_corpus_prep oracle pins. All of it is timed: it
        # collects the benchmark shingles while building the plan.
        bench = d.filter((F.col("doc_id") < 1_000_000)
                         & (F.col("doc_id") % 53 == 0))
        kept = corpus.corpus_prep(
            d, bench, {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25},
            default_fraction=0.5, contamination_threshold=0.05,
            mq_margin=-0.25)
        rows = (kept.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_words").alias("total_words")).collect())
        return sum(r["n_docs"] for r in rows)
    return lambda d: lambda: retained(d)


def _dedup_minhash_lsh(spark):
    from pysemanticcomplexity_spark.operators import dedup
    return lambda d: dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(dedup.shingles(d), num_hashes=32),
        bands=8, sig_len=32).count


def _queries(emb):
    return emb.filter(F.col("vec_id") % 10_000_000 < 100)   # 100 per replica


def _sim_lsh(spark):
    from pysemanticcomplexity_spark.operators.similarity import lsh_topk
    return lambda d: lsh_topk(d, _queries(d), k=5).count


def _ivf(n_cells, nprobe, kernel):
    def bind(spark):
        from pysemanticcomplexity_spark.operators.similarity import ivf_topk
        cents = spherical_centroids(n_cells)
        return lambda d: ivf_topk(d, _queries(d), k=5, centroids=cents,
                                  nprobe=nprobe, kernel=kernel).count
    return bind


def spherical_centroids(n):
    """Unit-norm random centroids: the embeddings are unit-norm, and
    centroids of another norm put every vector in one cell."""
    c = np.random.RandomState(7).randn(n, 64)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _noop(build):
    def bind(spark):
        return lambda d: build(d).write.format("noop").mode("overwrite").save
    return bind


def _edges(d):
    return (d.filter(F.col("src") != F.col("dst")).select("src", "dst")
            .distinct())


def _triangles(d):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        triangle_stats)
    return triangle_stats(_edges(d))


def _linkpred(d):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        link_prediction_common_neighbors)
    return link_prediction_common_neighbors(_edges(d), min_common=2,
                                            max_degree=64)


def _bm25_postings(d):
    from pysemanticcomplexity_spark.operators.retrieval import term_stats
    return term_stats(
        d.repartition(4 * d.sparkSession.sparkContext.defaultParallelism))


JOBS: Dict[str, Job] = {
    "kg_fused": Job(url_suffixed_pages, 64, "triples", _kg_fused,
                    {**SCAN_1M,
                     "spark.sql.execution.arrow.maxRecordsPerBatch": "8192"}),
    "kg_cooc": Job(offset_ids, 16, "edges", _kg_cooc, SCAN_8M),
    "corpus_prep": Job(trailing_marker, 16, "retained", _corpus_prep,
                       SCAN_1M),
    "dedup_minhash_lsh": Job(interleaved_marker, 16, "pairs",
                             _dedup_minhash_lsh, SCAN_1M),
    "sim_lsh": Job(sign_flipped, 16, "rows", _sim_lsh, SCAN_1M),
    "sim_ivf": Job(sign_flipped, 16, "rows", _ivf(16, 4, "expr"), SCAN_1M),
    "sim_ivf_blas": Job(sign_flipped, 16, "rows", _ivf(16, 4, "blas"),
                        SCAN_1M),
    "ivf_blas_256": Job(sign_flipped, 96, "rows", _ivf(256, 8, "blas"),
                        SCAN_1M),
    "triangles_uniform": Job(uniform_edges, 64, "edges", _noop(_triangles)),
    "triangles_star90": Job(star90_edges, 64, "edges", _noop(_triangles)),
    "linkpred_uniform": Job(uniform_edges, 64, "edges", _noop(_linkpred)),
    "linkpred_star90": Job(star90_edges, 64, "edges", _noop(_linkpred)),
    "bm25_postings": Job(offset_ids, 64, "docs", _noop(_bm25_postings)),
}


def replicas(job: Job) -> int:
    return int(os.environ.get("SCALE_REPLICAS") or job.replicas)


def input_path(job: Job) -> str:
    work = os.environ.get("SCALE_WORK_DIR", "/tmp/bench_scaling")
    return os.path.join(work, f"{job.shape.__name__}-x{replicas(job)}")


def write_input(spark, job: Job) -> str:
    """Write ``job``'s replicated input; returns its path."""
    path = input_path(job)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    files = EMBEDDING_FILES if job.shape is sign_flipped else WRITE_FILES
    (job.shape(spark, sf_dir, replicas(job)).repartition(files)
     .write.mode("overwrite").parquet(path))
    return path


# ---------------------------------------------------------------------------
# child entry points: each prints one tagged JSON line
# ---------------------------------------------------------------------------

def prep(*names):
    """Write the replicated input of every named job, once per path."""
    jobs = {input_path(JOBS[n]): JOBS[n] for n in names}
    spark = get_spark(app_name="scale-prep")
    for job in jobs.values():
        write_input(spark, job)
    spark.stop()
    print("PREP " + json.dumps(sorted(jobs)))


def time_job(name, cpus):
    """One level of one job: warm-up, then the best of TIMED_RUNS."""
    job, cpus = JOBS[name], int(cpus)
    spark = get_spark(app_name=f"{name}-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra_conf=job.conf)
    d = spark.read.parquet(input_path(job))
    inputs = d.count()
    body = job.bind(spark)
    body(d.limit(WARMUP_ROWS))()
    # after every call: an action that persists (kg_cooc's mentions) must
    # not let the next call reuse its cache
    spark.catalog.clearCache()
    best = None
    for _ in range(TIMED_RUNS):
        action = body(d)
        t0 = time.perf_counter()
        count = action()
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        best = wall if best is None else min(best, wall)
    spark.stop()
    print("RESULT " + json.dumps(
        {"cpus": cpus, "inputs": inputs,
         "count": inputs if count is None else count, "counts": job.counts,
         "wall_s": round(best, 3), "inputs_per_s": round(inputs / best, 1)}))


def _control_work(n):
    from pysemanticcomplexity_spark.treebank import count_words
    total = 0
    text = "the quick brown fox, it can't jump over the lazy dog! " * 6
    for i in range(n):
        total += count_words(text)
        a = np.random.RandomState(i % 7).rand(60, 60) > 0.9
        d = np.eye(60, dtype=bool)
        for _ in range(4):
            d = d @ a
    return total


def control(*levels):
    """Items per second of the pure-Python/numpy kernel at each process
    count: the host's own scaling ceiling, with no Spark involved."""
    per_total = 48000
    out = {}
    for procs in map(int, levels):
        t0 = time.perf_counter()
        with mp.get_context("spawn").Pool(procs) as pool:
            pool.map(_control_work, [per_total // procs] * procs)
        out[procs] = per_total / (time.perf_counter() - t0)
    print("CONTROL " + json.dumps(out))


# ---------------------------------------------------------------------------
# parent
# ---------------------------------------------------------------------------

def _session_pids(sid):
    """Live (non-zombie) processes of session ``sid``. The session, not the
    process group: pyspark's worker daemon moves into a group of its own."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, _pgrp, session = (
                    f.read().rsplit(")", 1)[1].split()[:4])
        except (OSError, IndexError):       # exited while being listed
            continue
        if state != "Z" and int(session) == sid:
            pids.append(int(pid))
    return pids


def _wait_session_exit(sid, grace):
    """Return once session ``sid`` is empty: SIGTERM what is left after
    ``grace`` seconds, SIGKILL five seconds later."""
    term_at = time.monotonic() + grace
    while True:
        live = _session_pids(sid)
        if not live:
            return
        late = time.monotonic() - term_at
        if late >= 0:
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL if late >= 5
                            else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _run_child(fn, *args) -> str:
    """Run ``fn(*args)`` of this module in a new process session; return
    its stdout once every process of that session has exited."""
    p = subprocess.Popen(
        [sys.executable, "-c",
         f"import sys, bench_scaling; bench_scaling.{fn}(*sys.argv[1:])",
         *map(str, args)],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True)
    finished = False
    try:
        out, err = p.communicate(timeout=CHILD_TIMEOUT_S)
        finished = True
    finally:
        _wait_session_exit(p.pid, EXIT_GRACE_S if finished else 0.0)
        p.wait()
    if p.returncode:
        raise RuntimeError(f"{fn}{args} exited with {p.returncode}:\n"
                           f"{err[-3000:]}")
    return out


def grab(out: str, tag: str):
    """The JSON payload of the first ``tag`` line of a child's stdout."""
    for line in out.splitlines():
        if line.startswith(tag + " "):
            return json.loads(line[len(tag) + 1:])
    raise RuntimeError(f"no {tag} line in:\n{out[-3000:]}")


def efficiency(tp_n: float, tp_4n: float) -> float:
    return tp_4n / (4 * tp_n)


def summarize(name: str, results: Dict[int, dict],
              control_tp: Dict[int, float]) -> dict:
    """One job's report from its RESULT at N and 4N and the control's
    items/s at the same levels."""
    n, n4 = sorted(results)
    eff = efficiency(results[n]["inputs_per_s"], results[n4]["inputs_per_s"])
    ceiling = efficiency(control_tp[n], control_tp[n4])
    return {"job": name, "replicas": replicas(JOBS[name]),
            "levels": results, "efficiency": round(eff, 3),
            "control_efficiency": round(ceiling, 3),
            "efficiency_normalized": round(eff / ceiling, 3)}


def main(names):
    unknown = sorted(set(names) - set(JOBS))
    if unknown:
        raise SystemExit(f"unknown job(s) {unknown}; jobs: {', '.join(JOBS)}")
    names = names or list(JOBS)
    n = default_cpus() // 4
    if n < 1:
        raise SystemExit("the N-vs-4N protocol needs at least 4 cores")
    levels = (n, 4 * n)
    print(_run_child("prep", *names).strip(), flush=True)
    control_tp = {int(k): v for k, v in
                  grab(_run_child("control", *levels), "CONTROL").items()}
    for name in names:
        results = {c: grab(_run_child("time_job", name, c), "RESULT")
                   for c in levels}
        print(json.dumps(summarize(name, results, control_tp)), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
