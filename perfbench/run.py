"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload resume_half --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` it prints the end-to-end
metrics (median over the repetitions that fit in ``--seconds``); with
``--trace 1`` it runs the workload's layers one at a time under spans and
prints the per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Progress goes to stderr.

Spark runs in-process at ``local[N]`` with N = the CPUs this process may use,
a fixed driver heap, and a private local dir; every generated file lives in
``.perfbench_work/`` under the repository root. Before it exits, on every
path, it stops the JVM and every process under it and waits for each to end.
"""
from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pysemanticcomplexity_spark"

DRIVER_MEM = "3g"
SETUP_REPS = 3      # setup_s is the median; the first one starts the JVM
MIN_REPS = 1        # measured calls per run, even past --seconds
TRACE_REPS = 1      # checked calls of the measured path in a traced run

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "pages_per_s": "pages/s",
    "triples_per_s": "triples/s", "peak_rss_mb": "MiB",
}
# every per-layer metric: (unit, which direction is better). A workload
# that does not run a layer reports 0 for it.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "pages.scan_s": ("s", "lower"),
    "pages.scan_tasks": ("count", "higher"),
    "annotation_core.us_per_page": ("us/page", "lower"),
    "annotation_core.mentions_per_page": ("count/page", "higher"),
    "annotate.self_s": ("s", "lower"),
    "annotate.rows_out": ("count", "lower"),
    "annotate.py_bytes_in": ("B", "lower"),
    "annotate.py_bytes_out": ("B", "lower"),
    "enrich.self_s": ("s", "lower"),
    "enrich.distinct_uris": ("count", "lower"),
    "enrich.uris_missing_kb": ("count", "lower"),
    "enrich.shuffle_bytes": ("B", "lower"),
    "graph.closure_table_s": ("s", "lower"),
    "graph.resources_self_s": ("s", "lower"),
    "graph.triples_self_s": ("s", "lower"),
    "graph.nodes_self_s": ("s", "lower"),
    "graph.triples_rows": ("count", "higher"),
    "graph.shuffle_bytes": ("B", "lower"),
    "graph.task_skew": ("ratio", "lower"),
    "vectorize.self_s": ("s", "lower"),
    "vectorize.shuffle_bytes": ("B", "lower"),
    "vectorize.task_skew": ("ratio", "lower"),
    "vectorize_kernel.us_per_doc": ("us/doc", "lower"),
    "vectorize_kernel.nodes_per_doc_p50": ("count", "lower"),
    "vectorize_kernel.nodes_per_doc_p99": ("count", "lower"),
    "ontology.closure_us_per_class": ("us/class", "lower"),
    "fused.broadcast_state_s": ("s", "lower"),
    "fused.broadcast_bytes": ("B", "lower"),
    "fused.docs_self_s": ("s", "lower"),
    "fused.py_bytes_out": ("B", "lower"),
    "fused.plan_hit_ratio": ("ratio", "lower"),
    "fused.task_skew": ("ratio", "lower"),
    "lineage.write_self_s": ("s", "lower"),
    "lineage.buckets_written": ("count", "lower"),
    "lineage.buckets_skipped": ("count", "higher"),
    "lineage.pages_recomputed_ratio": ("ratio", "lower"),
    "lineage.out_bytes_per_page": ("B/page", "lower"),
    "pipeline.spark_jobs": ("count", "lower"),
    "pipeline.persisted_bytes": ("B", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}
for _q in ("G3_triples_sql_model", "M_graph_density", "KG_entity_pmi",
           "KG_pagerank", "D4_simhash", "L2_pos_lexical", "D3_minhash_lsh",
           "C1_contamination"):
    PER_LAYER[f"{_q}.s"] = ("s", "lower")
    PER_LAYER[f"{_q}.shuffle_bytes"] = ("B", "lower")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


class Context:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work


def configure_env(work: str) -> int:
    """Box-safe Spark sizing, set before pyspark starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # also for the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    # Python workers import the package from the checkout
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]
    return cpus


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap is committed and touched at launch, so peak RSS
        # does not depend on when the JVM happens to grow its heap
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the cached inputs and expected outputs")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"error: {PACKAGE}/ not found next to {os.path.basename(HERE)}/; "
            "run from a full checkout")
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    for sub in ("eventlog", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = configure_env(work)

    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"error: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](Context(args.seed, work))

    t = time.perf_counter()
    if not args.prepare and not prepared(wl, args):
        return 1
    meta = wl.generate()
    gen_s = time.perf_counter() - t     # input generation and preparation
    log(f"[{wl.name}] seed={args.seed} cpus={cpus} inputs={meta} "
        f"generate={gen_s:.2f}s")

    from pysemanticcomplexity_spark.session import get_spark
    conf = spark_conf(work, bool(args.trace))
    spark, setups, session_s = None, [], []
    for k in range(1 if args.prepare else SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        # the first set-up counts from process start, minus input generation
        setups.append(t2 - (T_PROCESS + gen_s if k == 0 else t0))
        session_s.append(t1 - t0)
    log(f"[{wl.name}] setup_s={['%.3f' % s for s in setups]}")

    from measure import PeakSampler, median
    try:
        t = time.perf_counter()
        wl.reference()
        log(f"[{wl.name}] reference {time.perf_counter() - t:.2f}s")
        if args.prepare:
            return 0
        if wl.warm_up:                    # one untimed call of the path
            wl.reset()
            t = time.perf_counter()
            wl.run_once(0)
            wl.cleanup()
            log(f"[{wl.name}] warm-up {time.perf_counter() - t:.2f}s")

        walls, pages_s, triples_s = [], [], []
        attempted = failed = 0
        reps = TRACE_REPS if args.trace else None
        with PeakSampler() as peak:
            deadline = time.perf_counter() + args.seconds
            while not (attempted >= 3 * max(MIN_REPS, reps or 0)
                       and not walls):
                wl.reset()
                attempted += 1
                t = time.perf_counter()
                try:
                    res = wl.run_once(attempted)
                    wall = time.perf_counter() - t
                    problems = wl.check(res)
                    check_s = time.perf_counter() - t - wall
                except Exception as ex:       # a failed call is counted
                    log(f"[{wl.name}] run {attempted} raised: {ex!r}")
                    failed += 1
                    wl.cleanup()
                    continue
                wl.cleanup()
                if problems:
                    failed += 1
                    log(f"[{wl.name}] run {attempted} wrong: {problems}")
                else:
                    walls.append(wall)
                    pages_s.append(res["pages"] / wall)
                    triples_s.append(res["triples"] / wall)
                log(f"[{wl.name}] run {attempted} wall={wall:.3f}s "
                    f"check={check_s:.2f}s")
                done = len(walls) >= (reps or MIN_REPS)
                if done and (reps or time.perf_counter() >= deadline):
                    break
        if not walls:
            log(f"[{wl.name}] no correct run")
            return 1

        if args.trace:
            metrics = traced(wl, spark, work, session_s)
            spark = None
        else:
            metrics = {
                "setup_s": median(setups), "wall_s": median(walls),
                "pages_per_s": median(pages_s),
                "triples_per_s": median(triples_s),
                "peak_rss_mb": peak.peak_mb,
            }
        units = ({k: u for k, (u, _b) in PER_LAYER.items()} if args.trace
                 else END_TO_END)
    finally:
        if spark is not None:
            spark.stop()

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def prepared(wl, args) -> bool:
    """Build missing expected outputs in a child process, so that the
    measured process starts as cold as every other run."""
    wl.generate()
    if wl.reference_ready():
        return True
    log(f"[{wl.name}] building the expected outputs in a child process")
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds", "0",
           "--prepare"]
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0 or not wl.reference_ready():
        log(f"[{wl.name}] preparing the expected outputs failed (rc={rc})")
        return False
    return True


def traced(wl, spark, work, session_s) -> dict:
    """Per-layer metrics: spans around each layer, joined to the event log
    after the session stops. Spans are written to .perfbench_work/spans."""
    from measure import median
    from spans import EventLog, Tracer, event_log_path
    tr = Tracer(spark, run_id=f"{wl.name}-{wl.seed}-{os.getpid()}")
    direct = wl.trace(tr)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    ev = EventLog(event_log_path(os.path.join(work, "eventlog"), app_id))
    m = {k: 0.0 for k in PER_LAYER}
    m.update(wl.layer_metrics(tr, ev, direct))
    m["session.start_s"] = median(session_s)
    # traced layer-by-layer total against an untraced call made after it
    m["trace.overhead_frac"] = (m.pop("trace.total_s")
                                / m.pop("trace.untraced_s") - 1.0)
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
    tr.dump(os.path.join(work, "spans", f"{tr.run_id}.json"))
    return m


if __name__ == "__main__":
    from measure import adopt_orphans, stop_process_tree
    adopt_orphans()
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        rc = main()
    finally:
        stop_process_tree()
    sys.exit(rc)
