"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``, timed on its
own), builds what a user needs before the first call (``setup``, timed as
``setup_s``), computes its expected output once per input by another code
path (``reference``, cached next to the input), then runs the measured call
(``run_once``) and checks its output (``check``). ``trace`` calls the
layers one at a time under spans for the per-layer metrics.

The program is driven only through its public functions: KGPipeline's
``run_and_write``, ``run`` and ``run_fused``, the layer functions in
``operators``, ``lineage.resumable_write`` and ``__spark_entry__.queries()``.
"""
from __future__ import annotations

import json
import os
import pickle
import shutil

import numpy as np

import checks
import gen
from measure import du_bytes, percentile
from spans import PY_BYTES_IN, PY_BYTES_OUT

N_BUCKETS = 64
SAMPLE_PAGES = 200          # pure-Python reference sample (resume_half)
KERNEL_SAMPLE = 40          # driver-side kernel spans (longdoc_bigvocab)

# (documents, files): sf0.1-shaped pages. The corpus is the same for every
# seed, so its uninterrupted output is built once per checkout; the seed
# picks the half of the buckets whose lineage is lost.
CORPUS = (2500, 8)
CORPUS_SEED = 0
# (pages, gazetteer surfaces, ontology classes, files). The KB and the page
# texts are the same for every seed, so the staged reference is computed
# once per checkout; the seed sets the page order across the input files.
LONGDOC = (128, 20000, 3000, 8)
LONGDOC_SEED = 0
# __spark_entry__ operator queries, timed in the longdoc_bigvocab traced run
# over seeded sf0.1-shaped documents
QUERY_DOCS = 1500
QUERIES = ["G3_triples_sql_model", "M_graph_density", "KG_entity_pmi",
           "KG_pagerank", "D4_simhash", "L2_pos_lexical", "D3_minhash_lsh",
           "C1_contamination"]


def _read_json(path):
    with open(path) as f:
        return json.load(f)


def _write_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _fresh(path):
    shutil.rmtree(path, ignore_errors=True)


def _feature_cols():
    from pysemanticcomplexity_spark import FEATURE_COLUMNS
    return FEATURE_COLUMNS[1:]


class Workload:
    name = ""
    warm_up = True      # make one untimed call before the timed ones

    def __init__(self, ctx):
        self.seed = ctx.seed
        self.inputs = os.path.join(ctx.work, "inputs")
        self.out = os.path.join(ctx.work, "out", self.name)
        os.makedirs(self.inputs, exist_ok=True)
        os.makedirs(os.path.dirname(self.out), exist_ok=True)
        self.meta = {}

    def reference_ready(self) -> bool:
        """True when the cached expected outputs exist for the inputs."""
        return all(os.path.exists(p) for p in self.reference_files())

    def reset(self):
        """Untimed: put the output location into its pre-run state."""

    def cleanup(self):
        """Untimed: release what one run left cached."""
        self.spark.catalog.clearCache()


# --------------------------------------------------------------------------
# resume_half: staged, lineage-resumable write after a simulated crash
# --------------------------------------------------------------------------

class ResumeHalf(Workload):
    """A completed ``run_and_write`` output loses the ``_lineage`` rows of a
    seeded half of its buckets (a crash between data write and lineage
    append); each measured call resumes it with ``run_and_write``."""
    name = "resume_half"
    # A resume runs in a fresh process after the crash, so its users pay
    # the first call's JIT and code-generation cost: no warm-up call.
    warm_up = False

    def generate(self):
        from pysemanticcomplexity_spark import fixtures
        n, files = CORPUS
        self.pages_dir, meta = gen.write_pages(self.inputs, CORPUS_SEED, n,
                                               files)
        self.meta = dict(meta, gazetteer_surfaces=len(
            {g[0] for g in fixtures.gazetteer()}), buckets=N_BUCKETS)
        return self.meta

    def setup(self, spark):
        from pysemanticcomplexity_spark import fixtures
        from pysemanticcomplexity_spark.pipeline import KGPipeline
        from pysemanticcomplexity_spark.sources.pages import read_pages
        self.spark = spark
        self.dims = fixtures.spark_dims(spark)
        self.pipe = KGPipeline(spark, fixtures.gazetteer(),
                               fixtures.ontology_edges(),
                               self.dims["instance_types"],
                               self.dims["kb_triples"])
        self.pages = read_pages(spark, self.pages_dir)

    def _write(self, out_dir, run_id, resume):
        self.pipe.run_and_write(self.pages, out_dir, n_buckets=N_BUCKETS,
                                run_id=run_id, resume=resume)

    def _expected(self):
        """Checksums of the fused path's output (the measured write runs
        the staged path) and a pure-Python reference run over a seeded
        page sample."""
        path = self.pages_dir + ".expected.json"
        if os.path.exists(path):
            return _read_json(path)
        import pyarrow.parquet as pq
        from pysemanticcomplexity_spark import fixtures
        from pysemanticcomplexity_spark import ref_semantics as R
        docs = self.pipe.run_fused(self.pages, persist_docs=False).docs
        want = checks.fused_docs_checksum(docs)
        tbl = pq.read_table(self.pages_dir, columns=["url", "text"])
        rng = np.random.default_rng([CORPUS_SEED, 5])
        idx = sorted(rng.choice(tbl.num_rows, size=SAMPLE_PAGES,
                                replace=False).tolist())
        urls, texts = tbl["url"].to_pylist(), tbl["text"].to_pylist()
        sample = [{"url": urls[i], "text": texts[i]} for i in idx]
        _c, _i, triples, vectors = R.run_reference_pipeline(
            sample, fixtures.gazetteer(), fixtures.instance_types(),
            fixtures.kb_triples(), fixtures.ontology_edges())
        exp = {"checksum": want,
               "ref_triples": sorted(list(t) for t in triples),
               "ref_vectors": {u: [None if v != v else v for v in vec]
                               for u, vec in vectors.items()}}
        _write_json(path, exp)
        return exp

    def _check_tables(self, out_dir):
        got = checks.kg_table_checksum(
            self.spark.read.parquet(os.path.join(out_dir, "triples")),
            self.spark.read.parquet(os.path.join(out_dir, "features")),
            _feature_cols())
        return checks.compare_checksums(got, self.exp["checksum"], "tables")

    def reference_files(self):
        base = self.pages_dir + f".resume_b{N_BUCKETS}"
        return [self.pages_dir + ".expected.json", base + ".json"]

    def reference(self):
        """The uninterrupted output with its per-bucket row counts (built
        once per corpus), and the crashed copy of it for this seed."""
        self.exp = self._expected()
        self.ref_triples = {tuple(t) for t in self.exp["ref_triples"]}
        base = self.pages_dir + f".resume_b{N_BUCKETS}"
        pristine, info_path = base + "_pristine", base + ".json"
        if not os.path.exists(info_path):
            _fresh(pristine)
            self._write(pristine, "pristine", resume=False)
            self.cleanup()
            rows = {}
            for stage in ("triples", "features"):
                rows[stage] = {str(k): v for k, v in self.spark.read.parquet(
                    os.path.join(pristine, stage)).groupBy("bucket")
                    .count().collect()}
            _write_json(info_path, {"rows": rows,
                                    "bytes": du_bytes(pristine)})
        info = _read_json(info_path)
        self.want_rows = {s: {int(k): v for k, v in r.items()}
                          for s, r in info["rows"].items()}
        self.out_bytes = info["bytes"]
        buckets = sorted(self.want_rows["features"])
        rng = np.random.default_rng([self.seed, 6])
        self.lost = sorted(int(b) for b in rng.choice(
            buckets, size=len(buckets) // 2, replace=False))
        self.crashed = base + f"_crashed_s{self.seed}"
        if not os.path.exists(self.crashed):
            tmp = self.crashed + ".tmp"
            _fresh(tmp)
            shutil.copytree(pristine, tmp)
            _drop_lineage(os.path.join(tmp, "_lineage"), set(self.lost))
            os.replace(tmp, self.crashed)
        self.pages_not_done = sum(self.want_rows["features"][b]
                                  for b in self.lost)
        self.triples_redone = sum(self.want_rows["triples"].get(b, 0)
                                  for b in self.lost)

    def reset(self):
        _fresh(self.out)
        shutil.copytree(self.crashed, self.out)

    def run_once(self, i):
        self._write(self.out, f"resume{i}", resume=True)
        return {"pages": self.meta["pages"], "triples": self.triples_redone}

    def check(self, result):
        p = self._check_tables(self.out)
        p += checks.lineage_check(self.spark, self.out,
                                  ("triples", "features"), self.want_rows)
        p += checks.reference_sample(self.out, self.spark, self.ref_triples,
                                     self.exp["ref_vectors"], _feature_cols())
        return p

    # -- traced run --------------------------------------------------------
    def trace(self, tr):
        d = {}
        out = os.path.join(self.out + "_trace", "layers")
        _fresh(out)
        shutil.copytree(self.crashed, out)
        d.update(self._trace_layers(tr, out, "trace"))
        out = os.path.join(self.out + "_trace", "whole")
        _fresh(out)
        shutil.copytree(self.crashed, out)
        d.update(self._trace_pipeline(tr, out, "trace"))
        d["lineage.out_bytes_per_page"] = self.out_bytes / self.meta["pages"]
        return d

    def _trace_layers(self, tr, out_dir, run_id):
        """The staged layers of run_and_write, called one at a time, each
        output materialized before the next call."""
        import pyspark.sql.functions as F
        from pysemanticcomplexity_spark import fixtures
        from pysemanticcomplexity_spark.lineage import (completed_buckets,
                                                        resumable_write)
        from pysemanticcomplexity_spark.operators import (annotate, enrich,
                                                          graph, vectorize)
        from pysemanticcomplexity_spark.sources.pages import read_pages
        spark = self.spark
        d = {}
        with tr.span("staged"):
            with tr.span("pages.scan"):
                pages = read_pages(spark, self.pages_dir)
                pages.write.format("noop").mode("overwrite").save()
            with tr.span("annotate"):
                ann = annotate.annotate_pages(
                    spark, pages, fixtures.gazetteer(), 0.5,
                    emit="best").persist()
                d["annotate.rows_out"] = ann.count()
            mentions, doc_words = annotate.split_mentions(ann)
            with tr.span("enrich"):
                uris = enrich.distinct_uris(mentions)
                info = enrich.concept_info(uris, self.dims["instance_types"],
                                           self.dims["kb_triples"]).persist()
                rows = info.collect()
            d["enrich.distinct_uris"] = len(rows)
            d["enrich.uris_missing_kb"] = _missing_kb(rows)
            with tr.span("graph.resources"):
                res = graph.resource_concepts(mentions, info).persist()
                res.count()
            with tr.span("graph.triples"):
                triples = graph.build_triples(res, self.pipe.closure).persist()
                d["graph.triples_rows"] = triples.count()
            with tr.span("graph.nodes"):
                graph.build_nodes(res, triples).persist().count()
            with tr.span("vectorize"):
                feats = vectorize.vectorize(graph.resource_nodes(res),
                                            triples, doc_words).persist()
                feats.count()
            done = set(completed_buckets(spark, out_dir, "triples"))
            with tr.span("lineage.write"):
                def b(c):
                    return F.pmod(F.xxhash64(c), F.lit(N_BUCKETS)).cast("int")
                resumable_write(triples.withColumn("bucket", b("url")),
                                out_dir, "triples", run_id=run_id)
                resumable_write(feats.withColumn("bucket", b("filename")),
                                out_dir, "features", run_id=run_id)
        lin = spark.read.parquet(os.path.join(out_dir, "_lineage"))
        d["lineage.buckets_written"] = lin.filter(
            (F.col("run_id") == run_id) & (F.col("stage") == "triples")).count()
        d["lineage.buckets_skipped"] = len(done)
        spark.catalog.clearCache()
        return d

    def _trace_pipeline(self, tr, out_dir, run_id):
        """One whole run_and_write call: its job count, the bytes it left
        persisted, and the pages its scan fed to the annotator."""
        with tr.span("pipeline"):
            self._write(out_dir, run_id, resume=True)
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        persisted = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        self.cleanup()
        return {"pipeline.persisted_bytes": persisted}

    def layer_metrics(self, tr, ev, d):
        m = dict(d)
        m["pages.scan_s"] = tr.duration("pages.scan")
        m["pages.scan_tasks"] = ev.n_tasks("pages.scan")
        m["annotate.self_s"] = tr.self_time("annotate")
        m["annotate.py_bytes_in"] = ev.metric("MapInPandas", PY_BYTES_IN,
                                              "annotate")
        m["annotate.py_bytes_out"] = ev.metric("MapInPandas", PY_BYTES_OUT,
                                               "annotate")
        m["enrich.self_s"] = tr.self_time("enrich")
        m["enrich.shuffle_bytes"] = ev.shuffle("enrich")
        gspans = ("graph.resources", "graph.triples", "graph.nodes")
        for s in gspans:
            m[s + "_self_s"] = tr.self_time(s)
        m["graph.shuffle_bytes"] = ev.shuffle(*gspans)
        m["graph.task_skew"] = ev.skew(*gspans)
        m["vectorize.self_s"] = tr.self_time("vectorize")
        m["vectorize.shuffle_bytes"] = ev.shuffle("vectorize")
        m["vectorize.task_skew"] = ev.skew("vectorize")
        m["lineage.write_self_s"] = tr.self_time("lineage.write")
        m["pipeline.spark_jobs"] = ev.n_jobs("pipeline")
        fed = ev.scan_rows("pipeline", os.path.basename(self.pages_dir))
        m["lineage.pages_recomputed_ratio"] = fed / self.pages_not_done
        m["trace.total_s"] = tr.duration("staged")
        # the measured call of this run is the cold first call; the whole
        # run_and_write after the layered one is the like-for-like baseline
        m["trace.untraced_s"] = tr.duration("pipeline")
        return m


def _missing_kb(info_rows) -> int:
    """URIs that no KB table mentions: zero-filled by the enrichment."""
    return sum(1 for r in info_rows if not r["types"]
               and not r["nb_links_in"] and not r["nb_links_out"])


def _drop_lineage(lineage_dir: str, lost: set) -> None:
    """Remove the lineage rows of ``lost`` buckets: the state a crash
    between the data write and the lineage append leaves behind."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    tbl = pq.read_table(lineage_dir)
    keep = pc.invert(pc.is_in(tbl["bucket"],
                              value_set=pa.array(sorted(lost), pa.int32())))
    tbl = tbl.filter(keep)
    shutil.rmtree(lineage_dir)
    os.makedirs(lineage_dir)
    pq.write_table(tbl, os.path.join(lineage_dir, "part-00000.parquet"))


# --------------------------------------------------------------------------
# longdoc_bigvocab: long pages against a large synthetic KB, fused path
# --------------------------------------------------------------------------

class LongdocBigvocab(Workload):
    """``run_fused`` over long pages with a 20k-surface gazetteer."""
    name = "longdoc_bigvocab"

    def generate(self):
        n, surfaces, classes, files = LONGDOC
        self.root, self.meta = gen.write_longdoc(
            self.inputs, LONGDOC_SEED, n, surfaces, classes, files)
        self.pages_dir = gen.arrange_pages(
            os.path.join(self.root, "pages"),
            os.path.join(self.root, f"pages_s{self.seed}"), self.seed, files)
        return self.meta

    def setup(self, spark):
        from pysemanticcomplexity_spark.operators import fused
        from pysemanticcomplexity_spark.pipeline import KGPipeline
        from pysemanticcomplexity_spark.sources.pages import read_pages
        self.spark = spark
        self.gaz = gen.read_rows(self.root, "gazetteer")
        self.onto = gen.read_rows(self.root, "ontology_edges")
        self.itypes = spark.read.parquet(
            os.path.join(self.root, "instance_types.parquet"))
        self.kbt = spark.read.parquet(
            os.path.join(self.root, "kb_triples.parquet"))
        self.pipe = KGPipeline(spark, self.gaz, self.onto, self.itypes,
                               self.kbt)
        self.state = fused.build_broadcast_state(
            spark, self.gaz, self.onto, self.itypes, self.kbt)
        self.pages = read_pages(spark, self.pages_dir)

    def reference_files(self):
        return [os.path.join(self.root, "expected.json")]

    def reference(self):
        """Checksums of the staged path (KGPipeline.run) on the same input."""
        path = os.path.join(self.root, "expected.json")
        if not os.path.exists(path):
            res = self.pipe.run(self.pages)
            _write_json(path, checks.kg_table_checksum(
                res.triples, res.features, _feature_cols()))
            self.cleanup()
        self.exp = _read_json(path)

    def run_once(self, i):
        docs = self.pipe.run_fused(self.pages, persist_docs=False).docs
        self.got = checks.fused_docs_checksum(docs)
        return {"pages": self.meta["pages"], "triples": self.got["triples"]}

    def check(self, result):
        return checks.compare_checksums(self.got, self.exp, "fused docs")

    # -- traced run --------------------------------------------------------
    def trace(self, tr):
        from pysemanticcomplexity_spark.operators import enrich, fused, graph
        spark = self.spark
        d = {}
        with tr.span("setup"):
            with tr.span("graph.closure_table"):
                graph.closure_table(spark, self.onto).count()
            with tr.span("enrich"):
                uris = sorted({g[1] for g in self.gaz})
                info = enrich.concept_info(
                    spark.createDataFrame([(u,) for u in uris], "uri string"),
                    self.itypes, self.kbt).collect()
        d["enrich.distinct_uris"] = len(info)
        d["enrich.uris_missing_kb"] = _missing_kb(info)
        # the same work as one measured run_fused call, split in two
        with tr.span("fused"):
            with tr.span("fused.broadcast_state"):
                state = fused.build_broadcast_state(
                    spark, self.gaz, self.onto, self.itypes, self.kbt)
            with tr.span("fused.docs"):
                got = checks.fused_docs_checksum(
                    fused.fused_docs(spark, self.pages, state))
        d["fused.broadcast_bytes"] = len(pickle.dumps(state.value, protocol=4))
        if got != self.exp:
            raise RuntimeError("traced fused output differs from reference")
        with tr.span("pipeline"):       # untraced baseline, same JVM state
            self.run_once(0)
        d.update(self._trace_kernels(tr, info))
        self._trace_queries(tr)
        return d

    def _trace_queries(self, tr):
        """The Exchange-heavy operator queries, each consumed by a row-hash
        aggregate, in a seed-chosen order."""
        import __spark_entry__ as E
        sf_dir = gen.write_documents(self.inputs, self.seed, QUERY_DOCS)
        qs = E.queries()
        rng = np.random.default_rng([self.seed, 8])
        with tr.span("queries"):
            for i in rng.permutation(len(QUERIES)):
                with tr.span(QUERIES[i]):
                    checks.frame_checksum(qs[QUERIES[i]](self.spark, sf_dir))

    def _trace_kernels(self, tr, info):
        """Driver-side spans over the per-document kernels on a fixed
        seeded page sample."""
        import pyarrow.parquet as pq
        from pysemanticcomplexity_spark import ref_semantics as R
        from pysemanticcomplexity_spark.annotation_core import GazetteerMatcher
        from pysemanticcomplexity_spark.ontology import OntologyIndex
        from pysemanticcomplexity_spark.operators.fused import DocAssembler
        from pysemanticcomplexity_spark.operators.vectorize_kernel import (
            compute_features)
        d = {}
        tbl = pq.read_table(self.pages_dir, columns=["text"])
        rng = np.random.default_rng([self.seed, 7])
        n = min(KERNEL_SAMPLE, tbl.num_rows)
        idx = sorted(rng.choice(tbl.num_rows, size=n, replace=False).tolist())
        texts = [tbl["text"][i].as_py() for i in idx]
        paras = [R.process_to_paragraphs(t) for t in texts]
        matcher = GazetteerMatcher(self.gaz, confidence=0.5)
        edges = [(c, p) for c, p, *_ in self.onto]
        with tr.span("kernel.annotation_core"):
            spans = [list(matcher.annotate_doc_spans(p)) for p in paras]
        n_mentions = sum(len(s) for s in spans)
        d["annotation_core.us_per_page"] = \
            tr.duration("kernel.annotation_core") * 1e6 / n
        d["annotation_core.mentions_per_page"] = n_mentions / n
        info_map = {r["uri"]: (sorted(r["types"]), int(r["nb_links_in"]),
                               int(r["nb_links_out"])) for r in info}
        assembler = DocAssembler(matcher, OntologyIndex(edges), info_map)
        with tr.span("kernel.doc_plan"):
            for s in spans:
                for _off, key in s:
                    assembler.plan[key]
        d["fused.plan_hit_ratio"] = len(assembler.plan) / max(1, n_mentions)
        onto = OntologyIndex(edges)
        classes = sorted(onto.all_classes())
        with tr.span("kernel.ontology_closure"):
            for c in classes:
                onto.closure_edges(c)
        d["ontology.closure_us_per_class"] = \
            tr.duration("kernel.ontology_closure") * 1e6 / len(classes)
        ref_info = R.enrich(sorted({g[1] for g in self.gaz}),
                            gen.read_rows(self.root, "instance_types"),
                            gen.read_rows(self.root, "kb_triples"))
        graphs = [R.build_graph(R.text_to_concepts(t, matcher), ref_info, onto)
                  for t in texts]
        inputs = [_kernel_inputs(g) for g in graphs]
        with tr.span("kernel.vectorize"):
            for kw in inputs:
                compute_features(**kw)
        d["vectorize_kernel.us_per_doc"] = \
            tr.duration("kernel.vectorize") * 1e6 / len(inputs)
        sizes = [len(kw["node_ids"]) for kw in inputs]
        d["vectorize_kernel.nodes_per_doc_p50"] = percentile(sizes, 50)
        d["vectorize_kernel.nodes_per_doc_p99"] = percentile(sizes, 99)
        return d

    def layer_metrics(self, tr, ev, d):
        m = dict(d)
        m["graph.closure_table_s"] = tr.duration("graph.closure_table")
        m["enrich.self_s"] = tr.self_time("enrich")
        m["enrich.shuffle_bytes"] = ev.shuffle("enrich")
        m["fused.broadcast_state_s"] = tr.self_time("fused.broadcast_state")
        m["fused.docs_self_s"] = tr.self_time("fused.docs")
        m["fused.py_bytes_out"] = ev.metric("MapInPandas", PY_BYTES_OUT,
                                            "fused.docs")
        m["fused.task_skew"] = ev.skew("fused.docs")
        for q in QUERIES:
            m[q + ".s"] = tr.duration(q)
            m[q + ".shuffle_bytes"] = ev.shuffle(q)
        m["trace.total_s"] = tr.duration("fused")
        m["trace.untraced_s"] = tr.duration("pipeline")
        return m


def _kernel_inputs(g) -> dict:
    """compute_features arguments for a reference DocGraph."""
    nodes = list(g.nodes.items())

    def col(key):
        return np.array([np.nan if a.get(key) is None else a[key]
                         for _n, a in nodes], dtype=float)
    return {
        "node_ids": [n for n, _a in nodes],
        "is_resource": np.array([a.get("resource") is True
                                 for _n, a in nodes], dtype=bool),
        "counts": col("count"), "offsets": col("offset"),
        "nb_types": col("nbTypes"), "nb_links_in": col("nbLinksIn"),
        "nb_links_out": col("nbLinksOut"),
        "edges": [g.directed[e] for e in g.edges],
        "nb_words": g.nb_words,
    }


WORKLOADS = {w.name: w for w in (ResumeHalf, LongdocBigvocab)}
