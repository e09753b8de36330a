"""End-to-end KG-construction pipeline (reference texts2vectors lifecycle,
SURVEY.md §3.1, re-expressed as Spark plans).

Production: ``run_and_write`` writes the ``run_fused`` output (one
shuffle-free ``mapInPandas`` per page row, operators/fused.py) as triples
and features parquet tables partitioned by a url hash bucket, with
per-bucket ``_lineage`` rows for resume (lineage.py).

General staged path ``run`` (open entity universe, ``__spark_entry__`` KG
queries, stage-table CLI commands), with identical output:

    pages ──mapInPandas(annotate: P1-P6+S7)──> mentions + doc_words
      mentions ──A5/J1/P7/P8──> resources ──G1-G3──> triples, nodes
      distinct uris ──A1-A4 joins──> concept_info (broadcast)
      nodes+triples+doc_words ──mapInPandas──> features (M1-M10)
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators import annotate, disambiguate, enrich, fused, graph, vectorize

__all__ = ["KGPipeline", "PipelineResult", "FusedResult"]


@dataclass
class FusedResult:
    docs: DataFrame          # one row per document (url, nb_words, triples, features)
    triples: DataFrame
    features: DataFrame


@dataclass
class PipelineResult:
    mentions: DataFrame
    doc_words: DataFrame
    concept_info: DataFrame
    resources: DataFrame
    triples: DataFrame
    nodes: DataFrame
    features: DataFrame


class KGPipeline:
    def __init__(self, spark: SparkSession, gazetteer_rows, ontology_edge_rows,
                 instance_types_df: DataFrame, kb_triples_df: DataFrame,
                 confidence: float = 0.5,
                 support: int = None, types=None, policy: str = "whitelist",
                 disambiguation: str = "local",
                 broadcast_concept_info: bool = True,
                 persist_intermediate: bool = True):
        """disambiguation: 'local' (inside the annotator, shuffle-free),
        'agg' (groupBy+max_by), or 'apply' (groupBy.applyInPandas,
        north_star shape) — staged ``run`` only; all three pick the same
        mentions, and the fused path disambiguates locally.

        persist_intermediate: persist the annotated mentions (the expensive
        mapInPandas output) — it feeds several downstream branches (A5
        aggregation, A1 distinct-uri broadcast, doc_words) which would each
        re-execute the annotator otherwise. This is the in-memory analogue
        of the reference's staged JSON materialization (SURVEY.md §3.2); at
        cluster scale the same role is played by writing the mentions table.
        """
        self.spark = spark
        self.gazetteer_rows = list(gazetteer_rows)
        self.ontology_edge_rows = list(ontology_edge_rows)
        self.instance_types_df = instance_types_df
        self.kb_triples_df = kb_triples_df
        self.confidence = confidence
        self.support = support
        self.types = types
        self.policy = policy
        self.disambiguation = disambiguation
        self.broadcast_concept_info = broadcast_concept_info
        self.persist_intermediate = persist_intermediate
        self.closure = graph.closure_table(spark, self.ontology_edge_rows)

    def run(self, pages: DataFrame) -> PipelineResult:
        ann_kw = dict(support=self.support, types=self.types,
                      policy=self.policy)
        if self.disambiguation == "local":
            annotated = annotate.annotate_pages(
                self.spark, pages, self.gazetteer_rows, self.confidence,
                emit="best", **ann_kw)
        else:
            cands = annotate.annotate_pages(
                self.spark, pages, self.gazetteer_rows, self.confidence,
                emit="candidates", **ann_kw)
            fn = (disambiguate.disambiguate_agg if self.disambiguation == "agg"
                  else disambiguate.disambiguate_apply)
            annotated = fn(cands, self.confidence)
        if self.persist_intermediate:
            annotated = annotated.persist()
        mentions, doc_words = annotate.split_mentions(annotated)

        uris = enrich.distinct_uris(mentions)
        info = enrich.concept_info(uris, self.instance_types_df, self.kb_triples_df)

        resources = graph.resource_concepts(
            mentions, info, broadcast_info=self.broadcast_concept_info)
        if self.persist_intermediate:
            # stage tables (the reference's staged materialization, §3.2):
            # resources feeds 3 triple branches + nodes; triples feeds the
            # sink, nodes and the vectorizer — without a barrier each branch
            # re-executes the whole upstream including the broadcast build.
            resources = resources.persist()
        triples = graph.build_triples(resources, self.closure)
        if self.persist_intermediate:
            triples = triples.persist()
        nodes = graph.build_nodes(resources, triples)
        if self.persist_intermediate:
            nodes = nodes.persist()
        # the vectorizer consumes only the RESOURCE node rows (a shuffle-
        # free projection of resources): the class/root rows of `nodes`
        # are triple endpoints the kernel re-adds with identical
        # attributes, so the features path skips build_nodes' distinct +
        # anti-join materialization (round 6; ~2 s of the staged features
        # wall at sf0.1). `nodes` itself stays exposed (and lazily
        # persisted) for PipelineResult consumers.
        features = vectorize.vectorize(graph.resource_nodes(resources),
                                       triples, doc_words)
        return PipelineResult(mentions=mentions, doc_words=doc_words,
                              concept_info=info, resources=resources,
                              triples=triples, nodes=nodes, features=features)

    def run_fused(self, pages: DataFrame, persist_docs: bool = True,
                  with_features: bool = True) -> FusedResult:
        """Single-pass, shuffle-free pipeline (operators/fused.py): the whole
        pages scan is processed in one mapInPandas with all dimensions
        broadcast; triples/features are cheap projections of the compact
        per-document output. Requires the entity universe to be bounded by
        the gazetteer (true for Spotlight-style annotation). Results are
        identical to run() — asserted in tests/test_fused.py."""
        state = fused.build_broadcast_state(
            self.spark, self.gazetteer_rows, self.ontology_edge_rows,
            self.instance_types_df, self.kb_triples_df, self.confidence,
            support=self.support, types=self.types, policy=self.policy)
        docs = fused.fused_docs(self.spark, pages, state,
                                with_features=with_features)
        if persist_docs:
            docs = docs.persist()
        return FusedResult(docs=docs,
                           triples=fused.triples_from_docs(docs),
                           features=fused.features_from_docs(docs))

    def run_and_write(self, pages: DataFrame, out_dir: str,
                      n_buckets: int = 64,
                      run_id: str = "run",
                      resume: bool = True) -> None:
        """Materialize triples + features with per-bucket lineage and
        checkpointed resume (lineage.py; north_rule requirement).

        Both tables project ONE fused per-document output, persisted for
        the two writes only. Buckets are ``pmod(xxhash64(url), n_buckets)``
        as in directories the staged path wrote, so a resume may complete
        those."""
        from .lineage import resumable_write

        fused_out = self.run_fused(pages, persist_docs=True)
        try:
            for stage, table, url_col in (
                    ("triples", fused_out.triples, "url"),
                    ("features", fused_out.features, "filename")):
                bucket = F.pmod(F.xxhash64(url_col), F.lit(n_buckets))
                resumable_write(table.withColumn("bucket", bucket.cast("int")),
                                out_dir, stage, run_id=run_id, resume=resume)
        finally:
            fused_out.docs.unpersist()
