"""Streaming KG construction: the fused per-document kernel over a page
stream.

The north-star deployment is a crawl draining in continuously; because the
fused pipeline (operators/fused.py) is ONE stateless mapInPandas with every
dimension broadcast, it composes directly with Structured Streaming — each
micro-batch of pages becomes triples with zero stream state, no watermark,
and exactly-once-per-file semantics from the file-source checkpoint. The
batch and streaming paths share the identical kernel, so their outputs are
equal by construction (asserted by the batch-equality test in
tests/test_sources.py).
"""
from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators import fused
from ..schemas import PAGES

__all__ = ["streaming_triples_available_now"]


def streaming_triples_available_now(spark: SparkSession, src_dir: str,
                                    dest_dir: str, checkpoint_dir: str,
                                    gazetteer_rows, ontology_edge_rows,
                                    instance_types_df, kb_triples_df,
                                    confidence: float = 0.5,
                                    max_files_per_trigger: int = None):
    """Drain page files from ``src_dir`` once (Trigger.AvailableNow),
    emitting (url, subj, pred, obj) triples to a parquet sink.

    Dimensions are broadcast once at query start (they are static relative
    to a drain); restarting with the same checkpoint skips already-processed
    files. ``max_files_per_trigger`` paces the drain into bounded
    micro-batches (AvailableNow honors it as the per-batch admission cap) —
    the knob that keeps a backlogged crawl from admitting the whole backlog
    as one giant batch. Returns the started StreamingQuery.
    """
    state = fused.build_broadcast_state(
        spark, gazetteer_rows, ontology_edge_rows,
        instance_types_df, kb_triples_df, confidence)
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(src_dir)
    docs = fused.fused_docs(spark, stream, state, with_features=False)
    return (fused.triples_from_docs(docs).writeStream
            .format("parquet")
            .option("path", dest_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
