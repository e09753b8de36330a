"""Explicit StructType schemas (SURVEY.md §1.3: no inference anywhere)."""
from __future__ import annotations

import pyspark.sql.types as T

from . import FEATURE_COLUMNS

# Input table per BASELINE.json input_hint.
PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# AnnotationScore struct (reference parsers/semantic/model.py:8-38).
ANNOTATION_SCORE = T.StructType([
    T.StructField("offset", T.LongType(), True),
    T.StructField("surface", T.StringType(), True),
    T.StructField("similarity_score", T.DoubleType(), True),
    T.StructField("percentage_second_rank", T.DoubleType(), True),
    T.StructField("support", T.LongType(), True),
])

# One detected mention row (flat layout for the annotator output; the nested
# DBpediaResource struct of model.py:41-68 is reconstructed on demand).
MENTIONS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("nb_words", T.LongType(), False),
    T.StructField("offset", T.LongType(), False),     # document-level offset (P6)
    T.StructField("surface", T.StringType(), False),
    T.StructField("uri", T.StringType(), False),
    T.StructField("spotlight_types", T.ArrayType(T.StringType()), False),
    T.StructField("similarity_score", T.DoubleType(), False),
    T.StructField("percentage_second_rank", T.DoubleType(), False),
    T.StructField("support", T.LongType(), False),
    T.StructField("n_candidates", T.LongType(), False),
])

# Per-document word counts for docs with zero mentions (kept for vector
# parity: every page yields a feature row even when the graph is empty).
DOC_WORDS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("nb_words", T.LongType(), False),
])

# concept_info dimension (model.py:89-107 / conceptsEnrichment.py:36-43).
CONCEPT_INFO = T.StructType([
    T.StructField("uri", T.StringType(), False),
    T.StructField("types", T.ArrayType(T.StringType()), False),
    T.StructField("nb_links_in", T.LongType(), False),
    T.StructField("nb_links_out", T.LongType(), False),
])

# Per-document graph tables (SURVEY.md §1.1 concept-graph row).
NODES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("node_id", T.StringType(), False),
    T.StructField("is_resource", T.BooleanType(), False),
    T.StructField("count", T.LongType(), True),
    T.StructField("offset", T.LongType(), True),
    T.StructField("nb_types", T.LongType(), True),
    T.StructField("nb_links_in", T.LongType(), True),
    T.StructField("nb_links_out", T.LongType(), True),
])

TRIPLES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
])

FEATURES = T.StructType(
    [T.StructField("filename", T.StringType(), False)]
    + [T.StructField(c, T.DoubleType(), True) for c in FEATURE_COLUMNS[1:]]
)

LINEAGE = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("rows", T.LongType(), True),
    T.StructField("wall_ms", T.LongType(), True),
])
