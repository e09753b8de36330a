"""S7: deterministic gazetteer annotation — the staged pipeline's first stage.

One ``mapInPandas`` pass fuses P1-P6 + S7 per page row (clean -> split ->
filter -> Treebank count -> longest-match annotate -> offset re-base). All
of that is row-local, so the 100 TB ``pages`` scan is processed with ZERO
shuffles: Catalyst prunes the scan to (url, text), Arrow ships batches to
Python once, and the gazetteer rides along as a
``SparkContext.broadcast`` (one copy per executor, like the reference's
shared-memory ontology — utils/commons.py:19-30 forced joblib threading for
the same reason).

Output: one sentinel row per document (uri = '', offset = -1) carrying
``nb_words`` — so zero-mention documents still produce feature rows — plus
one row per detected mention with document-level offsets
(conceptExtraction.py:22-31 re-basing; no skip branch since there is no
network — divergence documented in SURVEY.md §2.2 P6).

Spans come from ``GazetteerMatcher.match_doc_spans``, the same
per-document walk the fused kernel (operators/fused.py) projects; this
module only maps each span to MENTIONS rows. ``emit='best'`` keeps the
disambiguated candidate (``_best``); ``emit='candidates'`` keeps all
surviving gazetteer candidates per mention for the explicit
groupBy(url, mention).applyInPandas disambiguation stage
(operators/disambiguate.py).
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from ..annotation_core import GazetteerMatcher, matcher_config
from .preprocess import paragraphs_and_words

__all__ = ["annotate_pages"]

# fields of the per-document sentinel row (uri '' marks it; offset -1)
_SENTINEL = ("", [], 0.0, 0.0, 0, 0)


def _best_rows(matcher: GazetteerMatcher, key: str) -> list:
    """The disambiguated mention fields of a span (none when dropped):
    (uri, types, similarity, psr, support, n_candidates)."""
    fin = matcher._best.get(key)
    return [fin] if fin is not None else []


def _candidate_rows(matcher: GazetteerMatcher, key: str) -> list:
    """All surviving candidates of a span, best first."""
    scored = matcher._surviving(key)
    if not scored:
        return []
    psr = (scored[1][0] / scored[0][0]) if len(scored) > 1 else 0.0
    return [(uri, types_csv.split(",") if types_csv else [], sim, psr,
             support, len(scored))
            for sim, uri, support, types_csv, _ in scored]


def annotate_pages(spark: SparkSession, pages: DataFrame, gazetteer_rows,
                   confidence: float = 0.5, emit: str = "best",
                   support: int = None, types=None,
                   policy: str = "whitelist") -> DataFrame:
    """pages -> mention rows (schema schemas.MENTIONS) + per-doc sentinels.

    emit='best'        : disambiguated mention per span (shuffle-free).
    emit='candidates'  : all candidates per span (feed disambiguate stage).
    support/types/policy: Spotlight-parameter filters (dbpediaClients.py:34-51).
    """
    # the gazetteer ships once per executor; matchers are built per worker
    bc = spark.sparkContext.broadcast(matcher_config(
        gazetteer_rows, confidence, support=support, types=types,
        policy=policy))
    project = _best_rows if emit == "best" else _candidate_rows

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = GazetteerMatcher(**bc.value)
        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                paragraphs, nb_words = paragraphs_and_words(text)
                rows.append((url, nb_words, -1, "") + _SENTINEL)
                for off, surface, key in matcher.match_doc_spans(paragraphs):
                    rows += [(url, nb_words, off, surface) + fields
                             for fields in project(matcher, key)]
            yield pd.DataFrame(rows, columns=schemas.MENTIONS.fieldNames())

    return (pages.select("url", "text")
            .mapInPandas(run, schema=schemas.MENTIONS))


def split_mentions(annotated: DataFrame):
    """(mentions, doc_words): drop/keep the per-document sentinel rows."""
    import pyspark.sql.functions as F
    mentions = annotated.filter(F.col("uri") != "")
    doc_words = annotated.filter(F.col("uri") == "").select("url", "nb_words")
    return mentions, doc_words
