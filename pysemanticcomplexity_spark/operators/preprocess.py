"""P1-P6: declarative text preprocessing (SURVEY.md §2.2).

These are the *oracle-checkable, pure-DataFrame* forms of the preprocessing
stages — whole-stage-codegen'd JVM expressions, no Python:

* P1 clean_text       — regexp_replace of the reference's control-char class
                        (parsers/preprocessing/text.py:12-14,29-30); must be
                        byte-identical per BASELINE.json input_hint.
* P2 split            — split on "\\n\\n" (text.py:15,32-33) + posexplode
                        keeping para_idx for offset math.
* P3 filter           — length(para) > 150, strict (text.py:17,35-36).
* P4 composition      — process_to_paragraphs (text.py:46-53).
* P6 offset base      — cumulative char length of previous kept paragraphs
                        (batchprocessing/semantic/conceptExtraction.py:22-31);
                        window cumsum, introduced by us (reference tracked a
                        running offset_span imperatively).

The production pipeline does NOT use the window form — per-document offset
re-basing is row-local, so both kernels (operators/annotate.py, fused.py)
run P1-P6 in one ``mapInPandas`` pass, taking P1-P5 from
``paragraphs_and_words``, and never shuffle the 100 TB pages table. These
forms exist for correctness oracles and for users who want paragraph tables.

P5 word count needs the Treebank tokenizer (pure Python) and is exposed as
an Arrow-batched pandas UDF.
"""
from __future__ import annotations

import re
from typing import List, Tuple

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import pandas_udf

from ..treebank import count_words

# Exact control-char class of text.py:12-14: \x00-\x09, \x0b-\x1f, \x80-\x9e
# (Python's range(0x80, 0x9f) is inclusive-exclusive).
CLEAN_PATTERN = r"[\x00-\x09\x0b-\x1f\x80-\x9e]"
PARAGRAPH_THRESHOLD = 150
_CLEAN_RE = re.compile(CLEAN_PATTERN)


def paragraphs_and_words(text: str) -> Tuple[List[str], int]:
    """P1-P5 for one document in Python: (kept paragraphs, nb_words)."""
    paras = [p for p in _CLEAN_RE.sub(" ", text or "").split("\n\n")
             if len(p) > PARAGRAPH_THRESHOLD]
    return paras, sum(count_words(p) for p in paras)


def clean_text_col(col) -> F.Column:
    """P1 (text.py:29-30)."""
    return F.regexp_replace(col, CLEAN_PATTERN, " ")


def with_clean_text(pages: DataFrame, text_col: str = "text",
                    out_col: str = "text_clean") -> DataFrame:
    return pages.withColumn(out_col, clean_text_col(F.col(text_col)))


def paragraphs(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """P1+P2+P3: (url, para_idx, para) for kept paragraphs.

    para_idx is the position in the raw split (the reference iterates kept
    paragraphs in split order); offset math downstream sums only kept
    paragraphs, as in conceptExtraction.py:22-31.
    """
    return (
        pages
        .select("url", F.posexplode(F.split(clean_text_col(F.col(text_col)), "\n\n"))
                .alias("para_idx", "para"))
        .filter(F.length("para") > PARAGRAPH_THRESHOLD)
    )


def paragraphs_with_offsets(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """P6: adds offset_base = Σ length(previous kept paragraphs) per url."""
    w = (Window.partitionBy("url").orderBy("para_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    return paragraphs(pages, text_col).withColumn(
        "offset_base", F.coalesce(F.sum(F.length("para")).over(w), F.lit(0)))


@pandas_udf(T.LongType())
def count_words_udf(texts: pd.Series) -> pd.Series:
    """P5: Treebank token count (text.py:59-63), Arrow-batched."""
    from pysemanticcomplexity_spark.treebank import count_words
    return texts.map(lambda t: count_words(t) if t else 0)


def doc_word_counts(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """nb_words per url = Σ token count over kept paragraphs; 0 when none
    (conceptExtraction.py:42)."""
    per_para = paragraphs(pages, text_col).withColumn("n", count_words_udf("para"))
    return (pages.select("url")
            .join(per_para.groupBy("url").agg(F.sum("n").alias("nb_words")),
                  "url", "left")
            .select("url", F.coalesce("nb_words", F.lit(0)).alias("nb_words")))
