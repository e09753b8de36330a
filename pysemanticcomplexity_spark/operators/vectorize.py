"""M1-M10: per-document semantic-complexity feature vectors.

Per-document graphs are tiny (10^2-10^3 nodes — SURVEY.md §2.6), so the
eccentricity/BFS metrics run per url group inside ONE Arrow-batched
``mapInPandas`` after a hash repartition + in-partition sort by url: one
shuffle of the (small) nodes + triples + word-count rows, zero driver
involvement, linear scale-out across documents.

The numeric feature definitions are shared with the pure-Python oracle
(ref_semantics.vectorize_graph — itself a mirror of reference
tranformers.py:40-186); what this module adds is the distributed execution
shape and the graph reconstruction from relational rows. The graph
*construction* path (DataFrame ops) is fully independent of the oracle's.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .vectorize_kernel import compute_features

__all__ = ["vectorize"]


def _pack_graph(nodes: DataFrame, triples: DataFrame) -> DataFrame:
    """Union nodes + edges into one table keyed by url (kinds 'n' and 'e')."""
    n = nodes.select(
        "url", F.lit("n").alias("kind"), F.col("node_id").alias("a"),
        F.lit(None).cast("string").alias("b"),
        "is_resource", "count", "offset", "nb_types", "nb_links_in", "nb_links_out")
    e = triples.select(
        "url", F.lit("e").alias("kind"), F.col("subj").alias("a"),
        F.col("obj").alias("b"),
        F.lit(None).cast("boolean").alias("is_resource"),
        F.lit(None).cast("long").alias("count"),
        F.lit(None).cast("long").alias("offset"),
        F.lit(None).cast("long").alias("nb_types"),
        F.lit(None).cast("long").alias("nb_links_in"),
        F.lit(None).cast("long").alias("nb_links_out"))
    return n.unionByName(e)


def vectorize(nodes: DataFrame, triples: DataFrame,
              doc_words: DataFrame,
              namespaces: dict = None) -> DataFrame:
    """Feature table: one row per url in ``doc_words`` (zero-mention documents
    get the empty-graph vector), columns = FEATURE_COLUMNS.

    ``namespaces`` restricts the per-namespace column pairs to a subset of
    MANAGED_NAMESPACES keys (reference ``graphs2vectors -on``,
    subprograms/graphs2vectors.py:26-47); None = all three."""
    from .. import MANAGED_NAMESPACES as _ALL_NS, feature_columns
    cols = feature_columns(namespaces)
    ns_dict = (None if namespaces is None
               else {k: _ALL_NS[k] for k in _ALL_NS if k in namespaces})
    schema = T.StructType(
        [T.StructField("filename", T.StringType(), False)]
        + [T.StructField(c, T.DoubleType(), True) for c in cols[1:]])
    packed = _pack_graph(nodes, triples)

    def compute_group(url, grp: pd.DataFrame) -> list:
        wpdf = grp[grp["kind"] == "w"]
        nb_words = int(wpdf["count"].iloc[0]) if len(wpdf) else None
        npdf = grp[grp["kind"] == "n"]
        epdf = grp[grp["kind"] == "e"]
        node_ids = list(npdf["a"])
        known = set(node_ids)
        # edge endpoints not in the node table (defensive; shouldn't happen)
        for a, b in zip(epdf["a"], epdf["b"]):
            for x in (a, b):
                if x not in known:
                    known.add(x)
                    node_ids.append(x)
        pad = len(node_ids) - len(npdf)
        is_res = np.concatenate([npdf["is_resource"].to_numpy(dtype=bool),
                                 np.zeros(pad, dtype=bool)])
        f64 = lambda s: np.concatenate([s.to_numpy(dtype="float64"),
                                        np.full(pad, np.nan)])
        feats = compute_features(
            node_ids=node_ids,
            is_resource=is_res,
            counts=np.nan_to_num(f64(npdf["count"])),
            offsets=f64(npdf["offset"]),
            nb_types=f64(npdf["nb_types"]),
            nb_links_in=f64(npdf["nb_links_in"]),
            nb_links_out=f64(npdf["nb_links_out"]),
            edges=list(zip(epdf["a"], epdf["b"])),
            nb_words=nb_words,
            namespaces=ns_dict,
        )
        return [url] + feats

    def run(batches):
        # many documents per Arrow batch: rows arrive url-sorted within
        # the partition, so complete url groups are contiguous; the last
        # url of a batch may continue in the next one and is carried over
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            urls = pdf["url"].to_numpy()
            # first row of the batch-final url group (equality scan, no
            # reliance on comparator parity between Spark and Python)
            first_of_last = int((urls != urls[-1]).nonzero()[0][-1]) + 1 \
                if (urls != urls[-1]).any() else 0
            carry = pdf.iloc[first_of_last:]
            work = pdf.iloc[:first_of_last]
            if len(work):
                yield pd.DataFrame(
                    [compute_group(u, g) for u, g in
                     work.groupby("url", sort=False)], columns=cols)
        if carry is not None and len(carry):
            yield pd.DataFrame(
                [compute_group(u, g) for u, g in
                 carry.groupby("url", sort=False)], columns=cols)

    # The words rows ride the SAME shuffled stream as the packed graph
    # (kind 'w', nb_words in the count column): one hash repartition +
    # in-partition sort by url, then ONE mapInPandas that processes every
    # url group in an Arrow batch per call. The previous
    # cogroup().applyInPandas shape invoked Python once per URL — ~2 ms
    # of per-group Arrow/pandas overhead per document dominated the stage
    # (kg_features_staged 12.2 s -> see OPTIMIZATION_r06.md); group
    # contents and the numeric kernel are unchanged.
    words = doc_words.select(
        "url", F.lit("w").alias("kind"),
        F.lit(None).cast("string").alias("a"),
        F.lit(None).cast("string").alias("b"),
        F.lit(None).cast("boolean").alias("is_resource"),
        F.col("nb_words").cast("long").alias("count"),
        F.lit(None).cast("long").alias("offset"),
        F.lit(None).cast("long").alias("nb_types"),
        F.lit(None).cast("long").alias("nb_links_in"),
        F.lit(None).cast("long").alias("nb_links_out"))
    stream = (packed.unionByName(words)
              .repartition("url")
              .sortWithinPartitions("url"))
    return stream.mapInPandas(run, schema=schema)
