"""KG analytics: entity co-occurrence / PMI edges + fixed-point PageRank.

Oracle strategy (SURVEY.md §5): brute-force pure-Python replicas of both
operators' exact integer semantics, compared EXACTLY (the operators'
determinism contract is bitwise, so the tests can demand equality, not
tolerance).
"""
import math

import pyspark.sql.functions as F
import pytest

from pysemanticcomplexity_spark import plans
from pysemanticcomplexity_spark.operators.kg_analytics import (
    PAGERANK_SCALE, entity_cooccurrence, pagerank_fixed_point,
    undirected_edges)

MENTIONS = [
    # doc, uri, occurrences
    ("d1", "u_a", 3), ("d1", "u_b", 1), ("d1", "u_c", 2),
    ("d2", "u_a", 1), ("d2", "u_b", 5),
    ("d3", "u_a", 2), ("d3", "u_c", 1), ("d3", "u_d", 1),
    ("d4", "u_d", 4),
    ("d5", "u_b", 1), ("d5", "u_a", 1),
]


def _mentions_df(spark):
    return spark.createDataFrame(
        MENTIONS, "doc_id string, uri string, occurrences long")


def _py_cooc(rows, max_per_doc=None):
    """Brute-force doc-level co-occurrence + PMI over (doc, uri, occ)."""
    by_doc = {}
    for d, u, o in rows:
        by_doc.setdefault(d, {})
        by_doc[d][u] = by_doc[d].get(u, 0) + o
    if max_per_doc is not None:
        by_doc = {d: dict(sorted(us.items(), key=lambda kv: (-kv[1], kv[0]))
                          [:max_per_doc])
                  for d, us in by_doc.items()}
    n_corpus = len(by_doc)
    df = {}
    for us in by_doc.values():
        for u in us:
            df[u] = df.get(u, 0) + 1
    pairs = {}
    for us in by_doc.values():
        ks = sorted(us)
        for i, a in enumerate(ks):
            for b in ks[i + 1:]:
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
    out = {}
    for (a, b), n in pairs.items():
        ratio = float(n * n_corpus) / (df[a] * df[b])
        out[(a, b)] = (n, df[a], df[b], ratio)
    return out


def test_cooccurrence_matches_bruteforce(spark):
    got = {(r["src"], r["dst"]): (r["n_docs"], r["df_src"], r["df_dst"],
                                  r["pmi_ratio"], r["pmi"])
           for r in entity_cooccurrence(_mentions_df(spark)).collect()}
    want = _py_cooc(MENTIONS)
    assert set(got) == set(want)
    for k, (n, dfs, dfd, ratio) in want.items():
        gn, gdfs, gdfd, gratio, gpmi = got[k]
        assert (gn, gdfs, gdfd) == (n, dfs, dfd)
        assert gratio == ratio            # exact: one IEEE division
        assert gpmi == pytest.approx(math.log(ratio), rel=1e-12)


def test_cooccurrence_max_per_doc_cap(spark):
    got = {(r["src"], r["dst"]): r["n_docs"]
           for r in entity_cooccurrence(_mentions_df(spark),
                                        max_per_doc=2).collect()}
    want = {k: v[0] for k, v in _py_cooc(MENTIONS, max_per_doc=2).items()}
    assert got == want
    # d1 keeps (u_a:3, u_c:2) so (u_a,u_b) only pairs via d2/d5
    assert got[("u_a", "u_c")] == 2 and got[("u_a", "u_b")] == 2


def test_cooccurrence_min_docs_filter(spark):
    got = entity_cooccurrence(_mentions_df(spark), min_docs=2)
    assert {(r["src"], r["dst"]) for r in got.collect()} == \
        {(a, b) for (a, b), v in _py_cooc(MENTIONS).items() if v[0] >= 2}


def test_cooccurrence_df_join_is_broadcast(spark):
    assert plans.has_broadcast_join(entity_cooccurrence(_mentions_df(spark)))


def test_cooccurrence_rejects_bad_cap(spark):
    with pytest.raises(ValueError, match="max_per_doc"):
        entity_cooccurrence(_mentions_df(spark), max_per_doc=0)


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def _py_pagerank(edges, iters, num=17, den=20, scale=PAGERANK_SCALE):
    """Pure-Python replica of the fixed-point semantics, incl. dangling."""
    edges = sorted({(s, d) for s, d in edges})
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (den - num) * scale // den
    rank = {v: scale for v in nodes}
    for _ in range(iters):
        dangling = sum(r for v, r in rank.items() if v not in outdeg)
        share = num * dangling // (den * n)
        nxt = {v: base + share for v in nodes}
        for s, d in edges:
            nxt[d] += num * rank[s] // (den * outdeg[s])
        rank = nxt
    return rank


DIRECTED = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
DANGLING = [("a", "b"), ("a", "c"), ("b", "sink"), ("c", "sink")]


@pytest.mark.parametrize("edges,iters", [
    (DIRECTED, 0), (DIRECTED, 1), (DIRECTED, 5),
    (DANGLING, 4),                       # 'sink' has outdeg 0
])
def test_pagerank_matches_python_reference(spark, edges, iters):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["uri"]: (r["rank"], r["rank_norm"])
           for r in pagerank_fixed_point(df, iters=iters).collect()}
    want = _py_pagerank(edges, iters)
    assert {u: r for u, (r, _) in got.items()} == want
    n = len(want)
    for u, (r, norm) in got.items():
        assert norm == r / float(n * PAGERANK_SCALE)   # exact division


def test_pagerank_bitwise_deterministic_across_partitionings(spark):
    df = spark.createDataFrame(DIRECTED * 3, "src string, dst string")
    a = pagerank_fixed_point(df.repartition(1), iters=4).collect()
    b = pagerank_fixed_point(df.repartition(7, "dst"), iters=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pagerank_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches the per-round localCheckpoint(eager=False)
    to reliable checkpoints, which always materialize: same ranks as the
    no-dir run, and the checkpoint directory is actually written."""
    import os
    df = spark.createDataFrame(DANGLING + DIRECTED, "src string, dst string")
    ckdir = str(tmp_path / "ck")
    want = sorted(map(tuple, pagerank_fixed_point(df, iters=4).collect()))
    got = sorted(map(tuple, pagerank_fixed_point(
        df, iters=4, checkpoint_dir=ckdir).collect()))
    assert got == want
    assert os.listdir(ckdir), "reliable checkpoint dir should be non-empty"


def test_pagerank_mass_approximately_conserved(spark):
    df = spark.createDataFrame(DIRECTED, "src string, dst string")
    out = pagerank_fixed_point(df, iters=6)
    total = out.agg(F.sum("rank_norm")).collect()[0][0]
    # truncation loses at most (n_edges + n_nodes) units per iteration
    assert 0.999 <= total <= 1.0


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string")
    out = pagerank_fixed_point(df, iters=3)
    assert out.count() == 0
    assert out.columns == ["uri", "rank", "rank_norm"]


def test_pagerank_validates_params(spark):
    df = spark.createDataFrame(DIRECTED, "src string, dst string")
    with pytest.raises(ValueError, match="iters"):
        pagerank_fixed_point(df, iters=-1)
    with pytest.raises(ValueError, match="damping"):
        pagerank_fixed_point(df, damping_num=20, damping_den=20)


def test_undirected_edges_have_no_dangling(spark):
    cooc = entity_cooccurrence(_mentions_df(spark))
    edges = undirected_edges(cooc)
    srcs = {r["src"] for r in edges.select("src").distinct().collect()}
    dsts = {r["dst"] for r in edges.select("dst").distinct().collect()}
    assert srcs == dsts


def test_entity_communities_match_union_find(spark):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        entity_communities)
    cooc = entity_cooccurrence(_mentions_df(spark))
    got = {r["uri"]: r["community"]
           for r in entity_communities(cooc, min_ratio=1.0).collect()}
    # python union-find over the same positive-PMI edge set
    edges = [(a, b) for (a, b), (n, dfs, dfd, ratio) in
             _py_cooc(MENTIONS).items() if ratio > 1.0]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {u: find(u) for e in edges for u in e}
    assert got == want
    assert len(got) > 0              # the fixture graph has positive edges


def test_pagerank_over_cooccurrence_end_to_end(spark):
    """Hub entity u_a (3 docs, ties to everything) outranks the leaf u_d."""
    cooc = entity_cooccurrence(_mentions_df(spark))
    ranks = {r["uri"]: r["rank"]
             for r in pagerank_fixed_point(undirected_edges(cooc),
                                           iters=3).collect()}
    assert ranks["u_a"] > ranks["u_d"]
    edges = [(r["src"], r["dst"]) for r in undirected_edges(cooc).collect()]
    assert ranks == _py_pagerank(edges, 3)


def test_cooccurrence_ignores_null_docs(spark):
    """NULL doc ids can't form pairs, so they must not inflate N or df
    (the SQL oracle's count(DISTINCT doc_id) ignores NULLs)."""
    with_null = spark.createDataFrame(
        MENTIONS + [(None, "u_a", 9)], "doc_id string, uri string, occurrences long")
    clean = entity_cooccurrence(_mentions_df(spark)).collect()
    dirty = entity_cooccurrence(with_null).collect()
    assert sorted(map(tuple, clean)) == sorted(map(tuple, dirty))


# ---------------------------------------------------------------------------
# negative sampling
# ---------------------------------------------------------------------------

TRIPLES = [
    ("e1", "likes", "e2"), ("e1", "likes", "e3"), ("e2", "knows", "e3"),
    ("e3", "likes", "e4"), ("e4", "knows", "e1"), ("e2", "likes", "e4"),
]


def _py_negatives(triples, k, filter_positives=True):
    from pysemanticcomplexity_spark.operators.dedup import (
        POLY_MOD, POLY_SCATTER_A, POLY_SCATTER_B)

    def poly(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % POLY_MOD
        return (((h * POLY_SCATTER_A + POLY_SCATTER_B) % POLY_MOD)
                * ((h * 1_000_003 + 17) % POLY_MOD)) % POLY_MOD

    pos = sorted(set(triples))
    vocab = sorted({s for s, _, _ in pos} | {o for _, _, o in pos})
    out = set()
    for s, p, o in pos:
        for i in range(1, k + 1):
            neg = vocab[poly(f"{s}|{p}|{o}|{i}") % len(vocab)]
            if filter_positives and (s, p, neg) in set(pos):
                continue
            out.add((s, p, o, i, neg))
    return out


@pytest.mark.parametrize("filt", [True, False])
def test_negative_samples_match_python_replica(spark, filt):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        negative_samples)
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    got = {(r["subj"], r["pred"], r["obj"], r["neg_idx"], r["neg_obj"])
           for r in negative_samples(df, k=3,
                                     filter_positives=filt).collect()}
    want = _py_negatives(TRIPLES, 3, filter_positives=filt)
    assert got == want
    if filt:
        pos = set(TRIPLES)
        assert not {(s, p, n) for s, p, _, _, n in got} & pos


def test_negative_samples_deterministic_and_validated(spark):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        negative_samples)
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    a = negative_samples(df.repartition(1), k=2).collect()
    b = negative_samples(df.repartition(5, "pred"), k=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="k must"):
        negative_samples(df, k=0)


# ---------------------------------------------------------------------------
# triangles / clustering coefficient
# ---------------------------------------------------------------------------

def _py_triangles(edges):
    import itertools
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {u: 0 for u in adj}
    for u in adj:
        for v, w in itertools.combinations(sorted(adj[u]), 2):
            if w in adj[v]:
                tri[u] += 1
    out = {}
    for u in adj:
        d = len(adj[u])
        out[u] = (d, tri[u],
                  (2.0 * tri[u]) / (d * (d - 1)) if d >= 2 else 0.0)
    return out


@pytest.mark.parametrize("edges", [
    [("a", "b"), ("b", "c"), ("a", "c")],                     # one triangle
    [("a", "b"), ("b", "c"), ("c", "d")],                     # path: none
    [("h", f"x{i}") for i in range(12)],                      # star hub
    [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d"),
     ("a", "d"), ("d", "e"), ("e", "f")],                     # K4 + tail
])
def test_triangle_stats_match_bruteforce(spark, edges):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        triangle_stats)
    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "src string, dst string")
    got = {r["uri"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in triangle_stats(df).collect()}
    want = _py_triangles(edges)
    assert got == want


def test_triangle_stats_over_cooccurrence(spark):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        triangle_stats)
    cooc = entity_cooccurrence(_mentions_df(spark))
    got = {r["uri"]: (r["degree"], r["n_triangles"])
           for r in triangle_stats(cooc).collect()}
    edges = [(a, b) for (a, b) in _py_cooc(MENTIONS)]
    want = {u: (d, t) for u, (d, t, _) in _py_triangles(edges).items()}
    assert got == want
    # d1 carries a/b/c together -> at least one closed triangle exists
    assert any(t > 0 for _, t in got.values())


def test_link_prediction_common_neighbors(spark):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        link_prediction_common_neighbors)
    # square a-b-c-d-a: the two diagonals are non-edges with 2 common
    # neighbors each; K3 e-f-g has no non-edge candidates
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),
             ("e", "f"), ("f", "g"), ("e", "g")]
    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "src string, dst string")
    got = {(r["src"], r["dst"]): r["n_common"]
           for r in link_prediction_common_neighbors(df).collect()}
    assert got == {("a", "c"): 2, ("b", "d"): 2}
    # max_degree below the square's degree (2) drops all pivots
    assert link_prediction_common_neighbors(df, max_degree=2).count() == 2
    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_common"):
        link_prediction_common_neighbors(df, min_common=0)
    with _pytest.raises(ValueError, match="max_degree"):
        link_prediction_common_neighbors(df, max_degree=1)


def test_link_prediction_hub_cap_drops_hub_pivots(spark):
    from pysemanticcomplexity_spark.operators.kg_analytics import (
        link_prediction_common_neighbors)
    # star: hub h connects x0..x9; every (xi, xj) shares only the hub
    edges = [(min("h", f"x{i}"), max("h", f"x{i}")) for i in range(10)]
    df = spark.createDataFrame(edges, "src string, dst string")
    full = link_prediction_common_neighbors(df)
    assert full.count() == 45                    # all leaf pairs via hub
    capped = link_prediction_common_neighbors(df, max_degree=5)
    assert capped.count() == 0                   # hub pivot dropped
