"""M1-M10 vectorization: Spark vs oracle, plus networkx cross-checks."""
import math
import warnings

import networkx as nx
import numpy as np
import pytest

from pysemanticcomplexity_spark import FEATURE_COLUMNS, fixtures, ref_semantics as R
from pysemanticcomplexity_spark.ontology import OntologyIndex


def _close(a, b, tol=1e-9):
    """None and NaN both mean 'undefined' (Arrow ships NaN as null)."""
    a_und = a is None or (isinstance(a, float) and math.isnan(a))
    b_und = b is None or (isinstance(b, float) and math.isnan(b))
    if a_und or b_und:
        return a_und and b_und
    return abs(a - b) < tol


def test_features_match_oracle(pipeline_result, oracle60):
    _, _, _, ref_vectors = oracle60
    got = {r["filename"]: [r[c] for c in FEATURE_COLUMNS[1:]]
           for r in pipeline_result.features.collect()}
    assert set(got) == set(ref_vectors)
    for url, ref_v in ref_vectors.items():
        for i, (a, b) in enumerate(zip(got[url], ref_v)):
            assert _close(a, b), (url, FEATURE_COLUMNS[1 + i], a, b)


def test_metrics_vs_networkx(oracle60, pages60):
    """radius/diameter/assortativity/density of our BFS code == networkx."""
    concepts, info, _, _ = oracle60
    onto_idx = OntologyIndex([(c, p) for c, p, _ in fixtures.ontology_edges()])
    warnings.filterwarnings("ignore")
    checked = 0
    for p in pages60:
        c = concepts[p["url"]]
        if not c["mentions"]:
            continue
        g = R.build_graph(c, info, onto_idx)
        Gx = nx.Graph()
        Gx.add_nodes_from(g.nodes)
        for e in g.edges:
            pair = tuple(e)
            Gx.add_edge(pair[0], pair[-1])
        eccs = R._eccentricities(g)
        assert min(eccs) == nx.radius(Gx)
        assert max(eccs) == nx.diameter(Gx)
        a_nx = nx.degree_assortativity_coefficient(Gx)
        a_me = R._assortativity(g)
        assert (np.isnan(a_nx) and np.isnan(a_me)) or abs(a_nx - a_me) < 1e-9
        assert abs(nx.density(Gx) - R._density(len(g.nodes), len(g.edges))) < 1e-12
        checked += 1
    assert checked >= 20


def test_empty_graph_vector():
    g = R.DocGraph(nb_words=0)
    v = R.vectorize_graph(g)
    names = FEATURE_COLUMNS[1:]
    d = dict(zip(names, v))
    assert d["nbWord"] == 0 and d["nbConcepts"] == 0
    assert math.isnan(d["conceptsWordsRatio"])           # documented divergence
    assert d["radius"] == 0 and d["diameter"] == 0
    assert d["density"] == 1.0                           # tranformers.py:102 N<=1
    assert math.isnan(d["textDensityMean"])
    assert d["nbNodes_DBPedia"] == 0 and d["density_DBPedia"] == 1.0


def test_single_resource_graph():
    """One typeless resource: 2 nodes (resource+root), density 1.0... 2/(2*1)=1."""
    g = R.DocGraph(nb_words=10)
    g.add_node("r", resource=True, count=1, offset=0,
               nbTypes=0, nbLinksIn=0, nbLinksOut=0)
    g.add_edge("r", "#AbstractConcept#")
    v = dict(zip(FEATURE_COLUMNS[1:], R.vectorize_graph(g)))
    assert v["nbNodes"] == 2 and v["radius"] == 1 and v["diameter"] == 1
    assert math.isnan(v["assortativity"])                # zero degree variance
    assert math.isnan(v["textDensityMean"])              # <2 resource nodes
    assert v["nbTypesMean"] == 0.0


def test_text_density_formula():
    """Hand-computed textDensity on a 3-resource path graph."""
    g = R.DocGraph(nb_words=100)
    for i, (name, off) in enumerate([("a", 0), ("b", 10), ("c", 40)]):
        g.add_node(name, resource=True, count=1, offset=off,
                   nbTypes=1, nbLinksIn=2, nbLinksOut=3)
    g.add_edge("a", "t")
    g.add_edge("b", "t")
    g.add_edge("c", "t2")
    g.add_edge("t", "#AbstractConcept#")
    g.add_edge("t2", "#AbstractConcept#")
    v = dict(zip(FEATURE_COLUMNS[1:], R.vectorize_graph(g)))
    diameter = v["diameter"]
    pairs = [("a", "b", 2, 10), ("a", "c", 4, 40), ("b", "c", 4, 30)]
    dens = [((dt / 100) ** 2) * math.sqrt(dg / diameter) for _, _, dg, dt in pairs]
    assert _close(v["textDensityMean"], float(np.mean(dens)))
    assert _close(v["textDensityStd"], float(np.std(dens)))


def test_skips_nodes_missing_attrs():
    """Vectorizer skips resource nodes without nbTypes etc. (tranformers.py:146-151)."""
    g = R.DocGraph(nb_words=10)
    g.add_node("a", resource=True, count=1, offset=0,
               nbTypes=4, nbLinksIn=1, nbLinksOut=1)
    g.add_node("b", resource=True, count=1, offset=3)    # enrichment missing
    g.add_edge("a", "#AbstractConcept#")
    g.add_edge("b", "#AbstractConcept#")
    v = dict(zip(FEATURE_COLUMNS[1:], R.vectorize_graph(g)))
    assert v["nbTypesMean"] == 4.0 and v["nbTypesStd"] == 0.0


def test_nb_words_fallback_max_offset():
    """graph attr nb_words missing -> text_len = max resource offset
    (tranformers.py:114-117)."""
    g = R.DocGraph(nb_words=None)
    g.add_node("a", resource=True, count=1, offset=5)
    g.add_node("b", resource=True, count=1, offset=20)
    g.add_edge("a", "b")
    v = dict(zip(FEATURE_COLUMNS[1:], R.vectorize_graph(g)))
    assert v["nbWord"] == -1.0
    # d_t = 15/20, d_g = 1/1 -> density = 0.5625
    assert _close(v["textDensityMean"], 0.5625)
    assert _close(v["textDensityStd"], 0.0)


def _kernel_vector(g):
    """Run the numpy kernel on a DocGraph, mirroring vectorize()'s marshal."""
    from pysemanticcomplexity_spark.operators.vectorize_kernel import compute_features
    node_ids = list(g.nodes)
    is_res = np.array([bool(g.nodes[n].get("resource")) for n in node_ids])

    def attr(name):
        return np.array([float(g.nodes[n][name]) if name in g.nodes[n]
                         else np.nan for n in node_ids])

    edges = [g.directed[e] for e in g.edges]
    return compute_features(
        node_ids, is_res,
        counts=np.nan_to_num(attr("count")),
        offsets=attr("offset"),
        nb_types=attr("nbTypes"),
        nb_links_in=attr("nbLinksIn"),
        nb_links_out=attr("nbLinksOut"),
        edges=edges, nb_words=g.nb_words)


def test_self_loop_matches_oracle():
    """A self-loop (taxonomy C-subClassOf-C or uri==class) adds 2 to its
    node's degree, counts as an edge for density, and contributes its
    (deg, deg) pair to assortativity — nx.Graph semantics on both paths."""
    g = R.DocGraph(nb_words=50)
    g.add_node("a", resource=True, count=2, offset=5,
               nbTypes=1, nbLinksIn=0, nbLinksOut=0)
    g.add_node("b", resource=True, count=1, offset=9,
               nbTypes=2, nbLinksIn=1, nbLinksOut=1)
    g.add_edge("a", "a")
    g.add_edge("a", "b")
    g.add_edge("b", "#AbstractConcept#")
    g.add_edge("a", "#AbstractConcept#")
    ref = R.vectorize_graph(g)
    got = _kernel_vector(g)
    for name, a, b in zip(FEATURE_COLUMNS[1:], got, ref):
        assert _close(a, b), (name, a, b)
    # cross-check degrees vs networkx (self-loop degree = +2)
    Gx = nx.Graph()
    Gx.add_nodes_from(g.nodes)
    for e in g.edges:
        pair = tuple(e)
        Gx.add_edge(pair[0], pair[-1])
    assert dict(Gx.degree()) == g.degree()
    a_nx = nx.degree_assortativity_coefficient(Gx)
    d = dict(zip(FEATURE_COLUMNS[1:], got))
    assert _close(d["assortativity"], float(a_nx))
    assert _close(d["density"], float(nx.density(Gx)))


def test_disconnected_graph_raises_like_oracle():
    g = R.DocGraph(nb_words=10)
    g.add_node("a", resource=True, count=1, offset=1)
    g.add_node("b", resource=True, count=1, offset=2)
    g.add_edge("a", "x")
    g.add_edge("b", "y")          # two components
    with pytest.raises(ValueError, match="disconnected"):
        R.vectorize_graph(g)
    with pytest.raises(ValueError, match="disconnected"):
        _kernel_vector(g)


def test_feature_columns_subset():
    """feature_columns mirrors reference graphs2vectors -on semantics
    (subprograms/graphs2vectors.py:26-47): 19 global columns always, then
    (nbNodes_<ns>, density_<ns>) pairs in canonical managed order regardless
    of argument order; unknown keys fail loudly."""
    import pytest
    from pysemanticcomplexity_spark import (FEATURE_COLUMNS, feature_columns)
    assert feature_columns() == list(FEATURE_COLUMNS)
    assert feature_columns(["Schema", "DBPedia"]) == (
        FEATURE_COLUMNS[:19]
        + ["nbNodes_DBPedia", "density_DBPedia",
           "nbNodes_Schema", "density_Schema"])
    assert feature_columns([]) == FEATURE_COLUMNS[:19]
    with pytest.raises(ValueError, match="dbo"):
        feature_columns(["dbo"])


def test_vectorize_namespace_subset(spark, pipeline_result):
    """vectorize(namespaces=[...]) == column projection of the full run:
    global features are namespace-independent and the kept per-namespace
    pairs are computed on the same subgraphs."""
    from pysemanticcomplexity_spark import feature_columns
    from pysemanticcomplexity_spark.operators import vectorize as V
    cols = feature_columns(["yago"])
    sub = V.vectorize(pipeline_result.nodes, pipeline_result.triples,
                      pipeline_result.doc_words, namespaces=["yago"])
    assert sub.columns == cols
    full = {r["filename"]: r for r in pipeline_result.features.collect()}
    rows = sub.collect()
    assert len(rows) == len(full)
    for r in rows:
        f = full[r["filename"]]
        for c in cols[1:]:
            assert _close(r[c], f[c], 1e-12), (r["filename"], c, r[c], f[c])


def test_resource_nodes_only_features_identical(spark, pipeline_result):
    """features over resource_nodes (the round-6 features path) must equal
    features over the full build_nodes table: the kernel re-adds class/
    root endpoints with the same attribute values."""
    import math

    from pysemanticcomplexity_spark.operators import graph
    from pysemanticcomplexity_spark.operators import vectorize as V

    res = pipeline_result
    full = {r["filename"]: list(r)[1:] for r in
            V.vectorize(res.nodes, res.triples, res.doc_words).collect()}
    slim = {r["filename"]: list(r)[1:] for r in
            V.vectorize(graph.resource_nodes(res.resources), res.triples,
                        res.doc_words).collect()}
    assert set(full) == set(slim)
    for url in full:
        for a, b in zip(full[url], slim[url]):
            au = a is None or (isinstance(a, float) and math.isnan(a))
            bu = b is None or (isinstance(b, float) and math.isnan(b))
            assert (au and bu) or abs(a - b) < 1e-9, (url, a, b)
