"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy + pyarrow (no Spark), so input generation is
timed on its own and never lands in ``setup_s``. Every generator is a pure
function of (seed, size): the same arguments give byte-identical tables.
Outputs are cached under the benchmark work directory, keyed by seed and
size, so repeated runs on one seed skip generation.

Two families:

* ``corpus``: documents shaped like the sf0.1 testdata ``documents``
  table (30-word vocabulary shared with the fixture gazetteer, 10-100 words
  per single-paragraph document, 5% near-duplicates suffixed ``dup``, five
  languages, twenty sources). ``write_documents`` stores it as the
  ``documents.parquet`` the operator queries read; ``write_pages`` turns it
  into a multi-file Common-Crawl-style pages table in seeded row order.
* ``longdoc``: a synthetic knowledge base (a 20k-surface gazetteer whose
  distinct first tokens exceed the matcher's prescan limit, a three-namespace
  ontology DAG of depth 6-10, instance types, and KB triples with a Zipf
  hub entity) plus 2-8 KB multi-paragraph pages with Zipf-drawn mentions.
"""
from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DBR = "http://dbpedia.org/resource/"
NS = {
    "DBPedia": "http://dbpedia.org/ontology/",
    "Schema": "http://schema.org/",
    "yago": "http://dbpedia.org/class/yago/",
}
OWL_THING = "http://www.w3.org/2002/07/owl#Thing"

# The sf0.1 documents vocabulary: every word is either a fixture gazetteer
# surface or a filler, so the fixture KB annotates these pages densely.
CORPUS_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
N_SOURCES = 20
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_EPOCH_US = int(_EPOCH.timestamp() * 1_000_000)


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(meta, f)


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# corpus: sf0.1-shaped documents
# --------------------------------------------------------------------------

def corpus_documents(seed: int, n_docs: int) -> dict:
    """Columns of a documents table (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(CORPUS_VOCAB)
    texts = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(len(vocab), size=n)]))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_documents(root: str, seed: int, n_docs: int) -> str:
    """Cache ``<dir>/documents.parquet``; returns the sf-style directory."""
    path = os.path.join(root, f"docs_s{seed}_n{n_docs}")
    if _done(path):
        return path
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(corpus_documents(seed, n_docs)),
                   os.path.join(path, "documents.parquet"))
    _mark_done(path, {"docs": n_docs})
    return path


def _pages_table(urls, texts, ts_us, langs) -> pa.Table:
    html = [b"<html><body>" + t.encode("utf-8") + b"</body></html>"
            for t in texts]
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


def _write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def write_pages(root: str, seed: int, n_docs: int, n_files: int) -> tuple:
    """Pages table (url, warc_ts, html, text, lang) of the seeded documents,
    in seeded row order across ``n_files`` files. Returns (dir, meta)."""
    path = os.path.join(root, f"pages_s{seed}_n{n_docs}")
    if _done(path):
        return path, _read_meta(path)
    docs = corpus_documents(seed, n_docs)
    order = np.random.default_rng([seed, 2]).permutation(n_docs)
    texts = [docs["text"][i] for i in order]
    table = _pages_table(
        [f"doc://{docs['source'][i]}/{i}" for i in order], texts,
        [_EPOCH_US + int(i) * 1_000_000 for i in order],
        [docs["lang"][i] for i in order])
    _write_files(table, path, n_files)
    meta = {"pages": n_docs,
            "mean_page_bytes": float(np.mean([len(t.encode()) for t in texts]))}
    _mark_done(path, meta)
    return path, meta


# --------------------------------------------------------------------------
# longdoc: synthetic large KB + long pages
# --------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "va", "ze", "bo",
        "du", "fi", "gu", "ha", "je", "ko", "ly", "my", "ny", "po", "qu",
        "ri", "su", "ty", "vi", "wo", "xa", "yo", "zu"]


def _words(rng, n: int, n_syl: int, taken: set) -> list:
    """``n`` distinct pseudo-words of ``n_syl`` syllables not in ``taken``."""
    out = []
    while len(out) < n:
        w = "".join(_SYL[j] for j in rng.integers(len(_SYL), size=n_syl))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def _ontology(rng, n_classes: int) -> list:
    """(child, parent, ns) edges: per namespace a DAG with 1-2 parents per
    class, one root per namespace, depth drawn from 6..10."""
    edges = []
    per_ns = n_classes // len(NS)
    for ns_key, ns in NS.items():
        depth = int(rng.integers(6, 11))
        # class counts per level grow geometrically up to the last level
        weights = np.geomspace(1, 40, depth)
        sizes = np.maximum(1, (weights / weights.sum() * per_ns).astype(int))
        sizes[0] = 1
        levels = []
        cid = 0
        for lvl, size in enumerate(sizes):
            names = [f"{ns}C{ns_key[0]}{cid + j}" for j in range(int(size))]
            cid += int(size)
            if lvl:
                prev = levels[-1]
                for name in names:
                    n_par = 1 + int(rng.random() < 0.25)
                    for p in rng.choice(len(prev), size=min(n_par, len(prev)),
                                        replace=False):
                        edges.append((name, prev[int(p)], ns_key))
            levels.append(names)
    return edges


def longdoc_kb(seed: int, n_surfaces: int, n_classes: int) -> dict:
    """Gazetteer rows (1-3 candidates per surface, 30% with a Spotlight
    type), ontology edges, instance types and KB triples whose objects are
    Zipf-drawn around one hub entity."""
    rng = np.random.default_rng([seed, 3])
    onto = _ontology(rng, n_classes)
    classes = sorted({c for c, _p, _n in onto} | {p for _c, p, _n in onto})
    n_entities = n_surfaces // 2
    entities = [f"{DBR}E{i}" for i in range(n_entities)]
    taken: set = set()
    firsts = _words(rng, max(3000, n_surfaces // 6), 3, taken)
    tails = _words(rng, 1500, 4, taken)
    surfaces: list = []
    seen = set()
    while len(surfaces) < n_surfaces:
        ntok = 1 + int(rng.choice(3, p=[0.5, 0.35, 0.15]))
        toks = [firsts[int(rng.integers(len(firsts)))]] + \
            [tails[int(rng.integers(len(tails)))] for _ in range(ntok - 1)]
        s = " ".join(toks)
        if s not in seen:
            seen.add(s)
            surfaces.append(s)
    gaz = []
    qname = {v: k for k, v in NS.items()}
    for s in surfaces:
        n_cand = 1 + int(rng.choice(3, p=[0.7, 0.2, 0.1]))
        priors = rng.dirichlet(np.ones(n_cand) * 2.0)
        for k in range(n_cand):
            uri = entities[int(rng.integers(n_entities))]
            types = ""
            if rng.random() < 0.3:
                cls = classes[int(rng.integers(len(classes)))]
                for ns, key in qname.items():
                    if cls.startswith(ns):
                        types = f"{key}:{cls[len(ns):]}"
            gaz.append((s, uri, int(rng.integers(1, 5000)), float(priors[k]),
                        types))
    itypes = []
    for e in entities:
        for _ in range(int(rng.choice(4, p=[0.2, 0.4, 0.3, 0.1]))):
            itypes.append((e, classes[int(rng.integers(len(classes)))]))
        if rng.random() < 0.1:
            itypes.append((e, OWL_THING))
    hub = entities[0]
    preds = ["http://dbpedia.org/ontology/wikiPageWikiLink",
             "http://dbpedia.org/ontology/related"]
    zipf = np.minimum(rng.zipf(1.3, size=n_entities * 4), n_entities) - 1
    kb = []
    for j, z in enumerate(zipf):
        subj = entities[int(rng.integers(n_entities))]
        obj = hub if rng.random() < 0.3 else entities[int(z)]
        kb.append((subj, preds[j % 2], obj))
    return {"gazetteer": gaz, "ontology_edges": onto,
            "instance_types": itypes, "kb_triples": kb,
            "n_first_tokens": len({s.split(" ", 1)[0] for s in surfaces}),
            "n_classes": len(classes)}


_FILL = ["the", "of", "and", "a", "to", "in", "is", "was", "for", "on",
         "with", "as", "by", "at", "from", "that", "this", "which", "or",
         "be", "are", "its", "an", "not", "but", "were", "has", "had"]


def longdoc_pages(seed: int, n_pages: int, surfaces: list) -> tuple:
    """Long multi-paragraph pages: 2-8 KB, paragraphs of 150-700 chars,
    ~5% of words replaced by a Zipf-drawn surface. Returns
    (pa.Table, mean_bytes)."""
    rng = np.random.default_rng([seed, 4])
    order = rng.permutation(len(surfaces))
    fill = np.array(_FILL, dtype=object)
    surf = np.array(surfaces, dtype=object)[order]
    urls, texts = [], []
    for i in range(n_pages):
        target = int(rng.integers(2048, 8192))
        n_words = target // 4
        words = fill[rng.integers(len(fill), size=n_words)]
        hit = rng.random(n_words) < 0.05
        z = np.minimum(rng.zipf(1.3, size=int(hit.sum())), len(surf)) - 1
        words[hit] = surf[z]
        ends = np.cumsum([len(w) + 1 for w in words])
        paras, lo, size = [], 0, 0
        while size < target and lo < n_words:
            plen = int(rng.integers(150, 700))
            hi = int(np.searchsorted(ends, ends[lo] - len(words[lo]) + plen))
            hi = min(max(hi, lo + 1), n_words)
            p = " ".join(words[lo:hi])
            paras.append(p)
            size += len(p) + 2
            lo = hi
        texts.append("\n\n".join(paras))
        urls.append(f"https://long{i % 101}.example/p/{seed}/{i}")
    ts = [_EPOCH_US + i * 1_000_000 for i in range(n_pages)]
    langs = ["en"] * n_pages
    mean_bytes = float(np.mean([len(t.encode()) for t in texts]))
    return _pages_table(urls, texts, ts, langs), mean_bytes


def arrange_pages(src: str, dst: str, seed: int, n_files: int) -> str:
    """Write the pages under ``src`` in a seeded row order, split into
    ``n_files`` files (which rows share a Spark task depends on it)."""
    if _done(dst):
        return dst
    table = pq.read_table(src)
    order = np.random.default_rng([seed, 9]).permutation(table.num_rows)
    _write_files(table.take(order), dst, n_files)
    _mark_done(dst, {})
    return dst


def write_longdoc(root: str, seed: int, n_pages: int, n_surfaces: int,
                  n_classes: int, n_files: int) -> tuple:
    """Cache the KB tables and the pages as parquet under one directory.
    Returns (dir, meta)."""
    path = os.path.join(root, f"longdoc_s{seed}_p{n_pages}_g{n_surfaces}")
    if _done(path):
        return path, _read_meta(path)
    kb = longdoc_kb(seed, n_surfaces, n_classes)
    surfaces = sorted({g[0] for g in kb["gazetteer"]})
    table, mean_bytes = longdoc_pages(seed, n_pages, surfaces)
    _write_files(table, os.path.join(path, "pages"), n_files)
    for name, cols in KB_TABLES.items():
        rows = list(zip(*kb[name]))
        pq.write_table(pa.table({c: list(v) for c, v in zip(cols, rows)}),
                       os.path.join(path, f"{name}.parquet"))
    meta = {"pages": n_pages, "mean_page_bytes": mean_bytes,
            "gazetteer_surfaces": len(surfaces),
            "gazetteer_rows": len(kb["gazetteer"]),
            "first_tokens": kb["n_first_tokens"],
            "ontology_classes": kb["n_classes"],
            "instance_types": len(kb["instance_types"]),
            "kb_triples": len(kb["kb_triples"])}
    _mark_done(path, meta)
    return path, meta


KB_TABLES = {
    "gazetteer": ["surface", "uri", "support", "prior", "spotlight_types"],
    "ontology_edges": ["child", "parent", "ns"],
    "instance_types": ["uri", "type_uri"],
    "kb_triples": ["subj", "pred", "obj"],
}


def read_rows(path: str, name: str) -> list:
    """A cached KB table as a list of tuples, in file order."""
    tbl = pq.read_table(os.path.join(path, f"{name}.parquet"))
    return list(zip(*(tbl[c].to_pylist() for c in KB_TABLES[name])))
