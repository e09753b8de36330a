"""S7 annotator + disambiguation variants."""
import pyspark.sql.functions as F
from hypothesis import example, given, settings, strategies as st

from pysemanticcomplexity_spark import fixtures
from pysemanticcomplexity_spark.annotation_core import GazetteerMatcher
from pysemanticcomplexity_spark.operators import annotate, disambiguate

DBR = fixtures.DBR


def _matcher(confidence=0.5):
    return GazetteerMatcher(fixtures.gazetteer(), confidence=confidence)


def test_longest_match_wins():
    m = _matcher()
    out = list(m.annotate("a hash join b"))
    assert len(out) == 1
    off, surface, uri, *_ = out[0]
    assert uri == DBR + "Hash_join" and surface == "hash join" and off == 2


def test_non_overlapping_advance():
    m = _matcher()
    # "hash hash join": first "hash" matches alone, then "hash join"
    uris = [o[2] for o in m.annotate("hash hash join")]
    assert uris == [DBR + "Hash_function", DBR + "Hash_join"]


def test_case_insensitive_and_offset():
    m = _matcher()
    out = list(m.annotate("xx Spark yy"))
    assert out[0][2] == DBR + "Apache_Spark"
    assert out[0][0] == 3 and out[0][1] == "Spark"


_SPAN_WORDS = (["hash", "join", "spark", "HASH", "Join", "SPARK", "xx",
                "the", "İstanbul", "K", "kelvin", "straße", "ς", "σ",
                "merge", "sort", "apache", "a", "1", "_", "hashjoin"]
               + [s for s, *_ in fixtures.GAZETTEER_ROWS[:8]])


@given(st.lists(st.sampled_from(_SPAN_WORDS), min_size=0, max_size=40),
       st.sampled_from([" ", "  ", ", ", "-", ".\n"]))
@settings(max_examples=200, deadline=None)
def test_prescan_matches_token_walk(words, sep):
    """The prescan fast path must emit exactly the spans the full token
    walk emits, on text mixing surfaces, case variants, and the unicode
    case-fold traps (İ, Kelvin sign, ß, final sigma)."""
    m = _matcher()
    assert m._prescan_re is not None            # fixture firsts are ASCII
    text = sep.join(words)
    assert list(m._match_spans_prescan(text)) == \
        list(m._match_spans_scan(text))


# "part" matches but has no _best entry (best similarity 0.4 < 0.5); with
# support=300 "window" and "merge" lose theirs too (support filter)
_DOC_WORDS = _SPAN_WORDS + ["part", "Part", "key", "window", "merge"]


@given(st.lists(st.lists(st.sampled_from(_DOC_WORDS), min_size=0,
                          max_size=12).map(" ".join),
                min_size=0, max_size=8))
@example(["the part", "hash", "join part"])
@example(["window merge", "sort merge join", "part"])
@settings(max_examples=150, deadline=None)
def test_doc_spans_match_per_paragraph_walk(paragraphs):
    """match_doc_spans (one sentinel-joined prescan per document) must
    emit exactly the (doc_offset, surface, key) sequence of the
    per-paragraph _match_spans walk with P6 offset re-basing — including
    spans whose key has no _best entry (what emit='candidates' projects)
    and multi-token surfaces that would span a paragraph boundary (must
    NOT match). Its kept projection, annotate_doc_spans, must equal the
    per-paragraph annotate() walk."""
    for m in (_matcher(), GazetteerMatcher(fixtures.gazetteer(),
                                           confidence=0.5, support=300)):
        all_spans, kept = [], []
        span = 0
        for p in paragraphs:
            all_spans += [(off + span, surface, key)
                          for off, surface, key in m._match_spans(p)]
            kept += [(off + span, surface, uri)
                     for (off, surface, uri, *_rest) in m.annotate(p)]
            span += len(p)
        got = list(m.match_doc_spans(paragraphs))
        assert got == all_spans
        assert [(off, surface, m._best[key][0]) for off, surface, key in got
                if key in m._best] == kept
        assert list(m.annotate_doc_spans(paragraphs)) == \
            [(off, key) for off, _surface, key in got if key in m._best]


def test_non_ascii_gazetteer_falls_back():
    rows = [("straße eins", "http://x/Strasse", 10, 1.0, ""),
            ("spark", "http://x/Spark", 10, 1.0, "")]
    m = GazetteerMatcher(rows, confidence=0.0)
    assert m._prescan_re is None                # non-ASCII first token
    out = list(m.annotate("xx straße eins yy spark"))
    assert [o[2] for o in out] == ["http://x/Strasse", "http://x/Spark"]


def test_ambiguous_resolved_and_confidence_filter():
    m = _matcher()
    # "key": priors .6/.4 -> Primary_key kept with sim 0.6
    out = list(m.annotate("the key is here and the sort is fast"))
    key = [o for o in out if o[1] == "key"][0]
    assert key[2] == DBR + "Primary_key"
    assert abs(key[4] - 0.6) < 1e-12
    assert abs(key[5] - (0.4 / 0.6)) < 1e-12     # percentage_second_rank
    # "part": best sim 0.4 < 0.5 -> suppressed
    assert not list(m.annotate("this part here"))


def test_unicode_offsets_are_char_based():
    m = _matcher()
    out = list(m.annotate("café naïve spark"))
    # char offset 11, not byte offset (conceptExtraction.py:29 uses str chars)
    assert out[0][0] == 11


def test_disambiguation_variants_agree(spark, pages60_df):
    cands = annotate.annotate_pages(spark, pages60_df, fixtures.gazetteer(),
                                    emit="candidates")
    best_local = annotate.annotate_pages(spark, pages60_df, fixtures.gazetteer(),
                                         emit="best")

    def key_set(df):
        return {(r["url"], r["offset"], r["uri"]) for r in
                df.filter(F.col("uri") != "").collect()}

    agg = disambiguate.disambiguate_agg(cands)
    app = disambiguate.disambiguate_apply(cands)
    expected = key_set(best_local)
    assert key_set(agg) == expected
    assert key_set(app) == expected


def test_sentinel_rows_cover_all_docs(spark, pages60, pages60_df):
    annotated = annotate.annotate_pages(spark, pages60_df, fixtures.gazetteer())
    _, doc_words = annotate.split_mentions(annotated)
    assert doc_words.count() == len(pages60)


def test_support_and_types_filters(spark):
    """Spotlight-parameter filters (reference dbpediaClients.py:34-51):
    support threshold and whitelist/blacklist type filtering, applied to
    candidate sets before disambiguation; defaults leave behavior unchanged."""
    from pysemanticcomplexity_spark.annotation_core import GazetteerMatcher
    from pysemanticcomplexity_spark.operators.annotate import annotate_pages

    gaz = [
        # one surface, two candidates: popular Place vs obscure Person
        ("paris", "http://dbpedia.org/resource/Paris", 900, 0.9,
         "http://dbpedia.org/ontology/Place"),
        ("paris", "http://dbpedia.org/resource/Paris_Person", 10, 0.1,
         "http://dbpedia.org/ontology/Person"),
    ]
    text = "We flew to Paris yesterday."
    # P3 drops paragraphs <= 150 chars; pad the Spark-path text past it
    long_text = text + " " + "The rest of this paragraph is filler. " * 5

    # core matcher semantics
    m_def = GazetteerMatcher(gaz, confidence=0.05)
    assert [m[2] for m in m_def.annotate(text)] == \
        ["http://dbpedia.org/resource/Paris"]

    m_sup = GazetteerMatcher(gaz, confidence=0.05, support=50)
    got = list(m_sup.annotate(text))
    assert [m[2] for m in got] == ["http://dbpedia.org/resource/Paris"]
    assert got[0][7] == 1               # n_candidates reflects the filter

    m_wl = GazetteerMatcher(gaz, confidence=0.05,
                            types=["http://dbpedia.org/ontology/Person"])
    assert [m[2] for m in m_wl.annotate(text)] == \
        ["http://dbpedia.org/resource/Paris_Person"]

    m_bl = GazetteerMatcher(gaz, confidence=0.05,
                            types=["http://dbpedia.org/ontology/Place"],
                            policy="blacklist")
    assert [m[2] for m in m_bl.annotate(text)] == \
        ["http://dbpedia.org/resource/Paris_Person"]

    # all candidates filtered -> no mention at all
    m_none = GazetteerMatcher(gaz, confidence=0.05, support=10_000)
    assert list(m_none.annotate(text)) == []

    import pytest as _pytest
    with _pytest.raises(ValueError, match="policy"):
        GazetteerMatcher(gaz, policy="allowlist")

    # and through the Spark surface
    from pysemanticcomplexity_spark import schemas
    pages = spark.createDataFrame([("u1", None, None, long_text, "en")],
                                  schemas.PAGES)
    out = annotate_pages(spark, pages, gaz, confidence=0.05,
                         types=["http://dbpedia.org/ontology/Person"])
    uris = [r["uri"] for r in out.filter("offset >= 0").collect()]
    assert uris == ["http://dbpedia.org/resource/Paris_Person"]


def test_filters_preserve_parity_between_paths(spark, dims):
    """Staged and fused paths agree under a support filter."""
    from pysemanticcomplexity_spark.pipeline import KGPipeline
    pages_df = fixtures.spark_pages(spark, 20)
    pipe = KGPipeline(spark, fixtures.gazetteer(), fixtures.ontology_edges(),
                      dims["instance_types"], dims["kb_triples"], support=100)
    t_staged = {(r["url"], r["subj"], r["pred"], r["obj"])
                for r in pipe.run(pages_df).triples.collect()}
    t_fused = {(r["url"], r["subj"], r["pred"], r["obj"])
               for r in pipe.run_fused(pages_df).triples.collect()}
    assert t_staged == t_fused
    # the filter bites: fewer triples than the unfiltered pipeline
    pipe0 = KGPipeline(spark, fixtures.gazetteer(), fixtures.ontology_edges(),
                       dims["instance_types"], dims["kb_triples"])
    t_all = {(r["url"], r["subj"], r["pred"], r["obj"])
             for r in pipe0.run(pages_df).triples.collect()}
    assert len(t_staged) < len(t_all)
