"""Deterministic in-cluster mention annotator (Spotlight REST replacement).

The reference calls a DBpedia Spotlight HTTP endpoint per paragraph
(/root/reference/parsers/semantic/dbpediaClients.py:21-76,
batchprocessing/semantic/conceptExtraction.py:22-31). There is no network
here, so annotation is re-specified as a deterministic, local computation
against a broadcast gazetteer of surface forms:

* tokens are ``\\w+`` runs (unicode); offsets are Python-str character
  offsets, like Spotlight's ``@offset`` (conceptExtraction.py:29 adds
  paragraph char lengths — char, not byte, arithmetic);
* longest-match-first, non-overlapping, case-insensitive: at each token try
  the longest surface (up to the gazetteer's max token count), on a hit emit
  one mention and continue after it;
* candidate scoring: ``similarity_score = prior / sum(priors of the
  surface's candidates)``; ``percentage_second_rank = sim2 / sim1`` (0.0 when
  unambiguous), mirroring the *shape* of Spotlight's ``@similarityScore`` /
  ``@percentageOfSecondRank`` (dbpediaClients.py:66-73);
* disambiguation picks the max-similarity candidate, ties broken by
  lexicographically smallest URI;
* the mention is kept only when the best similarity >= ``confidence``
  (Spotlight's server-side confidence filter; default 0.5 per
  subprograms/text2vectors.py:134-135);
* ``@types`` is a comma-joined string split on ','; empty -> []
  (dbpediaClients.py:63-64).

``GazetteerMatcher.match_doc_spans`` is the one per-document span walk;
the staged (operators/annotate.py) and fused (operators/fused.py)
annotators both project it. ``annotate`` (one paragraph) serves the oracle.

Pure Python + tiny dicts: safe and cheap inside Arrow-batched
``mapInPandas`` workers with the gazetteer shipped once per executor via
``SparkContext.broadcast``.
"""
from __future__ import annotations

import re
from typing import Dict, Iterator, List, Tuple

__all__ = ["GazetteerMatcher", "Mention", "matcher_config"]

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)

# Above this many distinct first tokens the prescan alternation's compile and
# scan cost outweighs per-token dict probing (which is the right shape for
# dense-hit vocabularies anyway), so _match_spans falls back to it.
_PRESCAN_MAX_FIRST_TOKENS = 2048

# Mention tuple fields (kept a plain tuple for Arrow friendliness):
# (offset, surface, uri, types_list, similarity, psr, support, n_candidates)
Mention = Tuple[int, str, str, List[str], float, float, int, int]


def _check_policy(policy: str) -> None:
    if policy not in ("whitelist", "blacklist"):
        raise ValueError(f"policy must be 'whitelist' or 'blacklist', "
                         f"got {policy!r}")


def matcher_config(rows, confidence: float = 0.5, support: int = None,
                   types=None, policy: str = "whitelist") -> dict:
    """``GazetteerMatcher(**config)`` arguments as a plain dict to broadcast
    (matchers are built per worker); a bad policy fails here, at plan-build
    time, not inside an executor UDF."""
    _check_policy(policy)
    return {"rows": list(rows), "confidence": confidence, "support": support,
            "types": list(types) if types else None, "policy": policy}


class GazetteerMatcher:
    """Longest-match gazetteer annotator over one paragraph at a time.

    Besides ``confidence``, the reference's ``annotate()`` forwards
    ``support``, ``types`` and ``policy`` to Spotlight
    (dbpediaClients.py:34-51); they are re-specified locally:

    * ``support``: candidates whose gazetteer support is below the threshold
      are dropped before disambiguation (Spotlight's Lucene-prominence
      filter);
    * ``types`` + ``policy``: with ``policy='whitelist'`` only candidates
      carrying at least one of the given type strings survive; with
      ``'blacklist'`` only candidates carrying none (dbpediaClients.py:43-45).

    Filtering is applied to the candidate set; similarity scores stay
    normalized over the surface's FULL candidate set (the priors are a
    property of the surface, not of the filter), and the confidence check
    applies to the best *surviving* candidate.
    """

    def __init__(self, rows, confidence: float = 0.5, support: int = None,
                 types: List[str] = None, policy: str = "whitelist"):
        """rows: iterable of (surface, uri, support, prior, spotlight_types_csv)."""
        _check_policy(policy)
        self.confidence = confidence
        self.support = support
        self.types = set(types) if types else None
        self.policy = policy
        index: Dict[str, List[Tuple[str, int, float, str]]] = {}
        max_len = 1
        for surface, uri, support, prior, types_csv in rows:
            key = surface.lower()
            index.setdefault(key, []).append((uri, int(support), float(prior), types_csv))
            max_len = max(max_len, key.count(" ") + 1)
        self.index = index
        self.max_tokens = max_len
        # first-token -> longest surface (in tokens) starting with it: lets
        # _match_spans skip a position with ONE dict probe when no surface
        # can possibly start there (the overwhelmingly common case), instead
        # of joining max_tokens candidate keys. Pure speedup — any match at
        # position i must start with tokens[i], and its length is bounded by
        # this map, so the accept/reject decisions are unchanged.
        self._first_tok_max: Dict[str, int] = {}
        for key in index:
            first = key.split(" ", 1)[0]
            ntok = key.count(" ") + 1
            if ntok > self._first_tok_max.get(first, 0):
                self._first_tok_max[first] = ntok
        # C-level prescan: ONE compiled alternation finds every character
        # position where any surface could start, so Python tokenizes only
        # around those hits instead of materializing every paragraph token.
        # Sound only when every first token is ASCII: for ASCII keys the set
        # of characters whose str.lower() maps into the key is exactly the
        # IGNORECASE equivalence class (A-Z/a-z plus U+212A for 'k'), so the
        # scan has no false negatives; false positives (e.g. 'İ' matching an
        # 'i' pattern mid-fold) are re-checked with the same .lower() probe
        # the fallback path uses. Length-desc alternation + (?<!\w)/(?!\w)
        # guards make each hit a complete \w+ run equal to a first token.
        firsts = sorted(self._first_tok_max, key=len, reverse=True)
        if firsts and len(firsts) <= _PRESCAN_MAX_FIRST_TOKENS and \
                all(k.isascii() for k in firsts):
            self._prescan_re = re.compile(
                r"(?<!\w)(?:" + "|".join(re.escape(k) for k in firsts)
                + r")(?!\w)", re.IGNORECASE)
        else:
            self._prescan_re = None
        # Precompute per-surface scored candidates (deterministic order).
        self._scored: Dict[str, List[Tuple[float, str, int, str, float]]] = {}
        for key, cands in index.items():
            total = sum(prior for _, _, prior, _ in cands) or 1.0
            scored = sorted(
                ((prior / total, uri, support, types_csv, prior)
                 for uri, support, prior, types_csv in cands),
                key=lambda x: (-x[0], x[1]),
            )
            self._scored[key] = scored
        # Sentinel separator for match_doc_spans: a token that occurs in
        # NO surface (so a multi-token surface can never match across a
        # paragraph boundary through it), wrapped in \x00 (non-word) so it
        # is a complete \w+ run of its own. Deterministic: first candidate
        # not colliding with any key token wins.
        key_tokens = {t for key in index for t in key.split(" ")}
        sent, i = "xqzsep0", 0
        while sent in key_tokens:
            i += 1
            sent = f"xqzsep{i}"
        self._sep = "\x00" + sent + "\x00"
        # Final per-surface disambiguation (best candidate surviving the
        # support/types filters, above the confidence threshold, plus psr
        # and candidate count) is static for a given matcher instance —
        # precompute it so annotate() is one dict probe per span.
        self._best: Dict[str, tuple] = {}
        for key in self._scored:
            scored = self._surviving(key)
            if not scored:
                continue
            best_sim, best_uri, best_support, best_types, _ = scored[0]
            if best_sim < self.confidence:
                continue
            psr = (scored[1][0] / best_sim) if len(scored) > 1 else 0.0
            types = best_types.split(",") if best_types else []
            self._best[key] = (best_uri, types, best_sim, psr,
                               best_support, len(scored))

    def _passes_filters(self, support: int, types_csv: str) -> bool:
        if self.support is not None and support < self.support:
            return False
        if self.types is not None:
            cand_types = set(types_csv.split(",")) if types_csv else set()
            has_match = bool(cand_types & self.types)
            if self.policy == "whitelist" and not has_match:
                return False
            if self.policy == "blacklist" and has_match:
                return False
        return True

    def _surviving(self, key: str):
        scored = self._scored[key]
        if self.support is None and self.types is None:
            return scored
        return [c for c in scored if self._passes_filters(c[2], c[3])]

    def annotate(self, paragraph: str) -> Iterator[Mention]:
        """Yield best-candidate mentions, in paragraph order.

        Resolution is one dict probe per matched span: filters, confidence,
        and scoring are instance-constants, so the winning candidate per
        surface is precomputed in ``_best`` at construction (the cached
        types list is shared across mentions — treat it as immutable)."""
        best = self._best
        return ((offset, surface) + best[key] for offset, surface, key
                in self._match_spans(paragraph) if key in best)

    def match_doc_spans(self, paragraphs: List[str]) \
            -> Iterator[Tuple[int, str, str]]:
        """Yield ``(doc_offset, surface, key)`` for every matched span across
        a whole document's paragraphs, kept by disambiguation or not,
        offsets already re-based to document coordinates (P6: cumulative
        paragraph char lengths, conceptExtraction.py:29). The one
        per-document span walk: both annotators project it.

        One prescan/tokenizer pass over the sentinel-joined paragraphs
        replaces one pass per paragraph — testdata paragraphs average ~10
        chars, so per-call regex setup dominated the per-paragraph shape.
        Semantics are unchanged: the joiner is ``\\x00<sentinel>\\x00`` where
        the sentinel token appears in no surface, so (a) no prescan hit can
        start inside it, (b) any multi-token window crossing a boundary
        joins the sentinel into its key and cannot match, exactly like the
        per-paragraph walk that stops at the paragraph end. Emitted in
        document order (tests assert equality with the per-paragraph path).
        """
        sep_len = len(self._sep)
        concat = self._sep.join(paragraphs)
        # concat start of paragraph k; doc offset = concat offset - k*sep_len
        starts: List[int] = []
        pos = 0
        for p in paragraphs:
            starts.append(pos)
            pos += len(p) + sep_len
        k, n_par = 0, len(starts)
        for off, surface, key in self._match_spans(concat):
            while k + 1 < n_par and off >= starts[k + 1]:
                k += 1
            yield (off - k * sep_len, surface, key)

    def annotate_doc_spans(self, paragraphs: List[str]) \
            -> Iterator[Tuple[int, str]]:
        """``(doc_offset, key)`` for every span kept by disambiguation (a
        ``_best`` entry): the projection the fused kernel consumes."""
        best = self._best
        return ((off, key) for off, _surface, key
                in self.match_doc_spans(paragraphs) if key in best)

    def _match_spans(self, paragraph: str):
        if self._prescan_re is not None:
            return self._match_spans_prescan(paragraph)
        return self._match_spans_scan(paragraph)

    def _match_spans_prescan(self, paragraph: str):
        """Prescan variant of _match_spans_scan — identical output.

        Consumption semantics match the token walk: a hit starting before
        the end of the last emitted span lies on a consumed token (tokens
        are disjoint) and is skipped; nothing is consumed on a failed
        longest-match probe, so later hits inside a failed window are still
        tried, exactly like the fallback's i += 1 advance."""
        index = self.index
        first_max = self._first_tok_max
        consumed_end = 0
        for m in self._prescan_re.finditer(paragraph):
            start = m.start()
            if start < consumed_end:
                continue
            key0 = m.group().lower()
            kmax = first_max.get(key0)
            if kmax is None:        # IGNORECASE fold artifact, not a token
                continue
            if kmax == 1:
                if key0 in index:
                    consumed_end = m.end()
                    yield (start, paragraph[start:consumed_end], key0)
                continue
            toks = [(start, m.end(), key0)]
            tm = _TOKEN_RE.search(paragraph, m.end())
            while tm is not None and len(toks) < kmax:
                toks.append((tm.start(), tm.end(), tm.group().lower()))
                tm = _TOKEN_RE.search(paragraph, tm.end())
            for k in range(len(toks), 0, -1):
                key = key0 if k == 1 else " ".join(t[2] for t in toks[:k])
                if key in index:
                    consumed_end = toks[k - 1][1]
                    yield (start, paragraph[start:consumed_end], key)
                    break

    def _match_spans_scan(self, paragraph: str):
        tokens = [(m.start(), m.end(), m.group().lower())
                  for m in _TOKEN_RE.finditer(paragraph)]
        i, n = 0, len(tokens)
        first_max = self._first_tok_max
        index = self.index
        while i < n:
            kmax = first_max.get(tokens[i][2])
            if kmax is None:           # no surface starts with this token
                i += 1
                continue
            hit = None
            for k in range(min(kmax, n - i), 0, -1):
                key = " ".join(t[2] for t in tokens[i:i + k])
                if key in index:
                    hit = (k, key)
                    break
            if hit is None:
                i += 1
                continue
            k, key = hit
            start = tokens[i][0]
            end = tokens[i + k - 1][1]
            yield (start, paragraph[start:end], key)
            i += k
