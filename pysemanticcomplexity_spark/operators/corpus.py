"""Corpus-level training-data operators: benchmark decontamination and
deterministic stratified sampling.

Neither has a counterpart in the reference (which processes one crawl
corpus end-to-end, `batchprocessing/semantic/conceptExtraction.py`); both
are table-stakes for assembling an LLM training mix at 100 TB, so they are
implemented Spark-first alongside the dedup/quality families:

* ``contamination_flags`` — the standard n-gram decontamination check
  (shared token shingles between corpus documents and a held-out benchmark
  set). The benchmark is tiny relative to the corpus, so its distinct
  shingle set is broadcast and the corpus side is touched in ONE scan +
  ONE aggregation by document id (map-side partial counts); no corpus-side
  self-join ever happens.
* ``stratified_sample`` — reproducible per-stratum subsampling via the
  portable polynomial hash of the document id. A pure filter: no shuffle,
  no RNG state, and the identical keep-set on every engine, cluster
  layout, and rerun — which is what makes a training mix auditable.
"""
from __future__ import annotations

from typing import Dict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .dedup import POLY_MOD, poly_hash_expr, shingles

__all__ = ["contamination_flags", "contamination_flags_rowlocal",
           "pack_sequences", "pack_sequences_split", "chunk_documents",
           "stratified_sample", "upsample_stratified", "training_order",
           "take_token_budget",
           "corpus_prep", "corpus_prep_and_write",
           "SAMPLE_DENOM", "SAMPLE_A", "SAMPLE_B"]

# fraction granularity for stratified_sample: fraction -> integer threshold
SAMPLE_DENOM = 1_000_000
# The raw base-31 char fold has almost no avalanche on short numeric
# suffixes: sequential ids land in contiguous bands mod SAMPLE_DENOM
# (ids in the same thousand-block differ by < 31^3*9), which skews
# threshold sampling catastrophically. One affine LCG step with a large
# multiplier mod POLY_MOD scatters those bands across the full range
# (measured: <= 0.5% absolute rate error on 100k sequential ids at
# fractions 0.1/0.5/0.9). h0 * SAMPLE_A <= ~4e17, far inside int64, so
# the expression is ANSI-overflow-safe in both engines.
SAMPLE_A = 387_420_489
SAMPLE_B = 998_244_353
# Most distinct benchmark shingles contamination_flags_rowlocal collects to
# the driver. The set is held as a Python set by the driver and by every
# Python worker (one per core) and shipped as a pickled broadcast: a 3-gram
# of ~18 chars costs ~104 B in a set and ~24 B pickled (measured on 1M
# shingles), so this cap is ~100 MB per process and ~25 MB of broadcast.
# A benchmark of thousands of documents stays far below it; larger
# benchmark sets belong to contamination_flags, which broadcast-joins them
# in the JVM.
MAX_ROWLOCAL_SHINGLES = 1_000_000


def contamination_flags(docs: DataFrame, benchmark: DataFrame,
                        n: int = 3, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-document benchmark contamination over distinct token n-gram
    shingles (same normalization/shingling as the dedup family).

    Returns one row per input document:
    ``(id, n_shingles, n_contaminated, contamination)`` where
    ``contamination = n_contaminated / n_shingles`` (0.0 for documents with
    fewer than ``n`` tokens, which have no shingles).

    Scale shape: benchmark shingles are collected to a broadcast hash
    relation (benchmarks are thousands of rows against a 100 TB corpus);
    corpus shingles are marked with a broadcast LEFT join and reduced with
    one map-side-combinable groupBy(id), so the corpus crosses the network
    once, keyed by document id. The final zero-fill join against the id
    universe reuses the same id key.
    """
    doc_sh = shingles(docs, id_col=id_col, text_col=text_col, n=n)
    bench_sh = (shingles(benchmark, id_col=id_col, text_col=text_col, n=n)
                .select("shingle").distinct()
                .withColumn("_hit", F.lit(1)))
    per_doc = (doc_sh.join(F.broadcast(bench_sh), "shingle", "left")
               .groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated")))
    ids = docs.select(F.col(id_col).alias("id"))
    return (ids.join(per_doc, "id", "left")
            .select(
                "id",
                F.coalesce("n_shingles", F.lit(0)).cast("long")
                 .alias("n_shingles"),
                F.coalesce("n_contaminated", F.lit(0)).cast("long")
                 .alias("n_contaminated"),
                F.when(F.coalesce("n_shingles", F.lit(0)) > 0,
                       F.col("n_contaminated") / F.col("n_shingles"))
                 .otherwise(F.lit(0.0)).cast("double")
                 .alias("contamination")))


def contamination_flags_rowlocal(docs: DataFrame, benchmark: DataFrame,
                                 n: int = 3, id_col: str = "doc_id",
                                 text_col: str = "text",
                                 passthrough: bool = False) -> DataFrame:
    """ZERO-shuffle variant of ``contamination_flags``: per-document
    contamination is row-local once the benchmark shingle set is known, so
    the set is collected (at most ``MAX_ROWLOCAL_SHINGLES``, else
    ``ValueError``) and broadcast into an Arrow-batched kernel — the corpus
    is scanned once and never shuffled, and the operator is stateless,
    which also makes it legal mid-stream in Structured Streaming (no
    aggregation state, no watermark needed).

    Semantics match ``contamination_flags`` (same normalization /
    shingling / zero-fill), asserted by an equality test; the python-side
    normalization mirrors the JVM expression for ASCII whitespace (the
    synthetic corpora and web text after P1 cleaning; exotic unicode
    whitespace classes differ between Java and Python regexes and are out
    of scope, documented here).

    ``passthrough=True`` keeps every input column and appends the three
    flag columns instead of projecting to (id, flags) — the shape a
    filter stage in a (streaming) pipeline needs.
    """
    import re as _re

    import pandas as pd

    from .dedup import shingles as _shingles

    rows = (_shingles(benchmark, id_col=id_col, text_col=text_col, n=n)
            .select("shingle").distinct()
            .limit(MAX_ROWLOCAL_SHINGLES + 1).collect())
    if len(rows) > MAX_ROWLOCAL_SHINGLES:
        raise ValueError(
            f"contamination_flags_rowlocal: the benchmark has more than "
            f"{MAX_ROWLOCAL_SHINGLES} distinct {n}-gram shingles; use "
            f"contamination_flags, which joins them in the JVM instead of "
            f"collecting them to the driver")
    bench = {r["shingle"] for r in rows}
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(bench)
    ws = _re.compile(r"\s+", _re.ASCII)

    def run(batches):
        bset = bc.value
        for pdf in batches:
            nsh, ncon, frac = [], [], []
            for text in pdf[text_col]:
                # mirror the JVM order exactly: lower -> trim (SPACES
                # only, like Spark/DuckDB trim — python .strip() would
                # also eat \t/\n edges and change the shingle set) ->
                # collapse \s+ (ASCII) -> split, keeping empty edge tokens
                toks = ws.sub(" ", (text or "").lower().strip(" ")).split(" ")
                if len(toks) >= n:
                    sh = {" ".join(toks[k:k + n])
                          for k in range(len(toks) - n + 1)}
                    sh.discard("")
                else:
                    sh = set()
                hit = sum(1 for s in sh if s in bset)
                nsh.append(len(sh))
                ncon.append(hit)
                frac.append(hit / len(sh) if sh else 0.0)
            if passthrough:
                out = pdf.copy().reset_index(drop=True)
            else:
                out = pd.DataFrame({"id": pdf[id_col].astype("int64")})
            out["n_shingles"] = pd.Series(nsh, dtype="int64")
            out["n_contaminated"] = pd.Series(ncon, dtype="int64")
            out["contamination"] = pd.Series(frac, dtype="float64")
            yield out

    flags = "n_shingles long, n_contaminated long, contamination double"
    if passthrough:
        in_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                              for f in docs.schema.fields)
        return docs.mapInPandas(run, schema=f"{in_schema}, {flags}")
    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        run, schema=f"id long, {flags}")


def pack_sequences(docs: DataFrame, capacity: int,
                   id_col: str = "doc_id", token_col: str = "n_tokens",
                   num_ranges: int = 64) -> DataFrame:
    """Assign documents to fixed-capacity training packs (sequence packing
    for context windows): documents in ``id_col`` order fill packs
    greedily, ``pack_id = floor(tokens_before / capacity)`` where
    ``tokens_before`` is the exclusive prefix sum of ``token_col``. A
    document starting inside pack k belongs to pack k even if it runs past
    the boundary (packs can overflow by up to one document; split/pad
    policy is the trainer's concern, the assignment is what must be
    deterministic and engine-independent).

    Returns (id, n_tokens, tokens_before, pack_id).

    Scale shape: the naive formulation is a global ORDER BY window — ONE
    partition, dead at 100 TB. Here the prefix sum is two-phase over
    VALUE-based id buckets (boundaries from driver-side approxQuantile, so
    both passes see identical buckets — no reliance on shuffle-sampling
    determinism): per-bucket token totals are collected (num_ranges rows)
    and turned into bucket starting offsets on the driver, then a
    bucket-local cumulative sum (Window partitioned by bucket — parallel
    across buckets) plus the literal offset. Two passes over two narrow
    columns, no single-partition stage.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    from functools import reduce

    from pyspark.sql import Window

    # NULL ids cannot be range-bucketed or ordered (they would surface as
    # a None bucket key in the driver-side offset sort) — dropped, the
    # same policy as training_order / take_token_budget
    base = docs.select(F.col(id_col).alias("id"),
                       F.col(token_col).alias("n_tokens")) \
        .filter(F.col("id").isNotNull())
    probs = [i / num_ranges for i in range(1, num_ranges)]
    bounds = sorted(set(base.stat.approxQuantile("id", probs, 0.01)))
    if bounds:
        bucket = reduce(lambda a, b: a + b,
                        [(F.col("id") > F.lit(b)).cast("int")
                         for b in bounds])
    else:
        bucket = F.lit(0)
    bucketed = base.withColumn("_bkt", bucket)
    totals = {r["_bkt"]: r["tot"] for r in
              bucketed.groupBy("_bkt").agg(F.sum("n_tokens").alias("tot"))
              .collect()}
    # buckets are id-ordered by value, so sorted-key prefix sums are the
    # global offsets
    off_expr = _offset_expr(_cumulative_offsets(totals),
                            lambda b: F.col("_bkt") == b)
    win = Window.partitionBy("_bkt").orderBy("id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (bucketed
            .withColumn("tokens_before",
                        (off_expr + F.sum("n_tokens").over(win)
                         - F.col("n_tokens")).cast("long"))
            .withColumn("pack_id",
                        F.floor(F.col("tokens_before") / capacity)
                        .cast("long"))
            .drop("_bkt"))


def pack_sequences_split(docs: DataFrame, capacity: int,
                         id_col: str = "doc_id", token_col: str = "n_tokens",
                         num_ranges: int = 64) -> DataFrame:
    """The split-at-boundary packing policy trainers actually use: the
    global token stream (documents in ``id_col`` order) is cut every
    ``capacity`` tokens, and a document crossing a cut is SPLIT — each part
    is emitted as its own row with the token range it contributes, so every
    pack holds exactly ``capacity`` tokens (except the final pack).

    Returns (id, n_tokens, part_idx, pack_id, tok_start, tok_len):
    ``tok_start`` is the part's offset within the document's own tokens,
    parts are contiguous (part k+1 starts where part k ended) and sum to
    ``n_tokens``. Zero-token documents contribute no parts.

    Scale shape: ``pack_sequences``'s two-phase bucketed prefix sum gives
    ``tokens_before``; the split itself is a closed form over it —
    first/last pack index from integer division, one ``explode(sequence)``
    per document (rows out = parts, bounded by n_tokens/capacity + 1). No
    additional shuffle beyond the prefix sum's bucket window.
    """
    base = pack_sequences(docs, capacity, id_col=id_col,
                          token_col=token_col, num_ranges=num_ranges)
    tb, n = F.col("tokens_before"), F.col("n_tokens")
    first = F.floor(tb / capacity)
    last = F.floor((tb + n - 1) / capacity)
    parts = (base.filter(n > 0)
             .withColumn("pack_id", F.explode(F.sequence(first, last))))
    p = F.col("pack_id")
    tok_start = F.greatest(p * capacity - tb, F.lit(0))
    tok_end = F.least((p + 1) * capacity - tb, n)
    return parts.select(
        "id", "n_tokens",
        (p - first).cast("long").alias("part_idx"),
        p.cast("long").alias("pack_id"),
        tok_start.cast("long").alias("tok_start"),
        (tok_end - tok_start).cast("long").alias("tok_len"))


def chunk_documents(docs: DataFrame, size: int, stride: int = None,
                    id_col: str = "doc_id",
                    token_col: str = "n_tokens") -> DataFrame:
    """Sliding-window chunking (the embedding / long-context preprocessing
    companion to packing): each document yields windows of ``size`` tokens
    starting every ``stride`` tokens (default: no overlap, stride=size);
    the final window is the remainder (no padding — the trainer's concern).
    A document shorter than ``size`` yields exactly one chunk.

    Standard stop-once-covered sliding-window semantics: no window starts
    once the previous one already reaches the document end, so the tail is
    never emitted twice (n=10, size=8, stride=4 -> [0,8), [4,10) — not a
    redundant [8,10) fully contained in its predecessor).

    Returns (id, chunk_idx, tok_start, tok_len). Pure explode(sequence) —
    row-local, no shuffle, streaming-legal; rows out are bounded by
    1 + ceil(max(0, n_tokens - size) / stride) per document.
    """
    if size <= 0:
        raise ValueError(f"size must be positive, got {size}")
    stride = size if stride is None else stride
    if not 0 < stride <= size:
        raise ValueError(f"stride must be in (0, size], got {stride}")
    n = F.col("n_tokens")
    # last start: largest k*stride with k*stride + size - stride < n, i.e.
    # strictly below max(1, n - size + stride) (docs with n=0 yield none)
    last = F.floor((F.greatest(n - size + stride, F.lit(1)) - 1)
                   / stride) * stride
    base = docs.select(F.col(id_col).alias("id"),
                       F.col(token_col).alias("n_tokens"))
    starts = (base.filter(n > 0)
              .withColumn("tok_start",
                          F.explode(F.sequence(F.lit(0), last,
                                               F.lit(stride)))))
    return starts.select(
        "id",
        (F.col("tok_start") / stride).cast("long").alias("chunk_idx"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.least(F.lit(size), n - F.col("tok_start")).cast("long")
        .alias("tok_len"))


def stratified_sample(docs: DataFrame, fractions: Dict[str, float],
                      strata_col: str = "source", id_col: str = "doc_id",
                      default_fraction: float = 0.0,
                      salt: str = "mix:") -> DataFrame:
    """Keep each row iff ``((poly(salt || id) * SAMPLE_A + SAMPLE_B) %
    POLY_MOD) % SAMPLE_DENOM`` falls below its stratum's fraction threshold
    — a deterministic, engine-portable Bernoulli sample per stratum
    (fractions are quantized to 1/SAMPLE_DENOM; see SAMPLE_A's comment for
    why the affine finishing step is required).

    Strata absent from ``fractions`` get ``default_fraction`` (0.0 by
    default, i.e. they are dropped — the training-mix composition case).
    Changing ``salt`` draws an independent sample; keeping it fixed makes
    the mix exactly reproducible anywhere the poly hash runs.

    Scale shape: a single ``Filter`` over the scan — no shuffle, no driver
    state; the stratum equality predicates remain eligible for partition
    pruning when the table is partitioned by the stratum column.
    """
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for stratum {name!r} must be in "
                             f"[0, 1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], "
                         f"got {default_fraction}")
    h = _sample_hash(id_col, salt) % SAMPLE_DENOM
    threshold = F.lit(int(round(default_fraction * SAMPLE_DENOM)))
    for name in sorted(fractions):
        threshold = (F.when(F.col(strata_col) == name,
                            F.lit(int(round(fractions[name] * SAMPLE_DENOM))))
                     .otherwise(threshold))
    return docs.filter(h < threshold)


def _cumulative_offsets(totals: Dict) -> Dict:
    """Exclusive prefix sums of per-bucket totals in sorted key order —
    the driver-side half of every two-phase bucketed window in this
    module.  Tuple keys accumulate within their leading group (all but
    the last element), so (source, bucket) keys restart per source."""
    offsets, acc = {}, {}
    for k in sorted(totals):
        grp = k[:-1] if isinstance(k, tuple) else None
        offsets[k] = acc.get(grp, 0)
        acc[grp] = acc.get(grp, 0) + totals[k]
    return offsets


def _offset_expr(offsets: Dict, cond_fn) -> F.Column:
    """Fold driver-computed literal offsets into one chained-when Column
    (``cond_fn(key) -> Column`` selects the bucket's rows)."""
    e = F.lit(0).cast("long")
    for k, off in offsets.items():
        e = F.when(cond_fn(k), F.lit(int(off))).otherwise(e)
    return e


def _sample_hash(id_col: str, salt: str) -> F.Column:
    """The engine-portable sampling hash shared by ``stratified_sample``,
    ``upsample_stratified``, ``training_order`` and ``take_token_budget``:
    char-fold of ``salt || id`` scattered by one affine step (see
    SAMPLE_A's comment).  Range [0, POLY_MOD)."""
    h0 = poly_hash_expr(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return (h0 * SAMPLE_A + SAMPLE_B) % POLY_MOD


def upsample_stratified(docs: DataFrame, fractions: Dict[str, float],
                        strata_col: str = "source", id_col: str = "doc_id",
                        default_fraction: float = 0.0,
                        salt: str = "mix:") -> DataFrame:
    """``stratified_sample`` generalized to fractions ABOVE 1 — the
    temperature-resampling / domain-reweighting step of a training-mix
    recipe (rare high-quality sources are repeated, bulk crawl is
    thinned) as one deterministic row-local operator.

    A stratum with fraction ``f = k + r`` (integer ``k``, ``0 <= r < 1``)
    emits ``k`` copies of EVERY document plus one more iff the sampling
    hash passes ``r`` — so expected copies per document is exactly ``f``,
    and for ``f <= 1`` the emitted id set equals ``stratified_sample``'s
    keep set bit-for-bit (tested).  Output: the input columns plus
    ``copy_idx`` (0-based BIGINT); downstream packing keyed on
    ``(id, copy_idx)`` keeps repeated copies apart.

    Scale shape: one codegen'd Filter + ``explode(sequence(...))`` over
    the scan — row-local, no shuffle, streaming-legal; output rows grow
    by exactly the mix's expansion factor, nothing else."""
    for name, frac in fractions.items():
        if frac < 0:
            raise ValueError(f"fraction for stratum {name!r} must be "
                             f">= 0, got {frac}")
    if default_fraction < 0:
        raise ValueError(f"default_fraction must be >= 0, "
                         f"got {default_fraction}")
    h = _sample_hash(id_col, salt) % SAMPLE_DENOM

    def split(f: float):
        k = int(f)
        rem = int(round((f - k) * SAMPLE_DENOM))
        return k, rem

    k0, r0 = split(default_fraction)
    base, rem = F.lit(k0), F.lit(r0)
    for name in sorted(fractions):
        kn, rn = split(fractions[name])
        cond = F.col(strata_col) == name
        base = F.when(cond, F.lit(kn)).otherwise(base)
        rem = F.when(cond, F.lit(rn)).otherwise(rem)
    n_copies = (base + (h < rem).cast("int")).alias("_n_copies")
    return (docs.withColumn("_n_copies", n_copies)
            .filter(F.col("_n_copies") > 0)
            .withColumn("copy_idx",
                        F.explode(F.sequence(
                            F.lit(0).cast("long"),
                            (F.col("_n_copies") - 1).cast("long"))))
            .drop("_n_copies"))


def training_order(docs: DataFrame, id_col: str = "doc_id",
                   salt: str = "shuffle:",
                   num_ranges: int = 64) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    dense 0-based ``position`` in the order of its engine-portable
    ``shuffle_key`` hash (ties broken by id) — the "shuffle the corpus
    once, reproducibly, before sharding" step every training run needs.
    Changing ``salt`` draws an independent permutation; keeping it fixed
    reproduces the exact epoch order on any engine or cluster layout.

    Returns the input columns plus ``shuffle_key`` and ``position``.

    Scale shape: the naive dense rank is one global ORDER BY window — ONE
    partition, dead at 100 TB.  Here the hash is uniform on [0, POLY_MOD)
    by construction, so FIXED equal-width key ranges give balanced
    buckets with no sampling pass: per-bucket row counts (``num_ranges``
    rows to the driver) become literal offsets, and the dense position is
    offset + a bucket-local row_number — the same two-phase shape as
    ``pack_sequences``, one narrow shuffle, parallel across buckets."""
    from pyspark.sql import Window

    if num_ranges < 1:
        raise ValueError(f"num_ranges must be >= 1, got {num_ranges}")
    width = POLY_MOD // num_ranges + 1
    # NULL ids cannot be ordered (and would surface as a None bucket key in
    # the driver-side offset sort) — dropped, same policy as the sampler
    # hash which never passes NULL
    keyed = (docs.filter(F.col(id_col).isNotNull())
             .withColumn("shuffle_key", _sample_hash(id_col, salt))
             .withColumn("_bkt", (F.col("shuffle_key") / width)
                         .cast("int")))
    counts = {r["_bkt"]: r["n"] for r in
              keyed.groupBy("_bkt").agg(F.count("*").alias("n")).collect()}
    off_expr = _offset_expr(_cumulative_offsets(counts),
                            lambda b: F.col("_bkt") == b)
    win = Window.partitionBy("_bkt").orderBy("shuffle_key", id_col)
    return (keyed
            .withColumn("position",
                        (off_expr + F.row_number().over(win) - 1)
                        .cast("long"))
            .drop("_bkt"))


def take_token_budget(docs: DataFrame, budgets: Dict[str, int],
                      strata_col: str = "source", id_col: str = "doc_id",
                      token_col: str = "n_tokens",
                      salt: str = "budget:",
                      num_ranges: int = 64) -> DataFrame:
    """Per-source token budgeting: keep a deterministic pseudo-random
    subset of each source totalling (up to) ``budgets[source]`` tokens —
    the "X billion tokens of web, Y of code" step of a mix recipe, stated
    in tokens rather than the row fractions ``stratified_sample`` takes.

    Documents are ordered by the portable sampling hash (ties by id) and
    taken while the source's exclusive running token sum is below its
    budget, so the LAST kept document may overrun by part of itself —
    the same boundary policy as ``pack_sequences`` (cut/pad is the
    trainer's concern; the kept SET is what must be deterministic).
    Sources absent from ``budgets`` are dropped.  Returns
    ``(id, <strata>, n_tokens, tokens_before)``.

    Scale shape: a per-source ORDER BY window would put each source in
    ONE partition — dead when one source is most of the corpus.  The
    uniform hash key again gives fixed equal-width buckets: per
    ``(source, bucket)`` token totals (``|sources| * num_ranges`` rows,
    bounded because the mix's source dimension is managed and small)
    become literal offsets, and the running sum is bucket-local.  One
    narrow shuffle on ``(source, bucket)``, parallel across both."""
    from pyspark.sql import Window

    for name, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for stratum {name!r} must be >= 0, "
                             f"got {b}")
    if num_ranges < 1:
        raise ValueError(f"num_ranges must be >= 1, got {num_ranges}")
    width = POLY_MOD // num_ranges + 1
    base = (docs.select(F.col(id_col).alias("id"),
                        F.col(strata_col).alias("_stratum"),
                        F.col(token_col).alias("n_tokens"))
            .filter(F.col("id").isNotNull())
            .filter(F.col("_stratum").isin(*budgets.keys()))
            .withColumn("_h", _sample_hash("id", salt))
            .withColumn("_bkt", (F.col("_h") / width).cast("int")))
    totals = {(r["_stratum"], r["_bkt"]): r["tot"] for r in
              base.groupBy("_stratum", "_bkt")
              .agg(F.sum("n_tokens").alias("tot")).collect()}
    off_expr = _offset_expr(
        _cumulative_offsets(totals),
        lambda k: (F.col("_stratum") == k[0]) & (F.col("_bkt") == k[1]))
    budget_expr = F.lit(-1).cast("long")
    for name in sorted(budgets):
        budget_expr = (F.when(F.col("_stratum") == name,
                              F.lit(int(budgets[name])))
                       .otherwise(budget_expr))
    win = (Window.partitionBy("_stratum", "_bkt").orderBy("_h", "id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (base
            .withColumn("tokens_before",
                        (off_expr + F.sum("n_tokens").over(win)
                         - F.col("n_tokens")).cast("long"))
            .filter(F.col("tokens_before") < budget_expr)
            .select("id", F.col("_stratum").alias(strata_col),
                    "n_tokens", "tokens_before"))


def corpus_prep(docs: DataFrame, benchmark: DataFrame,
                fractions: Dict[str, float], *,
                default_fraction: float = 0.0,
                contamination_threshold: float = 0.05, n: int = 3,
                mq_margin: float = -0.25,
                id_col: str = "doc_id", text_col: str = "text",
                strata_col: str = "source",
                full_rows: bool = False,
                fused: bool = False) -> DataFrame:
    """The batch corpus-prep flagship as ONE declarative plan: Gopher
    quality filter -> exact-dedup representative keep -> benchmark
    decontamination -> model-quality margin cutoff -> stratified mix.

    Returns the NARROW retained table ``(id_col, strata_col, n_words)`` —
    what every rollup/mix accounting needs — unless ``full_rows=True``,
    which joins the retained id set back to ``docs`` for all input columns
    (the materialization case, ``corpus_prep_and_write``). The narrow
    default matters at scale: the retain-set joins carry a few dozen bytes
    per row; dragging the text column through them multiplies the shuffle
    by the payload width for nothing (measured 2.9x on E2E at sf0.1).

    Semantics are pinned by the driver oracle ``E2E_corpus_prep`` (its
    rollup is exactly ``corpus_prep(...).groupBy(source)``); every stage's
    retain set is keyed by ``id_col``, so Catalyst collapses the joins
    onto one partitioning of the corpus side.
    """
    from . import dedup, textstats
    if fused:
        # single-scan form (the "stage the per-doc stats once" note made
        # real): the row-local stages — Gopher metrics, model margin,
        # sample hash, and the broadcast-set contamination kernel — are
        # computed in ONE pass over the corpus (mapInPandas passthrough +
        # JVM expressions + one filter); the only other corpus touch is
        # the exact-dedup keep-set aggregation, joined back by id. Two
        # scans + one shuffle total, vs five scans + four joins staged;
        # identical retained set (same row-local semantics, rowlocal
        # contamination == join version by test, and the driver E2E
        # oracle pins it cross-engine every round).
        g = textstats.gopher_metric_exprs(text_col)
        # the JVM-expressible filters (sample hash, Gopher rules, model
        # margin) run BELOW the contamination mapInPandas: Catalyst cannot
        # push a filter through an opaque Python node, so filtering first
        # keeps (1 - selectivity) of the corpus out of the Arrow transfer
        # and the python shingling entirely. Row-local conjunction order is
        # free — the retained set is identical (E2E oracle pins it).
        # n_words is computed BELOW the Python node and rides through the
        # passthrough schema: computing it after the mapInPandas (round 5)
        # re-ran the Gopher tokenize expression on the far side for one
        # extra full regexp pass per surviving row.
        pre = (stratified_sample(docs, fractions, strata_col=strata_col,
                                 id_col=id_col,
                                 default_fraction=default_fraction)
               .filter(g["passes"]
                       & (textstats.model_margin_expr(text_col) > mq_margin))
               .withColumn("n_words", g["n_words"]))
        kept = (contamination_flags_rowlocal(
                    pre, benchmark, n=n, id_col=id_col, text_col=text_col,
                    passthrough=True)
                .filter(F.col("contamination") <= contamination_threshold))
        keep = (dedup.exact_dedup(docs, id_col=id_col, text_col=text_col)
                .select(F.col("keep_id").alias(id_col)))
        kept = kept.join(keep, id_col)
        if not full_rows:
            return kept.select(id_col, strata_col, "n_words")
        return docs.join(kept.select(id_col), id_col)

    quality = (textstats.gopher_quality(docs, id_col=id_col,
                                        text_col=text_col)
               .filter("passes").select("id", "n_words"))
    keep = (dedup.exact_dedup(docs, id_col=id_col, text_col=text_col)
            .select(F.col("keep_id").alias("id")))
    clean = (contamination_flags(docs, benchmark, n=n, id_col=id_col,
                                 text_col=text_col)
             .filter(F.col("contamination") <= contamination_threshold)
             .select("id"))
    mq = (textstats.model_quality_score(docs, id_col=id_col,
                                        text_col=text_col)
          .filter(F.col("margin") > mq_margin).select("id"))
    sampled = (stratified_sample(docs, fractions, strata_col=strata_col,
                                 id_col=id_col,
                                 default_fraction=default_fraction)
               .select(F.col(id_col).alias("id"), strata_col))
    kept = (sampled.join(quality, "id").join(keep, "id")
            .join(clean, "id").join(mq, "id"))
    if not full_rows:
        return kept.select(F.col("id").alias(id_col), strata_col, "n_words")
    return docs.join(kept.select(F.col("id").alias(id_col)), id_col)


def corpus_prep_and_write(docs: DataFrame, benchmark: DataFrame,
                          fractions: Dict[str, float], out_dir: str, *,
                          n_buckets: int = 64, run_id: str = "run",
                          resume: bool = True, id_col: str = "doc_id",
                          **kwargs) -> None:
    """Materialize :func:`corpus_prep` with per-bucket lineage +
    checkpointed resume (lineage.resumable_write — the same contract as
    KGPipeline.run_and_write): output partitioned by a deterministic
    id-hash bucket, reruns skip buckets recorded done and REPLACE buckets
    whose previous attempt crashed before its lineage row landed."""
    from ..lineage import resumable_write
    retained = corpus_prep(docs, benchmark, fractions, id_col=id_col,
                           full_rows=True, **kwargs)
    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                    F.lit(n_buckets)).cast("int")
    resumable_write(retained.withColumn("bucket", bucket), out_dir,
                    "retained", run_id=run_id, resume=resume)
