"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (it has no dedup), these are the standard
web-corpus dedup family, each built scale-first:

* exact        — hash-groupBy on normalized text (partial agg, one shuffle);
* minhash LSH  — shingle -> k minhashes -> b bands -> bucket join; candidate
                 pairs only ever meet inside a band bucket, so the shuffle is
                 O(docs x bands), never O(docs^2);
* simhash      — 64-bit weighted-token fingerprint; near-dups = small Hamming
                 distance within 4-way table-split buckets;
* n-gram Jaccard — exact pairwise similarity via shingle equi-join
                 (the verification stage after LSH candidate generation);
* embedding cosine — see operators/similarity.py.

All hashing uses xxhash64 (JVM-side, deterministic across runs/executors) by
default. The sketch operators also accept ``hash_fn="poly"`` — a polynomial
mod-1e9+7 hash family computed from pure integer expressions that DuckDB can
replicate verbatim, making the full LSH pipelines cross-engine hash-checkable
(the ``T3_fingerprint`` portability trick applied to the sketch family).
xxhash64 stays the production default (single JVM intrinsic vs a fold over
characters).
"""
from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# engine-portable polynomial hash family: poly(s) folds (acc*31 + ascii) mod
# POLY_MOD; seed i maps h -> (A_i*h + B_i) mod POLY_MOD. All intermediates
# stay far inside int64 in both Spark and DuckDB.
POLY_MOD = 1_000_000_007


def minhash_seeds(num_hashes: int):
    """Deterministic (A_i, B_i) affine-seed pairs shared with the SQL oracle."""
    return [(1_000_003 * i + 17, (998_244_353 * (i + 1)) % POLY_MOD)
            for i in range(num_hashes)]


def simhash_bit_seeds(n_bits: int):
    """Deterministic per-bit (C_j, D_j) pairs for the portable simhash."""
    return [(2_000_029 * j + 101, (777_767_777 * (j + 1)) % POLY_MOD)
            for j in range(n_bits)]


def poly_hash_expr(col) -> F.Column:
    """fold(acc*31 + ascii(ch)) mod POLY_MOD over the string's characters —
    identical integer sequence in Spark and DuckDB (textstats.py:73-82)."""
    chars = F.split(col, "")
    return F.aggregate(chars, F.lit(0).cast("long"),
                       lambda acc, ch: (acc * 31 + F.ascii(ch)) % POLY_MOD)


# the raw base-31 fold has almost no avalanche on short numeric suffixes:
# sequential keys land in arithmetic progressions, and NO affine step can
# break that (affine maps preserve progressions — measured: a large-
# multiplier affine still left `mod 4096` bucket counts at variance 3.5x
# Poisson, 2421/4096 empty buckets for 5000 sequential keys, -43% HLL
# estimates). The mix must be NONLINEAR: the product of two independent
# affine images is quadratic in the fold, which breaks progressions
# (measured: variance 1.02x Poisson, estimates within 1.7%). Each factor
# is < POLY_MOD ~ 1e9, so the product stays far inside int64 on both
# engines. Required before any `mod small-m` use of the fold — the
# per-seed affine maps in minhash_seeds do NOT provide this.
POLY_SCATTER_A = 387_420_489
POLY_SCATTER_B = 998_244_353


def scattered_poly_expr(col) -> F.Column:
    """:func:`poly_hash_expr` + the quadratic scatter step — the required
    base for bucket/bit-position style `mod m` uses (see note above)."""
    h0 = poly_hash_expr(col)
    return (((h0 * POLY_SCATTER_A + POLY_SCATTER_B) % POLY_MOD)
            * ((h0 * 1_000_003 + 17) % POLY_MOD)) % POLY_MOD


@contextmanager
def reliable_checkpointer(sc, checkpoint_dir):
    """Yield a DataFrame -> DataFrame lineage-truncation function for
    iterative operators: reliable ``checkpoint()`` into ``checkpoint_dir``
    when one is given (the session's previous checkpoint directory is
    restored on exit when it had one — Spark cannot unset it otherwise),
    else ``localCheckpoint()`` (fast, executor-local, NOT recomputable
    after an executor loss).

    The yielded function accepts ``eager=False`` for call sites that want
    lineage truncation without a synchronous materialization job; only
    ``localCheckpoint`` honours it, persisting on the first downstream job
    that reads it (eagerness only moves WHEN the driver blocks). The
    reliable branch always materializes: a lazy ``checkpoint()`` of a
    non-topmost RDD in a job may never be written, so each round would
    recompute its lineage."""
    if checkpoint_dir is None:
        yield (lambda df, eager=True: df.localCheckpoint(eager=eager))
        return
    prev = sc._jsc.sc().getCheckpointDir()
    prev_dir = prev.get() if prev.isDefined() else None
    sc.setCheckpointDir(checkpoint_dir)
    try:
        yield (lambda df, eager=True: df.checkpoint(eager=True))
    finally:
        if prev_dir is not None:
            sc.setCheckpointDir(prev_dir)

SPAN_COMBINE = 1_000_003  # gram-level multiplier of the two-level span hash

__all__ = ["normalize_text", "exact_key_cols", "exact_dedup", "shingles",
           "minhash_signatures", "lsh_candidate_pairs", "ngram_jaccard_pairs",
           "simhash", "simhash_rowlocal", "simhash_blocks",
           "simhash_candidate_pairs", "embedding_near_dups",
           "embedding_near_dups_bruteforce", "duplicate_clusters",
           "fuzzy_dedup_retained", "line_dedup", "ngram_span_hashes",
           "duplicate_gram_positions", "duplicate_spans",
           "duplicate_span_stats", "reliable_checkpointer", "scattered_poly_expr",
           "bloom_build", "bloom_flag", "bloom_novel",
           "bloom_word_table", "bloom_flag_sharded",
           "hll_registers", "hll_estimate", "approx_distinct"]


def normalize_text(col) -> F.Column:
    """Lowercase, collapse whitespace — the usual exact-dup normal form."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_key_cols(text_col: str = "text") -> list:
    """The 128-bit composite exact-dup group key: TWO independently-seeded
    xxhash64 halves over the normal form.

    One 64-bit key is not collision-safe at corpus scale: at 10^12 documents
    the birthday bound gives ~n^2/2^65 ≈ tens of thousands of colliding
    pairs, each a silent false merge (distinct docs counted as duplicates).
    Two independent 64-bit halves push the expected collision count to
    ~n^2/2^129 ≈ 1e-15 — safe past any real corpus. Both halves are plain
    JVM intrinsics, so the key is still far cheaper to shuffle than the
    text itself.

    Seeding detail that matters: Spark folds multi-argument xxhash64 left
    to right (hash(a, b) = H(b, seed=H(a, seed0))), so the salt must come
    FIRST — ``xxhash64(lit(1), norm)`` hashes the text under the derived
    seed H(1), independent of ``xxhash64(norm)``. The other order,
    ``xxhash64(norm, lit(1))``, is a pure function of the first half
    (H(1, seed=hi)) and adds ZERO collision resistance."""
    norm = normalize_text(F.col(text_col))
    return [F.xxhash64(norm).alias("text_key_hi"),
            F.xxhash64(F.lit(1), norm).alias("text_key_lo")]


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: (keep_id, n_dups).

    keep_id = min id of the group (deterministic winner). Single shuffle
    with map-side partial aggregation, keyed on the 128-bit composite hash
    from :func:`exact_key_cols` rather than the text itself — shuffle keys
    are 16 bytes regardless of document size, and the composite key is
    collision-safe at trillion-document scale (see exact_key_cols).
    """
    return (docs.select(*exact_key_cols(text_col), F.col(id_col))
            .groupBy("text_key_hi", "text_key_lo")
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
            .select("keep_id", "n_dups"))


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Token n-gram shingles, one row per distinct (id, shingle).

    Shingle text is assembled with n ``element_at`` lookups + ``concat_ws``
    rather than ``slice``+``array_join`` — no per-shingle subarray
    allocation, ~1.8x faster at sf0.1 (shingling dominates the minhash
    pipeline's cost, not hashing). Indices are always in bounds (i <=
    size-n), so the expression is ANSI-safe."""
    base = docs.select(F.col(id_col).alias("id"),
                       F.split(normalize_text(F.col(text_col)), " ").alias("_t"))
    idx = F.when(F.size("_t") >= n,
                 F.sequence(F.lit(0), F.size("_t") - n)) \
        .otherwise(F.array().cast("array<int>"))   # <n tokens -> no shingles
    sh = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at("_t", i + j + 1) for j in range(n)]))
    return (base.select("id", F.explode(F.array_distinct(sh)).alias("shingle"))
            .filter(F.length("shingle") > 0))


def minhash_signatures(sh: DataFrame, num_hashes: int = 32,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """(id, sig array<long>): sig[i] = min over shingles of hash_i(shingle).

    Implemented as one groupBy with ``min`` aggregates over seeded hashes —
    partial aggregation keeps the shuffle at one row per doc.

    ``hash_fn='poly'`` hashes each shingle once with the portable polynomial
    hash and derives the i-th family member affinely ((A_i*h + B_i) mod p) —
    bit-identical in DuckDB, so the whole minhash-LSH pipeline becomes
    oracle-checkable.
    """
    if hash_fn == "xxhash64":
        hashes = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
                  for i in range(num_hashes)]
        agg = sh.groupBy("id").agg(*hashes)
    elif hash_fn == "poly":
        base = sh.withColumn("h", poly_hash_expr(F.col("shingle")))
        hashes = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(POLY_MOD))
                  .alias(f"h{i}")
                  for i, (a, b) in enumerate(minhash_seeds(num_hashes))]
        agg = base.groupBy("id").agg(*hashes)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return agg.select("id", F.array(*[f"h{i}" for i in range(num_hashes)])
                      .alias("sig"))


def minhash_signatures_poly_tokens(docs: DataFrame, n: int = 3,
                                   num_hashes: int = 32,
                                   id_col: str = "doc_id",
                                   text_col: str = "text") -> DataFrame:
    """``shingles(docs, n) |> minhash_signatures(hash_fn='poly')`` fused
    into one pass with TWO-LEVEL hashing — bit-identical signatures
    (equality-tested), ~2x less per-char work.

    The round-5 chain char-folded every SHINGLE STRING: with n-token
    shingles each character is folded n times through an allocated
    concat. Here each token is folded once into
    ``(h, w) = (poly(tok), 31^len(tok) mod p)`` and the shingle hash
    composes by the same fold identity as textstats._bucket_expr:
    ``poly(a||' '||b) = ((poly(a)*31 + 32) % p * 31^len(b) + poly(b)) % p``.
    Signature minima are unaffected by shingle multiplicity (min is
    idempotent), so skipping shingles()' array_distinct changes nothing.
    The (h, w) array is bound per gram position as a lambda variable
    (element_at on an attribute — O(1)); positions explode and one
    partial-aggregated groupBy(id) takes the seeded affine minima
    exactly as minhash_signatures does."""
    base = docs.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.split(normalize_text(F.col(text_col)), " "),
            lambda t: F.aggregate(
                F.split(t, ""),
                F.struct(F.lit(0).cast("long").alias("h"),
                         F.lit(1).cast("long").alias("w")),
                lambda acc, ch: F.struct(
                    ((acc["h"] * 31 + F.ascii(ch)) % POLY_MOD).alias("h"),
                    ((acc["w"] * 31) % POLY_MOD).alias("w")))).alias("_tp"))
    tp = F.col("_tp")
    idx = F.when(F.size(tp) >= n, F.sequence(F.lit(1), F.size(tp) - n + 1)) \
        .otherwise(F.array().cast("array<int>"))

    def gram_hash(i):
        g = F.element_at(tp, i)["h"]
        for j in range(1, n):
            g = (((g * 31 + 32) % POLY_MOD)
                 * F.element_at(tp, i + j)["w"]
                 + F.element_at(tp, i + j)["h"]) % POLY_MOD
        return g

    grams = (base.select("id", F.explode(idx).alias("_i"), "_tp")
             .select("id", gram_hash(F.col("_i")).alias("h")))
    hashes = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(POLY_MOD))
              .alias(f"h{i}")
              for i, (a, b) in enumerate(minhash_seeds(num_hashes))]
    agg = grams.groupBy("id").agg(*hashes)
    return agg.select("id", F.array(*[f"h{i}" for i in range(num_hashes)])
                      .alias("sig"))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 8, *,
                        sig_len: int, hash_fn: str = "xxhash64",
                        max_bucket_size: int = None) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash): docs agreeing
    on all rows of any band become candidate pairs (id_a < id_b).

    ``sig_len`` (= num_hashes used for the signatures) is required: inferring
    it would take a driver-side schema-probe action over the corpus.
    ``hash_fn='poly'`` folds the band's signature values mod 1e9+7 instead of
    xxhash64-ing the slice (engine-portable band buckets).

    ``max_bucket_size`` caps the quadratic blowup of duplicate MEGA-CLUSTERS
    (boilerplate/template pages put 10^5+ docs into one bucket; all-pairs
    there is 10^10 rows from a single key). Buckets above the cap switch to
    a STAR topology: every member pairs with the bucket's minimum id only.
    Pair count becomes linear in bucket size while the pair graph keeps the
    exact same connected components (every member stays reachable through
    the hub), so ``duplicate_clusters`` downstream is unaffected. Use the
    cap for clustering flows; leave it None when each individual pair will
    be verified (star mode intentionally omits non-hub pairs)."""
    if bands < 1 or bands > sig_len or sig_len % bands:
        # bands > sig_len would make every band slice EMPTY — every doc
        # lands in one identical bucket and the self-join degenerates to
        # the all-pairs cross product this operator exists to prevent;
        # a non-divisor silently drops the trailing sig_len % bands
        # hashes, changing the recall curve behind the caller's back
        raise ValueError(
            f"bands={bands} must divide sig_len={sig_len} "
            f"(1 <= bands <= sig_len)")
    rows_per_band = sig_len // bands

    def band_bucket(b):
        sl = F.slice("sig", b * rows_per_band + 1, rows_per_band)
        if hash_fn == "xxhash64":
            # xxhash64 hashes array columns natively (no string cast)
            return F.xxhash64(sl)
        if hash_fn == "poly":
            return F.aggregate(sl, F.lit(0).cast("long"),
                               lambda acc, v: (acc * 31 + v) % POLY_MOD)
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    buckets = sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
            for b in range(bands)])).alias("bb")) \
        .select("id", "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        sized = buckets.select("id", "band", "bucket",
                               F.count("*").over(w).alias("sz"),
                               F.min("id").over(w).alias("hub"))
        small = sized.filter(F.col("sz") <= max_bucket_size)
        a = small.select(F.col("id").alias("id_a"), "band", "bucket")
        b = small.select(F.col("id").alias("id_b"), "band", "bucket")
        dense = (a.join(b, ["band", "bucket"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b"))
        star = (sized.filter((F.col("sz") > max_bucket_size)
                             & (F.col("id") != F.col("hub")))
                .select(F.col("hub").alias("id_a"),
                        F.col("id").alias("id_b")))
        return dense.unionByName(star).distinct()
    a = buckets.select(F.col("id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "band", "bucket")
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def ngram_jaccard_pairs(sh: DataFrame, threshold: float = 0.5,
                        candidates: DataFrame = None) -> DataFrame:
    """Exact Jaccard over shingle sets via equi-join on shingle.

    (id_a, id_b, jaccard) for pairs >= threshold. The shingle join only
    touches docs sharing at least one shingle; at web scale pass
    ``candidates`` (an (id_a, id_b) frame, e.g. from lsh_candidate_pairs)
    to make this the LSH *verification* stage: the intersection count is
    then driven BY the candidate pairs (cand ⋈ a-shingles ⋈ b-shingles on
    (id_b, shingle)), so work is bounded by the candidate set — a shingle
    shared by many non-candidate docs never produces a pair row, unlike a
    post-aggregation semi-join which would first build and count every
    co-occurring pair among the candidate DOCS. Candidate pairs are
    order-normalized internally, so either (a, b) or (b, a) restricts the
    same pair.
    """
    if candidates is not None:
        cand = (candidates.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))   # drop reflexive pairs
            .distinct())
        ids = (cand.select(F.col("id_a").alias("id"))
               .unionByName(cand.select(F.col("id_b").alias("id")))
               .distinct())
        sh = sh.join(ids, "id", "semi")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    if candidates is not None:
        inter = (cand.join(a, "id_a")
                 .join(b, ["id_b", "shingle"])
                 .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    else:
        inter = (a.join(b, "shingle")
                 .filter(F.col("id_a") < F.col("id_b"))
                 .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    (F.col("inter")
                     / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        method: str = "lsh", candidates_k: int = 50,
                        **lsh_kwargs) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    The default path is scale-safe: SRP-LSH buckets generate candidate pairs
    (operators/similarity.py — queries and corpus only ever meet inside a
    shared hash bucket), and the cosine ``lsh_topk`` already computed for
    ranking is reused directly (``return_sim=True``) — no re-join of the
    vector tables, no second O(candidates x dim) pass. Shuffle cost is
    O(docs x tables), never O(docs^2). True near-duplicates (cosine -> 1)
    land in the same bucket in every table, so recall at dedup-grade
    thresholds is ~1; it decays for low thresholds, where LSH candidate
    generation is the wrong tool anyway.

    Candidates are order-normalized with least/greatest BEFORE deduplication
    so a pair survives if EITHER endpoint ranked the other in its top
    ``candidates_k``. For clusters of EXACTLY tied similarities (identical
    vectors — the canonical dedup blob) ties break by neighbor id
    ascending, so every member links to the cluster's smallest ids and
    connected components downstream are preserved even past candidates_k
    members. For clusters with internal similarity STRUCTURE above the
    threshold (e.g. two tight clumps barely above t), top-k truncation can
    drop every cross-clump pair once clump sizes exceed candidates_k —
    size candidates_k above the largest expected sub-clump, or run
    :func:`duplicate_clusters` on the union with simhash/minhash pairs,
    which recover such splits from the text side. The explicit pair list
    is complete for clusters up to ~candidates_k members.

    ``method='bruteforce'`` (or :func:`embedding_near_dups_bruteforce`) is
    the exact all-pairs crossJoin — the verification oracle for tests and
    small fixtures, never the corpus-scale default.
    """
    if method not in ("lsh", "bruteforce"):
        raise ValueError(f"method must be 'lsh' or 'bruteforce', got {method!r}")
    if method == "lsh":
        from .similarity import lsh_topk
        cand = lsh_topk(emb, emb, k=candidates_k, id_col=id_col,
                        vec_col=vec_col, return_sim=True, **lsh_kwargs)
        return (cand.filter(F.col("sim") >= threshold)
                .select(F.least("query_id", "neighbor_id").alias("id_a"),
                        F.greatest("query_id", "neighbor_id").alias("id_b"),
                        F.col("sim").alias("cosine"))
                .groupBy("id_a", "id_b")
                .agg(F.max("cosine").alias("cosine"))
                .select("id_a", "id_b", F.round("cosine", 9).alias("cosine")))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    a = emb.select(F.col(id_col).alias("id_a"), v.alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), v.alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm_a = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    norm_b = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    return (pairs.select("id_a", "id_b",
                         (dot / (norm_a * norm_b)).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 9).alias("cosine")))


def embedding_near_dups_bruteforce(emb: DataFrame, threshold: float = 0.95,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding") -> DataFrame:
    """Exact all-pairs cosine near-dups — O(N^2); the verification oracle."""
    return embedding_near_dups(emb, threshold, id_col, vec_col,
                               method="bruteforce")


def _check_simhash_bits(n_bits: int) -> None:
    """The fingerprint packs bit j as shiftleft(1, j) into ONE long, and
    the xxhash64 family reads bit j of ONE 64-bit hash — beyond 64, Java
    shift counts wrap mod 64, so bits j and j-64 silently alias (wrong
    fingerprints, no error).  Fail loudly instead."""
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits={n_bits} out of range (1..64: fingerprints"
                         f" are single 64-bit longs)")


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", hash_fn: str = "xxhash64",
            n_bits: int = 64) -> DataFrame:
    """n_bits SimHash over tokens: bit j of the fingerprint is the sign of
    Σ_token (+1 if bit_j(token) else -1).

    Pure JVM expressions: explode tokens, per-bit contribution via sum,
    reassemble. One shuffle (groupBy id). ``hash_fn='xxhash64'`` takes bit j
    of one 64-bit hash (production default, n_bits<=64); ``hash_fn='poly'``
    derives bit j as (C_j*poly(token)+D_j) mod p mod 2 — engine-portable, so
    the DuckDB oracle reproduces the fingerprints bit-for-bit (use a smaller
    n_bits like 32 to keep the generated SQL reasonable)."""
    _check_simhash_bits(n_bits)
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.split(normalize_text(F.col(text_col)), " "))
                        .alias("tok"))
            .filter(F.length("tok") > 0))
    if hash_fn == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))
        bit = [F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1
               for j in range(n_bits)]
    elif hash_fn == "poly":
        toks = toks.withColumn("h", poly_hash_expr(F.col("tok")))
        bit = [((F.lit(c) * F.col("h") + F.lit(d)) % F.lit(POLY_MOD))
               % F.lit(2) == 1
               for c, d in simhash_bit_seeds(n_bits)]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    bit_sums = toks.groupBy("id").agg(*[
        F.sum(F.when(bit[j], 1).otherwise(-1)).alias(f"b{j}")
        for j in range(n_bits)])
    fp = None
    for j in range(n_bits):
        b = F.when(F.col(f"b{j}") > 0,
                   F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long"))
        fp = b if fp is None else fp.bitwiseXOR(b)
    return bit_sums.select("id", fp.alias("fingerprint"))


def simhash_rowlocal(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", hash_fn: str = "xxhash64",
                     n_bits: int = 64) -> DataFrame:
    """ROW-LOCAL simhash: identical fingerprints to :func:`simhash` (same
    tokenization, hash family, and sign rule — asserted by an equality
    test) computed without the groupBy — the token fold runs inside one
    higher-order ``aggregate`` per row, so the operator is a stateless
    projection: no shuffle, and therefore legal mid-stream (the fingerprint
    stage of streaming/dedup.streaming_simhash_pairs).

    Shape note: per-token ±1 bit contributions are folded into an
    ``array_repeat(0, n_bits)`` accumulator with ``zip_with``; the final
    sign/assemble pass reads the materialized sums column, not n_bits
    copies of the fold expression."""
    _check_simhash_bits(n_bits)
    toks = F.filter(F.split(normalize_text(F.col(text_col)), " "),
                    lambda t: F.length(t) > 0)
    if hash_fn == "xxhash64":
        th = F.transform(toks, lambda t: F.xxhash64(t))

        def pm(h):
            return F.array(*[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                       F.lit(1)).otherwise(F.lit(-1)).cast("long")
                for j in range(n_bits)])
    elif hash_fn == "poly":
        th = F.transform(toks, lambda t: poly_hash_expr(t))
        seeds = simhash_bit_seeds(n_bits)

        def pm(h):
            return F.array(*[
                F.when(((F.lit(c) * h + F.lit(d)) % F.lit(POLY_MOD))
                       % F.lit(2) == 1, F.lit(1))
                .otherwise(F.lit(-1)).cast("long")
                for c, d in seeds])
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    acc0 = F.array_repeat(F.lit(0).cast("long"), n_bits)
    sums = F.aggregate(th, acc0,
                       lambda acc, h: F.zip_with(acc, pm(h),
                                                 lambda a, b: a + b))
    # parity with simhash(): token-less documents emit no fingerprint
    # (the groupBy path never sees them after the explode)
    staged = (docs.filter(F.size(toks) > 0)
              .select(F.col(id_col).alias("id"), sums.alias("_bits")))
    fp = None
    for j in range(n_bits):
        b = F.when(F.element_at("_bits", j + 1) > 0,
                   F.shiftleft(F.lit(1).cast("long"), j)) \
            .otherwise(F.lit(0).cast("long"))
        fp = b if fp is None else fp.bitwiseXOR(b)
    return staged.select("id", fp.alias("fingerprint"))


def simhash_blocks(fps: DataFrame, max_hamming: int = 3,
                   n_bits: int = 64) -> DataFrame:
    """Explode (id, fingerprint) into pigeonhole blocks: ``max_hamming + 1``
    variable-width bit slices (the first ``n_bits % n_blocks`` get one extra
    bit so every bit is covered). Any pair within the Hamming threshold
    agrees on >= 1 full block, so joins bucketed by (blk, val) have exact
    recall. Shared by the batch self-join (simhash_candidate_pairs) and the
    incremental new-vs-accumulated join (streaming/dedup.py)."""
    n_blocks = max_hamming + 1
    if n_blocks > n_bits:
        raise ValueError(f"max_hamming={max_hamming} needs {n_blocks} blocks "
                         f"but the fingerprint has only {n_bits} bits")
    base, rem = divmod(n_bits, n_blocks)
    widths = [base + 1 if k < rem else base for k in range(n_blocks)]
    offsets = [sum(widths[:k]) for k in range(n_blocks)]
    return fps.select(
        "id", "fingerprint",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("blk"),
                     F.shiftright("fingerprint", offsets[k])
                     .bitwiseAND(F.lit((1 << widths[k]) - 1)).alias("val"))
            for k in range(n_blocks)])).alias("b")) \
        .select("id", "fingerprint", "b.blk", "b.val")


def simhash_candidate_pairs(fps: DataFrame, max_hamming: int = 3,
                            n_bits: int = 64) -> DataFrame:
    """Pigeonhole-bucketed self-join over :func:`simhash_blocks` — the
    candidate join is keyed by (block_idx, block_value), never all-pairs.
    Recall is exact at ANY threshold — more blocks (higher threshold) just
    means a denser candidate join."""
    blocks = simhash_blocks(fps, max_hamming=max_hamming, n_bits=n_bits)
    a = blocks.select(F.col("id").alias("id_a"),
                      F.col("fingerprint").alias("fp_a"), "blk", "val")
    b = blocks.select(F.col("id").alias("id_b"),
                      F.col("fingerprint").alias("fp_b"), "blk", "val")
    # the Hamming test runs map-side on the raw join output, BEFORE the
    # pair dedup: hamming is a pure function of the fingerprints (so
    # identical for every block-copy of a pair, and filter-then-distinct
    # == distinct-then-filter), while the round-5 order shuffled every
    # above-threshold candidate — the vast majority — through a distinct
    # over 4 columns just to drop it afterwards. The dedup now carries
    # only (id_a, id_b, hamming) for surviving pairs.
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (a.join(b, ["blk", "val"]).filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def duplicate_clusters(pairs: DataFrame, max_iters: int = 50,
                       checkpoint_dir: str = None) -> DataFrame:
    """Connected components over candidate pairs: (id, cluster_id) where
    cluster_id = min id reachable through the pair graph.

    The step after candidate generation in a dedup pipeline: pairs from
    minhash/simhash/embedding candidates are edges; each component is one
    duplicate group, and ``cluster_id`` doubles as the canonical keep id.

    Iterative min-label propagation WITH pointer jumping: each round every
    node (1) adopts the minimum label in its neighborhood, then (2) jumps to
    its label's label (label <- label(label)). Step (2) is what makes the
    round count genuinely O(log component-diameter) — plain neighborhood-min
    alone is O(diameter) and a >max_iters-hop chain of chained near-dups
    (winnowing/simhash pairs) would fail to converge. Web-corpus duplicate
    groups are near-cliques, so 2-4 rounds in practice; a path graph of
    length 2^max_iters would still converge.

    Per-round checkpointing truncates lineage (mandatory: the logical plan
    doubles per round otherwise and Catalyst analysis time grows
    exponentially — see graph.iterative_closure). Default is
    ``localCheckpoint`` (executor-local blocks: fast, fine on local[n] and
    for short jobs, but NOT executor-loss-safe — a lost executor makes the
    truncated lineage unrecomputable). For cluster runs pass
    ``checkpoint_dir`` to switch to reliable ``checkpoint()`` into that
    (HDFS/S3) directory; the session's previous checkpoint directory is
    restored on exit (when one was set — Spark cannot unset it, so a
    session that never had one keeps this one afterwards). Raises if
    max_iters rounds do not converge.
    """
    sc = pairs.sparkSession.sparkContext
    with reliable_checkpointer(sc, checkpoint_dir) as ckpt:
        edges = ckpt(pairs.select(F.col("id_a").alias("a"),
                                  F.col("id_b").alias("b"))
                     .unionByName(pairs.select(F.col("id_b").alias("a"),
                                               F.col("id_a").alias("b")))
                     .distinct())
        labels = (edges.select(F.col("a").alias("id"))
                  .distinct()
                  .withColumn("label", F.col("id")))
        for _ in range(max_iters):
            neigh = (edges.join(labels, edges["b"] == labels["id"])
                     .groupBy(F.col("a").alias("id"))
                     .agg(F.min("label").alias("nmin")))
            # checkpoint half: it feeds BOTH sides of the pointer-jump
            # self-join below; uncheckpointed, the neighborhood-min
            # aggregation would be recomputed twice per round
            half = ckpt(labels.join(neigh, "id", "left")
                        .select("id",
                                F.least("label", F.coalesce("nmin", "label"))
                                .alias("label")))
            # pointer jump: label <- label(label). Labels are always node
            # ids (invariant: label(x) <= x and label values come from the
            # id set), so the lookup is a self-join; coalesce guards it.
            lab2 = half.select(F.col("id").alias("pid"),
                               F.col("label").alias("plabel"))
            new = ckpt(half.join(lab2, half["label"] == lab2["pid"], "left")
                       .select(half["id"].alias("id"),
                               F.coalesce("plabel", half["label"])
                               .alias("label")))
            changed = (new.join(labels.withColumnRenamed("label", "old"),
                                "id")
                       .filter(F.col("label") != F.col("old")))
            labels = new
            if changed.isEmpty():
                return labels.select("id", F.col("label").alias("cluster_id"))
        raise RuntimeError(f"duplicate_clusters did not converge in "
                           f"{max_iters} rounds")


def fuzzy_dedup_retained(docs: DataFrame, pairs: DataFrame = None,
                         id_col: str = "doc_id", text_col: str = "text", *,
                         threshold: float = 0.5, shingle_n: int = 3,
                         num_hashes: int = 32, bands: int = 8,
                         hash_fn: str = "xxhash64", max_iters: int = 50,
                         checkpoint_dir: str = None) -> DataFrame:
    """One-call fuzzy-dedup retention: the input rows minus every
    non-representative member of a near-duplicate cluster (the cluster's
    min id is kept; docs in no pair are trivially retained).

    ``pairs`` (id_a, id_b) short-circuits candidate generation — pass
    verified pairs from any source (minhash/simhash/embedding, or their
    union). Without it the full pipeline runs: shingles -> minhash
    signatures -> banded LSH candidates -> exact-Jaccard verification at
    ``threshold``.

    Scale: the pair pipeline is O(docs x bands); clustering converges in
    O(log component-diameter) pointer-jump rounds; the final removal is a
    single anti-join against the drop list (#duplicate-members minus
    #clusters rows — broadcastable unless the corpus is mostly
    duplicates, which is a crawl-configuration bug, not a dedup input).
    """
    if pairs is None:
        sh = shingles(docs, id_col=id_col, text_col=text_col, n=shingle_n)
        sigs = minhash_signatures(sh, num_hashes=num_hashes, hash_fn=hash_fn)
        cand = lsh_candidate_pairs(sigs, bands=bands, sig_len=num_hashes,
                                   hash_fn=hash_fn)
        pairs = (ngram_jaccard_pairs(sh, threshold=threshold,
                                     candidates=cand)
                 .select("id_a", "id_b"))
    clusters = duplicate_clusters(pairs, max_iters=max_iters,
                                  checkpoint_dir=checkpoint_dir)
    drops = (clusters.filter(F.col("id") != F.col("cluster_id"))
             .select(F.col("id").alias(id_col)))
    return docs.join(drops, id_col, "left_anti")


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", min_len: int = 30) -> DataFrame:
    """CCNet-style corpus-level LINE deduplication (Wenzek et al. 2020):
    boilerplate lines (navigation, cookie banners, footers) repeat across
    millions of pages; every line whose trimmed form is at least
    ``min_len`` chars keeps only its FIRST occurrence corpus-wide (minimal
    (doc, position)), other copies are dropped and each document's text is
    rebuilt from its surviving lines in order. Lines shorter than
    ``min_len`` are never deduplicated (short strings collide by chance,
    and dropping every blank line would destroy document structure).

    Returns one row per input document: (id, text, n_lines, n_lines_kept)
    — documents whose every line was boilerplate come back with ''.

    Scale shape: lines are exploded once; the winner election groups on
    the 128-bit two-seeded hash of the trimmed line (16-byte shuffle keys,
    collision-safe at trillion-line scale — exact_key_cols' argument), one
    partial-aggregated ``min(struct(id, pos))`` per group; the rebuild is
    one groupBy(id) with ``array_sort`` + ``concat_ws``. Two shuffles
    total, both map-side combinable. The DuckDB oracle (D8_line_dedup)
    groups on the line text itself — equality pins the hash keying.
    """
    norm = F.trim(F.col("line"))
    lines = (docs.select(F.col(id_col).alias("id"),
                         F.posexplode(F.split(F.col(text_col), "\n"))
                         .alias("pos", "line"))
             .withColumn("_elig", F.length(norm) >= min_len)
             .withColumn("_h1", F.xxhash64(norm))
             .withColumn("_h2", F.xxhash64(F.lit(1), norm)))
    winners = (lines.filter("_elig").groupBy("_h1", "_h2")
               .agg(F.min(F.struct("id", "pos")).alias("_w")))
    kept = (lines.join(winners, ["_h1", "_h2"], "left")
            .filter(~F.col("_elig")
                    | (F.struct("id", "pos") == F.col("_w"))))
    rebuilt = (kept.groupBy("id")
               .agg(F.array_sort(F.collect_list(F.struct("pos", "line")))
                    .alias("_ls"))
               .select("id",
                       F.concat_ws("\n", F.transform(
                           "_ls", lambda s: s["line"])).alias("text"),
                       F.size("_ls").cast("long").alias("n_lines_kept")))
    # coalesce: size(split(NULL)) is NULL (ANSI off, non-legacy sizeOfNull)
    # while text / n_lines_kept below coalesce to ''/0 — null-text crawl
    # rows must come back as a consistent (id, '', 0, 0), not (id, '',
    # NULL, 0)
    totals = docs.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(F.split(F.col(text_col), "\n")), F.lit(0))
        .cast("long").alias("n_lines"))
    return (totals.join(rebuilt, "id", "left")
            .select("id", F.coalesce("text", F.lit("")).alias("text"),
                    "n_lines",
                    F.coalesce("n_lines_kept", F.lit(0)).cast("long")
                    .alias("n_lines_kept")))


def ngram_span_hashes(docs: DataFrame, n: int = 20, *,
                      id_col: str = "doc_id", text_col: str = "text",
                      hash_fn: str = "poly",
                      stride: int = 1) -> DataFrame:
    """(id, pos, h): the hash of the ``n``-token gram starting at 0-based
    token position ``pos`` of the normalized token stream — the positional
    sibling of :func:`shingles` (which emits DISTINCT gram strings and
    forgets where they were).  ``stride > 1`` hashes only positions
    divisible by it — the winnowing-style knob that divides the shuffle
    volume by ``stride`` at the cost of span-boundary granularity.

    The hash is TWO-LEVEL: each token is char-folded once per document,
    and a gram combines its ``n`` token-hashes with an integer fold
    (``acc*SPAN_COMBINE + tok_h``) — overlapping grams never re-hash
    characters.  ``hash_fn='poly'`` keeps both levels mod POLY_MOD
    (DuckDB replays them bit-for-bit — the oracle path); ``'xxhash64'``
    token-hashes with xxhash64 and combines in plain wrapping 64-bit
    arithmetic, the cheaper production form.  Collisions conflate grams with probability
    ~1/POLY_MOD (resp. 2^-64) per pair — acceptable for span flagging,
    same contract as the minhash family.
    """
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if hash_fn not in ("poly", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # two-level hash: every token is char-folded ONCE per document, then a
    # gram combines its n token-hashes with integer ops — ~avg-token-len x
    # cheaper per position than hashing the gram STRING, and no per-gram
    # string allocation at all (grams overlap n-fold; the naive form
    # re-hashes every character n times)
    base = docs.select(
        F.col(id_col).alias("id"),
        F.transform(F.split(normalize_text(F.col(text_col)), " "),
                    lambda t: poly_hash_expr(t) if hash_fn == "poly"
                    else F.xxhash64(t)).alias("_th"))
    idx = F.when(F.size("_th") >= n,
                 F.sequence(F.lit(0), F.size("_th") - n, F.lit(stride))) \
        .otherwise(F.array().cast("array<int>"))

    def gram_hash(i):
        g = F.lit(0).cast("long")
        for j in range(n):
            g = g * F.lit(SPAN_COMBINE) + F.element_at("_th", i + j + 1)
            if hash_fn == "poly":
                g = g % F.lit(POLY_MOD)   # portable: stays in [0, p)
            # xxhash64: plain 64-bit wrapping arithmetic, JVM-side only
        return g

    return (base.select("id", F.explode(idx).alias("pos"), "_th")
            .select("id", F.col("pos").cast("long").alias("pos"),
                    gram_hash(F.col("pos")).alias("h")))


def duplicate_gram_positions(docs: DataFrame, n: int = 20,
                             min_docs: int = 2, *,
                             id_col: str = "doc_id", text_col: str = "text",
                             hash_fn: str = "poly",
                             stride: int = 1) -> DataFrame:
    """Raw flagged gram occurrences ``(id, pos)``: every position whose
    gram hash occurs in at least ``min_docs`` DISTINCT documents (the
    pre-merge stage of :func:`duplicate_spans`, exposed because the
    streaming operator emits exactly this row shape).  One
    partial-aggregated count-distinct per hash + an equi-join back."""
    spans = ngram_span_hashes(docs, n, id_col=id_col, text_col=text_col,
                              hash_fn=hash_fn, stride=stride)
    # ONE explicit repartition on the gram hash, shared by both consumers
    # (the >=min_docs aggregate and the positional join back): without
    # it, each consumer re-evaluated the whole two-level hashing pipeline
    # — the exchanges differed (partial-agg vs broadcast-probe side), so
    # ReusedExchange could not kick in. Both downstream ops are satisfied
    # by hashpartitioning(h), so neither adds an exchange of its own, and
    # the hash pipeline runs exactly once.
    spans = spans.repartition("h")
    dup_h = (spans.groupBy("h")
             .agg(F.count_distinct("id").alias("_nd"))
             .filter(F.col("_nd") >= min_docs)
             .select("h"))
    return spans.join(dup_h, "h").select("id", "pos")


def duplicate_spans(docs: DataFrame, n: int = 20, min_docs: int = 2, *,
                    id_col: str = "doc_id", text_col: str = "text",
                    hash_fn: str = "poly", stride: int = 1) -> DataFrame:
    """Cross-document duplicated token spans (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    ``n``-token gram occurring in at least ``min_docs`` DISTINCT documents
    is a duplicated span; overlapping/adjacent flagged grams within a
    document are merged into maximal intervals.  This is the SPAN level
    of the dedup family — between ``line_dedup`` (structural lines) and
    the whole-document operators — and the signal RefinedWeb-style
    pipelines threshold on.  Returns ``(id, tok_start, tok_len)`` merged
    intervals in token coordinates (the shared normalized token model).

    Within-document repetition alone does NOT flag a span (that is
    ``repetition_stats``'s job): the count is over distinct documents.

    Scale shape (the suffix-array construction of the paper is a
    single-machine algorithm; this is its fingerprint re-expression):
    one token-linear explode (~20 B/token rows; ``stride`` divides it),
    ONE partial-aggregated count-distinct per gram hash, an equi-join of
    the positional rows against the qualifying hashes, and a per-document
    interval merge (Window partitioned by doc — bounded by document
    length, never corpus-sized).  A boilerplate gram in millions of
    documents is one hash row after partial aggregation — no hub blowup.
    """
    from pyspark.sql import Window

    flagged = duplicate_gram_positions(docs, n, min_docs, id_col=id_col,
                                       text_col=text_col, hash_fn=hash_fn,
                                       stride=stride)
    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    island = F.sum(
        (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (flagged.withColumn("_isl", island)
            .groupBy("id", "_isl")
            .agg(F.min("pos").alias("tok_start"),
                 (F.max("pos") + n - F.min("pos")).alias("tok_len"))
            .select("id", F.col("tok_start").cast("long"),
                    F.col("tok_len").cast("long")))


def duplicate_span_stats(docs: DataFrame, n: int = 20, min_docs: int = 2, *,
                         id_col: str = "doc_id", text_col: str = "text",
                         hash_fn: str = "poly",
                         stride: int = 1) -> DataFrame:
    """Per-document duplicated-token accounting over
    :func:`duplicate_spans`: ``(id, n_tokens, n_dup_tokens, dup_frac)``
    for EVERY input document (0/0.0 when nothing is flagged) — the
    retention signal ("drop documents with more than X% duplicated
    tokens") stated as one joinable table.  ``dup_frac`` is exact over
    the merged intervals, so nested/overlapping grams are not double
    counted."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(normalize_text(F.col(text_col)), " "))
        .cast("long").alias("n_tokens"))
    dup = (duplicate_spans(docs, n, min_docs, id_col=id_col,
                           text_col=text_col, hash_fn=hash_fn,
                           stride=stride)
           .groupBy("id").agg(F.sum("tok_len").alias("n_dup_tokens")))
    return (toks.join(dup, "id", "left")
            .select("id", "n_tokens",
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("long")
                    .alias("n_dup_tokens"))
            .withColumn("dup_frac",
                        F.when(F.col("n_tokens") > 0,
                               F.round(F.col("n_dup_tokens")
                                       / F.col("n_tokens"), 9))
                        .otherwise(F.lit(0.0))))


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup: new crawl vs corpus history, WITHOUT a join
# ---------------------------------------------------------------------------
# The scale problem this solves: deduplicating a fresh crawl batch against a
# large corpus HISTORY. A join (even semi/anti) shuffles the batch against
# the full historical key set; a Bloom filter compresses the history into an
# O(n_bits) bitmap that is built distributed, collected once, and broadcast —
# the probe is then a zero-shuffle scan-side map. Standard crawl frontier /
# CCNet bookkeeping semantics: NO false negatives (every true duplicate is
# flagged), a tunable false-positive fraction of novel rows is over-flagged.
#
# Capacity arithmetic (round-6 correction of a round-5 comment that was off
# by orders of magnitude): FP ~= (1 - e^(-k*n/m))^k; ~1% FP needs ~9.6
# bits/key and ~0.1% needs ~14.4 bits/key (k ~= 0.7*m/n hashes). So 10^9
# keys at 0.1% FP need m ~= 2^34 bits (~2 GiB) — NOT 2^26 — and the honest
# ceiling of the collect+broadcast bitmap is ~10^10 keys (an 8-16 GiB
# bitmap, bounded by driver/executor broadcast memory). Beyond that, use
# the SHARDED variant below (bloom_flag_sharded): the word table stays a
# DataFrame partitioned by word index, probe keys route to their shard by
# an equi-join on word index — no broadcast, no driver bitmap, capacity
# bounded by cluster storage instead.

BLOOM_DEFAULT_BITS = 1 << 23     # 8 Mbit; build/probe cost is O(1) per key
BLOOM_DEFAULT_HASHES = 5


def _with_bloom_positions(docs: DataFrame, text_col: str, n_bits: int,
                          n_hashes: int, hash_fn: str,
                          pos_col: str = "__bloom_pos") -> DataFrame:
    """docs + ``pos_col`` = array<long> of the normalized key's n_hashes
    bit positions in [0, n_bits).

    ``hash_fn='xxhash'`` (production): n_hashes independently-seeded
    xxhash64 (salt FIRST — see exact_key_cols). ``'poly'``: the affine
    poly family shared with the SQL oracle.

    Shape note (the round-6 optimization): every expensive shared
    subexpression — the normalize regexp, the interpreted char fold, the
    quadratic scatter — is staged as its own projected column, because
    inlined into the positions array each was re-evaluated once per
    POSITION (and scattered_poly_expr references the fold twice), i.e.
    2*n_hashes interpreted char folds per row where one suffices.
    Interpreted higher-order folds get no codegen subexpression
    elimination, and CollapseProject keeps multiply-referenced non-cheap
    aliases un-inlined, so the staged projections pin single evaluation.
    Measured at sf0.1 (D10): 2.1 s -> see OPTIMIZATION_r06.md."""
    key = normalize_text(F.coalesce(F.col(text_col), F.lit("")))
    staged = docs.withColumn("__bloom_key", key)
    k = F.col("__bloom_key")
    if hash_fn == "xxhash":
        pos = F.array(*[F.pmod(F.xxhash64(F.lit(i), k), F.lit(n_bits))
                        for i in range(n_hashes)])
    elif hash_fn == "poly":
        # fold alone bands on sequential keys — see POLY_SCATTER note
        staged = staged.withColumn("__bloom_h0", poly_hash_expr(k))
        h0 = F.col("__bloom_h0")
        staged = staged.withColumn(
            "__bloom_hs",
            (((h0 * POLY_SCATTER_A + POLY_SCATTER_B) % POLY_MOD)
             * ((h0 * 1_000_003 + 17) % POLY_MOD)) % POLY_MOD)
        hs = F.col("__bloom_hs")
        pos = F.array(*[((hs * F.lit(a) + F.lit(b)) % POLY_MOD) % n_bits
                        for a, b in minhash_seeds(n_hashes)])
    else:
        raise ValueError(f"hash_fn must be 'xxhash' or 'poly', "
                         f"got {hash_fn!r}")
    return (staged.withColumn(pos_col, pos)
            .drop("__bloom_key", "__bloom_h0", "__bloom_hs"))


def _check_bloom_params(n_bits: int, n_hashes: int) -> None:
    if n_bits < 64 or n_bits % 64:
        raise ValueError(f"n_bits must be a positive multiple of 64, "
                         f"got {n_bits}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")


def bloom_build(docs: DataFrame, text_col: str = "text",
                n_bits: int = BLOOM_DEFAULT_BITS,
                n_hashes: int = BLOOM_DEFAULT_HASHES,
                hash_fn: str = "xxhash"):
    """Distributed Bloom-filter build over normalized text keys; returns
    the bitmap as a numpy uint64 word array (len = n_bits/64).

    Fully distributed: bit positions reduce to 64-bit words via one
    map-side-combined ``groupBy(word_idx).agg(bit_or(mask))`` — the
    driver collects at most n_bits/64 rows (131k for an 8 Mbit filter)
    no matter how many keys went in. NULL text hashes as '' (one shared
    slot), matching :func:`bloom_flag`."""
    _check_bloom_params(n_bits, n_hashes)
    pos = (_with_bloom_positions(docs.select(text_col), text_col,
                                 n_bits, n_hashes, hash_fn)
           .select(F.explode("__bloom_pos").alias("p")))
    return _words_to_bitmap(_bloom_word_table(pos).collect(), n_bits)


def _bloom_word_table(pos: DataFrame) -> DataFrame:
    """(w, word): bit positions (column ``p``) reduced to 64-bit words via
    one map-side-combined bit_or — the single source of the bit layout
    shared by :func:`bloom_build` and the streaming frontier."""
    return (pos.select((F.col("p") / 64).cast("long").alias("w"),
                       F.expr("shiftleft(1L, cast(p % 64 as int))")
                       .alias("m"))
            .groupBy("w").agg(F.expr("bit_or(m)").alias("word")))


def _words_to_bitmap(rows, n_bits: int):
    """Assemble collected (w, word) rows into the numpy uint64 bitmap."""
    import numpy as np

    bitmap = np.zeros(n_bits // 64, dtype=np.uint64)
    for r in rows:
        bitmap[r["w"]] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
    return bitmap


def bloom_flag(docs: DataFrame, bitmap, text_col: str = "text",
               n_hashes: int = BLOOM_DEFAULT_HASHES,
               hash_fn: str = "xxhash",
               flag_col: str = "possibly_seen") -> DataFrame:
    """Probe every document against a :func:`bloom_build` bitmap:
    appends boolean ``flag_col`` = all n_hashes positions set.

    Zero shuffle: position hashing stays JVM-side, the bitmap rides an
    executor broadcast, and membership is ONE vectorized numpy gather
    per Arrow batch (the QF4 gather-kernel shape) — no per-row Python.
    Stateless row-local map, so it is streaming-legal mid-batch."""
    import numpy as np
    import pandas as pd

    n_bits = int(bitmap.shape[0]) * 64
    _check_bloom_params(n_bits, n_hashes)
    bc = docs.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(bitmap, dtype=np.uint64))

    @F.pandas_udf("boolean")
    def _probe(pos):
        bm = bc.value
        if not len(pos):
            return pd.Series([], dtype=bool)
        arr = np.stack(pos.to_numpy()).astype(np.int64)   # (rows, n_hashes)
        bits = (bm[arr >> 6] >> (arr & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    return (_with_bloom_positions(docs, text_col, n_bits, n_hashes, hash_fn)
            .withColumn(flag_col, _probe(F.col("__bloom_pos")))
            .drop("__bloom_pos"))


def bloom_novel(new_docs: DataFrame, prior_docs: DataFrame,
                text_col: str = "text",
                n_bits: int = BLOOM_DEFAULT_BITS,
                n_hashes: int = BLOOM_DEFAULT_HASHES,
                hash_fn: str = "xxhash") -> DataFrame:
    """One-call incremental dedup: rows of ``new_docs`` whose normalized
    text is definitely NOT in ``prior_docs`` (no false negatives, so no
    true duplicate survives; an FP-rate-sized fraction of genuinely
    novel rows is dropped with them — the standard frontier trade)."""
    bm = bloom_build(prior_docs, text_col=text_col, n_bits=n_bits,
                     n_hashes=n_hashes, hash_fn=hash_fn)
    flagged = bloom_flag(new_docs, bm, text_col=text_col,
                         n_hashes=n_hashes, hash_fn=hash_fn)
    return flagged.filter(~F.col("possibly_seen")).drop("possibly_seen")


def bloom_word_table(docs: DataFrame, text_col: str = "text",
                     n_bits: int = BLOOM_DEFAULT_BITS,
                     n_hashes: int = BLOOM_DEFAULT_HASHES,
                     hash_fn: str = "xxhash") -> DataFrame:
    """The Bloom word table ``(w, word)`` as a DATAFRAME — the sharded
    form of :func:`bloom_build` for histories past the collect+broadcast
    ceiling (~10^10 keys; see the capacity note above). Same distributed
    bit_or build, but the words never leave the cluster: persist or
    write them partitioned/bucketed by ``w`` and probe with
    :func:`bloom_flag_sharded`. ``_words_to_bitmap(collect())`` of this
    table equals :func:`bloom_build`'s bitmap bit-for-bit (tested)."""
    _check_bloom_params(n_bits, n_hashes)
    pos = (_with_bloom_positions(docs.select(text_col), text_col,
                                 n_bits, n_hashes, hash_fn)
           .select(F.explode("__bloom_pos").alias("p")))
    return _bloom_word_table(pos)


def bloom_flag_sharded(docs: DataFrame, words: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       n_bits: int = BLOOM_DEFAULT_BITS,
                       n_hashes: int = BLOOM_DEFAULT_HASHES,
                       hash_fn: str = "xxhash",
                       flag_col: str = "possibly_seen") -> DataFrame:
    """Probe against a :func:`bloom_word_table` DataFrame WITHOUT a
    driver bitmap or broadcast — the beyond-broadcast-capacity path.

    Each document's ``n_hashes`` bit positions explode to probe rows
    routed to their word shard by an equi-join on the word index
    (``w = p DIV 64``) — the shuffle carries (id, position) pairs, ~16
    bytes per probe, never the documents or the history; a missing word
    row means an all-zero word (left join + coalesce). Per-document
    conjunction is one partial-aggregated ``bool_and``. Flags are
    bit-for-bit identical to :func:`bloom_flag` over the corresponding
    bitmap (tested). Requires a non-null unique ``id_col`` to join the
    verdicts back (the broadcast path needs none — that asymmetry is
    the price of not shipping the bitmap)."""
    _check_bloom_params(n_bits, n_hashes)
    probes = (_with_bloom_positions(docs.select(id_col, text_col), text_col,
                                    n_bits, n_hashes, hash_fn)
              .select(id_col, F.explode("__bloom_pos").alias("p"))
              .select(id_col, "p", (F.col("p") / 64).cast("long").alias("w")))
    bit = F.expr("shiftleft(1L, cast(p % 64 as int))")
    hit = (probes.join(words, "w", "left")
           .select(id_col,
                   (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(bit)
                    != 0).alias("_hit")))
    flags = hit.groupBy(id_col).agg(F.bool_and("_hit").alias(flag_col))
    return docs.join(flags, id_col, "left")


# ---------------------------------------------------------------------------
# HyperLogLog cardinality sketch (deterministic, engine-portable registers)
# ---------------------------------------------------------------------------
# The bookkeeping companion to the dedup family: distinct-key estimates size
# the Bloom filter (n_bits ~ 10 x distinct keys for ~1% FP), budget dedup
# shuffles, and feed crawl-governance dashboards — without ever paying a
# COUNT(DISTINCT) shuffle of the key universe. Registers merge by MAX, so
# per-partition partial sketches combine associatively (one tiny shuffle of
# 2^p rows) and sketches of different corpus shards union for free.
# Spark's own approx_count_distinct is the JVM fast path; this sketch exists
# where the REGISTERS themselves must be stored, merged across systems, or
# cross-engine-verified: the register table is pure integer arithmetic,
# bitwise identical on Spark and DuckDB (hash_fn='poly').

HLL_RHO_WIDTH = 30   # bits of the rho source; caps a register at 31


def hll_registers(docs: DataFrame, key_col: str = "text",
                  p: int = 12, hash_fn: str = "xxhash") -> DataFrame:
    """(bucket, max_rho) HyperLogLog registers over a key column:
    bucket = hash1(key) mod 2^p; rho = leading-zero count + 1 of the
    HLL_RHO_WIDTH-bit hash2 value (bit length via ``bin()``, identical
    in Spark and DuckDB). Buckets no key maps to are absent (their
    register is implicitly 0). One map-side-combined groupBy of 2^p
    groups — the corpus never shuffles, only the sketch does."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    m = 1 << p
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    # every shared non-cheap subexpression is STAGED as its own projected
    # column (same round-6 note as _with_bloom_positions): inlined, the
    # rho branch referenced `v` twice and the poly path's scatter fold
    # up to 8x per row — interpreted folds get no codegen subexpression
    # elimination, and CollapseProject keeps multiply-referenced
    # non-cheap aliases un-inlined, pinning single evaluation.
    if hash_fn == "xxhash":
        staged = docs.select(key.alias("_k")) \
            .select(F.xxhash64("_k").alias("_h1"),
                    F.xxhash64(F.lit(1), "_k").alias("_h2"))
    elif hash_fn == "poly":
        # ONE affine value is NOT wide enough for the rho source:
        # POLY_MOD (1e9+7) < 2^30, so `h mod 2^30` would be the identity
        # and the register distribution would skew ~7% toward rho=1
        # (about +4% systematic cardinality overestimate). Two affine
        # values combine to a ~2^60-range integer; mod 2^30 bias ~1e-9.
        # Fold alone bands on sequential keys — see POLY_SCATTER note.
        (a1, b1), (a2, b2), (a3, b3) = minhash_seeds(3)
        h0 = F.col("_h0")
        staged = (docs.select(key.alias("_k"))
                  .select(poly_hash_expr(F.col("_k")).alias("_f"))
                  .select(((((F.col("_f") * POLY_SCATTER_A
                              + POLY_SCATTER_B) % POLY_MOD)
                            * ((F.col("_f") * 1_000_003 + 17) % POLY_MOD))
                           % POLY_MOD).alias("_h0"))
                  .select(((h0 * a1 + b1) % POLY_MOD).alias("_h1"),
                          ((((h0 * a2 + b2) % POLY_MOD) * POLY_MOD
                            + (h0 * a3 + b3) % POLY_MOD)).alias("_h2")))
    else:
        raise ValueError(f"hash_fn must be 'xxhash' or 'poly', got {hash_fn!r}")
    staged = staged.select(
        F.pmod(F.col("_h1"), F.lit(m)).cast("long").alias("bucket"),
        F.pmod(F.col("_h2"), F.lit(1 << HLL_RHO_WIDTH)).alias("_v"))
    v = F.col("_v")
    rho = (F.when(v == 0, F.lit(HLL_RHO_WIDTH + 1))
           .otherwise(F.lit(HLL_RHO_WIDTH) - F.length(F.bin(v)) + 1)
           .cast("long"))
    return (staged.select("bucket", rho.alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("max_rho")))


def hll_estimate(registers, p: int) -> float:
    """Driver-side HLL estimate from a :func:`hll_registers` result (a
    DataFrame or (bucket, max_rho) iterable): standard bias-corrected
    harmonic mean with the small-range linear-counting correction
    (Flajolet et al. 2007). Deterministic given the registers."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    m = 1 << p
    if isinstance(registers, DataFrame):
        registers = [(r["bucket"], r["max_rho"]) for r in registers.collect()]
    regs = {int(b): int(r) for b, r in registers}
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    s = sum(2.0 ** -regs.get(i, 0) for i in range(m))
    est = alpha * m * m / s
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros:
        import math
        est = m * math.log(m / zeros)       # linear counting
    return est


def approx_distinct(docs: DataFrame, key_col: str = "text",
                    p: int = 12, hash_fn: str = "xxhash") -> float:
    """One-call distinct-key estimate via :func:`hll_registers` +
    :func:`hll_estimate` (relative error ~ 1.04 / sqrt(2^p))."""
    return hll_estimate(hll_registers(docs, key_col, p, hash_fn), p)
