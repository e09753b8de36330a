"""Dedup operators: exact, minhash/LSH, simhash, n-gram Jaccard."""
import itertools
import re

import pytest
import pyspark.sql.functions as F

from pysemanticcomplexity_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),      # exact dup
        (2, "  The quick   brown fox jumps over the lazy DOG "),  # normalized dup
        (3, "the quick brown fox jumps over the lazy cat"),       # near dup
        (4, "completely different content about spark engines"),
        (5, "completely different content about spark engines!"),
        (6, "tiny"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r["keep_id"]: r["n_dups"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 3            # 0,1,2 collapse after normalization
    assert out[3] == 1
    assert sum(out.values()) == 8


def test_shingles_short_docs(spark, docs):
    sh = dedup.shingles(docs, n=3)
    got = {r["id"] for r in sh.collect()}
    assert 6 not in got and 7 not in got      # <3 tokens -> no shingles


def test_jaccard_pairs(spark, docs):
    sh = dedup.shingles(docs, n=3)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(sh, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert 0.4 < pairs[(0, 3)] < 1.0          # near dup
    assert (0, 4) not in pairs

    # oracle: hand-computed jaccard for (0, 3)
    def sh_set(text):
        toks = text.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    a, b = sh_set("the quick brown fox jumps over the lazy dog"), \
        sh_set("the quick brown fox jumps over the lazy cat")
    expected = len(a & b) / len(a | b)
    assert abs(pairs[(0, 3)] - expected) < 1e-12


def test_minhash_lsh_finds_near_dups(spark, docs):
    sh = dedup.shingles(docs, n=3)
    sigs = dedup.minhash_signatures(sh, num_hashes=32)
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.lsh_candidate_pairs(sigs, bands=8, sig_len=32).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert (0, 4) not in pairs


def test_minhash_deterministic(spark, docs):
    sh = dedup.shingles(docs, n=3)
    s1 = {r["id"]: r["sig"] for r in
          dedup.minhash_signatures(sh, num_hashes=16).collect()}
    s2 = {r["id"]: r["sig"] for r in
          dedup.minhash_signatures(sh, num_hashes=16).collect()}
    assert s1 == s2
    assert s1[0] == s1[1]                     # identical text -> identical sig


def test_simhash_hamming(spark, docs):
    fps = dedup.simhash(docs)
    vals = {r["id"]: r["fingerprint"] for r in fps.collect()}
    assert vals[0] == vals[1] == vals[2]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dedup.simhash_candidate_pairs(fps, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    assert 0 < pairs.get((0, 3), 99) <= 10    # near dup within distance
    assert (0, 4) not in pairs


def test_minhash_recall_vs_exact(spark):
    """LSH candidates must recover >=90% of truly similar pairs (j>=0.6)
    on a synthetic corpus with planted near-duplicates."""
    import numpy as np
    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(60):
        base = [vocab[rng.randint(200)] for _ in range(40)]
        rows.append((2 * i, " ".join(base)))
        mutated = list(base)
        for _ in range(3):
            mutated[rng.randint(40)] = vocab[rng.randint(200)]
        rows.append((2 * i + 1, " ".join(mutated)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(docs, n=3)
    truth = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(sh, threshold=0.6).collect()}
    # bands=16 (2 rows/band): candidate prob at j=0.6 is 1-(1-0.6^2)^16 ~ 0.999
    sigs = dedup.minhash_signatures(sh, num_hashes=32)
    cand = {(r["id_a"], r["id_b"]) for r in
            dedup.lsh_candidate_pairs(sigs, bands=16, sig_len=32).collect()}
    assert truth, "fixture should contain similar pairs"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.9, recall


def test_embedding_near_dups_lsh_default_superset_of_bruteforce(spark):
    """The scale-safe LSH default must find every brute-force pair at
    dedup-grade thresholds: colinear/planted duplicates share every SRP
    bucket, so candidate generation cannot miss them."""
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 16).astype(np.float32)
    for i in range(20):                 # plant exact-direction duplicates
        vecs[i + 40] = vecs[i] * 1.5
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    brute = {(r["id_a"], r["id_b"]) for r in
             dedup.embedding_near_dups_bruteforce(df, threshold=0.99).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_near_dups(df, threshold=0.99, dim=16).collect()}
    assert len(brute) == 20
    assert lsh >= brute                 # no missed duplicates
    assert lsh == brute                 # and exact verification kills noise


def test_portable_minhash_matches_xxhash_pairs_on_dups(spark):
    """hash_fn='poly' is a different hash family but identical LSH
    semantics: exact duplicate docs must collide in every band under both."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here entirely now")],
        "doc_id long, text string")
    sigs_by_fn = {
        "xxhash64": dedup.minhash_signatures(dedup.shingles(docs),
                                             num_hashes=32),
        "poly": dedup.minhash_signatures_poly_tokens(docs, num_hashes=32)}
    for fn, sigs in sigs_by_fn.items():
        pairs = {(r["id_a"], r["id_b"]) for r in
                 dedup.lsh_candidate_pairs(sigs, bands=8, sig_len=32,
                                           hash_fn=fn).collect()}
        assert pairs == {(1, 2)}, fn


def test_portable_simhash_identical_docs_zero_hamming(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha  beta gamma"),
         (3, "omega psi chi unrelated")],
        "doc_id long, text string")
    fps = dedup.simhash(docs, hash_fn="poly", n_bits=32)
    pairs = dedup.simhash_candidate_pairs(fps, max_hamming=0, n_bits=32)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0       # whitespace-normalized equal docs


def test_duplicate_clusters_components(spark):
    """Min-label propagation finds exact connected components: a 6-node
    chain (needs several rounds), a star, and an isolated pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),        # chain 1..6
         (10, 11), (10, 12), (10, 13),                  # star at 10
         (20, 21)],                                     # pair
        "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


def test_duplicate_clusters_keep_one_per_group(spark):
    """cluster_id doubles as the canonical keep id: exactly one id per
    cluster equals its cluster_id."""
    pairs = spark.createDataFrame([(7, 3), (3, 9), (100, 42)],
                                  "id_a long, id_b long")
    rows = dedup.duplicate_clusters(pairs).collect()
    keeps = [r["id"] for r in rows if r["id"] == r["cluster_id"]]
    assert sorted(keeps) == [3, 42]


def test_lsh_bucket_cap_preserves_components(spark):
    """A mega-cluster bucket under max_bucket_size switches to star pairs:
    pair count is linear in cluster size but connected components (and thus
    dedup clusters) are IDENTICAL to the all-pairs graph."""
    # 40 identical docs (one mega cluster) + 3 distinct one-off docs + a
    # small pair, all with >=3 tokens
    rows = [(i, "exact same template text body here") for i in range(40)]
    rows += [(100, "completely different words one"),
             (101, "another unrelated document two"),
             (200, "small near pair shared text alpha"),
             (201, "small near pair shared text beta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(docs)
    sigs = dedup.minhash_signatures(sh, num_hashes=32)

    allp = dedup.lsh_candidate_pairs(sigs, bands=8, sig_len=32)
    capped = dedup.lsh_candidate_pairs(sigs, bands=8, sig_len=32,
                                       max_bucket_size=10)
    n_all, n_cap = allp.count(), capped.count()
    # mega cluster: all-pairs = 40*39/2 = 780; star = 39
    assert n_all >= 780
    assert n_cap < n_all / 5          # linear, not quadratic

    c_all = {(r["id"], r["cluster_id"])
             for r in dedup.duplicate_clusters(allp).collect()}
    c_cap = {(r["id"], r["cluster_id"])
             for r in dedup.duplicate_clusters(capped).collect()}
    assert c_all == c_cap             # identical duplicate groups


def test_exact_dedup_key_is_128bit_composite(spark, docs):
    """The group key must be TWO independently-seeded xxhash64 halves
    (collision safety at trillion-doc scale): both halves in the key cols,
    and both present as grouping keys in the optimized plan."""
    cols = dedup.exact_key_cols()
    assert len(cols) == 2
    plan = dedup.exact_dedup(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("xxhash64") >= 2
    assert "text_key_hi" in plan and "text_key_lo" in plan
    # the two halves are genuinely independent hash values
    row = docs.limit(1).select(*dedup.exact_key_cols()).collect()[0]
    assert row["text_key_hi"] != row["text_key_lo"]
    # the salt must SEED the fold (xxhash64(lit, norm)), not trail it:
    # xxhash64(norm, lit) is H(lit, seed=hi) — a pure function of the
    # first half, which would leave only 64 bits of collision resistance.
    lo_expr = str(dedup.exact_key_cols()[1]._jc)
    assert lo_expr.startswith("xxhash64(1,"), lo_expr


def test_jaccard_candidate_restriction(spark, docs):
    """candidates= makes ngram_jaccard_pairs the LSH verification stage:
    output == unrestricted output semi-joined to the candidate set, for
    candidates given in either id order."""
    sh = dedup.shingles(docs, n=3)
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(sh, threshold=0.2).collect()}
    # restrict to two real pairs (one order-flipped) + one bogus pair
    cand = spark.createDataFrame([(1, 0), (0, 3), (0, 4)],
                                 "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(sh, threshold=0.2,
                                              candidates=cand).collect()}
    assert got == {k: v for k, v in full.items() if k in {(0, 1), (0, 3)}}


def test_duplicate_clusters_long_chain_pointer_jumping(spark):
    """Pointer jumping makes convergence O(log diameter): a 200-hop chain
    (plain neighborhood-min would need ~200 rounds) must converge within a
    dozen rounds and collapse to one component."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(200)],
                                  "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs, max_iters=12).collect()}
    assert got == {i: 0 for i in range(201)}


def test_duplicate_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches localCheckpoint -> reliable checkpoint():
    same result, and the checkpoint directory is actually used."""
    import os
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "id_a long, id_b long")
    ckdir = str(tmp_path / "ck")
    got = {r["id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs,
                                             checkpoint_dir=ckdir).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert os.listdir(ckdir), "reliable checkpoint dir should be non-empty"


def test_embedding_near_dups_mega_cluster_connectivity(spark):
    """A duplicate cluster LARGER than candidates_k must stay fully
    connected: least/greatest pair normalization keeps every member's link
    to the cluster's smallest ids even when top-k truncates its list."""
    import numpy as np
    rng = np.random.RandomState(3)
    base = rng.randn(16).astype(np.float32)
    rows = [(i, [float(x) for x in base * (1.0 + 0.5 * i)])  # colinear
            for i in range(12)]
    rows += [(100 + i, [float(x) for x in rng.randn(16)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_near_dups(df, threshold=0.999, dim=16,
                                      candidates_k=4)
    clusters = {r["id"]: r["cluster_id"]
                for r in dedup.duplicate_clusters(pairs).collect()}
    assert {i for i in clusters} >= set(range(12))
    assert {clusters[i] for i in range(12)} == {0}   # ONE component


def test_fuzzy_dedup_retained_with_planted_dups(spark):
    """Pipeline path (pairs=None, both hash families) and explicit-pairs
    path agree, keep each cluster's min id, and leave singletons
    untouched."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    rows = [
        (0, base + " alpha"),
        (1, base + " alpha extra"),          # near-dup of 0
        (2, base + " alpha extra"),          # exact dup of 1
        (3, "completely different text about spark catalyst plans and "
            "whole stage codegen in the optimizer pipeline"),
        (4, "yet another unrelated document mentioning streams state "
            "watermarks and exactly once file sinks"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in ("xxhash64", "poly"):
        kept = {r["doc_id"] for r in
                dedup.fuzzy_dedup_retained(docs, threshold=0.5,
                                           hash_fn=fn).collect()}
        assert kept == {0, 3, 4}, fn
    sh = dedup.shingles(docs)
    pairs = dedup.ngram_jaccard_pairs(sh, threshold=0.5) \
        .select("id_a", "id_b")
    kept2 = {r["doc_id"] for r in
             dedup.fuzzy_dedup_retained(docs, pairs=pairs).collect()}
    assert kept2 == kept
    # full rows are preserved for retained docs
    out = dedup.fuzzy_dedup_retained(docs, pairs=pairs)
    assert set(out.columns) == {"doc_id", "text"}


def test_jaccard_candidates_reflexive_pairs_dropped(spark, docs):
    """A degenerate (x, x) candidate must never produce a self-pair row."""
    sh = dedup.shingles(docs, n=3)
    cand = spark.createDataFrame([(0, 0), (3, 0)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.ngram_jaccard_pairs(sh, threshold=0.1,
                                     candidates=cand).collect()}
    assert got == {(0, 3)}


def test_rowlocal_simhash_equals_grouped(spark):
    from pysemanticcomplexity_spark.operators.dedup import (
        simhash, simhash_rowlocal)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for hf, nb in [("xxhash64", 64), ("poly", 32)]:
        a = {r["id"]: r["fingerprint"]
             for r in simhash(d, hash_fn=hf, n_bits=nb).collect()}
        b = {r["id"]: r["fingerprint"]
             for r in simhash_rowlocal(d, hash_fn=hf, n_bits=nb).collect()}
        assert a == b
    # token-less docs emit no fingerprint on either path
    empty = spark.createDataFrame([(1, " "), (2, "real text here")],
                                  "doc_id long, text string")
    assert simhash_rowlocal(empty).count() == 1
    assert simhash(empty).count() == 1


def test_streaming_simhash_pairs_equals_batch(spark, tmp_path):
    # stream-ingested near-dups across MULTIPLE micro-batches must produce
    # exactly the batch simhash -> candidate-pairs output on the same rows
    import pyspark.sql.functions as F
    from pysemanticcomplexity_spark.operators.dedup import (
        simhash, simhash_candidate_pairs)
    from pysemanticcomplexity_spark.streaming.dedup import (
        streaming_simhash_pairs)

    base = ("the quick brown fox jumps over the lazy dog while the rain "
            "in spain falls mainly on the plain and spark builds graphs")
    rows = []
    for i in range(30):
        rows.append((i, f"{base} variant token{i} closing words"))
    # exact dups of docs 3/4/5 arriving in LATER batches (cross-batch pairs)
    rows.append((103, rows[3][1]))
    rows.append((104, rows[4][1]))
    rows.append((205, rows[5][1]))
    rows.append((206, rows[5][1]))           # a 3-clique split over batches
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)

    want = {(r["id_a"], r["id_b"], r["hamming"]) for r in
            simhash_candidate_pairs(simhash(docs), max_hamming=3).collect()}
    assert want, "fixture must contain near-dup pairs"
    cross_batch = {p for p in want if p[0] < 100 and p[1] >= 100}
    assert cross_batch, "fixture must pair across micro-batches"

    src = str(tmp_path / "src")
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(rows[:31], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(rows[31:33], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(rows[33:], schema).coalesce(1) \
        .write.mode("append").parquet(src)

    fp_dir, pairs_dir, ckpt = (str(tmp_path / d)
                               for d in ("fps", "pairs", "ckpt"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream
         .foreachBatch(streaming_simhash_pairs(fp_dir, pairs_dir))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got_df = spark.read.parquet(pairs_dir)
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in got_df.collect()}
    assert got == want
    # each pair discovered exactly once (no cross-batch re-discovery)
    assert got_df.count() == len(want)
    # accumulated fingerprint table covers every ingested doc
    assert spark.read.parquet(fp_dir).select("id").distinct().count() == \
        len(rows)


def test_line_dedup_matches_python(spark):
    from pysemanticcomplexity_spark.operators.dedup import line_dedup
    rows = [
        (0, "SHARED BOILERPLATE NAVIGATION BAR X\nunique alpha content line one\nok"),
        (1, "SHARED BOILERPLATE NAVIGATION BAR X\nunique beta content line two\nok"),
        (2, "totally original document body line\nSHARED BOILERPLATE NAVIGATION BAR X"),
        (3, "short\n\nshort"),                       # nothing eligible
        (4, "  SHARED BOILERPLATE NAVIGATION BAR X  "),   # trims to a dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in line_dedup(docs, min_len=20).collect()}

    # python oracle: first occurrence of each trimmed line (>= 20 chars) wins
    seen, want = {}, {}
    for did, text in rows:
        for pos, line in enumerate(text.split("\n")):
            t = line.strip()
            if len(t) >= 20:
                seen.setdefault(t, (did, pos))
    for did, text in rows:
        kept = []
        for pos, line in enumerate(text.split("\n")):
            t = line.strip()
            if len(t) < 20 or seen[t] == (did, pos):
                kept.append(line)
        want[did] = ("\n".join(kept), len(text.split("\n")), len(kept))
    for did, (txt, n, k) in want.items():
        r = got[did]
        assert (r["text"], r["n_lines"], r["n_lines_kept"]) == (txt, n, k), did
    # the boilerplate line survives exactly once, in doc 0
    assert "SHARED BOILERPLATE" in got[0]["text"]
    assert all("SHARED BOILERPLATE" not in got[i]["text"] for i in (1, 2, 4))


def test_lsh_candidate_pairs_validates_geometry(spark, docs):
    """bands > sig_len used to slice EMPTY bands (every doc in one bucket
    -> all-pairs cross join); a non-divisor silently dropped the trailing
    hashes. Both must fail loudly."""
    import pytest as _pytest
    sh = dedup.shingles(docs)
    sigs = dedup.minhash_signatures(sh, num_hashes=4)
    with _pytest.raises(ValueError, match="bands"):
        dedup.lsh_candidate_pairs(sigs, bands=8, sig_len=4)
    with _pytest.raises(ValueError, match="bands"):
        dedup.lsh_candidate_pairs(sigs, bands=3, sig_len=4)


def test_simhash_rejects_out_of_range_bits(spark, docs):
    """n_bits > 64 silently aliased bits mod 64 (Java shift wrap) — the
    fingerprint is ONE long, so both variants must reject it."""
    import pytest as _pytest
    for fn in ("xxhash64", "poly"):
        with _pytest.raises(ValueError, match="n_bits"):
            dedup.simhash(docs, n_bits=128, hash_fn=fn)
        with _pytest.raises(ValueError, match="n_bits"):
            dedup.simhash_rowlocal(docs, n_bits=65, hash_fn=fn)
    with _pytest.raises(ValueError, match="n_bits"):
        dedup.simhash(docs, n_bits=0)


def _py_dup_spans(texts, n, min_docs, stride=1):
    """Pure-python reference: gram -> set of docs; merged intervals."""
    toks = {i: t.lower().split() for i, t in texts.items()}
    grams = {}
    for i, tk in toks.items():
        for j in range(0, len(tk) - n + 1, stride):
            grams.setdefault(tuple(tk[j:j + n]), set()).add(i)
    dup = {g for g, ids in grams.items() if len(ids) >= min_docs}
    out = {}
    for i, tk in toks.items():
        pos = [j for j in range(0, len(tk) - n + 1, stride)
               if tuple(tk[j:j + n]) in dup]
        merged = []
        for p in pos:
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], p + n)
            else:
                merged.append([p, p + n])
        out[i] = [(a, b - a) for a, b in merged]
    return out


def test_duplicate_spans_matches_python(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    texts = {
        0: f"intro one two three {shared} tail zero",
        1: f"other start {shared} different ending here",
        2: "completely unrelated text with no overlap at all",
        3: f"{shared} {shared} twice",          # cross-doc AND self-repeat
        4: "self self self self self self self self self only",  # self only
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    for n, stride in ((5, 1), (4, 2)):
        got = {}
        for r in dedup.duplicate_spans(df, n=n, min_docs=2,
                                       stride=stride).collect():
            got.setdefault(r["id"], []).append((r["tok_start"], r["tok_len"]))
        want = {i: v for i, v in
                _py_dup_spans(texts, n, 2, stride).items() if v}
        assert {k: sorted(v) for k, v in got.items()} == want, (n, stride)
    # doc 4 repeats only within itself: min_docs=2 must NOT flag it
    assert 4 not in {r["id"] for r in
                     dedup.duplicate_spans(df, n=5, min_docs=2).collect()}


def test_duplicate_span_stats_accounting(spark):
    shared = "w x y z a b c d"
    df = spark.createDataFrame(
        [(0, f"{shared} unique tail piece"),
         (1, f"lead in {shared}"),
         (2, "nothing shared here at all truly")],
        "doc_id long, text string")
    got = {r["id"]: r for r in
           dedup.duplicate_span_stats(df, n=8, min_docs=2).collect()}
    assert set(got) == {0, 1, 2}                 # every doc gets a row
    assert got[0]["n_dup_tokens"] == 8 and got[0]["n_tokens"] == 11
    assert got[1]["n_dup_tokens"] == 8 and got[1]["n_tokens"] == 10
    assert got[2]["n_dup_tokens"] == 0 and got[2]["dup_frac"] == 0.0
    assert abs(got[0]["dup_frac"] - 8 / 11) < 1e-8
    import pytest as _pytest
    with _pytest.raises(ValueError, match="stride"):
        dedup.ngram_span_hashes(df, n=4, stride=0)
    with _pytest.raises(ValueError, match="hash_fn"):
        dedup.ngram_span_hashes(df, n=4, hash_fn="nope")


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup
# ---------------------------------------------------------------------------

def _bloom_corpus(spark, n=400):
    rows = [(i, f"document number {i} with some distinct words {i * 7}")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bloom_no_false_negatives(spark):
    """Every key that went into the filter MUST flag possibly_seen."""
    docs = _bloom_corpus(spark)
    prior = docs.filter(F.col("doc_id") % 4 != 3)
    bm = dedup.bloom_build(prior, n_bits=1 << 16, n_hashes=4)
    flagged = dedup.bloom_flag(docs, bm, n_hashes=4)
    seen = {r["doc_id"]: r["possibly_seen"] for r in flagged.collect()}
    assert all(seen[i] for i in seen if i % 4 != 3)


def test_bloom_false_positive_rate_bounded(spark):
    """Novel keys mostly pass: 300 keys in a 2^16-bit filter with 4
    hashes gives a theoretical FP rate ~ (1-e^(-4*300/65536))^4 ~ 1e-7;
    allow a generous 5% margin for hash clustering."""
    docs = _bloom_corpus(spark)
    prior = docs.filter(F.col("doc_id") % 4 != 3)
    bm = dedup.bloom_build(prior, n_bits=1 << 16, n_hashes=4)
    flagged = dedup.bloom_flag(docs, bm, n_hashes=4)
    novel = [r for r in flagged.collect() if r["doc_id"] % 4 == 3]
    fp = sum(1 for r in novel if r["possibly_seen"]) / len(novel)
    assert fp <= 0.05


def test_bloom_novel_excludes_all_true_dups(spark):
    docs = _bloom_corpus(spark)
    prior = docs.filter(F.col("doc_id") % 4 != 3)
    kept = {r["doc_id"] for r in
            dedup.bloom_novel(docs, prior, n_bits=1 << 16).collect()}
    assert not kept & {i for i in range(400) if i % 4 != 3}
    assert kept                                    # some novel rows survive
    assert kept <= {i for i in range(400) if i % 4 == 3}


def test_bloom_poly_matches_python_replica(spark):
    """The engine-portable variant equals a brute-force python Bloom."""
    docs = _bloom_corpus(spark, n=100)
    prior_ids = [i for i in range(100) if i % 3 == 0]
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    n_bits, k = 1 << 10, 3

    def norm(t):
        import re
        return re.sub(r"\s+", " ", t.strip().lower())

    def poly(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % dedup.POLY_MOD
        return h

    def positions(t):
        h0 = poly(norm(t))
        h = (((h0 * dedup.POLY_SCATTER_A + dedup.POLY_SCATTER_B)
              % dedup.POLY_MOD)
             * ((h0 * 1_000_003 + 17) % dedup.POLY_MOD)) % dedup.POLY_MOD
        return [((h * a + b) % dedup.POLY_MOD) % n_bits
                for a, b in dedup.minhash_seeds(k)]

    texts = {i: f"document number {i} with some distinct words {i * 7}"
             for i in range(100)}
    bits = {p for i in prior_ids for p in positions(texts[i])}
    want = {i: all(p in bits for p in positions(texts[i])) for i in texts}

    bm = dedup.bloom_build(prior, n_bits=n_bits, n_hashes=k, hash_fn="poly")
    got = {r["doc_id"]: r["possibly_seen"] for r in
           dedup.bloom_flag(docs, bm, n_hashes=k, hash_fn="poly").collect()}
    assert got == want


def test_bloom_probe_plan_shape(spark):
    """Probe = zero Exchange, exactly ONE ArrowEvalPython (the gather)."""
    from pysemanticcomplexity_spark import plans
    docs = _bloom_corpus(spark, n=50)
    bm = dedup.bloom_build(docs, n_bits=1 << 12)
    flagged = dedup.bloom_flag(docs, bm)
    plan = plans.executed_plan(flagged)
    assert plan.count("ArrowEvalPython") == 1
    assert plans.count_shuffles(flagged) == 0


def test_bloom_null_text_and_params(spark):
    import pytest as _pytest
    docs = spark.createDataFrame([(1, None), (2, "")],
                                 "doc_id long, text string")
    bm = dedup.bloom_build(docs.filter("doc_id = 1"), n_bits=1 << 10)
    got = {r["doc_id"]: r["possibly_seen"] for r in
           dedup.bloom_flag(docs, bm).collect()}
    assert got == {1: True, 2: True}     # null normalizes to '' like ''
    with _pytest.raises(ValueError, match="n_bits"):
        dedup.bloom_build(docs, n_bits=100)
    with _pytest.raises(ValueError, match="n_hashes"):
        dedup.bloom_build(docs, n_hashes=0)
    with _pytest.raises(ValueError, match="hash_fn"):
        dedup.bloom_build(docs, hash_fn="nope")


def test_streaming_bloom_novel_sequential_replay(spark, tmp_path):
    """The accumulated-bloom frontier must equal an exact python replay:
    per batch, rows not in the prior-batch bitset survive (first id per
    normalized text within the batch), and only EMITTED keys enter the
    filter."""
    from pysemanticcomplexity_spark.streaming.dedup import (
        streaming_bloom_novel)

    n_bits, k = 1 << 10, 3
    batches = [
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta"),
         (2, "ALPHA   beta gamma"),              # within-batch dup of 0
         (3, "eta theta iota")],
        [(10, "delta epsilon zeta"),             # cross-batch dup of 1
         (11, "kappa lambda mu"), (12, "nu xi omicron")],
        [(20, "kappa lambda mu"),                # cross-batch dup of 11
         (21, "pi rho sigma"), (22, "eta  THETA iota")],  # dup of 3
    ]

    import re

    def norm(t):
        return re.sub(r"\s+", " ", t.strip().lower())

    def positions(t):
        h = 0
        for c in norm(t):
            h = (h * 31 + ord(c)) % dedup.POLY_MOD
        h = (((h * dedup.POLY_SCATTER_A + dedup.POLY_SCATTER_B)
              % dedup.POLY_MOD)
             * ((h * 1_000_003 + 17) % dedup.POLY_MOD)) % dedup.POLY_MOD
        return [((h * a + b) % dedup.POLY_MOD) % n_bits
                for a, b in dedup.minhash_seeds(k)]

    bitset, want = set(), set()
    for rows in batches:
        emitted_keys = {}
        for i, t in sorted(rows):
            nk = norm(t)
            if all(p in bitset for p in positions(t)):
                continue                          # seen in a prior batch
            if nk in emitted_keys:
                continue                          # within-batch first wins
            emitted_keys[nk] = i
            want.add(i)
        for nk in emitted_keys:
            bitset.update(positions(nk))          # positions of the key

    words_dir, novel_dir = str(tmp_path / "words"), str(tmp_path / "novel")
    process = streaming_bloom_novel(words_dir, novel_dir, n_bits=n_bits,
                                    n_hashes=k, hash_fn="poly")
    schema = "doc_id long, text string"
    for bid, rows in enumerate(batches):
        process(spark.createDataFrame(rows, schema), bid)

    got = {r["doc_id"] for r in spark.read.parquet(novel_dir).collect()}
    assert got == want
    assert 0 in got and 2 not in got             # within-batch dedup
    assert 10 not in got and 20 not in got and 22 not in got

    # idempotency: replaying batch 1 rewrites exactly its own partition
    before = sorted(map(tuple, spark.read.parquet(novel_dir).collect()))
    process(spark.createDataFrame(batches[1], schema), 1)
    after = sorted(map(tuple, spark.read.parquet(novel_dir).collect()))
    assert before == after


# ---------------------------------------------------------------------------
# HyperLogLog cardinality sketch
# ---------------------------------------------------------------------------

def _keys_df(spark, n, dups=0):
    rows = [(i, f"unique key number {i}") for i in range(n)]
    rows += [(n + j, f"unique key number {j % n}") for j in range(dups)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hll_estimate_within_error_bound(spark):
    n = 5000
    est = dedup.approx_distinct(_keys_df(spark, n), p=12)
    assert abs(est - n) / n < 0.05           # sigma ~ 1.04/sqrt(4096) = 1.6%


def test_hll_duplicates_do_not_move_registers(spark):
    a = dedup.hll_registers(_keys_df(spark, 800), p=10)
    b = dedup.hll_registers(_keys_df(spark, 800, dups=1600), p=10)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hll_small_range_linear_counting(spark):
    n = 40
    est = dedup.approx_distinct(_keys_df(spark, n), p=12)
    assert abs(est - n) / n < 0.05           # linear-counting regime


def test_hll_registers_merge_by_max(spark):
    """Sketches of shards union by per-bucket MAX — the associative merge
    that makes the sketch distributable and cross-system mergeable."""
    import pyspark.sql.functions as F
    df = _keys_df(spark, 1000)
    full = {r["bucket"]: r["max_rho"]
            for r in dedup.hll_registers(df, p=10).collect()}
    s1 = {r["bucket"]: r["max_rho"] for r in
          dedup.hll_registers(df.filter("doc_id < 400"), p=10).collect()}
    s2 = {r["bucket"]: r["max_rho"] for r in
          dedup.hll_registers(df.filter("doc_id >= 400"), p=10).collect()}
    merged = {b: max(s1.get(b, 0), s2.get(b, 0)) for b in set(s1) | set(s2)}
    assert merged == full


def test_hll_poly_matches_python_replica(spark):
    n, p = 200, 8
    (a1, b1), (a2, b2), (a3, b3) = dedup.minhash_seeds(3)

    def poly(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % dedup.POLY_MOD
        return h

    want = {}
    for i in range(n):
        h0 = poly(f"unique key number {i}")
        h = (((h0 * dedup.POLY_SCATTER_A + dedup.POLY_SCATTER_B)
              % dedup.POLY_MOD)
             * ((h0 * 1_000_003 + 17) % dedup.POLY_MOD)) % dedup.POLY_MOD
        bkt = ((h * a1 + b1) % dedup.POLY_MOD) % (1 << p)
        wide = (((h * a2 + b2) % dedup.POLY_MOD) * dedup.POLY_MOD
                + (h * a3 + b3) % dedup.POLY_MOD)
        v = wide % (1 << 30)
        rho = 31 if v == 0 else 30 - v.bit_length() + 1
        want[bkt] = max(want.get(bkt, 0), rho)
    got = {r["bucket"]: r["max_rho"] for r in
           dedup.hll_registers(_keys_df(spark, n), p=p,
                               hash_fn="poly").collect()}
    assert got == want


def test_hll_poly_estimate_unbiased(spark):
    """The poly rho source must be ~uniform on 2^30 values: one affine
    value is < 2^30, so `mod` would be the identity and estimates would
    run ~4% high (caught in review; two combined values fix it)."""
    n = 5000
    est = dedup.approx_distinct(_keys_df(spark, n), p=12, hash_fn="poly")
    assert abs(est - n) / n < 0.05


def test_hll_deterministic_across_partitionings(spark):
    df = _keys_df(spark, 500)
    a = dedup.hll_registers(df.repartition(1), p=9).collect()
    b = dedup.hll_registers(df.repartition(13, "text"), p=9).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hll_validates(spark):
    import pytest as _pytest
    df = _keys_df(spark, 10)
    with _pytest.raises(ValueError, match="p must"):
        dedup.hll_registers(df, p=3)
    with _pytest.raises(ValueError, match="hash_fn"):
        dedup.hll_registers(df, hash_fn="nope")
    with _pytest.raises(ValueError, match="p must"):
        dedup.hll_estimate([], p=50)


def test_bloom_sharded_equals_broadcast(spark):
    """The sharded word-table path must be bit-for-bit identical to the
    collect+broadcast path: same word table, same per-doc flags — for
    both hash families."""
    import numpy as np
    docs = _bloom_corpus(spark)
    prior = docs.filter(F.col("doc_id") % 4 != 3)
    for hash_fn in ("xxhash", "poly"):
        bm = dedup.bloom_build(prior, n_bits=1 << 16, n_hashes=4,
                               hash_fn=hash_fn)
        words = dedup.bloom_word_table(prior, n_bits=1 << 16, n_hashes=4,
                                       hash_fn=hash_fn)
        bm2 = dedup._words_to_bitmap(words.collect(), 1 << 16)
        assert np.array_equal(bm, bm2), hash_fn
        a = {r["doc_id"]: r["possibly_seen"] for r in
             dedup.bloom_flag(docs, bm, n_hashes=4,
                              hash_fn=hash_fn).collect()}
        b = {r["doc_id"]: r["possibly_seen"] for r in
             dedup.bloom_flag_sharded(docs, words, n_hashes=4,
                                      n_bits=1 << 16,
                                      hash_fn=hash_fn).collect()}
        assert a == b, hash_fn


def _py_poly_minhash(text, n, num_hashes):
    """Per-shingle-string transcription of the portable minhash: normalize
    (lower, trim spaces, collapse whitespace), take the distinct n-token
    shingle strings, poly-fold each one, then the seeded affine minima.
    None for a text without shingles."""
    toks = re.sub(r"\s+", " ", text.lower().strip(" "), flags=re.ASCII) \
        .split(" ")
    grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    grams.discard("")
    if not grams:
        return None
    p = dedup.POLY_MOD
    hs = []
    for g in grams:
        acc = 0
        for ch in g:
            acc = (acc * 31 + ord(ch)) % p
        hs.append(acc)
    return [min((a * h + b) % p for h in hs)
            for a, b in dedup.minhash_seeds(num_hashes)]


def test_minhash_two_level_signatures_identical(spark, docs):
    """The two-level token-hash path (round-6 D3 optimization) must produce
    exactly the signatures of folding every shingle string."""
    extra = spark.createDataFrame(
        [(8, "tab\tseparated Words\nand  new lines here"),
         (9, "one two three")], "doc_id long, text string")
    both = docs.unionByName(extra)
    want = {r["doc_id"]: _py_poly_minhash(r["text"], 3, 16)
            for r in both.collect()}
    want = {k: v for k, v in want.items() if v is not None}
    got = {r["id"]: list(r["sig"]) for r in
           dedup.minhash_signatures_poly_tokens(
               both, n=3, num_hashes=16).collect()}
    assert got == want and len(want) == 8
