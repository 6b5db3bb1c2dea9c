"""Dedup family: exact, MinHash-LSH (recall vs exact), SimHash properties."""

import math

from pyspark.sql import functions as F

from kafka_streams_demo_spark.functions.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_pairs,
)
from kafka_streams_demo_spark.functions.text import tokenize
from kafka_streams_demo_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    got = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(docs).collect()}
    assert got == {1: 2, 3: 1}


def test_ngram_jaccard_identical_and_disjoint(spark):
    docs = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # identical → J=1
        (3, "completely different words here entirely now"),  # disjoint
    ])
    pairs = {(r["i"], r["j"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs == {(1, 2): 1.0}


def test_minhash_lsh_matches_exact_at_high_threshold(spark):
    """On the driver corpus the planted near-dups have J ≥ 0.8 where LSH
    recall is ≈1 — LSH + exact-verify must equal the exact method.

    Also reports the NEAR-THRESHOLD MARGIN (ADVICE r11): the weakest true
    pair's Jaccard and its theoretical banding miss probability
    (1-J⁴)¹⁶ — the number that says whether a future red on new data is
    a banding-recall tail event or a real regression."""
    docs = load_table(spark, "documents", SF)
    exact_j = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    exact = set(exact_j)
    lsh = {(r["i"], r["j"]) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert lsh == exact
    assert len(exact) > 0  # the corpus does contain planted near-dups
    jmin = min(exact_j.values())
    miss_p = (1 - jmin**4) ** 16
    print(
        f"minhash_lsh_pairs weakest true pair J={jmin:.4f}, "
        f"banding miss probability {miss_p:.2e} "
        f"(sum over {len(exact)} pairs: {miss_p * len(exact):.2e})"
    )


def test_minhash_lsh_precision_is_exact(spark):
    """Verification step makes precision exact: every reported pair really
    has J ≥ threshold (check against the exact scorer at a lower cut)."""
    docs = load_table(spark, "documents", SF)
    all_true = {(r["i"], r["j"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    for r in minhash_lsh_pairs(docs, threshold=0.8).collect():
        assert all_true[(r["i"], r["j"])] >= 0.8


def test_simhash_deterministic_and_similarity_sensitive(spark):
    docs = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # identical
        (3, "the quick brown fox jumps over the lazy cat today"),  # 1 word off
        (4, "zeta eta theta iota kappa lambda mu nu xi omicron"),  # unrelated
    ])
    sigs = {r["doc_id"]: r["sig"] for r in docs.select(
        "doc_id", simhash64(tokenize(F.col("text"))).alias("sig")).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    ham_13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    ham_14 = bin((sigs[1] ^ sigs[4]) & (2**64 - 1)).count("1")
    assert ham_13 < ham_14  # near-dup closer than unrelated


def test_simhash_pairs_finds_identical(spark):
    docs = _docs(spark, [
        (1, "one two three four five six seven eight nine ten"),
        (2, "one two three four five six seven eight nine ten"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ])
    got = {(r["i"], r["j"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert got == {(1, 2): 0}


def test_embedding_cosine_pairs_detects_copies(spark):
    """Identical vectors in one block → cos 1.0 pair; orthogonal vectors
    stay out; i<j canonical orientation; threshold respected."""
    from kafka_streams_demo_spark.functions.dedup import embedding_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0]),
            (2, 0, [1.0, 0.0, 0.0]),     # exact copy of 1
            (3, 0, [0.0, 1.0, 0.0]),     # orthogonal
            (4, 1, [1.0, 0.0, 0.0]),     # copy of 1 but different block
            (5, 0, [0.9, 0.1, 0.0]),     # near-dup of 1
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = {(r["i"], r["j"]): r["cos"] for r in
           embedding_cosine_pairs(df, threshold=0.9, block_col="label").collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 4) not in got          # blocking: cross-block pair never scored
    assert (2, 1) not in got          # canonical i<j only
    assert all(c >= 0.9 for c in got.values())
    assert (1, 5) in got and got[(1, 5)] < 1.0


def _fold_cosine(va, vb):
    """Plain-Python reference cosine: dot and norms as sequential left
    folds over dimensions, rounded HALF_UP to 6 dp like Spark's round.
    None (no pair) where the cosine is undefined: unequal lengths, a
    NULL or NaN element, a zero norm."""
    from decimal import ROUND_HALF_UP, Decimal

    if len(va) != len(vb) or None in va or None in vb:
        return None
    dot = na = nb = 0.0
    for x, y in zip(va, vb):
        dot += x * y
        na += x * x
        nb += y * y
    den = math.sqrt(na) * math.sqrt(nb)
    raw = dot / den if den else math.nan
    if math.isnan(raw):
        return None
    # Spark rounds BigDecimal(Double.toString(x)): the shortest repr
    return float(Decimal(repr(raw)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def test_embedding_cosine_pairs_impls_are_bit_identical(spark):
    """The numpy block kernel must emit exactly the pair set and bit-equal
    cosines of an independent plain-Python sequential fold. Fixture
    stresses the boundaries: near-threshold cosines, ties, a >2-member
    clique, negative components, and a NaN-element, an unequal-length
    and a NULL-element vector (no defined cosine, so no pairs), at two
    thresholds."""
    from kafka_streams_demo_spark.functions.dedup import embedding_cosine_pairs

    rows = []
    # a clique of near-duplicates around [1, 0, 0] plus scattered points
    base = [(1.0, 0.0, 0.0), (0.999, 0.01, 0.0), (0.98, 0.1, -0.05),
            (0.6, 0.6, 0.3), (-1.0, 0.0, 0.0), (0.7072, 0.7070, 0.0),
            (0.35, 0.35, 0.0), (1e-30, 0.0, 0.0)]
    for blk in range(3):
        for k, v in enumerate(base):
            rows.append((blk * 100 + k, blk, [x + blk * 0.001 for x in v]))
    rows += [
        (989, 1, [math.nan, 0.0, 1.0]),
        (990, 0, [1.0, 0.0]),
        (991, 0, [1.0, None, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    for thr in (0.35, 0.9999):
        got = {(r["i"], r["j"]): r["cos"] for r in
               embedding_cosine_pairs(df, threshold=thr, block_col="label").collect()}
        want = {}
        for i, bi, vi in rows:
            for j, bj, vj in rows:
                if i < j and bi == bj:
                    c = _fold_cosine(vi, vj)
                    if c is not None and c >= thr:
                        want[(i, j)] = c
        assert got == want, thr
        assert got  # non-trivial
        assert not any(989 in k or 990 in k or 991 in k for k in got)


def test_minhash_sig_impls_are_bit_identical(spark):
    """The Arrow signature kernel must equal the groupBy formulation
    ``minhash_signatures`` on the sf0.001 corpus plus boundary docs:
    '_'-bearing words, unicode, and shingle-less docs (too few words),
    whose signature is null and which the reference omits."""
    from kafka_streams_demo_spark.functions.dedup import (
        doc_shingle_sets,
        minhash_sig_array,
        minhash_signatures,
    )

    docs = load_table(spark, "documents", SF).select("doc_id", "text").unionByName(
        _docs(spark, [
            (-1, "a_b c_d e_f g"),
            (-2, "naïve café déjà vu naïve café"),
            (-3, "too short"),
            (-4, ""),
        ])
    )
    ds = doc_shingle_sets(docs)
    got = {r["doc_id"]: r["sig"] for r in minhash_sig_array(ds).collect()}
    ref = minhash_signatures(ds.select("doc_id", F.explode("shset").alias("s")))
    nh = len(ref.columns) - 1
    want = {r["doc_id"]: [r[f"h{i}"] for i in range(nh)] for r in ref.collect()}
    assert {k: v for k, v in got.items() if v is not None} == want
    assert got[-3] is None and got[-4] is None
    assert -1 in want and -2 in want


def test_simhash_sig_impls_are_bit_identical(spark):
    """The Arrow SimHash kernel must equal the column-expression majority
    vote ``simhash_from_hashes`` (the one public simhash64 uses),
    including empty token arrays (signature 0)."""
    from pyspark.sql import functions as F2

    from kafka_streams_demo_spark.functions.dedup import simhash_from_hashes, simhash_sig

    docs = load_table(spark, "documents", SF).select("doc_id", "text").unionByName(
        _docs(spark, [(-1, ""), (-2, "naïve café a_b")])
    )
    hashed = docs.select(
        F2.col("doc_id"),
        F2.transform(tokenize(F2.col("text")), lambda t: F2.xxhash64(t)).alias("_th"),
    )
    got = {r["doc_id"]: r["sig"] for r in simhash_sig(hashed).collect()}
    want = {r["doc_id"]: r["sig"] for r in
            hashed.select("doc_id", simhash_from_hashes(F2.col("_th")).alias("sig")).collect()}
    assert got == want
    assert any(v != 0 for v in got.values())


def test_ngram_jaccard_max_doc_freq_drops_boilerplate_pairs(spark):
    """A huge cap changes nothing; capping at 2 kills the pair held
    together only by a 3-doc boilerplate shingle while identical docs
    (private shingles) survive."""
    boiler = "lorem ipsum dolor sit amet consectetur"
    docs = _docs(spark, [
        (1, f"unique alpha beta gamma delta {boiler}"),
        (2, f"unique alpha beta gamma delta {boiler}"),   # true near-dup of 1
        (3, f"totally other words entirely here {boiler}"),  # boilerplate-only overlap
    ])
    uncapped = {(r["i"], r["j"]) for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    huge_cap = {(r["i"], r["j"]) for r in
                ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=100).collect()}
    assert huge_cap == uncapped
    capped = {(r["i"], r["j"]) for r in
              ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=2).collect()}
    assert (1, 2) in capped
    assert (1, 3) not in capped and (2, 3) not in capped
    assert (1, 3) in uncapped  # boilerplate DID pair them without the cap


def test_minhash_groupby_formulation_matches_array_formulation(spark):
    """The map-side-combine groupBy formulation (the shape you'd use when
    shingles arrive pre-exploded, e.g. from a shuffle-partitioned corpus)
    produces the same signatures as the row-local array formulation."""
    from kafka_streams_demo_spark.functions.dedup import (
        doc_shingle_sets,
        minhash_sig_array,
        minhash_signatures,
        shingle_rows,
    )

    docs = load_table(spark, "documents", SF)
    by_rows = minhash_signatures(shingle_rows(docs))
    nh = len(by_rows.columns) - 1
    a = {
        r["doc_id"]: [r[f"h{i}"] for i in range(nh)]
        for r in by_rows.collect()
    }
    b = {
        r["doc_id"]: r["sig"]
        for r in minhash_sig_array(doc_shingle_sets(docs)).collect()
        if r["sig"] is not None
    }
    assert a == b  # shingle-less docs appear in neither


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (needs >1 propagation round), a separate 2-clique,
    and an untouched node: every node lands on its component's min id."""
    from kafka_streams_demo_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "i long, j long"
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_dedup_clusters_canonical_election(spark):
    """Full-corpus assignment: singletons self-cluster and are canonical;
    exactly one canonical per cluster (the min id)."""
    from kafka_streams_demo_spark.functions.dedup import dedup_clusters

    docs = _docs(spark, [(1, "a"), (2, "a"), (3, "a"), (7, "z")])
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "i long, j long")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in dedup_clusters(docs, pairs).collect()}
    assert rows == {1: (1, 1), 2: (1, 0), 3: (1, 0), 7: (7, 1)}


def test_ngram_jaccard_default_cap_guards_hot_shingle(spark):
    """The scale-safe default (max_doc_freq=1000) must drop a shingle shared
    by >1000 docs from the pairing join: a boilerplate phrase stamped on
    1050 otherwise-unrelated docs produces ZERO pairs under the default
    (the would-be ~550k boilerplate-only pairs never enter the join),
    while a genuinely identical pair with private shingles still matches."""
    boiler = "standard footer text appended to every crawled page"
    rows = [(i, f"unique{i} w{i}a w{i}b w{i}c {boiler}") for i in range(1050)]
    rows += [(2001, "private alpha beta gamma delta epsilon"),
             (2002, "private alpha beta gamma delta epsilon")]
    docs = _docs(spark, rows)
    got = {(r["i"], r["j"]) for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert got == {(2001, 2002)}


def test_minhash_bucket_cap_drops_giant_dup_cluster(spark):
    """max_bucket_size backstop: a 30-copy exact-dup cluster (identical
    signatures → one 30-doc bucket per band) is dropped at cap=10 while a
    separate near-dup pair still pairs; at the default cap the cluster's
    full 435-pair expansion comes back."""
    dup = "identical duplicated document body repeated verbatim each time"
    rows = [(i, dup) for i in range(30)]
    rows += [(101, "near duplicate text one two three four five six seven"),
             (102, "near duplicate text one two three four five six eight")]
    docs = _docs(spark, rows)
    capped = {(r["i"], r["j"]) for r in
              minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=10).collect()}
    assert capped == {(101, 102)}
    full = {(r["i"], r["j"]) for r in
            minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert {(i, j) for i in range(30) for j in range(i + 1, 30)} <= full
    assert (101, 102) in full


def test_embedding_block_cap_bounds_hot_block(spark):
    """A skewed blocking key (one label holding most vectors) must not
    re-create the all-pairs blow-up: blocks over max_block_size drop out
    of pairing entirely (documented lower bound), small blocks keep their
    pairs (VERDICT r3 #3 — mirror of minhash's max_bucket_size)."""
    from kafka_streams_demo_spark.functions.dedup import (
        embedding_cosine_pairs,
        embedding_knn_blocked,
    )

    rows = [(i, 0, [1.0, 0.0, float(i) * 1e-4]) for i in range(10)]  # hot block
    rows += [(100, 1, [0.0, 1.0, 0.0]), (101, 1, [0.0, 1.0, 0.0])]   # small block
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")

    capped = embedding_cosine_pairs(
        df, threshold=0.5, block_col="label", max_block_size=3
    ).collect()
    assert {(r["i"], r["j"]) for r in capped} == {(100, 101)}
    assert len(capped) <= 3 * 3  # bounded by cap², never 10²

    knn = embedding_knn_blocked(df, block_col="label", k=1, max_block_size=3).collect()
    assert {r["i"] for r in knn} == {100, 101}

    # cap off → exact all-pairs within every block
    full = embedding_cosine_pairs(
        df, threshold=0.5, block_col="label", max_block_size=None
    )
    assert full.count() == 45 + 1  # C(10,2) hot-block pairs + the small pair


def test_ngram_jaccard_doc_freq_guard_shrinks_join_and_lower_bounds(spark):
    """Boilerplate-shingle corpus (VERDICT r3 #6): every doc shares a hot
    header, two docs are genuine near-dups. The max_doc_freq guard must
    (a) shrink the pairing-join input, (b) keep genuine pairs with
    jaccard ≤ the exact value (lower bound), (c) drop pairs held together
    ONLY by boilerplate."""
    from kafka_streams_demo_spark.functions.dedup import (
        ngram_jaccard_pairs,
        shingle_rows,
    )

    boiler = "terms of service apply to all content here"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique filler {i} body text {i * 7} own words {i}")
         for i in range(20)]
        + [(100, f"{boiler} the quick brown fox jumps over the lazy dog"),
           (101, f"{boiler} the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )

    # (a) the guard's anti-join shrinks the pairing input
    sh = shingle_rows(docs, n=3)
    hot = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
           .filter(F.col("_df") > 5).select("s"))
    assert hot.count() > 0, "boilerplate corpus produced no hot shingles"
    kept = sh.join(hot, "s", "left_anti").count()
    assert kept < sh.count()

    exact = {(r["i"], r["j"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                          max_doc_freq=None).collect()}
    guarded = {(r["i"], r["j"]): r["jaccard"]
               for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                            max_doc_freq=5).collect()}
    # (b) the genuine near-dup pair survives, at a not-higher jaccard
    assert (100, 101) in exact and (100, 101) in guarded
    assert guarded[(100, 101)] <= exact[(100, 101)]
    # (c) guarded is a subset of exact (lower bound can only drop pairs),
    # and boilerplate-only pairs (filler docs i<j<20) are gone
    assert set(guarded) <= set(exact)
    assert not {(i, j) for (i, j) in guarded if i < 20 and j < 20}


def test_embedding_cap_error_mode_fails_loudly(spark):
    """ADVICE r4: the silent-drop cap is invisible unless audited — the
    on_oversized='error' opt-in must fail the job in-plan, naming the
    offending block, while leaving compliant inputs untouched."""
    import pytest

    from kafka_streams_demo_spark.functions.dedup import embedding_cosine_pairs

    rows = [(i, 0, [1.0, 0.0]) for i in range(6)] + [(100, 1, [0.0, 1.0]),
                                                     (101, 1, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    with pytest.raises(Exception, match="max_block_size"):
        embedding_cosine_pairs(
            df, threshold=0.5, max_block_size=3, on_oversized="error"
        ).collect()
    # no oversized block → error mode is a pass-through
    ok = embedding_cosine_pairs(
        df, threshold=0.5, max_block_size=6, on_oversized="error"
    )
    assert {(r["i"], r["j"]) for r in ok.collect()} >= {(100, 101)}
    with pytest.raises(ValueError, match="on_oversized"):
        embedding_cosine_pairs(df, max_block_size=3, on_oversized="warn")


def test_minhash_incremental_equals_batch_restricted_to_delta(spark):
    """Index+delta dedup: signatures computed only for the new batch,
    corpus via its persisted minhash_index rows — the result must equal
    the full batch run restricted to pairs touching a new doc, BIT FOR
    BIT (same hash family, deterministic). Old×old pairs are excluded;
    index rows from a previous 'run' compose with the delta's."""
    from kafka_streams_demo_spark.functions.dedup import (
        minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base_text.replace("dog", f"dog{i % 3}")) for i in range(12)]
    rows += [(50, "completely unrelated words live over here in this doc"),
             (51, "completely unrelated words live over here in that doc")]
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = all_docs.filter(F.col("doc_id") < 8)
    new = all_docs.filter(F.col("doc_id") >= 8)

    batch = {(r["i"], r["j"]): r["jaccard"] for r in
             minhash_lsh_pairs(all_docs, n=3, threshold=0.5).collect()}
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {p: jac for p, jac in batch.items()
                if p[0] in new_ids or p[1] in new_ids}
    assert expected, "fixture produced no cross-delta near-dup pairs"
    assert any(p[0] < 8 for p in expected), "no old×new pair in fixture"

    idx = minhash_index(old, n=3)
    got = {(r["i"], r["j"]): r["jaccard"] for r in
           minhash_lsh_pairs_incremental(
               new, idx, all_docs, n=3, threshold=0.5).collect()}
    assert got == expected
    # old×old pairs never re-emitted
    assert not any(p[0] < 8 and p[1] < 8 for p in got)
    # hot-bucket cap: cap 1 drops every bucket with >1 member → no pairs
    assert minhash_lsh_pairs_incremental(
        new, idx, all_docs, n=3, threshold=0.5, max_bucket_size=1
    ).count() == 0


def test_contamination_overlap_pairs_flags_and_guards(spark):
    """The pair-level drop-list: a train doc embedding an eval doc's
    passage is flagged with the exact distinct-shingle overlap; unrelated
    docs are not; min_shared thresholds; the hot-shingle guard drops
    boilerplate-only pairs (documented lower bound)."""
    from kafka_streams_demo_spark.functions.dedup import (
        contamination_overlap_pairs,
    )

    passage = "the quick brown fox jumps over the lazy dog tonight"
    boiler = "terms of service apply here"
    train = spark.createDataFrame(
        [(1, f"intro words {passage} outro words"),       # embeds the passage
         (2, f"{boiler} unrelated body text entirely"),   # only boilerplate
         (3, "completely different content here now")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"{passage} question follows"),
         (101, f"{boiler} what is two plus two")],
        "doc_id long, text string",
    )
    got = {(r["train_id"], r["eval_id"]): r["n_shared"]
           for r in contamination_overlap_pairs(train, ev, n=4, min_shared=2).collect()}
    # passage has 10 words → 7 4-gram shingles shared by (1, 100)
    assert got[(1, 100)] == 7
    assert (3, 100) not in got and (3, 101) not in got
    # boilerplate: 5 words → 2 shared 4-grams for (2, 101)
    assert got[(2, 101)] == 2
    # threshold: min_shared=8 drops everything
    assert contamination_overlap_pairs(train, ev, n=4, min_shared=8).count() == 0
    # hot-shingle guard: cap at doc-freq 0 removes ALL train shingles →
    # nothing can pair (degenerate but pins the anti-join plumbing)
    assert contamination_overlap_pairs(
        train, ev, n=4, min_shared=1, max_doc_freq=0
    ).count() == 0


def test_paragraph_dedup_removes_boilerplate_keeps_first(spark):
    """CCNet/Dolma-style corpus paragraph dedup: a banner shared by three
    docs survives only in the first (doc, position) occurrence; unique
    paragraphs are untouched; a doc that is ALL boilerplate rebuilds to
    ''; within-doc repeats drop too."""
    from kafka_streams_demo_spark.functions.dedup import paragraph_dedup

    banner = "accept all cookies"
    docs = spark.createDataFrame(
        [(1, f"{banner}\n\nalpha text one"),
         (2, f"{banner}\n\nbeta text two\n\n{banner}"),
         (3, banner)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_kept"], r["n_dropped"], r["new_text"])
           for r in paragraph_dedup(docs, delimiter="\n\n").collect()}
    assert got[1] == (2, 0, f"{banner}\n\nalpha text one")
    assert got[2] == (1, 2, "beta text two")   # both banner copies dropped
    assert got[3] == (0, 1, "")                # all-boilerplate doc empties
    # conservation: kept + dropped == total paragraphs
    assert sum(k + d for k, d, _ in got.values()) == 6


def test_paragraph_dedup_null_text_docs_survive(spark):
    """ADVICE r5 (medium): a NULL-text doc produces zero segments in both
    modes but must still get a (doc_id, 0, 0, '') row — the rebuild never
    loses a document."""
    from kafka_streams_demo_spark.functions.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "alpha text\n\nbeta text"), (2, None), (3, "gamma text")],
        "doc_id long, text string",
    )
    for kwargs in ({"delimiter": "\n\n"}, {"segment_words": 2}):
        got = {r["doc_id"]: (r["n_kept"], r["n_dropped"], r["new_text"])
               for r in paragraph_dedup(docs, **kwargs).collect()}
        assert set(got) == {1, 2, 3}, f"doc lost in {kwargs}"
        assert got[2] == (0, 0, "")


def test_ngram_span_dedup_keeps_first_merges_overlaps(spark):
    """Exact substring dedup at n-gram granularity: a duplicated 3-gram's
    non-first occurrences lose their token span; the first occurrence is
    untouched; overlapping duplicated spans merge via the covered-position
    set (no double-count); NULL/short docs survive unchanged."""
    from kafka_streams_demo_spark.functions.dedup import ngram_span_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),            # owns the first "a b c"
            (2, "x a b c y"),            # repeats it at pos 2
            (3, "p q r p q r p q"),      # self-repeating: spans overlap
            (4, None),                   # NULL text
            (5, "u v"),                  # shorter than n
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["new_text"])
           for r in ngram_span_dedup(docs, n=3).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1] == (5, 0, "a b c d e")
    assert got[2] == (5, 3, "x y")
    # marked occurrences at pos 4,5,6 cover positions 4..8 — five tokens,
    # not 9: overlapping spans union
    assert got[3] == (8, 5, "p q r")
    assert got[4] == (1, 0, "")
    assert got[5] == (2, 0, "u v")
    # conservation: surviving token count == n_tokens - n_removed
    for ntok, nrem, text in got.values():
        survivors = len(text.split(" ")) if text else 0
        assert survivors + nrem <= ntok


def test_minhash_incremental_broadcast_gate(spark):
    """VERDICT r5 #2: the delta is never force-broadcast. Join strategy
    is Catalyst/AQE's (no forced BroadcastExchange when broadcast is
    disabled — a huge ingest batch degrades to shuffle joins instead of
    OOMing)."""
    from kafka_streams_demo_spark.functions.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    rows = [(i, f"shared core text block number {i % 2} with tail words")
            for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 4)
    new = docs.filter(F.col("doc_id") >= 4)
    idx = minhash_index(old, n=3)

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # with auto-broadcast off, any BroadcastExchange can only come
        # from a forced hint — exactly what the gate must not emit
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        from kafka_streams_demo_spark.plans.explain import audit

        ungated = minhash_lsh_pairs_incremental(new, idx, docs, n=3, threshold=0.5)
        a_un = audit(ungated)
        # the delta-carrying joins (pair expansion, candidate
        # verification) degrade to sort-merge — only the always-tiny hot
        # outlier list broadcasts
        assert a_un.sort_merge_joins > 0, a_un.plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_release_caches_frees_tracked_intermediates(spark):
    """ADVICE r5: persisted candidate-pair intermediates are tracked and
    released by release_caches() after materialization."""
    from kafka_streams_demo_spark.functions import dedup as D

    D.release_caches()  # clear anything earlier tests tracked
    docs = spark.createDataFrame(
        [(i, f"same text body repeated across docs {i % 2}") for i in range(6)],
        "doc_id long, text string",
    )
    D.minhash_lsh_pairs(docs, n=3, threshold=0.5).collect()
    assert len(D._GLOBAL_SCOPE._dfs) >= 1
    cached_before = list(D._GLOBAL_SCOPE._dfs)
    assert D.release_caches() == len(cached_before)
    assert D._GLOBAL_SCOPE._dfs == []
    assert all(df.storageLevel.useMemory is False for df in cached_before)


def test_cache_scope_isolates_concurrent_jobs(spark):
    """ADVICE r6: CacheScope owns only its own intermediates — exiting one
    scope (or calling release_caches()) cannot unpersist a concurrent
    scope's live caches, and scope exit drops the references."""
    from kafka_streams_demo_spark.functions import dedup as D

    D.release_caches()
    docs = spark.createDataFrame(
        [(i, f"body text shared by both scopes {i % 2}") for i in range(6)],
        "doc_id long, text string",
    )
    with D.CacheScope() as outer:
        D.minhash_lsh_pairs(docs, n=3, threshold=0.5).collect()
        assert len(outer._dfs) >= 1
        outer_cached = list(outer._dfs)
        # a global release (another job's cleanup) must not touch the scope
        assert D.release_caches() == 0
        assert all(df.storageLevel.useMemory for df in outer_cached)
        # distinct input — identical plans would share ONE cache entry
        # (Spark dedups caches by analyzed plan), making unpersists alias
        docs2 = spark.createDataFrame(
            [(i, f"inner scope distinct corpus {i % 2}") for i in range(6)],
            "doc_id long, text string",
        )
        with D.CacheScope() as inner:
            D.minhash_lsh_pairs(docs2, n=3, threshold=0.5).collect()
            assert len(inner._dfs) >= 1
            inner_cached = list(inner._dfs)
        # inner exit released only inner's caches
        assert all(df.storageLevel.useMemory is False for df in inner_cached)
        assert all(df.storageLevel.useMemory for df in outer_cached)
    assert all(df.storageLevel.useMemory is False for df in outer_cached)
    assert D._GLOBAL_SCOPE._dfs == []

    # scopes on another thread never see this thread's stack
    import threading

    seen = {}

    def worker():
        with D.CacheScope() as ws:
            D.minhash_lsh_pairs(docs, n=3, threshold=0.5).collect()
            seen["n"] = len(ws._dfs)

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert seen["n"] >= 1
    assert D._GLOBAL_SCOPE._dfs == []


def test_paragraph_dedup_word_windows_and_order(spark):
    """delimiter=None: fixed word-window segments; reassembly restores
    position order; first occurrence is elected by (doc_id, pos)."""
    from kafka_streams_demo_spark.functions.dedup import paragraph_dedup

    seg = "a b c d"  # one full window at segment_words=4
    docs = spark.createDataFrame(
        [(10, f"{seg} x y z w"),      # window 2 = "x y z w"
         (20, f"p q r s {seg}")],     # window 2 duplicates doc 10's window 1
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_kept"], r["n_dropped"], r["new_text"])
           for r in paragraph_dedup(docs, segment_words=4).collect()}
    assert got[10] == (2, 0, "a b c d x y z w")  # order preserved
    assert got[20] == (1, 1, "p q r s")


def test_oversized_blocks_audit_matches_cap(spark):
    """The audit helper reports exactly the blocks the cap drops."""
    from kafka_streams_demo_spark.functions.dedup import (
        embedding_cosine_pairs,
        oversized_blocks,
    )

    rows = [(i, 0, [1.0, 0.0]) for i in range(6)] + [(100, 1, [0.0, 1.0]),
                                                     (101, 1, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    audit_rows = {r["block"]: r["n_vectors"]
                  for r in oversized_blocks(df, max_block_size=3).collect()}
    assert audit_rows == {0: 6}
    pairs = embedding_cosine_pairs(df, threshold=0.5, max_block_size=3)
    assert {(r["i"], r["j"]) for r in pairs.collect()} == {(100, 101)}


def test_exact_dedup_incremental_keep_list(spark):
    """Keep-list semantics: in-batch dup collapses to the min id; a doc
    whose hash is already indexed is dropped entirely; novel docs pass."""
    from kafka_streams_demo_spark.functions.dedup import exact_dedup_incremental

    new = spark.createDataFrame(
        [(10, "fresh content one"), (11, "seen before text"),
         (12, "fresh content two"), (13, "fresh content two")],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame([("seen before text",)], "t string").select(
        F.md5(F.col("t").cast("binary")).alias("text_hash")
    )
    got = {r["doc_id"] for r in exact_dedup_incremental(new, seen).collect()}
    assert got == {10, 12}  # 11 indexed out, 13 loses in-batch election


def test_ingest_keeplist_stage_semantics(spark):
    """ingest_keeplist (VERDICT r5 #4): exact index+delta → near-dup
    drop (partner old, or smaller-id survivor; greedy non-transitive) →
    quality gate, as one plan. Each stage exercised by a dedicated doc."""
    from kafka_streams_demo_spark.functions.dedup import (
        ingest_keeplist,
        ngram_jaccard_pairs,
    )

    def body(tag):
        return " ".join(f"{tag}{i}" for i in range(10))

    old_rows = [
        (0, body("a")),
        (2, body("b")),
    ]
    new_rows = [
        (1, body("a")),                         # exact dup of old 0
        (3, body("c")),                         # kept
        (5, body("d")),                         # in-batch rep (kept)
        (7, body("d")),                         # in-batch dup of 5
        (9, body("b") + " extra"),              # near-dup of old 2
        (11, body("c") + " extra"),             # near-dup of new 3
        (13, "short"),                          # fails quality gate
    ]
    docs = spark.createDataFrame(old_rows + new_rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = old.select(F.md5(F.col("text").cast("binary")).alias("text_hash"))
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_doc_freq=None)
    got = {r["doc_id"] for r in ingest_keeplist(
        new, seen, old.select("doc_id"), pairs=pairs,
        min_chars=10, min_words=5,
    ).collect()}
    assert got == {3, 5}


def test_ingest_keeplist_minhash_default_matches_exact_pairs(spark):
    """The production minhash pair source produces the same keep-list as
    the exact-Jaccard pair source when similarities are far from the
    threshold (recall ≈ 1 at J ≈ 0.9, threshold 0.5)."""
    from kafka_streams_demo_spark.functions.dedup import (
        ingest_keeplist,
        minhash_index,
        ngram_jaccard_pairs,
    )

    body = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, body + " indexed"), (2, "other " + body),
         (1, body + " INDEXED"),       # near-dup of old 0 → drop
         (3, "fresh " + " ".join(f"z{i}" for i in range(30)))],  # kept
        "doc_id long, text string",
    )
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = old.select(F.md5(F.col("text").cast("binary")).alias("text_hash"))
    kw = dict(min_chars=10, min_words=5, n=3, threshold=0.5)
    exact = {r["doc_id"] for r in ingest_keeplist(
        new, seen, old.select("doc_id"),
        pairs=ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_doc_freq=None),
        **{k: v for k, v in kw.items() if k not in ("n", "threshold")},
    ).collect()}
    mh = {r["doc_id"] for r in ingest_keeplist(
        new, seen, old.select("doc_id"),
        index=minhash_index(old, n=3), corpus=docs, **kw,
    ).collect()}
    assert exact == mh == {3}


def test_write_minhash_index_bucketed_join_is_index_side_exchange_free(spark):
    """VERDICT r5 #2 (pre-bucketing clause): an index persisted with
    write_minhash_index (bucketed on (band, bucket)) satisfies the
    incremental join's distribution from storage — the bucketed plan
    carries strictly fewer Exchanges than the plain-parquet plan and the
    scan reports its buckets; results identical either way."""
    from kafka_streams_demo_spark.functions.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
        write_minhash_index,
    )
    from kafka_streams_demo_spark.plans.explain import audit

    rows = [(i, f"shared body text number {i % 2} with trailing words")
            for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 5)
    new = docs.filter(F.col("doc_id") >= 5)

    write_minhash_index(minhash_index(old, n=3), "mh_idx_test", num_buckets=4)
    try:
        bucketed_idx = spark.table("mh_idx_test")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plain = minhash_lsh_pairs_incremental(
                new, minhash_index(old, n=3), docs, n=3, threshold=0.5
            )
            buck = minhash_lsh_pairs_incremental(
                new, bucketed_idx, docs, n=3, threshold=0.5
            )
            a_plain, a_buck = audit(plain), audit(buck)
            assert "SelectedBucketsCount" in a_buck.plan or "Bucketed: true" in a_buck.plan
            assert a_buck.exchanges < a_plain.exchanges, (
                f"bucketed {a_buck.exchanges} vs plain {a_plain.exchanges}"
            )
            key = lambda df: sorted(
                (r["i"], r["j"], r["jaccard"]) for r in df.collect()
            )
            assert key(plain) == key(buck)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_idx_test")


def test_embedding_incremental_equals_batch_restricted_to_delta(spark):
    """Index+delta embedding dedup == the batch run over index ∪ delta
    restricted to pairs touching a new vector, BIT FOR BIT (same rounded
    cosine, same canonical orientation); old×old pairs never re-emitted;
    the block cap counts across index ∪ delta."""
    from kafka_streams_demo_spark.functions.dedup import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_incremental,
    )

    rows = []
    for i in range(10):
        base = [1.0, 0.1 * (i % 3), 0.0]
        rows.append((i, i % 3, base))  # blocks mix even (old) and odd (new) ids
    rows.append((20, 0, [0.0, 0.0, 1.0]))  # orthogonal outlier, block 0
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)

    batch = {(r["i"], r["j"]): r["cos"] for r in
             embedding_cosine_pairs(emb, threshold=0.5).collect()}
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    expected = {p: c for p, c in batch.items()
                if p[0] in new_ids or p[1] in new_ids}
    assert expected and any(p[0] not in new_ids or p[1] not in new_ids
                            for p in expected)
    got = {(r["i"], r["j"]): r["cos"] for r in
           embedding_cosine_pairs_incremental(new, old, threshold=0.5).collect()}
    assert got == expected
    assert not any(p[0] not in new_ids and p[1] not in new_ids for p in got)
    # cap across index ∪ delta: block 0 holds 6 vectors (5 even + outlier
    # + ... recount via collect) — cap 1 kills every block
    assert embedding_cosine_pairs_incremental(
        new, old, threshold=0.5, max_block_size=1
    ).count() == 0

    # a NaN-element new vector has no defined cosine: the batch run emits
    # only the old×old pair, so the delta-touching restriction is empty
    emb3 = spark.createDataFrame(
        [(1, 0, [math.nan, 0.0, 1.0]), (2, 0, [1.0, 0.1, 0.0]),
         (3, 0, [0.9, 0.1, 0.05])],
        "vec_id long, label int, embedding array<float>",
    )
    batch3 = [(r["i"], r["j"]) for r in
              embedding_cosine_pairs(emb3, threshold=0.5).collect()]
    assert batch3 == [(2, 3)]
    got3 = [tuple(r) for r in embedding_cosine_pairs_incremental(
        emb3.filter("vec_id = 1"), emb3.filter("vec_id != 1"), threshold=0.5
    ).collect()]
    assert got3 == []


def test_ngram_jaccard_incremental_equals_batch_restricted(spark):
    """Exact-Jaccard index+delta == the batch run restricted to pairs
    touching a new doc, bit for bit — with and without the hot-shingle
    guard (df counted across the whole corpus in both)."""
    from kafka_streams_demo_spark.functions.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
    )

    boiler = "common boiler plate words here"
    rows = [(i, f"doc {i % 3} unique body text variant {boiler}")
            for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}

    for mdf in (None, 3):
        batch = {(r["i"], r["j"]): r["jaccard"] for r in
                 ngram_jaccard_pairs(docs, n=3, threshold=0.1,
                                     max_doc_freq=mdf).collect()}
        expected = {p: v for p, v in batch.items()
                    if p[0] in new_ids or p[1] in new_ids}
        got = {(r["i"], r["j"]): r["jaccard"] for r in
               ngram_jaccard_pairs_incremental(
                   new, docs, n=3, threshold=0.1, max_doc_freq=mdf
               ).collect()}
        assert got == expected, f"max_doc_freq={mdf}"
        assert expected, "fixture must produce pairs"
    # old×old pairs exist in batch but never in the incremental result
    assert any(p[0] not in new_ids and p[1] not in new_ids for p in batch)


def test_ngram_span_dedup_hashed_matches_and_handles_wide_n(spark):
    """hash_ngrams=True (md5-keyed shuffle stages) must reproduce the
    raw-key result exactly, and work at the Lee-et-al span width (n=50)
    where the raw key would be a ~250-byte string."""
    from kafka_streams_demo_spark.functions.dedup import ngram_span_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "x a b c y"),
            (3, "p q r p q r p q"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(ngram_span_dedup(docs, n=3, hash_ngrams=True)) == key(
        ngram_span_dedup(docs, n=3)
    )

    # wide n: one 60-token doc repeats another's full 50-token prefix
    span = " ".join(f"w{i}" for i in range(50))
    wide = spark.createDataFrame(
        [
            (1, span + " t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
            (2, "lead " + span + " tail"),
            (3, "unrelated " + " ".join(f"z{i}" for i in range(60))),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_span_dedup(wide, n=50, hash_ngrams=True).collect()}
    assert got[1]["n_removed"] == 0
    # doc 2's single duplicated 50-gram occurrence (pos 2) is cut
    assert got[2]["n_removed"] == 50
    assert got[2]["new_text"] == "lead tail"
    assert got[3]["n_removed"] == 0


def test_dedup_clusters_incremental_merges_and_root_takeover(spark):
    """Delta cluster maintenance: a new doc can BRIDGE two indexed
    clusters (all their members re-root), a new id below the old
    minimum takes the root over, untouched clusters keep their rows
    bit-identical, and pair-free new docs enter as singletons."""
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        dedup_clusters_incremental,
    )

    # indexed corpus: clusters {2,4}, {6,8}, {10} (singleton)
    old_docs = spark.createDataFrame(
        [(i,) for i in (2, 4, 6, 8, 10)], "doc_id long"
    )
    old_pairs = spark.createDataFrame([(2, 4), (6, 8)], "i long, j long")
    assignments = dedup_clusters(old_docs, old_pairs).select("doc_id", "cluster_id")

    # delta: 5 bridges both clusters; 1 takes over {2,4}'s root via 3;
    # 11 is pair-free
    new_docs = spark.createDataFrame([(1,), (3,), (5,), (11,)], "doc_id long")
    new_pairs = spark.createDataFrame(
        [(4, 5), (5, 6), (1, 3), (3, 2)], "i long, j long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters_incremental(
            new_docs, assignments, new_pairs
        ).collect()
    }
    # {2,4} ∪ {6,8} ∪ {5} ∪ {1,3} all collapse to root 1
    for d in (1, 2, 3, 4, 5, 6, 8):
        assert got[d] == (1, 1 if d == 1 else 0), (d, got[d])
    assert got[10] == (10, 1)   # untouched singleton
    assert got[11] == (11, 1)   # pair-free new doc
    assert len(got) == 9

    # batch equivalence on the union
    all_docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 6, 8, 10, 11)], "doc_id long"
    )
    all_pairs = old_pairs.unionByName(new_pairs)
    want = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(all_docs, all_pairs).collect()
    }
    assert got == want


def test_semdedup_cells_semantic_replay(spark):
    """Full semantic replay of semdedup_cells on the fixture corpus:
    a vector is dropped iff some same-cell neighbor with cosine >=
    threshold has a strictly smaller (ccos, id) key — verified pair by
    pair in Python."""
    import math

    from kafka_streams_demo_spark.functions.dedup import semdedup_cells
    from kafka_streams_demo_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = load_table(spark, "embeddings", SF).limit(200)
    emb.persist().count()
    tau = 0.3
    got = semdedup_cells(emb, threshold=tau, max_cell_size=None)
    rows = {r["vec_id"]: r for r in got.collect()}
    assert len(rows) == 200

    cents = ivf_centroids(emb)
    asg = {r["vid"]: r["cell"] for r in ivf_assign(emb, cents, n=1).collect()}
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}

    def cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dp / (na * nb), 6)

    for vid, r in rows.items():
        assert r["cell"] == asg[vid]
        key = (r["ccos"], vid)
        has_better_dup = any(
            cos(vecs[vid], vecs[u]) >= tau
            and (rows[u]["ccos"], u) < key
            for u in rows
            if u != vid and asg[u] == asg[vid]
        )
        assert r["kept"] == (not has_better_dup), vid
    assert any(not r["kept"] for r in rows.values())  # fixture has dups at tau
    emb.unpersist()


def test_semdedup_clique_keeps_edge_point(spark):
    """Hand-built clique in one cell: three near-identical vectors plus
    one far one — the member farthest from the centroid (lowest ccos)
    survives, the two interior duplicates drop, the far vector stays."""
    from kafka_streams_demo_spark.functions.dedup import semdedup_cells

    emb = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.02, 0.0, 0.0]),
            (2, 0, [1.0, 0.0, 0.0, 0.0]),
            (3, 0, [1.0, 0.0, 0.02, 0.0]),
            (4, 0, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in semdedup_cells(
        emb, threshold=0.95, max_cell_size=None
    ).collect()}
    assert got[4]["kept"]  # orthogonal to the clique
    clique = [got[i] for i in (1, 2, 3)]
    keepers = [r for r in clique if r["kept"]]
    assert len(keepers) == 1
    # the survivor is the clique member with the smallest (ccos, id) key
    want = min(clique, key=lambda r: (r["ccos"], r["vec_id"]))
    assert keepers[0]["vec_id"] == want["vec_id"]


def test_semdedup_incremental_frozen_index_semantics(spark):
    """Hand-built cells pin the ingest contract: (a) a new vector near a
    KEPT index member with a smaller key drops; (b) a new vector near
    only a DROPPED index member stays kept (verdicts are adjudicated
    against surviving representatives); (c) index verdicts never flip —
    the function emits delta rows only; (d) in-batch duplicates
    adjudicate among themselves."""
    from kafka_streams_demo_spark.functions.dedup import (
        semdedup_cells,
        semdedup_cells_incremental,
    )
    from kafka_streams_demo_spark.functions.similarity import ivf_centroids

    old = spark.createDataFrame(
        [
            # cell 0: vectors 1,2 are near-dups; one of them drops
            (1, 0, [1.0, 0.02, 0.0, 0.0]),
            (2, 0, [1.0, 0.0, 0.0, 0.0]),
            # cell 1: lone keeper
            (3, 1, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    cents = ivf_centroids(old)
    index = semdedup_cells(old, threshold=0.95, max_cell_size=None)
    idx = {r["vec_id"]: r for r in index.collect()}
    dropped_old = [v for v, r in idx.items() if not r["kept"]]
    kept_old = [v for v, r in idx.items() if r["kept"] and r["cell"] == idx[1]["cell"]]
    assert len(dropped_old) == 1 and dropped_old[0] in (1, 2)

    new = spark.createDataFrame(
        [
            # 11: duplicate of the cell-0 cluster -> must drop (kept rep wins)
            (11, [1.0, 0.01, 0.0, 0.0]),
            # 13: duplicate of cell-1's keeper but with what key? adjudicated
            (13, [0.0, 0.0, 1.0, 0.01]),
            # 15/16: in-batch near-dup pair, orthogonal to everything old
            (15, [0.0, 1.0, 0.0, 0.0]),
            (16, [0.0, 1.0, 0.01, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in semdedup_cells_incremental(
        new, cents, index, old, threshold=0.95, max_cell_size=None
    ).collect()}
    assert set(got) == {11, 13, 15, 16}  # delta rows only — index never re-emitted
    assert not got[11]["kept"]  # beaten by the surviving cell-0 representative
    # 13 vs old keeper 3: loser is the larger (ccos, id) key
    k3 = next(r for r in index.collect() if r["vec_id"] == 3)
    assert got[13]["kept"] == ((got[13]["ccos"], 13) < (k3["ccos"], 3))
    # in-batch pair: exactly one survives
    assert got[15]["kept"] != got[16]["kept"] or (
        got[15]["kept"] and got[16]["kept"]
    ) is False
    assert sum(1 for v in (15, 16) if got[v]["kept"]) == 1


def test_semdedup_incremental_ignores_dropped_index_members(spark):
    """A new vector whose only index neighbor was itself DROPPED stays
    kept: adjudication is against surviving representatives only."""
    from kafka_streams_demo_spark.functions.dedup import (
        semdedup_cells_incremental,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "cell int, centroid array<double>"
    )
    # stored verdicts: 1 kept, 2 dropped (2 was 1's duplicate)
    index = spark.createDataFrame(
        [(1, 0, 0.9, True), (2, 0, 0.95, False)],
        "vec_id long, cell int, ccos double, kept boolean",
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.3, 0.0, 0.0]), (2, [1.0, 0.0, 0.3, 0.0])],
        "vec_id long, embedding array<float>",
    )
    # 21 is a near-dup of DROPPED 2 only (cos to 1 is ~0.917 < tau)
    new = spark.createDataFrame(
        [(21, [1.0, 0.0, 0.31, 0.0])], "vec_id long, embedding array<float>"
    )
    got = semdedup_cells_incremental(
        new, cents, index, corpus, threshold=0.99, max_cell_size=None
    ).collect()
    assert len(got) == 1 and got[0]["kept"]


def test_contamination_semantic_guard_and_map_only_plan(spark):
    """The eval-broadcast screen must refuse an oversized eval set
    loudly, and its corpus-side plan must contain no shuffle Exchange
    (the 100 TB side never moves — BroadcastNestedLoop over the bounded
    eval set only)."""
    import pytest as _pytest

    from kafka_streams_demo_spark.functions.dedup import contamination_semantic
    from kafka_streams_demo_spark.sources import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    ev = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("eval_vec")
    )
    tr = emb.filter(F.col("vec_id") % 25 != 0)
    out = contamination_semantic(tr, ev, threshold=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    assert not re.search(r"(?<![A-Za-z])Exchange ", plan)
    rows = out.collect()
    assert all(r["cos"] >= 0.3 for r in rows)
    with _pytest.raises(ValueError, match="max_eval"):
        contamination_semantic(tr, ev, max_eval=1)


def test_leakage_safe_split_no_pair_straddles(spark):
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # chain pairs 0-1-2, 3-4, plus singletons beyond
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (10, 11), (12, 13)], "i long, j long"
    )
    out = leakage_safe_split(dedup_clusters(docs, pairs), train_pct=90)
    rows = out.collect()
    assert len(rows) == 40
    side = {r["doc_id"]: r["split"] for r in rows}
    for i, j in [(0, 1), (1, 2), (0, 2), (3, 4), (10, 11), (12, 13)]:
        assert side[i] == side[j], f"pair ({i},{j}) straddles the split"
    assert set(side.values()) <= {"train", "valid"}
    # bucket is the split's witness: same rule both columns
    for r in rows:
        assert (r["split"] == "train") == (r["bucket"] < 90)


def test_leakage_safe_split_beats_per_doc_hash(spark):
    """The op's reason to exist: a per-document hash split DOES straddle
    near-dup pairs; the cluster-keyed split cannot."""
    from pyspark.sql import functions as F

    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        leakage_safe_split,
    )

    n = 400
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], "doc_id long, text string"
    )
    # pair 2k with 2k+1: 200 near-dup pairs
    pairs = spark.createDataFrame(
        [(2 * k, 2 * k + 1) for k in range(n // 2)], "i long, j long"
    )
    clustered = dedup_clusters(docs, pairs)
    safe = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(clustered, train_pct=50).collect()
    }
    # per-doc hash split (sample_split_train's rule, doc granularity)
    naive_bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(100),
    )
    naive = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            F.when(naive_bucket < 50, F.lit("train")).otherwise(F.lit("valid")).alias("s"),
        ).collect()
    }
    safe_straddle = sum(
        1 for k in range(n // 2) if safe[2 * k] != safe[2 * k + 1]
    )
    naive_straddle = sum(
        1 for k in range(n // 2) if naive[2 * k] != naive[2 * k + 1]
    )
    assert safe_straddle == 0
    assert naive_straddle > 0  # ~50% of 200 pairs leak under per-doc hash


def test_leakage_safe_split_rejects_bad_pct(spark):
    import pytest

    from kafka_streams_demo_spark.functions.dedup import leakage_safe_split

    df = spark.createDataFrame([(1, 1)], "doc_id long, cluster_id long")
    with pytest.raises(ValueError):
        leakage_safe_split(df, train_pct=0)
    with pytest.raises(ValueError):
        leakage_safe_split(df, train_pct=100)
