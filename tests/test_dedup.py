"""Dedup operator semantics against hand-built micro-corpora and a pure-
Python MinHash/SimHash re-implementation (independent of the Spark code)."""

import hashlib

import pytest
from pyspark.sql import functions as F


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_minhash(text: str, k: int = 8) -> list:
    # independent re-implementation of the affine-permutation MinHash:
    # one 32-bit md5 base hash per TOKEN, 2-gram hash = (h1*B + h2) % p
    # (no shingle string), sig_j = min (a_j*h + b_j) % p
    p = 4294967291
    B = 1000003
    toks = text.strip().lower().split()
    th = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    hs = [(h1 * B + h2) % p for h1, h2 in zip(th, th[1:])]
    sig = []
    for j in range(k):
        d = hashlib.md5(f"mh#{j}".encode()).hexdigest()
        a = int(d[:8], 16) % (2**30 - 1) + 1
        b = int(d[8:16], 16) % p
        sig.append(min((a * h + b) % p for h in hs))
    return sig


def _py_simhash(text: str, bits: int = 16) -> int:
    toks = set(text.strip().lower().split())
    hs = [_h60(t) for t in toks]
    out = 0
    for b in range(bits):
        cnt = sum(1 for h in hs if (h >> b) & 1)
        if 2 * cnt > len(hs):
            out |= 1 << b
    return out


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different content about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "one more unrelated document with other words"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark, docs_df):
    from table_ocr_spark.operators.dedup import exact_duplicates

    groups = exact_duplicates(docs_df).collect()
    assert len(groups) == 1
    assert groups[0].n_dups == 2 and groups[0].min_key == 0


def test_dedup_exact_keeps_min_key(spark, docs_df):
    from table_ocr_spark.operators.dedup import dedup_exact

    kept = {r.doc_id for r in dedup_exact(docs_df).collect()}
    assert kept == {0, 1, 2, 4}


def test_minhash_matches_pure_python(spark, docs_df):
    from table_ocr_spark.operators.dedup import minhash_signature_col

    rows = docs_df.select("doc_id", minhash_signature_col("text").alias("sig")).collect()
    for r in rows:
        assert list(r.sig) == _py_minhash(DOCS[r.doc_id][1]), f"doc {r.doc_id}"


def test_minhash_signatures_scale_form_equals_column_form(spark, docs_df):
    """The explode→codegen→min-aggregate scale form produces the exact
    same signatures as the definitional Column form (and drops the one
    shingle-less doc instead of emitting NULLs)."""
    from table_ocr_spark.operators.dedup import minhash_signature_col, minhash_signatures

    with_short = docs_df.union(
        spark.createDataFrame([(99, "single"), (100, None)], "doc_id long, text string")
    )
    col_form = {
        r.doc_id: list(r.sig)
        for r in with_short.select(
            "doc_id", minhash_signature_col("text").alias("sig")
        ).collect()
        if r.sig[0] is not None
    }
    agg_form = {
        r.k: [r[f"m{j}"] for j in range(8)]
        for r in minhash_signatures(with_short).collect()
    }
    assert agg_form == col_form
    assert 99 not in agg_form and 100 not in agg_form


def test_simhash_matches_pure_python(spark, docs_df):
    from table_ocr_spark.operators.dedup import simhash_col

    rows = docs_df.select("doc_id", simhash_col("text").alias("sh")).collect()
    for r in rows:
        assert r.sh == _py_simhash(DOCS[r.doc_id][1]), f"doc {r.doc_id}"


def test_simhash_near_dup_close_exact_dup_equal(spark, docs_df):
    from table_ocr_spark.operators.dedup import hamming_col, simhash_col

    sh = {r.doc_id: r.sh for r in docs_df.select("doc_id", simhash_col("text").alias("sh")).collect()}
    assert sh[0] == sh[3]  # exact dup → same simhash
    ham01 = bin(sh[0] ^ sh[1]).count("1")
    ham02 = bin(sh[0] ^ sh[2]).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated

    # hamming_col agrees with python popcount
    df = docs_df.alias("a").crossJoin(docs_df.alias("b")).filter("a.doc_id < b.doc_id")
    got = df.select(
        F.col("a.doc_id").alias("i"),
        F.col("b.doc_id").alias("j"),
        hamming_col(simhash_col("a.text"), simhash_col("b.text"), 16).alias("d"),
    ).collect()
    for r in got:
        want = bin(sh[r.i] ^ sh[r.j]).count("1")
        assert r.d == want


def test_minhash_lsh_finds_dups_not_unrelated(spark, docs_df):
    from table_ocr_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r.key_a, r.key_b) for r in minhash_lsh_pairs(docs_df).collect()}
    assert (0, 3) in pairs  # exact dup always collides in every band
    assert (0, 2) not in pairs and (2, 4) not in pairs  # unrelated don't


def test_jaccard_words(spark, docs_df):
    from table_ocr_spark.operators.dedup import jaccard_words_col

    df = spark.createDataFrame(
        [("a b c", "a b c"), ("a b c", "a b d"), ("a b", "c d")], "x string, y string"
    )
    got = [r.j for r in df.select(F.round(jaccard_words_col(F.col("x"), F.col("y")), 6).alias("j")).collect()]
    assert got == [1.0, 0.5, 0.0]


def test_lsh_short_docs_no_false_buckets(spark):
    """Docs with < shingle_n tokens have NULL signatures; they must produce
    ZERO candidate pairs (pre-fix they all collapsed into bucket '')."""
    from table_ocr_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "solo") for i in range(10)] + [(100, None), (101, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_lsh_pairs(df).count() == 0


def test_lsh_hot_bucket_cap_bounds_pairs(spark, docs_df):
    """A pathological all-identical corpus stays bounded under the cap in
    every candidate form (all-pairs, star, against an index) and the
    dropped buckets are observable via the quarantine view."""
    from table_ocr_spark.operators.dedup import (
        lsh_banded,
        lsh_oversized_buckets,
        lsh_pairs_against,
        minhash_lsh_pairs,
        minhash_lsh_star_pairs,
    )

    clones = spark.range(40).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.lit("identical boilerplate page body").alias("text"),
    )
    corpus = docs_df.unionByName(clones)
    uncapped = minhash_lsh_pairs(corpus).count()
    capped = minhash_lsh_pairs(corpus, max_bucket_size=10)
    n_capped = capped.count()
    # clone pairs (40*39/2 = 780 per-band candidates) are gone; the small
    # organic buckets (dup/near-dup of DOCS) survive
    assert n_capped < uncapped and n_capped == 3  # (0,1), (0,3), (1,3)
    over = lsh_oversized_buckets(corpus, max_bucket_size=10).collect()
    assert len(over) == 4 and all(r.bucket_size == 40 for r in over)

    # the same cap in the star and against-index forms: no clone key
    # survives, the organic near-dup edges do.  Against the index the
    # clones split 20 new / 20 old, so both sides of the bucket are over
    # the cap.
    def keys(rows):
        return {k for r in rows for k in r}

    star = minhash_lsh_star_pairs(corpus, max_bucket_size=10).collect()
    assert star and not any(k >= 1000 for k in keys(star))
    new = corpus.filter(F.col("doc_id") % 2 == 0)
    old = corpus.filter(F.col("doc_id") % 2 == 1)
    against = lsh_pairs_against(new, lsh_banded(old), max_bucket_size=10).collect()
    assert against and not any(k >= 1000 for k in keys(against))


def test_simhash_banded_join_complete_vs_brute_force(spark):
    """Pigeonhole completeness: the banded candidate join must find EVERY
    pair within max_hamming < bands of the brute-force cross join."""
    from table_ocr_spark.operators.dedup import (
        hamming_col,
        simhash_col,
        simhash_near_dup_pairs,
    )

    rows = [(i, f"shared words body {i % 7} tail {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r.key_a, r.key_b, r.hamming)
        for r in simhash_near_dup_pairs(df, max_hamming=3).collect()
    }
    sim = df.select(F.col("doc_id").alias("k"), simhash_col("text").alias("sh"))
    a, b = sim.alias("a"), sim.alias("b")
    brute = {
        (r.key_a, r.key_b, r.hamming)
        for r in a.join(b, F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            hamming_col(F.col("a.sh"), F.col("b.sh"), 16).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute and len(brute) > 0
    import pytest

    with pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=4)  # pigeonhole violated


def test_near_dup_components_and_representatives(spark):
    """Min-label propagation must find exact connected components and the
    representative filter must keep exactly one doc per family."""
    from table_ocr_spark.operators.dedup import (
        dedup_near_representatives,
        near_dup_components,
    )

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 9), (5, 6), (20, 21)], "key_a long, key_b long"
    )
    comps = {r.member: r.component for r in near_dup_components(pairs).collect()}
    assert comps == {0: 0, 1: 0, 2: 0, 9: 0, 5: 5, 6: 5, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [0, 1, 2, 9, 5, 6, 20, 21, 99]],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in dedup_near_representatives(docs, pairs).collect()}
    assert kept == {0, 5, 20, 99}  # one per family + the unpaired doc


def test_near_dup_components_long_chain_converges(spark):
    """A 100-link path graph: plain O(diameter) propagation cannot finish
    inside max_iterations=20 — only the pointer-jumping shortcut
    (O(log diameter)) converges. Regression for the sf0.001 failure."""
    from table_ocr_spark.operators.dedup import near_dup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "key_a long, key_b long"
    )
    comps = near_dup_components(chain, max_iterations=20).collect()
    assert all(r.component == 0 for r in comps) and len(comps) == 101


def test_near_dup_components_nonconvergence_raises(spark):
    """Exhausting max_iterations must raise loudly, not silently return
    under-converged labels (which would merge/split dedup families wrong);
    require_convergence=False opts into best-effort labels."""
    import pytest as _pytest

    from table_ocr_spark.operators.dedup import near_dup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "key_a long, key_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_components(chain, max_iterations=2)
    # best-effort mode returns labels (partially propagated, no raise)
    partial = near_dup_components(chain, max_iterations=2, require_convergence=False)
    assert partial.count() == 201


def test_near_dup_components_reliable_checkpoint_and_interval(spark):
    """build_session sets a reliable checkpoint dir, so the CC loop writes
    round checkpoints there (executor-loss-safe at cluster scale) instead
    of localCheckpoint; checkpoint_interval>1 (persist in between,
    unpersist previous) converges to the same labels."""
    import os

    from table_ocr_spark.operators.dedup import near_dup_components

    ckpt = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert ckpt.isDefined(), "build_session must set a reliable checkpoint dir"
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "key_a long, key_b long"
    )
    comps = near_dup_components(chain, max_iterations=20, checkpoint_interval=3)
    assert all(r.component == 0 for r in comps.collect())
    # checkpoint files actually landed in the reliable store
    d = ckpt.get().replace("file:", "")
    assert os.path.isdir(d) and any(os.scandir(d))


def test_lsh_pairs_against_matches_self_join_cross_pairs(spark):
    """Incremental LSH (new docs vs a persisted band index) emits exactly
    the cross-frame subset of the full self-join's candidate pairs, and
    the sided bucket cap drops a bucket oversized on EITHER side."""
    from pyspark.sql import functions as F

    from table_ocr_spark.operators.dedup import (
        lsh_banded,
        lsh_pairs_against,
        minhash_lsh_pairs,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta", "alpha beta gamma delta epsilon eta",
        "one two three four five six seven", "one two three four five six eight",
        "totally unrelated content lives here now", "more unrelated words in this row",
    ]
    rows = [(i, t) for i, t in enumerate(texts)] + [
        (100 + i, texts[i % 2]) for i in range(4)  # exact clones across the split
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    new = d.filter(F.col("doc_id") >= 100)
    old = d.filter(F.col("doc_id") < 100)

    got = {(r.key_new, r.key_old) for r in lsh_pairs_against(new, lsh_banded(old)).collect()}
    want = set()
    for r in minhash_lsh_pairs(d).collect():
        if r.key_a >= 100 and r.key_b < 100:
            want.add((r.key_a, r.key_b))
        elif r.key_b >= 100 and r.key_a < 100:
            want.add((r.key_b, r.key_a))
    assert got == want and got  # non-empty and exactly the cross subset

    # sided cap: the clone family's bucket holds 4 new + 2 old members —
    # cap 3 drops it from the NEW side, so those pairs vanish while the
    # under-cap pairs survive
    capped = {(r.key_new, r.key_old) for r in
              lsh_pairs_against(new, lsh_banded(old), max_bucket_size=3).collect()}
    assert capped < got


def test_minhash_lsh_star_linear_edges_same_families(spark):
    """Star form emits O(n) pivot-member edges per bucket (a clone family
    of size n yields exactly n-1 edges, not n(n-1)/2) and composes with
    verify + CC + representatives to the same kept set as all-pairs."""
    from table_ocr_spark.operators.dedup import (
        dedup_near_representatives,
        minhash_lsh_pairs,
        minhash_lsh_star_pairs,
        verify_pairs_jaccard,
    )

    fam = "the identical templated body repeats across many rows"
    rows = [(i, fam) for i in range(12)] + [
        (100, "completely different standalone content one"),
        (101, "another unrelated standalone row of words"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    star = minhash_lsh_star_pairs(d).collect()
    allp = minhash_lsh_pairs(d).collect()
    assert len(star) == 11          # n-1 edges, pivot = min key
    assert len(allp) == 12 * 11 // 2
    assert all(r.key_a == 0 for r in star)
    assert {(r.key_a, r.key_b) for r in star} <= {(r.key_a, r.key_b) for r in allp}

    def kept(pairs):
        v = verify_pairs_jaccard(pairs, d, threshold=0.5)
        return {r.doc_id for r in dedup_near_representatives(d, v).collect()}

    assert kept(minhash_lsh_star_pairs(d)) == kept(minhash_lsh_pairs(d)) == {0, 100, 101}


def test_lsh_star_pivot_salt_and_candidates_bound(spark):
    """pivot_salt deterministically rotates each bucket's anchor, and
    lsh_pairs_against's max_candidates_per_bucket keeps only the C lowest
    index keys per bucket."""
    from pyspark.sql import functions as F

    from table_ocr_spark.operators.dedup import (
        lsh_banded,
        lsh_pairs_against,
        minhash_lsh_star_pairs,
    )

    fam = "rotating anchors across rounds exercise alternate bucket pivots"
    d = spark.createDataFrame([(i, fam) for i in range(8)], "doc_id long, text string")

    plain = minhash_lsh_star_pairs(d).collect()
    assert {r.key_a for r in plain} == {0} and len(plain) == 7
    salted = {(r.key_a, r.key_b) for r in minhash_lsh_star_pairs(d, pivot_salt="1").collect()}
    assert len(salted) == 7
    # same SET twice (row order is partition-dependent) → deterministic;
    # anchor differs from the plain min.  Pairs are least/greatest-
    # normalized (r5 advisory), so the salted anchor is the one key
    # present in EVERY edge — not necessarily key_a.
    assert salted == {(r.key_a, r.key_b) for r in minhash_lsh_star_pairs(d, pivot_salt="1").collect()}
    anchors = set.intersection(*[{a, b} for a, b in salted])
    assert len(anchors) == 1 and anchors != {0}
    assert all(a < b for a, b in salted)

    # candidate bound: 8 clone docs in the index, every bucket truncated
    # to its 2 lowest keys → each new doc pairs with exactly those 2
    new = spark.createDataFrame([(100, fam)], "doc_id long, text string")
    got = lsh_pairs_against(new, lsh_banded(d), max_candidates_per_bucket=2).collect()
    assert {(r.key_new, r.key_old) for r in got} == {(100, 0), (100, 1)}
