"""Deduplication operators for training-data pipelines.

Four tiers, all Spark built-in expressions (JVM-side; no Python UDFs):

* **exact**: hash-groupBy on the content fingerprint.
* **MinHash + LSH**: per-TOKEN 32-bit md5 base hash → polynomial window
  combination ``fold((acc·B + h_i) mod p)`` per n-gram (no shingle string
  is ever materialized) → K affine permutations ``(a_j·h + b_j) mod p``
  (universal hashing, p = largest prime < 2^32) → bands → bucket
  self-join.  Two generations of the same bandwidth fight: r4 moved from
  K salted md5s per shingle to ONE md5 per shingle (~5× less signature
  CPU at sf0.1); r6 removed the shingle strings themselves — the
  ``array_join(slice(...))`` string build plus md5 over the joined
  n-gram was the stage's remaining floor (BENCH/MINHASH_SCALING.md), and
  hashing each token once then combining hashes arithmetically measured
  2.0× faster at local[16] on the ×16 corpus.  B < 2^21 and a_j < 2^30
  keep every product below 2^62 — no int64 overflow, so DuckDB (which
  RAISES on BIGINT overflow, it does not wrap) computes the identical
  value and correctness oracles stay EXACT, not statistical.
* **SimHash**: B-bit signature from per-token md5 bit votes; near-dups =
  small Hamming distance.
* **n-gram Jaccard**: exact set similarity for candidate verification.

Every LSH candidate form — MinHash all-pairs, star and against-index
here, SimHash below, sign-LSH in operators/similarity.py — runs on one
banded-bucket core: per-band bucket columns → ``_band_explode`` →
``_cobucket`` (explicit-width repartition + optional hot-bucket cap) →
a pair emitter (``_bucket_pairs`` self-pairs, ``_pairs_against`` against
an index, or the star pivot window).  A form only chooses how a bucket
is computed and which pairs a bucket emits; each design reason lives
once, in the helper's docstring.

Scale notes (100 TB): exact dedup is one shuffle on the fingerprint
(map-side partial agg applies).  MinHash signatures are a projection;
banding explodes ×bands (bounded), buckets then co-locate — the classic
shuffle-join-on-band-hash; the final verify joins only candidate pairs.
Broadcast nothing here: both sides are big.  AQE rebalances bucket skew
but cannot bound the O(n²) PAIR COUNT of a hot bucket — that is what
``max_bucket_size`` + the ``lsh_oversized_buckets`` quarantine view are
for.  ``near_dup_components`` then folds candidate pairs into dup
families (pointer-jumped connected components, O(log diameter) rounds).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table_ocr_spark.operators.textstats import fingerprint_col, hash60_col, words_col
from table_ocr_spark.session import persist


# ------------------------------------------------------------- exact ------
def exact_duplicates(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) docs: fingerprint → members.
    Returns (fingerprint, n_dups, min_key) for groups with >1 member."""
    return (
        df.withColumn("fingerprint", fingerprint_col(text))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(key).alias("min_key"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Keep one representative (min key) per fingerprint group."""
    w = F.row_number().over(
        Window.partitionBy(fingerprint_col(text)).orderBy(F.col(key))
    )
    return df.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")


# ----------------------------------------------------------- shingles -----
def word_shingles_col(text: str = "text", n: int = 2) -> Column:
    """Distinct word n-gram shingles AS STRINGS.  The MinHash path no
    longer uses these (``shingle_hashes_col`` combines per-token hashes
    without materializing the n-gram); this remains the shingle source
    where the actual string set matters — n-gram Jaccard and
    decontamination (operators/decontam.py).  Distinct (not sorted):
    duplicates would only repeat downstream hash work, and consumers are
    set-based, so a sort would be pure overhead — higher-order array
    functions run interpreted, not codegen'd, and sorting ~150 strings
    per doc was measurable at sf0.1.

    The token array is LET-BOUND via a one-element transform() before the
    window loop: interpreted lambda evaluation re-executes a plain
    subtree for EVERY reference, so referencing ``split(text)`` n times
    per window made the expression O(tokens² · n) per row — a single
    20k-token row ground for minutes.  As a lambda variable the split
    evaluates once per row and every window reads the materialized
    array (values are unchanged; windows are array_join(slice(...)))."""
    toks = words_col(text)
    if n == 1:
        return F.array_distinct(toks)

    def _windows(tk: Column) -> Column:
        # sequence over start positions; slice is 1-based.
        # NB sequence(1, 0) yields a DESCENDING [1, 0] — short docs must
        # short-circuit to an empty array, not an empty sequence.
        idx = F.sequence(F.lit(1), F.size(tk) - (n - 1))
        return F.when(F.size(tk) < n, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(tk, i, n), " "))
        )

    sh = F.element_at(F.transform(F.array(toks), _windows), 1)
    return F.array_distinct(sh)


# the pinned 60-bit hash lives in textstats (hash60_col); re-exported
# here for the existing _hash60 consumers (decontam imports it too)
_hash60 = hash60_col


def _hash32(col: Column) -> Column:
    """Engine-neutral 32-bit base hash: first 8 hex chars of md5 → bigint
    in [0, 2^32).  DuckDB: ('0x' || substr(md5(x), 1, 8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


MH_PRIME = 4294967291  # largest prime < 2^32 — the permutation modulus

# Polynomial shingle combiner: an n-gram's hash is the fold of its token
# hashes, acc = (acc·B + h_i) mod p.  B prime and < 2^21 so acc·B < 2^53
# with acc < p < 2^32 — exact int64 arithmetic in every engine.
SHINGLE_B = 1000003

# Version tag of the (token hash, combiner, permutation) triple.  Persisted
# LSH band indexes stamp this into their commit summaries; a mismatch at
# sync time forces a rebuild instead of silently never colliding with the
# new buckets (jobs/curate.py _sync_index).
LSH_ALGO = "mh-tokenpoly-1"


def shingle_hashes_col(text: str = "text", n: int = 2) -> Column:
    """Word n-gram shingle HASHES with no shingle string ever built:
    hash each token once (32-bit md5), then combine each window of n
    token hashes polynomially, ``fold((acc·B + h_i) mod p)``.

    This replaced ``_hash32(word_shingles_col(...))`` as the MinHash
    base-hash source: profiling (BENCH/MINHASH_SCALING.md) showed the
    signature stage's floor was materializing every n-gram via
    ``array_join(slice(tokens, i, n))`` and md5-ing the joined string —
    per-token md5 plus integer window combination measured 2.0× faster
    at local[16] (and the win grows with n, which no longer multiplies
    hashed bytes).  Values differ from the string form, but every
    consumer treats shingle hashes as an opaque set and the SQL oracle
    computes the identical combination (``_sql_minhash_sig_list``).

    No distinct pass: duplicate windows repeat only the cheap combine
    (never an md5), and every consumer is a min over permuted hashes,
    which duplicates cannot change.  Both the token-hash array and the
    outer tokens array are LET-BOUND via the one-element ``transform()``
    trick (see ``word_shingles_col``) — interpreted lambdas re-execute a
    plain subtree per reference, so an unbound ``th`` would re-hash every
    token once per window.  Docs with fewer than n tokens short-circuit
    to an empty array (``sequence(1, 0)`` DESCENDS; it must never run)."""
    toks = words_col(text)
    if n == 1:
        return F.transform(toks, _hash32)

    def _combine(th: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(th) - (n - 1))

        def window_hash(i: Column) -> Column:
            acc = F.element_at(th, i)
            for j in range(1, n):
                acc = (acc * F.lit(SHINGLE_B) + F.element_at(th, i + j)) % F.lit(
                    MH_PRIME
                )
            return acc

        return F.when(F.size(th) < n, F.array().cast("array<long>")).otherwise(
            F.transform(idx, window_hash)
        )

    def _hashed(tk: Column) -> Column:
        return F.element_at(F.transform(F.array(F.transform(tk, _hash32)), _combine), 1)

    return F.element_at(F.transform(F.array(toks), _hashed), 1)


def mh_params(k: int) -> list:
    """Deterministic affine-permutation constants (a_j, b_j) for the K
    MinHash permutations, derived from md5 of the permutation index (no
    RNG, no seed state — identical everywhere, including the SQL oracle).
    a_j ∈ [1, 2^30): the product a_j·h with h < 2^32 stays below 2^62, so
    the arithmetic never overflows int64 in any engine."""
    import hashlib

    out = []
    for j in range(k):
        d = hashlib.md5(f"mh#{j}".encode()).hexdigest()
        a = int(d[:8], 16) % (2**30 - 1) + 1
        b = int(d[8:16], 16) % MH_PRIME
        out.append((a, b))
    return out


def minhash_signature_col(text: str = "text", k: int = 8, shingle_n: int = 2) -> Column:
    """K-permutation MinHash: polynomial shingle hashes from per-token
    md5s (``shingle_hashes_col`` — no n-gram string materialized), then K
    affine permutations ``(a_j·h + b_j) mod p`` (universal hashing) —
    exactly reproducible in SQL.

    Shaped as ONE nested higher-order function — transform over the
    params array with the hashed-shingle array bound once in the outer
    scope — so the (expensive) md5-over-tokens subtree appears once in
    the plan instead of k times.  NB: transform lambdas must be
    single-parameter; a second parameter receives the ARRAY INDEX,
    silently corrupting a closed-over binding."""
    hs = shingle_hashes_col(text, shingle_n)
    params = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in mh_params(k)
        ]
    )
    return F.transform(
        params,
        lambda ab: F.array_min(
            F.transform(hs, lambda h: (h * ab["a"] + ab["b"]) % F.lit(MH_PRIME))
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    shingle_n: int = 2,
) -> DataFrame:
    """Per-doc signature via explode → codegen projection → min-aggregate:
    ``(k, m0 … m{k-1})``, one row per doc that has ≥1 shingle.

    This is the SCALE form of ``minhash_signature_col`` (same values,
    test-asserted): higher-order array lambdas run interpreted, so the
    k per-element passes of the Column form cost ~0.5 µs per element-pass
    (measured: 8 passes over ~150-shingle docs = 3.5 s of the 4 s stage at
    sf0.1).  Exploding the shingle-HASH array instead makes the k affine
    permutations PLAIN column expressions — whole-stage codegen — and the
    ``groupBy(key)`` min aggregates map-side (explode preserves row
    locality, so partial aggregation collapses each doc to one k-long row
    before the exchange): shuffle = one row per doc, not one per shingle.
    The only interpreted work left is ``shingle_hashes_col``'s two array
    passes (md5 per token, integer combine per window) — the former
    shingle-string explode still paid an interpreted string-building pass
    PLUS codegen md5 over every joined n-gram, measured 2.0× slower at
    local[16] (BENCH/MINHASH_SCALING.md).  Duplicate shingles need no
    distinct pass — they cannot change a min.

    Docs with no shingles (fewer than ``shingle_n`` tokens, or NULL text)
    explode to zero rows and drop out — exactly the pre-banding filter the
    LSH path needs (a NULL signature would otherwise collapse every short
    doc into one hot bucket; mirrored in the SQL oracle)."""
    h = F.col("_sh")
    perms = [
        ((h * F.lit(a) + F.lit(b)) % F.lit(MH_PRIME)).alias(f"_p{j}")
        for j, (a, b) in enumerate(mh_params(k))
    ]
    return (
        df.select(
            F.col(key).alias("k"),
            F.explode(shingle_hashes_col(text, shingle_n)).alias("_sh"),
        )
        .select("k", *perms)
        .groupBy("k")
        .agg(*[F.min(f"_p{j}").alias(f"m{j}") for j in range(k)])
    )


# ------------------------------------------------- banded-bucket core -----
def _band_explode(df: DataFrame, buckets: list, *payload: str) -> DataFrame:
    """(k, *payload, band, bucket) rows — one per row of ``df`` × band.
    ``df`` carries the key as ``k``; ``buckets`` holds one bucket Column
    per band (the strategy: MinHash band string, SimHash bit slice, sign
    bits of a hyperplane family)."""
    bb = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
                for b, bucket in enumerate(buckets)
            ]
        )
    ).alias("bb")
    return df.select("k", *payload, bb).select("k", *payload, "bb.band", "bb.bucket")


def _cobucket(banded: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Co-locate each (band, bucket) in one task, optionally dropping
    buckets of more than ``max_bucket_size`` rows.

    The repartition has an EXPLICIT width, ``spark.sql.shuffle.partitions``:
    AQE coalesces shuffle reads by BYTES, and banded rows are tiny (key +
    two small columns) while the pair stage above them emits O(bucket²)
    rows — bytes wildly underestimate its compute density, and AQE was
    observed to fold a whole pairing onto 3 tasks (22 s CPU on 3.6 MB,
    no scaling past ~4 cores).  An explicit count is exempt from
    coalescing, inherits cluster sizing from the session, and is the one
    exchange both sides of a self-join reuse, so the bucket projection
    below it (signatures, simhashes, hyperplane dots) computes once.

    The cap bounds the pair blowup of hot buckets: a bucket of n docs
    emits O(n²) self-pairs, and near-identical boilerplate makes
    million-row buckets at 100 TB — AQE can rebalance a join but not
    bound its pair COUNT.  It is a WINDOW count on this same exchange:
    the window co-locates each bucket, which the repartition does anyway,
    so a hot bucket's rows move once and are dropped before any pairing.
    A count aggregate + broadcast anti-join would recompute the whole
    subtree under the exchange (a broadcast side never reuses it).  The
    dropped buckets are auditable through ``lsh_oversized_buckets``."""
    n_part = int(banded.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = banded.repartition(n_part, "band", "bucket")
    if max_bucket_size is None:
        return out
    size = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    return out.withColumn("_bsz", size).filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")


def _bucket_pairs(banded: DataFrame, *extra: Column, distinct: bool = True) -> DataFrame:
    """Within-bucket self-pairs of a ``_cobucket`` frame: (key_a, key_b,
    *extra) with key_a < key_b, distinct (``distinct=False`` leaves the
    raw join for stage probes).  ``extra`` columns read the two sides as
    ``a.<col>`` / ``b.<col>``.

    The ``shuffle_hash`` hint: at small data AQE turns the self-join into
    a broadcast join, and a broadcast side recomputes the subtree instead
    of reusing the exchange — the hint keeps both sides on the one
    repartition (plan-guarded: a single signature pass).  At scale the
    banded frame exceeds any broadcast threshold and this is the join AQE
    would pick anyway."""
    a, b = banded.alias("a"), banded.hint("shuffle_hash").alias("b")
    out = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.k") < F.col("b.k")),
    ).select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"), *extra)
    return out.distinct() if distinct else out


def _pairs_against(
    new_banded: DataFrame,
    old_banded: DataFrame,
    max_bucket_size: int | None = None,
    max_candidates_per_bucket: int | None = None,
) -> DataFrame:
    """(key_new, key_old) distinct: each new row × each index row sharing
    a (band, bucket).

    The cap is sided: each side drops only its OWN oversized buckets,
    which is pair-equivalent to dropping from both — the pair count is
    n_new × n_old, and zeroing either side zeroes the bucket's pairs.
    ``max_candidates_per_bucket`` truncates the INDEX side of each bucket
    to its C lowest keys (deterministic window rank) — the star-form
    analog for the cross join: per-bucket pairs drop from n_new × n_old
    to n_new × C while each new row still meets C history
    representatives per colliding band."""
    new = _cobucket(new_banded, max_bucket_size)
    old = _cobucket(old_banded, max_bucket_size)
    if max_candidates_per_bucket is not None:
        rank = F.row_number().over(Window.partitionBy("band", "bucket").orderBy("k"))
        old = (
            old.withColumn("_rn", rank)
            .filter(F.col("_rn") <= max_candidates_per_bucket)
            .drop("_rn")
        )
    a, b = new.alias("a"), old.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .select(F.col("a.k").alias("key_new"), F.col("b.k").alias("key_old"))
        .distinct()
    )


# --------------------------------------------------------- MinHash LSH ----
def _minhash_bands(
    df: DataFrame, text: str, key: str, k: int, bands: int, shingle_n: int
) -> DataFrame:
    """(k, band, bucket) rows: band b's bucket is the ``k // bands``
    signature values of that band joined with ':'.  Docs without
    shingles have no signature row, so they never share a bucket."""
    r = k // bands
    sig = minhash_signatures(df, text, key, k, shingle_n)
    return _band_explode(
        sig,
        [
            F.concat_ws(":", *[F.col(f"m{b * r + i}").cast("string") for i in range(r)])
            for b in range(bands)
        ],
    )


def _index_bands(index: DataFrame, key: str) -> DataFrame:
    return index.select(F.col(key).alias("k"), "band", "bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: equal MinHash band in ≥1 of ``bands`` bands.

    signature[k] → bands of k/bands values → explode → co-bucket →
    self-join inside buckets (key_a < key_b), distinct pairs.

    ``max_bucket_size`` drops buckets above the cap from pairing (every
    member still pairs through its other bands unless those are
    oversized too); ``lsh_oversized_buckets`` returns the dropped
    buckets for a quarantine sink, so the drop is observable."""
    banded = _minhash_bands(df, text, key, k, bands, shingle_n)
    return _bucket_pairs(_cobucket(banded, max_bucket_size))


def minhash_lsh_star_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    max_bucket_size: int | None = None,
    pivot_salt: str = "",
) -> DataFrame:
    """Candidate pairs in STAR form: each (band, bucket) emits
    (min-member, member) edges only — O(n) per bucket instead of the
    self-join's O(n²).

    ``pivot_salt`` rotates WHICH member anchors each bucket (pivot =
    argmin of md5(salt ++ key) instead of the plain min key): an
    iterated star dedup re-runs on the survivors with a fresh salt each
    round, so a member pair that both missed round-1's pivot gets a new
    anchor to meet through — each round stays O(n) per bucket
    (jobs/curate.py --near-dedup-rounds; measured at sf0.01: round 2
    closes most of the star-vs-all-pairs recall gap).

    This is the 100-TB near-dedup shape (the SlimPajama/RefinedWeb-scale
    trade): templated corpora produce hundreds of 100-5000-member
    buckets whose all-pairs explosion no per-bucket cap short of
    "useless" bounds — measured on the sf0.1 transcript corpus, cap 1000
    left 33.5M pairs (hours of Jaccard verify) where the star form emits
    <1M.  Downstream is unchanged: verify each edge exactly, then
    connected components — members that both match their bucket pivot
    land in one family through it.  The recall trade-off vs all-pairs is
    a member pair where NEITHER matches the pivot at ≥J but both match
    each other; every band gives such a pair another bucket (and pivot)
    to meet in.  All-pairs (``minhash_lsh_pairs``) remains the exact
    small-scale path.

    The pivot is a WINDOW over the co-bucketed exchange, not an
    aggregate + join-back: AQE broadcasts the tiny pivot frame, and a
    broadcast side never reuses the exchange, so the join form computed
    the shingle→signature subtree twice (plan-guarded in
    tests/test_plans.py).

    Output: (key_a, key_b) distinct with key_a < key_b (normalized with
    least/greatest — under a non-empty ``pivot_salt`` the salted-argmin
    pivot is not the key min, so the raw edge can come out reversed;
    column contract identical to ``minhash_lsh_pairs``, so verify/CC/
    representative stages and any ordering-sensitive oracle compose
    unchanged)."""
    banded = _cobucket(_minhash_bands(df, text, key, k, bands, shingle_n), max_bucket_size)
    w = Window.partitionBy("band", "bucket")
    if pivot_salt:
        order = F.md5(F.concat(F.lit(pivot_salt), F.col("k").cast("string")))
        pivot = F.min(F.struct(order.alias("o"), F.col("k").alias("k"))).over(w)["k"]
    else:
        pivot = F.min("k").over(w)
    return (
        banded.withColumn("_pivot", pivot)
        .filter(F.col("k") != F.col("_pivot"))
        .select(
            F.least("_pivot", "k").alias("key_a"),
            F.greatest("_pivot", "k").alias("key_b"),
        )
        .distinct()
    )


def lsh_banded(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Public (key, band, bucket) banding — the persistable LSH INDEX of a
    corpus.  An incremental pipeline appends this frame for each data
    increment into a sidecar table (keys + two small columns — a few
    bytes/row/band regardless of text size), so later increments can find
    near-dup candidates against the WHOLE history by one equi-join on
    (band, bucket) instead of re-banding 100 TB of text per run (see
    ``lsh_pairs_against`` and jobs/curate.py --incremental)."""
    return _minhash_bands(df, text, key, k, bands, shingle_n).select(
        F.col("k").alias(key), "band", "bucket"
    )


def lsh_pairs_against(
    new_df: DataFrame,
    index: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    max_bucket_size: int | None = None,
    max_candidates_per_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs of NEW docs against an EXISTING banded
    index (``lsh_banded`` output: (key, band, bucket)): the incremental
    half of MinHash LSH — only the increment's text is shingled and
    hashed; history participates as its tiny pre-banded index rows.

    Output: (key_new, key_old) distinct — one row per new doc ×
    colliding indexed doc.  Asymmetric by design: new×new pairing is the
    ordinary ``minhash_lsh_pairs`` over the increment, run separately.
    ``max_bucket_size`` (sided) and ``max_candidates_per_bucket``
    (index-side truncation) bound hot buckets; see ``_pairs_against``."""
    return _pairs_against(
        _minhash_bands(new_df, text, key, k, bands, shingle_n),
        _index_bands(index, key),
        max_bucket_size,
        max_candidates_per_bucket,
    )


def lsh_oversized_buckets(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """The quarantine view: (band, bucket, bucket_size) of buckets the
    capped pairing dropped — write it next to the pairs output so scale
    runs can audit what was skipped (no silent truncation)."""
    return (
        _minhash_bands(df, text, key, k, bands, shingle_n)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


# ------------------------------------------------------------ simhash -----
def simhash_col(text: str = "text", bits: int = 16) -> Column:
    """B-bit SimHash: bit b set iff more than half the distinct tokens have
    bit b set in their 60-bit md5 hash. Engine-neutral and exact.

    The hash array is LET-BOUND via the one-element ``transform()`` trick
    (see ``word_shingles_col``): as a plain expression it would be
    re-executed for the size check AND inside each of the ``bits``
    filter passes — ~(bits+1)× the split+md5 work per row in interpreted
    higher-order functions.  As a lambda variable it evaluates once."""
    toks = F.array_distinct(words_col(text))

    def _sim(hashes: Column) -> Column:
        n = F.size(hashes)
        out = F.lit(0).cast("long")

        def _bit_filter(b: int):
            mask = F.lit(2 ** b).cast("long")
            return lambda h: h.bitwiseAND(mask) > 0

        for b in range(bits):
            cnt = F.size(F.filter(hashes, _bit_filter(b)))
            out = out + F.when((cnt * 2) > n, F.lit(2 ** b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return out

    return F.element_at(
        F.transform(F.array(F.transform(toks, _hash60)), _sim), 1
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate generation + exact Hamming
    verify — (key_a, key_b, hamming) with hamming ≤ ``max_hamming``.

    Pigeonhole guarantee: a pair with Hamming distance d < ``bands`` agrees
    exactly on at least one bit-band, so banding at 4 bands finds every
    pair up to distance 3 — the same candidate-bounding trick as MinHash
    LSH banding, re-used on the SimHash bit signature.  The self-join
    shuffles only (key, signature, band, bucket) — never the text."""
    if max_hamming >= bands:
        raise ValueError("pigeonhole requires max_hamming < bands")
    bpb = bits // bands
    mask = F.lit((1 << bpb) - 1).cast("long")
    sim = df.select(F.col(key).alias("k"), simhash_col(text, bits).alias("sh"))
    banded = _band_explode(
        sim, [F.shiftright("sh", b * bpb).bitwiseAND(mask) for b in range(bands)], "sh"
    )
    ham = hamming_col(F.col("a.sh"), F.col("b.sh"), bits).alias("hamming")
    return _bucket_pairs(_cobucket(banded), ham).filter(F.col("hamming") <= max_hamming)


def hamming_col(a: Column, b: Column, bits: int) -> Column:
    """Hamming distance between two ``bits``-wide simhashes: popcount of
    XOR — ``bit_count``, the DuckDB oracle's form too (both inputs are
    non-negative and below 2^``bits``, so the 64-bit count is exact)."""
    return F.bit_count(a.bitwiseXOR(b))


def verify_pairs_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """The verify stage of the dedup pipeline: exact word-set Jaccard on
    the CANDIDATE pairs only (never all-pairs).  Joins the texts back on
    each side — two hash joins keyed by doc id, shuffling only
    (key, text) projections — and keeps pairs at ≥ ``threshold``
    similarity (compared on the 6dp-rounded value: engine-portable).
    Output: (key_a, key_b, jaccard)."""
    a = df.select(F.col(key).alias("key_a"), F.col(text).alias("_ta"))
    b = df.select(F.col(key).alias("key_b"), F.col(text).alias("_tb"))
    return (
        pairs.join(a, "key_a")
        .join(b, "key_b")
        .select(
            "key_a",
            "key_b",
            F.round(jaccard_words_col(F.col("_ta"), F.col("_tb")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------ near-dup clustering -----
def near_dup_components(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    max_iterations: int = 20,
    checkpoint_interval: int = 1,
    require_convergence: bool = True,
) -> DataFrame:
    """Connected components over candidate near-dup pairs → (member,
    component) where component = min key in the member's component.

    This is the step that turns pair LISTS into a dedup ACTION: members of
    one component are the same document family; keep min(key) per family.

    Algorithm: min-label propagation WITH pointer jumping — each round
    every node takes (1) the min of its own and its neighbors' labels,
    then (2) its label's label (path shortcut).  The shortcut halves the
    remaining chain depth, so convergence is O(log diameter) rounds (plain
    propagation is O(diameter) — a 400-doc near-dup chain at small SF
    needs hundreds of rounds without it).  Each round is two joins + one
    map-side-combined groupBy over the NARROW (node, label) frame; the
    driver loop stops when a round changes nothing (a bounded limit(1)
    count, never a label collect).  This is the standard large-graph CC
    loop at 10^12-row scale.

    Fault tolerance: when the session has a RELIABLE checkpoint dir
    (``spark.sparkContext.setCheckpointDir`` — HDFS/object store on a real
    cluster; build_session sets a local one), each cut round writes the
    labels to that store, so losing an executor loses nothing.  Without
    one it falls back to ``localCheckpoint`` (executor block managers —
    fine in local mode, NOT at cluster scale: a lost executor makes the
    lineage-truncated plan unrecomputable).  ``checkpoint_interval`` > 1
    cuts lineage every K rounds and only ``persist``\\ s in between
    (GraphX-style); the previous round's frame is unpersisted once the new
    one is materialized, so the loop holds ≤2 copies of the narrow frame.

    Convergence: with pointer jumping the default 20 rounds covers a
    component diameter of ~2^20; if ``max_iterations`` is still exhausted
    the function RAISES (``require_convergence=False`` opts into
    best-effort labels) — silently returning under-converged components
    would merge/split dedup families wrongly downstream.
    """
    spark = pairs.sparkSession
    try:
        reliable = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    except Exception:  # pragma: no cover - py4j surface change
        reliable = False

    def _cut(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    edges = _cut(
        pairs.select(F.col(key_a).alias("src"), F.col(key_b).alias("dst"))
        .unionByName(pairs.select(F.col(key_b).alias("src"), F.col(key_a).alias("dst")))
        .distinct()
    )
    # edges MUST be cut before the loop: every round (and every
    # convergence check) references it, and an uncut edges frame re-runs
    # its whole upstream — candidate build + Jaccard verify + extraction
    # — per iteration (measured: the sf0.1 curate near-dedup stage ran
    # 800+ stages and stalled out; with the cut it is one pass).  The
    # frame is narrow (2 string columns, 2|pairs| rows), so the
    # checkpoint write is trivial next to one upstream re-execution.
    labels = _cut(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    prev_persisted: DataFrame | None = None
    for i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        step1 = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                "label"
            ),
        )
        # pointer jump: label ← label's label (labels[x] ≤ x invariant makes
        # the shortcut monotone; a label is always an existing node id)
        parent = step1.select(
            F.col("node").alias("_pnode"), F.col("label").alias("_plabel")
        )
        new_labels = step1.join(parent, step1.label == parent._pnode, "left").select(
            "node",
            "_old",
            F.least(F.col("label"), F.coalesce(F.col("_plabel"), F.col("label"))).alias(
                "label"
            ),
        )
        if (i + 1) % checkpoint_interval == 0:
            new_labels = _cut(new_labels)  # lineage cut (reliable when dir set)
            cached_this_round = None
        else:
            new_labels = persist(new_labels, StorageLevel.MEMORY_AND_DISK_DESER)
            cached_this_round = new_labels
        changed = new_labels.filter(F.col("label") < F.col("_old")).limit(1).count()
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = cached_this_round
        labels = new_labels.drop("_old")
        if changed == 0:
            converged = True
            break
    if prev_persisted is not None:
        prev_persisted.unpersist()
    if not converged and require_convergence:
        raise RuntimeError(
            f"near_dup_components did not converge in {max_iterations} rounds "
            "(component diameter > ~2^max_iterations); raise max_iterations or "
            "pass require_convergence=False for best-effort labels"
        )
    return labels.select(F.col("node").alias("member"), F.col("label").alias("component"))


def dedup_near_representatives(
    df: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
) -> DataFrame:
    """Keep one representative (the component's min key) per near-dup
    family; docs in no pair keep themselves.  Returns df rows whose key is
    a representative — the deduplicated corpus."""
    comps = near_dup_components(pairs)
    drop = comps.filter(F.col("member") != F.col("component")).select(
        F.col("member").alias(key)
    )
    return df.join(drop, key, "left_anti")


# ------------------------------------------------------- n-gram jaccard ---
def jaccard_words_col(a: Column, b: Column) -> Column:
    """Word-set Jaccard between two text columns (distinct whitespace
    tokens). Exact rational arithmetic until the final divide."""
    sa = F.array_distinct(words_col(a))
    sb = F.array_distinct(words_col(b))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
