"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Spark column expressions — JVM-side, whole-stage-codegen'd, no
Python in the hot path.  Every operator has an exact DuckDB-SQL equivalent
(used as the correctness oracle), so semantics are pinned engine-neutrally:
same tokenization (regex split on whitespace), same marker-word sets, same
md5-based hashing.

These extend the reference's capability surface (it extracts content; a
10^12-turn corpus also needs filtering/scoring — SURVEY.md §7 scope note),
the way its ``TesseractOCR`` recognizer knobs (detectors.py:767-890:
language ``eng+fas``, quality via confidence) foreshadow language handling
and quality signals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Marker-token sets per language (deterministic heuristic; the oracle runs
# the same sets — this is a pinned spec, not a linguistics claim).
LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "to", "a"),
    "de": ("der", "die", "und", "das", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "des", "une"),
    "es": ("el", "los", "y", "las", "una", "que"),
}
LANG_PRIORITY = ("en", "de", "fr", "es")  # deterministic tie-break order

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def words_col(col: str | Column = "text", lower: bool = True) -> Column:
    """The engine's one word tokenizer: split(trim(lower(col)), '\\s+'),
    or split(trim(col), '\\s+') with ``lower=False``.  Empty text yields
    ``[""]``, NULL text NULL — the DuckDB oracles split the same way."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c) if lower else c), r"\s+")


def token_count_col(text: str = "text") -> Column:
    return F.when(F.trim(F.col(text)) == "", F.lit(0)).otherwise(
        F.size(words_col(text, lower=False))
    ).cast("long")


def marker_hits(text: str, markers: tuple) -> Column:
    lit_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words_col(text, lower=False), lambda t: F.array_contains(lit_arr, F.lower(t))))


def distinct_marker_hits(text: str, markers: tuple) -> Column:
    """# of DISTINCT marker tokens present — one native array_intersect,
    an order of magnitude cheaper than filtering every token."""
    lit_arr = F.array(*[F.lit(m) for m in markers])
    toks = F.array_distinct(words_col(text))
    return F.size(F.array_intersect(toks, lit_arr))


def lang_id_col(text: str = "text") -> Column:
    """Marker-token language ID: CJK chars dominate; otherwise argmax of
    distinct-marker-hit counts, ties broken by LANG_PRIORITY order.

    Perf shape matters here (measured at sf0.1): Catalyst does no CSE
    across CASE branches, so any formulation that references each count
    several times re-evaluates the tokenize+count subtree per reference
    (a when()-fold is exponential, a flat CASE still ~16 copies → 33 s).
    Instead the counts are packed ONCE into an array of structs ordered as
    (count, priority, lang) and argmax is a single array_max — struct
    comparison is lexicographic, so higher count wins, then earlier
    priority. Each count subtree appears exactly once; ~1 s at sf0.1.

    The CJK term is regexp_count('[一-鿿]'), NOT
    length(regexp_replace('[^一-鿿]', '')): same value (each CJK char is
    one match of the class), but RegExpReplace instances with different
    patterns in one projection thrash the compiled-pattern cache per row,
    and recompiling the CJK char class is expensive — measured 25-38 s
    per extra co-resident pattern at sf0.1.  RegExpCount is a different
    expression class with its own state, immune to the clash."""
    zh = F.regexp_count(F.col(text), F.lit("[一-鿿]"))
    n = len(LANG_PRIORITY)
    structs = F.array(
        *[
            F.struct(
                distinct_marker_hits(text, LANG_MARKERS[lang]).alias("c"),
                F.lit(n - i).alias("p"),  # earlier priority = larger p
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_PRIORITY)
        ]
    )
    best = F.array_max(structs)
    return (
        # NULL text first: every guard below evaluates to NULL for it
        # (regexp_count(NULL), size(intersect(NULL,...))), so without
        # this branch the when-chain falls through to `best['lang']`,
        # which tie-breaks the all-NULL counts on priority alone and
        # silently labels a null row 'en'
        F.when(F.col(text).isNull(), F.lit(None).cast("string"))
        .when(zh > 0, F.lit("zh"))
        .when(best["c"] == 0, F.lit("unk"))
        .otherwise(best["lang"])
    )


def stopword_ratio_col(text: str = "text") -> Column:
    n = token_count_col(text)
    hits = marker_hits(text, EN_STOPWORDS).cast("double")
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n.cast("double"))


# exactly the char set of the oracle's regexp '[A-Za-z0-9\s]' — Java \s is
# [ \t\n\x0B\f\r], the same set RE2/DuckDB match (\x0B is \v), so translate
# (regex-free) is value-identical to the regexp_replace form (probe-tested
# incl. unicode ws like U+3000, which neither engine's \s matches)
_ALNUM_WS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 \t\n\x0b\f\r"
)


def special_char_ratio_col(text: str = "text") -> Column:
    """Share of chars outside [A-Za-z0-9\\s].  translate(), not
    regexp_replace(): two RegExpReplace expressions with different
    patterns in ONE projection thrash Spark's compiled-pattern cache
    per row — measured 25-38 s instead of ~3 s at sf0.1 whenever this
    column shared a projection with the lang-ID CJK regex (see
    lang_id_col's zh term for the other half of the fix)."""
    total = F.length(F.col(text))
    specials = F.length(F.translate(F.col(text), _ALNUM_WS, ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        specials.cast("double") / total.cast("double")
    )


def quality_score_col(text: str = "text") -> Column:
    """Composite quality in [0,1]: length term + stopword term + cleanliness
    term. Pinned formula (oracle replicates it verbatim):

        0.5 * least(1, tokens/50) + 0.3 * stopword_ratio
        + 0.2 * (1 - special_char_ratio)
    """
    n = token_count_col(text).cast("double")
    length_term = F.least(F.lit(1.0), n / F.lit(50.0))
    return (
        F.lit(0.5) * length_term
        + F.lit(0.3) * stopword_ratio_col(text)
        + F.lit(0.2) * (F.lit(1.0) - special_char_ratio_col(text))
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols —
# the shape of GPT-2's pre-tokenization split, engine-neutral regex
# (\p{L}/\p{N} work in both Java regex and RE2).
BPE_ISH_PATTERN = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"


def bpe_token_count_col(text: str = "text") -> Column:
    """Sub-word-ish token count: letter runs + digit runs + symbols."""
    return F.size(F.regexp_extract_all(F.col(text), F.lit(BPE_ISH_PATTERN), F.lit(0))).cast(
        "long"
    )


# Polynomial rolling hash: h = fold(h * B + w_i mod M) over word hashes.
# M = 2^31-1 (Mersenne), B = 131: products stay far below 2^63, so the
# arithmetic is exact in BIGINT on every engine.
ROLL_B = 131
ROLL_M = 2**31 - 1


def rolling_fingerprint_col(text: str = "text") -> Column:
    """Order-sensitive document fingerprint (md5 fingerprint is order-
    insensitive-ish only to whitespace; this one distinguishes word order
    and supports incremental/windowed variants)."""
    toks = words_col(text)
    word_h = F.transform(
        toks,
        lambda t: F.pmod(
            hash60_col(t), F.lit(ROLL_M)
        ),
    )
    return F.aggregate(
        word_h,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * ROLL_B + w, F.lit(ROLL_M)),
    )


def hash60_col(col: Column) -> Column:
    """md5 -> first 15 hex chars -> int64 (60 bits): the ONE pinned
    cross-engine hash behind dedup, sampling, mixture and split
    assignment — DuckDB oracle form ('0x' || substr(md5(x), 1, 15))::
    BIGINT.  Every consumer must call THIS helper: five drifting copies
    of a pinned hash spec is how engines fall out of agreement."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint_col(text: str = "text") -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text — the exact-dedup key. (Content-defined, layout-insensitive.)"""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text), r"\s+", " ")))
    return F.md5(norm)


# Redaction patterns: RE2-compatible (no backrefs/lookaround), so the
# identical pattern strings run in both Spark (java.util.regex) and the
# DuckDB oracle (RE2) — exact cross-engine equality.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
LONG_NUM_RE = r"\d{7,}"


def redact_pii_col(text: str | Column = "text") -> Column:
    """Training-data PII scrub: emails → <EMAIL>, URLs → <URL>, long digit
    runs (ids, phone numbers, 7+ digits) → <NUM>.  Pure JVM
    ``regexp_replace`` chain — order matters (emails first, so the
    address's domain dots are gone before URL matching; URLs before
    numbers, so numeric path segments collapse into the <URL> token)."""
    col = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, URL_RE, "<URL>")
    return F.regexp_replace(out, LONG_NUM_RE, "<NUM>")


def vocabulary_topk(df: DataFrame, text: str = "text", k: int = 100) -> DataFrame:
    """Corpus vocabulary: token → frequency, deterministic top-k
    (freq DESC, token ASC).  The wordcount shape at scale: explode is a
    generator (no shuffle), the groupBy partial-aggregates map-side so
    only (token, partial_count) rows cross the exchange, and top-k is a
    TakeOrdered, not a full sort."""
    tok = F.explode(words_col(text)).alias("token")
    return (
        df.select(tok)
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(k)
    )


def dup_line_frac_col(text: str = "text") -> Column:
    """Gopher-style repetition signal: fraction of non-empty trimmed lines
    that are repeats of an earlier line (1 - distinct/total; 0 for docs
    with no lines).  Pure array expressions — no shuffle, no Python."""
    lines = F.filter(
        F.transform(F.split(F.col(text), "\n"), F.trim),
        lambda x: x != "",
    )
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n.cast("double"),
            6,
        )
    )


def top_bigram_share_col(text: str = "text") -> Column:
    """Gopher-style repetition signal: share of all word 2-grams taken by
    the single most frequent 2-gram (0 for docs with <2 tokens).

    Per-row mode without a shuffle: sort the bigram array, then one
    aggregate() pass tracks the longest equal run — the mode's count in a
    sorted array.  The token and bigram arrays are LET-BOUND (one-element
    transform) so each evaluates once per row — interpreted lambdas
    re-execute plain subtrees on every reference, and windows built with
    per-element element_at(toks, …) are O(tokens²) on long docs (the same
    pathology fixed in dedup.word_shingles_col)."""
    toks = words_col(text)

    def _bigrams(tk: Column) -> Column:
        return F.when(F.size(tk) < 2, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.array_join(F.slice(tk, i, 2), " "),
            )
        )

    def _share(bg: Column) -> Column:
        acc0 = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        )
        run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))  # noqa: E731
        best = F.aggregate(
            F.array_sort(bg),
            acc0,
            lambda acc, x: F.struct(
                x.alias("prev"),
                run(acc, x).alias("run"),
                F.greatest(acc["best"], run(acc, x)).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        n = F.size(bg)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            F.round(best.cast("double") / n.cast("double"), 6)
        )

    return F.element_at(
        F.transform(F.array(F.element_at(F.transform(F.array(toks), _bigrams), 1)), _share),
        1,
    )


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    key: str = "doc_id",
    budget: int = 2048,
    n_buckets: int = 64,
) -> DataFrame:
    """Assign every doc a training-sequence slot: ``(pack_bucket, seq_id,
    seq_offset)`` — the "concatenate the stream, cut at every ``budget``
    tokens" packing used to build fixed-context training batches.

    Scale shape: a single global order would serialize into one window
    partition, so docs are first hash-bucketed (deterministic, RNG-free —
    same md5→60-bit family as ``dataset_split_col``) and packed WITHIN
    each bucket in key order: one shuffle on ``pack_bucket``, each bucket
    an independent running sum (the standard shard-then-pack layout; a
    sequence never spans buckets).  A doc belongs to the sequence where
    its first token lands; docs longer than ``budget`` still get exactly
    one slot (downstream chunking splits them).  Deterministic ⇒ the
    DuckDB oracle reproduces it bit-for-bit with the same window spec.

    The window rides an EXPLICIT repartition(n_buckets, pack_bucket) —
    one partition per bucket.  Explicit width is AQE-coalescing-exempt
    (see dedup._cobucket) and it makes the exchange the one a
    shard writer needs anyway: jobs/prepare.py writes straight out of
    this partitioning (partitionBy splits co-resident buckets into
    per-bucket files), saving a second full-row shuffle on the same key."""
    bucket = F.pmod(
        hash60_col(F.col(key).cast("string")).cast(
            "long"
        ),
        F.lit(n_buckets),
    )
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("pack_bucket", bucket)
        .repartition(n_buckets, "pack_bucket")
        .withColumn("_cum", F.sum(F.col(token_col).cast("long")).over(w))
    )
    start = F.col("_cum") - F.col(token_col)
    return (
        out.withColumn("seq_id", F.floor(start / F.lit(budget)).cast("long"))
        .withColumn("seq_offset", (start % F.lit(budget)).cast("long"))
        .drop("_cum")
    )


def dataset_split_col(
    key: str | Column = "text",
    n_buckets: int = 1000,
    cuts: tuple = (900, 950),
    names: tuple = ("train", "val", "test"),
) -> Column:
    """Deterministic train/val/test assignment by content hash — the
    split step of a training-data pipeline.

    Hash-based (md5 → 60-bit int → bucket) rather than RNG-based, so the
    assignment is (1) reproducible across runs/engines with no seed
    plumbing, (2) stable under repartitioning and incremental reruns (a
    row's split never depends on what other rows are present), and
    (3) leak-resistant when keyed on a CONTENT fingerprint: exact
    duplicates land in the same split by construction, so a test document
    can't leak into train via its copy.  ``cuts`` are ascending bucket
    thresholds out of ``n_buckets`` (default 90/5/5); any N-way split
    works with len(names) == len(cuts) + 1."""
    if len(names) != len(cuts) + 1:
        raise ValueError(
            f"need len(names) == len(cuts) + 1, got {len(names)} names / {len(cuts)} cuts"
        )
    h = hash60_col(F.col(key) if isinstance(key, str) else key) % n_buckets
    out = F.when(h < cuts[0], names[0])
    for c, nm in zip(cuts[1:], names[1:-1]):
        out = out.when(h < c, nm)
    return out.otherwise(names[-1])
