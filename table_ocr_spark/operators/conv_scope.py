"""Conversation-scoped operators — stages that need whole-conversation
context, run via ``groupBy(conv_id).applyInPandas`` (SURVEY.md §2.6 UDF
surface; the across-turn variant of separator voting described in §2.3's
Hough mapping).

Per-turn extraction is embarrassingly parallel; these are the exceptions
that genuinely require co-locating a conversation:

* ``strip_conv_boilerplate`` — a line repeated in ≥ ``ratio`` of a
  conversation's turns (signatures, tool banners, prompt preambles) is
  conversation-level boilerplate and removed from every turn.  This is the
  cross-turn analog of the page-header removal inside one payload
  (functions/layout.strip_running_lines), i.e. an adaptive threshold whose
  "neighborhood" is the conversation.
* ``conv_metrics`` — per-conversation rollup (plain groupBy; no Python).

Scale: the groupBy(conv_id) shuffle is the one place long conversations
CANNOT be salted (the semantics need the whole conv).  Skew mitigation is
structural instead — ``method="linehash"``: payload lines are hashed per
turn first (map-side projection), so only ``(conv_id, turn_idx,
line_hashes)`` shuffles — bytes per turn shrink by orders of magnitude;
the heavy text never moves, and removal is a second map-side pass against
the banned-hash sets joined back per conversation (broadcast by default —
banned lines are repeated-content heavy hitters, a bounded set; pass
``broadcast_banned=False`` to fall back to a shuffled join for adversarial
corpora).  ``method="gather"`` is the direct applyInPandas over full text.
Both methods produce identical output (tests/test_conv_scope.py asserts
frame equality on the synth corpus, including the skewed long-conv tail).
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.functions.normalize import normalize


def _banned_lines(texts: List[str], ratio: float, min_turns: int) -> set:
    if len(texts) < min_turns:
        return set()
    from collections import Counter

    seen = Counter()
    for t in texts:
        lines = {ln.strip() for ln in normalize(t).split("\n") if ln.strip()}
        seen.update(lines)
    cut = max(2, int(ratio * len(texts) + 0.9999))
    return {ln for ln, c in seen.items() if c >= cut}


def _h60(s: str) -> int:
    """60-bit md5 line hash (same family as the dedup operators').  A
    collision would ban one wrong line per ~2^30 distinct lines per conv —
    accepted; the gather method is the collision-free reference."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _distinct_line_hashes(text) -> List[int]:
    return sorted({_h60(ln.strip()) for ln in normalize(text).split("\n") if ln.strip()})


@F.pandas_udf(T.ArrayType(T.LongType()))
def _line_hashes_udf(texts: pd.Series) -> pd.Series:
    return texts.map(_distinct_line_hashes)


@F.pandas_udf(T.StringType())
def _strip_banned_udf(texts: pd.Series, banned: pd.Series) -> pd.Series:
    out = []
    for text, bh in zip(texts, banned):
        norm = normalize(text)
        if bh is None or len(bh) == 0:
            out.append(norm)
            continue
        bset = set(int(h) for h in bh)
        kept = [
            ln
            for ln in norm.split("\n")
            if not ln.strip() or _h60(ln.strip()) not in bset
        ]
        out.append("\n".join(kept))
    return pd.Series(out, dtype=object)


def strip_conv_boilerplate(
    df: DataFrame,
    ratio: float = 0.6,
    min_turns: int = 3,
    method: str = "linehash",
    broadcast_banned: bool = True,
) -> DataFrame:
    """(conv_id, turn_idx, text) → (conv_id, turn_idx, text_stripped,
    n_banned_lines), with lines present in ≥ ratio of the conversation's
    turns removed.

    method="linehash" (DEFAULT — the scale path): only line HASHES shuffle
    (narrow projection), banned sets join back, text is stripped map-side;
    a 20k-turn conversation never gathers into one task.
    method="gather": groupBy(conv_id).applyInPandas over full text — the
    collision-free reference plan, oracle-equal to linehash; opt in when
    conversations are known to fit a task and hash collisions (2^-60 per
    line pair) must be exactly zero.
    """
    if method == "linehash":
        return _strip_linehash(df, ratio, min_turns, broadcast_banned)

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text_stripped", T.StringType()),
            T.StructField("n_banned_lines", T.IntegerType()),
        ]
    )

    def _per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        banned = _banned_lines(list(pdf["text"]), ratio, min_turns)
        out_rows = []
        for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
            norm = normalize(text)
            kept = [ln for ln in norm.split("\n") if ln.strip() not in banned or not ln.strip()]
            out_rows.append((conv_id, int(turn_idx), "\n".join(kept), len(banned)))
        return pd.DataFrame(out_rows, columns=["conv_id", "turn_idx", "text_stripped", "n_banned_lines"])

    return df.select("conv_id", "turn_idx", "text").groupBy("conv_id").applyInPandas(_per_conv, schema)


def _strip_linehash(
    df: DataFrame, ratio: float, min_turns: int, broadcast_banned: bool
) -> DataFrame:
    """Line-hash plan:

    1. map-side: distinct line hashes per turn (projection, no shuffle);
    2. shuffle ONLY (conv_id, turn_idx, hashes): per-conv turn counts and
       per-(conv, line) occurrence counts — both map-side partially
       aggregated, skew-free (a 20k-turn conv is a 20k-row narrow group);
    3. banned = lines occurring in ≥ max(2, ⌊ratio·n_turns + 0.9999⌋) turns
       of convs with ≥ min_turns turns (bit-identical arithmetic to the
       gather method's Python cut);
    4. banned-hash sets join back to the ORIGINAL rows (broadcast: banned
       sets are repeated-content heavy hitters, bounded small) and a second
       map-side pass strips matching lines — the full text never shuffles.
    """
    src = df.select("conv_id", "turn_idx", "text")
    hashes = src.select("conv_id", "turn_idx", _line_hashes_udf("text").alias("lh"))
    n_turns = hashes.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    cut = F.greatest(
        F.lit(2).cast("long"),
        F.floor(F.lit(ratio) * F.col("n_turns") + F.lit(0.9999)),
    )
    banned_sets = (
        hashes.select("conv_id", F.explode("lh").alias("h"))
        .groupBy("conv_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(n_turns.filter(F.col("n_turns") >= min_turns), "conv_id")
        .filter(F.col("c") >= cut)
        .groupBy("conv_id")
        .agg(F.collect_set("h").alias("_banned"))
    )
    if broadcast_banned:
        banned_sets = F.broadcast(banned_sets)
    joined = src.join(banned_sets, "conv_id", "left")
    return joined.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _strip_banned_udf("text", "_banned").alias("text_stripped"),
        # NB not coalesce(size(...)): legacy sizeOfNull makes size(NULL) = -1
        F.when(F.col("_banned").isNull(), F.lit(0))
        .otherwise(F.size("_banned"))
        .cast("int")
        .alias("n_banned_lines"),
    )


def strip_corpus_boilerplate(
    df: DataFrame,
    text: str = "text",
    key_cols: tuple = ("conv_id", "turn_idx"),
    min_df: int = 3,
) -> DataFrame:
    """CORPUS-level boilerplate line removal (the C4/Dolma rule): any
    trimmed line present in ≥ ``min_df`` distinct documents is removed
    from every document.

    This is the third scope of the same operator family: per-payload
    running-line strip (functions/layout), per-CONVERSATION strip
    (``strip_conv_boilerplate`` — a line repeated across one conv's
    turns), and this corpus scope — a banner appearing ONCE per
    conversation but in every conversation is invisible to both
    narrower scopes and is exactly what this catches (cookie notices,
    client signatures, platform footers).

    Output: ``key_cols`` + ``text_stripped`` + ``n_banned_lines`` (count
    of corpus-banned distinct lines present in that document).

    Scale shape (the ``linehash`` pattern, corpus-wide): per-doc
    DISTINCT line hashes are a map-side projection; only (key, hash)
    rows ever shuffle — once for the document-frequency count (map-side
    combined) and once to intersect each doc's hashes with the banned
    set (semi-join on the hash, then a narrow per-doc collect_set) —
    the full text never moves, and the strip is a second map-side pass.
    The banned set is never materialized driver-side or broadcast whole
    (corpus-wide it can be millions of lines); each document only ever
    carries ITS OWN banned intersection."""
    from table_ocr_spark.session import persist

    keys = list(key_cols)
    src = df
    # referenced by the doc-frequency count AND the per-doc banned
    # intersection — uncached, the line-hash UDF pass runs twice
    hashes = persist(src.select(*keys, _line_hashes_udf(text).alias("lh")))
    exploded = hashes.select(*keys, F.explode("lh").alias("h"))
    # lh is per-doc DISTINCT, so count(1) per hash IS document frequency
    banned = (
        exploded.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("h")
    )
    doc_banned = (
        exploded.join(banned, "h", "left_semi")
        .groupBy(*keys)
        .agg(F.collect_set("h").alias("_banned"))
    )
    joined = src.join(doc_banned, keys, "left")
    return joined.select(
        *keys,
        _strip_banned_udf(text, "_banned").alias("text_stripped"),
        F.when(F.col("_banned").isNull(), F.lit(0))
        .otherwise(F.size("_banned"))
        .cast("int")
        .alias("n_banned_lines"),
    )


def conv_metrics(extracted: DataFrame) -> DataFrame:
    """Per-conversation rollup of extraction output (pure groupBy — the
    partial-aggregated two-stage plan; no Python)."""
    return extracted.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.avg("boilerplate_ratio").alias("bp_avg"),
        F.sum(
            F.aggregate(F.transform("cells", F.size), F.lit(0), lambda a, x: a + x)
        ).cast("long").alias("cell_count"),
        F.max(F.length("clean_text")).cast("long").alias("max_clean_len"),
    )


def cells_flat(extracted: DataFrame) -> DataFrame:
    """Flattened cell view for downstream SQL (SURVEY.md §2.4: explode rows
    → posexplode cells): one output row per table cell."""
    rows = extracted.select(
        "conv_id", "turn_idx", F.posexplode("cells").alias("row_idx", "row_cells")
    )
    return rows.select(
        "conv_id",
        "turn_idx",
        F.col("row_idx").cast("long").alias("row_idx"),
        F.posexplode("row_cells").alias("col_idx", "cell"),
    ).withColumn("col_idx", F.col("col_idx").cast("long"))


def conv_text(
    df: DataFrame,
    text: str = "text",
    key: str = "conv_id",
    order: str = "turn_idx",
    sep: str = "\n",
) -> DataFrame:
    """(conv_id, text): the conversation re-assembled as ONE ordered
    document — turn texts joined by ``sep`` in ``order`` — the input
    granularity for CONVERSATION-level dedup and fingerprinting.

    Turn-level dedup (the curation default) collapses repeated content
    inside and across conversations; conv-level dedup answers the other
    real pipeline question — "is this whole conversation a re-upload of
    one we already have?" — where per-turn fingerprints cannot: two
    identical conversations whose turns are individually common survive
    turn dedup via different (conv, turn) representatives.

    Plan shape: one partial-aggregated ``collect_list(struct(order,
    text))`` — conversations shuffle ONCE, each as a single list row —
    then ``sort_array`` + join, both JVM expressions.  The turn order is
    made explicit (sorted by ``order``) so the result is
    partitioning-invariant, never scan-order-dependent.  At 100 TB a
    million-turn pathological conversation is one fat row; cap such
    conversations upstream (operators/sampling.cap_per_key) if the
    corpus can contain them."""
    pairs = F.sort_array(F.collect_list(F.struct(F.col(order), F.col(text))))
    return df.groupBy(F.col(key)).agg(
        F.array_join(F.transform(pairs, lambda s: s[text]), sep).alias("text")
    )
