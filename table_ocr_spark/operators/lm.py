"""Corpus n-gram language-model quality scoring (CCNet-style signal).

The strongest classic quality filter for web-scale training data is an
n-gram LM log-probability per document (CCNet/KenLM; Gopher and most
published pipelines keep a variant).  This module trains a bigram model
ON the corpus itself with exact counts and scores every document by its
mean stupid-backoff log-probability — fully declarative DataFrame ops,
exactly reproducible by a SQL oracle (no sampling, no floats in the
model, logs only at scoring time).

Reference analog: none — the reference's only per-cell "confidence" is
tesseract's x_wconf (ttocr/detectors.py:849 neighborhood); an LM score
is the text-domain quality signal the Spark re-design adds (SURVEY.md
§2 "text analysis" family, alongside quality_score_col).

Model (stupid backoff, Brants et al. 2007 — the score large-scale
pipelines actually use, because it needs no discounting pass):

    score(w_i | w_{i-1}) = C(w_{i-1} w_i) / C(w_{i-1})   if bigram seen
                         = alpha * C(w_i) / T            otherwise

    doc score = mean over the doc's token transitions of ln(score)

100-TB scale design:

* Counting is two map-side-combined aggregations (unigram, bigram) —
  the same shape as a word count, Spark's best-optimized path.
* ``min_count`` prunes the bigram model BEFORE the scoring join (a
  pruned bigram scores via backoff, exactly as an unseen one), which is
  THE lever at corpus scale: the unpruned bigram table grows with the
  corpus, the pruned one with the language.
* Scoring is hash joins on token keys; at 100 TB the pruned model often
  fits executor memory — pass ``broadcast_model=True`` to broadcast
  both count tables and make the scoring pass shuffle-free on the
  corpus side (the corpus then only shuffles for its per-doc average).
* The corpus-total ``T`` is a 1-row broadcast cross join, never a
  driver collect (same pattern as q22's scalar average).
* Token arrays are LET-BOUND (one-element ``transform``) before the
  bigram window loop: interpreted lambdas re-evaluate plain subtrees
  per reference, and an unbound ``split()`` makes windowing O(tokens²)
  per row (the pathology documented in dedup.word_shingles_col).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.operators.textstats import words_col

_BG_SCHEMA = "array<struct<wp:string,w:string>>"


def bigram_pairs_col(text: str = "text") -> Column:
    """array<struct<wp,w>> of adjacent token pairs (empty for <2 tokens)."""
    toks = words_col(text)

    def _pairs(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(tk) - 1)
        return F.when(F.size(tk) < 2, F.array().cast(_BG_SCHEMA)).otherwise(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(tk, i).alias("wp"),
                    F.element_at(tk, i + 1).alias("w"),
                ),
            )
        )

    # let-bind the token array: evaluate split() once per row
    return F.element_at(F.transform(F.array(toks), _pairs), 1)


def ngram_lm_score(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    alpha: float = 0.4,
    min_count: int = 1,
    broadcast_model: bool = False,
) -> DataFrame:
    """(key, n_bigrams, lm_logprob): mean stupid-backoff bigram ln-prob
    per document under the corpus's own exact-count model.

    Docs with fewer than 2 tokens score 0.0 with n_bigrams = 0 (no
    transitions to judge — the caller's length filter owns that case).

    The exploded bigram frame is persisted INSIDE this function: it is
    referenced by both the model-count aggregation and the scoring join,
    and persisting the raw source upstream does not help — each branch
    would still re-run the tokenize+explode projection, the dominant
    cost at corpus scale.  (MEMORY_AND_DISK, narrow (_k, wp, w) rows.)"""
    from table_ocr_spark.session import persist

    base = df.select(
        F.col(key).alias("_k"), bigram_pairs_col(text).alias("_bg")
    )

    # unigram counts from the SAME tokenization (derive from pairs plus
    # the final token of each doc so totals equal plain token counts)
    toks = df.select(F.explode(words_col(text)).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("_cu"))
    total = uni.agg(F.sum("_cu").alias("_T"))

    bg_occ = persist(
        base.select("_k", F.explode("_bg").alias("_b"))
        .select("_k", F.col("_b.wp").alias("wp"), F.col("_b.w").alias("w"))
    )

    big = (
        bg_occ.groupBy("wp", "w")
        .agg(F.count(F.lit(1)).alias("_cb"))
        .filter(F.col("_cb") >= min_count)
    )

    uni_prev = uni.select(F.col("w").alias("wp"), F.col("_cu").alias("_cup"))
    uni_cur = uni.select("w", F.col("_cu").alias("_cuw"))
    if broadcast_model:
        big, uni_prev, uni_cur = (
            F.broadcast(big), F.broadcast(uni_prev), F.broadcast(uni_cur)
        )

    scored = (
        bg_occ.join(big, ["wp", "w"], "left")
        .join(uni_prev, "wp")
        .join(uni_cur, "w")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_lp",
            F.when(
                F.col("_cb").isNotNull(),
                F.log(F.col("_cb").cast("double") / F.col("_cup")),
            ).otherwise(
                F.log(F.lit(alpha) * F.col("_cuw") / F.col("_T"))
            ),
        )
    )
    per_doc = scored.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("lm_logprob"),
    )
    return (
        df.select(F.col(key))
        .join(per_doc, F.col(key) == F.col("_k"), "left")
        .select(
            key,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("lm_logprob", F.lit(0.0)).alias("lm_logprob"),
        )
    )
