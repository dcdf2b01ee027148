"""Skew-aware repartitioning (axis B — explicit partitioning/shuffle/skew).

At 10^12 turns, conversation lengths are heavy-tailed (FIXTURES.md: 1% of
convs hold 2k-20k turns).  A plain ``repartition(hash(conv_id))`` puts a
whole long conversation in one task — the straggler that caps scaling
efficiency below the 0.8 north-rule bar.  Per-turn extraction is
embarrassingly parallel, so salting long conversations is semantics-free:

    salt = turn_idx % salt_buckets          (long convs only)
    partition key = (conv_id, salt)

AQE skew handling does NOT cover Python-UDF stages (it rebalances joins and
shuffle reads, not the work inside one task), hence the explicit salt
(SURVEY.md §4.1 skew row).

The skew sketch is a cheap ``groupBy(conv_id).count()`` — at scale, a
partial-aggregated two-stage count over just the conv_id column (pruned
scan), then only conv_ids above threshold are collected: that set is tiny
(heavy hitters by definition) and is broadcast back as a join or literal
filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.config import DEFAULT_CONFIG, ExtractorConfig


def _heavy_counts(df: DataFrame, threshold: int) -> DataFrame:
    """The ONE heavy-hitter sketch definition — (conv_id, n_turns) with
    n_turns > threshold — shared by the broadcast-join and materialized
    paths so the two can never drift apart on what 'heavy' means."""
    return (
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .filter(F.col("n_turns") > threshold)
    )


def skewed_conv_ids(df: DataFrame, threshold: int) -> DataFrame:
    """Heavy-hitter sketch: conv_ids with > threshold turns. Output is small
    by construction (heavy hitters), safe to broadcast."""
    return _heavy_counts(df, threshold).select("conv_id")


def effective_skew_threshold(
    df: DataFrame,
    cfg: ExtractorConfig,
    num_partitions: int | None,
) -> int:
    """Skew threshold relative to the actual per-task row budget.

    A conversation is a straggler only when it is large RELATIVE to what a
    task holds: salting a 1.5k-turn conversation when tasks average 8k
    turns shuffles bytes to fix a skew that does not exist (measured on the
    sf0.1 bench corpus: the static floor of 1000 salted 61% of all rows).
    The effective threshold is

        max(cfg.skew_turns_threshold, total_turns / partitions / 2)

    — a conversation may occupy up to half a task before it shuffles.  The
    count is one narrow-column aggregate (conv_id only reaches the scan).
    As data grows 100× with the partition count held, the budget grows and
    the threshold rises with it; with partitions scaled to the data (the
    cluster case) it converges to the static floor.
    """
    thr = cfg.skew_turns_threshold
    if not num_partitions:
        return thr
    total = df.select(F.count(F.lit(1)).alias("n")).first()["n"]
    return max(thr, total // num_partitions // 2)


def heavy_conv_ids_materialized(
    df: DataFrame, threshold: int, cap: int = 10_000
) -> list | None:
    """Collect the heavy-hitter conv_id set to the driver ONCE.

    Heavy hitters are few by construction (each holds > threshold rows, so
    at most total/threshold exist); a materialized literal set beats a
    broadcast-join subplan two ways at scale: (1) the sketch aggregation
    runs once per JOB instead of re-executing inside every downstream
    action that references the plan, (2) the resulting IN-filter is a
    plain predicate — pushed into the parquet scan, no build side at all.
    Returns None when the set exceeds ``cap`` (adversarial corpus) — the
    caller falls back to the broadcast-join form.
    """
    rows = _heavy_counts(df, threshold).limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return [r.conv_id for r in rows]


def salted_repartition(
    df: DataFrame,
    cfg: ExtractorConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    adaptive_threshold: bool = True,
    worker_budget: int | None = None,
) -> DataFrame:
    """Selective skew salting: shuffle ONLY the heavy conversations.

    Rows of normal conversations keep their scan partitioning — zero
    shuffle bytes for the balanced majority.  Rows of heavy conversations
    (the skew sketch's output, materialized to a literal IN-set) are
    salted by ``turn_idx % salt_buckets`` and repartitioned so no single
    task owns a whole long conversation.  The two branches union; per-turn
    extraction is order-free so the union is semantics-free (any ordering
    requirement is applied downstream per the north rule).

    **Cost model vs the single-scan alternative** (which regime to use):
    the union's two filtered branches scan the input TWICE (the IN-set
    cannot row-group-prune when heavy convs are scattered), in exchange
    for shuffling only the stragglers' bytes (measured: ~7 MB of 110 MB
    at sf0.1).  The alternative — one scan + ``when(heavy, salt)`` + a
    full ``repartition`` — scans once but shuffles EVERYTHING.  At 100 TB
    a full shuffle (disk write + network + disk read of the whole input)
    costs far more than a second columnar scan, so this union form is the
    right compute-only plan; jobs that must shuffle anyway for output
    alignment (the bucketed write) fold the salt into that one inherent
    shuffle instead — ``plans/pipeline._salted_bucketed`` is that
    single-scan variant.

    The threshold is budget-relative by default (``adaptive_threshold``):
    a conversation shuffles only when it exceeds half the per-task row
    budget — salting a 1.5k-turn conv when tasks hold 8k turns moves bytes
    to fix a skew that does not exist (the static floor salted 61% of the
    sf0.1 bench corpus).  Versus salting everything: shuffle volume drops
    from 100% of the input to exactly the stragglers.

    ``worker_budget`` is accepted and ignored: the frozen ``bench.py`` passes it.
    """
    n = num_partitions or cfg.target_partitions
    thr = (
        effective_skew_threshold(df, cfg, n or 32)
        if adaptive_threshold
        else cfg.skew_turns_threshold
    )
    heavy_list = heavy_conv_ids_materialized(df, thr)
    if heavy_list is not None:
        if not heavy_list:
            return df  # no stragglers: zero shuffle, scan partitioning stands
        # NULL conv_id: `isin` yields NULL, which a bare `~is_heavy` filter
        # drops — coalesce to False so null-keyed rows stay light-branch
        # (mirrors pipeline._salted_bucketed's when/otherwise form)
        is_heavy = F.coalesce(F.col("conv_id").isin(heavy_list), F.lit(False))
        light_rows = df.filter(~is_heavy)
        heavy_rows = df.filter(is_heavy)
    else:  # adversarial: too many heavy convs to inline — broadcast join
        heavy = skewed_conv_ids(df, thr)
        light_rows = df.join(F.broadcast(heavy), "conv_id", "left_anti")
        heavy_rows = df.join(F.broadcast(heavy), "conv_id", "left_semi")
    heavy_rows = heavy_rows.withColumn(
        "_salt", F.pmod(F.col("turn_idx"), F.lit(cfg.salt_buckets))
    )
    if n:
        heavy_balanced = heavy_rows.repartition(n, "conv_id", "_salt")
    else:
        heavy_balanced = heavy_rows.repartition("conv_id", "_salt")
    return light_rows.unionByName(heavy_balanced.drop("_salt"))
