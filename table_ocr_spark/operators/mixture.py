"""Mixture rebalancing — deterministic subsampling to target group shares.

The data-mixing stage of a training-data pipeline: given target
proportions per group (language, domain, source), keep the LARGEST
feasible subset whose group shares match the targets without
oversampling any group (every rate ≤ 1).  Feasible output size is

    n_out = min over targeted groups of  floor(count_g · PPM / share_g)

and each group keeps rows at rate thr_g/PPM where

    thr_g = floor(n_out · share_g / count_g)        (in PPM)

Rows are kept iff ``hash60(key) % PPM < thr_g`` — the same RNG-free
md5→60-bit family as ``dataset_split_col``, so the sample is stable
under repartitioning, resumable, and EXACTLY reproducible by the DuckDB
oracle (all arithmetic is int64: counts ≤ 10^12 rows × PPM = 10^18 <
2^63).

Scale shape: one narrow ``groupBy(group).count()`` (map-side combined),
a few-row broadcast back to the fact table, and a pushed-down filter —
the full rows never shuffle.  Groups absent from ``targets`` are
dropped (they have share 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.session import local_frame

PPM = 1_000_000


def _hash60_str(col):
    from table_ocr_spark.operators.textstats import hash60_col

    return hash60_col(col.cast("string"))


def mixture_rates(df: DataFrame, targets: dict, group: str = "lang") -> DataFrame:
    """(group, group_count, share_ppm, thr_ppm) — one row per targeted
    group.  Small by construction (one row per distinct group value);
    safe to broadcast."""
    spark = df.sparkSession
    shares = {g: int(round(s * PPM)) for g, s in targets.items()}
    zero = [g for g, s in shares.items() if s <= 0]
    if zero:
        raise ValueError(
            f"target shares round to 0 ppm for {zero}; the smallest "
            f"expressible share is 1/{PPM}"
        )
    schema = T.StructType(
        [T.StructField(group, T.StringType()), T.StructField("share_ppm", T.LongType())]
    )
    tgt = local_frame(spark, list(shares.items()), schema)
    counts = df.groupBy(group).agg(F.count(F.lit(1)).alias("group_count"))
    # PINNED semantics (matches the DuckDB oracle): a targeted group
    # ABSENT from the corpus is an unsatisfiable constraint and is
    # DROPPED from the feasibility min — the output mixes the groups
    # that exist.  (The strict alternative — absent group ⇒ n_out = 0 ⇒
    # empty output — helps no pipeline; callers needing strictness can
    # compare this frame's groups against their targets.)
    j = counts.join(F.broadcast(tgt), group)
    # feasible output size: the binding group is the one with the least
    # headroom relative to its target share.  `div` keeps the arithmetic
    # int64 end-to-end (counts ≤ 10^12 × PPM = 10^18 < 2^63): Column `/`
    # is DOUBLE with a 53-bit mantissa, whose rounding diverges from the
    # documented integer formula (and the DuckDB oracle's `//`) for
    # groups beyond ~9e9 rows.
    # n_out is a WINDOW min over the rates frame, not a min-aggregate
    # joined back: the aggregate form references `j` from two plan
    # branches, and a twice-referenced frame executes twice — the corpus
    # groupBy(count) scan ran 2× (measured in jobs/prepare.py's plan).
    # The window's single partition holds one row per targeted group
    # (a handful), so the non-parallel stage is O(groups), not O(corpus).
    from pyspark.sql.window import Window

    n_out = F.min(F.expr(f"(group_count * {PPM}) div share_ppm")).over(
        Window.partitionBy()
    )
    return (
        j.withColumn("_n_out", n_out)
        .withColumn(
            "thr_ppm",
            F.when(F.col("group_count") > 0,
                   F.expr("(_n_out * share_ppm) div group_count"))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(group, "group_count", "share_ppm", "thr_ppm")
    )


def rebalance_mixture(
    df: DataFrame, targets: dict, group: str = "lang", key: str = "doc_id"
) -> DataFrame:
    """Rows of ``df`` subsampled so group shares match ``targets`` (values
    sum to ≤ 1).  Deterministic in ``key``; untargeted groups drop."""
    rates = mixture_rates(df, targets, group)
    keep = _hash60_str(F.col(key)) % PPM < F.col("thr_ppm")
    return (
        df.join(F.broadcast(rates.select(group, "thr_ppm")), group)
        .filter(keep)
        .drop("thr_ppm")
    )
