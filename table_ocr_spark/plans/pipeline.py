"""The end-to-end extraction job plan (SURVEY.md §3.4 lifecycle):

    read transcripts
      → bucket(N, conv_id)                       [partition spec]
      → salted repartition on (bucket, salt)     [axis B: skew-free balance]
      → extraction pandas UDF                    [one ArrowEvalPython stage]
      → join turn_seq from keys-only window      [north rule: stable order,
                                                  composite-key exchange — no
                                                  whole-conv re-gather]
      → observe() per-bucket metrics             [one pass, no read-back]
      → write data/config=<hash>/bucket=<k>, dynamic overwrite  [idempotent]
      → lineage rows per bucket                  [checkpoint-resume watermark]

Commit granularity is a *bucket group* (``commit_groups`` groups of
``n_buckets / commit_groups`` buckets each): each group is one Spark job
committed atomically — output partitions via dynamic partition overwrite
(re-running a group rewrites exactly its bucket dirs, never duplicating),
lineage appended after the data lands.  A killed run resumes by reading the
lineage manifest and skipping committed buckets (the anti-join/filter
described in SURVEY.md §4.1 caching row).

This emulates Iceberg snapshot-per-commit semantics over parquet
(SURVEY.md §7 hard-point 3); on a real cluster the write becomes
``df.writeTo("cat.db.extracted").overwritePartitions()`` with the same
bucket spec and the lineage table an ordinary Iceberg append — the plan
shape is identical.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as WindowSpec

from table_ocr_spark.config import DEFAULT_CONFIG, ExtractorConfig
from table_ocr_spark.operators.extract_job import bucket_expr, with_extraction
from table_ocr_spark.operators.skew import (
    effective_skew_threshold,
    heavy_conv_ids_materialized,
    skewed_conv_ids,
)
from table_ocr_spark.sources.catalog import ExtractionTable


class SimulatedKill(RuntimeError):
    """Raised by tests to kill the job between group commits."""


@dataclass
class RunResult:
    run_id: str
    config_hash: str
    n_buckets: int
    committed_buckets: List[int] = field(default_factory=list)
    skipped_buckets: List[int] = field(default_factory=list)
    wall_ms: int = 0


def _salted_bucketed(df: DataFrame, cfg: ExtractorConfig, n_buckets: int) -> DataFrame:
    """bucket + salt + repartition + stable in-partition order.

    The salt spreads only heavy conversations (per-turn extraction is
    embarrassingly parallel, so this is semantics-free); normal convs keep
    salt=0 and stay co-located within their bucket.
    """
    parts = cfg.target_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    thr = effective_skew_threshold(df, cfg, parts)
    salt = F.pmod(F.col("turn_idx"), F.lit(cfg.salt_buckets))
    out = df.withColumn("bucket", bucket_expr(n_buckets))
    heavy_list = heavy_conv_ids_materialized(df, thr)
    if heavy_list is not None:
        # heavy set inlined as a literal predicate: sketch runs once per
        # job, not per downstream action; no broadcast build side
        is_heavy = F.col("conv_id").isin(heavy_list) if heavy_list else F.lit(False)
        out = out.withColumn("_salt", F.when(is_heavy, salt).otherwise(F.lit(0)))
    else:  # adversarial fallback: too many heavy convs to inline
        heavy = skewed_conv_ids(df, thr).withColumn("_is_heavy", F.lit(True))
        out = (
            out.join(F.broadcast(heavy), "conv_id", "left")
            .withColumn(
                "_salt",
                F.when(F.col("_is_heavy").isNotNull(), salt).otherwise(F.lit(0)),
            )
            .drop("_is_heavy")
        )
    parts = cfg.target_partitions
    if parts:
        out = out.repartition(parts, "bucket", "_salt")
    else:
        out = out.repartition("bucket", "_salt")
    # no sort here: the post-extraction turn_seq join re-clusters rows by
    # (conv_id, turn_idx) as part of its exchange
    return out.drop("_salt")


def run_extract(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    cfg: ExtractorConfig = DEFAULT_CONFIG,
    n_buckets: int = 16,
    commit_groups: int = 4,
    run_id: Optional[str] = None,
    resume: bool = True,
    fail_after_groups: Optional[int] = None,
    input_format: str = "parquet",
) -> RunResult:
    """Run (or resume) the extraction job. Idempotent per bucket."""
    t0 = time.time()
    run_id = run_id or f"run-{uuid.uuid4().hex[:8]}"
    table = ExtractionTable(output_root)
    chash = cfg.config_hash()
    table.write_config(cfg.to_json(), chash)

    # bucketing is a property of the OUTPUT LAYOUT under this config:
    # resume is keyed by (config_hash, bucket), so rerunning the same
    # output with a different --buckets would skip the wrong buckets and
    # mix two incompatible mod-N layouts in one partition dir — refuse
    # loudly instead (same-output reruns must keep their bucketing)
    bpath = os.path.join(table.config_dir, f"{chash}.buckets")
    if os.path.exists(bpath):
        with open(bpath) as f:
            prev_buckets = int(f.read().strip())
        if prev_buckets != n_buckets:
            raise ValueError(
                f"output at {output_root} is bucketed with n_buckets="
                f"{prev_buckets} under this config; rerun with "
                f"--buckets {prev_buckets} or use a fresh output root"
            )
    else:
        os.makedirs(table.config_dir, exist_ok=True)
        with open(bpath, "w") as f:
            f.write(str(n_buckets))

    committed = table.committed_buckets(spark, chash) if resume else set()
    result = RunResult(run_id=run_id, config_hash=chash, n_buckets=n_buckets)
    result.skipped_buckets = sorted(committed)

    from table_ocr_spark.sources.catalog import load_transcripts

    src = load_transcripts(spark, input_path, fmt=input_format).select(
        "conv_id", "turn_idx", "text"
    )

    groups_done = 0
    for g in range(commit_groups):
        group_buckets = [b for b in range(n_buckets) if b % commit_groups == g]
        todo = [b for b in group_buckets if b not in committed]
        if not todo:
            continue
        gt0 = time.time()
        keys = src.filter(bucket_expr(n_buckets).isin(todo))
        sub = _salted_bucketed(keys, cfg, n_buckets)
        ex = with_extraction(sub.select("conv_id", "turn_idx", "text", "bucket"), cfg)
        # with_extraction projects the fixed output schema; re-attach bucket
        ex = ex.withColumn("bucket", bucket_expr(n_buckets))
        # north rule: stable turn ordering — turn_seq (the per-conversation
        # resume watermark for consumers) is computed on the NARROW key
        # projection (the scan reads only conv_id/turn_idx for this branch)
        # and joined back on the composite key: both join sides hash on
        # (conv_id, turn_idx), so a 20k-turn conversation spreads across
        # tasks instead of re-gathering into one — the previous row_number
        # window re-shuffled the text-heavy extracted output by conv_id
        # alone, undoing the salting done three lines earlier.
        w_order = WindowSpec.partitionBy("conv_id").orderBy("turn_idx")
        seq = keys.select("conv_id", "turn_idx").withColumn(
            "turn_seq", F.row_number().over(w_order)
        )
        ex = ex.join(seq, ["conv_id", "turn_idx"])
        # per-bucket metrics ride the write job via observe(): ONE pass over
        # the data — the previous implementation re-read the entire
        # just-written output from disk per commit group (a second full I/O
        # pass over the output at 100 TB).
        obs = Observation(f"metrics-{run_id}-g{g}")
        # materialize the interpreted HOF ONCE as a column: embedding the
        # aggregate(transform(...)) subtree in every per-bucket sum would
        # re-traverse the cells array |todo| times per row inside
        # CollectMetrics (interpreted lambdas re-execute per reference —
        # the measured pitfall behind dedup.word_shingles_col)
        cell_count = F.aggregate(F.transform("cells", F.size), F.lit(0), lambda a, x: a + x)
        ex = ex.withColumn("_cell_count", cell_count)
        aggs = []
        for b in todo:
            is_b = F.col("bucket") == b
            aggs += [
                F.count(F.when(is_b, 1)).alias(f"turns_{b}"),
                F.sum(F.when(is_b, F.col("boilerplate_ratio"))).alias(f"bp_{b}"),
                F.sum(F.when(is_b, F.col("_cell_count"))).alias(f"cells_{b}"),
            ]
        ex = ex.observe(obs, *aggs)
        # dynamic overwrite replaces only this group's bucket dirs; set on
        # the write, not the session, so a caller's later writes keep
        # their own overwrite mode
        (
            ex.drop("_cell_count")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(table.config_data_dir(chash))
        )
        m = obs.get
        wall = int((time.time() - gt0) * 1000)
        rows = []
        for b in todo:
            # empty buckets still commit (else resume would retry them forever)
            turns = int(m[f"turns_{b}"] or 0)
            bp_sum, cells = m[f"bp_{b}"], m[f"cells_{b}"]
            rows.append(
                (
                    run_id,
                    chash,
                    b,
                    "committed",
                    turns,
                    float(bp_sum) / turns if turns and bp_sum is not None else 0.0,
                    int(cells) if cells is not None else 0,
                    wall,
                )
            )
        table.append_lineage(spark, rows)
        result.committed_buckets.extend(r[2] for r in rows)
        groups_done += 1
        if fail_after_groups is not None and groups_done >= fail_after_groups:
            raise SimulatedKill(f"killed after {groups_done} group commits")

    result.wall_ms = int((time.time() - t0) * 1000)
    return result
