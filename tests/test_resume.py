"""Checkpoint-resume semantics (SURVEY.md §5 item 4 / FIXTURES.md §4):
kill after K of P bucket-group commits, rerun, assert exactly-once output
and lineage completeness."""

import pytest
from pyspark.sql import functions as F

from table_ocr_spark import synth
from table_ocr_spark.config import ALT_CONFIG, DEFAULT_CONFIG
from table_ocr_spark.plans.pipeline import SimulatedKill, run_extract
from table_ocr_spark.sources.catalog import ExtractionTable, write_transcripts_parquet

N_BUCKETS = 8
GROUPS = 4


@pytest.fixture(scope="module")
def input_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("transcripts"))
    write_transcripts_parquet(synth.gen_pandas(30, seed=42, max_long=200), p)
    return p


def test_kill_and_resume_exactly_once(spark, input_path, tmp_path):
    out = str(tmp_path / "extracted")
    table = ExtractionTable(out)

    with pytest.raises(SimulatedKill):
        run_extract(
            spark, input_path, out,
            n_buckets=N_BUCKETS, commit_groups=GROUPS,
            run_id="run-a", fail_after_groups=2,
        )
    partial = table.committed_buckets(spark, DEFAULT_CONFIG.config_hash())
    assert 0 < len(partial) < N_BUCKETS, "kill must land mid-run"

    res = run_extract(
        spark, input_path, out,
        n_buckets=N_BUCKETS, commit_groups=GROUPS, run_id="run-b",
    )
    assert sorted(res.skipped_buckets) == sorted(partial)

    # lineage completeness: every bucket committed exactly once per config
    lin = table.read_lineage(spark)
    per_bucket = (
        lin.filter(F.col("config_hash") == DEFAULT_CONFIG.config_hash())
        .groupBy("bucket").count().collect()
    )
    assert len(per_bucket) == N_BUCKETS
    assert all(r["count"] == 1 for r in per_bucket)

    # exactly-once output: no duplicate (conv_id, turn_idx), full coverage
    data = table.read(spark)
    n_in = spark.read.parquet(input_path).count()
    assert data.count() == n_in
    dups = data.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
    assert dups == 0

    # turns accounted in lineage == rows written
    turns_total = (
        lin.filter(F.col("config_hash") == DEFAULT_CONFIG.config_hash())
        .agg(F.sum("turns")).collect()[0][0]
    )
    assert turns_total == n_in


def test_rerun_is_noop(spark, input_path, tmp_path):
    out = str(tmp_path / "extracted2")
    run_extract(spark, input_path, out, n_buckets=N_BUCKETS, commit_groups=2, run_id="r1")
    res2 = run_extract(spark, input_path, out, n_buckets=N_BUCKETS, commit_groups=2, run_id="r2")
    assert res2.committed_buckets == []
    assert len(res2.skipped_buckets) == N_BUCKETS


def test_run_extract_leaves_session_conf_unchanged(spark, input_path, tmp_path):
    """The bucket write asks for dynamic partition overwrite on itself, not
    on the session: a caller's later ``overwrite`` of a partitioned table
    in the same session must still replace every partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        before = spark.conf.getAll
        run_extract(spark, input_path, str(tmp_path / "x"), n_buckets=N_BUCKETS, commit_groups=2)
        assert spark.conf.getAll == before
    finally:
        spark.conf.unset(key)


def test_new_config_recomputes(spark, input_path, tmp_path):
    out = str(tmp_path / "extracted3")
    run_extract(spark, input_path, out, n_buckets=4, commit_groups=1, run_id="r1")
    # different config hash → nothing is skipped (new snapshot family)
    res = run_extract(spark, input_path, out, cfg=ALT_CONFIG, n_buckets=4, commit_groups=1, run_id="r2")
    assert res.skipped_buckets == []
    assert len(res.committed_buckets) == 4


def test_two_configs_coexist_and_resume_is_honest(spark, input_path, tmp_path):
    """Lineage is keyed by config_hash; the physical layout is partitioned
    by config too, so running config B never overwrites config A's bytes —
    a later resume under A skips its buckets AND A's data is still A's."""
    out = str(tmp_path / "extracted4")
    table = ExtractionTable(out)
    run_extract(spark, input_path, out, n_buckets=4, commit_groups=1, run_id="a1")
    a_hash = DEFAULT_CONFIG.config_hash()
    a_rows = table.read(spark, a_hash).count()
    run_extract(spark, input_path, out, cfg=ALT_CONFIG, n_buckets=4, commit_groups=1, run_id="b1")

    # resume under A: everything skipped (no recompute)...
    res = run_extract(spark, input_path, out, n_buckets=4, commit_groups=1, run_id="a2")
    assert res.committed_buckets == [] and len(res.skipped_buckets) == 4
    # ...and the skip is honest: A's partition still holds A's full output
    a_data = table.read(spark, a_hash)
    assert a_data.count() == a_rows == spark.read.parquet(input_path).count()
    # both configs are present and distinguishable in the unfiltered read
    configs = {r.config for r in table.read(spark).select("config").distinct().collect()}
    assert configs == {a_hash, ALT_CONFIG.config_hash()}


def test_turn_seq_is_dense_per_conversation(spark, input_path, tmp_path):
    """north rule: turn_seq = 1..n within each conversation ordered by
    turn_idx, regardless of salting/join physical order."""
    out = str(tmp_path / "extracted5")
    run_extract(spark, input_path, out, n_buckets=4, commit_groups=2, run_id="s1")
    data = ExtractionTable(out).read(spark, DEFAULT_CONFIG.config_hash())
    bad = (
        data.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("turn_seq").alias("lo"),
            F.max("turn_seq").alias("hi"),
            F.countDistinct("turn_seq").alias("d"),
        )
        .filter(~((F.col("lo") == 1) & (F.col("hi") == F.col("n")) & (F.col("d") == F.col("n"))))
        .count()
    )
    assert bad == 0


def test_rerun_with_different_bucketing_refuses(spark, tmp_path):
    """Resume is keyed by (config_hash, bucket): rerunning the same
    output with a different --buckets would skip the wrong buckets of the
    new mod-N layout and mix two bucketings in one partition dir — the
    job must refuse loudly instead."""
    import pytest as _pytest

    from table_ocr_spark.plans.pipeline import run_extract
    from table_ocr_spark.sources.catalog import write_transcripts_parquet
    from table_ocr_spark.synth import gen_pandas

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    write_transcripts_parquet(gen_pandas(4, seed=5, max_long=15), inp)
    run_extract(spark, inp, out, n_buckets=4, commit_groups=2)
    with _pytest.raises(ValueError, match="n_buckets=4"):
        run_extract(spark, inp, out, n_buckets=8, commit_groups=2)
    # same bucketing resumes cleanly (all buckets already committed)
    res = run_extract(spark, inp, out, n_buckets=4, commit_groups=2)
    assert res.skipped_buckets == [0, 1, 2, 3]


def test_lineage_compaction_bounds_files_and_preserves_rows(spark, tmp_path):
    """append_lineage folds the sidecar dir once it exceeds the
    threshold: file count stays bounded across many commits, every row
    survives, and committed_buckets is unchanged (the one unbounded
    small-file growth path flagged in round 5)."""
    import os

    from table_ocr_spark.sources.catalog import ExtractionTable

    t = ExtractionTable(str(tmp_path / "tbl"))
    n_commits = t.LINEAGE_COMPACT_THRESHOLD + 6
    for run in range(n_commits):
        t.append_lineage(spark, [{
            "run_id": f"r{run}", "config_hash": "c", "bucket": run % 8,
            "status": "committed", "turns": 10 + run,
            "boilerplate_ratio_avg": 0.1, "cell_count": 3, "wall_ms": 5,
        }])
    files = [f for f in os.listdir(t.lineage_dir) if f.endswith(".parquet")]
    assert len(files) <= t.LINEAGE_COMPACT_THRESHOLD
    assert t.read_lineage(spark).count() == n_commits
    assert t.read_lineage(spark).filter(F.col("run_id") == "r3").first().turns == 13
    assert t.committed_buckets(spark, "c") == set(range(8))
