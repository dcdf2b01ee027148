"""Right-to-be-forgotten job: conversations removed from the curated
table AND its LSH-index sidecar as atomic commits; later incremental
curation survives the non-append commit via index rebuild
(jobs/forget.py, jobs/curate.py _sync_index)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _tx(spark, pdf):
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA

    pdf = pdf.copy()
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
    return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)


def test_forget_removes_conv_from_table_index_and_history(spark, tmp_path, monkeypatch):
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C
    import jobs.forget as FG

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_table = SnapshotTable(str(tmp_path / "in"))
    in_table.append(_tx(spark, synth.gen_pandas(6, seed=61, max_long=25)))
    args = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
            "--min-quality", "0.0", "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.5"]
    assert C.main(args) == 0

    data = SnapshotTable(str(tmp_path / "out" / "table"))
    idx = SnapshotTable(str(tmp_path / "out" / "lsh_index"))
    victim = data.read(spark).select("conv_id").first().conv_id
    n_before = data.read(spark).count()
    n_victim = data.read(spark).filter(F.col("conv_id") == victim).count()
    assert n_victim > 0

    assert FG.main(["--table", str(tmp_path / "out"), "--conv-ids", victim]) == 0
    cur = data.read(spark)
    assert cur.filter(F.col("conv_id") == victim).count() == 0
    assert cur.count() == n_before - n_victim  # nothing else touched
    # the derived bands are gone from the live index too
    assert idx.read(spark).filter(F.col("_k").startswith(victim + "#")).count() == 0
    # history keeps the pre-delete snapshot addressable (logical delete)
    assert data.read(spark, seq=1).filter(F.col("conv_id") == victim).count() == n_victim

    # a later incremental run crosses the merge commit: the index sync
    # falls back to a full rebuild and near-dedup-vs-history still works
    in_table.append(_tx(spark, synth.gen_pandas(3, seed=62, max_long=25)))
    assert C.main(args) == 0
    live = data.read(spark)
    assert live.count() > cur.count()
    assert live.filter(F.col("conv_id") == victim).count() == 0
    # rebuilt index covers exactly the live keys
    live_keys = {f"{r.conv_id}#{r.turn_idx}" for r in live.select("conv_id", "turn_idx").collect()}
    idx_keys = {r._k for r in idx.read(spark).select("_k").distinct().collect()}
    assert idx_keys == live_keys


def test_forget_expire_physically_drops_history(spark, tmp_path, monkeypatch):
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C
    import jobs.forget as FG

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_table = SnapshotTable(str(tmp_path / "in"))
    in_table.append(_tx(spark, synth.gen_pandas(4, seed=63, max_long=20)))
    args = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
            "--min-quality", "0.0", "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.5"]
    assert C.main(args) == 0
    data = SnapshotTable(str(tmp_path / "out" / "table"))
    victim = data.read(spark).select("conv_id").first().conv_id

    assert FG.main(["--table", str(tmp_path / "out"), "--conv-ids", victim,
                    "--expire-keep", "1"]) == 0
    # pre-delete snapshot is no longer addressable and its data is gone
    with pytest.raises(Exception):
        data.read(spark, seq=1).filter(F.col("conv_id") == victim).count()
    assert data.read(spark).filter(F.col("conv_id") == victim).count() == 0

    # the incremental resume marker survives expiry on the merge commit —
    # a rerun with no new input must be a no-op, NOT a full re-ingest
    # that would resurrect the forgotten conversation
    assert "input_seq_processed" in data.history()[-1]["summary"]
    assert C.main(args) == 0
    assert data.read(spark).filter(F.col("conv_id") == victim).count() == 0
    # and the index merge recorded its data_seq, so the sync above did
    # not need a full rebuild to cover the forget commit
    idx = SnapshotTable(str(tmp_path / "out" / "lsh_index"))
    assert any("data_seq" in h["summary"] and h["operation"] == "merge"
               for h in idx.history())


def test_forget_carries_legacy_algo_tag_so_sync_still_rebuilds(spark, tmp_path, monkeypatch):
    """A forget-merge on a LEGACY-tagged index must not stamp the CURRENT
    lsh_algo constant: that would launder the index as current and the
    next curate sync would skip the forced rebuild, leaving legacy bands
    that never collide with freshly banded buckets (ADVICE r6 #2).  The
    merge carries the index's own previous tag forward; the sync then
    sees the mismatch and rebuilds."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C
    import jobs.forget as FG

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_table = SnapshotTable(str(tmp_path / "in"))
    in_table.append(_tx(spark, synth.gen_pandas(5, seed=63, max_long=20)))
    args = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
            "--min-quality", "0.0", "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.5"]
    assert C.main(args) == 0

    data = SnapshotTable(str(tmp_path / "out" / "table"))
    idx = SnapshotTable(str(tmp_path / "out" / "lsh_index"))

    # simulate a legacy index: rewrite the newest stamped commit's tag
    # in place (the manifest is the on-disk source of truth the sync walks)
    seq = idx.current_seq()
    mpath = idx._snap_path(seq)
    m = json.loads(open(mpath).read())
    assert m["summary"]["lsh_algo"]  # was stamped current
    m["summary"]["lsh_algo"] = "legacy-banding-0"
    open(mpath, "w").write(json.dumps(m))

    victim = data.read(spark).select("conv_id").first().conv_id
    assert FG.main(["--table", str(tmp_path / "out"), "--conv-ids", victim]) == 0

    # the merge commit carried the LEGACY tag forward, not the constant
    newest = next(h for h in idx.iter_history_newest_first()
                  if "data_seq" in h["summary"])
    assert newest["summary"]["lsh_algo"] == "legacy-banding-0"

    # and the next sync treats the index as legacy: full rebuild
    out_table = data
    n_hist = len(idx.history())
    C._sync_index(spark, out_table, idx, C.TURN_INDEX)
    newest2 = idx.manifest(idx.current_seq())
    assert len(idx.history()) == n_hist + 1
    assert newest2["operation"] == "overwrite"
    from table_ocr_spark.operators.dedup import LSH_ALGO
    assert newest2["summary"]["lsh_algo"] == LSH_ALGO


def test_both_indexes_compact_scrub_and_expire(spark, tmp_path, monkeypatch, capsys):
    """Turn and conversation LSH indexes through one incremental
    lifecycle: two increments with both near-dedup levels compact the
    table and BOTH indexes; forget with --expire-keep scrubs and expires
    both, and the forgotten conversation is gone from every live table."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C
    import jobs.forget as FG

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_table = SnapshotTable(str(tmp_path / "in"))
    out = tmp_path / "out"
    args = ["--input", str(tmp_path / "in"), "--output", str(out),
            "--min-quality", "0.0", "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.5", "--conv-near-dedup", "0.6",
            "--compact-after", "1"]
    for seed in (64, 68):
        in_table.append(_tx(spark, synth.gen_pandas(4, seed=seed, max_long=20)))
        assert C.main(args) == 0
    summary = json.loads((out / "_curation_summary.json").read_text())
    assert "compacted_index_seq" in summary
    assert "compacted_conv_index_seq" in summary

    data = SnapshotTable(str(out / "table"))
    idx = SnapshotTable(str(out / "lsh_index"))
    cidx = SnapshotTable(str(out / "conv_lsh_index"))
    victim = data.read(spark).select("conv_id").first().conv_id
    assert cidx.read(spark).filter(F.col("conv_id") == victim).count() > 0

    capsys.readouterr()
    assert FG.main(["--table", str(out), "--conv-ids", victim, "--expire-keep", "1"]) == 0
    forgot = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for k in ("index_seq", "conv_index_seq", "expired_index", "expired_conv_index"):
        assert k in forgot, (k, forgot)
    assert data.read(spark).filter(F.col("conv_id") == victim).count() == 0
    assert idx.read(spark).filter(F.col("_k").startswith(victim + "#")).count() == 0
    assert cidx.read(spark).filter(F.col("conv_id") == victim).count() == 0


def test_jobs_borrow_a_running_session(spark, tmp_path):
    """Called inside a live session, incremental near-dedup curate and
    forget leave it running (no spark.stop, no Python-worker re-fork) and
    unpersist every frame they persisted, while the caller's own cached
    frame stays cached."""
    from table_ocr_spark import synth
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C
    import jobs.forget as FG

    sc = spark.sparkContext
    mine = spark.range(100).persist()
    assert mine.count() == 100
    n_persisted = len(sc._jsc.getPersistentRDDs())

    in_table = SnapshotTable(str(tmp_path / "in"))
    args = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
            "--min-quality", "0.0", "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.5", "--cores", "4"]
    # the second increment runs against an existing LSH index, so its
    # persisted frames (extracted rows keyed for the index join) exist
    for seed in (65, 66):
        in_table.append(_tx(spark, synth.gen_pandas(4, seed=seed, max_long=20)))
        assert C.main(args) == 0
    victim = SnapshotTable(str(tmp_path / "out" / "table")).read(spark).first().conv_id
    assert FG.main(["--table", str(tmp_path / "out"), "--conv-ids", victim]) == 0

    assert not sc._jsc.sc().isStopped()
    assert len(sc._jsc.getPersistentRDDs()) == n_persisted
    assert mine.storageLevel.useMemory
    mine.unpersist()
