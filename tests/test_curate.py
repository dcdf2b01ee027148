"""End-to-end curation job: extract → strip → score → filter → dedup →
split, one declarative DAG (jobs/curate.py)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def curated_out(spark, tmp_path_factory, monkeypatch_module):
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    import jobs.curate as C

    base = tmp_path_factory.mktemp("curate")
    pdf = synth.gen_pandas(12, seed=11, max_long=40)
    # inject an exact duplicate pair: two convs share an identical turn text
    dup = pd.DataFrame(
        [
            {"conv_id": "dup-a", "turn_idx": 0, "role": "user",
             "text": "identical payload body words here", "tool": "", "ts": pdf["ts"].iloc[0]},
            {"conv_id": "dup-b", "turn_idx": 0, "role": "user",
             "text": "identical   payload body words here", "tool": "", "ts": pdf["ts"].iloc[0]},
        ]
    )
    pdf = pd.concat([pdf, dup], ignore_index=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    write_transcripts_parquet(pdf, str(base / "in"))

    monkeypatch_module.setattr(session_mod, "build_session", lambda **kw: spark)
    rc = C.main(
        [
            "--input", str(base / "in"),
            "--output", str(base / "out"),
            "--min-quality", "0.25",
        ]
    )
    assert rc == 0
    return base / "out"


@pytest.fixture(scope="module")
def monkeypatch_module():
    from _pytest.monkeypatch import MonkeyPatch

    mp = MonkeyPatch()
    yield mp
    mp.undo()


def test_curate_output_invariants(spark, curated_out):
    df = spark.read.parquet(str(curated_out / "data"))
    rows = df.count()
    assert rows > 0
    # dedup: fingerprints unique
    assert df.select("fingerprint").distinct().count() == rows
    # the injected exact-dup pair collapsed to its min representative
    dup = df.filter(F.col("conv_id").isin("dup-a", "dup-b")).collect()
    assert [r.conv_id for r in dup] == ["dup-a"]
    # quality floor + split domain + partition layout
    assert df.filter(F.col("quality") < 0.25).count() == 0
    splits = {r.split for r in df.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    assert any((curated_out / "data" / f"split={s}").exists() for s in splits)


def test_curate_summary_matches_data(spark, curated_out):
    df = spark.read.parquet(str(curated_out / "data"))
    summary = json.loads((curated_out / "_curation_summary.json").read_text())
    assert summary["rows_out"] == df.count()
    assert summary["rows_in"] >= summary["rows_out"]
    assert summary["tokens_out"] == df.agg(F.sum("n_tokens")).first()[0]


def test_curate_lang_filter(spark, tmp_path, monkeypatch):
    from table_ocr_spark import session as session_mod
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    import jobs.curate as C

    pdf = pd.DataFrame(
        [
            {"conv_id": "c1", "turn_idx": 0, "role": "user",
             "text": "the cat is on the mat and it is fine", "tool": "",
             "ts": pd.Timestamp("2025-01-01", tz="UTC")},
            {"conv_id": "c2", "turn_idx": 0, "role": "user",
             "text": "der hund ist nicht das problem und ist gut", "tool": "",
             "ts": pd.Timestamp("2025-01-01", tz="UTC")},
        ]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    write_transcripts_parquet(pdf, str(tmp_path / "in"))
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    rc = C.main(
        [
            "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"),
            "--min-quality", "0.0",
            "--langs", "en",
        ]
    )
    assert rc == 0
    df = spark.read.parquet(str(tmp_path / "out" / "data"))
    assert {r.lang for r in df.select("lang").distinct().collect()} == {"en"}
    assert df.count() == 1


def test_curate_decontaminates_eval_overlap(spark, tmp_path_factory, monkeypatch_module):
    """--decontam-input drops curated rows sharing an 8-token window with
    the eval set; everything else is untouched."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    import jobs.curate as C

    base = tmp_path_factory.mktemp("curate_dc")
    pdf = synth.gen_pandas(10, seed=3, max_long=40)
    write_transcripts_parquet(pdf, str(base / "in"))

    monkeypatch_module.setattr(session_mod, "build_session", lambda **kw: spark)

    # baseline run (no decontamination)
    rc = C.main(["--input", str(base / "in"), "--output", str(base / "out0"),
                 "--min-quality", "0.25"])
    assert rc == 0
    out0 = spark.read.parquet(str(base / "out0" / "data"))
    # eval set = a 10-token window of one curated row's CLEANED text
    victim = out0.orderBy(F.length("text").desc()).first()
    snippet = " ".join(victim.text.split()[:10])
    assert len(snippet.split()) == 10
    spark.createDataFrame([(snippet,)], "text string").write.mode("overwrite").parquet(
        str(base / "eval")
    )

    rc = C.main(["--input", str(base / "in"), "--output", str(base / "out1"),
                 "--min-quality", "0.25", "--decontam-input", str(base / "eval")])
    assert rc == 0
    out1 = spark.read.parquet(str(base / "out1" / "data"))
    keys0 = {(r.conv_id, r.turn_idx) for r in out0.select("conv_id", "turn_idx").collect()}
    keys1 = {(r.conv_id, r.turn_idx) for r in out1.select("conv_id", "turn_idx").collect()}
    dropped = keys0 - keys1
    assert (victim.conv_id, victim.turn_idx) in dropped
    # only rows overlapping the snippet drop
    assert keys1 < keys0 and len(dropped) < len(keys0) / 2


def test_curate_snapshot_mode_commits_atomic_history(spark, tmp_path, monkeypatch):
    """--snapshot: each curation run lands as one addressable commit in the
    snapshot log, metrics inside the manifest.  A full (non-incremental)
    run commits via OVERWRITE (ADVICE r5): rerunning the identical command
    is idempotent at HEAD — an operator retry never doubles the corpus —
    while every prior run stays addressable through time travel."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    pdf = synth.gen_pandas(8, seed=21, max_long=30)
    write_transcripts_parquet(pdf, str(tmp_path / "in"))
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    out = str(tmp_path / "out")
    rc = C.main(["--input", str(tmp_path / "in"), "--output", out,
                 "--min-quality", "0.0", "--snapshot"])
    assert rc == 0
    rc = C.main(["--input", str(tmp_path / "in"), "--output", out,
                 "--min-quality", "0.45", "--snapshot"])
    assert rc == 0

    t = SnapshotTable(str(tmp_path / "out" / "table"))
    h = t.history()
    assert [e["seq"] for e in h] == [1, 2]
    assert all(e["operation"] == "overwrite" for e in h)
    # metrics landed inside each commit manifest (not just the sidecar)
    assert h[0]["summary"]["min_quality"] == 0.0
    assert h[1]["summary"]["min_quality"] == 0.45
    # HEAD == the strict run alone (full runs replace, never stack);
    # snapshot 1 (the lax run) stays addressable via time travel
    run1 = t.read(spark, seq=1)
    assert run1.count() == h[0]["summary"]["rows_out"] > 0
    strict_df = t.read(spark)
    assert strict_df.count() == h[1]["summary"]["rows_out"]
    # the strict run's rows form a subset of the lax run's keys
    lax = {(r.conv_id, r.turn_idx) for r in run1.select("conv_id", "turn_idx").collect()}
    strict = {(r.conv_id, r.turn_idx) for r in strict_df.select("conv_id", "turn_idx").collect()}
    assert strict <= lax and len(strict) == h[1]["summary"]["rows_out"]
    assert strict_df.filter(F.col("quality") < 0.45).count() == 0

    # rerunning the IDENTICAL command is idempotent at HEAD: same rows,
    # one more addressable snapshot in the history
    rc = C.main(["--input", str(tmp_path / "in"), "--output", out,
                 "--min-quality", "0.45", "--snapshot"])
    assert rc == 0
    assert t.current_seq() == 3
    rerun = {(r.conv_id, r.turn_idx)
             for r in t.read(spark).select("conv_id", "turn_idx").collect()}
    assert rerun == strict


def test_curate_quota_and_sample(spark, tmp_path, monkeypatch):
    """--max-turns-per-conv caps every conversation's contribution (best
    quality kept) and --sample-rate takes a deterministic, rerun-stable
    content-hash subsample of the capped set."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    import jobs.curate as C

    write_transcripts_parquet(
        synth.gen_pandas(10, seed=3, max_long=60), str(tmp_path / "in")
    )
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    common = ["--input", str(tmp_path / "in"), "--min-quality", "0.0"]

    assert C.main(common + ["--output", str(tmp_path / "full")]) == 0
    full = spark.read.parquet(str(tmp_path / "full" / "data"))

    assert C.main(common + ["--output", str(tmp_path / "cap"),
                            "--max-turns-per-conv", "5"]) == 0
    cap = spark.read.parquet(str(tmp_path / "cap" / "data"))
    per_conv = {r.conv_id: r["cnt"] for r in
                cap.groupBy("conv_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert max(per_conv.values()) <= 5
    assert any(v > 5 for r, v in
               ((x, x["cnt"]) for x in
                full.groupBy("conv_id").agg(F.count(F.lit(1)).alias("cnt")).collect()))
    # kept turns are each conv's top-5 by (quality DESC, key ASC)
    fq = {}
    for r in full.select("conv_id", "turn_idx", "quality").collect():
        fq.setdefault(r.conv_id, []).append((-r.quality, f"{r.conv_id}#{r.turn_idx}", r.turn_idx))
    for conv, rows in fq.items():
        want = {t[2] for t in sorted(rows)[:5]}
        got = {r.turn_idx for r in cap.filter(F.col("conv_id") == conv).collect()}
        assert got == want, conv

    assert C.main(common + ["--output", str(tmp_path / "s1"),
                            "--sample-rate", "0.5", "--sample-salt", "e0"]) == 0
    assert C.main(common + ["--output", str(tmp_path / "s2"),
                            "--sample-rate", "0.5", "--sample-salt", "e0"]) == 0
    k = lambda d: {(r.conv_id, r.turn_idx) for r in
                   spark.read.parquet(str(tmp_path / d / "data")).collect()}
    s1, s2 = k("s1"), k("s2")
    assert s1 == s2  # rerun-stable
    assert s1 < k("full") and 0.3 < len(s1) / full.count() < 0.7


def test_curate_near_dedup(spark, tmp_path, monkeypatch):
    """--near-dedup collapses near-identical (but not byte-identical)
    turns to one representative per family; dissimilar turns survive."""
    import pandas as pd

    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    import jobs.curate as C

    pdf = synth.gen_pandas(6, seed=7, max_long=30)
    ts = pdf["ts"].iloc[0]
    base = (
        "the quarterly revenue report shows strong growth across all "
        "regions with particular strength in the northern market segment "
        "where sales doubled compared to the previous fiscal year"
    )
    near = pd.DataFrame(
        [
            # family of 3 near-dups: one word appended/swapped — same
            # shingle mass, Jaccard >> 0.5, NOT byte-identical post-strip
            {"conv_id": "nd-a", "turn_idx": 0, "role": "user",
             "text": base, "tool": "", "ts": ts},
            {"conv_id": "nd-b", "turn_idx": 0, "role": "user",
             "text": base + " indeed", "tool": "", "ts": ts},
            {"conv_id": "nd-c", "turn_idx": 0, "role": "user",
             "text": base.replace("doubled", "tripled"), "tool": "", "ts": ts},
        ]
    )
    pdf = pd.concat([pdf, near], ignore_index=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    write_transcripts_parquet(pdf, str(tmp_path / "in"))
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    common = ["--input", str(tmp_path / "in"), "--min-quality", "0.0"]

    assert C.main(common + ["--output", str(tmp_path / "plain")]) == 0
    plain = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(
        str(tmp_path / "plain" / "data")).select("conv_id", "turn_idx").collect()}
    fams = {k for k in plain if k[0].startswith("nd-")}
    assert len(fams) == 3  # exact dedup alone keeps all three variants

    # both candidate forms: iterated star (the default) and all-pairs
    for mode in ("star", "pairs"):
        out = tmp_path / f"nd-{mode}"
        assert C.main(common + ["--output", str(out), "--near-dedup", "0.5",
                                "--near-dedup-mode", mode]) == 0
        nd = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(
            str(out / "data")).select("conv_id", "turn_idx").collect()}
        kept_fam = {k for k in nd if k[0].startswith("nd-")}
        # one deterministic representative (min key) per near-dup family
        assert kept_fam == {("nd-a", 0)}
        # near-dedup only ever removes rows, and unrelated turns survive
        assert nd < plain
        assert len(plain - nd) < 10  # it did not nuke distinct content


def test_curate_conv_near_dedup_drops_edited_reupload_whole(spark, tmp_path, monkeypatch):
    """--conv-near-dedup: a lightly-edited re-uploaded CONVERSATION drops
    as a unit — including its edited turn — while the original survives
    intact.  Without the flag, turn-level exact dedup guts the re-upload
    but strands the edited turn as an orphan fragment (the failure mode
    the conv stage closes)."""
    import pandas as pd

    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    import jobs.curate as C

    pdf = synth.gen_pandas(6, seed=13, max_long=30)
    ts = pdf["ts"].iloc[0]
    turns = [
        "hello there can you help me plan the quarterly budget review",
        "sure thing let us start with the revenue assumptions for north",
        "the northern market doubled sales compared to last fiscal year",
        "great then allocate more headcount to the northern sales team",
    ]
    orig = pd.DataFrame(
        [{"conv_id": "cr-orig", "turn_idx": i, "role": "user",
          "text": t, "tool": "", "ts": ts} for i, t in enumerate(turns)]
    )
    # the re-upload: identical except ONE edited turn (the common case)
    edited = list(turns)
    edited[2] = turns[2] + " roughly speaking"
    reup = pd.DataFrame(
        [{"conv_id": "cr-reup", "turn_idx": i, "role": "user",
          "text": t, "tool": "", "ts": ts} for i, t in enumerate(edited)]
    )
    pdf = pd.concat([pdf, orig, reup], ignore_index=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    write_transcripts_parquet(pdf, str(tmp_path / "in"))
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    common = ["--input", str(tmp_path / "in"), "--min-quality", "0.0"]

    # baseline: turn dedup fragments the re-upload (edited turn orphaned)
    assert C.main(common + ["--output", str(tmp_path / "plain")]) == 0
    plain = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(
        str(tmp_path / "plain" / "data")).select("conv_id", "turn_idx").collect()}
    assert ("cr-reup", 2) in plain  # the orphan fragment
    assert ("cr-reup", 0) not in plain  # its siblings got turn-deduped

    assert C.main(common + ["--output", str(tmp_path / "cnd"),
                            "--conv-near-dedup", "0.6"]) == 0
    cnd = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(
        str(tmp_path / "cnd" / "data")).select("conv_id", "turn_idx").collect()}
    # the re-upload is gone ENTIRELY; the original keeps all four turns
    assert not {k for k in cnd if k[0] == "cr-reup"}
    assert {k for k in cnd if k[0] == "cr-orig"} == {("cr-orig", i) for i in range(4)}
    # unrelated conversations are untouched
    assert {k for k in cnd if not k[0].startswith("cr-")} == {
        k for k in plain if not k[0].startswith("cr-")
    }


def test_curate_incremental_conv_near_dedup_against_history(spark, tmp_path, monkeypatch):
    """--incremental --conv-near-dedup: an edited re-upload (NEW conv id)
    of a conversation curated in an EARLIER increment drops whole via the
    persisted conv_lsh_index — only the increment's conversations are
    re-assembled and hashed; history participates as its banded index
    rows.  Fresh conversations in the same increment land."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_root, out_root = str(tmp_path / "in"), str(tmp_path / "out")
    in_table = SnapshotTable(in_root)
    batch1 = synth.gen_pandas(5, seed=61, max_long=20)
    ts = batch1["ts"].iloc[0]
    turns = [
        "hello there can you help me plan the quarterly budget review",
        "sure thing let us start with the revenue assumptions for north",
        "the northern market doubled sales compared to last fiscal year",
        "great then allocate more headcount to the northern sales team",
    ]
    batch1 = pd.concat([batch1, pd.DataFrame(
        [{"conv_id": "xcv-orig", "turn_idx": i, "role": "user",
          "text": t, "tool": "", "ts": ts} for i, t in enumerate(turns)]
    )], ignore_index=True)
    in_table.append(tx(batch1))
    args = ["--input", in_root, "--output", out_root, "--min-quality", "0.0",
            "--input-snapshot", "--incremental", "--snapshot",
            "--conv-near-dedup", "0.6"]
    assert C.main(args) == 0
    out_table = SnapshotTable(str(tmp_path / "out" / "table"))
    cidx_table = SnapshotTable(str(tmp_path / "out" / "conv_lsh_index"))
    assert cidx_table.current_seq() is not None  # index synced post-commit
    assert cidx_table.history()[-1]["summary"]["data_seq"] == 1

    # batch 2: an edited re-upload of xcv-orig under a NEW conv id (one
    # turn lightly edited — exact fingerprint anti-join can't fully stop
    # it, and its unedited turns WOULD fragment without the conv check)
    edited = list(turns)
    edited[2] = turns[2] + " roughly speaking"
    batch2 = synth.gen_pandas(3, seed=67, max_long=20)
    batch2 = pd.concat([batch2, pd.DataFrame(
        [{"conv_id": "xcv-reup", "turn_idx": i, "role": "user",
          "text": t, "tool": "", "ts": ts} for i, t in enumerate(edited)]
    )], ignore_index=True)
    in_table.append(tx(batch2))
    assert C.main(args) == 0

    cur = out_table.read(spark)
    # the re-upload dropped WHOLE against history (fresh conv id, so only
    # the conv-index path can catch it); the original stays intact
    assert cur.filter(F.col("conv_id") == "xcv-reup").count() == 0
    assert cur.filter(F.col("conv_id") == "xcv-orig").count() == len(turns)
    # fresh batch-2 conversations landed
    assert cur.filter(F.col("conv_id").isin(
        [c for c in batch2["conv_id"].unique() if c != "xcv-reup"])).count() > 0
    # index advanced to cover the new data seq
    covered = max(int(h["summary"]["data_seq"]) for h in cidx_table.history()
                  if "data_seq" in h["summary"])
    assert covered == out_table.current_seq()
    # sync is idempotent
    n = len(cidx_table.history())
    C._sync_index(spark, out_table, cidx_table, C.CONV_INDEX)
    assert len(cidx_table.history()) == n


def test_curate_incremental_concurrent_writer_aborts_cleanly(spark, tmp_path, monkeypatch):
    """Two incremental curate runs racing on the same unprocessed input
    seq: the loser must ABORT (no duplicate increment, no orphan staged
    files), not blind-rebase-append — the single-writer contract is
    enforced at commit time, not assumed.  The LSH index may lag the
    winner's commit and must heal to consistency on the next sync."""
    import glob
    import os

    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources import snapshots as S
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_root, out_root = str(tmp_path / "in"), str(tmp_path / "out")
    in_table = SnapshotTable(in_root)
    in_table.append(tx(synth.gen_pandas(5, seed=41, max_long=20)))
    args = ["--input", in_root, "--output", out_root, "--min-quality", "0.0",
            "--input-snapshot", "--incremental", "--snapshot",
            "--near-dedup", "0.9"]
    assert C.main(args) == 0
    out_table = SnapshotTable(str(tmp_path / "out" / "table"))
    idx_table = SnapshotTable(str(tmp_path / "out" / "lsh_index"))
    n1 = out_table.read(spark).count()

    # batch 2 lands in the input; run A plans against it, but between A's
    # planning and A's commit a concurrent run B commits the SAME input
    # increment.  Simulated deterministically: the first append() against
    # the output table first performs B's winning commit, then proceeds
    # with A's own attempt — whose validator must fire.
    in_table.append(tx(synth.gen_pandas(4, seed=43, max_long=20)))
    in_seq = in_table.current_seq()

    orig_append = S.SnapshotTable.append
    raced = {"fired": False}

    def racing_append(self, df, summary=None, max_retries=5, summary_fn=None,
                      validate_fn=None):
        if (self.root == out_table.root and validate_fn is not None
                and not raced["fired"]):
            raced["fired"] = True
            # run B (the winner): same increment, legitimate summary
            orig_append(
                SnapshotTable(self.root), df,
                summary={"input_seq_processed": in_seq, "rows_out": -1},
            )
        return orig_append(self, df, summary=summary, max_retries=max_retries,
                           summary_fn=summary_fn, validate_fn=validate_fn)

    monkeypatch.setattr(S.SnapshotTable, "append", racing_append)
    assert C.main(args) == 0  # run A: loses the race, exits cleanly
    monkeypatch.setattr(S.SnapshotTable, "append", orig_append)
    assert raced["fired"]

    import json as _json
    with open(str(tmp_path / "out" / "_curation_summary.json")) as f:
        s = _json.load(f)
    assert s.get("increment_already_committed") is True

    # exactly ONE copy of the increment: B's commit is the only new one
    cur = out_table.read(spark)
    n2 = cur.count()
    assert n2 > n1
    assert cur.select("fingerprint").distinct().count() == n2
    ops = [h["summary"].get("input_seq_processed") for h in out_table.history()]
    assert ops.count(in_seq) == 1
    # the loser left no orphan staged files: every parquet under data/
    # is referenced by the live manifest
    live = {d["path"] for d in out_table.manifest()["files"]}
    on_disk = {
        os.path.relpath(p, out_table.root)
        for p in glob.glob(os.path.join(out_table.root, "data", "*.parquet"))
    }
    assert on_disk <= live | {
        d["path"] for seq in range(1, (out_table.current_seq() or 0) + 1)
        for d in out_table.manifest(seq)["files"]
    }
    n_files_all_seqs = {
        d["path"] for seq in range(1, (out_table.current_seq() or 0) + 1)
        for d in out_table.manifest(seq)["files"]
    }
    assert on_disk == n_files_all_seqs  # nothing unreferenced, nothing missing

    # index healed: B never synced it; the next sync covers B's commit
    C._sync_index(spark, out_table, idx_table, C.TURN_INDEX)
    covered = max(
        int(h["summary"]["data_seq"])
        for h in idx_table.history() if "data_seq" in h["summary"]
    )
    assert covered == out_table.current_seq()


def test_curate_incremental_processes_only_appended_files(spark, tmp_path, monkeypatch):
    """--input-snapshot --incremental: run 2 reads ONLY the files the input
    log appended since run 1 (seq recorded in the output commit manifest),
    drops rows whose content already lives in the curated table via the
    cross-increment fingerprint anti-join, appends atomically; a run with
    no new input is a metadata-only no-op."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_root, out_root = str(tmp_path / "in"), str(tmp_path / "out")
    in_table = SnapshotTable(in_root)
    batch1 = synth.gen_pandas(6, seed=31, max_long=25)
    ts = batch1["ts"].iloc[0]
    # a fixed PII-free payload seeded in batch 1 and repeated (different
    # conv) in batch 2 — only the cross-increment anti-join can drop the
    # batch-2 copy, and a clean literal fingerprints identically both runs
    payload = "identical cross increment payload body words survive here"
    batch1 = pd.concat([batch1, pd.DataFrame([{
        "conv_id": "xinc-base", "turn_idx": 0, "role": "user",
        "text": payload, "tool": "", "ts": ts,
    }])], ignore_index=True)
    in_table.append(tx(batch1))

    args = ["--input", in_root, "--output", out_root, "--min-quality", "0.0",
            "--input-snapshot", "--incremental", "--snapshot"]
    assert C.main(args) == 0
    out_table = SnapshotTable(str(tmp_path / "out" / "table"))
    h1 = out_table.history()
    assert len(h1) == 1 and h1[0]["summary"]["input_seq_processed"] == 1
    run1 = out_table.read(spark)
    n1 = run1.count()
    assert n1 > 0 and h1[0]["summary"]["rows_out"] == n1

    assert run1.filter(F.col("conv_id") == "xinc-base").count() == 1

    # batch 2: fresh convs + the payload repeated under a new conv
    batch2 = synth.gen_pandas(4, seed=77, max_long=25)
    dup = pd.DataFrame([{
        "conv_id": "xinc-dup", "turn_idx": 0, "role": "user",
        "text": payload, "tool": "", "ts": ts,
    }])
    batch2 = pd.concat([batch2, dup], ignore_index=True)
    in_table.append(tx(batch2))

    assert C.main(args) == 0
    h2 = out_table.history()
    assert [e["seq"] for e in h2] == [1, 2]
    assert h2[1]["summary"]["input_seq_processed"] == 2
    # run 2 scanned ONLY the increment, not the whole input table
    assert h2[1]["summary"]["rows_in"] == len(batch2)
    cur = out_table.read(spark)
    # cross-increment duplicate dropped by the fingerprint anti-join...
    assert cur.filter(F.col("conv_id") == "xinc-dup").count() == 0
    # ...and fingerprints stay globally unique across increments
    assert cur.select("fingerprint").distinct().count() == cur.count()
    assert cur.count() > n1  # genuinely new batch-2 content landed

    # run 3: no new input → metadata-only no-op, history unchanged
    assert C.main(args) == 0
    assert [e["seq"] for e in out_table.history()] == [1, 2]
    # ...and the sidecar still reports the run
    summary = json.loads((tmp_path / "out" / "_curation_summary.json").read_text())
    assert summary["no_new_input"] is True
    assert summary["rows_in"] == 0
    assert summary["input_seq_processed"] == 2


def test_curate_incremental_near_dedup_against_history(spark, tmp_path, monkeypatch):
    """--incremental --near-dedup: a batch-2 row that is a NEAR (not
    byte-identical) duplicate of batch-1 content is dropped via the
    persisted LSH band index — only the increment is shingled; history
    joins as its pre-banded index rows.  The index sidecar tracks the
    data table seq and the sync is idempotent."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    base = (
        "the quarterly revenue report shows strong growth across all "
        "regions with particular strength in the northern market segment "
        "where sales doubled compared to the previous fiscal year"
    )
    in_root, out_root = str(tmp_path / "in"), str(tmp_path / "out")
    in_table = SnapshotTable(in_root)
    batch1 = synth.gen_pandas(4, seed=13, max_long=25)
    ts = batch1["ts"].iloc[0]
    batch1 = pd.concat([batch1, pd.DataFrame([{
        "conv_id": "xnd-base", "turn_idx": 0, "role": "user",
        "text": base, "tool": "", "ts": ts,
    }])], ignore_index=True)
    in_table.append(tx(batch1))

    args = ["--input", in_root, "--output", out_root, "--min-quality", "0.0",
            "--input-snapshot", "--incremental", "--snapshot",
            "--near-dedup", "0.5"]
    assert C.main(args) == 0
    out_table = SnapshotTable(str(tmp_path / "out" / "table"))
    assert out_table.read(spark).filter(F.col("conv_id") == "xnd-base").count() == 1
    idx_table = SnapshotTable(str(tmp_path / "out" / "lsh_index"))
    # index covers the run-1 data commit, one band row set per kept row
    assert idx_table.history()[-1]["summary"]["data_seq"] == 1
    idx_rows_1 = idx_table.read(spark).count()
    assert idx_rows_1 > 0

    # batch 2: a near-dup of batch-1 content (word appended — same
    # shingle mass, Jaccard > 0.5, different fingerprint) + fresh convs
    batch2 = synth.gen_pandas(3, seed=91, max_long=25)
    batch2 = pd.concat([batch2, pd.DataFrame([{
        "conv_id": "xnd-near", "turn_idx": 0, "role": "user",
        "text": base + " indeed", "tool": "", "ts": ts,
    }])], ignore_index=True)
    in_table.append(tx(batch2))

    assert C.main(args) == 0
    cur = out_table.read(spark)
    # the near-dup dropped against HISTORY (exact anti-join can't see it:
    # fingerprints differ), the batch-1 representative survives
    assert cur.filter(F.col("conv_id") == "xnd-near").count() == 0
    assert cur.filter(F.col("conv_id") == "xnd-base").count() == 1
    # fresh batch-2 content landed
    assert cur.filter(F.col("conv_id").isin(
        [c for c in batch2["conv_id"].unique() if c != "xnd-near"])).count() > 0
    # index advanced to cover data seq 2 and grew by the kept increment
    assert idx_table.history()[-1]["summary"]["data_seq"] == 2
    assert idx_table.read(spark).count() > idx_rows_1
    # sync is idempotent: already-covered → no new index commit
    n_commits = len(idx_table.history())
    C._sync_index(spark, out_table, idx_table, C.TURN_INDEX)
    assert len(idx_table.history()) == n_commits

    # hash-algorithm drift: an index banded under a different (or legacy
    # untagged) hash family never collides with fresh buckets, so sync
    # must force a FULL overwrite rebuild, not an incremental catch-up
    from table_ocr_spark.operators.dedup import LSH_ALGO

    idx_table.append(
        idx_table.read(spark).limit(0),
        summary={"data_seq": out_table.current_seq(), "lsh_algo": "legacy-0"},
    )
    live_keys = out_table.read(spark).count()
    C._sync_index(spark, out_table, idx_table, C.TURN_INDEX)
    h = idx_table.history()[-1]
    assert h["operation"] == "overwrite"
    assert h["summary"]["lsh_algo"] == LSH_ALGO
    # rebuilt index covers exactly the live corpus (bands × live rows)
    assert idx_table.read(spark).select("_k").distinct().count() == live_keys


def test_curate_incremental_equals_full_run_fingerprints(spark, tmp_path, monkeypatch):
    """Two incremental runs over appends A then B produce the SAME
    fingerprint set (exactly-one-per-content) as one full run over A∪B —
    the incremental contract's equality half (representative CHOICE may
    differ: the full run takes the global min key, incremental keeps the
    first-batch holder; content coverage must not)."""
    import hashlib

    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA, write_transcripts_parquet
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    pdf = synth.gen_pandas(10, seed=47, max_long=30)
    # split by conv hash (conversations never straddle batches — the
    # conv-scoped strip sees whole conversations either way)
    hb = pdf["conv_id"].map(lambda c: int(hashlib.md5(c.encode()).hexdigest()[:8], 16) % 3)
    b1, b2 = pdf[hb != 0], pdf[hb == 0]
    assert len(b1) and len(b2)

    in_table = SnapshotTable(str(tmp_path / "in"))
    args = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "inc"),
            "--min-quality", "0.0", "--input-snapshot", "--incremental", "--snapshot"]
    in_table.append(tx(b1))
    assert C.main(args) == 0
    in_table.append(tx(b2))
    assert C.main(args) == 0

    write_transcripts_parquet(pdf, str(tmp_path / "full_in"))
    assert C.main(["--input", str(tmp_path / "full_in"),
                   "--output", str(tmp_path / "full"), "--min-quality", "0.0"]) == 0

    inc = SnapshotTable(str(tmp_path / "inc" / "table")).read(spark)
    full = spark.read.parquet(str(tmp_path / "full" / "data"))
    inc_fp = {r.fingerprint for r in inc.select("fingerprint").collect()}
    full_fp = {r.fingerprint for r in full.select("fingerprint").collect()}
    assert inc_fp == full_fp and len(inc_fp) == inc.count() == full.count()


def test_curate_compact_after_keeps_incremental_loop_working(spark, tmp_path, monkeypatch):
    """--compact-after: once the table exceeds the file budget the run
    compacts it (conv_id-clustered); the NEXT incremental run crosses the
    compact commit and the index sync catches up via the key anti-join
    (append, not a full-rebuild overwrite), with near-dedup-vs-history
    still effective."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def _tx(spark, pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    base = (
        "the incremental compaction scenario text body keeps the near "
        "duplicate detection across a compacted history fully functional"
    )
    in_table = SnapshotTable(str(tmp_path / "in"))
    b1 = synth.gen_pandas(5, seed=71, max_long=20)
    ts = b1["ts"].iloc[0]
    b1 = pd.concat([b1, pd.DataFrame([{
        "conv_id": "cp-base", "turn_idx": 0, "role": "user",
        "text": base, "tool": "", "ts": ts,
    }])], ignore_index=True)
    in_table.append(_tx(spark, b1))

    args = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
            "--min-quality", "0.0", "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.5", "--compact-after", "1"]
    assert C.main(args) == 0
    data = SnapshotTable(str(tmp_path / "out" / "table"))

    # run 2 appends more files; with budget 1, a compact commit must
    # exist by now and the live set must be back inside the budget
    b2 = synth.gen_pandas(3, seed=72, max_long=20)
    in_table.append(_tx(spark, b2))
    assert C.main(args) == 0
    ops = [h["operation"] for h in data.history()]
    assert "compact" in ops and ops[-1] == "compact"
    assert len(data.manifest()["files"]) <= 1

    # run 3 crosses the compact commit with a near-dup of run-1 content
    b3 = synth.gen_pandas(2, seed=73, max_long=20)
    b3 = pd.concat([b3, pd.DataFrame([{
        "conv_id": "cp-near", "turn_idx": 0, "role": "user",
        "text": base + " truly", "tool": "", "ts": ts,
    }])], ignore_index=True)
    in_table.append(_tx(spark, b3))
    assert C.main(args) == 0

    live = data.read(spark)
    # near-dedup against PRE-compaction history still drops the near-dup
    assert live.filter(F.col("conv_id") == "cp-near").count() == 0
    assert live.filter(F.col("conv_id") == "cp-base").count() == 1
    idx = SnapshotTable(str(tmp_path / "out" / "lsh_index"))
    # the sync crossed the compact commit via catch-up APPEND, not rebuild
    assert "overwrite" not in {h["operation"] for h in idx.history()}
    live_keys = {f"{r.conv_id}#{r.turn_idx}" for r in live.select("conv_id", "turn_idx").collect()}
    assert {r._k for r in idx.read(spark).select("_k").distinct().collect()} == live_keys


def test_curate_incremental_reingest_rewritten_turn_not_self_dropped(
    spark, tmp_path, monkeypatch, capsys
):
    """A (conv_id, turn_idx) key re-appended in a later increment with
    text that does NOT clear the near-dup threshold against its OLD
    version must be kept: the verify compares new text vs old text, not
    the new text against itself (which is always jaccard 1.0)."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    # 31 distinct words: appending one more gives word-set jaccard
    # 31/32 ≈ 0.969 < 0.97 (below threshold → must be KEPT) while the
    # shingle sets differ by one — the MinHash bands collide, so the
    # candidate pair forms and the verify path is genuinely exercised
    words = " ".join(f"w{i:02d}token" for i in range(31))
    b1 = synth.gen_pandas(3, seed=81, max_long=20)
    ts = b1["ts"].iloc[0]
    b1 = pd.concat([b1, pd.DataFrame([{
        "conv_id": "ri-conv", "turn_idx": 0, "role": "user",
        "text": words, "tool": "", "ts": ts,
    }])], ignore_index=True)

    in_table = SnapshotTable(str(tmp_path / "in"))
    in_table.append(tx(b1))
    args = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
            "--min-quality", "0.0", "--input-snapshot", "--incremental",
            "--snapshot", "--near-dedup", "0.97"]
    assert C.main(args) == 0
    out = SnapshotTable(str(tmp_path / "out" / "table"))
    assert out.read(spark).filter(F.col("conv_id") == "ri-conv").count() == 1

    # re-ingest the same key with one word appended (rewritten content)
    b2 = pd.DataFrame([{
        "conv_id": "ri-conv", "turn_idx": 0, "role": "user",
        "text": words + " appended", "tool": "", "ts": ts,
    }])
    in_table.append(tx(b2))
    assert C.main(args) == 0
    ri = out.read(spark).filter(F.col("conv_id") == "ri-conv")
    # both versions live (different fingerprints, similarity below J):
    # the rewritten re-ingest was NOT self-dropped
    assert ri.count() == 2

    # forgetting the conversation deletes both rows of its duplicated
    # turn key, and the summary counts rows, not distinct keys
    import jobs.forget as FG

    capsys.readouterr()
    assert FG.main(["--table", str(tmp_path / "out"), "--conv-ids", "ri-conv"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_deleted"] == 2
    assert out.read(spark).filter(F.col("conv_id") == "ri-conv").count() == 0


def test_curate_strip_corpus_min_df(spark, tmp_path, monkeypatch):
    """--strip-corpus-min-df removes a banner present once per
    conversation but in every conversation — invisible to the
    conversation-scoped strip, which requires repetition WITHIN a conv."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import write_transcripts_parquet

    import jobs.curate as C

    pdf = synth.gen_pandas(6, seed=17, max_long=10)
    banner = "Powered by ExampleChat Cloud"
    # one banner TURN per conversation (appended last): extraction
    # passes a plain line through verbatim, so the corpus sees the
    # identical trimmed line once per conv — in every conv
    extra = (
        pdf.groupby("conv_id", as_index=False)
        .agg({"turn_idx": "max", "ts": "max"})
        .assign(turn_idx=lambda d: d["turn_idx"] + 1, role="assistant",
                text=lambda d: banner + "\nunique closing words for " + d["conv_id"],
                tool="")
    )
    pdf = pd.concat([pdf, extra[pdf.columns]], ignore_index=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    write_transcripts_parquet(pdf, str(tmp_path / "in"))
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    common = ["--input", str(tmp_path / "in"), "--min-quality", "0.0"]

    assert C.main(common + ["--output", str(tmp_path / "plain")]) == 0
    plain = spark.read.parquet(str(tmp_path / "plain" / "data"))
    # conv strip can't see it: once per conv, not repeated across turns
    assert plain.filter(F.col("text").contains(banner)).count() > 0

    assert C.main(common + ["--output", str(tmp_path / "cs"),
                            "--strip-corpus-min-df", "3"]) == 0
    cs = spark.read.parquet(str(tmp_path / "cs" / "data"))
    assert cs.filter(F.col("text").contains(banner)).count() == 0
    # non-banner content is untouched (same rows, banner line removed)
    assert cs.count() == plain.count()


def test_curate_incremental_overlapping_lower_head_race_aborts(spark, tmp_path, monkeypatch):
    """A concurrent run that pinned a LOWER input head still overlaps our
    increment's input range: run A plans against input (1, 3] while run B
    commits input_seq_processed=2.  The old guard (abort only when the
    winner reached OUR head seq) let A append the overlapping seq-2 rows
    a second time; the guard must abort whenever a newer commit consumed
    past A's input resume base (ADVICE r6 #1)."""
    from table_ocr_spark import session as session_mod
    from table_ocr_spark import synth
    from table_ocr_spark.sources import snapshots as S
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(pdf):
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)

    in_root, out_root = str(tmp_path / "in"), str(tmp_path / "out")
    in_table = SnapshotTable(in_root)
    in_table.append(tx(synth.gen_pandas(4, seed=71, max_long=15)))
    args = ["--input", in_root, "--output", out_root, "--min-quality", "0.0",
            "--input-snapshot", "--incremental", "--snapshot"]
    assert C.main(args) == 0  # consumes input seq 1
    out_table = SnapshotTable(str(tmp_path / "out" / "table"))
    n1 = out_table.read(spark).count()

    # two more input batches: A will plan against (1, 3]
    batch2 = synth.gen_pandas(3, seed=72, max_long=15)
    in_table.append(tx(batch2))          # input seq 2
    in_table.append(tx(synth.gen_pandas(3, seed=73, max_long=15)))  # seq 3

    orig_append = S.SnapshotTable.append
    raced = {"fired": False}

    def racing_append(self, df, summary=None, max_retries=5, summary_fn=None,
                      validate_fn=None):
        if (self.root == out_table.root and validate_fn is not None
                and not raced["fired"]):
            raced["fired"] = True
            # run B (winner, pinned at the OLDER input head): commits
            # with input_seq_processed=2 < A's in_seq=3.  B's payload
            # content does not matter for the guard; commit a schema-
            # conforming slice of A's own frame to keep it simple.
            orig_append(
                SnapshotTable(self.root), df.limit(1),
                summary={"input_seq_processed": 2, "rows_out": -1},
            )
        return orig_append(self, df, summary=summary, max_retries=max_retries,
                           summary_fn=summary_fn, validate_fn=validate_fn)

    monkeypatch.setattr(S.SnapshotTable, "append", racing_append)
    assert C.main(args) == 0  # run A: must lose the race and exit cleanly
    monkeypatch.setattr(S.SnapshotTable, "append", orig_append)
    assert raced["fired"]

    import json as _json
    with open(str(tmp_path / "out" / "_curation_summary.json")) as f:
        s = _json.load(f)
    assert s.get("increment_already_committed") is True

    # A appended nothing beyond B's single winning row
    assert out_table.read(spark).count() == n1 + 1


def test_conv_index_compact_only_catchup_is_metadata_only(spark, tmp_path, monkeypatch):
    """A compact-ONLY uncovered range rewrites file layout but not rows,
    so no conversation can have gained turns — the conv-index sync must
    take the metadata-only seq catch-up (zero appended rows, no read of
    the existing index, no corpus re-band via the anti-join path)
    instead of the O(corpus) full re-band reserved for ranges that
    contain appends."""
    import pandas as pd

    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    out_table = SnapshotTable(str(tmp_path / "table"))
    cidx = SnapshotTable(str(tmp_path / "conv_lsh_index"))
    t0 = "2031-01-01T00:00:00"
    out_table.append(tx([
        ("ca", 0, "user", "alpha beta gamma delta", "", t0),
        ("cb", 0, "user", "one two three four", "", t0),
    ]))
    C._sync_index(spark, out_table, cidx, C.CONV_INDEX)
    n_before = cidx.read(spark).count()
    assert n_before  # bootstrap banded the live set

    # compact-only uncovered range
    out_table.compact(spark)

    # the shortcut never touches the existing index rows
    real_read = cidx.read
    def _no_index_read(*a, **kw):
        raise AssertionError("compact-only catch-up must not read the index")
    monkeypatch.setattr(cidx, "read", _no_index_read)
    C._sync_index(spark, out_table, cidx, C.CONV_INDEX)
    monkeypatch.setattr(cidx, "read", real_read)

    # zero rows appended, covered seq advanced (idempotent next sync)
    assert cidx.read(spark).count() == n_before
    newest = next(iter(cidx.iter_history_newest_first()))
    assert int(newest["summary"]["data_seq"]) == out_table.current_seq()


def test_conv_index_catchup_rebands_convs_grown_in_uncovered_range(spark, tmp_path, monkeypatch):
    """The compact-catch-up sync path must not skip a conversation that
    is already in the conv index but gained NEW turns inside the
    uncovered range — its bands would stay permanently computed from the
    older, shorter text (ADVICE r6 #3).  The conv-granularity sync
    re-bands the live set and appends only band rows the index lacks."""
    import pandas as pd

    from table_ocr_spark.operators.conv_scope import conv_text
    from table_ocr_spark.operators.dedup import lsh_banded
    from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
    from table_ocr_spark.sources.snapshots import SnapshotTable

    import jobs.curate as C

    def tx(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).astype("datetime64[us, UTC]")
        return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)

    out_table = SnapshotTable(str(tmp_path / "table"))
    cidx = SnapshotTable(str(tmp_path / "conv_lsh_index"))
    t0 = "2031-01-01T00:00:00"
    out_table.append(tx([
        ("cgrow", 0, "user", "alpha beta gamma delta", "", t0),
        ("cgrow", 1, "assistant", "epsilon zeta eta theta", "", t0),
        ("cother", 0, "user", "one two three four", "", t0),
    ]))
    C._sync_index(spark, out_table, cidx, C.CONV_INDEX)
    gen1 = {(r.band, r.bucket) for r in cidx.read(spark)
            .filter("conv_id = 'cgrow'").collect()}
    assert gen1  # bootstrap banded the short text

    # the conv GROWS in a later commit, then a compaction voids
    # file-diff change tracking for the range
    out_table.append(tx([
        ("cgrow", 2, "user", "iota kappa lambda mu nu xi omicron pi", "", t0),
        ("cgrow", 3, "assistant", "rho sigma tau upsilon phi chi psi", "", t0),
    ]))
    out_table.compact(spark)
    C._sync_index(spark, out_table, cidx, C.CONV_INDEX)

    # expected: the bands of the FULL grown text are now present
    full = lsh_banded(
        conv_text(out_table.read(spark).filter("conv_id = 'cgrow'")
                  .select("conv_id", "turn_idx", "text")),
        text="text", key="conv_id",
    )
    want = {(r.band, r.bucket) for r in full.collect()}
    have = {(r.band, r.bucket) for r in cidx.read(spark)
            .filter("conv_id = 'cgrow'").collect()}
    assert want <= have, (want, have)
    # prior generation preserved (extra rows only ADD candidates)
    assert gen1 <= have
    # idempotent: a second sync appends nothing
    n = cidx.read(spark).count()
    C._sync_index(spark, out_table, cidx, C.CONV_INDEX)
    assert cidx.read(spark).count() == n
