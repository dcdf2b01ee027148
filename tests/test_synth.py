"""Synthetic corpus invariants (FIXTURES.md §1): determinism, schema,
key density, skew shape."""

from table_ocr_spark import synth


def test_deterministic_same_seed():
    a = synth.gen_pandas(20, seed=42)
    b = synth.gen_pandas(20, seed=42)
    assert a.equals(b)


def test_different_seed_differs():
    a = synth.gen_pandas(20, seed=42)
    b = synth.gen_pandas(20, seed=7)
    assert not a["text"].equals(b["text"])


def test_payload_is_pure_function_of_key():
    k1, t1 = synth.payload_for("conv-0042-00000003", 5)
    k2, t2 = synth.payload_for("conv-0042-00000003", 5)
    assert (k1, t1) == (k2, t2)


def test_schema_and_key_density():
    df = synth.gen_pandas(25, seed=42)
    assert list(df.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert str(df["turn_idx"].dtype) == "int32"
    # dense 0..n-1 turn_idx per conv, no dups
    for conv_id, g in df.groupby("conv_id"):
        idx = sorted(g["turn_idx"].tolist())
        assert idx == list(range(len(idx)))
    assert not df.duplicated(["conv_id", "turn_idx"]).any()


def test_skew_heavy_tail():
    lengths = synth.conv_lengths(1000, seed=42)
    short = sum(1 for n in lengths if n <= 20)
    long = sum(1 for n in lengths if n >= 2000)
    assert short > 800
    assert long >= 1  # at least one skewed conversation — salting is tested


def test_all_payload_kinds_present():
    df = synth.gen_pandas(60, seed=42)
    kinds = {synth.payload_for(c, t)[0] for c, t in zip(df["conv_id"], df["turn_idx"])}
    assert kinds == {"plain", "html_page", "md_table", "pdf_layout", "noisy", "outlier"}


def test_megabyte_outlier_present_once():
    df = synth.gen_pandas(30, seed=42)
    big = df[df["text"].str.len() > 500_000]
    assert len(big) == 1  # FIXTURES.md: one ~1 MB outlier per SF step
    assert big.iloc[0]["turn_idx"] == 0 and big.iloc[0]["conv_id"].endswith("-00000000")


def test_jsonl_source_equals_parquet(spark, tmp_path):
    """JSONL transcript dumps (one object per line, ISO-8601 ts) must load
    to the exact same frame as the parquet table — same explicit schema,
    no inference pass."""
    from pyspark.sql import functions as F

    from table_ocr_spark import synth
    from table_ocr_spark.sources.catalog import (
        load_transcripts,
        write_transcripts_jsonl,
        write_transcripts_parquet,
    )

    pdf = synth.gen_pandas(6, seed=3, max_long=30)
    write_transcripts_parquet(pdf, str(tmp_path / "pq"))
    write_transcripts_jsonl(pdf, str(tmp_path / "jl"))

    a = load_transcripts(spark, str(tmp_path / "pq")).orderBy("conv_id", "turn_idx")
    b = load_transcripts(spark, str(tmp_path / "jl"), fmt="jsonl").orderBy(
        "conv_id", "turn_idx"
    )
    assert a.schema == b.schema
    ra = [
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool,
         r.ts.replace(tzinfo=None) if r.ts else None)
        for r in a.collect()
    ]
    rb = [
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool,
         r.ts.replace(tzinfo=None) if r.ts else None)
        for r in b.collect()
    ]
    assert ra == rb


def test_extract_cli_reads_jsonl(spark, tmp_path, monkeypatch, capsys):
    """jobs/extract.py --input-format jsonl runs the same pipeline over a
    JSONL dump and commits every bucket."""
    import json as _json

    import jobs.extract as X
    from table_ocr_spark import session as session_mod, synth
    from table_ocr_spark.sources.catalog import write_transcripts_jsonl

    write_transcripts_jsonl(synth.gen_pandas(5, seed=9, max_long=20), str(tmp_path / "in"))
    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    rc = X.main(
        [
            "--input", str(tmp_path / "in"),
            "--input-format", "jsonl",
            "--output", str(tmp_path / "out"),
            "--buckets", "4", "--groups", "2",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(out["committed"]) == [0, 1, 2, 3]
    n_in = spark.read.json(str(tmp_path / "in")).count()
    n_out = spark.read.parquet(str(tmp_path / "out") + "/data/*/*").count()
    assert n_out == n_in


def test_gate_rotation_is_structural():
    """VERDICT r5 #1: the driver gates the head-50 of queries() in dict
    order, so the order must be DERIVED from the committed gate history —
    every query absent from the latest CORRECTNESS file's gate must sort
    into the next head-50, and never-gated (new) queries must lead."""
    import glob
    import json
    import os
    import re

    import __spark_entry__ as e

    names = list(e.queries())
    canonical = list(e._canonical_queries())
    assert sorted(names) == sorted(canonical)  # rotation never drops/adds

    files = sorted(
        glob.glob(os.path.join(os.path.dirname(e.__file__), "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not files:  # fresh checkout: canonical order is the safe fallback
        assert names == canonical
        return
    latest_gate = set(json.load(open(files[-1])))
    stale = [q for q in names if q not in latest_gate]
    head = set(names[:50])
    # every stale query fits in the head window this round (87 total,
    # <=50 gated per round => at most 50 stale; all must rotate in)
    assert all(q in head for q in stale[:50])
    # and gate history never forgets: each query's last-gated round is
    # the max over all files, so a query green in r3 but absent since
    # still outranks one gated in r5
    last = e._gate_history()
    for q in latest_gate:
        assert last.get(q, -1) >= int(re.search(r"r(\d+)", files[-1]).group(1))
