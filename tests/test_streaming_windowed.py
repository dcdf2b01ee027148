"""Watermarked windowed aggregation over the events stream: AvailableNow
drain must equal the batch equivalent (modulo rows dropped by the
watermark, which a drain-everything run does not drop)."""

import shutil

from pyspark.sql import functions as F


def test_events_windowed_stream_equals_batch(spark, tmp_path):
    from table_ocr_spark.streaming.stream_extract import events_windowed_counts

    # stage a copy (file-source streams want a directory they own)
    events_dir = str(tmp_path / "events")
    import os

    os.makedirs(events_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", events_dir + "/events.parquet")

    agg = events_windowed_counts(spark, events_dir, window="10 minutes", watermark="30 minutes")
    out = str(tmp_path / "out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.read.parquet(out)
        .orderBy("w_start", "event_type")
        .toPandas()
    )
    ev = spark.read.parquet(events_dir)
    want = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
        .orderBy("w_start", "event_type")
        .toPandas()
    )
    # append-mode emits only watermark-closed windows; with AvailableNow the
    # final window may be withheld — compare the common prefix, require the
    # stream emitted nearly everything
    assert len(got) >= len(want) - 10
    merged = got.merge(want, on=["w_start", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged["n_s"] == merged["n_b"]).all()
    assert (abs(merged["sum_value_s"] - merged["sum_value_b"]) < 1e-9).all()


def test_stream_dedup_exact(spark, tmp_path):
    """Duplicate payloads arriving within the watermark are dropped;
    AvailableNow drains to a deterministic result."""
    import pandas as pd

    from table_ocr_spark.sources.catalog import write_transcripts_parquet
    from table_ocr_spark.streaming.stream_extract import stream_dedup_exact

    src_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = pd.Timestamp("2026-01-01 00:00:00", tz="UTC")
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(6)],
            "turn_idx": pd.array([0] * 6, dtype="int32"),
            "role": ["user"] * 6,
            # rows 0/1 and 2/3 are duplicate payloads; 4/5 unique
            "text": ["same A", "same A", "same B", "same B", "uniq C", "uniq D"],
            "tool": pd.array([None] * 6, dtype="string"),
            "ts": [base + pd.Timedelta(minutes=i) for i in range(6)],
        }
    )
    write_transcripts_parquet(pdf, src_dir, n_files=3)
    q = (
        stream_dedup_exact(spark, src_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    texts = sorted(r.text for r in got.select("text").collect())
    assert texts == ["same A", "same B", "uniq C", "uniq D"]


def test_stream_cli_summary_reports_batches(spark, tmp_path, monkeypatch, capsys):
    """jobs/stream.py --once must report a real batch count from
    recentProgress (lastProgress is typically None after an AvailableNow
    drain — ADVICE r3) and the summed input rows."""
    import json

    import jobs.stream as S
    from table_ocr_spark import session as session_mod
    from table_ocr_spark.sources.catalog import write_transcripts_parquet
    from table_ocr_spark import synth

    write_transcripts_parquet(synth.gen_pandas(4, seed=7, max_long=20), str(tmp_path / "in"))
    n_rows = spark.read.parquet(str(tmp_path / "in")).count()

    monkeypatch.setattr(session_mod, "build_session", lambda **kw: spark)
    rc = S.main(
        [
            "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--once",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batches_seen"] >= 1
    assert out["rows_seen"] == n_rows
    assert out["mode"] == "extract" and out["once"] is True


def test_stream_dedup_keeps_null_ts_rows(spark, tmp_path):
    """Rows with NULL ts must flow through the streaming dedup (via the
    processing-time fallback), not silently vanish once a watermark is
    established — the batch dedup keeps them, so must the stream."""
    import pandas as pd

    from table_ocr_spark.sources.catalog import write_transcripts_parquet
    from table_ocr_spark.streaming.stream_extract import stream_dedup_exact

    src_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    base = pd.Timestamp("2026-01-01 00:00:00", tz="UTC")
    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c1", "c2", "c3"],
            "turn_idx": pd.array([0] * 4, dtype="int32"),
            "role": ["user"] * 4,
            # c1/c2: unique payloads with NULL ts; c3 dups c0's payload
            "text": ["same A", "null ts uniq", "null ts other", "same A"],
            "tool": pd.array([None] * 4, dtype="string"),
            "ts": pd.array([base, None, None, base + pd.Timedelta(minutes=1)],
                           dtype="datetime64[us, UTC]"),
        }
    )
    write_transcripts_parquet(pdf, src_dir, n_files=2)
    q = (
        stream_dedup_exact(spark, src_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    texts = sorted(r.text for r in spark.read.parquet(out).select("text").collect())
    assert texts == ["null ts other", "null ts uniq", "same A"]
