"""spark-submit entry for the STREAMING extraction job.

    spark-submit --py-files engine.zip jobs/stream.py \
        --input /path/landing --output /path/extracted \
        --checkpoint /path/ckpt [--once] [--strip-conv-boilerplate]

Continuous-ingest deployment shape: new transcript parquet files land in
``--input``; each micro-batch runs the same extraction kernel (or, with
``--strip-conv-boilerplate``, the stateful conv-scoped strip) and appends
to the parquet sink, with progress tracked by the streaming checkpoint.
``--once`` uses Trigger.AvailableNow — drain what's there and exit (the
batch-equivalent backfill mode the tests pin against the batch job).

Local/sandbox invocation is identical minus spark-submit:

    python jobs/stream.py --input ... --output ... --checkpoint ... --once
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="streaming transcript extraction job")
    ap.add_argument("--input", required=True, help="landing dir (parquet files arrive here)")
    ap.add_argument("--output", required=True, help="parquet sink dir")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--config", default="default", help="builtin name | JSON file")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--once", action="store_true", help="Trigger.AvailableNow: drain and exit")
    ap.add_argument(
        "--strip-conv-boilerplate",
        action="store_true",
        help="run the STATEFUL conv-scoped boilerplate strip instead of per-turn extraction",
    )
    ap.add_argument(
        "--idle-timeout-ms",
        type=int,
        default=0,
        help="evict a conversation's strip state after this much processing-time inactivity",
    )
    ap.add_argument(
        "--snapshot-sink",
        action="store_true",
        help="commit each micro-batch through the snapshot log (Iceberg-"
        "analog, <output>/table) instead of the raw parquet sink: atomic "
        "per-epoch commits, exactly-once under batch replay, time travel "
        "across the ingest history",
    )
    args = ap.parse_args(argv)
    if args.strip_conv_boilerplate and args.snapshot_sink:
        # silently taking one branch would hand the user a sink WITHOUT
        # the exactly-once per-epoch commits they asked for
        raise SystemExit("--strip-conv-boilerplate and --snapshot-sink are mutually exclusive")

    from jobs.extract import _resolve_config
    from table_ocr_spark.session import job_session

    cfg = _resolve_config(args.config, None)
    with job_session("stream_extract", args.cores) as spark:
        return _stream(spark, args, cfg)


def _stream(spark, args, cfg) -> int:
    # recentProgress keeps only the last numRecentProgressUpdates entries
    # (default 100) — an AvailableNow drain over many landed files emits
    # one progress per micro-batch, so the post-run batch/row tally below
    # would silently undercount past 100 batches without this
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    if args.strip_conv_boilerplate:
        from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
        from table_ocr_spark.streaming.stateful import stream_conv_boilerplate

        src = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
        out = stream_conv_boilerplate(src, idle_timeout_ms=args.idle_timeout_ms)
        writer = (
            out.writeStream.format("parquet")
            .option("path", args.output)
            .option("checkpointLocation", args.checkpoint)
            .outputMode("append")
        )
        if args.once:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
    elif args.snapshot_sink:
        from table_ocr_spark.operators.extract_job import with_extraction
        from table_ocr_spark.streaming.snapshot_sink import start_snapshot_sink_stream
        from table_ocr_spark.streaming.stream_extract import read_transcript_stream

        src = read_transcript_stream(spark, args.input)
        out = with_extraction(src.select("conv_id", "turn_idx", "text"), cfg)
        q = start_snapshot_sink_stream(
            out,
            os.path.join(args.output, "table"),
            args.checkpoint,
            available_now=args.once,
        )
    else:
        from table_ocr_spark.streaming.stream_extract import start_extract_stream

        q = start_extract_stream(
            spark, args.input, args.output, args.checkpoint, cfg, available_now=args.once
        )

    try:
        q.awaitTermination()
        # recentProgress survives query termination (lastProgress is often
        # None after an AvailableNow drain); count only batches that moved
        # rows — the drain can emit trailing zero-row progress entries.
        # NB these are INPUT-side tallies: in --snapshot-sink mode a
        # crash-replayed batch reports its input rows here even though the
        # sink idempotently skipped it, so reconcile against the snapshot
        # table's own row count, not this number.
        recent = q.recentProgress or []
        print(
            json.dumps(
                {
                    "sink": args.output,
                    "batches_seen": sum(
                        1 for p in recent if int(p.get("numInputRows") or 0) > 0
                    ),
                    "rows_seen": sum(
                        int((p.get("numInputRows") or 0)) for p in recent
                    ),
                    "mode": "conv_strip" if args.strip_conv_boilerplate else "extract",
                    "once": args.once,
                }
            )
        )
    finally:
        # a borrowed session outlives the job: never leave its query running
        q.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
