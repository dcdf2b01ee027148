"""spark-submit entry for the right-to-be-forgotten job: remove whole
conversations from a snapshot-committed curated table (and its LSH index
sidecar) as atomic, addressable commits.

    python jobs/forget.py --table /path/curated --conv-ids c1,c2
    python jobs/forget.py --table /path/curated --conv-file ids.txt --expire-keep 1

The 100-TB compliance pattern this encodes:

1. **Row-level delete by key set, touching O(matched files)** — the
   snapshot log's copy-on-write MERGE (`sources/snapshots.py merge`,
   ``when_matched="delete"``): footer-stats cut, then ONE semi-join
   membership cut collecting matched FILE names (never rows), then one
   rewrite job over matched files only; every other file carries forward
   by reference.
2. **The LSH index forgets too**: the `lsh_index` sidecar holds
   (key, band, bucket) rows derived from the deleted text — the turn
   keys of the matching conversations are gathered BEFORE the data
   delete and merge-deleted from the index, so no fingerprint of the
   forgotten content survives in any queryable surface.  (Stale index
   rows would be correctness-harmless — candidates verify against live
   text and vanish — but compliance requires the derived data gone.)
3. **History is not deletion**: a snapshot log keeps pre-delete commits
   addressable by design, so the job optionally runs ``expire``
   (``--expire-keep N``) to physically drop superseded snapshots and
   their unreferenced data files — without it the delete is logical
   only, and the summary says so (`physically_expired: false`).

A later incremental curation run handles the non-append commit
gracefully: `jobs/curate.py _sync_index` detects that `read_changes`
cannot cross a merge snapshot and falls back to one full index rebuild
(banding only — one pass over the surviving corpus, no text
re-extraction).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="remove conversations from a curated table")
    ap.add_argument("--table", required=True, help="curation output root (holds table/ and lsh_index/)")
    ap.add_argument("--conv-ids", default="", help="comma-separated conversation ids")
    ap.add_argument("--conv-file", default="", help="file with one conversation id per line")
    ap.add_argument(
        "--expire-keep",
        type=int,
        default=0,
        help="after deleting, physically expire history down to the last N "
        "snapshots on both tables (0 = logical delete only; pre-delete "
        "snapshots stay addressable and still hold the data)",
    )
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    ids = [x for x in args.conv_ids.split(",") if x]
    if args.conv_file:
        with open(args.conv_file) as f:
            ids += [ln.strip() for ln in f if ln.strip()]
    ids = sorted(set(ids))
    if not ids:
        raise SystemExit("no conversation ids given (--conv-ids / --conv-file)")

    from table_ocr_spark.session import job_session

    with job_session("forget", args.cores) as spark:
        return _forget(spark, args, ids)


def _forget(spark, args, ids: list) -> int:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jobs.curate import INDEXES, turn_key
    from table_ocr_spark.session import local_frame
    from table_ocr_spark.sources.snapshots import SnapshotTable

    data = SnapshotTable(os.path.join(args.table, "table"))
    if data.current_seq() is None:
        raise SystemExit(f"no snapshot table at {args.table}/table")

    live = data.read(spark).filter(F.col("conv_id").isin(ids))
    # gather the turn keys BEFORE the delete — the index is keyed by
    # conv#turn and these rows are gone from the data table afterwards.
    # A forget set is small by nature (one user's conversations), so the
    # key list is driver-safe; rows_deleted rides the same collect.
    keys = [r["_k"] for r in live.select(turn_key().alias("_k")).collect()]
    summary = {"table": args.table, "conv_ids": len(ids), "rows_deleted": len(keys)}

    # duplicate turn keys are possible in the curated table (the
    # cross-increment guard anti-joins on fingerprint, not key) — a
    # duplicated source key would trip MERGE's cardinality check AFTER
    # the data delete committed, leaving the index unscrubbed
    keys = sorted(set(keys))

    # the incremental curation resume marker (input_seq_processed) lives
    # in append-commit summaries; carry the newest one forward on the
    # merge commit, or an --expire-keep that drops those appends would
    # reset the next incremental run to after_seq=0 — re-curating the
    # whole input and RESURRECTING the just-forgotten conversations
    # (their fingerprints are gone, so the anti-join can't stop them)
    resume = {}
    for h in data.iter_history_newest_first():
        if "input_seq_processed" in h["summary"]:
            resume["input_seq_processed"] = h["summary"]["input_seq_processed"]
            break

    if keys:
        # one key frame per key column: the conv-id frame serves the data
        # delete and the conv-index scrub
        frames = {
            col: local_frame(
                spark, [(v,) for v in values], T.StructType([T.StructField(col, T.StringType())])
            )
            for col, values in (("conv_id", ids), ("_k", keys))
        }
        seq = data.merge(
            spark, frames["conv_id"], ["conv_id"], when_matched="delete",
            summary={"forget_conv_ids": len(ids), **resume},
        )
        summary["data_seq"] = seq
        m = data.manifest(seq)["summary"]
        summary["files_rewritten"] = m.get("files_rewritten")
        summary["files_untouched"] = m.get("files_untouched")

        def _carried_algo_tag(index_table):
            """The algo tag this scrub must stamp: the one the index's
            rows were actually banded with (latest previously stamped
            commit), NOT the current constant.  Stamping ``LSH_ALGO`` on
            a legacy/untagged index would launder it as current — the
            next curate sync reads the newest stamped commit, sees a
            matching tag, and skips the forced rebuild, leaving legacy
            bands that never collide with fresh buckets (ADVICE r6 #2).
            Returns {} for an untagged index so the merge summary stays
            tagless and the sync still treats the index as legacy."""
            for h in index_table.iter_history_newest_first():
                tag = h["summary"].get("lsh_algo")
                if tag is not None:
                    return {"lsh_algo": tag}
            return {}

        # each index holds rows derived from the forgotten text, keyed
        # by turn key or conv_id — scrub them by the same key set
        for idx in INDEXES:
            t = idx.table(args.table)
            if t.current_seq() is not None:
                # data_seq: after the scrub the index covers the data
                # table exactly at the merge seq — without recording
                # that, the next curate run's sync would see a non-append
                # commit and rebuild the whole index it already has
                summary[f"{idx.tag}_seq"] = t.merge(
                    spark, frames[idx.key], [idx.key],
                    when_matched="delete",
                    summary={"forget_conv_ids": len(ids), "data_seq": seq,
                             **_carried_algo_tag(t)},
                )

    if args.expire_keep > 0:
        summary["expired_data"] = data.expire(keep_last=args.expire_keep)
        for idx in INDEXES:
            t = idx.table(args.table)
            if t.current_seq() is not None:
                summary[f"expired_{idx.tag}"] = t.expire(keep_last=args.expire_keep)
        summary["physically_expired"] = True
    else:
        summary["physically_expired"] = False

    print(json.dumps(summary, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
