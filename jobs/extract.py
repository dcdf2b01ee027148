"""spark-submit entry for the extraction job (SURVEY.md §3.4).

    spark-submit --py-files engine.zip jobs/extract.py \
        --input /path/transcripts --output /path/extracted \
        --config default --buckets 64 --groups 8

Local/sandbox invocation is identical minus spark-submit:

    python jobs/extract.py --input ... --output ...

The analog of the reference's CLI driver (main.py:186-256), with the
mlflow/profiler artifact trail replaced by the lineage manifest the job
writes per bucket commit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# repo-root import when run as `python jobs/extract.py`; on a cluster the
# package ships via spark-submit --py-files engine.zip instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _resolve_config(name: str, store_dir: str | None):
    """Config resolution, mirroring the reference's named-config retrieval
    (GET /config/ by primary-key name, api/main.py:386-462): builtin names
    first, then a JSON file path, then the ConfigStore at ``store_dir``."""
    from table_ocr_spark.config import ALT_CONFIG, DEFAULT_CONFIG, ExtractorConfig

    if name == "default":
        return DEFAULT_CONFIG
    if name == "alt":
        return ALT_CONFIG
    if os.path.isfile(name):
        with open(name) as f:
            return ExtractorConfig(**json.load(f))
    if store_dir:
        from table_ocr_spark.sources.config_store import ConfigStore

        cfg = ConfigStore(store_dir).get(name)
        if cfg is not None:
            return cfg
    raise SystemExit(
        f"unknown config {name!r}: not a builtin (default|alt), not a JSON "
        f"file, and not found in the config store"
        + (f" at {store_dir}" if store_dir else " (no --config-store given)")
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="transcript main-content extraction job")
    ap.add_argument("--input", required=True, help="transcripts dir")
    ap.add_argument(
        "--input-format",
        default="parquet",
        choices=("parquet", "jsonl"),
        help="table format (parquet) or one-JSON-object-per-line dumps (jsonl)",
    )
    ap.add_argument("--output", required=True, help="output table root")
    ap.add_argument(
        "--config",
        default="default",
        help="config: default|alt|<json file>|<name in --config-store>",
    )
    ap.add_argument(
        "--config-store", default=None, help="ConfigStore dir for named configs"
    )
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--groups", type=int, default=4)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from table_ocr_spark.plans.pipeline import run_extract
    from table_ocr_spark.session import job_session

    cfg = _resolve_config(args.config, args.config_store)

    with job_session("extract", args.cores) as spark:
        res = run_extract(
            spark,
            args.input,
            args.output,
            cfg=cfg,
            n_buckets=args.buckets,
            commit_groups=args.groups,
            run_id=args.run_id,
            resume=not args.no_resume,
            input_format=args.input_format,
        )
        print(
            json.dumps(
                {
                    "run_id": res.run_id,
                    "config_hash": res.config_hash,
                    "n_buckets": res.n_buckets,
                    "committed": sorted(res.committed_buckets),
                    "skipped": sorted(res.skipped_buckets),
                    "wall_ms": res.wall_ms,
                }
            )
        )
        return 0


if __name__ == "__main__":
    sys.exit(main())
