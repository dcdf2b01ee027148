"""Per-query timing for the contract queries, one query at a time.

Separate from the FROZEN bench.py: runs each named query of
``__spark_entry__.queries()`` into the noop sink, min-of-``--reps``, and
optionally writes its ``.explain('formatted')`` plan to
``<plans-dir>/<query>_<plan-suffix>.txt``.

Usage:
    python bench_extra.py [--queries q1,q2] [--reps N] [--plans-dir plans/r07] \
                          [--plan-suffix before|after]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "extract_html_clean",
    "extract_md_cells",
    "token_count",
    "lang_id",
    "quality_score",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash",
    "cosine_topk",
    "events_sessionize",
    "extract_mode_stats",
    "q1_pricing_summary",
    "q6_revenue_delta",
    "order_priority_counts",
    "segment_revenue",
    "top_revenue_orders",
]


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def _time(make_df, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        _noop(make_df())
        best = min(best, time.time() - t0)
    return best


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(BENCH_QUERIES))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-suffix", default="before")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or max(4, (os.cpu_count() or 8) // 2)

    import __spark_entry__ as contract
    from table_ocr_spark.session import build_session

    spark = build_session(app_name="bench_extra", cores=cpus, shuffle_partitions=max(cpus, 8))
    qs = contract.queries()

    out = {"sf_dir": sf_dir, "cpus": cpus, "timings": {}}
    names = [q for q in args.queries.split(",") if q]

    # warm up JVM + python workers once (same shape as bench.py warm-up)
    if names:
        _noop(qs[names[0]](spark, sf_dir))

    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        out["timings"][name] = round(_time(lambda: qs[name](spark, sf_dir), args.reps), 3)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.plan_suffix}.txt"), "w"
            ) as f:
                f.write(_plan_text(qs[name](spark, sf_dir)))
        print(json.dumps({name: out["timings"][name]}), flush=True)

    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
