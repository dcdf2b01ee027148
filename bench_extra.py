"""Round-7 optimization measurement harness (guide §1: measure first).

Separate from the FROZEN bench.py: isolates each expensive query with the
noop sink, times sub-stages of composite operators (minhash signature vs
pair join vs distinct), and captures .explain('formatted') for each query
into plans/r07/.

Usage:
    python bench_extra.py [--queries q1,q2] [--reps N] [--plans-dir plans/r07] \
                          [--stages] [--tag before|after]

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


def stage_probes(spark, sf_dir):
    """Sub-stage timings for the composite bench queries."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from table_ocr_spark.operators import dedup

    probes = {}

    # --- minhash decomposition --------------------------------------
    def wd():
        return E._with_dups(E._docs(spark, sf_dir))

    probes["mh_sig_only"] = lambda: dedup.minhash_signatures(wd(), "text", "doc_id", 8, 2)
    probes["mh_banded_only"] = lambda: dedup._minhash_bands(wd(), "text", "doc_id", 8, 4, 2)
    probes["mh_pairs_nodistinct"] = lambda: dedup._bucket_pairs(
        dedup._cobucket(dedup._minhash_bands(wd(), "text", "doc_id", 8, 4, 2)), distinct=False
    )

    # --- scan floors -------------------------------------------------
    li = lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet")  # noqa: E731
    probes["scan_lineitem"] = li
    probes["scan_lineitem_3col"] = lambda: li().select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    probes["scan_orders"] = lambda: spark.read.parquet(f"{sf_dir}/orders.parquet")
    probes["scan_docs"] = lambda: spark.read.parquet(f"{sf_dir}/documents.parquet")

    def rev_only():
        return (
            li()
            .groupBy("l_orderkey")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        )

    probes["li_rev_by_orderkey"] = rev_only

    # --- simhash / exact decomposition -------------------------------
    probes["simhash_col_only"] = lambda: E._docs(spark, sf_dir).select(
        "doc_id", dedup.simhash_col("text", 16).alias("sh")
    )
    probes["fingerprint_only"] = lambda: E._with_dups(E._docs(spark, sf_dir)).select(
        "doc_id", F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))).alias("f")
    )
    return probes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(BENCH_QUERIES))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-suffix", default="before")
    ap.add_argument("--stages", action="store_true")
    ap.add_argument("--extract", action="store_true", help="also time the two headline legs")
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

    if args.stages:
        for pname, make in stage_probes(spark, sf_dir).items():
            spark.sparkContext.setJobDescription(f"bench_extra:stage:{pname}")
            try:
                out["timings"][pname] = round(_time(make, args.reps), 3)
            except Exception as e:  # noqa: BLE001 - probe harness, report and move on
                out["timings"][pname] = f"ERR {e}"
            print(json.dumps({pname: out["timings"][pname]}), flush=True)

    if args.extract:
        from table_ocr_spark.operators.extract_job import with_extraction
        from table_ocr_spark.operators.skew import salted_repartition
        from table_ocr_spark.session import python_worker_budget
        from table_ocr_spark.sources.catalog import load_transcripts
        from bench import ensure_corpus

        corpus = ensure_corpus(sf_dir)
        src = load_transcripts(spark, corpus).select("conv_id", "turn_idx", "text")
        _noop(with_extraction(src))  # warm-up
        spark.sparkContext.setJobDescription("bench_extra:extract_flagship")
        out["timings"]["extract_flagship"] = round(
            _time(lambda: with_extraction(src), args.reps), 3
        )
        print(json.dumps({"extract_flagship": out["timings"]["extract_flagship"]}), flush=True)
        salted = salted_repartition(src, num_partitions=32, worker_budget=python_worker_budget(spark))
        spark.sparkContext.setJobDescription("bench_extra:extract_salted")
        out["timings"]["extract_salted"] = round(
            _time(lambda: with_extraction(salted), args.reps), 3
        )
        print(json.dumps({"extract_salted": out["timings"]["extract_salted"]}), flush=True)

    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
