"""Tracing for the benchmark's traced runs: spans, job groups, wrappers
around the program's driver-side public calls, the Spark event-log
parser, the UDF profiler read-out and the single-thread kernel leg.

Spans are recorded only here, around calls into ``table_ocr_spark`` and
``jobs``; the program itself is not modified.  Each span also sets the
Spark job group to the '/'-joined span stack, so every stage in the event
log can be attributed to the layer that launched it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class Tracer:
    """Span recorder.  ``spans`` holds (path, start, end) in epoch seconds,
    where path is the '/'-joined stack of span names."""

    def __init__(self):
        self.stack: list = []
        self.spans: list = []
        self.counts: dict = defaultdict(float)

    @property
    def group(self):
        return "/".join(self.stack) or None

    def apply_group(self) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        g = self.group
        if g:
            sc.setJobGroup(g, g)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        self.stack.append(name)
        path = self.group
        self.apply_group()
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((path, t0, time.time()))
            self.stack.pop()
            self.apply_group()

    def durations(self, suffix: str, under: str = "") -> list:
        return [
            b - a
            for p, a, b in self.spans
            if p.endswith(suffix) and p.startswith(under)
        ]


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        with tracer.span(name):
            out = fn(*a, **kw)
        if after is not None:
            after(out, *a, **kw)
        return out

    setattr(owner, attr, wrapped)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the driver-side public calls each layer owns.  Wrappers only
    time and count; the one exception: the dedup candidate and verified
    pair frames are counted by an extra action under the ``trace.count``
    span (excluded from every layer's stage time)."""
    import pyspark.sql.classic.dataframe as pdf
    import table_ocr_spark.operators.dedup as dedup
    import table_ocr_spark.operators.skew as skew
    import table_ocr_spark.plans.pipeline as pipeline
    import table_ocr_spark.session as session
    from table_ocr_spark.sources.catalog import ExtractionTable
    from table_ocr_spark.sources.snapshots import CommitConflict, SnapshotTable

    c = tracer.counts

    # session: re-apply the current job group to a freshly built context
    build = session.build_session

    @functools.wraps(build)
    def build_session(*a, **kw):
        with tracer.span("session.build"):
            spark = build(*a, **kw)
        tracer.apply_group()
        return spark

    session.build_session = build_session

    # skew: the threshold count and the heavy-hitter sketch (pipeline
    # imported both by name, so patch its bindings too)
    def heavy_after(out, *a, **kw):
        c["skew.heavy_convs"] += len(out or [])

    for mod in (skew, pipeline):
        _wrap(tracer, mod, "heavy_conv_ids_materialized", "skew.sketch", heavy_after)
        _wrap(tracer, mod, "effective_skew_threshold", "skew.sketch")
    _wrap(tracer, ExtractionTable, "append_lineage", "catalog.lineage_append")

    # snapshots
    for m in ("append", "compact", "read_changes", "overwrite"):
        _wrap(tracer, SnapshotTable, m, f"snapshots.{m}")

    def merge_after(seq, self, *a, **kw):
        s = self.manifest(seq)["summary"]
        c["snapshots.merge_files_rewritten"] += s.get("files_rewritten", 0)
        c["snapshots.merge_files_untouched"] += s.get("files_untouched", 0)

    _wrap(tracer, SnapshotTable, "merge", "snapshots.merge", merge_after)
    commit = SnapshotTable.commit

    @functools.wraps(commit)
    def commit_traced(self, *a, **kw):
        with tracer.span("snapshots.commit"):
            try:
                return commit(self, *a, **kw)
            except CommitConflict:
                c["snapshots.commit_retries"] += 1
                raise

    SnapshotTable.commit = commit_traced

    # dedup: connected-components rounds = checkpoints taken inside it,
    # minus the two initial cuts (edges, labels)
    for cut in ("checkpoint", "localCheckpoint"):
        orig = getattr(pdf.DataFrame, cut)

        def counted(self, *a, _orig=orig, **kw):
            if tracer.stack and tracer.stack[-1] == "dedup.cc":
                c["dedup.cc_checkpoints"] += 1
            return _orig(self, *a, **kw)

        setattr(pdf.DataFrame, cut, counted)

    def cc_after(out, *a, **kw):
        c["dedup.cc_calls"] += 1

    _wrap(tracer, dedup, "near_dup_components", "dedup.cc", cc_after)

    def count(df) -> int:
        with tracer.span("trace.count"):
            return df.count()

    verify = dedup.verify_pairs_jaccard

    @functools.wraps(verify)
    def verify_counted(pairs, *a, **kw):
        out = verify(pairs, *a, **kw)
        c["dedup.candidate_pairs"] += count(pairs)
        c["dedup.verified_pairs"] += count(out)
        return out

    dedup.verify_pairs_jaccard = verify_counted
    against = dedup.lsh_pairs_against

    @functools.wraps(against)
    def against_counted(*a, **kw):
        out = against(*a, **kw)
        c["dedup.index_candidates"] += count(out)
        return out

    dedup.lsh_pairs_against = against_counted


# ------------------------------------------------------------ event log --


def _plan_owners(info: dict, acc_text: dict) -> None:
    """Map every SQL-metric accumulator id to the text of its plan node
    plus the metric-less nodes under it (e.g. the Projects fused into a
    WholeStageCodegen)."""

    def walk(node, owner_texts):
        own = node.get("metrics") or []
        text = node.get("simpleString") or node.get("nodeName", "")
        if own:
            texts = [text]
            for m in own:
                acc_text[m["accumulatorId"]] = texts
        else:
            texts = owner_texts
            if texts is not None:
                texts.append(text)
        for ch in node.get("children") or []:
            walk(ch, texts)

    walk(info, None)


class Stage:
    __slots__ = (
        "group", "text", "run_s", "cpu_s", "gc_s", "spill", "shuffle_write",
        "shuffle_read", "input_bytes", "output_bytes", "to_py", "from_py",
        "task_s", "tasks_failed",
    )

    def __init__(self, group):
        self.group = group or ""
        self.text = ""
        self.run_s = self.cpu_s = self.gc_s = 0.0
        self.spill = self.shuffle_write = self.shuffle_read = 0
        self.input_bytes = self.output_bytes = self.to_py = self.from_py = 0
        self.task_s: list = []
        self.tasks_failed = 0


def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f


def parse_event_logs(evlog_dir: str):
    """(stages, jobs) from every application log in ``evlog_dir``.

    stages: list of Stage; jobs: list of (group, submit_s, end_s)."""
    stages, jobs = [], []
    # event log v2: one directory per application, rolled files inside
    for app in sorted(glob.glob(os.path.join(evlog_dir, "*"))):
        acc_text: dict = {}
        by_id: dict = {}
        job_start: dict = {}
        files = sorted(glob.glob(os.path.join(app, "events_*"))) if os.path.isdir(app) else [app]
        for line in _lines(files):
            ev = json.loads(line)
            t = ev.get("Event", "")
            if t.endswith("SQLExecutionStart") or t.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_owners(ev["sparkPlanInfo"], acc_text)
            elif t == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_start[ev["Job ID"]] = (g, ev["Submission Time"] / 1000)
                for sid in ev.get("Stage IDs", []):
                    by_id.setdefault(sid, Stage(g))
            elif t == "SparkListenerJobEnd":
                g, t0 = job_start.pop(ev["Job ID"], (None, None))
                if t0 is not None:
                    jobs.append((g or "", t0, ev["Completion Time"] / 1000))
            elif t == "SparkListenerTaskEnd":
                st = by_id.setdefault(ev["Stage ID"], Stage(None))
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                if ti.get("Failed"):
                    st.tasks_failed += 1
                st.task_s.append((ti["Finish Time"] - ti["Launch Time"]) / 1000)
                st.run_s += tm.get("Executor Run Time", 0) / 1000
                st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.gc_s += tm.get("JVM GC Time", 0) / 1000
                st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                st.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = by_id.setdefault(si["Stage ID"], Stage(None))
                texts = []
                for acc in si.get("Accumulables", []):
                    name = acc.get("Name", "")
                    if name == "data sent to Python workers":
                        st.to_py += int(acc.get("Value", 0))
                    elif name == "data returned from Python workers":
                        st.from_py += int(acc.get("Value", 0))
                    tx = acc_text.get(acc.get("ID"))
                    if tx is not None and tx not in texts:
                        texts.append(tx)
                st.text = "\n".join(s for tx in texts for s in tx)
        stages.extend(by_id.values())
    return stages, jobs


def _max_over_median(task_s: list) -> float:
    med = _median(task_s)
    return max(task_s) / med if task_s and med > 0 else 0.0


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(tracer: Tracer, stages: list, jobs: list, op_prefix: str, n_ops: int) -> dict:
    """Per-layer metrics of the timed job calls (span paths starting with
    ``op_prefix``), as means per timed job call."""
    n = max(1, n_ops)
    timed = [s for s in stages if s.group.startswith(op_prefix)]
    mine = [s for s in timed if "/trace.count" not in s.group]

    def where(pred):
        return [s for s in mine if pred(s)]

    def tot(ss, attr):
        return sum(getattr(s, attr) for s in ss) / n

    ex = where(lambda s: "extract_udf(" in s.text)
    py = where(lambda s: s.to_py > 0)
    salt = where(lambda s: "AS _salt#" in s.text)
    seq = where(lambda s: "AS turn_seq#" in s.text)
    ex_tasks = [t for s in ex for t in s.task_s]

    c = tracer.counts
    out = {
        "extract_job.arrow_bytes_to_python": (tot(ex, "to_py"), "B"),
        "extract_job.arrow_bytes_from_python": (tot(ex, "from_py"), "B"),
        "extract_job.udf_stage_s": (tot(ex, "run_s"), "s"),
        "extract_job.task_max_over_median": (_max_over_median(ex_tasks), "ratio"),
        "skew.sketch_s": (sum(tracer.durations("/skew.sketch", op_prefix)) / n, "s"),
        "skew.heavy_convs": (c["skew.heavy_convs"] / n, "count"),
        "skew.shuffle_write_bytes": (tot(salt, "shuffle_write"), "B"),
        "pipeline.turn_seq_shuffle_bytes": (tot(seq, "shuffle_read"), "B"),
        "pipeline.write_bytes": (tot(mine, "output_bytes"), "B"),
        "catalog.scan_bytes": (tot(mine, "input_bytes"), "B"),
        "catalog.lineage_append_s": (
            sum(tracer.durations("/catalog.lineage_append", op_prefix)) / n, "s"),
        "udf.python_stage_s": (tot(py, "run_s"), "s"),
        "dedup.cc_s": (sum(tracer.durations("/dedup.cc", op_prefix)) / n, "s"),
        "dedup.candidate_pairs": (c["dedup.candidate_pairs"] / n, "count"),
        "dedup.verified_pairs": (c["dedup.verified_pairs"] / n, "count"),
        "dedup.verify_yield": (
            c["dedup.verified_pairs"] / c["dedup.candidate_pairs"]
            if c["dedup.candidate_pairs"] else 0.0, "ratio"),
        "dedup.index_candidates": (c["dedup.index_candidates"] / n, "count"),
        "dedup.cc_iterations": (
            max(0.0, c["dedup.cc_checkpoints"] - 2 * c["dedup.cc_calls"]) / n, "count"),
        "snapshots.commit_s": (sum(tracer.durations("/snapshots.commit", op_prefix)) / n, "s"),
        "snapshots.commit_retries": (c["snapshots.commit_retries"] / n, "count"),
        "snapshots.read_changes_s": (
            sum(tracer.durations("/snapshots.read_changes", op_prefix)) / n, "s"),
        "snapshots.compact_s": (sum(tracer.durations("/snapshots.compact", op_prefix)) / n, "s"),
        "snapshots.merge_files_rewritten": (c["snapshots.merge_files_rewritten"] / n, "count"),
        "snapshots.merge_files_untouched": (c["snapshots.merge_files_untouched"] / n, "count"),
        "spark.jobs": (sum(1 for g, _, _ in jobs if g.startswith(op_prefix)) / n, "count"),
        "spark.stages": (len(timed) / n, "count"),
        "spark.tasks": (sum(len(s.task_s) for s in timed) / n, "count"),
        "spark.tasks_failed": (sum(s.tasks_failed for s in timed) / n, "count"),
        "spark.executor_run_s": (tot(timed, "run_s"), "s"),
        "spark.executor_cpu_s": (tot(timed, "cpu_s"), "s"),
        "spark.gc_s": (tot(timed, "gc_s"), "s"),
        "spark.spill_bytes": (tot(timed, "spill"), "B"),
    }
    # driver gap: wall of each timed job call not covered by any running job
    gaps = []
    for path, a, b in tracer.spans:
        if path.startswith(op_prefix) and "/" not in path:
            ivs = [(j0, j1) for g, j0, j1 in jobs if g.startswith(path)]
            gaps.append((b - a) - _covered(ivs, a, b))
    out["pipeline.driver_gap_s"] = (_median(gaps), "s")
    # a commit group runs from its skew sketch to its lineage append
    groups, start = [], None
    for path, a, b in sorted(tracer.spans, key=lambda s: s[1]):
        if not path.startswith(op_prefix):
            continue
        if path.endswith("/skew.sketch") and start is None:
            start = a
        elif path.endswith("/catalog.lineage_append") and start is not None:
            groups.append(b - start)
            start = None
    out["pipeline.group_s"] = (_median(groups), "s")
    return out


# ------------------------------------------------------ UDF profiler ----


def udf_function_s(spark, func_name: str = "extract_udf") -> float:
    """Cumulative time inside ``func_name`` as measured by Spark's UDF
    profiler (``spark.sql.pyspark.udf.profiler=perf``), all workers."""
    total = 0.0
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (_, _, fn), (_, _, _, ct, _) in stats.stats.items():
            if fn == func_name:
                total += ct
    return total


def clear_udf_profiles(spark) -> None:
    spark._profiler_collector.clear_perf_profiles()


# ----------------------------------------------- single-thread kernel ---


def kernel_leg(texts: list) -> dict:
    """``extract_payload`` and ``normalize`` in-process, one thread, over
    ``texts``; µs/row per extraction mode."""
    from table_ocr_spark.config import DEFAULT_CONFIG as cfg
    from table_ocr_spark.functions.extract import (
        MODE_EXPLICIT,
        MODE_HEURISTIC,
        MODE_PASSTHROUGH,
        extract_payload,
    )
    from table_ocr_spark.functions.normalize import normalize

    per = {m: [0, 0.0] for m in (MODE_EXPLICIT, MODE_HEURISTIC, MODE_PASSTHROUGH)}
    clock = time.perf_counter
    for raw in texts:
        t = clock()
        mode = extract_payload(raw, cfg).mode
        per[mode][1] += clock() - t
        per[mode][0] += 1
    t = clock()
    for raw in texts:
        normalize(raw, nfc=cfg.normalize_unicode, strip_zero_width=cfg.strip_zero_width)
    norm_s = clock() - t
    n = max(1, len(texts))
    out = {}
    for m, (rows, secs) in per.items():
        out[f"kernel.us_per_row.{m}"] = (secs / rows * 1e6 if rows else 0.0, "us")
        out[f"kernel.rows.{m}"] = (rows, "count")
    out["kernel.normalize_us_per_row"] = (norm_s / n * 1e6, "us")
    busy = sum(s for _, s in per.values())
    out["kernel.turns_per_s_1thread"] = (len(texts) / busy if busy else 0.0, "1/s")
    return out
