"""The repo benchmark: seeded inputs, one workload per run at
local[nproc] from this single process, every output checked, one JSON
result line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Workloads are closed loops with one client (this process) issuing job
calls back to back:

* ``extract``   — ``plans.pipeline.run_extract`` into a fresh output root;
* ``increment`` — a snapshot-log input with a curated history; each step
  appends an increment and runs the incremental curate job; every second
  step is followed by the forget job.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, the UDF profiler and the span wrappers, and prints the
per-layer metrics instead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

SETUP_REPS = 3  # set-ups per run; setup_s is their median
# job calls per run at least, however short --seconds is: extract calls,
# or incremental curate steps (a forget call follows every 2nd step)
MIN_ROUNDS = {"extract": 2, "increment": 2}
MAX_OPS = 12  # job calls per run at most (keeps a run well inside 180 s)
EXTRACT_BUCKETS, EXTRACT_GROUPS = 8, 1
HEAP = "3g"
KERNEL_SAMPLE = 3000  # rows through the single-thread kernel leg
CURATE_FLAGS = ["--near-dedup", "0.5", "--near-dedup-rounds", "1", "--compact-after", "8"]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _env(work: Path, trace: bool) -> None:
    """Point every scratch path of Spark and its Python workers inside the
    run's work dir, and fix the launch-time conf (before the JVM starts)."""
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "evlog"):
        d.mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": str(ROOT) + (os.pathsep + old if old else ""),
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "SPARK_GRAFT_CKPT_DIR": str(work / "ckpt"),
            "SPARK_GRAFT_CPUS": str(_cores()),
            # build_session's heap (default 8g): bounded so a run stays a
            # small tenant of the host, and committed up front (below) so
            # the JVM's share of peak RSS does not depend on GC timing
            "SPARK_DRIVER_MEM": HEAP,
        }
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "evlog"),
                "spark.eventLog.compress": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


# ------------------------------------------------------------ processes --


def _children() -> dict:
    kids: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree(pid: int) -> list:
    """``pid`` and its descendants.  A child of the JVM still running the
    JVM's executable is skipped: the JVM launches helpers (Python daemons,
    Hadoop shell commands) with a vfork-style spawn, and until the child
    execs it shares the JVM's memory, so its RSS would count the JVM twice."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        exe = _exe(p)
        for k in kids.get(p, []):
            if not (exe.endswith("/java") and _exe(k) == exe):
                todo.append(k)
    return out


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss(threading.Thread):
    """Peak RSS summed over this process tree (benchmark, JVM, Python
    workers), sampled from /proc every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, _rss_bytes(_tree(os.getpid())))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def _shutdown_jvm() -> None:
    """Stop Spark and the JVM it launched, and wait until every child
    process of this one has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


# --------------------------------------------------------------- tracing --


class NoTracer:
    @contextlib.contextmanager
    def span(self, name):
        yield


# ----------------------------------------------------------------- runs --


class Run:
    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.cache = str(ROOT / ".perfbench_cache")
        self.tracer = NoTracer()
        self.attempted = 0
        self.failed = 0
        self.layers: dict = {}
        self.kernel_texts: list = []

    def op(self, name: str, fn, check) -> float | None:
        """One timed job call + its correctness check; wall time or None."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op.{name}"), contextlib.redirect_stdout(sys.stderr):
                t0 = time.perf_counter()
                fn()
                wall = time.perf_counter() - t0
            fails = check()
        except Exception:
            fails = [traceback.format_exc()]
        if fails:
            self.failed += 1
            print(f"[perfbench] {name} failed: {fails}", file=sys.stderr)
            return None
        return wall

    def setup(self, warm: str):
        """SETUP_REPS × (session build + warm-up extraction).  The first
        build launches the JVM and the SparkContext; later builds return
        the live session, as for a job called inside a running session."""
        import table_ocr_spark.session as session
        from table_ocr_spark.plans.pipeline import run_extract

        builds, warms = [], []
        with self.tracer.span("setup"), contextlib.redirect_stdout(sys.stderr):
            for i in range(SETUP_REPS):
                t0 = time.perf_counter()
                spark = session.build_session(app_name="perfbench", cores=_cores())
                t1 = time.perf_counter()
                run_extract(spark, warm, str(self.work / f"warm{i}"), n_buckets=4, commit_groups=1)
                builds.append(t1 - t0)
                warms.append(time.perf_counter() - t1)
        self.setup_s = statistics.median(b + w for b, w in zip(builds, warms))
        self.layers["session.launch_s"] = (builds[0], "s")
        self.layers["session.build_s"] = (statistics.median(builds), "s")
        self.layers["session.warmup_s"] = (statistics.median(warms), "s")
        return spark

    def keep_going(self, t_start: float, done: int) -> bool:
        if self.attempted >= MAX_OPS:
            return False
        if done < MIN_ROUNDS[self.args.workload]:
            return True
        return time.perf_counter() - t_start < self.args.seconds

    # -------------------------------------------------------- extract ---

    def extract(self) -> dict:
        import inputs
        from checks import check_extract
        from table_ocr_spark.plans.pipeline import run_extract

        inp, n_in = inputs.extract_table(self.cache, self.seed)
        warm = inputs.warm_table(self.cache, self.seed)
        if self.args.trace:
            import pandas as pd

            texts = pd.read_parquet(inp, columns=["text"])["text"]
            self.kernel_texts = list(texts.sample(KERNEL_SAMPLE, random_state=self.seed))
        spark = self.setup(warm)
        if self.args.trace:
            from tracing import clear_udf_profiles

            clear_udf_profiles(spark)
        self.rss = PeakRss()
        self.rss.start()
        walls = []
        t_start = time.perf_counter()
        while self.keep_going(t_start, len(walls)):
            out = str(self.work / f"out{self.attempted}")
            wall = self.op(
                "extract",
                lambda: run_extract(
                    spark, inp, out, n_buckets=EXTRACT_BUCKETS, commit_groups=EXTRACT_GROUPS
                ),
                lambda: check_extract(inp, out, n_in, self.seed),
            )
            shutil.rmtree(out, ignore_errors=True)
            if wall is not None:
                walls.append(wall)
        if self.args.trace:
            from tracing import udf_function_s

            fn_s = udf_function_s(spark) / max(1, len(walls))
            self.layers["extract_job.udf_function_s"] = (fn_s, "s")
        self.layers["forget.p50_s"] = (0.0, "s")
        return self.finish(n_in * len(walls), walls)

    # ------------------------------------------------------ increment ---

    def increment(self) -> dict:
        import inputs
        import jobs.curate as curate
        import jobs.forget as forget
        import table_ocr_spark.session as session
        from checks import check_increment, newest_summary_value
        from table_ocr_spark.sources.catalog import TRANSCRIPT_SCHEMA
        from table_ocr_spark.sources.snapshots import SnapshotTable

        m = inputs.increment_inputs(self.cache, self.seed)
        warm = inputs.warm_table(self.cache, self.seed)
        if self.args.trace:
            import pandas as pd

            texts = pd.concat(
                [pd.read_parquet(p, columns=["text"]) for p in [m["history"], *m["steps"]]]
            )["text"]
            self.kernel_texts = list(
                texts.sample(min(KERNEL_SAMPLE, len(texts)), random_state=self.seed)
            )
        in_root, out_root = str(self.work / "in"), str(self.work / "curated")
        in_table = SnapshotTable(in_root)
        cores = str(_cores())
        curate_args = [
            "--input", in_root, "--output", out_root, "--input-snapshot",
            "--incremental", "--snapshot", *CURATE_FLAGS, "--cores", cores,
        ]

        def append(spark, path):
            in_table.append(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path))

        spark = self.setup(warm)
        # the history load and its curated output exist before timing starts
        with self.tracer.span("history"), contextlib.redirect_stdout(sys.stderr):
            append(spark, m["history"])
            curate.main(curate_args)
        prev = newest_summary_value(os.path.join(out_root, "table"), "input_seq_processed")
        forgotten: set = set()
        self.rss = PeakRss()
        self.rss.start()
        steps, forgets = [], []
        t_start = time.perf_counter()
        for s, path in enumerate(m["steps"]):
            if not self.keep_going(t_start, len(steps)):
                break
            spark = session.build_session(app_name="perfbench", cores=_cores())
            append(spark, path)
            want = in_table.current_seq()
            wall = self.op(
                "curate",
                lambda: curate.main(curate_args),
                lambda: check_increment(out_root, forgotten, want, prev),
            )
            prev = want
            if wall is not None:
                steps.append((wall, m["step_rows"][s]))
            if (s + 1) % inputs.FORGET_EVERY == 0:
                ids = m["forget"][s // inputs.FORGET_EVERY]
                forgotten |= set(ids)
                wall = self.op(
                    "forget",
                    lambda: forget.main(["--table", out_root, "--conv-ids", ",".join(ids),
                                         "--cores", cores]),
                    lambda: check_increment(out_root, forgotten, None, None),
                )
                if wall is not None:
                    forgets.append(wall)
        if self.args.trace:
            import checks

            seq, files = checks.live_files(os.path.join(out_root, "table"))
            meta = os.path.join(out_root, "table", "_meta", "snap-%08d.json" % seq)
            self.layers["snapshots.manifest_bytes"] = (os.path.getsize(meta), "B")
            self.layers["snapshots.live_files"] = (len(files), "count")
        self.layers["forget.p50_s"] = (statistics.median(forgets) if forgets else 0.0, "s")
        return self.finish(sum(n for _, n in steps), [w for w, _ in steps])

    # ---------------------------------------------------------- result ---

    def finish(self, turns: int, walls: list) -> dict:
        """End-to-end metrics, or with --trace 1 the per-layer ones."""
        peak_mb = self.rss.stop()
        tps = turns / sum(walls) if walls else 0.0
        if not self.args.trace:
            return {
                "setup_s": (self.setup_s, "s"),
                "turns_per_s": (tps, "1/s"),
                "step_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
                "peak_rss_mb": (peak_mb, "MB"),
            }
        from tracing import kernel_leg, layer_metrics, parse_event_logs

        _shutdown_jvm()
        stages, jobs = parse_event_logs(str(self.work / "evlog"))
        out = {
            "extract_job.udf_function_s": (0.0, "s"),
            "snapshots.manifest_bytes": (0, "B"),
            "snapshots.live_files": (0, "count"),
            **self.layers,
            **layer_metrics(self.tracer, stages, jobs, "op.", len(walls)),
        }
        fn_s = out["extract_job.udf_function_s"][0]
        # boundary = stage time not spent inside the UDF function; only
        # defined where the profiler reported the function
        out["extract_job.boundary_s"] = (
            max(0.0, out["extract_job.udf_stage_s"][0] - fn_s) if fn_s else 0.0, "s")
        out.update(kernel_leg(self.kernel_texts))
        out["traced.turns_per_s"] = (tps, "1/s")
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "increment"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "table_ocr_spark").is_dir() or not (ROOT / "jobs").is_dir():
        print(f"perfbench: no table_ocr_spark/ and jobs/ under {ROOT}", file=sys.stderr)
        return 2

    run = Run(args)
    shutil.rmtree(run.work, ignore_errors=True)
    _env(run.work, bool(args.trace))
    if args.trace:
        from tracing import Tracer, install_wrappers

        run.tracer = Tracer()
        install_wrappers(run.tracer)
    try:
        metrics = getattr(run, args.workload)()
    finally:
        _shutdown_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
