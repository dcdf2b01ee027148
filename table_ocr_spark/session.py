"""SparkSession construction with the engine's scale-oriented defaults.

Local-mode knobs mirror what a 1000-executor cluster submit would set via
spark-submit conf (SURVEY.md §3.4): AQE on (runtime re-plan + partition
coalescing + skew handling for the relational fringe), Arrow batches bounded
so multi-MB ``text`` payloads can't blow executor memory
(SURVEY.md §4.1 spill row), sane shuffle parallelism.

Python-worker lifecycle: a Python worker is forked once per session and
reused, never once per job call.  Driver-built frames go through
:func:`local_frame` (an Arrow local relation, no Python worker at all);
a job run inside a live session borrows it through :func:`job_session`
instead of stopping it; and the idle-worker pool is capped at the
task-slot count, so a session that has run several pandas-UDF stages
keeps one warm worker per slot rather than one per stage.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def build_session(
    app_name: str = "table_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 8000,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: memory is bounded by BYTES (the direct knob,
        # Spark 4's maxBytesPerBatch — tightened from the 64m default), so
        # multi-MB text payloads can't blow worker memory no matter the
        # row count; the record cap is then free to rise for small rows,
        # where fewer/larger batches amortize the JVM↔Python crossing
        # (measured r7: flagship 1.86 → 1.77 s at 8000 records; the old
        # 2000-row cap was the binding constraint for the common small-row
        # case and redundant protection for the big-row case)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # drop reliable-checkpoint files once their RDDs are GC'd
        # (iterative ops — near_dup_components — checkpoint per round)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # at most one idle Python worker per task slot: without a cap each
        # pandas-UDF stage of a long-lived session can leave its own set
        # of idle workers behind, each holding a full interpreter
        .config("spark.python.factory.idleWorkerMaxPoolSize", str(cores))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Reliable checkpoint store for iterative algorithms: on a cluster this
    # is an HDFS/object-store path (spark-submit sets it); locally /tmp.
    # Without one, loops fall back to localCheckpoint — executor-block-
    # manager storage that cannot survive executor loss at cluster scale.
    try:
        has_dir = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    except Exception:  # pragma: no cover - py4j surface change
        has_dir = True
    if not has_dir:
        spark.sparkContext.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CKPT_DIR", "/tmp/spark_graft_ckpt")
        )
    return spark


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-side Python rows as a frame: tuples (in schema order), dicts
    (keyed by field name; a missing key is NULL, an unknown key raises) or
    an empty list.

    The rows become one ``pyarrow.Table`` and reach the JVM as an Arrow
    local relation, which plans ``LocalTableScan``.  ``createDataFrame``
    on a Python list instead plans ``Scan ExistingRDD`` over a pickled
    RDD, so every action on it starts a plain Python worker: writing 8
    lineage rows took 0.8 s that way against 0.13 s from here (warm
    local[4] session, 4 vCPUs)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    if rows and isinstance(rows[0], dict):
        unknown = {k for r in rows for k in r} - set(names)
        if unknown:
            raise ValueError(f"row keys not in the schema: {sorted(unknown)}")
        rows = [tuple(r.get(n) for n in names) for r in rows]
    columns = list(zip(*rows)) if rows else [()] * len(names)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


_job_frames: list = []  # one list per running job_session: frames it persisted


def persist(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """``df.persist(level)``, recorded so that the enclosing
    :func:`job_session`, if it borrowed its session, unpersists the frame
    when the job ends."""
    if _job_frames:
        _job_frames[-1].append(df)
    return df.persist(level)


@contextmanager
def job_session(app_name: str, cores: int | None = None) -> Iterator[SparkSession]:
    """The session a job runs in.

    Run outside any Spark context, the job owns the session it builds and
    stops it on exit.  Run inside a live one (a notebook, a test, a
    driver that calls several jobs), the job borrows that session: it
    stays up, with its Python workers warm, and every frame the job
    persisted through :func:`persist` is unpersisted on exit, on success
    and on error.  ``build_session`` is looked up on this module at call
    time, so a patched ``table_ocr_spark.session.build_session`` is used."""
    from pyspark import SparkContext

    borrowed = SparkContext._active_spark_context is not None
    spark = build_session(app_name=app_name, cores=cores)
    _job_frames.append([])
    try:
        yield spark
    finally:
        frames = _job_frames.pop()
        if not borrowed:
            spark.stop()
        else:
            for df in frames:
                df.unpersist()


def python_worker_budget(spark: SparkSession) -> int | None:
    """Always None (no cap); kept because the frozen ``bench.py`` imports it."""
    return None
