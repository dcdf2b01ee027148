"""Thin catalog abstraction — Iceberg-shaped surface over plain parquet.

The production design reads/writes Iceberg tables
(``spark.read.table("cat.db.transcripts")`` with a ``bucket(N, conv_id)``
partition spec, SURVEY.md §2.1/§4.1); this sandbox has no Iceberg runtime
jar, so the same API is implemented over a parquet layout with an identical
partition spec plus a lineage/manifest sidecar (SURVEY.md §7 hard-point 3:
keep the catalog thin so both backends pass the same resume test).

Layout of an extraction table at ``root``:

    root/data/config=<hash>/bucket=<k>/part-*.parquet
    root/_lineage/*.parquet                 -- commit manifest (FIXTURES.md §4)

The physical layout is partitioned by config FIRST: lineage rows are keyed
by config_hash, so two configs sharing one directory would let a resume
under config A skip buckets whose bytes were overwritten by config B —
silently wrong output.  Separate config partitions make every
(config_hash, bucket) lineage row point at bytes that config actually
wrote (the Iceberg analog: one table per config spec, or a config column
in the partition spec).

The reference analog of the config/lineage sidecar is the SQLite config
store (ttocr/api/database.py:26-65) + per-run mlflow artifact trail
(main.py:200-256).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.session import local_frame

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("config_hash", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("turns", T.LongType()),
        T.StructField("boilerplate_ratio_avg", T.DoubleType()),
        T.StructField("cell_count", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)


def write_transcripts_parquet(pdf, path: str, n_files: int = 8) -> None:
    """Persist a synthesized pandas transcript frame as a parquet table.

    Rows are written in shuffled order on purpose — correctness must never
    depend on physical order (FIXTURES.md §1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    if "ts" in shuffled.columns:
        # Spark rejects TIMESTAMP(NANOS) parquet — write microseconds
        shuffled["ts"] = shuffled["ts"].astype("datetime64[us, UTC]")
    table = pa.Table.from_pandas(shuffled, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    n = max(1, len(shuffled) // n_files + 1)
    for i in range(0, len(shuffled), n):
        pq.write_table(table.slice(i, n), f"{path}/part-{i//n:05d}.parquet")


def load_transcripts(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Transcript scan with an explicit (never inferred) schema.

    ``parquet`` is the table format; ``jsonl`` reads one JSON object per
    line — the interchange format conversation dumps actually arrive in —
    with ``ts`` parsed from ISO-8601 strings.  Explicit schema matters
    doubly for JSON: schema inference would cost a full extra pass over
    100 TB and can silently widen types between drops."""
    if fmt == "parquet":
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
    if fmt in ("jsonl", "json"):
        # FAILFAST: default PERMISSIVE silently turns malformed lines into
        # all-NULL rows (read-path nullability is not enforced), which
        # would feed NULL conv_id rows downstream with no signal — the
        # same silent-corruption class the explicit schema guards against
        return (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("mode", "FAILFAST")
            .json(path)
        )
    raise ValueError(f"unsupported transcript format {fmt!r} (parquet|jsonl)")


def write_transcripts_jsonl(pdf, path: str, n_files: int = 4) -> None:
    """Test/fixture writer for the JSONL interchange shape (one object per
    line, ISO-8601 ts) — shuffled like the parquet writer."""
    import os as _os

    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    _os.makedirs(path, exist_ok=True)
    n = max(1, len(shuffled) // n_files + 1)
    for i in range(0, len(shuffled), n):
        chunk = shuffled.iloc[i : i + n].copy()
        if "ts" in chunk.columns:
            chunk["ts"] = chunk["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f%z")
        chunk.to_json(
            f"{path}/part-{i//n:05d}.jsonl", orient="records", lines=True, force_ascii=False
        )


class ExtractionTable:
    """Output table handle: data + lineage manifest + run-config sidecar."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.lineage_dir = os.path.join(root, "_lineage")
        self.config_dir = os.path.join(root, "_config")

    def config_data_dir(self, config_hash: str) -> str:
        return os.path.join(self.data_dir, f"config={config_hash}")

    def read(self, spark: SparkSession, config_hash: Optional[str] = None) -> DataFrame:
        """Read extraction output.  With ``config_hash``, prunes to that
        config's partition directory (partition-pruned scan, not a filter
        over foreign configs' bytes); without, returns all configs with the
        ``config`` partition column attached."""
        df = spark.read.option("basePath", self.data_dir).parquet(self.data_dir)
        if config_hash is not None:
            df = df.filter(F.col("config") == config_hash)
        return df

    def read_lineage(self, spark: SparkSession) -> Optional[DataFrame]:
        if not os.path.isdir(self.lineage_dir) or not any(
            f.endswith(".parquet") for f in os.listdir(self.lineage_dir)
        ):
            return None
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_dir)

    def committed_buckets(self, spark: SparkSession, config_hash: str) -> set:
        lin = self.read_lineage(spark)
        if lin is None:
            return set()
        rows = (
            lin.filter((F.col("config_hash") == config_hash) & (F.col("status") == "committed"))
            .select("bucket")
            .distinct()
            .collect()
        )
        return {r.bucket for r in rows}

    # one small parquet file lands per commit; past this many the dir is
    # folded into one file so lineage never becomes an unbounded
    # small-file crawl (the snapshot log has compaction; this is the
    # bucket-lineage analog)
    LINEAGE_COMPACT_THRESHOLD = 64

    def append_lineage(self, spark: SparkSession, rows: list) -> None:
        df = local_frame(spark, rows, LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.lineage_dir)
        self._maybe_compact_lineage(spark)

    def _maybe_compact_lineage(self, spark: SparkSession, max_files: int | None = None) -> None:
        """Fold the lineage dir into one parquet file once it exceeds
        ``max_files`` small files.  Crash-safe under the table's
        single-writer contract: the compacted file is MOVED in before
        the old files are removed, so a crash in between leaves exact
        duplicate rows — removed by the ``distinct()`` here on the next
        compaction, and harmless to ``committed_buckets`` (a distinct
        set) in the meantime."""
        import shutil
        import uuid

        limit = max_files or self.LINEAGE_COMPACT_THRESHOLD
        try:
            files = sorted(
                f for f in os.listdir(self.lineage_dir) if f.endswith(".parquet")
            )
        except FileNotFoundError:
            return
        if len(files) <= limit:
            return
        old_paths = [os.path.join(self.lineage_dir, f) for f in files]
        tmp = self.lineage_dir + ".compact"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            spark.read.schema(LINEAGE_SCHEMA)
            .parquet(*old_paths)
            .distinct()
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.move(
                    os.path.join(tmp, f),
                    os.path.join(
                        self.lineage_dir, f"compacted-{uuid.uuid4().hex}.parquet"
                    ),
                )
        for p in old_paths:
            os.remove(p)
        shutil.rmtree(tmp, ignore_errors=True)

    def write_config(self, cfg_json: str, config_hash: str) -> None:
        os.makedirs(self.config_dir, exist_ok=True)
        with open(os.path.join(self.config_dir, f"{config_hash}.json"), "w") as f:
            f.write(cfg_json)
