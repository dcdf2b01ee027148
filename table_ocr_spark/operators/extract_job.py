"""The distributed extraction operator — an Arrow-batch pandas UDF around
the pure kernel ``extract_payload``.

This stage is the Spark re-expression of the reference's whole
``_predict`` pipeline (main.py:26-183): preprocessing (§2.2), structure
detection (§2.3), cell extraction + recognition (§2.4) fused into ONE
projection.  Physically it compiles to a single ``ArrowEvalPython`` /
``mapInPandas`` stage: no shuffle — per-turn extraction is embarrassingly
parallel — and the JVM↔Python boundary is crossed once per Arrow batch
(bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``), not once per
cell like the reference's per-cell tesseract subprocess (detectors.py:849
inside the loop at detectors.py:1064-1082, the anti-pattern this design
eliminates).

Scale notes (100 TB / 10^12 turns):
* extraction itself never shuffles; the only exchanges in the full job are
  the explicit load-balancing repartition (``skew.salted_repartition``,
  straggler conversations only) and the composite-key turn_seq ordering
  join (plans/pipeline.py) — lineage metrics ride the write via observe();
* column pruning: only (conv_id, turn_idx, text) feed the UDF — Catalyst
  prunes role/tool/ts at the parquet scan when callers don't select them;
* output is cell-span-heavy but bounded: per-row output size is O(len(text)).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.config import DEFAULT_CONFIG, ExtractorConfig
from table_ocr_spark.functions.extract import extract_payload

SPAN_TYPE = T.StructType(
    [
        T.StructField("row", T.IntegerType()),
        T.StructField("col", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        # per-cell recognizer confidence — the hOCR x_wconf analog
        # (reference golden sample/proc/02.hocr carries bbox + x_wconf)
        T.StructField("conf", T.DoubleType()),
    ]
)

EXTRACT_TYPE = T.StructType(
    [
        T.StructField("clean_text", T.StringType()),
        T.StructField("cells", T.ArrayType(T.ArrayType(T.StringType()))),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
        T.StructField("mode", T.StringType()),
        T.StructField("boilerplate_ratio", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("clean_text", T.StringType()),
        T.StructField("cells", T.ArrayType(T.ArrayType(T.StringType()))),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
        T.StructField("mode", T.StringType()),
        T.StructField("boilerplate_ratio", T.DoubleType()),
    ]
)


def make_extract_udf(cfg: ExtractorConfig = DEFAULT_CONFIG):
    """Build the extraction pandas UDF closed over a frozen config.

    The config is captured in the closure and shipped once per task via
    the serialized UDF (the broadcast-dataclass pattern — ≈ the reference's
    ``Payload`` knobs reaching every stage, api/models.py:31-67).
    """

    @F.pandas_udf(EXTRACT_TYPE)
    def extract_udf(texts: pd.Series) -> pd.DataFrame:
        out = {"clean_text": [], "cells": [], "spans": [], "mode": [], "boilerplate_ratio": []}
        for raw in texts:
            r = extract_payload(raw, cfg)
            out["clean_text"].append(r.clean_text)
            out["cells"].append(r.cells)
            # kernel span tuples are in SPAN_TYPE field order; Arrow
            # converts tuples to structs positionally, so the per-span
            # dict build the old code paid here is pure overhead
            out["spans"].append(r.spans)
            out["mode"].append(r.mode)
            out["boilerplate_ratio"].append(r.boilerplate_ratio)
        return pd.DataFrame(out)

    return extract_udf


def with_extraction(df: DataFrame, cfg: ExtractorConfig = DEFAULT_CONFIG) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, …) → extraction output
    (FIXTURES.md §2 schema). A pure projection — zero shuffles."""
    udf = make_extract_udf(cfg)
    ex = df.withColumn("_ex", udf(F.col("text")))
    return ex.select(
        "conv_id",
        "turn_idx",
        F.col("_ex.clean_text").alias("clean_text"),
        F.col("_ex.cells").alias("cells"),
        F.col("_ex.spans").alias("spans"),
        F.col("_ex.mode").alias("mode"),
        F.col("_ex.boilerplate_ratio").alias("boilerplate_ratio"),
    )


def bucket_expr(n_buckets: int, col: str = "conv_id") -> Column:
    """Deterministic bucket id ≈ Iceberg ``bucket(N, conv_id)`` partition
    transform: stable across runs, used for partition layout, lineage
    granularity, and resume filtering."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")
