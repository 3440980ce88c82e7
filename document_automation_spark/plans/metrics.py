"""Observation-based counter metrics (replaces the reference's stage-time
prints at /root/reference/src/gen-sods-doc-image-ray.py:230-231 and writer
counters at :165 with Spark-native ``Observation`` aggregates — collected
by the driver WITHOUT a second pass over the data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.sql.types import StructType


def observe_extraction(docs: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach row/error/passage counters to the extraction output plan.

    After an action runs on the returned DataFrame, ``observation.get``
    yields the counters (zero extra jobs)."""
    observation = Observation("extraction_metrics")
    observed = docs.observe(
        observation,
        F.count(F.lit(1)).alias("rows_total"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
        # DISTINCT is not allowed in observed metrics; passage_idx==0 occurs
        # exactly once per successfully extracted url, error rows once per
        # failed url — their sum counts urls without a distinct.
        F.sum(
            F.when((F.col("passage_idx") == 0) | F.col("error").isNotNull(), 1).otherwise(0)
        ).alias("urls_seen"),
        F.sum(F.when(F.col("passage_idx") == 0, F.col("n_passages")).otherwise(0)).alias(
            "passages_total"
        ),
    )
    return observed, observation


def one_row(spark: SparkSession, ddl: str, values: dict) -> DataFrame:
    """A 1-row, 1-partition frame of driver-side values (counters, a
    config row), typed by ``ddl`` and built in the JVM.  ``createDataFrame
    (list)`` goes through ``sc.parallelize`` instead, and every job over it
    pays a Python-worker task per partition (0.2-0.35 s per job on
    local[4]) to move a single row.

    Each value is a ``max`` over a one-row ``range``: a bare literal would
    be a NOT NULL column and the parquet files written from it would
    differ from the DDL frame's all-nullable schema; the aggregate is
    nullable, needs no exchange over one partition, and reads as the
    value itself."""
    return spark.range(0, 1, 1, 1).agg(
        *[
            F.max(F.lit(values[f.name]).cast(f.dataType)).alias(f.name)
            for f in StructType.fromDDL(ddl).fields
        ]
    )
