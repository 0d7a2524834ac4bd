"""Per-stage / per-partition lineage + metrics — the resumability ledger.

The north rule requires the pipeline to be "resumable from checkpoint with
per-partition lineage + metrics written alongside each stage". The reference
has no equivalent (single-process, in-memory); this module is Spark-native
bookkeeping:

- ``partition_stats``: one row per Spark partition of a stage's output
  (stage, partition_id, rows) computed with ``spark_partition_id()`` — a
  cheap narrow aggregation, no extra shuffle.
- ``LineageLog``: accumulates stage/iteration metric rows (CC iterations
  append here too) and flushes them to parquet next to the checkpoints.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nama_spark.session import local_frame


def partition_stats(df: DataFrame, stage: str) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    return [
        {
            "stage": stage,
            "iteration": None,
            "partition_id": int(r["partition_id"]),
            "rows": int(r["rows"]),
            "metric": "partition_rows",
            "value": float(r["rows"]),
        }
        for r in rows
    ]


class LineageLog:
    """Accumulates lineage rows; flush() writes/appends parquet."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        self.rows: list[dict] = []

    def add(self, stage: str, metric: str, value: float, iteration: int | None = None,
            partition_id: int | None = None, rows: int | None = None,
            checkpoint: str | None = None) -> None:
        self.rows.append(
            {
                "stage": stage,
                "iteration": iteration,
                "partition_id": partition_id,
                "rows": rows,
                "metric": metric,
                "value": float(value),
                "checkpoint": checkpoint,
            }
        )

    def extend(self, dicts: list[dict]) -> None:
        self.rows.extend(dicts)

    def add_partition_stats(self, df: DataFrame, stage: str) -> None:
        self.extend(partition_stats(df, stage))

    def to_df(self) -> DataFrame:
        from nama_spark.schema import LINEAGE_SCHEMA

        now = _dt.datetime.now(_dt.timezone.utc)
        data = [
            (
                r["stage"],
                r.get("iteration"),
                r.get("partition_id"),
                r.get("rows"),
                r.get("metric"),
                r.get("value"),
                now,
                r.get("checkpoint"),
            )
            for r in self.rows
        ]
        return local_frame(self.spark, data, LINEAGE_SCHEMA)

    def flush(self) -> None:
        if self.path and self.rows:
            self.to_df().write.mode("append").parquet(
                os.path.join(self.path, "lineage.parquet")
            )
            self.rows = []
