"""Checkpoint / resume with per-partition lineage + metrics tables.

North-rule requirement: runs are resumable from a snapshot with per-partition
lineage.  Implemented storage-agnostically over any atomic-append table sink
(Iceberg `writeTo(...).append()` in production; partitioned parquet
directories here, which the driver environment supports):

- `_lineage`  : one row per (run_id, partition_key, check) that COMPLETED.
- `_metrics`  : per-run counters and timings.
- resume      : the `sr_drift` partition keys in `_lineage` of prior runs go
  to `run_validation(completed_drift_partitions=...)`, which anti-joins them
  away before scoring — only unfinished partitions are re-validated
  (SURVEY.md §4, checkpoint/resume paragraph).
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("check", T.StringType(), False),
        T.StructField("passed", T.BooleanType(), True),
        T.StructField("completed_at", T.DoubleType(), True),
    ]
)


class CheckpointStore:
    """Parquet-directory-backed lineage/metrics store with append-only writes."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.lineage_path = os.path.join(root, "_lineage")
        self.metrics_path = os.path.join(root, "_metrics")

    def record(self, run_id: str, verdicts: DataFrame) -> None:
        """Append completed partition verdicts to the lineage table."""
        rows = verdicts.select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_key"),
            F.col("check"),
            F.col("passed"),
            F.lit(time.time()).alias("completed_at"),
        )
        rows.write.mode("append").parquet(self.lineage_path)

    def record_metrics(self, run_id: str, metrics: dict) -> None:
        pdf = [(run_id, k, float(v)) for k, v in metrics.items()]
        self.spark.createDataFrame(pdf, "run_id string, metric string, value double") \
            .write.mode("append").parquet(self.metrics_path)

    def lineage(self) -> DataFrame:
        """Completed (run_id, partition_key, check) rows of prior runs.

        Only a missing ``_lineage`` path means "nothing completed yet"; any
        other read error (a corrupt file, a permission or storage failure)
        is raised, so resume never silently re-runs everything.
        """
        try:
            return self.spark.read.parquet(self.lineage_path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
