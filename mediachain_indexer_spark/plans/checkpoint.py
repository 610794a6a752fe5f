"""Checkpoint / lineage / resume (BASELINE.json north_star: "every stage
writes per-partition lineage + metrics ... so any run resumes at block,
score, or cluster granularity").

The reference has no resumability — its batch dedupe is a single Python
process that restarts from zero (``mediachain/indexer/mc_dedupe.py``).  Here
every stage output is a checkpoint table (parquet in the sandbox, Iceberg
append + snapshot-id lineage in prod) plus a lineage row per *output
partition* recording key range, row count, wall time and status.  A re-run
with the same ``run_id`` reads completed stages back instead of recomputing
— verified by the resume tests (tests/test_checkpoint.py).

Lineage schema (FIXTURES.md B4):
    run_id, stage, partition_id, key_lo, key_hi, rows_in, rows_out,
    wall_ms, status
(``rows_in`` is written null: a stage's build function does not report it.)
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("key_lo", T.StringType()),
        T.StructField("key_hi", T.StringType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)


class StageRunner:
    """Runs named stages with checkpoint-or-resume semantics.

    ``run(stage, fn, key_col=...)``: if the stage's success marker exists
    under this run_id, the materialized output is read back (zero
    recomputation); otherwise ``fn()`` is computed, written, and a lineage
    row per output partition is appended.
    """

    def __init__(self, spark: SparkSession, run_dir: str, run_id: str):
        self.spark = spark
        self.run_dir = run_dir
        self.run_id = run_id
        self.base = os.path.join(run_dir, run_id)
        os.makedirs(self.base, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.base, f"stage={stage}")

    def _marker(self, stage: str) -> str:
        return os.path.join(self.base, f"_SUCCESS_{stage}")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.base, "lineage")

    # -- api ---------------------------------------------------------------
    def completed(self, stage: str) -> bool:
        return os.path.exists(self._marker(stage))

    def run(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        key_col: str | None = None,
    ) -> DataFrame:
        path = self._stage_path(stage)
        if self.completed(stage):
            return self.spark.read.parquet(path)

        t0 = time.monotonic()
        df = fn()
        df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)

        out = self.spark.read.parquet(path)
        key = F.col(key_col).cast("string") if key_col else F.lit(None).cast("string")
        lineage = out.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.min(key).alias("key_lo"),
            F.max(key).alias("key_hi"),
            F.count("*").alias("rows_out"),
        ).select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("partition_id"),
            F.col("key_lo"),
            F.col("key_hi"),
            F.lit(None).cast("long").alias("rows_in"),
            F.col("rows_out").cast("long"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit("ok").alias("status"),
        )
        lineage.write.mode("append").parquet(self.lineage_path)
        with open(self._marker(stage), "w") as f:
            f.write("ok\n")
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)

    def stage_metrics(self) -> DataFrame:
        """Per-stage rollup of the per-partition lineage (rollup operator)."""
        return (
            self.lineage()
            .rollup("stage")
            .agg(
                F.sum("rows_out").alias("rows_out"),
                F.max("wall_ms").alias("wall_ms"),
                F.count("*").alias("n_partitions"),
            )
        )
