"""G7: per-partition lineage + checkpoint tables enabling resume
[BASELINE.json:14 'resumable from checkpoint with per-partition lineage +
metrics'].

Model: a staged pipeline writes each stage's output as Parquet partitioned
by a deterministic partition key (cell prefix for spatial tables, hash
bucket otherwise).  Alongside the data, a lineage table records one row
per (stage, part_id) with row count, checksum, wall time and completion
timestamp.  A resumed run anti-joins the stage input against the
completed lineage rows and writes only the remainder — partitions are
idempotent units, so a crash mid-stage never corrupts completed work.

Each stage is one observed write: the write's Observation reports which
partitions it committed, and their lineage rows are computed by reading
just those partitions back.  A lineage row therefore describes committed
data, and exists only once that data has been committed.  The lineage
table is tiny (one row per partition) and broadcast into the anti-join;
the data write uses dynamic partition overwrite, so re-running a
partition replaces it and leaves every other partition as it is.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

LINEAGE_SCHEMA = "stage string, part_id bigint, rows bigint, checksum bigint, wall_ms bigint, done_ts double"


def partition_key(col: str = "cell9", buckets: int = 64) -> F.Column:
    """Deterministic partition id: coarse cell prefix folded into a bounded
    bucket count (uniform for hash keys, locality-preserving for cells)."""
    return F.pmod(F.col(col), F.lit(buckets)).alias("part_id")


def lineage_path(base: str) -> str:
    return os.path.join(base, "_lineage")


def read_lineage(spark: SparkSession, base: str, stage: str) -> DataFrame:
    p = lineage_path(base)
    try:
        df = spark.read.schema(LINEAGE_SCHEMA).parquet(p)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return df.filter(F.col("stage") == stage)


def checksum_expr(cols: list[str]) -> F.Column:
    """Order-insensitive content checksum: sum of per-row hashes folded to
    2^31 so the int64 sum cannot overflow below ~4e9 rows per partition —
    partition-order independent, so identical across parallelism levels."""
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(2 ** 31))).alias("checksum")


def run_stage_with_resume(spark: SparkSession, base: str, stage: str,
                          df: DataFrame, part_col: F.Column,
                          value_cols: list[str]) -> DataFrame:
    """Write ``df`` partitioned by part_id under base/stage, skipping
    partitions already recorded in the lineage table; returns the full
    stage output (completed + newly written) read back from disk.

    Pattern: pending = stage input ANTI JOIN done part ids, written once
    (dynamic partition overwrite) under an Observation of its row count
    and part ids.  The lineage rows of the observed parts are read back
    from what the write committed; a write that committed nothing appends
    none."""
    data_path = os.path.join(base, stage)
    done = read_lineage(spark, base, stage).select("part_id")
    pending = (df.withColumn("part_id", part_col)
               .join(F.broadcast(done), "part_id", "left_anti"))
    obs = Observation()
    t0 = time.perf_counter()
    (pending.observe(obs, F.count(F.lit(1)).alias("n"), F.collect_set("part_id").alias("parts"))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("part_id").parquet(data_path))
    # wall of the whole stage write: a distributed write overlaps
    # partitions across executors, so a per-partition wall is not a
    # well-defined quantity — rows and checksum ARE per-partition
    wall_ms = int((time.perf_counter() - t0) * 1000)
    out = spark.read.parquet(data_path)
    written = obs.get
    if written["n"]:
        # partition discovery reads part_id back as int; lineage keeps bigint
        (out.filter(F.col("part_id").isin(written["parts"]))
         .groupBy("part_id")
         .agg(F.count("*").alias("rows"), checksum_expr(value_cols))
         .select(F.lit(stage).alias("stage"), F.col("part_id").cast("bigint"), "rows",
                 "checksum", F.lit(wall_ms).alias("wall_ms"), F.lit(time.time()).alias("done_ts"))
         .write.mode("append").parquet(lineage_path(base)))
    return out


def stage_metrics(spark: SparkSession, base: str) -> DataFrame:
    """The lineage/metrics record for all stages under ``base``."""
    return spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path(base))
