"""EP3 — historical backfill (reference parallel_process_old_missing_snapshots.py).

The reference: SQL scan of pending ids newest-first → fold into
consecutive-minute runs → chunk to ≤60 ids → multiprocessing pool of 4
workers, each walking its range with per-snapshot retry.

Spark-first: the run folding and chunking are window functions over the
control table (W3/W4 — the same islands pattern the reference hand-rolls),
and the worker pool dissolves into multi-file reads: each batch is ONE job
whose per-file tasks spread across all executors (X1 → native parallelism).
Retry survives as a thin driver wrapper (T6) because whole-batch failure
modes (bad storage day, transient FS) are driver-visible, while per-task
retry is already Spark's spark.task.maxFailures.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import control
from .functions import snapshot_id_to_ts, ts_to_snapshot_id
from .pipeline import process_snapshots_bulk
from .sources.tables import Warehouse

DEFAULT_BATCH_MINUTES = 60  # reference cli.py:52
RETRY_ATTEMPTS = 5  # reference process_snapshot.py:352
RETRY_SLEEP_RANGE = (3, 7)  # reference process_snapshot.py:377


def plan_batches(
    wh: Warehouse, batch_minutes: int = DEFAULT_BATCH_MINUTES
) -> DataFrame:
    """Pending ids → (batch_id, from_snapshot_id, to_snapshot_id, n).

    W3 islands: a new run starts where the minute delta to the previous
    pending id ≠ 1 minute; W4: runs longer than ``batch_minutes`` split into
    fixed chunks.  Mirrors the reference's fold + split
    (parallel_...py:42-88) as two window passes.
    """
    pending = (
        wh.read("siri_snapshot")
        .filter(F.col("etl_status") == control.ETL_PENDING)
        .select("snapshot_id", snapshot_id_to_ts("snapshot_id").alias("ts"))
    )
    # Global (unpartitioned) window — deliberate: runs span the whole
    # timeline, so there is no partition key, and the input is one row per
    # pending MINUTE (525k rows/year even with everything pending), a
    # planner-sized set that one task sorts trivially.  Event-scale
    # sessionization must partition (see catalog gap_sessionization).
    w = Window.orderBy("ts")
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = pending.withColumn(
        "is_new_run",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) != 60),
            1,
        ).otherwise(0),
    ).withColumn("run_id", F.sum("is_new_run").over(run_w))
    chunk_w = Window.partitionBy("run_id").orderBy("ts")
    chunked = flagged.withColumn(
        "chunk",
        F.floor((F.row_number().over(chunk_w) - 1) / batch_minutes),
    )
    return (
        chunked.groupBy("run_id", "chunk")
        .agg(
            F.min("ts").alias("from_ts"),
            F.max("ts").alias("to_ts"),
            F.count(F.lit(1)).alias("n"),
            F.collect_list("snapshot_id").alias("snapshot_ids"),
        )
        .select(
            F.concat_ws("/", "run_id", "chunk").alias("batch_id"),
            ts_to_snapshot_id("from_ts").alias("from_snapshot_id"),
            ts_to_snapshot_id("to_ts").alias("to_snapshot_id"),
            "n",
            "snapshot_ids",
        )
        .orderBy(F.col("to_snapshot_id").desc())  # newest-first, like the reference
    )


def run_backfill(
    spark: SparkSession,
    wh: Warehouse,
    landing_root: str,
    batch_minutes: int = DEFAULT_BATCH_MINUTES,
    retry_attempts: int = RETRY_ATTEMPTS,
    sleep_range: tuple[int, int] = RETRY_SLEEP_RANGE,
) -> dict:
    """Drain all pending snapshots batch by batch with retry.

    Returns {"processed": n, "failed": n, "batches": n}: an id that ends
    ``error`` on its own (a corrupt document, a landed file that is gone)
    counts as failed, the rest of its batch as processed.
    """
    batches = plan_batches(wh, batch_minutes).collect()
    processed = failed = 0
    for b in batches:
        ids = sorted(b["snapshot_ids"], reverse=True)
        for attempt in range(retry_attempts):
            try:
                loaded = process_snapshots_bulk(spark, wh, ids, landing_root)
                processed += len(loaded)
                failed += len(ids) - len(loaded)
                break
            except Exception:
                if attempt == retry_attempts - 1:
                    failed += len(ids)
                else:
                    time.sleep(random.uniform(*sleep_range))
    return {"processed": processed, "failed": failed, "batches": len(batches)}
