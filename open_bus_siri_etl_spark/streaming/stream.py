"""T1/T2 as real Structured Streaming: a file-source stream over the landing
directory with the EP1 core in ``foreachBatch``.

Why foreachBatch and not a plain streaming sink: each micro-batch performs
*multi-table* writes (4 dim upserts + per-snapshot fact and dead-letter
file groups + control rows), which is exactly the case Structured Streaming
delegates to foreachBatch.  Offsets/progress live in the checkpoint dir (the
streaming analog of the reference's max(loaded-snapshot)+1 resume query), so
a crashed stream resumes without reprocessing — and the batch core is
idempotent per snapshot anyway (a reload replaces the snapshot's file
groups), giving effectively-once facts.

The stream reads ``*.json`` only: a minute landed only as ``.json.br`` is
loaded by the daemon tick (streaming.incremental) and by backfill, whose
reader resolves each id's landed file.

At scale: maxFilesPerTrigger bounds per-batch work (the reference's
batch_minutes), and the file source's directory listing prunes via the
YYYY/MM/DD/HH layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import control
from ..pipeline import load_batch
from ..sources.snapshots import json_snapshot_reader, snapshot_rows
from ..sources.tables import Warehouse


def _streaming_snapshots(spark: SparkSession, landing_root: str, max_files: int | None) -> DataFrame:
    reader = (
        json_snapshot_reader(spark.readStream)
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "true")
    )
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return snapshot_rows(reader.json(landing_root))


def start_snapshot_stream(
    spark: SparkSession,
    wh: Warehouse,
    landing_root: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    max_files_per_trigger: int | None = 60,
):
    """Start the ingest stream; returns the StreamingQuery.

    trigger: e.g. {"processingTime": "60 seconds"} (the daemon cadence) or
    {"availableNow": True} (drain-and-stop, used by tests/backfill-style runs).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = [
            r["snapshot_id"]
            for r in batch_df.select("snapshot_id").distinct().collect()
        ]
        if ids:
            load_batch(wh, control.start_loading_bulk(wh, ids), lambda: batch_df)

    stream = _streaming_snapshots(spark, landing_root, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    trigger = trigger or {"availableNow": True}
    writer = writer.trigger(**trigger)
    return writer.start()
