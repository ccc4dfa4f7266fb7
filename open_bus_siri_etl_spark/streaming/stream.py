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

At scale: maxFilesPerTrigger bounds per-batch work (the reference's
batch_minutes), and the file source's directory listing prunes via the
YYYY/MM/DD/HH layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import control
from ..pipeline import run_core
from ..schemas import SIRI_SNAPSHOT_SCHEMA
from ..sources.tables import Warehouse


def _streaming_snapshots(spark: SparkSession, landing_root: str, max_files: int | None) -> DataFrame:
    schema = T.StructType(
        list(SIRI_SNAPSHOT_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    reader = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", "true")
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "true")
    )
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    df = reader.json(landing_root)
    return df.select(
        F.regexp_extract(
            F.input_file_name(), r"(\d{4}/\d{2}/\d{2}/\d{2}/\d{2})\.json", 1
        ).alias("snapshot_id"),
        "Siri",
        "_corrupt_record",
    )


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
        if not ids:
            return
        control.start_loading_bulk(wh, ids)
        # run_core finds corrupt documents on its own parse scan
        stats, corrupt_ids = run_core(wh, batch_df, ids)
        control.mark_loaded_bulk(wh, stats)
        for sid in sorted(corrupt_ids):
            control.mark_error(wh, sid, "corrupt document")

    stream = _streaming_snapshots(spark, landing_root, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    trigger = trigger or {"availableNow": True}
    writer = writer.trigger(**trigger)
    return writer.start()
