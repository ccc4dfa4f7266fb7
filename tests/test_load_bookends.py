"""The control bookends of a load are the same on every ingest path: the
single-snapshot load, the bulk batch (backfill) and the stream.  A batch
reads each minute's landed file, ``.json`` or ``.json.br``; a loaded row
keeps the pending and start times its snapshot was registered and started
with; and a batch that fails ends its ids ``error``, never ``loading``."""

import pytest
from pyspark.sql import functions as F

from open_bus_siri_etl_spark import control, pipeline
from open_bus_siri_etl_spark.backfill import run_backfill
from open_bus_siri_etl_spark.schemas import DEAD_LETTER_SCHEMA
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture

from .fixtures import TEST_SNAPSHOT_DATA, get_test_snapshot_data

COUNTERS = [
    "num_successful_parse_vehicle_locations",
    "num_failed_parse_vehicle_locations",
    "num_added_siri_routes",
    "num_added_siri_stops",
    "num_added_siri_rides",
    "num_added_siri_ride_stops",
]


def _per_snapshot(df):
    return {
        r["snapshot_id"]: r["n"]
        for r in df.groupBy("snapshot_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _stream(spark, wh, landing, ckpt):
    from open_bus_siri_etl_spark.streaming.stream import start_snapshot_stream

    return start_snapshot_stream(spark, wh, landing, ckpt, trigger={"availableNow": True})


def test_backfill_loads_brotli_only_minute(spark, warehouse, tmp_path):
    """A batch holding a ``.json`` minute and a minute landed only as
    ``.json.br`` loads both: the golden counters (the second minute's dims
    are the first's, so it adds none), facts and dead letters."""
    landing = str(tmp_path / "landing")
    plain, compressed = "2019/05/05/16/00", "2019/05/05/16/01"
    write_snapshot_fixture(landing, plain, TEST_SNAPSHOT_DATA)
    write_snapshot_fixture(
        landing, compressed, get_test_snapshot_data(time_str="16:01"), compressed=True
    )
    control.register_pending(warehouse, [plain, compressed])

    result = run_backfill(spark, warehouse, landing, retry_attempts=1)
    assert result == {"processed": 2, "failed": 0, "batches": 1}
    want = {plain: [3, 2, 3, 3, 3, 3], compressed: [3, 2, 0, 0, 0, 0]}
    for sid, counters in want.items():
        row = control.get_control_row(warehouse, sid)
        assert row["etl_status"] == control.ETL_LOADED, row["error"]
        assert [row[c] for c in COUNTERS] == counters, sid
    assert _per_snapshot(warehouse.read("siri_vehicle_location")) == {plain: 3, compressed: 3}
    assert _per_snapshot(warehouse.read("dead_letter", DEAD_LETTER_SCHEMA)) == {
        plain: 2,
        compressed: 2,
    }


def test_loaded_rows_keep_pending_and_start_times(spark, warehouse, tmp_path):
    """After ``register_pending``, the loaded row of a snapshot keeps its
    pending time and a start time between it and the end time, whether
    ``process_snapshot``, ``process_snapshots_bulk`` or the stream loaded
    it."""
    landing, stream_landing = str(tmp_path / "landing"), str(tmp_path / "stream")
    single, bulk, streamed = (f"2019/05/05/16/0{i}" for i in range(3))
    for root, sid in ((landing, single), (landing, bulk), (stream_landing, streamed)):
        write_snapshot_fixture(root, sid, get_test_snapshot_data(time_str=f"16:{sid[-2:]}"))
    control.register_pending(warehouse, [single, bulk, streamed])
    pending = {
        sid: control.get_control_row(warehouse, sid)["etl_pending_time"]
        for sid in (single, bulk, streamed)
    }

    pipeline.process_snapshot(spark, warehouse, single, landing)
    pipeline.process_snapshots_bulk(spark, warehouse, [bulk], landing)
    _stream(spark, warehouse, stream_landing, str(tmp_path / "ckpt")).awaitTermination(120)

    for sid, pending_time in pending.items():
        row = control.get_control_row(warehouse, sid)
        assert row["etl_status"] == control.ETL_LOADED, sid
        assert pending_time is not None
        assert row["etl_pending_time"] == pending_time, sid
        assert pending_time <= row["etl_start_time"] <= row["etl_end_time"], sid
        assert row["num_successful_parse_vehicle_locations"] == 3, sid


def test_failed_stream_batch_marks_its_ids_error(spark, warehouse, tmp_path, monkeypatch):
    """A micro-batch whose core raises ends every id of the batch ``error``
    with the traceback, keeping the start time of its loading row."""
    landing = str(tmp_path / "landing")
    ids = ["2019/05/05/16/00", "2019/05/05/16/01"]
    for i, sid in enumerate(ids):
        write_snapshot_fixture(landing, sid, get_test_snapshot_data(time_str=f"16:0{i}"))

    def boom(*_args, **_kwargs):
        raise RuntimeError("core failed")

    monkeypatch.setattr(pipeline, "run_core", boom)
    q = _stream(spark, warehouse, landing, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="core failed"):
        q.awaitTermination(120)
    for sid in ids:
        row = control.get_control_row(warehouse, sid)
        assert row["etl_status"] == control.ETL_ERROR, sid
        assert "core failed" in row["error"]
        assert row["etl_start_time"] is not None
