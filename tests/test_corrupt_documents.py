"""A snapshot whose document does not parse ends ``error`` with
``corrupt document`` and writes nothing to the warehouse, on all three ingest
paths: the single-snapshot load, the bulk batch and the stream.  A landed
``.json.br`` that does not decode counts as a corrupt document too.  The rest of
a batch loads as if the corrupt snapshot were not there, and a corrupt reload
of a loaded snapshot keeps its earlier facts and dead letters."""

import os

import pytest
from pyspark.sql import functions as F

from open_bus_siri_etl_spark import control
from open_bus_siri_etl_spark.pipeline import process_snapshot, process_snapshots_bulk
from open_bus_siri_etl_spark.schemas import DEAD_LETTER_SCHEMA, DIM_TABLES
from open_bus_siri_etl_spark.sources.snapshots import snapshot_path, write_snapshot_fixture
from open_bus_siri_etl_spark.sources.tables import Warehouse

from .fixtures import TEST_SNAPSHOT_DATA, TEST_SNAPSHOT_ID, get_test_snapshot_data

COUNTERS = [
    "num_successful_parse_vehicle_locations",
    "num_failed_parse_vehicle_locations",
    "num_added_siri_routes",
    "num_added_siri_stops",
    "num_added_siri_rides",
    "num_added_siri_ride_stops",
]


def _land_corrupt(root, snapshot_id, compressed=False):
    # as a .json.br the same bytes are not a brotli stream
    path = snapshot_path(root, snapshot_id, compressed=compressed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("<html>502 Bad Gateway</html>")


def _per_snapshot(df):
    return {
        r["snapshot_id"]: r["n"]
        for r in df.groupBy("snapshot_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _facts(wh):
    return _per_snapshot(wh.read("siri_vehicle_location"))


def _dead_letters(wh):
    return _per_snapshot(wh.read("dead_letter", DEAD_LETTER_SCHEMA))


def _dims(wh):
    return {name: wh.read(name).count() for name in DIM_TABLES}


def _assert_corrupt(wh, snapshot_id):
    row = control.get_control_row(wh, snapshot_id)
    assert row["etl_status"] == control.ETL_ERROR
    assert "corrupt document" in row["error"]


def _shifted(i):
    return f"2019/05/05/16/0{i}", get_test_snapshot_data(time_str=f"16:0{i}")


def test_bulk_batch_isolates_corrupt_document(spark, warehouse, tmp_path):
    landing = str(tmp_path / "landing")
    ids = []
    for i in range(4):
        sid, doc = _shifted(i)
        ids.append(sid)
        if i in (1, 3):
            _land_corrupt(landing, sid, compressed=i == 3)
        else:
            write_snapshot_fixture(landing, sid, doc)
    good = [ids[0], ids[2]]

    stats = process_snapshots_bulk(spark, warehouse, ids, landing)
    assert set(stats) == set(good)
    for bad in (ids[1], ids[3]):
        _assert_corrupt(warehouse, bad)
        assert bad not in _facts(warehouse)
        assert bad not in _dead_letters(warehouse)

    # the other two load exactly as a batch without the corrupt one does
    clean = Warehouse(spark, str(tmp_path / "clean"))
    assert process_snapshots_bulk(spark, clean, good, landing) == stats
    for sid in good:
        got = control.get_control_row(warehouse, sid)
        want = control.get_control_row(clean, sid)
        assert got["etl_status"] == control.ETL_LOADED
        assert {c: got[c] for c in COUNTERS} == {c: want[c] for c in COUNTERS}
    assert _facts(warehouse) == _facts(clean) == {sid: 3 for sid in good}
    assert _dead_letters(warehouse) == _dead_letters(clean) == {sid: 2 for sid in good}


def test_process_snapshot_corrupt_document_writes_nothing(spark, warehouse, tmp_path):
    landing = str(tmp_path / "landing")
    br_id, _ = _shifted(1)
    _land_corrupt(landing, TEST_SNAPSHOT_ID)
    _land_corrupt(landing, br_id, compressed=True)
    for sid in (TEST_SNAPSHOT_ID, br_id):
        with pytest.raises(ValueError, match="corrupt document"):
            process_snapshot(spark, warehouse, sid, landing)
        _assert_corrupt(warehouse, sid)
    # only the control log was written: no table, not even an empty one
    assert sorted(os.listdir(warehouse.path)) == ["siri_snapshot"]

    # a corrupt reload of a loaded snapshot keeps what the good load wrote
    write_snapshot_fixture(landing, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA)
    process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing, force_reload=True)
    before = (_dims(warehouse), _facts(warehouse), _dead_letters(warehouse))
    assert before[1] == {TEST_SNAPSHOT_ID: 3} and before[2] == {TEST_SNAPSHOT_ID: 2}
    _land_corrupt(landing, TEST_SNAPSHOT_ID)
    with pytest.raises(ValueError, match="corrupt document"):
        process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing, force_reload=True)
    _assert_corrupt(warehouse, TEST_SNAPSHOT_ID)
    assert (_dims(warehouse), _facts(warehouse), _dead_letters(warehouse)) == before


def test_stream_isolates_corrupt_document(spark, warehouse, tmp_path):
    from open_bus_siri_etl_spark.streaming.stream import start_snapshot_stream

    landing = str(tmp_path / "landing")
    good, doc = _shifted(0)
    bad, _ = _shifted(1)
    write_snapshot_fixture(landing, good, doc)
    _land_corrupt(landing, bad)
    q = start_snapshot_stream(
        spark, warehouse, landing, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    assert control.get_control_row(warehouse, good)["etl_status"] == control.ETL_LOADED
    _assert_corrupt(warehouse, bad)
    assert _facts(warehouse) == {good: 3}
    assert _dead_letters(warehouse) == {good: 2}
