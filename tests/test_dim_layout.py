"""What ingest leaves on disk and how a batch attributes new dim rows.

Dim appends carry exactly the table's declared columns (the
``_first_snapshot_id`` tag the derivations add for counting stays off the
files), no table directory holds a ``_SUCCESS`` marker, and a bulk batch
credits each new id to the earliest snapshot that carries it, as loading the
snapshots one by one does."""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from open_bus_siri_etl_spark import control
from open_bus_siri_etl_spark.pipeline import process_snapshot, process_snapshots_bulk
from open_bus_siri_etl_spark.schemas import DIM_TABLES
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture
from open_bus_siri_etl_spark.sources.tables import Warehouse

from .fixtures import TEST_SNAPSHOT_DATA, TEST_SNAPSHOT_ID, get_test_snapshot_data

NEXT_ID = "2019/05/05/16/01"
ADDED = [
    "num_added_siri_routes",
    "num_added_siri_stops",
    "num_added_siri_rides",
    "num_added_siri_ride_stops",
]


def _next_snapshot() -> dict:
    """The golden snapshot a minute later with one visit moved to a new line
    and a new stop: it shares most keys with the golden one and adds one
    route, stop, ride and ride stop."""
    text = json.dumps(get_test_snapshot_data(time_str="16:01"))
    for old, new in (('"LineRef": "1"', '"LineRef": "101"'), ('"32043"', '"32044"')):
        assert text.count(old) == 1
        text = text.replace(old, new)
    return json.loads(text)


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("landing"))
    write_snapshot_fixture(root, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA)
    write_snapshot_fixture(root, NEXT_ID, _next_snapshot())
    return root


@pytest.fixture(scope="module")
def loaded(spark, landing, tmp_path_factory):
    """Both snapshots loaded one after the other: the second load appends to
    every existing dim table."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("sequential") / "warehouse"))
    for sid in (TEST_SNAPSHOT_ID, NEXT_ID):
        process_snapshot(spark, wh, sid, landing)
    return wh


def test_dim_files_hold_declared_columns_only(spark, loaded):
    for name, schema in DIM_TABLES.items():
        assert loaded.read(name).count() == 4, name
        want = [f.name for f in schema.fields]
        path = loaded.table_path(name)
        # read the way compact() does: no declared schema
        assert spark.read.parquet(path).columns == want, name
        files = glob.glob(os.path.join(path, "*.parquet"))
        assert len(files) >= 2, name
        for f in files:
            assert pq.read_schema(f).names == want, f


def test_no_success_marker_in_any_table(loaded):
    markers = [
        os.path.join(d, f)
        for d, _, fs in os.walk(loaded.path)
        for f in fs
        if "_SUCCESS" in f
    ]
    assert os.listdir(loaded.path) and markers == []


def test_bulk_attribution_matches_sequential_loads(spark, landing, loaded, tmp_path):
    bulk = Warehouse(spark, str(tmp_path / "warehouse"))
    process_snapshots_bulk(spark, bulk, [TEST_SNAPSHOT_ID, NEXT_ID], landing)
    got = {
        sid: {c: control.get_control_row(bulk, sid)[c] for c in ADDED}
        for sid in (TEST_SNAPSHOT_ID, NEXT_ID)
    }
    want = {
        sid: {c: control.get_control_row(loaded, sid)[c] for c in ADDED}
        for sid in (TEST_SNAPSHOT_ID, NEXT_ID)
    }
    assert want == {
        TEST_SNAPSHOT_ID: {c: 3 for c in ADDED},
        NEXT_ID: {c: 1 for c in ADDED},
    }
    assert got == want
