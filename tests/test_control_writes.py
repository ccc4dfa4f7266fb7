"""Control rows are built as Arrow local relations: their values survive the
write unchanged, one control write is one Spark job, and a golden-fixture
load stays inside a pinned job budget (a ``createDataFrame([Row, ...])`` or
a repeated control read would show up as extra jobs) and above a floor (a
job of the load's driver threads that escaped the caller's job group would
show up as missing jobs)."""

import datetime

import pytest
from pyspark.sql import functions as F

from open_bus_siri_etl_spark import control
from open_bus_siri_etl_spark.functions import snapshot_control_id
from open_bus_siri_etl_spark.metrics import SparkJobs
from open_bus_siri_etl_spark.pipeline import process_snapshot, process_snapshots_bulk
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture

from .fixtures import TEST_SNAPSHOT_DATA, TEST_SNAPSHOT_ID, get_test_snapshot_data

# Spark jobs into an empty warehouse, as measured with control rows as local
# relations, one parse checkpoint per batch that also observes corrupt
# documents, and every per-snapshot counter from one collect: one
# process_snapshot of the golden fixture (25-28 jobs over repeated runs; AQE
# submits some query stages as jobs of their own depending on timing) and
# one process_snapshots_bulk of three minute-shifted copies of it (23-26).
# Each budget adds one heartbeat (3 jobs), which fires when a call outlasts
# control.HEARTBEAT_AMORTIZE_SECONDS on a slow or busy machine.
#
# The floors are the fewest jobs measured before the dim upserts and the
# dead-letter and fact writes moved to driver threads (12 runs each: 25 and
# 23).  Those threads inherit the caller's job group, so their jobs count
# here; a thread that lost it would take its jobs out of the count (four
# per dim) and pass the budget silently.
PROCESS_SNAPSHOT_JOB_FLOOR = 25
PROCESS_SNAPSHOTS_BULK_JOB_FLOOR = 23
PROCESS_SNAPSHOT_JOB_BUDGET = 33
PROCESS_SNAPSHOTS_BULK_JOB_BUDGET = 31


def _row(snapshot_id, **kw):
    return control._control_row(snapshot_id, created_by=control.CREATED_BY, **kw)


def test_control_rows_survive_local_relation(spark, warehouse):
    ts = datetime.datetime(2019, 5, 5, 13, 0, 15, 123456)
    row = _row(
        TEST_SNAPSHOT_ID,
        etl_status=control.ETL_LOADING,
        etl_pending_time=ts,
        etl_start_time=ts + datetime.timedelta(microseconds=1),
        last_heartbeat=ts + datetime.timedelta(seconds=5, microseconds=999999),
        num_successful_parse_vehicle_locations=3,
        num_added_siri_routes=0,
    )
    control._write_rows(warehouse, [row])
    got = control.get_control_row(warehouse, TEST_SNAPSHOT_ID)

    want_id = spark.range(1).select(snapshot_control_id(F.lit(TEST_SNAPSHOT_ID))).first()[0]
    assert got["id"] == want_id
    for col in ("etl_pending_time", "etl_start_time", "last_heartbeat"):
        assert got[col] == row[col], col
    assert got["etl_end_time"] is None
    # counters never set stay NULL; a zero stays zero
    assert got["num_failed_parse_vehicle_locations"] is None
    assert got["num_added_siri_stops"] is None
    assert got["num_added_siri_routes"] == 0
    assert {k: v for k, v in got.items() if k != "id"} == {
        k: v for k, v in row.items() if k != "id"
    }


def test_control_write_is_one_job(spark, warehouse):
    # the first write creates the table and reads nothing; measure the next
    control._write_rows(warehouse, [_row("2019/05/05/16/00", etl_status=control.ETL_PENDING)])
    with SparkJobs(spark) as jobs:
        control._write_rows(
            warehouse, [_row("2019/05/05/16/01", etl_status=control.ETL_PENDING)]
        )
    assert jobs.n == 1


def test_upsert_rows_refuses_non_log_tables(spark, warehouse):
    """upsert_rows is the log tables' append path; any other table name
    raises before reading or writing anything."""
    with SparkJobs(spark) as jobs:
        with pytest.raises(ValueError, match="'dead_letter' is not a log-structured"):
            warehouse.upsert_rows("dead_letter", spark.range(1), ["id"])
    assert jobs.n == 0


@pytest.fixture
def landing(tmp_path):
    root = str(tmp_path / "landing")
    write_snapshot_fixture(root, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA)
    return root


def test_process_snapshot_job_budget(spark, warehouse, landing):
    with SparkJobs(spark) as jobs:
        stats = process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing)
    assert stats["num_successful"] == 3 and stats["num_failed"] == 2
    assert PROCESS_SNAPSHOT_JOB_FLOOR <= jobs.n <= PROCESS_SNAPSHOT_JOB_BUDGET, jobs.n


def test_process_snapshots_bulk_job_budget(spark, warehouse, tmp_path):
    landing = str(tmp_path / "landing")
    ids = [f"2019/05/05/16/0{i}" for i in range(3)]
    for i, sid in enumerate(ids):
        write_snapshot_fixture(landing, sid, get_test_snapshot_data(time_str=f"16:0{i}"))
    with SparkJobs(spark) as jobs:
        stats = process_snapshots_bulk(spark, warehouse, ids, landing)
    assert [stats[sid]["num_successful"] for sid in ids] == [3, 3, 3]
    assert PROCESS_SNAPSHOTS_BULK_JOB_FLOOR <= jobs.n <= PROCESS_SNAPSHOTS_BULK_JOB_BUDGET, jobs.n
