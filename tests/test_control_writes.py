"""Control rows are built as Arrow local relations: their values survive the
write unchanged, one control write is one Spark job, and a golden-fixture
load stays inside a pinned job budget (a ``createDataFrame([Row, ...])`` or
a repeated control read would show up as extra jobs)."""

import datetime
import uuid

import pytest
from pyspark.sql import functions as F

from open_bus_siri_etl_spark import control
from open_bus_siri_etl_spark.functions import snapshot_control_id
from open_bus_siri_etl_spark.pipeline import process_snapshot
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture

from .fixtures import TEST_SNAPSHOT_DATA, TEST_SNAPSHOT_ID

# Spark jobs of one process_snapshot of the golden fixture into an empty
# warehouse, as measured with control rows as local relations and one parse
# checkpoint per batch.
PROCESS_SNAPSHOT_JOB_BUDGET = 45


class SparkJobs:
    """Count the Spark jobs launched inside a ``with`` block, through a job
    group and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"budget-{uuid.uuid4().hex}"
        self.n = None

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus: drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        return False


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


@pytest.fixture
def landing(tmp_path):
    root = str(tmp_path / "landing")
    write_snapshot_fixture(root, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA)
    return root


def test_process_snapshot_job_budget(spark, warehouse, landing):
    with SparkJobs(spark) as jobs:
        stats = process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing)
    assert stats["num_successful"] == 3 and stats["num_failed"] == 2
    assert jobs.n <= PROCESS_SNAPSHOT_JOB_BUDGET, jobs.n
