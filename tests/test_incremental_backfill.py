"""Tests for the incremental daemon tick (EP2), backfill planning/drain (EP3),
the Structured Streaming ingest, and validation — mirroring the reference's
scenario tests (test_process_snapshot.py:177-193, test_process_old_missing_
snapshots.py:6-56)."""

import pytest

import datetime

from pyspark.sql import functions as F

from open_bus_siri_etl_spark import control
from open_bus_siri_etl_spark.backfill import plan_batches, run_backfill
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture
from open_bus_siri_etl_spark.streaming.incremental import process_new_snapshots

from .fixtures import TEST_SNAPSHOT_DATA, get_test_snapshot_data


@pytest.mark.slow
def test_process_new_snapshots(spark, warehouse, tmp_path):
    """Port of reference test :177-193: counts per tick + resume behavior."""
    landing = str(tmp_path / "landing")
    now = datetime.datetime(2019, 5, 5, 16, 5)

    # no snapshots in storage → 0 processed, 11 attempted (10-min lookback)
    stats = process_new_snapshots(spark, warehouse, landing, now=now)
    assert (stats["processed"], stats["attempted"]) == (0, 11)

    # 1 snapshot available
    write_snapshot_fixture(landing, "2019/05/05/16/00", TEST_SNAPSHOT_DATA)
    stats = process_new_snapshots(spark, warehouse, landing, now=now)
    assert (stats["processed"], stats["attempted"]) == (1, 11)
    row = control.get_control_row(warehouse, "2019/05/05/16/00")
    assert row["etl_status"] == control.ETL_LOADED
    assert row["num_successful_parse_vehicle_locations"] == 3

    # resume: next tick starts after the last loaded snapshot
    write_snapshot_fixture(
        landing, "2019/05/05/16/06", get_test_snapshot_data(time_str="16:06")
    )
    stats = process_new_snapshots(
        spark, warehouse, landing, now=datetime.datetime(2019, 5, 5, 16, 7)
    )
    assert (stats["processed"], stats["attempted"]) == (1, 7)
    assert warehouse.read("siri_vehicle_location").count() == 6


@pytest.mark.slow
def test_backfill_planning_and_drain(spark, warehouse, tmp_path):
    """Gap-run folding + chunking (reference unit test cases) + bulk drain."""
    landing = str(tmp_path / "landing")
    # two consecutive runs separated by a gap: 16:00-16:02 and 16:10-16:11
    ids = [
        "2019/05/05/16/00",
        "2019/05/05/16/01",
        "2019/05/05/16/02",
        "2019/05/05/16/10",
        "2019/05/05/16/11",
    ]
    for i, sid in enumerate(ids):
        write_snapshot_fixture(
            landing, sid, get_test_snapshot_data(time_str=f"16:{sid[-2:]}")
        )
    control.register_pending(warehouse, ids)

    batches = plan_batches(warehouse, batch_minutes=2).collect()
    spans = sorted((b["from_snapshot_id"], b["to_snapshot_id"], b["n"]) for b in batches)
    # run1 (3 ids) chunks to 2+1 with batch_minutes=2; run2 (2 ids) is one batch
    assert spans == [
        ("2019/05/05/16/00", "2019/05/05/16/01", 2),
        ("2019/05/05/16/02", "2019/05/05/16/02", 1),
        ("2019/05/05/16/10", "2019/05/05/16/11", 2),
    ]

    result = run_backfill(spark, warehouse, landing, batch_minutes=2)
    assert result == {"processed": 5, "failed": 0, "batches": 3}
    assert warehouse.read("siri_vehicle_location").count() == 15
    statuses = {
        r["snapshot_id"]: r["etl_status"]
        for r in warehouse.read("siri_snapshot").collect()
    }
    assert all(statuses[s] == control.ETL_LOADED for s in ids)


def test_backfill_empty_pending(spark, warehouse, tmp_path):
    assert plan_batches(warehouse).count() == 0
    assert run_backfill(spark, warehouse, str(tmp_path / "landing")) == {
        "processed": 0,
        "failed": 0,
        "batches": 0,
    }


def test_streaming_ingest(spark, warehouse, tmp_path):
    """Structured Streaming availableNow drain over the landing dir."""
    from open_bus_siri_etl_spark.streaming.stream import start_snapshot_stream

    landing = str(tmp_path / "landing")
    write_snapshot_fixture(landing, "2019/05/05/16/00", TEST_SNAPSHOT_DATA)
    write_snapshot_fixture(
        landing, "2019/05/05/16/01", get_test_snapshot_data(time_str="16:01")
    )
    q = start_snapshot_stream(
        spark, warehouse, landing, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    assert warehouse.read("siri_vehicle_location").count() == 6
    for sid in ("2019/05/05/16/00", "2019/05/05/16/01"):
        assert control.get_control_row(warehouse, sid)["etl_status"] == control.ETL_LOADED

    # restart with same checkpoint: nothing new → no duplicate facts
    q = start_snapshot_stream(
        spark, warehouse, landing, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    assert warehouse.read("siri_vehicle_location").count() == 6


@pytest.mark.slow
def test_validation_clean_and_dirty(spark, warehouse, tmp_path):
    from open_bus_siri_etl_spark.pipeline import process_snapshot
    from open_bus_siri_etl_spark.validate import validate_snapshots

    landing = str(tmp_path / "landing")
    write_snapshot_fixture(landing, "2019/05/05/16/00", TEST_SNAPSHOT_DATA)
    process_snapshot(spark, warehouse, "2019/05/05/16/00", landing)

    report = validate_snapshots(spark, warehouse, landing, ["2019/05/05/16/00"])
    rows = [r.asDict() for r in report.collect()]
    assert len(rows) == 1 and rows[0]["expected"] == "no errors"

    # corrupt one ride attribute in the warehouse → field finding
    ride = warehouse.read("siri_ride")
    bad = ride.withColumn(
        "vehicle_ref",
        F.when(F.col("vehicle_ref") == "8245384", "TAMPERED").otherwise(
            F.col("vehicle_ref")
        ),
    )
    warehouse.overwrite("siri_ride", bad)
    report = validate_snapshots(spark, warehouse, landing, ["2019/05/05/16/00"])
    findings = [r.asDict() for r in report.collect()]
    fields = {r["field"] for r in findings}
    assert "vehicle_ref" in fields
    tampered = [r for r in findings if r["field"] == "vehicle_ref"][0]
    assert tampered["expected"] == "8245384" and tampered["actual"] == "TAMPERED"


def test_read_snapshots_brotli_multi_file(spark, tmp_path):
    """Several landed .br snapshots in one binaryFile scan: the
    per-partition decode handles >1 file and recovers each file's own
    snapshot_id from its path (codec roundtrip itself is covered in
    test_brotli.py)."""
    from open_bus_siri_etl_spark.sources import snapshots

    landing = str(tmp_path / "landing")
    sids = ["2019/05/05/16/00", "2019/05/05/16/01", "2019/05/05/17/30"]
    for sid in sids:
        snapshots.write_snapshot_fixture(
            landing, sid, TEST_SNAPSHOT_DATA, compressed=True
        )
    df = snapshots.read_snapshots_brotli(spark, landing)
    rows = df.collect()
    assert sorted(r["snapshot_id"] for r in rows) == sids
    for r in rows:
        n_visits = sum(
            len(d["MonitoredStopVisit"])
            for d in r["Siri"]["ServiceDelivery"]["StopMonitoringDelivery"]
        )
        assert n_visits == 5


def test_tick_processes_brotli_only_minute(spark, warehouse, tmp_path):
    """A minute landed only as ``.json.br`` (the reference's native codec)
    is found by the daemon walk and loaded."""
    landing = str(tmp_path / "landing")
    write_snapshot_fixture(
        landing, "2019/05/05/16/00", TEST_SNAPSHOT_DATA, compressed=True
    )
    stats = process_new_snapshots(
        spark, warehouse, landing, now=datetime.datetime(2019, 5, 5, 16, 0)
    )
    assert stats["processed"] == 1
    row = control.get_control_row(warehouse, "2019/05/05/16/00")
    assert row["etl_status"] == control.ETL_LOADED
    assert row["num_successful_parse_vehicle_locations"] == 3


def test_listing_dedups_minute_landed_twice(spark, warehouse, tmp_path):
    """A minute landed as both ``.json`` and ``.json.br`` is one snapshot:
    listed once, and registered as one pending row."""
    from open_bus_siri_etl_spark.sources.snapshots import list_snapshot_ids

    landing = str(tmp_path / "landing")
    for compressed in (False, True):
        write_snapshot_fixture(
            landing, "2019/05/05/16/00", TEST_SNAPSHOT_DATA, compressed=compressed
        )
    write_snapshot_fixture(landing, "2019/05/05/16/01", TEST_SNAPSHOT_DATA)
    ids = list_snapshot_ids(landing)
    assert ids == ["2019/05/05/16/00", "2019/05/05/16/01"]
    assert control.register_pending(warehouse, ids) == 2
    log = spark.read.parquet(warehouse.table_path("siri_snapshot"))
    assert log.count() == 2


@pytest.mark.slow
def test_streaming_restart_with_new_files(spark, warehouse, tmp_path):
    """Exactly-once across a stop/restart: the checkpoint skips files the
    first run committed, and only new landings are processed — per-snapshot
    fact counts stay exact with no dupes and no loss."""
    from open_bus_siri_etl_spark.streaming.stream import start_snapshot_stream

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    write_snapshot_fixture(landing, "2019/05/05/16/00", TEST_SNAPSHOT_DATA)
    write_snapshot_fixture(
        landing, "2019/05/05/16/01", get_test_snapshot_data(time_str="16:01")
    )
    q = start_snapshot_stream(spark, warehouse, landing, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)
    assert warehouse.read("siri_vehicle_location").count() == 6

    # simulate the daemon dying and new snapshots landing while it was down
    write_snapshot_fixture(
        landing, "2019/05/05/16/02", get_test_snapshot_data(time_str="16:02")
    )
    write_snapshot_fixture(
        landing, "2019/05/05/16/03", get_test_snapshot_data(time_str="16:03")
    )
    q = start_snapshot_stream(spark, warehouse, landing, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)

    per_snapshot = {
        r["snapshot_id"]: r["n"]
        for r in warehouse.read("siri_vehicle_location")
        .groupBy("snapshot_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_snapshot == {
        f"2019/05/05/16/0{i}": 3 for i in range(4)
    }
    for sid in per_snapshot:
        assert control.get_control_row(warehouse, sid)["etl_status"] == control.ETL_LOADED


def test_register_pending_gtfs_date_clamp(spark, warehouse):
    """Reference update_pending_snapshots.py:88-97: snapshots dated before
    the first GTFS date are never registered as pending."""
    ids = [
        "2019/05/04/23/59",  # pre-GTFS → clamped out
        "2019/05/05/00/00",  # boundary → registered
        "2019/05/06/08/30",  # post → registered
    ]
    n = control.register_pending(
        warehouse, ids, min_date=datetime.date(2019, 5, 5)
    )
    assert n == 2
    registered = {
        r["snapshot_id"] for r in warehouse.read("siri_snapshot").collect()
    }
    assert registered == {"2019/05/05/00/00", "2019/05/06/08/30"}
    # idempotent: re-registering the same list adds nothing
    assert (
        control.register_pending(
            warehouse, ids, min_date=datetime.date(2019, 5, 5)
        )
        == 0
    )


@pytest.mark.slow
def test_daemon_soak_multi_tick_late_files(spark, warehouse, tmp_path):
    """Daemon-under-churn soak (reference process_snapshot.py:485-529
    semantics): >=3 ticks with files landing between ticks, including a LATE
    file inside the already-walked range.  Invariants: control-table status
    rank per snapshot never regresses across ticks, zero fact duplicates
    ever, and the late straggler is picked up by the backfill path (the
    reference's division of labor) without disturbing loaded siblings."""
    landing = str(tmp_path / "landing")
    now = datetime.datetime(2019, 5, 5, 16, 10)
    RANK = {
        None: -1,
        control.ETL_PENDING: 0,
        control.ETL_LOADING: 1,
        control.ETL_ERROR: 2,
        control.ETL_LOADED: 2,
    }

    def control_state():
        return {
            r["snapshot_id"]: r["etl_status"]
            for r in warehouse.read("siri_snapshot").collect()
        }

    def assert_no_fact_dups():
        facts = warehouse.read("siri_vehicle_location")
        total = facts.count()
        distinct = facts.select(
            "snapshot_id", "recorded_at_time", "lon", "lat"
        ).distinct().count()
        assert total == distinct, "duplicate fact rows after tick"
        return total

    def assert_monotonic(before, after):
        for sid, st in before.items():
            assert RANK[after.get(sid)] >= RANK[st], (
                f"{sid} regressed {st} -> {after.get(sid)}"
            )

    # tick 1: two snapshots inside the lookback window
    for mm in ("03", "05"):
        write_snapshot_fixture(
            landing, f"2019/05/05/16/{mm}", get_test_snapshot_data(time_str=f"16:{mm}")
        )
    s1 = process_new_snapshots(spark, warehouse, landing, now=now)
    assert s1["processed"] == 2
    state1 = control_state()
    assert state1["2019/05/05/16/03"] == control.ETL_LOADED
    assert state1["2019/05/05/16/05"] == control.ETL_LOADED
    assert assert_no_fact_dups() == 6

    # between ticks: a LATE file lands inside the already-walked range
    # (16:04 < max loaded 16:05) plus a genuinely new one (16:06)
    write_snapshot_fixture(
        landing, "2019/05/05/16/04", get_test_snapshot_data(time_str="16:04")
    )
    write_snapshot_fixture(
        landing, "2019/05/05/16/06", get_test_snapshot_data(time_str="16:06")
    )

    # tick 2: resumes after max(loaded) -> processes only 16:06; the late
    # 16:04 is REGISTERED pending (discovery) but not walked (reference
    # resume semantics: stragglers behind the watermark go to backfill)
    s2 = process_new_snapshots(spark, warehouse, landing, now=now)
    assert s2["processed"] == 1
    state2 = control_state()
    assert_monotonic(state1, state2)
    assert state2["2019/05/05/16/06"] == control.ETL_LOADED
    assert state2["2019/05/05/16/04"] == control.ETL_PENDING
    assert assert_no_fact_dups() == 9

    # tick 3: nothing new — fully idempotent, statuses frozen
    s3 = process_new_snapshots(
        spark, warehouse, landing, now=now + datetime.timedelta(minutes=1)
    )
    assert s3["processed"] == 0
    state3 = control_state()
    assert_monotonic(state2, state3)
    assert state3 == state2
    assert assert_no_fact_dups() == 9

    # the straggler drains through backfill; loaded siblings untouched
    result = run_backfill(spark, warehouse, landing, batch_minutes=5)
    assert result["processed"] == 1 and result["failed"] == 0
    state4 = control_state()
    assert_monotonic(state3, state4)
    assert state4["2019/05/05/16/04"] == control.ETL_LOADED
    assert assert_no_fact_dups() == 12

    # tick 4 after the drain: still nothing to do, nothing regresses
    s5 = process_new_snapshots(
        spark, warehouse, landing, now=now + datetime.timedelta(minutes=2)
    )
    assert s5["processed"] == 0
    assert_monotonic(state4, control_state())
    assert assert_no_fact_dups() == 12
