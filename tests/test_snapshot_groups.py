"""The per-snapshot file-group sink (``Warehouse.write_snapshot_groups``)
that facts and dead letters share: a dead-letter write is one Spark job, a
reload replaces only its own snapshot's files, a replayed snapshot reloads
like a clean one, and a write into a new day never scans an earlier day's
compacted files."""

import copy
import glob
import json
import os

from pyspark.sql import functions as F

from open_bus_siri_etl_spark import pipeline
from open_bus_siri_etl_spark.metrics import SparkJobs
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture
from open_bus_siri_etl_spark.sources.tables import Warehouse

from .fixtures import TEST_SNAPSHOT_DATA, TEST_SNAPSHOT_ID, get_test_snapshot_data


def _rows(df):
    return sorted(map(repr, df.collect()))


def _files(wh, name):
    return {
        os.path.relpath(f, wh.table_path(name)): os.stat(f).st_ino
        for f in glob.glob(os.path.join(wh.table_path(name), "**", "*.parquet"), recursive=True)
    }


def _jobs_per_call(monkeypatch, spark, method, table):
    """Wrap ``Warehouse.<method>`` so each call on ``table`` records the
    Spark jobs it launches; returns the list the counts go to."""
    real = getattr(Warehouse, method)
    counts = []

    def counted(self, name, *args, **kwargs):
        if name != table:
            return real(self, name, *args, **kwargs)
        with SparkJobs(spark) as jobs:
            real(self, name, *args, **kwargs)
        counts.append(jobs.n)

    monkeypatch.setattr(Warehouse, method, counted)
    return counts


def test_dead_letter_write_is_one_job(spark, warehouse, tmp_path, monkeypatch):
    landing = str(tmp_path / "landing")
    write_snapshot_fixture(landing, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA)
    counts = _jobs_per_call(monkeypatch, spark, "write_snapshot_groups", "dead_letter")
    pipeline.process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing)
    pipeline.process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing, force_reload=True)
    # the first load and the reload that replaces it
    assert counts == [1, 1]
    assert warehouse.read("dead_letter").count() == 2
    # flat layout: one file group per snapshot at the table root
    assert all(
        f.startswith("snap-2019-05-05-16-00-") for f in _files(warehouse, "dead_letter")
    )


def test_reload_keeps_other_snapshots_dead_letter_files(spark, warehouse, tmp_path):
    landing = str(tmp_path / "landing")
    ids = ["2019/05/05/16/00", "2019/05/05/16/01"]
    for i, sid in enumerate(ids):
        write_snapshot_fixture(landing, sid, get_test_snapshot_data(time_str=f"16:0{i}"))
    pipeline.process_snapshots_bulk(spark, warehouse, ids, landing)
    before = _files(warehouse, "dead_letter")
    sibling = {f: ino for f, ino in before.items() if f.startswith("snap-2019-05-05-16-01-")}
    reloaded = set(before) - set(sibling)
    assert sibling and reloaded

    pipeline.process_snapshot(spark, warehouse, ids[0], landing, force_reload=True)
    after = _files(warehouse, "dead_letter")
    assert {f: after.get(f) for f in sibling} == sibling
    assert not reloaded & set(after), "the reloaded snapshot's group was not replaced"
    per = {
        r["snapshot_id"]: r["count"]
        for r in warehouse.read("dead_letter").groupBy("snapshot_id").count().collect()
    }
    assert per == {ids[0]: 2, ids[1]: 2}


def test_replayed_snapshot_reloads_like_a_clean_load(spark, warehouse, tmp_path):
    """Replay writes recovered facts as file groups of their snapshot, so
    a later reload of that snapshot unlinks them with the rest of its group:
    facts and dead letters then equal a clean load, and no group-less fact
    file is left behind."""
    landing = str(tmp_path / "landing")
    write_snapshot_fixture(landing, TEST_SNAPSHOT_ID, TEST_SNAPSHOT_DATA)
    pipeline.process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing)
    # a quarantined visit that now parses (as after an upstream fix)
    delivery = TEST_SNAPSHOT_DATA["Siri"]["ServiceDelivery"]["StopMonitoringDelivery"][0]
    visit = copy.deepcopy(delivery["MonitoredStopVisit"][0])
    visit["MonitoredVehicleJourney"]["LineRef"] = "999"
    warehouse.append(
        "dead_letter",
        spark.createDataFrame(
            [(TEST_SNAPSHOT_ID, json.dumps(visit))], "snapshot_id string, raw string"
        ),
    )
    assert pipeline.replay_dead_letters(warehouse) == {"recovered": 1, "remaining": 2}
    assert warehouse.read("siri_vehicle_location").count() == 4

    pipeline.process_snapshot(spark, warehouse, TEST_SNAPSHOT_ID, landing, force_reload=True)
    clean = Warehouse(spark, str(tmp_path / "clean"))
    pipeline.process_snapshot(spark, clean, TEST_SNAPSHOT_ID, landing)
    for table in ("siri_vehicle_location", "dead_letter"):
        assert _rows(warehouse.read(table)) == _rows(clean.read(table)), table
    facts = _files(warehouse, "siri_vehicle_location")
    assert facts and all(os.path.basename(f).startswith("snap-") for f in facts)


def test_new_day_write_skips_compacted_days(spark, warehouse, tmp_path, monkeypatch):
    """Compacted files are probed only in the date partitions of the ids
    being replaced: once day D is compacted, loading a minute of day D+1
    deletes without a Spark job, while reloading a minute of D still
    filter-rewrites D's compacted file."""
    landing = str(tmp_path / "landing")
    day_d, day_e = "2019/05/05/16/00", "2019/05/06/16/00"
    write_snapshot_fixture(landing, day_d, TEST_SNAPSHOT_DATA)
    write_snapshot_fixture(landing, day_e, get_test_snapshot_data(date_str="2019-05-06"))
    pipeline.process_snapshot(spark, warehouse, day_d, landing)
    warehouse.compact("siri_vehicle_location")
    counts = _jobs_per_call(monkeypatch, spark, "delete_snapshot_groups", "siri_vehicle_location")

    pipeline.process_snapshot(spark, warehouse, day_e, landing)
    assert counts == [0]
    pipeline.process_snapshot(spark, warehouse, day_d, landing, force_reload=True)
    assert counts[1] > 0
    facts = warehouse.read("siri_vehicle_location")
    per = {r["snapshot_id"]: r["count"] for r in facts.groupBy("snapshot_id").count().collect()}
    assert per == {day_d: 3, day_e: 3}
    assert facts.filter(F.col("snapshot_date").isNull()).count() == 0
