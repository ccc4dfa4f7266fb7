"""Crash recovery of a bulk ingest batch: a batch that dies at a phase
boundary of ``run_core`` or inside the per-snapshot file-group sink, then
runs again, leaves the warehouse as one uninterrupted run does.

The batch under test reloads one snapshot of an earlier batch and loads one
new snapshot, so the sink has old file groups to unlink and a sibling
snapshot's groups to leave alone.  The new snapshot brings a new route,
stop, ride and ride stop, so every dim upsert of the batch appends.

The core runs its dim upserts and its dead-letter write at the same time
(``operators.upsert.concurrent_jobs``); the last tests pin the order of
their appends and what a failed parent dim leaves behind."""

import json
import os
import shutil
import time

import pytest

from open_bus_siri_etl_spark import control, pipeline
from open_bus_siri_etl_spark.operators.upsert import DIM_PARENTS
from open_bus_siri_etl_spark.schemas import DIM_TABLES
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture
from open_bus_siri_etl_spark.sources.tables import Warehouse

from .fixtures import get_test_snapshot_data

IDS = [f"2019/05/05/16/0{i}" for i in range(3)]
FIRST, BATCH = IDS[:2], IDS[1:]
TABLES = [*DIM_TABLES, "siri_vehicle_location", "dead_letter"]


class Crash(Exception):
    pass


def _rows(wh, table):
    return sorted(map(repr, wh.read(table).collect()))


def _control(wh):
    return {r["snapshot_id"]: r for r in wh.read("siri_snapshot").collect()}


def _snapshot(i):
    data = get_test_snapshot_data(time_str=f"16:0{i}")
    if i < 2:
        return data
    # line 1 becomes line 101 (new route, ride and ride stop) and its stop
    # 32043 becomes 32044 (new stop)
    text = json.dumps(data).replace('"LineRef": "1"', '"LineRef": "101"')
    return json.loads(text.replace('"StopPointRef": "32043"', '"StopPointRef": "32044"'))


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """(landing, warehouse after the first batch, warehouse after both)."""
    root = tmp_path_factory.mktemp("crash")
    landing = str(root / "landing")
    for i, sid in enumerate(IDS):
        write_snapshot_fixture(landing, sid, _snapshot(i))
    first = Warehouse(spark, str(root / "first"))
    pipeline.process_snapshots_bulk(spark, first, FIRST, landing)
    shutil.copytree(first.path, str(root / "uninterrupted"))
    uninterrupted = Warehouse(spark, str(root / "uninterrupted"))
    pipeline.process_snapshots_bulk(spark, uninterrupted, BATCH, landing)
    return landing, first.path, uninterrupted


def _after(obj, name, table=None):
    """Replace ``obj.<name>`` with a call-through that raises once it
    returns (for a sink method: only on ``table``)."""
    real = getattr(obj, name)

    def crashing(*args, **kwargs):
        out = real(*args, **kwargs)
        if table is None or table in args:
            raise Crash(name)
        return out

    return crashing


def _before(obj, name, table):
    real = getattr(obj, name)

    def crashing(self, tbl, *args, **kwargs):
        if tbl == table:
            raise Crash(name)
        return real(self, tbl, *args, **kwargs)

    return crashing


CRASH_POINTS = {
    "after_dim_upserts": (pipeline, "get_or_create_objects", _after, None),
    "after_write_facts": (Warehouse, "write_facts", _after, None),
    # write_snapshot_groups stages the batch, then deletes the groups it
    # replaces, then renames the staged files into place
    **{
        f"{table}_after_staged_write": (Warehouse, "delete_snapshot_groups", _before, table)
        for table in ("siri_vehicle_location", "dead_letter")
    },
    **{
        f"{table}_after_unlink": (Warehouse, "delete_snapshot_groups", _after, table)
        for table in ("siri_vehicle_location", "dead_letter")
    },
    # a parent dim's upsert fails after its novelty checkpoint, before it
    # appends; its children must append nothing
    "siri_ride_before_append": (Warehouse, "append", _before, "siri_ride"),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_rerun_after_crash_matches_uninterrupted_run(spark, runs, tmp_path, monkeypatch, point):
    landing, first_path, uninterrupted = runs
    wh = Warehouse(spark, str(tmp_path / "wh"))
    shutil.copytree(first_path, wh.path)
    obj, name, wrap, table = CRASH_POINTS[point]
    with monkeypatch.context() as m:
        m.setattr(obj, name, wrap(obj, name, table))
        with pytest.raises(Crash):
            pipeline.process_snapshots_bulk(spark, wh, BATCH, landing)
    assert all(control.get_control_row(wh, s)["etl_status"] == control.ETL_ERROR for s in BATCH)

    pipeline.process_snapshots_bulk(spark, wh, BATCH, landing)
    for t in TABLES:
        assert _rows(wh, t) == _rows(uninterrupted, t), t
    assert not [d for d in os.listdir(wh.path) if "._" in d], "staging left behind"
    got, want = _control(wh), _control(uninterrupted)
    assert set(got) == set(want) == set(IDS)
    # num_added_* may differ: after a crash that follows the dim upserts,
    # the re-run finds those dims already present and adds none
    for sid in IDS:
        assert got[sid]["etl_status"] == control.ETL_LOADED
        for c in ("num_successful_parse_vehicle_locations", "num_failed_parse_vehicle_locations"):
            assert got[sid][c] == want[sid][c], (sid, c)


def _logged(events, name, delay=0.0):
    """Call-through for ``Warehouse.<name>(self, table, ...)`` that records
    ("start", table) and ("end", table) around the real call, which it
    starts ``delay`` seconds late."""
    real = getattr(Warehouse, name)

    def call(self, table, *args, **kwargs):
        events.append(("start", table))
        try:
            time.sleep(delay)
            return real(self, table, *args, **kwargs)
        finally:
            events.append(("end", table))

    return call


def test_dims_append_after_parents_and_facts_after_dims(spark, runs, tmp_path, monkeypatch):
    """Each parent dim's append ends before its child's append starts
    (route before ride; ride and stop before ride stop), and the fact write
    starts after all four dims' appends have ended."""
    landing, _, _ = runs
    wh = Warehouse(spark, str(tmp_path / "wh"))
    events = []
    monkeypatch.setattr(Warehouse, "append", _logged(events, "append"))
    monkeypatch.setattr(
        Warehouse, "write_snapshot_groups", _logged(events, "write_snapshot_groups")
    )
    pipeline.process_snapshots_bulk(spark, wh, IDS, landing)

    at = {event: i for i, event in enumerate(events)}
    for child, parents in DIM_PARENTS.items():
        for parent in parents:
            assert at[("end", parent)] < at[("start", child)], (parent, child)
    facts_start = at[("start", "siri_vehicle_location")]
    assert all(at[("end", dim)] < facts_start for dim in DIM_PARENTS)


def test_failed_parent_dim_stops_child_append(spark, runs, tmp_path, monkeypatch):
    """``siri_ride``'s upsert raises before it appends: ``siri_ride_stop``
    appends nothing, the independent upserts and the dead-letter write run
    to their end, and the core raises only after every call it started has
    ended, leaving no staging or lock directory behind."""
    landing, first_path, uninterrupted = runs
    first = Warehouse(spark, first_path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    shutil.copytree(first_path, wh.path)
    events, at_raise = [], []
    real_core = pipeline.run_core

    def core(*args, **kwargs):
        try:
            return real_core(*args, **kwargs)
        finally:
            at_raise.append(list(events))

    monkeypatch.setattr(Warehouse, "upsert_dim", _logged(events, "upsert_dim"))
    # the dead-letter write outlasts the failing upsert
    monkeypatch.setattr(
        Warehouse, "write_snapshot_groups", _logged(events, "write_snapshot_groups", delay=1.0)
    )
    monkeypatch.setattr(Warehouse, "append", _before(Warehouse, "append", "siri_ride"))
    monkeypatch.setattr(pipeline, "run_core", core)
    with pytest.raises(Crash):
        pipeline.process_snapshots_bulk(spark, wh, BATCH, landing)

    (seen,) = at_raise
    started = sorted(t for kind, t in seen if kind == "start")
    assert started == sorted(t for kind, t in seen if kind == "end"), (
        "run_core raised while calls were still running"
    )
    assert "dead_letter" in started
    for t in ("siri_ride", "siri_ride_stop"):
        assert _rows(wh, t) == _rows(first, t), t
    for t in ("siri_route", "siri_stop", "dead_letter"):
        assert _rows(wh, t) == _rows(uninterrupted, t), t
    assert _rows(wh, "siri_ride_stop") != _rows(uninterrupted, "siri_ride_stop")
    assert not [d for d in os.listdir(wh.path) if "._" in d], "staging or lock left behind"
