"""Crash recovery of a bulk ingest batch: a batch that dies at a phase
boundary of ``run_core`` or inside the per-snapshot file-group sink, then
runs again, leaves the warehouse as one uninterrupted run does.

The batch under test reloads one snapshot of an earlier batch and loads one
new snapshot, so the sink has old file groups to unlink and a sibling
snapshot's groups to leave alone."""

import os
import shutil

import pytest

from open_bus_siri_etl_spark import control, pipeline
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


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """(landing, warehouse after the first batch, warehouse after both)."""
    root = tmp_path_factory.mktemp("crash")
    landing = str(root / "landing")
    for i, sid in enumerate(IDS):
        write_snapshot_fixture(landing, sid, get_test_snapshot_data(time_str=f"16:0{i}"))
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
