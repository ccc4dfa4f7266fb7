"""``validate_snapshots`` over golden minutes: a minute landed only as
``.json.br`` has a raw side like a ``.json`` one, the report is one plan
inside a pinned job budget, and a report written to a path is computed once
(the CLI prints the rows it wrote without validating again)."""

import csv
import json

import pytest

from open_bus_siri_etl_spark.cli import main
from open_bus_siri_etl_spark.metrics import SparkJobs
from open_bus_siri_etl_spark.pipeline import process_snapshots_bulk
from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture
from open_bus_siri_etl_spark.sources.tables import Warehouse
from open_bus_siri_etl_spark.validate import validate_snapshots

from .fixtures import get_test_snapshot_data

SID_JSON, SID_BR = "2019/05/05/16/00", "2019/05/05/16/01"
IDS = [SID_JSON, SID_BR]

# Spark jobs of one validate_snapshots(...).collect() over the two minutes,
# as measured with the report as one plan: 6 with both minutes as .json, and
# 6 with one as .json.br (the brotli read builds its frame without a job).
# The report as a union of nine branches over two checkpointed sides
# launched 25 and 26.
VALIDATE_JOB_BUDGET = 8
# A report written to a path: the one computation, the CSV write and the
# read of the computed rows back by collect().
REPORT_PATH_JOB_BUDGET = VALIDATE_JOB_BUDGET + 3


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    """A warehouse with the golden fixture loaded at two minutes, one landed
    as ``.json`` and one only as ``.json.br``; (warehouse, landing root)."""
    root = tmp_path_factory.mktemp("validate")
    landing = str(root / "landing")
    write_snapshot_fixture(landing, SID_JSON, get_test_snapshot_data(time_str="16:00"))
    write_snapshot_fixture(
        landing, SID_BR, get_test_snapshot_data(time_str="16:01"), compressed=True
    )
    wh = Warehouse(spark, str(root / "warehouse"))
    stats = process_snapshots_bulk(spark, wh, IDS, landing)
    assert sorted(stats) == IDS
    return wh, landing


def _clean(rows) -> bool:
    return sorted((r["snapshot_id"], r["expected"], r["actual"]) for r in rows) == [
        (sid, "no errors", "no errors") for sid in IDS
    ]


def test_json_and_brotli_minutes_validate_clean(spark, loaded):
    wh, landing = loaded
    # a minute with no landed file and no loaded rows reports nothing
    rows = validate_snapshots(spark, wh, landing, [*IDS, "2019/05/05/16/02"]).collect()
    assert _clean(rows), rows


def test_validate_job_budget(spark, loaded):
    wh, landing = loaded
    with SparkJobs(spark) as jobs:
        rows = validate_snapshots(spark, wh, landing, IDS).collect()
    assert jobs.n <= VALIDATE_JOB_BUDGET, jobs.n
    assert _clean(rows), rows


def test_report_path_computes_once(spark, loaded, tmp_path):
    wh, landing = loaded
    path = str(tmp_path / "report")
    report = validate_snapshots(spark, wh, landing, IDS, path)
    with SparkJobs(spark) as jobs:
        rows = report.collect()
    # reading the computed rows back, not a second validation
    assert jobs.n <= 1, jobs.n
    assert _clean(rows), rows
    written = []
    for part in (tmp_path / "report").glob("part-*.csv"):
        with open(part) as f:
            written += csv.DictReader(f)
    assert sorted(written, key=lambda r: r["snapshot_id"]) == sorted(
        ({k: v or "" for k, v in r.asDict().items()} for r in rows),
        key=lambda r: r["snapshot_id"],
    )


def test_cli_validates_once(spark, loaded, tmp_path, monkeypatch, capsys):
    wh, landing = loaded
    monkeypatch.setenv("SIRI_ETL_WAREHOUSE", wh.path)
    monkeypatch.setenv("SIRI_ETL_LANDING", landing)
    report = tmp_path / "report"
    with SparkJobs(spark) as jobs:
        assert main(
            ["validate-snapshots", *IDS, "--report-path", str(report)]
        ) in (0, None)
    assert jobs.n <= REPORT_PATH_JOB_BUDGET, jobs.n
    printed = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert _clean(printed), printed
    assert report.exists()
