"""Day-scale ingest + compaction benchmark — measures the one scale property
of the per-snapshot file-group design that is otherwise argued in prose
(sources/tables.py compact() docstring): minute-cadence ingest accretes tiny
files, and periodic compaction restores scan latency without losing rows.

Drives a FULL synthetic day (1,440 minute-snapshots of the golden fixture,
time-shifted) through the bulk pipeline in hourly batches (24 jobs x 60
snapshots — the incremental-daemon cadence, not one artificial mega-batch),
then runs the warehouse flagship read (facts ⋈ ride ⋈ route rollup) against
the fragmented table, compacts every table, and re-runs it.  Records wall
time, file counts before/after, row counts (must be identical), and query
latency before/after.

Run: python tools/bench_ingest_day.py [out.json]   (~10-20 min)

Quick mode: python tools/bench_ingest_day.py --quick [out.json]   (~15 s)
ingests 180 snapshots in three hourly batches and reports snapshots/min and
the seconds of each batch (no compaction, no flagship read), then the seconds
and Spark jobs of one ``validate_snapshots(...).collect()`` over the last
batch, so a few alternating runs of two checkouts make an ingest or a
validation A/B in about a minute.  It writes a file only when given one.
"""

from __future__ import annotations

import argparse
import datetime
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))

TABLES = [
    "siri_route",
    "siri_stop",
    "siri_ride",
    "siri_ride_stop",
    "siri_vehicle_location",
    "siri_snapshot",
]


def _n_files(wh, name: str) -> int:
    return wh.n_files(name)


def _flagship(wh):
    """Facts ⋈ ride_stop ⋈ ride ⋈ route rollup over the warehouse — the
    4-way snowflake read whose scan side the small-file penalty hits."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark import schemas

    facts = wh.read("siri_vehicle_location", schemas.SIRI_VEHICLE_LOCATION_SCHEMA)
    ride_stops = wh.read("siri_ride_stop", schemas.SIRI_RIDE_STOP_SCHEMA)
    rides = wh.read("siri_ride", schemas.SIRI_RIDE_SCHEMA)
    routes = wh.read("siri_route", schemas.SIRI_ROUTE_SCHEMA)
    return (
        facts.join(
            F.broadcast(ride_stops.withColumnRenamed("id", "rs_id")),
            facts.siri_ride_stop_id == F.col("rs_id"),
        )
        .join(
            F.broadcast(rides.withColumnRenamed("id", "ride_id")),
            F.col("siri_ride_id") == F.col("ride_id"),
        )
        .join(
            F.broadcast(routes.withColumnRenamed("id", "route_id")),
            F.col("siri_route_id") == F.col("route_id"),
        )
        .groupBy("line_ref")
        .agg(
            F.count(F.lit(1)).alias("n_locations"),
            F.countDistinct("siri_ride_id").alias("n_rides"),
        )
    )


def _time_query(wh, repeats: int = 3) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        _flagship(wh).count()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out", nargs="?", help="result file (default BENCH_INGEST_DAY.json; none with --quick)")
    p.add_argument(
        "--quick",
        action="store_true",
        help="3 hourly batches (180 snapshots) and one validation, no compaction",
    )
    args = p.parse_args(argv)
    hours = 3 if args.quick else 24
    out_path = args.out or (None if args.quick else "BENCH_INGEST_DAY.json")

    from fixtures import get_test_snapshot_data

    from open_bus_siri_etl_spark import pipeline
    from open_bus_siri_etl_spark.metrics import SparkJobs
    from open_bus_siri_etl_spark.session import get_spark
    from open_bus_siri_etl_spark.sources.snapshots import write_snapshot_fixture
    from open_bus_siri_etl_spark.sources.tables import Warehouse
    from open_bus_siri_etl_spark.validate import validate_snapshots

    spark = get_spark(app_name="bench-ingest-day")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="bench_ingest_day_")
    landing, wh_path = f"{root}/landing", f"{root}/warehouse"
    try:
        base = datetime.datetime(2019, 5, 5, 0, 0)
        ids = []
        for i in range(hours * 60):
            ts = base + datetime.timedelta(minutes=i)
            sid = ts.strftime("%Y/%m/%d/%H/%M")
            ids.append(sid)
            write_snapshot_fixture(
                landing,
                sid,
                get_test_snapshot_data(ts.strftime("%Y-%m-%d"), ts.strftime("%H:%M")),
            )

        # warm-up on a disjoint warehouse (JVM/codegen init is per-process)
        warm = Warehouse(spark, f"{root}/warehouse_warm")
        pipeline.process_snapshots_bulk(spark, warm, ids[:2], landing)

        wh = Warehouse(spark, wh_path)
        t0 = time.time()
        loaded = 0
        batch_sec = []
        for h in range(hours):
            tb = time.time()
            stats = pipeline.process_snapshots_bulk(
                spark, wh, ids[h * 60 : (h + 1) * 60], landing
            )
            batch_sec.append(round(time.time() - tb, 2))
            loaded += sum(1 for s in stats.values() if s.get("num_successful", 0) > 0)
        ingest_sec = time.time() - t0
        if args.quick:
            last_batch = ids[-60:]
            tv = time.time()
            with SparkJobs(spark) as validate_jobs:
                report = validate_snapshots(spark, wh, landing, last_batch).collect()
            validate_sec = time.time() - tv
            result = {
                "metric": "ingest_quick",
                "snapshots": len(ids),
                "loaded": loaded,
                "batches": hours,
                "ingest_sec": round(ingest_sec, 2),
                "snapshots_per_min": round(len(ids) / ingest_sec * 60, 1),
                "batch_sec": batch_sec,
                "validate_snapshots": len(last_batch),
                "validate_sec": round(validate_sec, 2),
                "validate_jobs": validate_jobs.n,
                "validate_findings": sum(r["expected"] != "no errors" for r in report),
            }
            print(json.dumps(result))
            if out_path:
                Path(out_path).write_text(json.dumps(result, indent=2) + "\n")
            return

        files_before = {t: _n_files(wh, t) for t in TABLES}
        rows_before = _flagship(wh).count()  # warm page cache for fairness
        q_before = _time_query(wh)

        t1 = time.time()
        files_after = {t: wh.compact(t) for t in TABLES}
        compact_sec = time.time() - t1
        q_after = _time_query(wh)
        rows_after = _flagship(wh).count()

        result = {
            "metric": "day_scale_ingest_compaction",
            "snapshots": 1440,
            "loaded": loaded,
            "batches": 24,
            "ingest_sec": round(ingest_sec, 1),
            "snapshots_per_min": round(1440 / ingest_sec * 60, 1),
            "compact_sec": round(compact_sec, 1),
            "files_before": files_before,
            "files_after": files_after,
            "files_before_total": sum(files_before.values()),
            "files_after_total": sum(files_after.values()),
            "flagship_rows_before": rows_before,
            "flagship_rows_after": rows_after,
            "flagship_sec_before_compact": q_before,
            "flagship_sec_after_compact": q_after,
            "timing": "min_of_3",
        }
        print(json.dumps(result))
        Path(out_path).write_text(json.dumps(result, indent=2) + "\n")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
