"""Phase 4 — snapshot validation (reference validate_snapshots.py:13-193).

The reference re-derives the raw data from the DB via a 4-way join, re-parses
the raw snapshot JSON, and diffs the two keyed maps: duplicate-key detection
(D3), key-set equality (W7), then per-field comparison on matched pairs (J5).
Report rows go to a typed CSV (S7).

Spark-first: both sides are DataFrames keyed on the 6-column observation key
(recorded_at_time to the second + lon/lat/bearing/velocity/distance, exactly
the reference's key at :28-35,58-65); the comparison is a full-outer join —
unmatched rows ⇒ key-mismatch findings, matched rows filtered per field ⇒
field findings.  One shuffle on the key; everything per-snapshot groupable,
so validating a year of snapshots is a single job.

``validate_snapshots`` materializes each side once (an eager local
checkpoint) before building the report: the report is a union of about nine
branches, and without it every branch would re-run the 4-way join and the
JSON re-parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.flatten import iterate_monitored_stop_visits
from .operators.parse import parse_monitored_stop_visits, valid_pmsv
from .sources.tables import Warehouse

KEY_COLS = ["key_ts", "lon", "lat", "bearing", "velocity", "distance_from_journey_start"]
COMPARE_FIELDS = ["journey_ref", "vehicle_ref", "scheduled_start_time", "stop_code", "order"]

REPORT_COLUMNS = [
    "snapshot_id",
    "recorded_at_time",
    "lon",
    "lat",
    "bearing",
    "velocity",
    "distance_from_journey_start",
    "field",
    "expected",
    "actual",
]


def _with_key(df: DataFrame) -> DataFrame:
    return df.withColumn("key_ts", F.date_format("recorded_at_time", "yyyyMMddHHmmss"))


def db_derived(wh: Warehouse, snapshot_ids: list[str] | None = None) -> DataFrame:
    """Re-assemble observations from the warehouse: the flagship 4-way join
    (reference :16-27), optionally filtered to specific snapshots."""
    vl = wh.read("siri_vehicle_location")
    if snapshot_ids is not None:
        vl = vl.filter(F.col("snapshot_id").isin(snapshot_ids))
    rs = wh.read("siri_ride_stop").select(
        F.col("id").alias("_rs_id"), "siri_ride_id", "siri_stop_id", "order"
    )
    ride = wh.read("siri_ride").select(
        F.col("id").alias("_ride_id"),
        "journey_ref",
        "vehicle_ref",
        "scheduled_start_time",
    )
    stop = wh.read("siri_stop").select(
        F.col("id").alias("_stop_id"), F.col("code").alias("stop_code")
    )
    joined = (
        vl.join(rs, vl.siri_ride_stop_id == rs._rs_id)
        .join(ride, F.col("siri_ride_id") == ride._ride_id)
        .join(F.broadcast(stop), F.col("siri_stop_id") == stop._stop_id)
    )
    return _with_key(joined).select(
        "snapshot_id",
        *KEY_COLS,
        "recorded_at_time",
        "journey_ref",
        "vehicle_ref",
        "scheduled_start_time",
        "stop_code",
        "order",
    )


def raw_derived(snapshots_df: DataFrame) -> DataFrame:
    """Re-parse raw snapshot documents into the same keyed shape."""
    parsed = valid_pmsv(
        parse_monitored_stop_visits(iterate_monitored_stop_visits(snapshots_df))
    )
    return _with_key(parsed).select(
        "snapshot_id",
        *KEY_COLS,
        "recorded_at_time",
        "journey_ref",
        "vehicle_ref",
        "scheduled_start_time",
        F.col("stop_point_ref").alias("stop_code"),
        "order",
    )


def _dup_keys(df: DataFrame) -> DataFrame:
    """D3: keys appearing more than once (num_items != len(keyed_map))."""
    return (
        df.groupBy("snapshot_id", *KEY_COLS)
        .count()
        .filter("count > 1")
        .select("snapshot_id", *KEY_COLS)
    )


def validate(db: DataFrame, raw: DataFrame) -> DataFrame:
    """Full validation report (REPORT_COLUMNS, all strings like the reference).

    Findings: 'duplicate db key' / 'duplicate raw key' (D3), 'missing in db' /
    'missing in raw' (W7 key-set diff), per-field mismatches (J5), and one
    'no errors' row per clean snapshot — mirroring the reference's report rows.
    """
    spark = db.sparkSession

    def blank_row_for(df: DataFrame, field: str, expected: str, actual: str) -> DataFrame:
        return df.select("snapshot_id").distinct().select(
            "snapshot_id",
            *[F.lit("").alias(c) for c in REPORT_COLUMNS[1:7]],
            F.lit(field).alias("field"),
            F.lit(expected).alias("expected"),
            F.lit(actual).alias("actual"),
        )

    dup_db = blank_row_for(_dup_keys(db), "", "matching num_db_items", "mismatch")
    dup_raw = blank_row_for(_dup_keys(raw), "", "matching num_pmsv_items", "mismatch")

    joined = db.alias("db").join(
        raw.alias("raw"),
        on=[F.col(f"db.{c}").eqNullSafe(F.col(f"raw.{c}")) for c in ["snapshot_id", *KEY_COLS]],
        how="full_outer",
    )
    key_mismatch_snapshots = (
        joined.filter(F.col("db.key_ts").isNull() | F.col("raw.key_ts").isNull())
        .select(
            F.coalesce(F.col("db.snapshot_id"), F.col("raw.snapshot_id")).alias(
                "snapshot_id"
            )
        )
    )
    key_mismatch = blank_row_for(
        key_mismatch_snapshots, "", "matching db_data and pmsv_data keys", "mismatch"
    )

    matched = joined.filter(
        F.col("db.key_ts").isNotNull() & F.col("raw.key_ts").isNotNull()
    )
    base = matched.select(
        F.col("db.snapshot_id").alias("snapshot_id"),
        F.col("db.key_ts").alias("recorded_at_time"),
        F.col("db.lon").cast("string").alias("lon"),
        F.col("db.lat").cast("string").alias("lat"),
        F.col("db.bearing").cast("string").alias("bearing"),
        F.col("db.velocity").cast("string").alias("velocity"),
        F.col("db.distance_from_journey_start").cast("string").alias(
            "distance_from_journey_start"
        ),
        *[F.col(f"db.{f}").cast("string").alias(f"db_{f}") for f in COMPARE_FIELDS],
        *[F.col(f"raw.{f}").cast("string").alias(f"raw_{f}") for f in COMPARE_FIELDS],
    )
    field_findings = None
    for f_name in COMPARE_FIELDS:
        finding = base.filter(
            ~F.col(f"db_{f_name}").eqNullSafe(F.col(f"raw_{f_name}"))
        ).select(
            *REPORT_COLUMNS[:7],
            F.lit(f_name).alias("field"),
            F.col(f"raw_{f_name}").alias("expected"),
            F.col(f"db_{f_name}").alias("actual"),
        )
        field_findings = finding if field_findings is None else field_findings.unionByName(finding)

    problem_snapshots = (
        dup_db.select("snapshot_id")
        .unionByName(dup_raw.select("snapshot_id"))
        .unionByName(key_mismatch.select("snapshot_id"))
        .unionByName(field_findings.select("snapshot_id"))
        .distinct()
    )
    clean = blank_row_for(
        db.select("snapshot_id")
        .distinct()
        .join(problem_snapshots, "snapshot_id", "left_anti"),
        "",
        "no errors",
        "no errors",
    )
    return (
        dup_db.unionByName(dup_raw)
        .unionByName(key_mismatch)
        .unionByName(field_findings)
        .unionByName(clean)
    )


def write_report(report: DataFrame, path: str) -> None:
    """S7: typed CSV report sink (reference :185-193 via dataflows)."""
    report.write.mode("overwrite").option("header", "true").csv(path)


def validate_snapshots(
    spark: SparkSession,
    wh: Warehouse,
    landing_root: str,
    snapshot_ids: list[str],
    report_path: str | None = None,
) -> DataFrame:
    """End-to-end: load both sides for the given snapshots, diff, report."""
    from .sources.snapshots import read_snapshots, snapshot_path
    import os

    paths = [
        snapshot_path(landing_root, s)
        for s in snapshot_ids
        if os.path.exists(snapshot_path(landing_root, s))
    ]
    raw = raw_derived(
        read_snapshots(spark, paths).filter(F.col("Siri").isNotNull())
    ).localCheckpoint(eager=True)
    db = db_derived(wh, snapshot_ids).localCheckpoint(eager=True)
    report = validate(db, raw)
    if report_path:
        write_report(report, report_path)
    return report
