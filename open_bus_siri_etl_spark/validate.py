"""Phase 4 — snapshot validation (reference validate_snapshots.py:13-193).

The reference re-derives the raw data from the DB via a 4-way join, re-parses
the raw snapshot JSON, and diffs the two keyed maps: duplicate-key detection
(D3), key-set equality (W7), then per-field comparison on matched pairs (J5).
Report rows go to a typed CSV (S7).

Spark-first: the report is one plan with two shuffles and no checkpoints.
Both sides are tagged with a struct of their compared fields as strings,
unioned, and grouped once on the snapshot and the 6-column observation key
(recorded_at_time to the second + lon/lat/bearing/velocity/distance, exactly
the reference's key at :28-35,58-65) into one list of rows per side — the
keyed maps.  Group-by keys compare NULLs as equal, so this is the null-safe
key match.  Per key, list sizes give the duplicate-key (size > 1) and
key-mismatch (one list empty) findings, and the cross product of the two
lists gives the field findings.  A second group-by on the snapshot turns
them into report rows, with one 'no errors' row per clean snapshot.  Each
side is read once, so ``validate_snapshots`` materializes neither, and
adaptive execution runs the raw JSON scan beside the warehouse join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.flatten import iterate_monitored_stop_visits
from .operators.parse import parse_monitored_stop_visits, valid_pmsv
from .pipeline import read_landed
from .sources.snapshots import read_snapshots
from .sources.tables import Warehouse

KEY_COLS = ["key_ts", "lon", "lat", "bearing", "velocity", "distance_from_journey_start"]
COMPARE_FIELDS = ["journey_ref", "vehicle_ref", "scheduled_start_time", "stop_code", "order"]
# the report's position columns, taken from the db side of a finding
_POSITION_COLS = KEY_COLS[1:]

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


def _report_row(recorded_at_time, positions, field, expected, actual) -> F.Column:
    """One report row after ``snapshot_id``: REPORT_COLUMNS[1:], all strings."""
    return F.struct(
        recorded_at_time.alias("recorded_at_time"),
        *[p.alias(c) for p, c in zip(positions, _POSITION_COLS)],
        field.alias("field"),
        expected.alias("expected"),
        actual.alias("actual"),
    )


def _blank_row(expected: str, actual: str) -> F.Column:
    blank = F.lit("")
    return _report_row(blank, [blank] * len(_POSITION_COLS), blank, F.lit(expected), F.lit(actual))


def validate(db: DataFrame, raw: DataFrame) -> DataFrame:
    """Full validation report (REPORT_COLUMNS, all strings like the reference).

    Findings: 'matching num_db_items' / 'matching num_pmsv_items' (D3, a
    key held by more than one row of that side), 'matching db_data and
    pmsv_data keys' (W7, a key held by one side only, or with a NULL
    ``key_ts``), one row per field that differs between the two sides of
    every (db row, raw row) pair of a key (J5), and one 'no errors' row per
    snapshot in ``db`` with none of these — mirroring the reference's report
    rows.  The three key-level findings are reported once per snapshot.
    """
    sides = db.select(
        "snapshot_id",
        *KEY_COLS,
        F.struct(
            *[F.col(c).cast("string").alias(c) for c in _POSITION_COLS + COMPARE_FIELDS]
        ).alias("db"),
    ).unionByName(
        raw.select(
            "snapshot_id",
            *KEY_COLS,
            F.struct(*[F.col(c).cast("string").alias(c) for c in COMPARE_FIELDS]).alias("raw"),
        ),
        allowMissingColumns=True,
    )
    # group-by keys compare NULLs as equal: the eqNullSafe key match
    keyed = sides.groupBy("snapshot_id", *KEY_COLS).agg(
        F.collect_list("db").alias("db"), F.collect_list("raw").alias("raw")
    )
    n_db, n_raw = F.size("db"), F.size("raw")
    matched = (n_db > 0) & (n_raw > 0) & F.col("key_ts").isNotNull()

    def differences(d: F.Column, r: F.Column) -> F.Column:
        return F.array(
            *[
                F.when(
                    ~d[f].eqNullSafe(r[f]),
                    _report_row(
                        F.col("key_ts"),
                        [d[c] for c in _POSITION_COLS],
                        F.lit(f),
                        r[f],
                        d[f],
                    ),
                )
                for f in COMPARE_FIELDS
            ]
        )

    pair_findings = F.flatten(
        F.transform("db", lambda d: F.flatten(F.transform("raw", lambda r: differences(d, r))))
    )
    per_snapshot = keyed.groupBy("snapshot_id").agg(
        F.max(n_db > 1).alias("dup_db"),
        F.max(n_raw > 1).alias("dup_raw"),
        F.max(~matched).alias("key_mismatch"),
        F.max(n_db > 0).alias("in_db"),
        F.flatten(F.collect_list(F.when(matched, F.array_compact(pair_findings)))).alias(
            "findings"
        ),
    )
    problem = (
        F.col("dup_db") | F.col("dup_raw") | F.col("key_mismatch") | (F.size("findings") > 0)
    )
    blank_rows = F.array_compact(
        F.array(
            F.when(F.col("dup_db"), _blank_row("matching num_db_items", "mismatch")),
            F.when(F.col("dup_raw"), _blank_row("matching num_pmsv_items", "mismatch")),
            F.when(
                F.col("key_mismatch"),
                _blank_row("matching db_data and pmsv_data keys", "mismatch"),
            ),
            F.when(F.col("in_db") & ~problem, _blank_row("no errors", "no errors")),
        )
    )
    return per_snapshot.select(
        "snapshot_id", F.inline(F.concat(blank_rows, F.col("findings")))
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
    """End-to-end: load both sides for the given snapshots, diff, report.

    The raw side is every landed file of the ids, ``.json`` or ``.json.br``
    (``read_landed``); ids with no landed file have no raw rows.  With a
    ``report_path`` the report is computed once, written there, and
    returned from that computation, so collecting it runs no validation
    again."""
    snapshots, _missing = read_landed(spark, landing_root, snapshot_ids)
    if snapshots is None:
        snapshots = read_snapshots(spark, [])
    raw = raw_derived(snapshots.filter(F.col("Siri").isNotNull()))
    report = validate(db_derived(wh, snapshot_ids), raw)
    if report_path:
        report = report.localCheckpoint()
        write_report(report, report_path)
    return report
