"""``validate.validate`` (one grouped plan) against ``_reference_report``, the
multi-branch report it replaced: two duplicate-key group-bys, a full outer
join on the key, a filter per field and a clean-snapshot anti join.  Report
rows must be equal as multisets on small synthetic sides covering every
finding, NULLs in keys and fields, one-sided snapshots and empty sides."""

import datetime
from collections import Counter

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_bus_siri_etl_spark.sources.tables import local_frame
from open_bus_siri_etl_spark.validate import COMPARE_FIELDS, KEY_COLS, REPORT_COLUMNS, validate

SIDE_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("key_ts", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("bearing", T.IntegerType()),
        T.StructField("velocity", T.IntegerType()),
        T.StructField("distance_from_journey_start", T.IntegerType()),
        T.StructField("recorded_at_time", T.TimestampType()),
        T.StructField("journey_ref", T.StringType()),
        T.StructField("vehicle_ref", T.StringType()),
        T.StructField("scheduled_start_time", T.TimestampType()),
        T.StructField("stop_code", T.IntegerType()),
        T.StructField("order", T.IntegerType()),
    ]
)


def _reference_report(db: DataFrame, raw: DataFrame) -> DataFrame:
    """The report as a union of about nine branches (the former
    ``validate.validate``), kept as the parity reference."""

    def dup_keys(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("snapshot_id", *KEY_COLS)
            .count()
            .filter("count > 1")
            .select("snapshot_id", *KEY_COLS)
        )

    def blank_row_for(df: DataFrame, field: str, expected: str, actual: str) -> DataFrame:
        return df.select("snapshot_id").distinct().select(
            "snapshot_id",
            *[F.lit("").alias(c) for c in REPORT_COLUMNS[1:7]],
            F.lit(field).alias("field"),
            F.lit(expected).alias("expected"),
            F.lit(actual).alias("actual"),
        )

    dup_db = blank_row_for(dup_keys(db), "", "matching num_db_items", "mismatch")
    dup_raw = blank_row_for(dup_keys(raw), "", "matching num_pmsv_items", "mismatch")

    joined = db.alias("db").join(
        raw.alias("raw"),
        on=[F.col(f"db.{c}").eqNullSafe(F.col(f"raw.{c}")) for c in ["snapshot_id", *KEY_COLS]],
        how="full_outer",
    )
    key_mismatch_snapshots = joined.filter(
        F.col("db.key_ts").isNull() | F.col("raw.key_ts").isNull()
    ).select(F.coalesce(F.col("db.snapshot_id"), F.col("raw.snapshot_id")).alias("snapshot_id"))
    key_mismatch = blank_row_for(
        key_mismatch_snapshots, "", "matching db_data and pmsv_data keys", "mismatch"
    )

    matched = joined.filter(F.col("db.key_ts").isNotNull() & F.col("raw.key_ts").isNotNull())
    base = matched.select(
        F.col("db.snapshot_id").alias("snapshot_id"),
        F.col("db.key_ts").alias("recorded_at_time"),
        *[F.col(f"db.{c}").cast("string").alias(c) for c in REPORT_COLUMNS[2:7]],
        *[F.col(f"db.{f}").cast("string").alias(f"db_{f}") for f in COMPARE_FIELDS],
        *[F.col(f"raw.{f}").cast("string").alias(f"raw_{f}") for f in COMPARE_FIELDS],
    )
    field_findings = None
    for f_name in COMPARE_FIELDS:
        finding = base.filter(~F.col(f"db_{f_name}").eqNullSafe(F.col(f"raw_{f_name}"))).select(
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
        db.select("snapshot_id").distinct().join(problem_snapshots, "snapshot_id", "left_anti"),
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


def _obs(snapshot_id: str, i: int, **kw) -> dict:
    t = datetime.datetime(2019, 5, 5, 13, 0, i)
    row = {
        "snapshot_id": snapshot_id,
        "key_ts": t.strftime("%Y%m%d%H%M%S"),
        "lon": 34.78 + i / 100,
        "lat": 32.08 - i / 100,
        "bearing": 10 * i,
        "velocity": i,
        "distance_from_journey_start": 100 * i,
        "recorded_at_time": t,
        "journey_ref": f"2019-05-05-{i}",
        "vehicle_ref": f"V{i}",
        "scheduled_start_time": datetime.datetime(2019, 5, 5, 12, 30),
        "stop_code": 1000 + i,
        "order": i,
    }
    row.update(kw)
    return row


A, B = "2019/05/05/16/00", "2019/05/05/16/01"
CLEAN = [_obs(A, i) for i in range(3)] + [_obs(B, i) for i in range(3, 5)]


def _case(name: str) -> tuple[list[dict], list[dict]]:
    """(db rows, raw rows) of one parity case."""
    raw = list(CLEAN)
    if name == "clean":
        return list(CLEAN), raw
    if name == "dropped_db_row":
        return CLEAN[1:], raw
    if name == "duplicated_db_row":
        return CLEAN + [CLEAN[0]], raw
    if name == "duplicated_raw_row":
        return list(CLEAN), raw + [CLEAN[3]]
    if name == "duplicated_key_both_sides_differing":
        # two db rows and two raw rows on one key, every field pair differs
        # somewhere: the findings are the 2 x 2 cross product's
        return (
            CLEAN + [{**CLEAN[1], "vehicle_ref": "D2", "order": 99}],
            raw + [{**CLEAN[1], "journey_ref": "R2", "stop_code": 7}],
        )
    if name == "mutated_field":
        return [{**CLEAN[2], "vehicle_ref": "DRIFTED"}, *CLEAN[:2], *CLEAN[3:]], raw
    if name == "null_field_one_side":
        return [{**CLEAN[0], "scheduled_start_time": None}, *CLEAN[1:]], [
            {**CLEAN[4], "order": None},
            *CLEAN[:4],
        ]
    if name == "null_key_col_both_sides":
        return (
            [{**CLEAN[0], "bearing": None}, {**CLEAN[3], "key_ts": None}, *CLEAN[1:3], CLEAN[4]],
            [{**CLEAN[0], "bearing": None}, {**CLEAN[3], "key_ts": None}, *CLEAN[1:3], CLEAN[4]],
        )
    if name == "snapshot_only_in_raw":
        return [r for r in CLEAN if r["snapshot_id"] == A], raw
    if name == "snapshot_only_in_db":
        return list(CLEAN), [r for r in CLEAN if r["snapshot_id"] == A]
    if name == "empty_sides":
        return [], []
    raise ValueError(name)


CASES = [
    "clean",
    "dropped_db_row",
    "duplicated_db_row",
    "duplicated_raw_row",
    "duplicated_key_both_sides_differing",
    "mutated_field",
    "null_field_one_side",
    "null_key_col_both_sides",
    "snapshot_only_in_raw",
    "snapshot_only_in_db",
    "empty_sides",
]


def _rows(report: DataFrame) -> Counter:
    assert report.columns == REPORT_COLUMNS
    return Counter(tuple(r) for r in report.collect())


@pytest.mark.parametrize("name", CASES)
def test_report_matches_reference(spark, name):
    db_rows, raw_rows = _case(name)
    db = local_frame(spark, db_rows, SIDE_SCHEMA)
    raw = local_frame(spark, raw_rows, SIDE_SCHEMA)
    want = _rows(_reference_report(db, raw))
    assert _rows(validate(db, raw)) == want
    # every case but the empty one reports something for each snapshot
    assert bool(want) == (name != "empty_sides")
