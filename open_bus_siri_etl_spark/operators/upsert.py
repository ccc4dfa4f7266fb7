"""J1/D1/D2 — dimension derivation + get-or-create upserts (SURVEY §2.4-2.5).

The reference's ObjectsMaker walks three dependency levels with a commit
between each so Postgres sequences can assign parent ids before children
reference them (reference process_snapshot.py:113-211).  With deterministic
xxhash64 surrogate keys (functions.py) the child key is computable without
waiting for the parent write, so the three levels become three independent
anti-join appends over the *same* deduplicated batch — no barriers needed for
id assignment, only append ordering for referential integrity of readers.

Each ``derive_*`` row carries ``_first_snapshot_id``: the minimum
``snapshot_id`` among the rows that contribute its id.  The tag rides through
``Warehouse.upsert_dim``'s anti join into the novelty rows it returns (it is
never written to the table), so a batch of many snapshots counts each
snapshot's ``num_added_*`` from the novelty itself — a new id belongs to the
earliest snapshot that carries it, exactly as if the snapshots had been
loaded one by one in id order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import functions as fn
from ..sources.tables import Warehouse

FIRST_SNAPSHOT_COL = "_first_snapshot_id"


def with_surrogate_ids(pmsv: DataFrame) -> DataFrame:
    """Attach route/stop/ride/ride_stop surrogate ids to every pmsv row."""
    df = pmsv.withColumn(
        "siri_route_id", fn.route_id(F.col("operator_ref"), F.col("line_ref"))
    ).withColumn("siri_stop_id", fn.stop_id(F.col("stop_point_ref")))
    df = df.withColumn(
        "siri_ride_id",
        fn.ride_id(F.col("siri_route_id"), F.col("journey_ref"), F.col("vehicle_ref")),
    )
    return df.withColumn(
        "siri_ride_stop_id",
        fn.ride_stop_id(F.col("siri_ride_id"), F.col("siri_stop_id"), F.col("order")),
    )


def derive_routes(keyed: DataFrame) -> DataFrame:
    """D1: distinct (operator_ref, line_ref) — reference process_snapshot.py:114-125."""
    return keyed.groupBy(
        F.col("siri_route_id").alias("id"), "operator_ref", "line_ref"
    ).agg(F.min("snapshot_id").alias(FIRST_SNAPSHOT_COL))


def derive_stops(keyed: DataFrame) -> DataFrame:
    """D1: distinct stop codes — reference process_snapshot.py:127-130."""
    return keyed.groupBy(
        F.col("siri_stop_id").alias("id"), F.col("stop_point_ref").alias("code")
    ).agg(F.min("snapshot_id").alias(FIRST_SNAPSHOT_COL))


def derive_rides(keyed: DataFrame) -> DataFrame:
    """D2 first-wins: one ride per (route, journey_ref, vehicle_ref).

    ``scheduled_start_time`` is an attribute, not part of the key
    (reference process_snapshot.py:153-169): the reference keeps the first
    occurrence in document order.  Document order is not stable under
    distributed reads, so the engine picks the earliest
    (recorded_at_time, scheduled_start_time) — deterministic across runs and
    partitionings.  The ride's first snapshot is a ``min`` over the same
    partition, so both windows share one shuffle.
    """
    by_ride = Window.partitionBy("siri_ride_id")
    w = by_ride.orderBy("recorded_at_time", "scheduled_start_time")
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .withColumn(FIRST_SNAPSHOT_COL, F.min("snapshot_id").over(by_ride))
        .filter("_rn = 1")
        .select(
            F.col("siri_ride_id").alias("id"),
            "siri_route_id",
            "journey_ref",
            "vehicle_ref",
            "scheduled_start_time",
            FIRST_SNAPSHOT_COL,
        )
    )


def derive_ride_stops(keyed: DataFrame) -> DataFrame:
    """D1: distinct (ride, stop, order) — reference process_snapshot.py:184-199."""
    return keyed.groupBy(
        F.col("siri_ride_stop_id").alias("id"),
        "siri_ride_id",
        "siri_stop_id",
        "order",
    ).agg(F.min("snapshot_id").alias(FIRST_SNAPSHOT_COL))


def merge_frames(
    target: DataFrame, source: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Delta-style MERGE semantics on plain DataFrames: WHEN MATCHED THEN
    UPDATE (source's non-key columns win), WHEN NOT MATCHED THEN INSERT,
    unmatched target rows pass through.

    The reference only ever needs insert-if-absent (process_snapshot.py:
    113-211), but a production control table wants true upsert; this is the
    engine's lakehouse-free MERGE.  One full-outer join on the key — the
    single shuffle a Delta MERGE would also pay for its join phase.  Both
    inputs must be unique on ``key_cols`` (standard MERGE precondition;
    Delta likewise rejects duplicate source matches).
    """
    value_cols = [c for c in target.columns if c not in key_cols]
    # prefix source columns so target/source stay unambiguous even when both
    # sides share lineage (e.g. a self-derived update batch)
    src = source.select(
        *key_cols,
        *[F.col(c).alias(f"_src_{c}") for c in value_cols],
        F.lit(True).alias("_src_matched"),
    )
    joined = target.join(src, on=key_cols, how="full_outer")
    matched = F.col("_src_matched").isNotNull()
    out_cols = [F.col(c) for c in key_cols] + [
        F.when(matched, F.col(f"_src_{c}")).otherwise(F.col(c)).alias(c)
        for c in value_cols
    ]
    return joined.select(*out_cols)


def get_or_create_objects(wh: Warehouse, keyed: DataFrame) -> dict[str, DataFrame]:
    """Upsert all four dims for a pmsv batch; return the novelty rows added
    per table, each tagged with its ``_first_snapshot_id`` (callers count
    them per snapshot for the num_added_* control counters).

    Matches ObjectsMaker.get_or_create_objects (reference
    process_snapshot.py:205-211) but each level is one anti-join append.
    The anti-join key is the surrogate ``id`` (a pure function of the natural
    key), so one 8-byte column is shuffled/broadcast instead of the full key.
    """
    return {
        "siri_route": wh.upsert_dim("siri_route", derive_routes(keyed), ["id"]),
        "siri_stop": wh.upsert_dim("siri_stop", derive_stops(keyed), ["id"]),
        "siri_ride": wh.upsert_dim("siri_ride", derive_rides(keyed), ["id"]),
        "siri_ride_stop": wh.upsert_dim(
            "siri_ride_stop", derive_ride_stops(keyed), ["id"]
        ),
    }
