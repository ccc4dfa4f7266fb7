"""Explicit StructTypes for every dataset in the engine (SURVEY §1, FIXTURES.md).

The reference's input schema is implicit (raw dict access with defaults,
reference process_snapshot.py:214-230); its output schema lives in external DB
migrations.  Here both sides are declared so no inference runs anywhere — a
scan at 100 TB must never pay a schema-inference pass.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: nested SIRI-SM snapshot document (reference tests/test_process_snapshot.py:21-67)
# All leaves are strings — the ETL does the typing (SURVEY §1.1).
# ---------------------------------------------------------------------------

_MONITORED_CALL = T.StructType(
    [
        T.StructField("StopPointRef", T.StringType()),
        T.StructField("Order", T.StringType()),
        T.StructField("DistanceFromStop", T.StringType()),
    ]
)

_VEHICLE_LOCATION = T.StructType(
    [
        T.StructField("Longitude", T.StringType()),
        T.StructField("Latitude", T.StringType()),
    ]
)

_FRAMED_JOURNEY = T.StructType(
    [
        T.StructField("DataFrameRef", T.StringType()),
        T.StructField("DatedVehicleJourneyRef", T.StringType()),
    ]
)

MONITORED_VEHICLE_JOURNEY = T.StructType(
    [
        T.StructField("LineRef", T.StringType()),
        T.StructField("OperatorRef", T.StringType()),
        T.StructField("FramedVehicleJourneyRef", _FRAMED_JOURNEY),
        T.StructField("OriginAimedDepartureTime", T.StringType()),
        T.StructField("VehicleRef", T.StringType()),
        T.StructField("Bearing", T.StringType()),
        T.StructField("Velocity", T.StringType()),
        T.StructField("VehicleLocation", _VEHICLE_LOCATION),
        T.StructField("MonitoredCall", _MONITORED_CALL),
    ]
)

MONITORED_STOP_VISIT = T.StructType(
    [
        T.StructField("RecordedAtTime", T.StringType()),
        T.StructField("MonitoredVehicleJourney", MONITORED_VEHICLE_JOURNEY),
    ]
)

STOP_MONITORING_DELIVERY = T.StructType(
    [
        T.StructField("ResponseTimestamp", T.StringType()),
        T.StructField("Status", T.StringType()),
        T.StructField("MonitoredStopVisit", T.ArrayType(MONITORED_STOP_VISIT)),
    ]
)

SIRI_SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField(
            "Siri",
            T.StructType(
                [
                    T.StructField(
                        "ServiceDelivery",
                        T.StructType(
                            [
                                T.StructField("ResponseTimestamp", T.StringType()),
                                T.StructField("ProducerRef", T.StringType()),
                                T.StructField("ResponseMessageIdentifier", T.StringType()),
                                T.StructField("RequestMessageRef", T.StringType()),
                                T.StructField("Status", T.StringType()),
                                T.StructField(
                                    "StopMonitoringDelivery",
                                    T.ArrayType(STOP_MONITORING_DELIVERY),
                                ),
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)

# ---------------------------------------------------------------------------
# Intermediate: parsed monitored-stop-visit record ("pmsv", SURVEY §1.2;
# reference process_snapshot.py:214-237)
# ---------------------------------------------------------------------------

PMSV_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("recorded_at_time", T.TimestampType()),
        T.StructField("line_ref", T.IntegerType()),
        T.StructField("operator_ref", T.IntegerType()),
        T.StructField("journey_ref", T.StringType()),
        T.StructField("scheduled_start_time", T.TimestampType()),
        T.StructField("vehicle_ref", T.StringType()),
        T.StructField("order", T.IntegerType()),
        T.StructField("stop_point_ref", T.IntegerType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("bearing", T.IntegerType()),
        T.StructField("velocity", T.IntegerType()),
        T.StructField("distance_from_journey_start", T.IntegerType()),
    ]
)

# ---------------------------------------------------------------------------
# Output: six-table snowflake (SURVEY §1.3).  Surrogate ids are deterministic
# xxhash64 of the natural key (SURVEY §7 hard-part 1) so reruns are idempotent
# — no Postgres sequences, no monotonically_increasing_id nondeterminism.
# ---------------------------------------------------------------------------

SIRI_ROUTE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("operator_ref", T.IntegerType()),
        T.StructField("line_ref", T.IntegerType()),
    ]
)

SIRI_STOP_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("code", T.IntegerType()),
    ]
)

SIRI_RIDE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("siri_route_id", T.LongType()),
        T.StructField("journey_ref", T.StringType()),
        T.StructField("vehicle_ref", T.StringType()),
        T.StructField("scheduled_start_time", T.TimestampType()),
    ]
)

SIRI_RIDE_STOP_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("siri_ride_id", T.LongType()),
        T.StructField("siri_stop_id", T.LongType()),
        T.StructField("order", T.IntegerType()),
    ]
)

SIRI_VEHICLE_LOCATION_SCHEMA = T.StructType(
    [
        T.StructField("siri_snapshot_id", T.LongType()),
        T.StructField("siri_ride_stop_id", T.LongType()),
        T.StructField("recorded_at_time", T.TimestampType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("bearing", T.IntegerType()),
        T.StructField("velocity", T.IntegerType()),
        T.StructField("distance_from_journey_start", T.IntegerType()),
        # partition / provenance columns (Spark-side addition; the reference
        # reaches snapshot via the siri_snapshot_id FK only)
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("snapshot_date", T.DateType()),
    ]
)

# Control table (reference process_snapshot.py:240-321; SURVEY §1.3)
SIRI_SNAPSHOT_CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("etl_status", T.StringType()),  # pending|loading|loaded|error
        T.StructField("etl_pending_time", T.TimestampType()),
        T.StructField("etl_start_time", T.TimestampType()),
        T.StructField("etl_end_time", T.TimestampType()),
        T.StructField("last_heartbeat", T.TimestampType()),
        T.StructField("created_by", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("num_successful_parse_vehicle_locations", T.IntegerType()),
        T.StructField("num_failed_parse_vehicle_locations", T.IntegerType()),
        T.StructField("num_added_siri_routes", T.IntegerType()),
        T.StructField("num_added_siri_stops", T.IntegerType()),
        T.StructField("num_added_siri_rides", T.IntegerType()),
        T.StructField("num_added_siri_ride_stops", T.IntegerType()),
    ]
)

# Dead-letter record (reference process_snapshot.py:41-48,231-237)
DEAD_LETTER_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("raw", T.StringType()),  # original visit as JSON string
    ]
)

DIM_TABLES = {
    "siri_route": SIRI_ROUTE_SCHEMA,
    "siri_stop": SIRI_STOP_SCHEMA,
    "siri_ride": SIRI_RIDE_SCHEMA,
    "siri_ride_stop": SIRI_RIDE_STOP_SCHEMA,
}

DAILY_ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_date", T.DateType(), False),
        T.StructField("n_locations", T.LongType()),
        T.StructField("n_snapshots", T.LongType()),
        T.StructField("n_ride_stops", T.LongType()),
        T.StructField("first_recorded", T.TimestampType()),
        T.StructField("last_recorded", T.TimestampType()),
        T.StructField("avg_velocity", T.DoubleType()),
    ]
)

ALL_TABLES = {
    **DIM_TABLES,
    "siri_vehicle_location": SIRI_VEHICLE_LOCATION_SCHEMA,
    "siri_snapshot": SIRI_SNAPSHOT_CONTROL_SCHEMA,
    "siri_daily_rollup": DAILY_ROLLUP_SCHEMA,
    "dead_letter": DEAD_LETTER_SCHEMA,
}
