"""S8/T4/T5 — the ``siri_snapshot`` control-table state machine.

Reference: get_or_create_siri_snapshot / update_siri_snapshot_error /
update_siri_snapshot_loaded (process_snapshot.py:240-321), pending
registration (update_pending_snapshots.py:59-67).

States: pending → loading → loaded | error.  A ``loading`` row with a fresh
heartbeat (< 120 s) blocks concurrent reprocessing unless force_reload
(reference :261-268).  Every transition APPENDS a versioned row to the
control log (Warehouse LOG_TABLES); readers see latest-per-snapshot, and the
daily compact() collapses the log — so status writes never rewrite the table
or take a lock, removing the last per-snapshot serialization point at
100x ingest fan-in.  At production scale the log becomes a Delta table with
MERGE; the dataflow tables are unaffected by that choice.

Each transition's row has one builder: ``_loading_row`` (single and bulk)
and ``_end_row`` (loaded and error).  The loading row carries
``etl_pending_time`` forward and stamps ``etl_start_time``; the end row is
built from the loading row merged with the stats (``pipeline.load_batch``),
so both times survive on every ingest path.  Rows go to Spark as an Arrow
local relation (``sources.tables.local_frame``): a transition costs one
Spark job, the log append.  The amortized heartbeat fires at most once per
``HEARTBEAT_AMORTIZE_SECONDS``, counted from the ``last_heartbeat`` the
loading transition wrote.  ``mark_loaded`` and ``heartbeat`` are the one-id
forms of their bulk transitions.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas
from .functions import snapshot_control_id
from .sources.tables import Warehouse, local_frame

HEARTBEAT_TAKEOVER_SECONDS = 120  # reference process_snapshot.py:261-268
HEARTBEAT_AMORTIZE_SECONDS = 5  # reference process_snapshot.py:315-321
CREATED_BY = "spark-siri-etl"

ETL_PENDING = "pending"
ETL_LOADING = "loading"
ETL_LOADED = "loaded"
ETL_ERROR = "error"

_CONTROL = "siri_snapshot"


class SnapshotLoadingError(Exception):
    """Another loader holds a fresh heartbeat on this snapshot."""


def _now() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


def _control_row(snapshot_id: str, **kw) -> dict:
    base = {f.name: None for f in schemas.SIRI_SNAPSHOT_CONTROL_SCHEMA.fields}
    base["snapshot_id"] = snapshot_id
    base.update(kw)
    return base


_CREATE_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in schemas.SIRI_SNAPSHOT_CONTROL_SCHEMA.fields]
)
_ID_SCHEMA = T.StructType([T.StructField("snapshot_id", T.StringType())])
_PENDING_SCHEMA = T.StructType(
    [_ID_SCHEMA["snapshot_id"], schemas.SIRI_SNAPSHOT_CONTROL_SCHEMA["etl_pending_time"]]
)
_UNREAD = object()


def _write_rows(wh: Warehouse, rows: list[dict]) -> None:
    df = local_frame(wh.spark, rows, _CREATE_SCHEMA).withColumn(
        "id", snapshot_control_id("snapshot_id")
    )
    wh.upsert_rows(_CONTROL, df, ["snapshot_id"])


def get_control_row(wh: Warehouse, snapshot_id: str) -> dict | None:
    rows = (
        wh.read(_CONTROL)
        .filter(F.col("snapshot_id") == snapshot_id)
        .limit(1)
        .collect()
    )
    return rows[0].asDict() if rows else None


# control-row counter column → run_core stats key
_COUNTERS = {
    "num_successful_parse_vehicle_locations": "num_successful",
    "num_failed_parse_vehicle_locations": "num_failed",
    "num_added_siri_routes": "num_added_siri_routes",
    "num_added_siri_stops": "num_added_siri_stops",
    "num_added_siri_rides": "num_added_siri_rides",
    "num_added_siri_ride_stops": "num_added_siri_ride_stops",
}


def _loading_row(
    snapshot_id: str, pending_time: datetime.datetime | None, now: datetime.datetime
) -> dict:
    return _control_row(
        snapshot_id,
        etl_status=ETL_LOADING,
        etl_pending_time=pending_time,
        etl_start_time=now,
        last_heartbeat=now,
        created_by=CREATED_BY,
        **dict.fromkeys(_COUNTERS, 0),
    )


def _end_row(
    snapshot_id: str, status: str, stats: dict, error: str, now: datetime.datetime
) -> dict:
    """The loaded or error row; times and counters come from ``stats``."""
    return _control_row(
        snapshot_id,
        etl_status=status,
        etl_pending_time=stats.get("etl_pending_time"),
        etl_start_time=stats.get("etl_start_time"),
        etl_end_time=now,
        last_heartbeat=now,
        created_by=CREATED_BY,
        error=error[:10000],
        **{col: stats.get(key, 0) for col, key in _COUNTERS.items()},
    )


def start_loading(
    wh: Warehouse,
    snapshot_id: str,
    force_reload: bool = False,
    existing: dict | None = _UNREAD,
) -> dict:
    """pending/new/error → loading; returns the loading row written.

    Mirrors get_or_create_siri_snapshot (reference :240-280): refuses when a
    concurrent loader's heartbeat is younger than 120 s (unless force) and
    resets counters.  A reload replaces the snapshot's old facts and dead
    letters (run_core passes every id of its batch to
    Warehouse.write_snapshot_groups as the ids to replace).
    ``existing``: the snapshot's current control row (None if it has none)
    when the caller has just read it; otherwise it is read here.
    """
    if existing is _UNREAD:
        existing = get_control_row(wh, snapshot_id)
    now = _now()
    if existing is not None and existing["etl_status"] == ETL_LOADING and not force_reload:
        hb = existing["last_heartbeat"]
        if hb is not None and (now - hb).total_seconds() < HEARTBEAT_TAKEOVER_SECONDS:
            raise SnapshotLoadingError(
                f"snapshot {snapshot_id} is being loaded (fresh heartbeat)"
            )
    row = _loading_row(snapshot_id, (existing or {}).get("etl_pending_time"), now)
    _write_rows(wh, [row])
    return row


def start_loading_bulk(wh: Warehouse, snapshot_ids: list[str]) -> list[dict]:
    """Bulk loading-status write for force-reload batch paths (backfill /
    streaming foreachBatch): skips the per-snapshot guard — batch callers
    own the whole id range — and writes one control update for all ids.

    Reads the batch's existing control rows once, for their
    ``etl_pending_time``, so the loading rows carry it forward.  A pending
    time is written once and carried by every later version, so the read
    takes the raw log (one scan job) instead of resolving latest versions.
    Returns the loading rows written ([] for no ids)."""
    if not snapshot_ids:
        return []
    pending = {}
    if wh.exists(_CONTROL):
        pending = {
            r["snapshot_id"]: r["etl_pending_time"]
            for r in wh.spark.read.schema(_PENDING_SCHEMA)
            .parquet(wh.table_path(_CONTROL))
            .filter(
                F.col("snapshot_id").isin(list(snapshot_ids))
                & F.col("etl_pending_time").isNotNull()
            )
            .collect()
        }
    now = _now()
    rows = [_loading_row(sid, pending.get(sid), now) for sid in snapshot_ids]
    _write_rows(wh, rows)
    return rows


def mark_loaded(wh: Warehouse, snapshot_id: str, stats: dict) -> None:
    """loading → loaded with counters (reference :302-312)."""
    mark_loaded_bulk(wh, {snapshot_id: stats})


def mark_loaded_bulk(wh: Warehouse, stats_by_id: dict[str, dict]) -> None:
    """Bulk form: ONE control-log append for a whole batch (a per-snapshot
    loop would pay |batch| appends)."""
    if not stats_by_id:
        return
    now = _now()
    _write_rows(
        wh, [_end_row(sid, ETL_LOADED, s, "", now) for sid, s in stats_by_id.items()]
    )


def mark_error(wh: Warehouse, snapshot_id: str, error: str, stats: dict | None = None) -> None:
    """any → error with traceback text (reference :289-299)."""
    _write_rows(wh, [_end_row(snapshot_id, ETL_ERROR, stats or {}, error, _now())])


def register_pending(
    wh: Warehouse,
    snapshot_ids: list[str],
    min_date: datetime.date | None = None,
) -> int:
    """J4 discovery: bulk-insert unseen snapshot ids as ``pending``
    (reference update_pending_snapshots.py:47-68).  Anti-join replaces the
    reference's select-existing + set-difference + 1000-row insert batching —
    at scale the listing side is a DataFrame and this is one shuffle-free
    broadcast anti join.  Any logged row makes an id known, so the join
    reads the raw log (``Warehouse.logged_keys``), not its latest versions.

    ``min_date`` is the GTFS-data clamp (reference
    update_pending_snapshots.py:88-97: only snapshots dated at-or-after the
    first available ``gtfs_data.date`` are registered — earlier ones can
    never be enriched).  Callers pass ``min(gtfs_data.date)`` when a GTFS
    table exists; None disables the clamp."""
    if not snapshot_ids:
        return 0
    now = _now()
    candidates = local_frame(
        wh.spark, [{"snapshot_id": s} for s in snapshot_ids], _ID_SCHEMA
    )
    if min_date is not None:
        candidates = candidates.filter(
            F.to_date(F.substring("snapshot_id", 1, 10), "yyyy/MM/dd")
            >= F.lit(min_date)
        )
    if wh.exists(_CONTROL):
        candidates = candidates.join(
            wh.logged_keys(_CONTROL), "snapshot_id", "left_anti"
        )
    new = [r["snapshot_id"] for r in candidates.collect()]
    if not new:
        return 0
    rows = [
        _control_row(s, etl_status=ETL_PENDING, etl_pending_time=now, created_by=CREATED_BY)
        for s in new
    ]
    _write_rows(wh, rows)
    return len(new)


def heartbeat(wh: Warehouse, snapshot_id: str, last: datetime.datetime | None) -> datetime.datetime | None:
    """T5: amortized liveness write (≤ 1 per 5 s, reference :315-321)."""
    return heartbeat_bulk(wh, [snapshot_id], last)


def heartbeat_bulk(
    wh: Warehouse, snapshot_ids: list[str], last: datetime.datetime | None
) -> datetime.datetime | None:
    """T5 for batch paths: one amortized liveness write refreshing every id
    in the batch (a per-id loop would pay |batch| table rewrites per beat)."""
    now = _now()
    if last is not None and (now - last).total_seconds() < HEARTBEAT_AMORTIZE_SECONDS:
        return last
    rows = [
        r.asDict()
        for r in wh.read(_CONTROL)
        .filter(F.col("snapshot_id").isin(list(snapshot_ids)))
        .collect()
    ]
    for r in rows:
        r["last_heartbeat"] = now
    if rows:
        _write_rows(wh, rows)
    return now


def latest_loaded_snapshot_id(wh: Warehouse) -> str | None:
    """A2/T2: resume point = max snapshot_id where loaded (reference :495-498)."""
    r = (
        wh.read(_CONTROL)
        .filter(F.col("etl_status") == ETL_LOADED)
        .agg(F.max("snapshot_id").alias("m"))
        .collect()[0]
    )
    return r["m"]

