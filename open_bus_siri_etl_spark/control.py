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

Each write builds its rows as Python dicts and hands them to Spark as an
Arrow local relation (``sources.tables.local_frame``), so a status
transition costs one Spark job: the log append.  Callers that already hold a row pass it on
instead of reading it back (``start_loading(existing=...)``).  The
amortized heartbeat (``heartbeat`` / ``heartbeat_bulk``) fires at most once
per ``HEARTBEAT_AMORTIZE_SECONDS``, counted from the ``last_heartbeat`` the
loading transition wrote, so a load shorter than that writes no beat.
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


def start_loading(
    wh: Warehouse,
    snapshot_id: str,
    force_reload: bool = False,
    existing: dict | None = _UNREAD,
) -> tuple[dict, bool]:
    """pending/new/error → loading; returns (row, is_reload).

    Mirrors get_or_create_siri_snapshot (reference :240-280): refuses when a
    concurrent loader's heartbeat is younger than 120 s (unless force),
    resets counters, and (for reloads) the caller must delete the snapshot's
    old facts (Warehouse.delete_fact_snapshots / write_facts reload path).
    ``existing``: the snapshot's current control row (None if it has none)
    when the caller has just read it; otherwise it is read here.
    """
    if existing is _UNREAD:
        existing = get_control_row(wh, snapshot_id)
    now = _now()
    is_reload = False
    if existing is not None:
        if existing["etl_status"] == ETL_LOADING and not force_reload:
            hb = existing["last_heartbeat"]
            if hb is not None and (now - hb).total_seconds() < HEARTBEAT_TAKEOVER_SECONDS:
                raise SnapshotLoadingError(
                    f"snapshot {snapshot_id} is being loaded (fresh heartbeat)"
                )
        is_reload = existing["etl_status"] in (ETL_LOADED, ETL_ERROR, ETL_LOADING)
    row = _control_row(
        snapshot_id,
        etl_status=ETL_LOADING,
        etl_pending_time=(existing or {}).get("etl_pending_time"),
        etl_start_time=now,
        last_heartbeat=now,
        created_by=CREATED_BY,
        num_successful_parse_vehicle_locations=0,
        num_failed_parse_vehicle_locations=0,
        num_added_siri_routes=0,
        num_added_siri_stops=0,
        num_added_siri_rides=0,
        num_added_siri_ride_stops=0,
    )
    _write_rows(wh, [row])
    return row, is_reload


def _loaded_row(snapshot_id: str, stats: dict, now) -> dict:
    return _control_row(
        snapshot_id,
        etl_status=ETL_LOADED,
        etl_start_time=stats.get("etl_start_time"),
        etl_pending_time=stats.get("etl_pending_time"),
        etl_end_time=now,
        last_heartbeat=now,
        created_by=CREATED_BY,
        error="",
        num_successful_parse_vehicle_locations=stats.get("num_successful", 0),
        num_failed_parse_vehicle_locations=stats.get("num_failed", 0),
        num_added_siri_routes=stats.get("num_added_siri_routes", 0),
        num_added_siri_stops=stats.get("num_added_siri_stops", 0),
        num_added_siri_rides=stats.get("num_added_siri_rides", 0),
        num_added_siri_ride_stops=stats.get("num_added_siri_ride_stops", 0),
    )


def mark_loaded(wh: Warehouse, snapshot_id: str, stats: dict) -> None:
    """loading → loaded with counters (reference :302-312)."""
    _write_rows(wh, [_loaded_row(snapshot_id, stats, _now())])


def mark_loaded_bulk(wh: Warehouse, stats_by_id: dict[str, dict]) -> None:
    """Bulk form: ONE control-table read-modify-write for a whole batch
    (a per-snapshot loop would pay |batch| sequential table rewrites)."""
    if not stats_by_id:
        return
    now = _now()
    _write_rows(wh, [_loaded_row(sid, s, now) for sid, s in stats_by_id.items()])


def start_loading_bulk(
    wh: Warehouse, snapshot_ids: list[str]
) -> datetime.datetime | None:
    """Bulk loading-status write for force-reload batch paths (backfill /
    streaming foreachBatch): skips the per-snapshot guard — batch callers
    own the whole id range — and writes one control update for all ids.
    Returns the ``last_heartbeat`` written (None for no ids)."""
    if not snapshot_ids:
        return None
    now = _now()
    rows = [
        _control_row(
            sid,
            etl_status=ETL_LOADING,
            etl_start_time=now,
            last_heartbeat=now,
            created_by=CREATED_BY,
            num_successful_parse_vehicle_locations=0,
            num_failed_parse_vehicle_locations=0,
            num_added_siri_routes=0,
            num_added_siri_stops=0,
            num_added_siri_rides=0,
            num_added_siri_ride_stops=0,
        )
        for sid in snapshot_ids
    ]
    _write_rows(wh, rows)
    return now


def mark_error(wh: Warehouse, snapshot_id: str, error: str, stats: dict | None = None) -> None:
    """any → error with traceback text (reference :289-299)."""
    stats = stats or {}
    now = _now()
    row = _control_row(
        snapshot_id,
        etl_status=ETL_ERROR,
        etl_start_time=stats.get("etl_start_time"),
        etl_pending_time=stats.get("etl_pending_time"),
        etl_end_time=now,
        last_heartbeat=now,
        created_by=CREATED_BY,
        error=error[:10000],
        num_successful_parse_vehicle_locations=stats.get("num_successful", 0),
        num_failed_parse_vehicle_locations=stats.get("num_failed", 0),
    )
    _write_rows(wh, [row])


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
    now = _now()
    if last is not None and (now - last).total_seconds() < HEARTBEAT_AMORTIZE_SECONDS:
        return last
    row = get_control_row(wh, snapshot_id)
    if row is None:
        return now
    row["last_heartbeat"] = now
    _write_rows(wh, [row])
    return now


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


def pending_snapshot_ids(wh: Warehouse, newest_first: bool = True) -> list[str]:
    """W2: pending work list (reference parallel_...py:32-39)."""
    df = wh.read(_CONTROL).filter(F.col("etl_status") == ETL_PENDING)
    df = df.orderBy(
        F.col("snapshot_id").desc() if newest_first else F.col("snapshot_id")
    )
    return [r["snapshot_id"] for r in df.select("snapshot_id").collect()]
