"""EP2 — incremental daemon (reference process_snapshot.py:485-547).

Each tick: refresh the pending registry from storage, compute the resume
point (max loaded snapshot_id + 1 min, clamped to a lookback window), walk
minute-by-minute to now, process what exists, skip what doesn't.  The tick
itself is the reference's semantics verbatim; the per-snapshot core is the
set-oriented Spark pipeline.
"""

from __future__ import annotations

import datetime
import os
import signal
import time

from pyspark.sql import SparkSession

from .. import control
from ..pipeline import process_snapshot
from ..sources.snapshots import list_snapshot_ids, resolve_snapshot_path
from ..sources.tables import Warehouse

DEFAULT_SNAPSHOTS_TIMEDELTA = datetime.timedelta(minutes=10)  # reference :28
DAEMON_CADENCE_SECONDS = 60  # reference :543-547
DAEMON_FLOOR_SECONDS = 5

SNAPSHOT_ID_STRFTIME = "%Y/%m/%d/%H/%M"


class GracefulKiller:
    """SIGINT/SIGTERM flag checked between work units
    (reference graceful_killer.py:4-13)."""

    def __init__(self) -> None:
        self.kill_now = False
        signal.signal(signal.SIGINT, self._exit)
        signal.signal(signal.SIGTERM, self._exit)

    def _exit(self, *_args) -> None:
        self.kill_now = True


def _id_to_dt(snapshot_id: str) -> datetime.datetime:
    return datetime.datetime.strptime(snapshot_id, SNAPSHOT_ID_STRFTIME)


def _dt_to_id(dt: datetime.datetime) -> str:
    return dt.strftime(SNAPSHOT_ID_STRFTIME)


def process_new_snapshots(
    spark: SparkSession,
    wh: Warehouse,
    landing_root: str,
    now: datetime.datetime | None = None,
    last_snapshots_timedelta: datetime.timedelta = DEFAULT_SNAPSHOTS_TIMEDELTA,
    register_pending: bool = True,
) -> dict:
    """One daemon tick.  Returns {"processed": n, "attempted": n}.

    Mirrors reference :485-529: resume from max(loaded)+1min (T2), clamp to
    the lookback window when stale (T3), walk ascending minute-by-minute
    (W5), skip missing snapshots, process existing ones.
    """
    if now is None:
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    now = now.replace(second=0, microsecond=0, tzinfo=None)

    if register_pending:
        control.register_pending(wh, list_snapshot_ids(landing_root))

    earliest_allowed = now - last_snapshots_timedelta
    latest = control.latest_loaded_snapshot_id(wh)
    if latest is not None:
        resume = _id_to_dt(latest) + datetime.timedelta(minutes=1)
        if resume < earliest_allowed:
            resume = earliest_allowed
    else:
        resume = earliest_allowed

    processed = attempted = 0
    cur = resume
    while cur <= now:
        sid = _dt_to_id(cur)
        attempted += 1
        if os.path.exists(resolve_snapshot_path(landing_root, sid)[0]):
            process_snapshot(
                spark, wh, sid, landing_root, only_missing=True, force_reload=False
            )
            processed += 1
        cur += datetime.timedelta(minutes=1)
    return {"processed": processed, "attempted": attempted}


def start_daemon(
    spark: SparkSession,
    wh: Warehouse,
    landing_root: str,
    cadence_seconds: int = DAEMON_CADENCE_SECONDS,
    max_ticks: int | None = None,
) -> None:
    """T1 micro-batch trigger: run ticks on a fixed cadence with a floor,
    stopping on SIGINT/SIGTERM (reference :532-547)."""
    killer = GracefulKiller()
    ticks = 0
    while not killer.kill_now:
        started = time.time()
        process_new_snapshots(spark, wh, landing_root)
        ticks += 1
        if max_ticks is not None and ticks >= max_ticks:
            break
        elapsed = time.time() - started
        time.sleep(max(DAEMON_FLOOR_SECONDS, cadence_seconds - elapsed))
