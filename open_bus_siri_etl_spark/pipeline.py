"""EP1 — the end-to-end snapshot ETL (reference process_snapshot.py:398-483).

One declarative flow per batch:

    read.json → explode×2 → typed select/cast → valid/invalid split
      → ┬ (distinct keys ⟕anti dim → append) ×4, at once; each dim
        │   appends after its parents: route → ride → ride_stop ← stop
        └ dead-letter write (per-snapshot file groups, replaced on reload)
      → ┬ fact write (per-snapshot file groups), after all four dims
        └ per-snapshot counters collect
      → control-table bookends

The branches of each ┬ run at the same time from driver threads
(``operators.upsert.concurrent_jobs``), and each ┬ ends when all of its
jobs have, so readers never see a child dim row before its parent, or a
fact before its dims.

One bookended loader, ``load_batch``, serves the single-snapshot load
(``process_snapshot``: the daemon tick, golden-test parity), the bulk batch
(``process_snapshots_bulk``: backfill — many files, one job, per-snapshot
stats by groupBy on ``snapshot_id``) and the stream's ``foreachBatch``.
"""

from __future__ import annotations

import functools
import os
import traceback
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import control
from .functions import snapshot_control_id
from .metrics import observed
from .operators.flatten import iterate_monitored_stop_visits
from .operators.parse import dead_letters, parse_monitored_stop_visits, valid_pmsv
from .operators.upsert import (
    FIRST_SNAPSHOT_COL,
    concurrent_jobs,
    get_or_create_objects,
    with_surrogate_ids,
)
from .sources.snapshots import (
    read_snapshots,
    read_snapshots_brotli,
    resolve_or_download_snapshot_path,
)
from .sources.tables import Warehouse

_DEAD_LETTER_TABLE = "dead_letter"

FACT_COLUMNS = [
    "siri_snapshot_id",
    "siri_ride_stop_id",
    "recorded_at_time",
    "lon",
    "lat",
    "bearing",
    "velocity",
    "distance_from_journey_start",
    "snapshot_id",
    "snapshot_date",
]


def build_facts(keyed: DataFrame) -> DataFrame:
    """pmsv+ids → siri_vehicle_location rows (reference :437-451)."""
    return keyed.select(
        snapshot_control_id("snapshot_id").alias("siri_snapshot_id"),
        "siri_ride_stop_id",
        "recorded_at_time",
        "lon",
        "lat",
        "bearing",
        "velocity",
        "distance_from_journey_start",
        "snapshot_id",
        F.to_date(F.to_timestamp("snapshot_id", "yyyy/MM/dd/HH/mm")).alias(
            "snapshot_date"
        ),
    )


def run_core(
    wh: Warehouse,
    snapshots_df: DataFrame,
    snapshot_ids: list[str],
    save_parse_errors: bool = True,
    heartbeat_cb=None,
) -> tuple[dict[str, dict], set[str]]:
    """Run flatten→parse→dims→facts for a batch; return per-snapshot stats
    and the ids of corrupt documents.

    ``snapshots_df``: (snapshot_id, Siri, _corrupt_record) rows.
    Returns ``(stats, corrupt_ids)``.  ``corrupt_ids`` are the ids whose
    document has a NULL ``Siri`` (it did not parse), collected by an
    observation on the document scan that feeds the parse checkpoint, so
    finding them costs no scan of their own.  A corrupt id gets no stats
    and no dim, fact or dead-letter write: its earlier facts and dead
    letters stay, and a batch of nothing but corrupt documents returns
    before writing any of them.
    ``stats`` is {snapshot_id: {"num_successful", "num_failed",
    "num_added_siri_*"}} for every other id in ``snapshot_ids`` (ids with no
    rows in the batch get zero stats — an empty snapshot still loads
    successfully).

    All counters come from ONE collect: ``groupBy(kind, snapshot_id)`` over
    the four dims' novelty checkpoints (each new id counted for its
    ``_first_snapshot_id``, see operators.upsert) and the parse checkpoint
    (``_ok``/``_bad`` by ``_valid``) — two jobs however many snapshots the
    batch holds.

    After the parse, the core runs in two overlapped steps (module
    docstring): the four dim upserts beside the dead-letter write, then the
    fact write beside the counters collect.  A step that fails raises once
    all of its jobs have ended, so the next step never starts.

    ``heartbeat_cb`` (T5): invoked between Spark actions so a long batch
    keeps its control-table heartbeat fresh (the reference beats throughout
    processing, :121-203; amortization lives in control.heartbeat*).
    """

    def _beat():
        if heartbeat_cb is not None:
            heartbeat_cb()

    docs, doc_obs = observed(
        snapshots_df,
        "corrupt_documents",
        ids=F.collect_set(F.when(F.col("Siri").isNull(), F.col("snapshot_id"))),
    )
    visits = iterate_monitored_stop_visits(docs.filter(F.col("Siri").isNotNull()))
    # one scan of the JSON: the parsed rows carry ``_valid``, so both flows
    # split off the same checkpoint
    parsed = parse_monitored_stop_visits(visits).localCheckpoint(eager=True)
    corrupt_ids = set(doc_obs.get["ids"])
    good_ids = [s for s in snapshot_ids if s not in corrupt_ids]
    if corrupt_ids and not good_ids:
        parsed.unpersist()
        return {}, corrupt_ids
    _beat()
    keyed = with_surrogate_ids(valid_pmsv(parsed))
    invalid = dead_letters(parsed)

    with concurrent_jobs(wh.spark, 1) as submit:
        # dead letters: clear-and-write per snapshot (reference :409-414,232-234)
        if save_parse_errors:
            submit(wh.write_snapshot_groups, _DEAD_LETTER_TABLE, invalid, good_ids)
        novelty = get_or_create_objects(wh, keyed)
    _beat()

    tagged = [
        rows.select(
            F.lit(table).alias("kind"), F.col(FIRST_SNAPSHOT_COL).alias("snapshot_id")
        )
        for table, rows in novelty.items()
    ]
    tagged.append(
        parsed.select(
            F.when(F.col("_valid"), "_ok").otherwise("_bad").alias("kind"),
            "snapshot_id",
        )
    )
    counters: dict[str, dict[str, int]] = defaultdict(dict)
    with concurrent_jobs(wh.spark, 1) as submit:
        # facts: idempotent per-snapshot replace
        submit(wh.write_facts, build_facts(keyed), good_ids)
        for r in (
            functools.reduce(DataFrame.unionByName, tagged)
            .groupBy("kind", "snapshot_id")
            .count()
            .collect()
        ):
            counters[r["kind"]][r["snapshot_id"]] = r["count"]
    _beat()

    stats = {
        sid: {
            "num_successful": counters["_ok"].get(sid, 0),
            "num_failed": counters["_bad"].get(sid, 0),
            **{
                f"num_added_{table}s": counters[table].get(sid, 0)
                for table in novelty
            },
        }
        for sid in good_ids
    }
    parsed.unpersist()
    return stats, corrupt_ids


def read_landed(
    spark: SparkSession, landing_root: str, snapshot_ids: list[str], download_url=None
) -> tuple[DataFrame | None, set[str]]:
    """The ids' landed documents and the ids with no landed file.

    Each file is resolved (or first fetched from ``download_url``) as
    ``resolve_snapshot_path`` does: the ``.json`` ids in one
    ``read_snapshots`` scan, the ``.json.br`` ids in one
    ``read_snapshots_brotli`` scan, unioned only when both are present.  An
    id whose file is still not there after the download attempt is left
    out of the scan and returned as missing; the frame is None when every
    id is."""
    resolved = {
        s: resolve_or_download_snapshot_path(landing_root, s, url_template=download_url)
        for s in snapshot_ids
    }
    missing = {s for s, (path, _) in resolved.items() if not os.path.exists(path)}
    landed = [r for s, r in resolved.items() if s not in missing]
    plain = [path for path, is_br in landed if not is_br]
    compressed = [path for path, is_br in landed if is_br]
    frames = ([read_snapshots(spark, plain)] if plain else []) + (
        [read_snapshots_brotli(spark, compressed)] if compressed else []
    )
    frame = functools.reduce(DataFrame.unionByName, frames) if frames else None
    return frame, missing


def load_batch(
    wh: Warehouse, loading: list[dict], read, save_parse_errors: bool = True
) -> tuple[dict[str, dict], dict[str, str]]:
    """Run ``run_core`` between a batch's control bookends; returns its
    ``(stats, errors)``: the stats of every loaded id and the reason of
    every id that ended ``error`` on its own (``corrupt document``,
    ``snapshot file not found``).

    ``loading``: the loading rows written for the batch's ids; ``read()``
    returns the batch's snapshot frame (None for none) and the ids with no
    landed file, inside the bookends so a read that raises ends the ids in
    ``error``.  The rest of the batch loads without the missing ids.  The
    heartbeat of every id is amortized from the loading rows'
    ``last_heartbeat``.  Loaded and error rows are built from each id's
    loading row, so they keep its pending and start times.  On a raise
    every id is marked ``error`` and it re-raises.
    """
    by_id = {r["snapshot_id"]: r for r in loading}
    ids = list(by_id)
    hb_last = [loading[0]["last_heartbeat"]]

    def _hb():
        hb_last[0] = control.heartbeat_bulk(wh, ids, hb_last[0])

    try:
        snapshots_df, missing = read()
        stats, corrupt_ids = {}, set()
        if snapshots_df is not None:
            stats, corrupt_ids = run_core(
                wh,
                snapshots_df,
                [s for s in ids if s not in missing],
                save_parse_errors=save_parse_errors,
                heartbeat_cb=_hb,
            )
        control.mark_loaded_bulk(wh, {sid: {**by_id[sid], **s} for sid, s in stats.items()})
        errors = {
            **dict.fromkeys(corrupt_ids, "corrupt document"),
            **dict.fromkeys(missing, "snapshot file not found"),
        }
        for sid in sorted(errors):
            control.mark_error(wh, sid, errors[sid], by_id[sid])
    except Exception:
        error = traceback.format_exc()
        for sid, row in by_id.items():
            control.mark_error(wh, sid, error, row)
        raise
    return stats, errors


def process_snapshot(
    spark: SparkSession,
    wh: Warehouse,
    snapshot_id: str,
    landing_root: str,
    force_reload: bool = False,
    only_missing: bool = False,
    save_parse_errors: bool = True,
    download_url: str | None = None,
) -> dict | None:
    """Process one snapshot with full control-table bookends (EP1).

    ``only_missing``: skip ids already loaded (F4, reference :367).
    ``download_url``: S2 fetch seam — when the snapshot isn't landed locally,
    GET ``{download_url}/{id}.br`` into the landing root first (reference
    process_snapshot.py:324-348, ``download=True`` mode; any urllib scheme,
    ``file://`` in tests).  Returns the stats dict, or None when skipped; a
    document that does not parse, or a file that is not there, raises
    ``ValueError`` after its control row is marked ``error``.
    """
    existing = control.get_control_row(wh, snapshot_id)
    if only_missing and existing is not None and existing["etl_status"] == control.ETL_LOADED and not force_reload:
        return None
    row = control.start_loading(
        wh, snapshot_id, force_reload=force_reload, existing=existing
    )
    stats, errors = load_batch(
        wh,
        [row],
        lambda: read_landed(spark, landing_root, [snapshot_id], download_url),
        save_parse_errors=save_parse_errors,
    )
    if errors:
        raise ValueError(f"snapshot {snapshot_id}: {errors[snapshot_id]}")
    return stats[snapshot_id]


def process_snapshots_bulk(
    spark: SparkSession,
    wh: Warehouse,
    snapshot_ids: list[str],
    landing_root: str,
) -> dict[str, dict]:
    """EP3 inner loop, Spark-style: N snapshots in ONE multi-file job.

    The reference fans out over 4 OS processes (parallel_...py:91-118);
    here a single multi-file read (``read_landed``) schedules per-file
    tasks across all executors and the set-oriented core amortizes the dim
    anti-joins over the whole batch.  Per-snapshot status granularity is
    preserved via the path-derived snapshot_id: a corrupt document ends its
    own snapshot in ``error`` (``corrupt document``) with its earlier rows
    untouched, as does a minute whose landed file is gone (``snapshot file
    not found``), and the rest of the batch loads.  Returns the stats of the
    ids that loaded.
    """
    if not snapshot_ids:
        return {}
    stats, _errors = load_batch(
        wh,
        control.start_loading_bulk(wh, snapshot_ids),
        lambda: read_landed(spark, landing_root, snapshot_ids),
    )
    return stats


def replay_dead_letters(
    wh: Warehouse, snapshot_ids: list[str] | None = None
) -> dict[str, int]:
    """Re-attempt quarantined records after a parser or upstream-data fix.

    The reference's only recovery path is re-running the whole snapshot
    (process_snapshot.py:409-414 clears the error file and starts over);
    here the quarantined raw rows are themselves a table, so recovery is a
    set operation over JUST the failed records: re-parse them, route the
    now-valid ones through the normal dim-upsert + fact-append flow, keep
    the rest quarantined with their original bytes.  Control-row counters
    shift accordingly (successful += recovered, failed -= recovered).

    Recovered facts are written as new file groups of their snapshots,
    replacing none: the snapshot's previously loaded facts must survive, and
    replayed rows were never written before (they were invalid), so no
    duplicates can arise.  Still-bad rows replace the dead-letter groups of
    the replayed snapshots (every snapshot with dead letters when
    ``snapshot_ids`` is None).  Scale: the dead-letter table holds only
    failures — the whole pass costs O(failures), never a fact-table scan.
    """
    from .schemas import MONITORED_STOP_VISIT

    dl = wh.read(_DEAD_LETTER_TABLE)
    if snapshot_ids is None:
        snapshot_ids = [r["snapshot_id"] for r in dl.select("snapshot_id").distinct().collect()]
    probe = dl.filter(F.col("snapshot_id").isin(snapshot_ids)).select(
        "snapshot_id",
        F.col("raw").alias("orig_raw"),
        F.from_json("raw", MONITORED_STOP_VISIT).alias("visit"),
    )
    parsed = parse_monitored_stop_visits(probe, passthrough=("orig_raw",))
    keyed = with_surrogate_ids(valid_pmsv(parsed)).localCheckpoint(eager=True)

    recovered = keyed.count()
    if recovered:
        get_or_create_objects(wh, keyed)
        wh.write_facts(build_facts(keyed), reload_snapshot_ids=[])
        per = keyed.groupBy("snapshot_id").agg(F.count(F.lit(1)).alias("_n"))
        ctl = wh.read("siri_snapshot")
        touched = ctl.join(per, "snapshot_id", "inner")
        updated = touched.select(
            *[
                c
                for c in ctl.columns
                if c
                not in (
                    "num_successful_parse_vehicle_locations",
                    "num_failed_parse_vehicle_locations",
                )
            ],
            (
                F.col("num_successful_parse_vehicle_locations") + F.col("_n")
            ).cast("int").alias("num_successful_parse_vehicle_locations"),
            (
                F.col("num_failed_parse_vehicle_locations") - F.col("_n")
            ).cast("int").alias("num_failed_parse_vehicle_locations"),
        ).select(*ctl.columns)
        wh.upsert_rows("siri_snapshot", updated, ["snapshot_id"])

    # the sink stages the re-parsed rows before it unlinks the files they
    # were read from
    still_bad = parsed.filter(~F.col("_valid")).select(
        "snapshot_id", F.col("orig_raw").alias("raw")
    )
    wh.write_snapshot_groups(_DEAD_LETTER_TABLE, still_bad, snapshot_ids)
    remaining = wh.read(_DEAD_LETTER_TABLE).count()
    keyed.unpersist()
    return {"recovered": recovered, "remaining": remaining}
