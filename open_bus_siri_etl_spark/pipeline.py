"""EP1 — the end-to-end snapshot ETL (reference process_snapshot.py:398-483).

One declarative flow per batch:

    read.json → explode×2 → typed select/cast → valid/invalid split
      → (distinct keys ⟕anti dims → append) ×4 → fact write (idempotent
      partition overwrite) → dead-letter write → control-table bookends

The same core serves single-snapshot processing (golden-test parity),
multi-snapshot bulk processing (the backfill path — many files, one job,
per-snapshot stats recovered by groupBy on ``snapshot_id``), and the
incremental daemon (streaming.incremental).
"""

from __future__ import annotations

import functools
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
    get_or_create_objects,
    with_surrogate_ids,
)
from .sources.snapshots import (
    read_snapshots,
    read_snapshots_brotli,
    resolve_or_download_snapshot_path,
    snapshot_path,
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

    novelty = get_or_create_objects(wh, keyed)
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
    for r in (
        functools.reduce(DataFrame.unionByName, tagged)
        .groupBy("kind", "snapshot_id")
        .count()
        .collect()
    ):
        counters[r["kind"]][r["snapshot_id"]] = r["count"]
    _beat()

    # facts: idempotent per-snapshot replace
    facts = build_facts(keyed)
    wh.write_facts(facts, reload_snapshot_ids=good_ids)
    _beat()

    # dead letters: clear-and-write per snapshot (reference :409-414,232-234)
    if save_parse_errors:
        existing_dl = wh.read(_DEAD_LETTER_TABLE, invalid.schema)
        keep = existing_dl.filter(~F.col("snapshot_id").isin(good_ids))
        out = keep.unionByName(invalid).localCheckpoint(eager=True)
        wh.overwrite(_DEAD_LETTER_TABLE, out)

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
    ``file://`` in tests).  Returns the stats dict, or None when skipped.
    """
    existing = control.get_control_row(wh, snapshot_id)
    if only_missing and existing is not None and existing["etl_status"] == control.ETL_LOADED and not force_reload:
        return None
    row, _is_reload = control.start_loading(
        wh, snapshot_id, force_reload=force_reload, existing=existing
    )
    try:
        path, is_br = resolve_or_download_snapshot_path(
            landing_root, snapshot_id, url_template=download_url
        )
        snapshots_df = (
            read_snapshots_brotli(spark, path)
            if is_br
            else read_snapshots(spark, path)
        )
        hb_last = [row["last_heartbeat"]]

        def _hb():
            hb_last[0] = control.heartbeat(wh, snapshot_id, hb_last[0])

        stats_by_id, corrupt_ids = run_core(
            wh,
            snapshots_df,
            [snapshot_id],
            save_parse_errors=save_parse_errors,
            heartbeat_cb=_hb,
        )
        if corrupt_ids:
            raise ValueError(f"snapshot {snapshot_id}: corrupt document")
        stats = stats_by_id[snapshot_id]
        stats["etl_start_time"] = row["etl_start_time"]
        stats["etl_pending_time"] = row["etl_pending_time"]
        control.mark_loaded(wh, snapshot_id, stats)
        return stats
    except Exception:
        control.mark_error(
            wh,
            snapshot_id,
            traceback.format_exc(),
            {"etl_start_time": row["etl_start_time"]},
        )
        raise


def process_snapshots_bulk(
    spark: SparkSession,
    wh: Warehouse,
    snapshot_ids: list[str],
    landing_root: str,
) -> dict[str, dict]:
    """EP3 inner loop, Spark-style: N snapshots in ONE multi-file job.

    The reference fans out over 4 OS processes (parallel_...py:91-118);
    here a single ``read.json([paths])`` schedules per-file tasks across all
    executors and the set-oriented core amortizes the dim anti-joins over the
    whole batch.  Per-snapshot status granularity is preserved via
    ``input_file_name()``-derived snapshot_id: a corrupt document ends its
    own snapshot in ``error`` (``corrupt document``) with its earlier rows
    untouched, and the rest of the batch loads.
    """
    if not snapshot_ids:
        return {}
    hb_last = [control.start_loading_bulk(wh, snapshot_ids)]
    paths = [snapshot_path(landing_root, s) for s in snapshot_ids]
    try:
        snapshots_df = read_snapshots(spark, paths)

        def _hb():
            hb_last[0] = control.heartbeat_bulk(wh, snapshot_ids, hb_last[0])

        stats, corrupt_ids = run_core(wh, snapshots_df, snapshot_ids, heartbeat_cb=_hb)
        control.mark_loaded_bulk(wh, stats)
        for sid in sorted(corrupt_ids):
            control.mark_error(wh, sid, "corrupt document")
        return stats
    except Exception:
        for sid in snapshot_ids:
            control.mark_error(wh, sid, traceback.format_exc())
        raise


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

    Facts recovered here APPEND rather than partition-overwrite: the
    snapshot's previously loaded facts must survive, and replayed rows were
    never written before (they were invalid), so no duplicates can arise.
    Scale: the dead-letter table holds only failures — the whole pass costs
    O(failures), never a fact-table scan.
    """
    from .schemas import DEAD_LETTER_SCHEMA, MONITORED_STOP_VISIT

    dl = wh.read(_DEAD_LETTER_TABLE, DEAD_LETTER_SCHEMA)
    if snapshot_ids is not None:
        scope = dl.filter(F.col("snapshot_id").isin(snapshot_ids))
        rest = dl.filter(~F.col("snapshot_id").isin(snapshot_ids))
    else:
        scope, rest = dl, None

    probe = scope.select(
        "snapshot_id",
        F.col("raw").alias("orig_raw"),
        F.from_json("raw", MONITORED_STOP_VISIT).alias("visit"),
    )
    parsed = parse_monitored_stop_visits(probe, passthrough=("orig_raw",))
    keyed = with_surrogate_ids(valid_pmsv(parsed)).localCheckpoint(eager=True)
    still_bad = (
        parsed.filter(~F.col("_valid"))
        .select("snapshot_id", F.col("orig_raw").alias("raw"))
        .localCheckpoint(eager=True)
    )

    recovered = keyed.count()
    if recovered:
        get_or_create_objects(wh, keyed)
        wh.append(
            "siri_vehicle_location",
            build_facts(keyed),
            partition_by=["snapshot_date"],
        )
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

    out = still_bad if rest is None else rest.unionByName(still_bad)
    wh.overwrite(_DEAD_LETTER_TABLE, out.localCheckpoint(eager=True))
    remaining = wh.read(_DEAD_LETTER_TABLE, DEAD_LETTER_SCHEMA).count()
    keyed.unpersist()
    return {"recovered": recovered, "remaining": remaining}
