"""The benchmark workloads.

A workload has ``setup()`` (counted in ``setup_s``, not in the op
metrics), ``step()`` (one closed-loop round of ops, each an untimed
preparation followed by a timed call into the package) and ``verify()``
(end-of-run correctness check that marks ops failed).  Ops are dicts:
``kind``, ``s`` (timed seconds), ``ok``, ``error``.

The package is driven only through its public entry points; reads for
verification go through ``Warehouse.read``.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import time
import traceback

from pyspark.sql import functions as F

from open_bus_siri_etl_spark import backfill, pipeline, rollup, schemas, validate
from open_bus_siri_etl_spark.streaming import incremental

import hostcpu
import siri_gen

HERE = os.path.dirname(os.path.abspath(__file__))

VEHICLES = 200  # visits per snapshot
VALIDATE_MINUTES = 15  # validate_snapshots covers a seeded window of the hour
# Set-up runs every op once on a 2-minute "hour".  In a cold JVM the first
# daemon tick takes about 25 s, and the other ops of a full first hour take
# about 24 s, no longer than warm ones; a short hour compiles the same plans
# with less of that row work.
WARMUP_MINUTES = 2
HOUR_START = datetime.datetime(2024, 3, 4, 23, 28)  # the first timed hour crosses midnight
CATALOG_SF_DIR = os.path.join(HERE, "data", "sf0.01")
CATALOG_COUNTS = os.path.join(HERE, "catalog_counts.json")
HEADLINE = [
    "flagship_snowflake",
    "pricing_summary",
    "dedup_first_wins",
    "gap_sessionization",
    "broadcast_enrichment",
    "dim_upsert_novelty",
    "latest_per_key",
    "missing_minutes",
    "heavy_hitters_mg",
    "kmeans_clusters_k32",
]


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.wh = ctx.wh
        self.landing = ctx.landing

    def run_op(self, kind: str, layer: str, fn, check=None) -> tuple[dict, object]:
        """Time ``fn()`` as one op.  A raise, or a message from
        ``check(result)``, marks the op failed.  In a traced run the time
        of the trace's own probes inside the op is left out of ``s``, and
        the tracer's bookkeeping inside it is ``tracer_s``.  ``cpu_share`` is
        the share of its wanted CPU time the machine got (see hostcpu)."""
        op = {"kind": kind, "s": 0.0, "ok": True, "error": None}
        tracer = self.ctx.tracer
        span = tracer.span(kind, layer, op=True) if tracer else contextlib.nullcontext()
        probes, own = (tracer.probe_s, tracer.own_s) if tracer else (0.0, 0.0)
        result = None
        cpu0 = hostcpu.read()
        t0 = time.perf_counter()
        try:
            with span:
                result = fn()
        except Exception:
            op["ok"], op["error"] = False, traceback.format_exc(limit=3)
        finally:
            op["s"] = time.perf_counter() - t0
            op["cpu_share"] = hostcpu.share(cpu0, hostcpu.read())
            if tracer:
                op["s"] -= tracer.probe_s - probes
                op["tracer_s"] = tracer.own_s - own
        if isinstance(result, list):
            op["rows"] = len(result)
        if op["ok"] and check is not None:
            problem = check(result)
            if problem:
                op["ok"], op["error"] = False, problem
        return op, result

    def verify(self, ops: list[dict]) -> None:
        """Mark ops failed whose outputs are wrong (default: checked inline)."""


def check_loaded(wh, expected: dict[str, siri_gen.SnapshotCounts]) -> dict[str, str]:
    """Compare control rows, facts and dead letters per snapshot with the
    generator's counts; returns {snapshot_id: reason} for every mismatch."""
    ids = list(expected)

    def per_snapshot(df):
        return {
            r["snapshot_id"]: r["count"]
            for r in df.filter(F.col("snapshot_id").isin(ids))
            .groupBy("snapshot_id")
            .count()
            .collect()
        }

    control = {
        r["snapshot_id"]: r
        for r in wh.read("siri_snapshot").filter(F.col("snapshot_id").isin(ids)).collect()
    }
    facts = per_snapshot(wh.read("siri_vehicle_location"))
    dead = per_snapshot(wh.read("dead_letter", schemas.DEAD_LETTER_SCHEMA))
    bad = {}
    for sid, exp in expected.items():
        row = control.get(sid)
        if row is None or row["etl_status"] != "loaded":
            bad[sid] = f"status {row and row['etl_status']}"
            continue
        got = {
            "successful": row["num_successful_parse_vehicle_locations"],
            "failed": row["num_failed_parse_vehicle_locations"],
            "facts": facts.get(sid, 0),
            "dead_letters": dead.get(sid, 0),
            **{d: row[f"num_added_{d}s"] for d in siri_gen.DIMS},
        }
        want = {
            "successful": exp.valid,
            "failed": exp.dead,
            "facts": exp.valid,
            "dead_letters": exp.dead,
            **exp.added,
        }
        if got != want:
            bad[sid] = "counts (got, want): " + str(
                {k: (got[k], want[k]) for k in want if got[k] != want[k]}
            )
    return bad


def check_dims(wh, expected: dict[str, siri_gen.SnapshotCounts]) -> str | None:
    """Each dim table holds exactly the keys first seen in the loaded
    snapshots (the warehouse started empty)."""
    for dim in siri_gen.DIMS:
        n = wh.read(dim).count()
        want = sum(c.added[dim] for c in expected.values())
        if n != want:
            return f"{dim}: {n} rows, want {want}"
    return None


class HourCycle(Workload):
    """One hour of the paper's ETL per step, into a warehouse that starts
    empty.  61 snapshots land; then, each op timed on its own:

    - ``tick``: one daemon tick at the first minute loads that minute and
      registers the other 60 as pending (the minute-freshness path);
    - ``plan``: ``plan_batches`` turns the pending minutes into one batch;
    - ``batch``: ``process_snapshots_bulk`` loads the 60-snapshot batch;
    - ``validate``: ``validate_snapshots`` over a seeded 15-minute window
      of the hour, report collected;
    - ``rollup``: ``refresh_daily_rollup`` of the hour's dates;
    - ``join``: facts ⋈ ride_stop ⋈ ride ⋈ route per route, over the
      whole warehouse, built on ``Warehouse.read``.

    Fact file groups stay uncompacted and the dead-letter table grows every
    batch, as between two daily maintenance runs.  Set-up runs one short
    cycle untimed, so every plan is compiled before the first timed op.
    """

    def setup(self) -> None:
        self.feed = siri_gen.SiriFeed(
            self.ctx.seed, vehicles=VEHICLES, start=HOUR_START
        )
        self.loaded: dict[str, siri_gen.SnapshotCounts] = {}
        self.facts_by_date: dict[datetime.date, int] = {}
        for op in self.step(WARMUP_MINUTES):
            if not op["ok"]:
                raise RuntimeError(f"set-up {op['kind']} failed: {op['error']}")

    def step(self, minutes: int = 61) -> list[dict]:
        hour: dict[str, siri_gen.SnapshotCounts] = {}
        for _ in range(minutes):
            sid, doc, counts = self.feed.next()
            siri_gen.land(self.landing, sid, doc)
            hour[sid] = counts
        ids = list(hour)
        first = datetime.datetime.strptime(ids[0], "%Y/%m/%d/%H/%M")
        ops = []

        def record(op, loads=()):
            ops.append(op)
            op["ids"] = list(loads)
            for sid in loads:
                self.loaded[sid] = hour[sid]
                date = hour[sid].date
                self.facts_by_date[date] = self.facts_by_date.get(date, 0) + hour[sid].valid
            if loads:
                self.ctx.after_ingest_op(list(loads))

        op, _ = self.run_op(
            "tick",
            "streaming.incremental",
            lambda: incremental.process_new_snapshots(
                self.spark, self.wh, self.landing, now=first
            ),
            check=lambda r: None if r["processed"] == 1 else f"tick processed {r}",
        )
        record(op, ids[:1])

        op, plan = self.run_op(
            "plan",
            "backfill",
            lambda: backfill.plan_batches(self.wh).collect(),
            check=lambda rows: None
            if [sorted(r["snapshot_ids"]) for r in rows] == [ids[1:]]
            else f"plan_batches gave {[(r['from_snapshot_id'], r['n']) for r in rows]}, want one batch of {ids[1]}..{ids[-1]}",
        )
        record(op)

        batch = sorted(plan[0]["snapshot_ids"]) if op["ok"] else ids[1:]
        op, _ = self.run_op(
            "batch",
            "pipeline",
            lambda: pipeline.process_snapshots_bulk(
                self.spark, self.wh, batch, self.landing
            ),
        )
        record(op, batch)

        width = min(VALIDATE_MINUTES, len(ids))
        lo = self.ctx.rng.randrange(len(ids) - width + 1)
        window = ids[lo : lo + width]
        clean = sum(1 for s in window if hour[s].valid)
        op, _ = self.run_op(
            "validate",
            "validate",
            lambda: validate.validate_snapshots(
                self.spark, self.wh, self.landing, window
            ).collect(),
            check=lambda rows: None
            if len(rows) == clean and all(r["expected"] == "no errors" for r in rows)
            else f"validate: {len(rows)} rows, {sum(r['expected'] != 'no errors' for r in rows)} findings; want {clean} clean rows",
        )
        record(op)

        dates = sorted({c.date for c in hour.values()})
        op, _ = self.run_op(
            "rollup",
            "rollup",
            lambda: rollup.refresh_daily_rollup(self.wh, dates).collect(),
            check=self._check_rollup,
        )
        record(op)

        op, _ = self.run_op(
            "join", "sources.tables", self._route_rollup, check=self._check_join
        )
        record(op)
        return ops

    def _check_rollup(self, rows) -> str | None:
        got = {r["snapshot_date"]: r["n_locations"] for r in rows}
        if got != self.facts_by_date:
            return f"rollup n_locations {got}, want {self.facts_by_date}"
        return None

    def _route_rollup(self):
        wh = self.wh
        rs = wh.read("siri_ride_stop").select(
            F.col("id").alias("siri_ride_stop_id"), "siri_ride_id"
        )
        ride = wh.read("siri_ride").select(F.col("id").alias("siri_ride_id"), "siri_route_id")
        route = wh.read("siri_route").select(
            F.col("id").alias("siri_route_id"), "operator_ref", "line_ref"
        )
        return (
            wh.read("siri_vehicle_location")
            .join(rs, "siri_ride_stop_id")
            .join(ride, "siri_ride_id")
            .join(route, "siri_route_id")
            .groupBy("operator_ref", "line_ref")
            .agg(F.count(F.lit(1)).alias("n"), F.avg("velocity").alias("v"))
            .collect()
        )

    def _check_join(self, rows) -> str | None:
        facts = sum(c.valid for c in self.loaded.values())
        routes = sum(c.added["siri_route"] for c in self.loaded.values())
        n = sum(r["n"] for r in rows)
        if n != facts or len(rows) != routes:
            return f"join: {n} facts over {len(rows)} routes, want {facts} over {routes}"
        return None

    def verify(self, ops) -> None:
        bad = check_loaded(self.wh, self.loaded)
        dims = check_dims(self.wh, self.loaded)
        for op in ops:
            wrong = [f"{s}: {bad[s]}" for s in op["ids"] if s in bad]
            if dims is not None and op["ids"]:
                wrong.append(dims)
            if wrong and op["ok"]:
                op["ok"], op["error"] = False, "; ".join(wrong[:3])


class CatalogHeadline(Workload):
    """The ten headline catalog entries at sf0.01; one step is one pass
    over them in seeded order, one op is one entry's plan build plus
    ``count()``.  Set-up runs one untimed pass."""

    def setup(self) -> None:
        from open_bus_siri_etl_spark.plans.catalog import REGISTRY

        self.registry = REGISTRY
        with open(CATALOG_COUNTS) as f:
            self.want = json.load(f)["rows"]
        for op in self._pass(HEADLINE):
            if not op["ok"]:
                raise RuntimeError(f"set-up {op['kind']} failed: {op['error']}")

    def step(self) -> list[dict]:
        order = list(HEADLINE)
        self.ctx.rng.shuffle(order)
        return self._pass(order)

    def _pass(self, names: list[str]) -> list[dict]:
        return [self._entry(name) for name in names]

    def _entry(self, name: str) -> dict:
        tracer = self.ctx.tracer
        entry = self.registry[name]

        def run():
            if tracer is None:
                return entry.fn(self.spark, CATALOG_SF_DIR).count()
            with tracer.span("build", "plans.catalog", entry=name):
                df = entry.fn(self.spark, CATALOG_SF_DIR)
            with tracer.span("exec", "plans.catalog", entry=name):
                return df.count()

        want = self.want[name]
        op, _ = self.run_op(
            name,
            "plans.catalog",
            run,
            check=lambda n: None if n == want else f"{name}: {n} rows, want {want}",
        )
        op["ids"] = []
        return op


WORKLOADS = {
    "hour_cycle": HourCycle,
    "catalog_headline": CatalogHeadline,
}
