"""Traced-run instrumentation: which package functions are wrapped, what
each wrapper records, and how spans become the per-layer metrics.

Layer names are module names.  Time metrics are self time (span duration
minus its children) summed over the timed phase and divided by the number
of steps (hour cycles, catalog passes), so the ``*_s`` metrics of all
layers add up to the mean step time; counts are per step too.  Exceptions:
the end-of-run table state (``tables.files.*``,
``control.log_rows_per_snapshot``), the per-kind op medians (``ops.*``)
and the per-entry catalog medians.  A layer the workload never enters
reports 0.
"""

from __future__ import annotations

import datetime
import os
import statistics
import time
from collections import defaultdict

from open_bus_siri_etl_spark import backfill, control, pipeline, rollup, validate
from open_bus_siri_etl_spark.operators.flatten import iterate_monitored_stop_visits
from open_bus_siri_etl_spark.operators.parse import (
    dead_letters,
    parse_monitored_stop_visits,
    valid_pmsv,
)
from open_bus_siri_etl_spark.sources import snapshots
from open_bus_siri_etl_spark.sources.snapshots import read_snapshots, snapshot_path
from open_bus_siri_etl_spark.sources.tables import Warehouse
from open_bus_siri_etl_spark.streaming import incremental

import siri_gen
import spans
from workloads import HEADLINE

TABLES = (
    "siri_route",
    "siri_stop",
    "siri_ride",
    "siri_ride_stop",
    "siri_vehicle_location",
    "siri_snapshot",
    "dead_letter",
    "siri_daily_rollup",
)
CONTROL_FNS = (
    "get_control_row",
    "start_loading",
    "start_loading_bulk",
    "mark_loaded",
    "mark_loaded_bulk",
    "mark_error",
    "register_pending",
    "heartbeat",
    "heartbeat_bulk",
    "latest_loaded_snapshot_id",
)

OP_KINDS = ("tick", "plan", "batch", "validate", "rollup", "join")

PER_LAYER: dict[str, str] = {
    **{f"ops.{k}_s": "s" for k in OP_KINDS},
    "snapshots.read_s": "s",
    "snapshots.files": "count",
    "snapshots.bytes": "bytes",
    "snapshots.list_s": "s",
    "snapshots.listed": "count",
    "parse.visits": "count",
    "parse.valid": "count",
    "parse.dead": "count",
    "parse.valid_ratio": "fraction",
    "parse.exec_s": "s",
    "upsert.s": "s",
    "upsert.jobs": "count",
    **{f"upsert.candidates.{d}": "count" for d in siri_gen.DIMS},
    **{f"upsert.novelty.{d}": "count" for d in siri_gen.DIMS},
    **{f"upsert.novelty_ratio.{d}": "fraction" for d in siri_gen.DIMS},
    "tables.write_facts_s": "s",
    "tables.fact_files_written": "count",
    "tables.dead_letter_s": "s",
    "tables.dl_rows_written": "count",
    "tables.dl_rows_new": "count",
    "tables.dl_amplification": "ratio",
    "tables.read_s": "s",
    **{f"tables.files.{t}": "count" for t in TABLES},
    "control.s": "s",
    "control.calls": "count",
    "control.jobs": "count",
    "control.log_rows_per_snapshot": "ratio",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "incremental.tick_s": "s",
    "incremental.minutes_walked": "count",
    "validate.s": "s",
    "validate.jobs": "count",
    "validate.report_rows": "count",
    "rollup.refresh_s": "s",
    "backfill.plan_s": "s",
    **{
        f"catalog.{e}.{m}": u
        for e in HEADLINE
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs_build", "count"), ("jobs_exec", "count"))
    },
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "process.peak_rss_mb": "MiB",
    "host.cpu_share": "fraction",
    "overhead.probe_s": "s",
}

NOTES = {
    "ops.*": "median op time per kind, minus the time of the trace's own "
    "probes inside the op (that time is overhead.probe_s)",
    "overhead.cycle_s": "cycle_s minus cycle_s recomputed with the tracer's "
    "own bookkeeping inside each op taken out (job groups, status-tracker "
    "queries, span hooks); the Spark event log is written off the driver "
    "thread and is not in it",
    "host.cpu_share": "median over ops of the share of the CPU time the "
    "machine asked for that the hypervisor gave it (hostcpu); the end-to-end "
    "times of an untraced run are scaled by it, the ops.* times are not",
    "overhead.setup_s": "not measured: tracing starts after set-up, which "
    "differs from an untraced set-up only by writing the Spark event log",
    "snapshots.read_s": "read_snapshots only plans the scan and lists files; "
    "the JSON parse itself runs inside later jobs and shows in parse.exec_s "
    "and the pipeline/upsert jobs",
    "parse.*": "from a probe after each ingest op that re-reads the op's "
    "files and forces valid_pmsv(parse(flatten(...))) into a noop sink; its "
    "jobs are kept out of every other metric",
    "upsert.candidates/novelty": "counted by a probe on the arguments and "
    "result of Warehouse.upsert_dim; probe time is a child span, so it is "
    "not in upsert.s",
    "tables.dl_rows_written": "rows of the dead-letter table each batch "
    "rewrites (counted on the DataFrame handed to Warehouse.overwrite)",
    "spark.driver_gap_s": "op time minus probe time minus the time some "
    "task of the op was running (from the event log)",
}


class Layers:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer: spans.Tracer = ctx.tracer

    # -- wrapping ------------------------------------------------------------

    def _probe(self, label: str, df) -> int:
        with self.tracer.span(f"count:{label}", "probe", probe=True):
            return df.count()

    def install(self) -> None:
        t = self.tracer

        def read_after(rec, args, kwargs, result):
            paths = args[1] if len(args) > 1 else kwargs["paths"]
            paths = [paths] if isinstance(paths, str) else list(paths)
            rec["files"] = len(paths)
            rec["bytes"] = sum(os.path.getsize(p) for p in paths if os.path.isfile(p))

        def list_after(rec, args, kwargs, result):
            rec["listed"] = len(result)

        def upsert_after(rec, args, kwargs, result):
            name, candidates = args[1], args[2]
            rec["dim"] = name
            rec["candidates"] = self._probe(f"{name}.candidates", candidates)
            rec["novelty"] = self._probe(f"{name}.novelty", result)

        def overwrite_after(rec, args, kwargs, result):
            rec["table"] = args[1]
            if args[1] == "dead_letter":
                rec["rows_written"] = self._probe("dead_letter", args[2])

        def tick_after(rec, args, kwargs, result):
            rec["minutes_walked"] = result["attempted"]

        wh = self.ctx.wh

        def facts_before_after(rec, args, kwargs, result):
            rec["files_written"] = wh.n_files("siri_vehicle_location") - rec.pop(
                "_files_before"
            )

        t.wrap(pipeline, "read_snapshots", "sources.snapshots", after=read_after)
        t.wrap(snapshots, "read_snapshots", "sources.snapshots", after=read_after)
        t.wrap(incremental, "list_snapshot_ids", "sources.snapshots", after=list_after)
        t.wrap(pipeline, "iterate_monitored_stop_visits", "operators.flatten")
        for fn in ("parse_monitored_stop_visits", "valid_pmsv", "dead_letters"):
            t.wrap(pipeline, fn, "operators.parse")
        t.wrap(pipeline, "with_surrogate_ids", "operators.upsert")
        t.wrap(pipeline, "get_or_create_objects", "operators.upsert")
        t.wrap(Warehouse, "upsert_dim", "operators.upsert", after=upsert_after)
        t.wrap(
            Warehouse,
            "write_facts",
            "sources.tables",
            before=lambda rec: rec.update(
                _files_before=wh.n_files("siri_vehicle_location")
            ),
            after=facts_before_after,
        )
        t.wrap(Warehouse, "overwrite", "sources.tables", after=overwrite_after)
        t.wrap(Warehouse, "read", "sources.tables")
        for fn in CONTROL_FNS:
            t.wrap(control, fn, "control")
        for fn in ("run_core", "process_snapshot", "process_snapshots_bulk"):
            t.wrap(pipeline, fn, "pipeline")
        t.wrap(incremental, "process_snapshot", "pipeline")
        t.wrap(incremental, "process_new_snapshots", "streaming.incremental", after=tick_after)
        t.wrap(validate, "validate_snapshots", "validate")
        t.wrap(rollup, "refresh_daily_rollup", "rollup")
        t.wrap(backfill, "plan_batches", "backfill")

    def uninstall(self) -> None:
        self.tracer.unwrap_all()

    def parse_probe(self, ids: list[str]) -> None:
        """Force flatten → parse → valid split of the op's own files into a
        noop sink, and count visits, valid rows and dead letters."""
        spark = self.ctx.spark
        paths = [snapshot_path(self.ctx.landing, s) for s in ids]
        with self.tracer.span("parse_probe", "operators.parse", probe=True) as rec:
            docs = read_snapshots(spark, paths)
            parsed = parse_monitored_stop_visits(
                iterate_monitored_stop_visits(docs.filter(docs.Siri.isNotNull()))
            )
            t0 = time.perf_counter()
            valid_pmsv(parsed).write.format("noop").mode("overwrite").save()
            rec["exec_s"] = time.perf_counter() - t0
            rec["valid"] = valid_pmsv(parsed).count()
            rec["dead"] = dead_letters(parsed).count()
            rec["visits"] = rec["valid"] + rec["dead"]

    # -- metrics -------------------------------------------------------------

    def collect_state(self) -> dict[str, float]:
        """Table state at the end of the timed phase (Spark still up)."""
        wh = self.ctx.wh
        state = {f"tables.files.{t}": float(wh.n_files(t)) for t in TABLES}
        log_rows = 0.0
        if wh.exists("siri_snapshot"):
            raw = self.ctx.spark.read.parquet(wh.table_path("siri_snapshot"))
            n_rows = raw.count()
            n_ids = raw.select("snapshot_id").distinct().count()
            log_rows = n_rows / n_ids if n_ids else 0.0
        state["control.log_rows_per_snapshot"] = log_rows
        return state

    def finish(
        self, state: dict, ops: list[dict], n_steps: int, event_log_dir: str, out_dir: str
    ) -> dict[str, tuple[float, str]]:
        """Per-layer metrics from spans and the event log; writes the trace
        file to ``out_dir`` and prints the span tree."""
        tr = self.tracer
        by_id = {s["id"]: s for s in tr.spans}
        self_t = tr.self_times()
        op_of = tr.op_of()

        def in_probe(s):
            while s is not None:
                if s["probe"]:
                    return True
                s = by_id.get(s["parent"])
            return False

        live = [s for s in tr.spans if op_of[s["id"]] and not in_probe(s)]
        op_spans = [s for s in tr.spans if s.get("op")]
        m: dict[str, float] = defaultdict(float)

        def add(name, value):
            m[name] += value / n_steps

        for s in live:
            name, layer, st = s["name"], s["layer"], self_t[s["id"]]
            if name == "read_snapshots":
                add("snapshots.read_s", st)
                add("snapshots.files", s.get("files", 0))
                add("snapshots.bytes", s.get("bytes", 0))
            elif name == "list_snapshot_ids":
                add("snapshots.list_s", st)
                add("snapshots.listed", s.get("listed", 0))
            if layer == "operators.upsert":
                add("upsert.s", st)
                add("upsert.jobs", s["jobs"])
                if name == "upsert_dim":
                    add(f"upsert.candidates.{s['dim']}", s["candidates"])
                    add(f"upsert.novelty.{s['dim']}", s["novelty"])
            if name == "write_facts":
                add("tables.write_facts_s", st)
                add("tables.fact_files_written", s["files_written"])
            elif name == "overwrite" and s.get("table") == "dead_letter":
                add("tables.dead_letter_s", st)
                add("tables.dl_rows_written", s["rows_written"])
            elif name == "read" and layer == "sources.tables":
                add("tables.read_s", st)
            if layer == "control":
                add("control.s", st)
                add("control.jobs", s["jobs"])
                if by_id.get(s["parent"], {}).get("layer") != "control":
                    add("control.calls", 1)
            if layer == "pipeline":
                add("pipeline.self_s", st)
                add("pipeline.jobs", s["jobs"])
                add("pipeline.stages", s["stages"])
                add("pipeline.tasks", s["tasks"])
            if name == "process_new_snapshots" and not s.get("op"):
                add("incremental.tick_s", s["end"] - s["start"])
                add("incremental.minutes_walked", s["minutes_walked"])
            if layer == "validate":
                add("validate.s", st)
                add("validate.jobs", s["jobs"])
            if layer == "rollup":
                add("rollup.refresh_s", st)
            if layer == "backfill":
                add("backfill.plan_s", st)
            add("spark.jobs", s["jobs"])
            add("spark.stages", s["stages"])
            add("spark.tasks", s["tasks"])

        probes = [s for s in tr.spans if s["name"] == "parse_probe"]
        for key in ("visits", "valid", "dead", "exec_s"):
            add(f"parse.{key}", sum(p[key] for p in probes))
        add("tables.dl_rows_new", sum(p["dead"] for p in probes))
        add("overhead.probe_s", tr.probe_s)
        if m["parse.visits"]:
            m["parse.valid_ratio"] = m["parse.valid"] / m["parse.visits"]
        if m["tables.dl_rows_new"]:
            m["tables.dl_amplification"] = m["tables.dl_rows_written"] / m["tables.dl_rows_new"]
        for d in siri_gen.DIMS:
            if m[f"upsert.candidates.{d}"]:
                m[f"upsert.novelty_ratio.{d}"] = (
                    m[f"upsert.novelty.{d}"] / m[f"upsert.candidates.{d}"]
                )
        for kind in OP_KINDS:
            times = [op["s"] for op in ops if op["kind"] == kind]
            if times:
                m[f"ops.{kind}_s"] = statistics.median(times)
        m["host.cpu_share"] = statistics.median(op["cpu_share"] for op in ops)
        validate_ops = [op for op in ops if op["kind"] == "validate"]
        if validate_ops:
            m["validate.report_rows"] = statistics.mean(op["rows"] for op in validate_ops)
        for entry in HEADLINE:
            for phase, label in (("build", "build_s"), ("exec", "exec_s")):
                sp = [s for s in live if s["name"] == phase and s.get("entry") == entry]
                if sp:
                    m[f"catalog.{entry}.{label}"] = statistics.median(
                        s["end"] - s["start"] for s in sp
                    )
                    m[f"catalog.{entry}.jobs_{phase}"] = statistics.median(
                        s["jobs"] for s in sp
                    )
        m.update(state)
        self._event_log_metrics(m, live, op_spans, op_of, n_steps, event_log_dir)

        out = {name: (float(m.get(name, 0.0)), unit) for name, unit in PER_LAYER.items()}
        tree = span_tree(tr.spans, self_t, op_of, n_steps)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{os.path.basename(self.ctx.work)}.json")
        tr.dump(
            path,
            {
                "metrics": {k: v for k, (v, _) in out.items()},
                "tree": tree,
                "notes": NOTES,
                "written": datetime.datetime.now().isoformat(),
            },
        )
        print(f"span tree (per step: calls, total s, self s, jobs); trace in {path}")
        for line in tree:
            print(line)
        return out

    def _event_log_metrics(self, m, live, op_spans, op_of, n_steps, event_log_dir) -> None:
        job_group, tasks = spans.read_event_log(event_log_dir)
        by_op: dict[int, list[dict]] = defaultdict(list)
        group_op = {f"pb{s['id']}": op_of[s["id"]] for s in live}
        for t in tasks:
            group = job_group.get(t["job"], "")
            if group not in group_op:
                continue
            m["spark.executor_run_s"] += t["run_s"] / n_steps
            m["spark.shuffle_bytes"] += t["shuffle_bytes"] / n_steps
            m["spark.spill_bytes"] += t["spill_bytes"] / n_steps
            by_op[group_op[group]].append(t)
        probe_time = defaultdict(float)
        for s in self.tracer.spans:
            if s["probe"] and op_of[s["id"]]:
                probe_time[op_of[s["id"]]] += s["end"] - s["start"]
        for op in op_spans:
            busy = spans.covered(
                [(t["launch"], t["finish"]) for t in by_op[op["id"]]],
                op["start"],
                op["end"],
            )
            gap = op["end"] - op["start"] - probe_time[op["id"]] - busy
            m["spark.driver_gap_s"] += max(gap, 0.0) / n_steps


def span_tree(all_spans, self_t, op_of, n_steps: int, max_depth: int = 5) -> list[str]:
    """Spans inside ops, merged by their name path, as indented lines of
    per-step figures."""
    by_id = {s["id"]: s for s in all_spans}
    agg: dict[tuple, list[float]] = {}
    for s in all_spans:
        if not op_of[s["id"]]:
            continue
        path, cur = [], s
        while cur is not None:
            label = cur["name"] if not cur.get("op") else f"op:{cur['name']}"
            path.append(f"{label} [{cur['layer']}]")
            if cur.get("op"):
                break
            cur = by_id.get(cur["parent"])
        path = tuple(reversed(path))
        if len(path) > max_depth:
            continue
        a = agg.setdefault(path, [0, 0.0, 0.0, 0])
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += self_t[s["id"]]
        a[3] += s.get("jobs", 0)
    lines = []
    for path in sorted(agg):
        calls, total, own, jobs = agg[path]
        lines.append(
            f"{'  ' * (len(path) - 1)}{path[-1]}: {calls / n_steps:.2f} calls, "
            f"{total / n_steps:.3f} s, self {own / n_steps:.3f} s, {jobs / n_steps:.1f} jobs"
        )
    return lines
