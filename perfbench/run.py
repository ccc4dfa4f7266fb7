"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this process against ``local[<cpus>]`` as a single
closed-loop client, checks every op's output, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, times scaled by the share
of CPU time the host gave the machine (``hostcpu``); with ``--trace 1`` the
run is traced and prints the span tree and the per-layer metrics, including
the tracing overhead on ``cycle_s``.  Scratch data lives under
``.perfbench_work/`` and is removed at exit; traces are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import hostcpu  # noqa: E402

PROCESS_CPU = hostcpu.read()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_STEPS = 1
OUT_DIR = os.path.join(os.getcwd(), ".perfbench_out")

E2E_UNITS = {"setup_s": "s", "cycle_s": "s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and the JVM write inside ``work``; must run
    before pyspark starts the JVM."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher too: no hsperfdata in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Ctx:
    """What a workload needs: session, warehouse, dirs, seeded rng, and
    the tracer of a traced run (None otherwise)."""

    def __init__(self, spark, work: str, seed: int):
        from open_bus_siri_etl_spark.sources.tables import Warehouse

        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.landing = os.path.join(work, "landing")
        self.wh = Warehouse(spark, os.path.join(work, "warehouse"))
        self.tracer = None
        self.layers = None

    def after_ingest_op(self, ids: list[str]) -> None:
        if self.layers is not None:
            self.layers.parse_probe(ids)


def kind_medians(ops: list[dict], key=lambda op: op["s"] * op["cpu_share"]) -> dict[str, float]:
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op["kind"], []).append(key(op))
    return {k: statistics.median(v) for k, v in by_kind.items()}


def e2e_metrics(ops: list[dict], setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "cycle_s": sum(kind_medians(ops).values())}


def run_workload(args, work: str, traced: bool) -> tuple[list[dict], dict]:
    """Set up, measure for ``args.seconds``, verify.  Returns the ops and
    the metrics: end-to-end ones, or for a traced run the per-layer ones."""
    from open_bus_siri_etl_spark.session import get_spark

    import workloads

    spark = get_spark(
        app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work, traced)
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Ctx(spark, work, args.seed)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        if traced:
            import layers
            from spans import Tracer

            ctx.tracer = Tracer(spark)
            ctx.layers = layers.Layers(ctx)
            ctx.layers.install()
        t0 = time.time()
        setup_s = (t0 - PROCESS_START) * hostcpu.share(PROCESS_CPU, hostcpu.read())
        ops: list[dict] = []
        steps = 0
        while time.time() - t0 < args.seconds or steps < MIN_STEPS:
            ops.extend(wl.step())
            steps += 1
        if traced:
            ctx.layers.uninstall()
        wl.verify(ops)
        metrics = e2e_metrics(ops, setup_s)
        if traced:
            from pyspark import SparkContext

            jvm = SparkContext._gateway.proc
            state = ctx.layers.collect_state()
            state["process.peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm.pid])
    finally:
        stop_spark(spark)
    if not traced:
        return ops, {k: (v, E2E_UNITS[k]) for k, v in metrics.items()}
    layer_metrics = ctx.layers.finish(
        state, ops, steps, os.path.join(work, "eventlog"), OUT_DIR
    )
    untraced = [{**op, "s": op["s"] - op["tracer_s"]} for op in ops]
    overhead = metrics["cycle_s"] - e2e_metrics(untraced, setup_s)["cycle_s"]
    layer_metrics["overhead.cycle_s"] = (overhead, "s")
    return ops, layer_metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import open_bus_siri_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        ops, metrics = run_workload(args, work, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [op for op in ops if not op["ok"]]
    medians = {k: round(v, 3) for k, v in kind_medians(ops, lambda op: op["s"]).items()}
    share = statistics.median(op["cpu_share"] for op in ops)
    print(
        f"perfbench: {len(ops)} ops, median wall s by kind: {medians}, "
        f"median CPU share {share:.3f}",
        file=sys.stderr,
    )
    for op in failed[:5]:
        print(f"perfbench: failed {op['kind']}: {op['error']}", file=sys.stderr)
    out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    correct = not failed
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": out_metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
