"""A4 — timing/metrics instrumentation (reference logs.py:10-41,
process_snapshot.py:449,452-462).

The reference accumulates per-call-site wall-clock totals and prints
averages under DEBUG.  Spark-side equivalents:

- :class:`DebugTime` — the reference's ``debug_time`` context manager for
  driver-side phases (control-table writes, job sequencing).
- :func:`observed` — ``DataFrame.observe`` named metrics: row counts and
  sums computed *inside* the job at no extra pass, the set-oriented analog
  of the reference's per-row counters.  Metrics are read from the collected
  observation after an action.
- :class:`SparkJobs` — the number of Spark jobs a block launches, the cost
  unit of small-input ingest calls (job budgets in the tests read it).

Task/stage timing beyond this is Spark UI / event-log territory — already
richer than the reference's instrumentation.
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_stats: dict[str, dict[str, float]] = defaultdict(lambda: {"total_seconds": 0.0, "total_calls": 0})


class DebugTime:
    """with DebugTime('phase'): ... — accumulates per-site totals/averages."""

    def __init__(self, what: str, log_if_more_than_seconds: float | None = None):
        self.what = what
        self.threshold = log_if_more_than_seconds

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        elapsed = time.time() - self.start
        s = _stats[self.what]
        s["total_seconds"] += elapsed
        s["total_calls"] += 1
        if self.threshold is not None and elapsed > self.threshold:
            print(f"[debug_time] {self.what}: {elapsed:.2f}s")
        return False


def print_debug_time_stats() -> None:
    """Per-call-site averages (reference process_snapshot.py:452-462)."""
    for what, s in sorted(_stats.items()):
        calls = int(s["total_calls"]) or 1
        print(
            f"[debug_time_stats] {what}: total {s['total_seconds']:.2f}s over "
            f"{calls} calls (avg {s['total_seconds'] / calls:.3f}s)"
        )


def observed(df: DataFrame, name: str, **metrics) -> tuple[DataFrame, Observation]:
    """Attach named in-job metrics: observed(df, 'parse', rows=F.count(F.lit(1))).

    Returns (df, observation); read ``observation.get`` after an action runs.
    """
    obs = Observation(name)
    if not metrics:
        metrics = {"rows": F.count(F.lit(1))}
    return df.observe(obs, *[m.alias(k) for k, m in metrics.items()]), obs


class SparkJobs:
    """with SparkJobs(spark) as jobs: ... — ``jobs.n`` is the number of Spark
    jobs launched inside the block, counted through a job group and the
    status tracker.  Jobs started by other threads meanwhile are not
    counted."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.group = f"jobs-{uuid.uuid4().hex}"
        self.n: int | None = None

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus: drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        return False
