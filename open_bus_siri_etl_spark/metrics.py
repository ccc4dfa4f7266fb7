"""A4 — timing/metrics instrumentation (reference logs.py:10-41,
process_snapshot.py:449,452-462).

The reference accumulates per-call-site wall-clock totals and prints
averages under DEBUG.  The Spark-side equivalents count what a block does
inside Spark rather than wall-clock per call site:

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

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


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
    status tracker.  Jobs of threads that inherit the block's job group
    (``operators.upsert.concurrent_jobs`` wraps its calls so that they do)
    are counted; jobs that other threads start meanwhile are not."""

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
