"""The benchmark's correctness checks catch a wrong count (needs Spark;
about a minute).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import siri_gen  # noqa: E402


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    import run
    from open_bus_siri_etl_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = get_spark(app_name="perfbench-tests", extra_conf=run.spark_conf(work, False))
    yield run.Ctx(spark, work, seed=11)
    spark.stop()


@pytest.fixture(scope="module")
def loaded(ctx):
    from open_bus_siri_etl_spark import pipeline

    feed = siri_gen.SiriFeed(11, vehicles=40)
    expected = {}
    for _ in range(3):
        sid, doc, counts = feed.next()
        siri_gen.land(ctx.landing, sid, doc)
        expected[sid] = counts
    pipeline.process_snapshots_bulk(ctx.spark, ctx.wh, list(expected), ctx.landing)
    return expected


def test_correct_counts_pass(ctx, loaded):
    import workloads

    assert workloads.check_loaded(ctx.wh, loaded) == {}
    assert workloads.check_dims(ctx.wh, loaded) is None


def test_a_wrong_expected_count_fails_the_op(ctx, loaded):
    import workloads

    wrong = copy.deepcopy(loaded)
    sid = sorted(wrong)[1]
    wrong[sid].valid += 1
    assert set(workloads.check_loaded(ctx.wh, wrong)) == {sid}

    wl = workloads.HourCycle(ctx)
    wl.loaded = wrong
    ops = [{"kind": "batch", "s": 1.0, "ok": True, "error": None, "ids": sorted(wrong)}]
    wl.verify(ops)
    assert not ops[0]["ok"] and sid in ops[0]["error"]  # failed / attempted = 1


def test_a_wrong_pinned_catalog_count_fails_the_op(ctx):
    import workloads

    wl = workloads.CatalogHeadline(ctx)
    from open_bus_siri_etl_spark.plans.catalog import REGISTRY

    wl.registry = REGISTRY
    wl.want = {"pricing_summary": 6}
    assert wl._entry("pricing_summary")["ok"]
    wl.want = {"pricing_summary": 7}
    op = wl._entry("pricing_summary")
    assert not op["ok"] and "want 7" in op["error"]
