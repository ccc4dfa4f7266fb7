"""Frontier A/B for the cosine probe: ``_nearest_centroids`` from
``MATMUL_ASSIGN_MIN_K`` codebook rows on runs the numpy form of the
nearest-centroid kernel (one Arrow mapInPandas scan against the
driver-held codebook) instead of the crossJoin + rank-window reference
plan (``_crossjoin_nearest``) — an n x k row explosion CARRYING THE
VECTORS through one Exchange + Sort per probe.

This bench times BOTH plans on the same session (min-of-repeats, noop
sink per guide §1.4) at a frontier geometry the catalog never reaches
(k=128 cosine codebook, topic-structured corpus), and cross-checks the
two probed row sets match before timing.  Writes one JSON line (and
BENCH_PROBE_COSINE.json with --write).

Run: python tools/bench_probe_cosine.py [--write] [--n N]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from pyspark.sql import functions as F  # noqa: E402

from bench_ivfpq import synth_clustered  # noqa: E402
import open_bus_siri_etl_spark.operators.similarity as sim  # noqa: E402
from open_bus_siri_etl_spark.session import get_spark  # noqa: E402

N_CENT = 128  # > MATMUL_ASSIGN_MIN_K: the geometry the crossJoin fallback served
KEEP = 2  # every IVF serve path's n_probe-style keep-n probe
REPEATS = 3


def _time_noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    n = 200_000
    if "--n" in sys.argv:
        n = int(sys.argv[sys.argv.index("--n") + 1])
    spark = get_spark(app_name="bench-probe-cosine")
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="probe_cos_"))
    try:
        corpus, _ = synth_clustered(spark, work, n, f"pc{n}")
        cents = (
            corpus.orderBy("vec_id")
            .limit(N_CENT)
            .select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_vec"),
            )
        )
        df = corpus.select(
            F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
        )

        def kernel():
            return sim._nearest_centroids(
                df, cents, "cluster", KEEP, None, metric="cosine"
            )

        def crossjoin():
            return sim._crossjoin_nearest(
                df, cents, "cluster", KEEP, None, "cosine"
            )

        # parity first (bounded sample: the full-set check is the suite's
        # job; here we guard the bench itself against timing two different
        # computations)
        probe_ids = [r["_id"] for r in df.orderBy("_id").limit(512).collect()]
        sample = df.filter(F.col("_id").isin(probe_ids))
        a = sorted(
            (r["_id"], r["cluster"])
            for r in sim._nearest_centroids(
                sample, cents, "cluster", KEEP, None, metric="cosine"
            ).collect()
        )
        b = sorted(
            (r["_id"], r["cluster"])
            for r in sim._crossjoin_nearest(
                sample, cents, "cluster", KEEP, None, "cosine"
            ).collect()
        )
        assert a == b and a, "kernel/crossJoin probe sets diverge"

        spark.sparkContext.setJobDescription("probe-cosine warmup")
        kernel().write.format("noop").mode("overwrite").save()
        crossjoin().write.format("noop").mode("overwrite").save()

        runs = {"kernel": [], "crossjoin": []}
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription("probe-cosine kernel")
            runs["kernel"].append(_time_noop(kernel()))
            spark.sparkContext.setJobDescription("probe-cosine crossjoin")
            runs["crossjoin"].append(_time_noop(crossjoin()))
        spark.sparkContext.setJobDescription(None)

        out = {
            "metric": "probe_cosine_kernel_speedup_vs_crossjoin",
            "value": round(min(runs["crossjoin"]) / min(runs["kernel"]), 2),
            "unit": "x",
            "n_vectors": n,
            "n_centroids": N_CENT,
            "keep": KEEP,
            "kernel_sec": min(runs["kernel"]),
            "crossjoin_sec": min(runs["crossjoin"]),
            "per_repeat": runs,
            "timing": "min_of_repeats_noop_sink",
        }
        print(json.dumps(out))
        if "--write" in sys.argv:
            (ROOT / "BENCH_PROBE_COSINE.json").write_text(
                json.dumps(out, indent=1) + "\n"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
