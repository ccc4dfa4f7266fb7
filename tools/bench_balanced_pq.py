"""Variance-balanced PQ evidence: what the OPQ-permutation layout buys
over contiguous slicing when the data's variance is position-structured
— the regime real embedding spectra live in (PCA-rotated or otherwise
energy-ordered dimensions decay across positions, so contiguous slicing
hands subspace 0 all the signal and lets the rest quantize noise with
the same code budget).

Corpus: 100k vectors, dim 64, per-dimension sd halving every 8
positions (sd_j = 2^-(j//8)) — a decaying spectrum laid out
contiguously, the adversarial-but-realistic case.  Queries are jittered
twins of corpus rows (the bench_ivfpq convention).  Both layouts get
identically-trained per-subspace codebooks (kmeans_subspace_codebook,
2 Lloyd iterations, matmul kernel); the ONLY difference is which
dimensions share a subspace.

Reported per layout:
- subspace variance balance (max/mean share — 1.0 is perfectly dealt)
- mean PQ reconstruction error (the direct quantity the layout moves)
- ADC recall@10 vs exact cosine (the serving consequence)

Writes one JSON line (and BENCH_BALANCED_PQ.json with --write).
Run: python tools/bench_balanced_pq.py [--write]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from open_bus_siri_etl_spark.operators.clustering import (  # noqa: E402
    kmeans_subspace_codebook,
)
from open_bus_siri_etl_spark.operators.similarity import (  # noqa: E402
    _pq_code_long,
    _pq_query_table,
    _topk_per_query,
    ann_recall,
    apply_dim_permutation,
    cosine_topk,
    pq_balanced_perm,
    pq_codes_df,
)
from open_bus_siri_etl_spark.session import get_spark  # noqa: E402

DIM, N, N_QUERIES, K = 64, 100_000, 64, 10
N_SUB, SUB_DIM, PQ_CENTROIDS = 8, 8, 64
# the deployable-stack section (round 12): trained coarse + residual
# fine + exact refine, per layout — the serving default's shape
N_CENT_STACK, N_PROBE_STACK, SHORTLIST_STACK = 64, 8, 200


def stack_tier(spark, work: Path, n: int, n_cent: int, n_probe: int) -> dict:
    """The residual+refine stack comparison (plain vs balanced layout) at
    an arbitrary corpus size — round-13 directive #5: the +recall-on-top-
    of-stack result was measured at one size (100k); this re-measures the
    SAME spectrum recipe (sd halving every 8 dims) with topic structure
    at the 1M tier, scaling the coarse stage like the clustered tiers do
    (nlist ~ n/4k, pruning fraction held at 1/8).  Corpus and permuted
    twins are cached under ``work`` so re-runs skip the synthesis."""
    import os

    import pandas as pd

    from open_bus_siri_etl_spark.operators.clustering import kmeans_codebook
    from open_bus_siri_etl_spark.operators.similarity import (
        _exact_cosine,
        build_ivf_pq_index,
        ivf_pq_topk_serve,
        ivf_residuals,
    )

    rng = np.random.RandomState(29)
    sd = np.array([2.0 ** -(j // 8) for j in range(DIM)])
    n_topics = 256
    centers = (rng.randn(n_topics, DIM) * sd * 3.0).astype("float64")

    def synth_chunked(path: str, n_rows: int, id_start: int, jitter: bool):
        if os.path.isdir(path):
            return spark.read.parquet(path)
        chunk = 250_000
        mode = "overwrite"
        for lo in range(0, n_rows, chunk):
            hi = min(lo + chunk, n_rows)
            topic = rng.randint(0, n_topics, hi - lo)
            rows = centers[topic] + (rng.randn(hi - lo, DIM) * sd)
            pdf = pd.DataFrame(
                {
                    "vec_id": np.arange(id_start + lo, id_start + hi),
                    "embedding": list(rows.astype("float32")),
                }
            )
            spark.createDataFrame(pdf).repartition(8).write.mode(
                mode
            ).parquet(path)
            mode = "append"
        return spark.read.parquet(path)

    corpus = synth_chunked(str(work / f"t{n}_c"), n, 0, False)
    # queries: jittered twins of corpus rows (read a strided sample back)
    qpath = str(work / f"t{n}_q")
    if not os.path.isdir(qpath):
        base_rows = (
            corpus.filter(F.col("vec_id") % (n // N_QUERIES) == 0)
            .orderBy("vec_id").limit(N_QUERIES).collect()
        )
        qv = np.array([r["embedding"] for r in base_rows], dtype="float64")
        qv = qv + 0.15 * sd * rng.randn(*qv.shape)
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(10**9, 10**9 + len(qv)),
                "embedding": list(qv.astype("float32")),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.parquet(qpath)
    queries = spark.read.parquet(qpath)
    xpath = str(work / f"t{n}_x")
    if not os.path.isdir(xpath):
        cosine_topk(corpus, queries, k=K, dim=DIM).write.parquet(xpath)
    exact = spark.read.parquet(xpath)

    perm = pq_balanced_perm(corpus, N_SUB, SUB_DIM)

    def permuted(df, path):
        if not os.path.isdir(path):
            apply_dim_permutation(df, perm, "embedding", "_bvec").select(
                "vec_id", "_bvec"
            ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def measure_stack(corp, qfr, col, tag):
        t0 = time.time()
        tcp = str(work / f"t{n}_stc_{tag}")
        if not os.path.isdir(tcp):
            kmeans_codebook(
                corp, k=n_cent, iters=2, vec_col=col
            ).coalesce(1).write.mode("overwrite").parquet(tcp)
        tc = spark.read.parquet(tcp)
        rfp = str(work / f"t{n}_srf_{tag}")
        if not os.path.isdir(rfp):
            res = ivf_residuals(corp, tc, n_cent, vec_col=col, dim=DIM)
            kmeans_subspace_codebook(
                res, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS, iters=2,
                vec_col=col,
            ).coalesce(1).write.mode("overwrite").parquet(rfp)
        rf = spark.read.parquet(rfp)
        train_sec = round(time.time() - t0, 3)
        t0 = time.time()
        ipath = str(work / f"t{n}_six_{tag}")
        if not os.path.isdir(ipath):
            build_ivf_pq_index(
                corp, n_centroids=n_cent, n_sub=N_SUB, sub_dim=SUB_DIM,
                pq_centroids=PQ_CENTROIDS, vec_col=col, dim=DIM, cents=tc,
                fine_cents=rf, coarse_metric="l2", residual=True,
            ).write.mode("overwrite").partitionBy("cluster").parquet(ipath)
        build_sec = round(time.time() - t0, 3)
        index = spark.read.parquet(ipath)
        t0 = time.time()
        short = ivf_pq_topk_serve(
            index, tc, qfr, k=SHORTLIST_STACK, n_centroids=n_cent,
            n_probe=n_probe, n_sub=N_SUB, sub_dim=SUB_DIM,
            pq_centroids=PQ_CENTROIDS, vec_col=col, dim=DIM,
            fine_cents=rf, coarse_metric="l2", residual=True,
        )
        qv = qfr.select(
            F.col("vec_id").alias("query_id"), F.col(col).alias("q_vec")
        )
        cv = corp.select(
            F.col("vec_id").alias("neighbor_id"), F.col(col).alias("c_vec")
        )
        served = _topk_per_query(
            short.select("query_id", "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .join(cv, "neighbor_id")
            .withColumn(
                "cosine", _exact_cosine(F.col("q_vec"), F.col("c_vec"), DIM)
            ),
            K, [F.desc("cosine")],
        )
        served = spark.createDataFrame(served.collect(), served.schema)
        serve_sec = round(time.time() - t0, 3)
        recall = (
            ann_recall(exact, served, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        return {
            "train_sec": train_sec,
            "build_sec": build_sec,
            "serve_sec": serve_sec,
            "recall_at_10": round(recall, 4),
        }

    stack_plain = measure_stack(corpus, queries, "embedding", "plain")
    stack_balanced = measure_stack(
        permuted(corpus, str(work / f"t{n}_cp")),
        permuted(queries, str(work / f"t{n}_qp")),
        "_bvec",
        "balanced",
    )
    return {
        "note": "the stack comparison at the second tier (r13 directive "
        "#5): same decaying spectrum (sd halves every 8 dims), 256 "
        "topics, coarse/probe scaled with the corpus at constant 1/8 "
        "pruning — does the permutation's on-top-of-stack gain survive "
        "a 10x corpus",
        "n_vectors": n,
        "n_topics": n_topics,
        "n_centroids": n_cent,
        "n_probe": n_probe,
        "shortlist": SHORTLIST_STACK,
        "plain_contiguous": stack_plain,
        "balanced_round_robin": stack_balanced,
        "recall_gain": round(
            stack_balanced["recall_at_10"] - stack_plain["recall_at_10"], 4
        ),
    }


def main() -> None:
    spark = get_spark(app_name="siri-etl-bench-balanced-pq")
    spark.sparkContext.setLogLevel("ERROR")
    if "--stack-1m-only" in sys.argv:
        # second-tier refresh of an existing artifact (directive #5);
        # persistent work dir via --work for cached corpora
        artifact = ROOT / "BENCH_BALANCED_PQ.json"
        if not artifact.exists():
            sys.exit("--stack-1m-only refreshes an existing artifact")
        keep = "--work" in sys.argv
        work = (
            Path(sys.argv[sys.argv.index("--work") + 1])
            if keep
            else Path(tempfile.mkdtemp(prefix="bench_balpq1m_"))
        )
        work.mkdir(parents=True, exist_ok=True)
        out = json.loads(artifact.read_text())
        try:
            out["residual_refine_stack_1m"] = stack_tier(
                spark, work, n=1_000_000, n_cent=256, n_probe=32
            )
        finally:
            if not keep:
                shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(out))
        if "--write" in sys.argv:
            artifact.write_text(json.dumps(out, indent=2) + "\n")
        return
    work = Path(tempfile.mkdtemp(prefix="bench_balpq_"))
    import pandas as pd

    rng = np.random.RandomState(17)
    sd = np.array([2.0 ** -(j // 8) for j in range(DIM)])
    vecs = (rng.randn(N, DIM) * sd).astype("float32")
    stride = N // N_QUERIES
    qvecs = vecs[::stride][:N_QUERIES] + (
        0.15 * sd * rng.randn(N_QUERIES, DIM)
    ).astype("float32")

    def frame(ids, rows, path):
        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(rows)})
        spark.createDataFrame(pdf).repartition(8).write.mode(
            "overwrite"
        ).parquet(path)
        return spark.read.parquet(path)

    corpus = frame(np.arange(N, dtype="int64"), vecs, str(work / "c"))
    queries = frame(
        np.arange(N, N + N_QUERIES, dtype="int64"),
        qvecs.astype("float32"),
        str(work / "q"),
    )
    exact = cosine_topk(corpus, queries, k=K)
    exact.write.mode("overwrite").parquet(str(work / "x"))
    exact = spark.read.parquet(str(work / "x"))

    perm = pq_balanced_perm(corpus, N_SUB, SUB_DIM)

    def variance_balance(vec_frame, col):
        v = (
            vec_frame.select(
                F.posexplode(
                    F.transform(F.col(col), lambda x: x.cast("double"))
                ).alias("i", "v")
            )
            .groupBy((F.col("i") / SUB_DIM).cast("int").alias("m"))
            .agg(F.sum(F.col("v") * F.col("v")).alias("e"))
            .collect()
        )
        shares = np.array([r["e"] for r in sorted(v, key=lambda r: r["m"])])
        return float(shares.max() / shares.mean())

    def measure(corp, qfr, col, tag):
        t0 = time.time()
        fine = kmeans_subspace_codebook(
            corp, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS, iters=2,
            vec_col=col,
        )
        fp = str(work / f"fine_{tag}")
        fine.coalesce(1).write.mode("overwrite").parquet(fp)
        fine = spark.read.parquet(fp)
        train_sec = round(time.time() - t0, 3)
        recon = (
            pq_codes_df(
                corp, N_SUB, SUB_DIM, PQ_CENTROIDS, vec_col=col, cents=fine
            )
            .agg(F.avg("recon_d2").alias("r")).collect()[0]["r"]
        )
        t0 = time.time()
        code_long = _pq_code_long(
            corp, N_SUB, SUB_DIM, PQ_CENTROIDS, "vec_id", col, cents=fine
        )
        dtab = _pq_query_table(fine, qfr, N_SUB, SUB_DIM, "vec_id", col)
        adc = (
            code_long.join(F.broadcast(dtab), ["m", "code"])
            .groupBy("query_id", "vec_id")
            .agg(F.round(F.sum("d"), 6).alias("adc_d2"))
            .withColumnRenamed("vec_id", "neighbor_id")
        )
        topk = _topk_per_query(adc, K, ["adc_d2"])
        topk = spark.createDataFrame(topk.collect(), topk.schema)
        adc_sec = round(time.time() - t0, 3)
        recall = (
            ann_recall(exact, topk, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        return {
            "variance_balance_max_over_mean": round(
                variance_balance(corp, col), 3
            ),
            "train_sec": train_sec,
            "mean_recon_d2": round(recon, 6),
            "adc_sec": adc_sec,
            "recall_at_10": round(recall, 4),
        }

    plain = measure(corpus, queries, "embedding", "plain")
    # materialize the gather once, the way a deployment permutes at
    # ingest — otherwise every codebook/code/ADC subtree re-evaluates
    # the 64-element gather and the timing columns overstate the layout
    def permuted(df, path):
        apply_dim_permutation(df, perm, "embedding", "_bvec").select(
            "vec_id", "_bvec"
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    balanced = measure(
        permuted(corpus, str(work / "cp")),
        permuted(queries, str(work / "qp")),
        "_bvec",
        "balanced",
    )

    # Round-12 section (VERDICT item 3's bench half): the permutation
    # measured ON TOP of the residual+refine serving stack — the plain-ADC
    # comparison above shows what the layout buys an unrefined server;
    # this one shows what survives once the deployable stack's residual
    # grid and exact re-rank are already absorbing quantization error.
    def measure_stack(corp, qfr, col, tag):
        from open_bus_siri_etl_spark.operators.clustering import (
            kmeans_codebook,
        )
        from open_bus_siri_etl_spark.operators.similarity import (
            _exact_cosine,
            build_ivf_pq_index,
            ivf_pq_topk_serve,
            ivf_residuals,
        )

        t0 = time.time()
        tc = kmeans_codebook(
            corp, k=N_CENT_STACK, iters=2, vec_col=col
        )
        tcp = str(work / f"stc_{tag}")
        tc.coalesce(1).write.mode("overwrite").parquet(tcp)
        tc = spark.read.parquet(tcp)
        res = ivf_residuals(corp, tc, N_CENT_STACK, vec_col=col, dim=DIM)
        rf = kmeans_subspace_codebook(
            res, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS, iters=2,
            vec_col=col,
        )
        rfp = str(work / f"srf_{tag}")
        rf.coalesce(1).write.mode("overwrite").parquet(rfp)
        rf = spark.read.parquet(rfp)
        train_sec = round(time.time() - t0, 3)
        t0 = time.time()
        ipath = str(work / f"six_{tag}")
        build_ivf_pq_index(
            corp, n_centroids=N_CENT_STACK, n_sub=N_SUB, sub_dim=SUB_DIM,
            pq_centroids=PQ_CENTROIDS, vec_col=col, dim=DIM, cents=tc,
            fine_cents=rf, coarse_metric="l2", residual=True,
        ).write.mode("overwrite").partitionBy("cluster").parquet(ipath)
        build_sec = round(time.time() - t0, 3)
        index = spark.read.parquet(ipath)
        t0 = time.time()
        short = ivf_pq_topk_serve(
            index, tc, qfr, k=SHORTLIST_STACK, n_centroids=N_CENT_STACK,
            n_probe=N_PROBE_STACK, n_sub=N_SUB, sub_dim=SUB_DIM,
            pq_centroids=PQ_CENTROIDS, vec_col=col, dim=DIM,
            fine_cents=rf, coarse_metric="l2", residual=True,
        )
        qv = qfr.select(
            F.col("vec_id").alias("query_id"), F.col(col).alias("q_vec")
        )
        cv = corp.select(
            F.col("vec_id").alias("neighbor_id"), F.col(col).alias("c_vec")
        )
        served = _topk_per_query(
            short.select("query_id", "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .join(cv, "neighbor_id")
            .withColumn(
                "cosine", _exact_cosine(F.col("q_vec"), F.col("c_vec"), DIM)
            ),
            K, [F.desc("cosine")],
        )
        served = spark.createDataFrame(served.collect(), served.schema)
        serve_sec = round(time.time() - t0, 3)
        recall = (
            ann_recall(exact, served, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        return {
            "train_sec": train_sec,
            "build_sec": build_sec,
            "serve_sec": serve_sec,
            "recall_at_10": round(recall, 4),
        }

    stack_plain = measure_stack(corpus, queries, "embedding", "plain")
    stack_balanced = measure_stack(
        spark.read.parquet(str(work / "cp")),
        spark.read.parquet(str(work / "qp")),
        "_bvec",
        "balanced",
    )
    out = {
        "metric": "balanced_pq_recall_gain_vs_contiguous",
        "value": round(balanced["recall_at_10"] - plain["recall_at_10"], 4),
        "unit": "recall@10",
        "n_vectors": N, "dim": DIM,
        "spectrum": "sd halves every 8 dims (2^-(j//8))",
        "pq": {"n_sub": N_SUB, "sub_dim": SUB_DIM,
               "pq_centroids": PQ_CENTROIDS, "trained_iters": 2},
        "plain_contiguous": plain,
        "balanced_round_robin": balanced,
        "recon_improvement": round(
            plain["mean_recon_d2"] / balanced["mean_recon_d2"], 3
        ),
        "residual_refine_stack": {
            "note": "the permutation measured ON TOP of the deployable "
            "stack (trained coarse k=64, residual fine, exact refine "
            f"shortlist={SHORTLIST_STACK}, n_probe={N_PROBE_STACK}) — "
            "what the layout still buys once residual grids and the "
            "re-rank absorb quantization error",
            "n_centroids": N_CENT_STACK,
            "n_probe": N_PROBE_STACK,
            "shortlist": SHORTLIST_STACK,
            "plain_contiguous": stack_plain,
            "balanced_round_robin": stack_balanced,
            "recall_gain": round(
                stack_balanced["recall_at_10"] - stack_plain["recall_at_10"],
                4,
            ),
        },
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    if "--write" in sys.argv:
        (ROOT / "BENCH_BALANCED_PQ.json").write_text(
            json.dumps(out, indent=2) + "\n"
        )


if __name__ == "__main__":
    main()
