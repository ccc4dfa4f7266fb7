"""IVF-PQ serving evidence: the per-query-batch cost of the PERSISTED
IVF-PQ path (build_ivf_pq_index once -> parquet partitioned by cluster;
ivf_pq_topk_serve per batch, corpus vectors never an input) versus
brute-force exact cosine top-k, across corpus tiers.  The claim under
measurement is the serving shape's: exact cost grows linearly in corpus
floats, serve cost grows only in (pruned) code rows — n_probe/n_centroids
of N int rows — so the gap widens with N while the one-time build is
amortized over every batch.

Queries are planted jittered twins of corpus rows (the regime a
retrieval deployment actually serves: queries correlate with their
relevant docs), so recall@10 vs the exact list is meaningful rather than
the degenerate random-gaussian number.

Writes one JSON line (and BENCH_IVFPQ.json with --write).
Run: python tools/bench_ivfpq.py [--write]
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
    kmeans_codebook,
    kmeans_subspace_codebook,
)
from open_bus_siri_etl_spark.operators.similarity import (  # noqa: E402
    ann_recall,
    build_ivf_pq_index,
    cosine_topk,
    ivf_pq_centroids,
    ivf_pq_topk_serve,
    ivf_residuals,
)
from open_bus_siri_etl_spark.session import get_spark  # noqa: E402

DIM = 64
N_QUERIES = 64
K = 10
N_SUB, SUB_DIM, PQ_CENTROIDS = 8, 8, 64
# (corpus size, coarse centroids, probes) — pruning fraction tightens as
# the corpus grows, the way a real deployment retunes nlist with N
TIERS = [(20_000, 64, 8), (100_000, 128, 8), (300_000, 256, 8)]
# the DEPLOYABLE-stack tiers (round-10 directive #1/#6): topic-structured
# corpora at the scales where approx must beat exact; n_probe and the
# refine rungs bracket the measured frontier knee
# (BENCH_IVFPQ_FRONTIER.json).  Topic count grows with the corpus (a
# bigger corpus adds topics, it does not add members forever) and nlist
# retunes with it; the 1M tier trains its codebooks on a deterministic
# 1-in-10 sample — FAISS's actual practice (train() on a subsample, add()
# everything) — while the 300k tier trains on the full corpus to stay
# comparable with the frontier run.
# (n, n_topics, n_centroids, n_probe, refine_ks, train_mod)
# 1M keeps the 300k knee's PRUNING FRACTION (16/1024 == 4/256): the
# first 1M attempt at 4/1024 dropped the candidate ceiling and capped
# refine@400 at 0.64 — n_probe scales with nlist, the fraction is the
# knob.  train_mod=9 (coprime with the topic count) because a stride
# sharing a factor with n_topics aliases the min-id kmeans init onto a
# subset of topics (gcd(10,1024)=2 covered only 512 of 1024).
CLUSTERED_TIERS = [
    (300_000, 256, 256, 4, (0, 200, 400), 1),
    (1_000_000, 1024, 1024, 16, (0, 200, 400), 9),
]


def synth(spark, work: Path, n: int):
    """Seeded corpus + planted-twin queries: query j is corpus row
    j*stride plus N(0, 0.15) jitter — close enough that its twin's
    neighborhood is the relevant set, far enough that ranks are
    non-degenerate.  Query ids live above the corpus id range."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(n, DIM).astype("float32")
    stride = n // N_QUERIES
    qvecs = (
        vecs[:: stride][:N_QUERIES]
        + 0.15 * rng.randn(N_QUERIES, DIM).astype("float32")
    ).astype("float32")
    import pandas as pd

    cdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"), "embedding": list(vecs)}
    )
    qdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, n + N_QUERIES, dtype="int64"),
            "embedding": list(qvecs),
        }
    )
    cpath, qpath = str(work / f"c_{n}"), str(work / f"q_{n}")
    spark.createDataFrame(cdf).repartition(32).write.mode("overwrite").parquet(cpath)
    spark.createDataFrame(qdf).coalesce(1).write.mode("overwrite").parquet(qpath)
    return spark.read.parquet(cpath), spark.read.parquet(qpath)


def clustered_recall(spark, work: Path) -> dict:
    """Recall in the regime retrieval actually runs (round-10): a corpus
    with TOPIC structure — 256 gaussian topic centers, members = center +
    0.8·noise (within-topic cosine ~0.6, inter-topic ~0), queries are
    FRESH samples from known topics (out-of-corpus), relevant set = the
    exact top-10 (mostly same-topic members).  On isotropic gaussian data
    the gaussian-tail recall@10 is structurally capped by pruning no
    matter the codebook (the tier numbers above); with topic structure
    the recall LADDER the catalog serves is measured rung by rung at one
    pruning fraction: stand-in codebook -> trained codebooks ->
    RESIDUAL-encoded PQ (FAISS by_residual: codes describe within-cell
    variation instead of re-describing the coarse structure) -> exact
    REFINE of the ADC shortlist (IndexRefineFlat: recall recovers to near
    the candidate-recall ceiling, which is also reported).  The candidate
    recall shows how much the coarse stage leaves on the table; the
    rung-to-rung deltas price each design decision separately."""
    n, n_topics, sigma, n_cent, n_probe = 100_000, 256, 0.8, 128, 8
    rng = np.random.RandomState(31)
    import pandas as pd

    centers = rng.randn(n_topics, DIM).astype("float64")
    topic_of = np.arange(n) % n_topics
    vecs = (centers[topic_of] + sigma * rng.randn(n, DIM)).astype("float32")
    q_topics = rng.randint(0, n_topics, N_QUERIES)
    qvecs = (centers[q_topics] + sigma * rng.randn(N_QUERIES, DIM)).astype(
        "float32"
    )
    cdf = pd.DataFrame({"vec_id": np.arange(n, dtype="int64"), "embedding": list(vecs)})
    qdf = pd.DataFrame(
        {"vec_id": np.arange(n, n + N_QUERIES, dtype="int64"), "embedding": list(qvecs)}
    )
    cpath, qpath = str(work / "cl_c"), str(work / "cl_q")
    spark.createDataFrame(cdf).repartition(32).write.mode("overwrite").parquet(cpath)
    spark.createDataFrame(qdf).coalesce(1).write.mode("overwrite").parquet(qpath)
    corpus = spark.read.parquet(cpath)
    queries = spark.read.parquet(qpath)
    exact = cosine_topk(corpus, queries, k=K)
    exact.count()
    out = {
        "n_vectors": n, "n_topics": n_topics, "sigma": sigma,
        "n_centroids": n_cent, "n_probe": n_probe,
        "pruning_frac": round(n_probe / n_cent, 4),
    }

    # stand-in codebook at the same pruning fraction
    sc_path = str(work / "cl_cents")
    ivf_pq_centroids(corpus, n_keep=max(n_cent, PQ_CENTROIDS)).write.mode(
        "overwrite"
    ).parquet(sc_path)
    scents = spark.read.parquet(sc_path)
    si_path = str(work / "cl_index")
    kw = dict(n_centroids=n_cent, n_sub=N_SUB, sub_dim=SUB_DIM,
              pq_centroids=PQ_CENTROIDS, dim=DIM)
    build_ivf_pq_index(corpus, cents=scents, **kw).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(si_path)
    standin_served = ivf_pq_topk_serve(
        spark.read.parquet(si_path), scents, queries, k=K, n_probe=n_probe, **kw
    )
    out["standin_recall_at_10"] = round(
        ann_recall(exact, standin_served, k=K)
        .agg(F.avg("recall").alias("r")).collect()[0]["r"], 4,
    )

    # trained codebooks, identical serving parameters
    tc = kmeans_codebook(corpus, k=n_cent, iters=2)
    tcp = str(work / "cl_tc")
    tc.coalesce(1).write.mode("overwrite").parquet(tcp)
    tc = spark.read.parquet(tcp)
    tf = kmeans_subspace_codebook(
        corpus, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS, iters=2,
    )
    tfp = str(work / "cl_tf")
    tf.coalesce(1).write.mode("overwrite").parquet(tfp)
    tf = spark.read.parquet(tfp)
    ti_path = str(work / "cl_tindex")
    build_ivf_pq_index(
        corpus, cents=tc, fine_cents=tf, coarse_metric="l2", **kw
    ).write.mode("overwrite").partitionBy("cluster").parquet(ti_path)
    trained_served = ivf_pq_topk_serve(
        spark.read.parquet(ti_path), tc, queries, k=K, n_probe=n_probe,
        fine_cents=tf, coarse_metric="l2", **kw,
    )
    out["trained_recall_at_10"] = round(
        ann_recall(exact, trained_served, k=K)
        .agg(F.avg("recall").alias("r")).collect()[0]["r"], 4,
    )

    # candidate recall: the coarse-stage ceiling every ADC rung is
    # bounded by — fraction of exact top-10 inside the probed cells
    asg = ivf_residuals(corpus, tc, n_cent, dim=DIM).select(
        F.col("vec_id").alias("neighbor_id"), "cluster"
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        _nearest_centroids,
        _slice_codebook,
    )

    qprobe = _nearest_centroids(
        queries.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")),
        F.broadcast(_slice_codebook(tc, n_cent, "coarse", "bench")),
        "cluster", n_probe, DIM, metric="l2",
    ).select(F.col("_id").alias("query_id"), "cluster")
    hits = (
        exact.join(asg, "neighbor_id")
        .join(qprobe, ["query_id", "cluster"], "left_semi")
        .count()
    )
    out["trained_candidate_recall_at_10"] = round(
        hits / (N_QUERIES * K), 4
    )

    # residual encoding: fine codebook trained on x - centroid[cluster]
    res = ivf_residuals(corpus, tc, n_cent, dim=DIM)
    rf = kmeans_subspace_codebook(
        res, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS, iters=2,
    )
    rfp = str(work / "cl_rf")
    rf.coalesce(1).write.mode("overwrite").parquet(rfp)
    rf = spark.read.parquet(rfp)
    ri_path = str(work / "cl_rindex")
    build_ivf_pq_index(
        corpus, cents=tc, fine_cents=rf, coarse_metric="l2",
        residual=True, **kw,
    ).write.mode("overwrite").partitionBy("cluster").parquet(ri_path)

    def serve_residual(kk):
        return ivf_pq_topk_serve(
            spark.read.parquet(ri_path), tc, queries, k=kk,
            n_probe=n_probe, fine_cents=rf, coarse_metric="l2",
            residual=True, **kw,
        )

    t0 = time.time()
    serve_residual(K).count()
    out["residual_serve_sec"] = round(time.time() - t0, 3)
    out["residual_recall_at_10"] = round(
        ann_recall(exact, serve_residual(K), k=K)
        .agg(F.avg("recall").alias("r")).collect()[0]["r"], 4,
    )

    # exact refine of the ADC shortlist (IndexRefineFlat)
    from open_bus_siri_etl_spark.operators.similarity import (
        _exact_cosine,
        _topk_per_query,
    )

    for shortlist in (50, 100, 200):
        def refined():
            short = serve_residual(shortlist).select("query_id", "neighbor_id")
            qv = queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_vec"),
            )
            cv = corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_vec"),
            )
            return _topk_per_query(
                short.join(F.broadcast(qv), "query_id")
                .join(cv, "neighbor_id")
                .withColumn(
                    "cosine",
                    _exact_cosine(F.col("q_vec"), F.col("c_vec"), DIM),
                ),
                K, [F.desc("cosine")],
            )

        t0 = time.time()
        refined().count()
        out[f"refine{shortlist}_serve_sec"] = round(time.time() - t0, 3)
        out[f"refine{shortlist}_recall_at_10"] = round(
            ann_recall(exact, refined(), k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"], 4,
        )
    # what the refine stage buys vs paying exact over everything
    t0 = time.time()
    cosine_topk(corpus, queries, k=K).count()
    out["exact_sec"] = round(time.time() - t0, 3)
    out["cost_note"] = (
        "at this 100k toy scale brute-force exact is CHEAPER than the "
        "refined stack (the whole corpus fits one broadcast pass); the "
        "refine's per-batch cost is ADC (flat in corpus floats, see the "
        "tier section) + ONE shortlist-id hash join over a pruned corpus "
        "scan, vs exact's Q x N vector scoring — the clustered_tiers "
        "section holds the definitive fast-AND-accurate rows (refine@400 "
        "beats exact 1.81x at 300k / 2.67x at 1M at recall 0.96/0.975), "
        "and BENCH_IVFPQ_FRONTIER.json the knee the serving default "
        "ships"
    )
    print(json.dumps(out), flush=True)
    return out


def synth_clustered(spark, work: Path, n: int, tag: str,
                    n_topics: int = 256, sigma: float = 0.8,
                    seed: int = 31, chunk: int = 100_000):
    """Topic-structured corpus + fresh-sample queries at arbitrary N —
    the regime retrieval actually runs (see clustered_recall).  Written
    in chunks so the 1M tier never holds the whole corpus in one driver
    pandas frame."""
    import os

    import pandas as pd

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_topics, DIM).astype("float64")
    cpath, qpath = str(work / f"clc_{tag}"), str(work / f"clq_{tag}")
    if os.path.isdir(cpath) and os.path.isdir(qpath):
        # a persistent --work dir reuses the corpus across runs (the
        # chunked corpus write is mode=append — regenerating into an
        # existing dir would double it)
        return spark.read.parquet(cpath), spark.read.parquet(qpath)
    for start in range(0, n, chunk):
        m = min(chunk, n - start)
        topic_of = (np.arange(start, start + m)) % n_topics
        vecs = (centers[topic_of] + sigma * rng.randn(m, DIM)).astype(
            "float32"
        )
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(start, start + m, dtype="int64"),
                "embedding": list(vecs),
            }
        )
        spark.createDataFrame(pdf).repartition(8).write.mode(
            "append"
        ).parquet(cpath)
    q_topics = rng.randint(0, n_topics, N_QUERIES)
    qvecs = (centers[q_topics] + sigma * rng.randn(N_QUERIES, DIM)).astype(
        "float32"
    )
    qdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, n + N_QUERIES, dtype="int64"),
            "embedding": list(qvecs),
        }
    )
    spark.createDataFrame(qdf).coalesce(1).write.mode("overwrite").parquet(qpath)
    return spark.read.parquet(cpath), spark.read.parquet(qpath)


def build_residual_stack(spark, work: Path, corpus, n_cent: int, tag: str,
                         train_corpus=None):
    """Train coarse+residual-fine codebooks on ``train_corpus`` (default:
    the full corpus; FAISS practice at scale is a SUBSAMPLE — train() on
    a fraction, add() everything), persist them and the residual-encoded
    index (partitioned by cluster for serve-side partition pruning).
    Returns (index, coarse, fine, train_sec, build_sec) — the deployable
    FAISS-shaped store the frontier and tier sections both serve from."""
    import os

    from open_bus_siri_etl_spark.operators.similarity import ivf_residuals

    kw = dict(n_centroids=n_cent, n_sub=N_SUB, sub_dim=SUB_DIM,
              pq_centroids=PQ_CENTROIDS, dim=DIM)
    done = [
        str(work / f"rs_{p}_{tag}") for p in ("tc", "rf", "ix")
    ]
    if all(os.path.isdir(p) for p in done):
        # persistent --work dir: the trained stack is deterministic in the
        # corpus, so reuse it (train/build timings come from the run that
        # paid them — reported as 0 here to keep cached reruns honest)
        return (
            spark.read.parquet(done[2]), spark.read.parquet(done[0]),
            spark.read.parquet(done[1]), 0.0, 0.0,
        )
    if train_corpus is None:
        train_corpus = corpus
    t0 = time.time()
    tc = kmeans_codebook(train_corpus, k=n_cent, iters=2)
    tcp = str(work / f"rs_tc_{tag}")
    tc.coalesce(1).write.mode("overwrite").parquet(tcp)
    tc = spark.read.parquet(tcp)
    res = ivf_residuals(train_corpus, tc, n_cent, dim=DIM)
    rf = kmeans_subspace_codebook(
        res, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS, iters=2,
    )
    rfp = str(work / f"rs_rf_{tag}")
    rf.coalesce(1).write.mode("overwrite").parquet(rfp)
    rf = spark.read.parquet(rfp)
    train_sec = time.time() - t0
    t0 = time.time()
    ipath = str(work / f"rs_ix_{tag}")
    build_ivf_pq_index(
        corpus, cents=tc, fine_cents=rf, coarse_metric="l2",
        residual=True, **kw,
    ).write.mode("overwrite").partitionBy("cluster").parquet(ipath)
    build_sec = time.time() - t0
    return (
        spark.read.parquet(ipath), tc, rf,
        round(train_sec, 3), round(build_sec, 3),
    )


def serve_refined(spark, index, tc, rf, corpus, queries, n_cent: int,
                  n_probe: int, refine_k: int):
    """One deployable serve: residual-ADC shortlist of ``refine_k`` (or
    straight ADC top-K when refine_k == 0), exact-refined to the top K.
    Returns the served frame (64 x K rows)."""
    from open_bus_siri_etl_spark.operators.similarity import (
        _exact_cosine,
        _topk_per_query,
    )

    kw = dict(n_centroids=n_cent, n_sub=N_SUB, sub_dim=SUB_DIM,
              pq_centroids=PQ_CENTROIDS, dim=DIM)
    adc = ivf_pq_topk_serve(
        index, tc, queries, k=(refine_k or K), n_probe=n_probe,
        fine_cents=rf, coarse_metric="l2", residual=True, **kw,
    )
    if not refine_k:
        return adc
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    cv = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    sim = (
        adc.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", _exact_cosine(F.col("q_vec"), F.col("c_vec"), DIM))
    )
    return _topk_per_query(sim, K, [F.desc("cosine")])


def _pin(spark, df):
    """Materialize a SMALL served frame once so timing actions and recall
    evals don't re-run the full serve plan."""
    return spark.createDataFrame(df.collect(), df.schema)


def clustered_tiers(spark, work: Path, tiers) -> list:
    """Round-10 directive #1/#6: price the DEPLOYABLE stack — trained
    coarse + residual PQ + exact refine — at the tiers where approx must
    beat exact, with recall measured AT THE SAME TIER (the round-10
    artifact priced recall at 100k and speedup at 300k on different
    corpora).  Each tier row carries exact_sec next to serve_sec and
    recall@10 for ADC and each refine rung, on a topic-structured corpus
    (isotropic-gaussian recall is structurally capped by pruning and is
    NOT the regime retrieval runs — see clustered_recall)."""
    out = []
    for n, n_topics, n_cent, n_probe, refine_ks, train_mod in tiers:
        tag = f"{n}"
        corpus, queries = synth_clustered(
            spark, work, n, tag, n_topics=n_topics
        )
        corpus.count()
        index, tc, rf, train_sec, build_sec = build_residual_stack(
            spark, work, corpus, n_cent, tag,
            train_corpus=(
                corpus.filter(F.col("vec_id") % train_mod == 0)
                if train_mod > 1
                else None
            ),
        )
        t0 = time.time()
        exact = cosine_topk(corpus, queries, k=K)
        expath = str(work / f"clx_{tag}")
        exact.write.mode("overwrite").parquet(expath)
        exact_sec = round(time.time() - t0, 3)
        exact = spark.read.parquet(expath)
        # candidate-recall ceiling from the PERSISTED index assignments:
        # the fraction of exact top-10 living inside the probed cells —
        # every refine rung is bounded by it, so the tier row carries it
        from open_bus_siri_etl_spark.operators.similarity import (
            _nearest_centroids,
            _slice_codebook,
        )

        asg = index.select(
            F.col("vec_id").alias("neighbor_id"), "cluster"
        ).distinct()
        qprobe = _nearest_centroids(
            queries.select(
                F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
            ),
            F.broadcast(_slice_codebook(tc, n_cent, "coarse", "tiers")),
            "cluster", n_probe, DIM, metric="l2",
        ).select(F.col("_id").alias("query_id"), "cluster")
        ceiling = (
            exact.join(asg, "neighbor_id")
            .join(qprobe, ["query_id", "cluster"], "left_semi")
            .count()
        ) / (N_QUERIES * K)
        tier = {
            "n_vectors": n, "n_topics": n_topics, "sigma": 0.8,
            "train_mod": train_mod,
            "n_centroids": n_cent, "n_probe": n_probe,
            "pruning_frac": round(n_probe / n_cent, 4),
            "train_sec": train_sec, "build_sec": build_sec,
            "exact_sec": exact_sec,
            "candidate_recall_ceiling": round(ceiling, 4),
            "rungs": [],
        }
        for refine_k in refine_ks:
            t0 = time.time()
            served = serve_refined(
                spark, index, tc, rf, corpus, queries, n_cent, n_probe,
                refine_k,
            )
            n_rows = served.count()
            serve_sec = round(time.time() - t0, 3)
            served = _pin(spark, served)
            recall = (
                ann_recall(exact, served, k=K)
                .agg(F.avg("recall").alias("r")).collect()[0]["r"]
            )
            tier["rungs"].append(
                {
                    "refine_k": refine_k,
                    "serve_sec": serve_sec,
                    "serve_speedup_vs_exact": round(exact_sec / serve_sec, 2),
                    "recall_at_10": round(recall, 4),
                    "rows_served": n_rows,
                }
            )
            print(json.dumps({"tier": n, **tier["rungs"][-1]}), flush=True)

        # SQ8 rung (round-11 cont.): same coarse assignments as the PQ
        # store (reused from the persisted index), codes-only store at
        # DIM bytes/vector.  Unlike the refine rungs — which must read
        # candidate FLOAT vectors back from the corpus for the exact
        # re-rank — the SQ8 serve touches no corpus floats at all, so
        # it prices the "no float corpus online" deployment point:
        # recall at the candidate ceiling, 4x memory vs exact, vs PQ's
        # 8 bytes + refine I/O.
        import os

        from open_bus_siri_etl_spark.operators.quantization import (
            sq8_encode,
            sq8_fingerprint,
            sq8_params_tag,
            sq8_topk_serve,
            sq8_train,
        )

        t0 = time.time()
        bounds = sq8_train(corpus)
        sq8_train_sec = round(time.time() - t0, 3)
        sq8_cents = _slice_codebook(tc, n_cent, "coarse", "tiers")
        sq8_path = str(work / f"sq8_ix_{tag}")
        if not os.path.isdir(sq8_path):
            t0 = time.time()
            # coarse assignments reused from the persisted PQ index (one
            # assignment pass per tier, not two); provenance stamped the
            # way build_sq8_index does so the r12 serve guard accepts it
            sq8_encode(
                index.select("vec_id", "cluster").join(corpus, "vec_id"),
                bounds,
            ).select("vec_id", "cluster", "sq8_code").crossJoin(
                F.broadcast(sq8_fingerprint(sq8_cents, bounds, "sq8_fp"))
            ).withColumn(
                "params",
                F.lit(sq8_params_tag(n_cent, "l2", False, len(bounds))),
            ).write.partitionBy("cluster").parquet(sq8_path)
            sq8_build_sec = round(time.time() - t0, 3)
        else:
            sq8_build_sec = 0.0
        sq8_ix = spark.read.parquet(sq8_path)
        if "params" not in sq8_ix.columns:
            raise SystemExit(
                f"stale pre-provenance SQ8 store at {sq8_path} — delete "
                "the work dir (or this path) and re-run"
            )
        t0 = time.time()
        served = sq8_topk_serve(
            sq8_ix, sq8_cents, queries, bounds, k=K, n_probe=n_probe,
            dim=DIM, coarse_metric="l2", n_centroids=n_cent,
        )
        n_rows = served.count()
        sq8_serve_sec = round(time.time() - t0, 3)
        served = _pin(spark, served)
        sq8_recall = (
            ann_recall(exact, served, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        tier["sq8"] = {
            "bytes_per_vector": DIM,
            "train_sec": sq8_train_sec,
            "build_sec": sq8_build_sec,
            "serve_sec": sq8_serve_sec,
            "serve_speedup_vs_exact": round(exact_sec / sq8_serve_sec, 2),
            "recall_at_10": round(sq8_recall, 4),
            "rows_served": n_rows,
        }
        print(json.dumps({"tier": n, "sq8": tier["sq8"]}), flush=True)

        # SQ8 + exact-refine rungs (round-12 frontier item 1): SQ8's
        # shortlist already ranks near-exactly, so a SMALL refine
        # shortlist should reach refine@400's recall at lower serve
        # cost — the candidate new frontier row.  Same refine mechanics
        # as the PQ rungs (broadcast shortlist ids against one corpus
        # float scan), shortlist swept well below PQ's 400.
        from open_bus_siri_etl_spark.operators.quantization import (
            sq8_refine_serve,
        )

        tier["sq8_refine"] = []
        for short_k in (50, 100):
            t0 = time.time()
            served = sq8_refine_serve(
                sq8_ix, sq8_cents, queries, bounds, corpus, k=K,
                shortlist=short_k, n_probe=n_probe, dim=DIM,
                coarse_metric="l2", n_centroids=n_cent,
            )
            n_rows = served.count()
            ssec = round(time.time() - t0, 3)
            served = _pin(spark, served)
            rec = (
                ann_recall(exact, served, k=K)
                .agg(F.avg("recall").alias("r")).collect()[0]["r"]
            )
            tier["sq8_refine"].append(
                {
                    "shortlist": short_k,
                    "serve_sec": ssec,
                    "serve_speedup_vs_exact": round(exact_sec / ssec, 2),
                    "recall_at_10": round(rec, 4),
                    "rows_served": n_rows,
                }
            )
            print(
                json.dumps({"tier": n, "sq8_refine": tier["sq8_refine"][-1]}),
                flush=True,
            )
        out.append(tier)
        print(json.dumps(tier), flush=True)
    return out


def sq8_scale_tier(spark, work: Path, n: int = 10_000_000,
                   n_topics: int = 4096, n_cent: int = 4096,
                   n_probe: int = 64, train_mod: int = 41) -> dict:
    """The 10M-vector SQ8 tier (round-12 item 5) — the scale where the
    codes-only store's memory argument BITES: 10M x 64d float32 is
    ~2.5 GB of vectors, the SQ8 store is ~640 MB of codes (measured
    byte sizes carried in the row), and the serve touches neither —
    it scans n_probe/nlist of the code rows, partition-pruned.

    FAISS-at-scale practice throughout: nlist 4096 (~2.4k vectors/cell),
    kmeans trained on a 1-in-41 subsample (train() on a sample, add()
    everything; 41 is coprime with the 4096 topics — the train_mod=9
    lesson), probe fraction held at the 1M tier's 16/1024.  The coarse
    assignment of all 10M rides the Arrow matmul kernel (the r11
    reroute — the crossJoin plan would put 10M x 4096 rows through an
    exchange), encode is map-only, and the store partitions by cluster
    so the serve reads 1/64 of it per query batch."""
    import os

    from open_bus_siri_etl_spark.operators.quantization import (
        sq8_refine_serve,
        sq8_topk_serve,
        sq8_train,
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        _nearest_centroids,
    )

    tag = f"{n}"
    corpus, queries = synth_clustered(
        spark, work, n, tag, n_topics=n_topics, chunk=500_000
    )
    corpus.count()

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    tcp = str(work / f"sq8s_tc_{tag}")
    if not os.path.isdir(tcp):
        t0 = time.time()
        tc = kmeans_codebook(
            corpus.filter(F.col("vec_id") % train_mod == 0),
            k=n_cent, iters=2,
        )
        tc.coalesce(1).write.mode("overwrite").parquet(tcp)
        train_sec = round(time.time() - t0, 3)
    else:
        train_sec = 0.0
    tc = spark.read.parquet(tcp)
    cents = tc.select("cent_id", "cent_vec")

    t0 = time.time()
    bounds = sq8_train(corpus)
    bounds_sec = round(time.time() - t0, 3)

    from open_bus_siri_etl_spark.operators.quantization import (
        build_sq8_index,
    )

    ipath = str(work / f"sq8s_ix_{tag}")
    if not os.path.isdir(ipath):
        t0 = time.time()
        build_sq8_index(
            corpus, cents, bounds, dim=DIM, coarse_metric="l2",
            n_cents=n_cent,
        ).write.partitionBy("cluster").parquet(ipath)
        build_sec = round(time.time() - t0, 3)
    else:
        build_sec = 0.0
    index = spark.read.parquet(ipath)
    if "params" not in index.columns:
        raise SystemExit(f"stale pre-provenance store at {ipath} — delete it")

    expath = str(work / f"sq8s_exact_{tag}")
    if not os.path.isdir(expath):
        t0 = time.time()
        cosine_topk(corpus, queries, k=K, dim=DIM).write.mode(
            "overwrite"
        ).parquet(expath)
        exact_sec = round(time.time() - t0, 3)
    else:
        exact_sec = 0.0
    exact = spark.read.parquet(expath)

    # candidate ceiling from the persisted assignments
    asg = index.select(F.col("vec_id").alias("neighbor_id"), "cluster")
    qprobe = _nearest_centroids(
        queries.select(
            F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
        ),
        F.broadcast(cents), "cluster", n_probe, DIM, metric="l2",
    ).select(F.col("_id").alias("query_id"), "cluster")
    ceiling = (
        exact.join(asg, "neighbor_id")
        .join(qprobe, ["query_id", "cluster"], "left_semi")
        .count()
    ) / (N_QUERIES * K)

    out = {
        "n_vectors": n, "n_topics": n_topics, "sigma": 0.8,
        "n_centroids": n_cent, "n_probe": n_probe,
        "pruning_frac": round(n_probe / n_cent, 4),
        "train_mod": train_mod,
        "train_sec": train_sec, "bounds_sec": bounds_sec,
        "build_sec": build_sec, "exact_sec": exact_sec,
        "candidate_recall_ceiling": round(ceiling, 4),
        "corpus_parquet_bytes": _dir_bytes(str(work / f"clc_{tag}")),
        "sq8_store_parquet_bytes": _dir_bytes(ipath),
        "bytes_per_vector": DIM,
    }
    t0 = time.time()
    served = sq8_topk_serve(
        index, cents, queries, bounds, k=K, n_probe=n_probe, dim=DIM,
        coarse_metric="l2", n_centroids=n_cent,
    )
    n_rows = served.count()
    ssec = round(time.time() - t0, 3)
    served = _pin(spark, served)
    rec = (
        ann_recall(exact, served, k=K)
        .agg(F.avg("recall").alias("r")).collect()[0]["r"]
    )
    out["sq8"] = {
        "serve_sec": ssec,
        "serve_speedup_vs_exact": (
            round(exact_sec / ssec, 2) if exact_sec else None
        ),
        "recall_at_10": round(rec, 4),
        "rows_served": n_rows,
    }
    print(json.dumps({"sq8_scale": out["sq8"]}), flush=True)
    out["sq8_refine"] = []
    for short_k in (50, 100):
        t0 = time.time()
        served = sq8_refine_serve(
            index, cents, queries, bounds, corpus, k=K,
            shortlist=short_k, n_probe=n_probe, dim=DIM,
            coarse_metric="l2", n_centroids=n_cent,
        )
        n_rows = served.count()
        ssec = round(time.time() - t0, 3)
        served = _pin(spark, served)
        rec = (
            ann_recall(exact, served, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        out["sq8_refine"].append(
            {
                "shortlist": short_k,
                "serve_sec": ssec,
                "serve_speedup_vs_exact": (
                    round(exact_sec / ssec, 2) if exact_sec else None
                ),
                "recall_at_10": round(rec, 4),
                "rows_served": n_rows,
            }
        )
        print(json.dumps({"sq8_scale_refine": out["sq8_refine"][-1]}),
              flush=True)

    # --- residual family at the same tier (round-13 directive #1): the
    # 10M raw finding says the binding constraint is the 8-bit GRID —
    # corpus-wide min/max over 10M samples span wide extremes, diluting
    # per-cell resolution (raw recall 0.5703 with ceiling 1.0).  Residual
    # bounds span only the within-cell range, so the same 256 levels land
    # ~topic-radius apart instead of corpus-radius apart.  Measured here:
    # residual-raw, then residual+refine at shrinking shortlists — the
    # expectation is the refine shortlist needed at 10M shrinking back
    # toward the 50 that sufficed at 1M.
    from open_bus_siri_etl_spark.operators.quantization import (
        sq8_residual_frame,
    )

    t0 = time.time()
    res_bounds = sq8_train(
        sq8_residual_frame(corpus, cents, dim=DIM, coarse_metric="l2"),
        vec_col="_rvec",
    )
    res_bounds_sec = round(time.time() - t0, 3)
    rpath = str(work / f"sq8s_rix_{tag}")
    if not os.path.isdir(rpath):
        t0 = time.time()
        build_sq8_index(
            corpus, cents, res_bounds, dim=DIM, coarse_metric="l2",
            n_cents=n_cent, residual=True,
        ).write.partitionBy("cluster").parquet(rpath)
        res_build_sec = round(time.time() - t0, 3)
    else:
        res_build_sec = 0.0
    rindex = spark.read.parquet(rpath)

    t0 = time.time()
    served = sq8_topk_serve(
        rindex, cents, queries, res_bounds, k=K, n_probe=n_probe,
        dim=DIM, coarse_metric="l2", residual=True, n_centroids=n_cent,
    )
    n_rows = served.count()
    ssec = round(time.time() - t0, 3)
    served = _pin(spark, served)
    rec = (
        ann_recall(exact, served, k=K)
        .agg(F.avg("recall").alias("r")).collect()[0]["r"]
    )
    out["sq8_residual"] = {
        "bounds_sec": res_bounds_sec,
        "build_sec": res_build_sec,
        "store_parquet_bytes": _dir_bytes(rpath),
        "serve_sec": ssec,
        "serve_speedup_vs_exact": (
            round(exact_sec / ssec, 2) if exact_sec else None
        ),
        "recall_at_10": round(rec, 4),
        "rows_served": n_rows,
    }
    print(json.dumps({"sq8_scale_residual": out["sq8_residual"]}),
          flush=True)

    out["sq8_residual_refine"] = []
    for short_k in (20, 50, 100):
        t0 = time.time()
        served = sq8_refine_serve(
            rindex, cents, queries, res_bounds, corpus, k=K,
            shortlist=short_k, n_probe=n_probe, dim=DIM,
            coarse_metric="l2", residual=True, n_centroids=n_cent,
        )
        n_rows = served.count()
        ssec = round(time.time() - t0, 3)
        served = _pin(spark, served)
        rec = (
            ann_recall(exact, served, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        out["sq8_residual_refine"].append(
            {
                "shortlist": short_k,
                "serve_sec": ssec,
                "serve_speedup_vs_exact": (
                    round(exact_sec / ssec, 2) if exact_sec else None
                ),
                "recall_at_10": round(rec, 4),
                "rows_served": n_rows,
            }
        )
        print(
            json.dumps(
                {"sq8_scale_residual_refine": out["sq8_residual_refine"][-1]}
            ),
            flush=True,
        )
    return out


def pq_scale_tier(spark, work: Path, n: int = 10_000_000,
                  n_topics: int = 4096, n_cent: int = 4096,
                  n_probe: int = 64, train_mod: int = 41) -> dict:
    """IVF-PQ at the 10M tier (r14 directive #4) — the family whose
    MEMORY story matters most here: 8 codes/vector (N_SUB=8) is ~80 MB
    of payload for 10M vectors vs ~0.64 GB of SQ8 codes and ~2.56 GB of
    raw float32 — the regime where a serving fleet holds the whole PQ
    store in page cache while SQ8 already spills.

    Same corpus/geometry as ``sq8_scale_tier`` so the rows are directly
    comparable: topic-structured 10M x 64d (sigma 0.8, 4096 topics),
    nlist 4096 / n_probe 64, codebooks trained on the 1-in-41 subsample
    (train() on a sample, add() everything).  The COARSE codebook is
    REUSED from the SQ8 tier's persisted kmeans when present — identical
    cells mean recall differences are pure quantizer resolution, not
    assignment luck.  Measured rungs: residual-ADC (the 6-bit grid), and
    exact refine at shortlist 100 / 400 — the r11 1M tiers needed ~50;
    the r13 residual finding predicts the ADC grid dilutes at 10M the
    same way SQ8's did, with refine as the cure, and the 400 rung prices
    how far the shortlist must grow."""
    import os

    from open_bus_siri_etl_spark.operators.similarity import (
        _nearest_centroids,
        ivf_residuals,
    )

    tag = f"{n}"
    corpus, queries = synth_clustered(
        spark, work, n, tag, n_topics=n_topics, chunk=500_000
    )
    corpus.count()

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    train_sub = corpus.filter(F.col("vec_id") % train_mod == 0)
    # coarse codebook: shared with the SQ8 tier (sq8s_tc) when present
    tcp = str(work / f"sq8s_tc_{tag}")
    if not os.path.isdir(tcp):
        t0 = time.time()
        tc = kmeans_codebook(train_sub, k=n_cent, iters=2)
        tc.coalesce(1).write.mode("overwrite").parquet(tcp)
        coarse_train_sec = round(time.time() - t0, 3)
    else:
        coarse_train_sec = 0.0
    tc = spark.read.parquet(tcp)

    rfp = str(work / f"pqs_rf_{tag}")
    if not os.path.isdir(rfp):
        t0 = time.time()
        # STAGE the training residuals once: the subspace Lloyd loop
        # re-triggers its input plan ~2x per subspace (init collect +
        # assign/mean per iter), and recomputing the 244k x 4096 coarse
        # assignment inside ivf_residuals ~16x dominates training time —
        # a parquet stage turns each re-read into a 244k-row scan
        res_stage = str(work / f"pqs_res_train_{tag}")
        ivf_residuals(train_sub, tc, n_cent, dim=DIM).write.mode(
            "overwrite"
        ).parquet(res_stage)
        res = spark.read.parquet(res_stage)
        kmeans_subspace_codebook(
            res, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS, iters=2,
        ).coalesce(1).write.mode("overwrite").parquet(rfp)
        fine_train_sec = round(time.time() - t0, 3)
        shutil.rmtree(res_stage, ignore_errors=True)
    else:
        fine_train_sec = 0.0
    rf = spark.read.parquet(rfp)

    ipath = str(work / f"pqs_ix_{tag}")
    if not os.path.isdir(ipath):
        t0 = time.time()
        build_ivf_pq_index(
            corpus, cents=tc, fine_cents=rf, coarse_metric="l2",
            residual=True, n_centroids=n_cent, n_sub=N_SUB,
            sub_dim=SUB_DIM, pq_centroids=PQ_CENTROIDS, dim=DIM,
        ).write.mode("overwrite").partitionBy("cluster").parquet(ipath)
        build_sec = round(time.time() - t0, 3)
    else:
        build_sec = 0.0
    index = spark.read.parquet(ipath)

    # exact baseline: shared with the SQ8 tier
    expath = str(work / f"sq8s_exact_{tag}")
    if not os.path.isdir(expath):
        t0 = time.time()
        cosine_topk(corpus, queries, k=K, dim=DIM).write.mode(
            "overwrite"
        ).parquet(expath)
        exact_sec = round(time.time() - t0, 3)
    else:
        exact_sec = 0.0
    exact = spark.read.parquet(expath)

    asg = index.select(F.col("vec_id").alias("neighbor_id"), "cluster")
    qprobe = _nearest_centroids(
        queries.select(
            F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
        ),
        F.broadcast(tc.select("cent_id", "cent_vec")),
        "cluster", n_probe, DIM, metric="l2",
    ).select(F.col("_id").alias("query_id"), "cluster")
    ceiling = (
        exact.join(asg, "neighbor_id")
        .join(qprobe, ["query_id", "cluster"], "left_semi")
        .count()
    ) / (N_QUERIES * K)

    out = {
        "n_vectors": n, "n_topics": n_topics, "sigma": 0.8,
        "n_centroids": n_cent, "n_probe": n_probe,
        "pruning_frac": round(n_probe / n_cent, 4),
        "train_mod": train_mod,
        "coarse_train_sec": coarse_train_sec,
        "fine_train_sec": fine_train_sec,
        "build_sec": build_sec, "exact_sec": exact_sec,
        "candidate_recall_ceiling": round(ceiling, 4),
        "pq_store_parquet_bytes": _dir_bytes(ipath),
        "codes_per_vector": N_SUB,
        "rungs": [],
    }
    for refine_k in (0, 100, 400):
        t0 = time.time()
        served = serve_refined(
            spark, index, tc, rf, corpus, queries, n_cent, n_probe,
            refine_k,
        )
        n_rows = served.count()
        serve_sec = round(time.time() - t0, 3)
        served = _pin(spark, served)
        recall = (
            ann_recall(exact, served, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        out["rungs"].append(
            {
                "refine_k": refine_k,
                "serve_sec": serve_sec,
                "serve_speedup_vs_exact": (
                    round(exact_sec / serve_sec, 2) if exact_sec else None
                ),
                "recall_at_10": round(recall, 4),
                "rows_served": n_rows,
            }
        )
        print(json.dumps({"pq_scale": out["rungs"][-1]}), flush=True)
    return out


def sq8_residual_regime(spark, work: Path, n: int = 1_000_000,
                        n_topics: int = 1024, n_cent: int = 1024,
                        n_probe: int = 16, sigma: float = 0.2) -> dict:
    """The OTHER side of the round-13 honest finding, measured at scale
    (r13 follow-through): the 10M rows show residual-SQ8 buying nothing
    at sigma=0.8 (cells overlap — within-cell min/max over 10M samples
    nearly spans the corpus range); the unit test pins that it DOES
    tighten the grid at sigma=0.1.  This section measures the claim at
    the 1M tier with sigma=0.2 (tight clusters, same geometry as the 1M
    clustered tier otherwise) and records the MECHANISM number directly:
    ``bounds_span_ratio`` = mean over dimensions of
    (residual span / raw span) — the factor by which the 256-level grid
    gets finer.  Expectation: span ratio well below 1 and residual
    recall well above raw, completing the regime decomposition the
    SQ8_SERVING_DEFAULTS docstring cites."""
    import os

    from open_bus_siri_etl_spark.operators.quantization import (
        build_sq8_index,
        sq8_residual_frame,
        sq8_topk_serve,
        sq8_train,
    )

    tag = f"rg{n}_s{sigma}"
    corpus, queries = synth_clustered(
        spark, work, n, tag, n_topics=n_topics, sigma=sigma, seed=37,
        chunk=250_000,
    )
    corpus.count()
    tcp = str(work / f"rg_tc_{tag}")
    if not os.path.isdir(tcp):
        kmeans_codebook(
            corpus.filter(F.col("vec_id") % 9 == 0), k=n_cent, iters=2,
        ).coalesce(1).write.parquet(tcp)
    cents = spark.read.parquet(tcp).select("cent_id", "cent_vec")

    raw_bounds = sq8_train(corpus)
    res_bounds = sq8_train(
        sq8_residual_frame(corpus, cents, dim=DIM, coarse_metric="l2"),
        vec_col="_rvec",
    )
    span_ratio = float(
        np.mean(
            [
                (rmx - rmn) / (mx - mn)
                for (mn, mx), (rmn, rmx) in zip(raw_bounds, res_bounds)
                if mx > mn
            ]
        )
    )

    expath = str(work / f"rg_exact_{tag}")
    if not os.path.isdir(expath):
        cosine_topk(corpus, queries, k=K, dim=DIM).write.parquet(expath)
    exact = spark.read.parquet(expath)

    out = {
        "n_vectors": n, "n_topics": n_topics, "sigma": sigma,
        "n_centroids": n_cent, "n_probe": n_probe,
        "pruning_frac": round(n_probe / n_cent, 4),
        "bounds_span_ratio": round(span_ratio, 4),
    }
    for fam, bnds, residual in (
        ("raw", raw_bounds, False), ("residual", res_bounds, True)
    ):
        ipath = str(work / f"rg_ix_{fam}_{tag}")
        if not os.path.isdir(ipath):
            t0 = time.time()
            build_sq8_index(
                corpus, cents, bnds, dim=DIM, coarse_metric="l2",
                n_cents=n_cent, residual=residual,
            ).write.partitionBy("cluster").parquet(ipath)
            build_sec = round(time.time() - t0, 3)
        else:
            build_sec = 0.0
        index = spark.read.parquet(ipath)
        t0 = time.time()
        served = sq8_topk_serve(
            index, cents, queries, bnds, k=K, n_probe=n_probe, dim=DIM,
            coarse_metric="l2", residual=residual, n_centroids=n_cent,
        )
        n_rows = served.count()
        ssec = round(time.time() - t0, 3)
        served = _pin(spark, served)
        rec = (
            ann_recall(exact, served, k=K)
            .agg(F.avg("recall").alias("r")).collect()[0]["r"]
        )
        out[fam] = {
            "build_sec": build_sec,
            "serve_sec": ssec,
            "recall_at_10": round(rec, 4),
            "rows_served": n_rows,
        }
        print(json.dumps({f"sq8_regime_{fam}": out[fam]}), flush=True)
    out["residual_gain"] = round(
        out["residual"]["recall_at_10"] - out["raw"]["recall_at_10"], 4
    )
    return out


def epoch_appends(spark, work: Path) -> dict:
    """The append half of the serving story, measured the way production
    runs it (the BENCH_DELTA_EPOCHS discipline, extended to the fourth
    persisted index): freeze the codebook on a 100k base corpus, build
    the base index once, then K=8 successive 5k-vector ingests — each
    epoch times the encode+append (mode('append') against the persisted
    parquet, expected FLAT: codes are per-row functions of
    (vector, frozen codebook)) and a fixed 64-query serve from the
    accumulated store (expected to grow only with the pruned code rows).
    After epoch K the accumulated index must equal the from-scratch
    rebuild against the same frozen codebook (exceptAll both ways)."""
    n_base, n_batch, k_epochs, n_cent, n_probe = 100_000, 5_000, 8, 128, 8
    rng = np.random.RandomState(23)
    import pandas as pd

    def write_vecs(ids, vecs, path):
        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
        spark.createDataFrame(pdf).repartition(8).write.mode(
            "overwrite"
        ).parquet(path)
        return spark.read.parquet(path)

    base = write_vecs(
        np.arange(n_base, dtype="int64"),
        rng.randn(n_base, DIM).astype("float32"),
        str(work / "ep_base"),
    )
    queries = write_vecs(
        np.arange(10**9, 10**9 + N_QUERIES, dtype="int64"),
        rng.randn(N_QUERIES, DIM).astype("float32"),
        str(work / "ep_queries"),
    )
    cpath = str(work / "ep_cents")
    ivf_pq_centroids(base, n_keep=max(n_cent, PQ_CENTROIDS)).write.parquet(cpath)
    cents = spark.read.parquet(cpath)
    ipath = str(work / "ep_index")
    kw = dict(
        n_centroids=n_cent, n_sub=N_SUB, sub_dim=SUB_DIM,
        pq_centroids=PQ_CENTROIDS, dim=DIM,
    )
    t0 = time.time()
    build_ivf_pq_index(base, cents=cents, **kw).write.partitionBy(
        "cluster"
    ).parquet(ipath)
    base_build_sec = round(time.time() - t0, 3)
    epochs = []
    batches = [base]
    for e in range(1, k_epochs + 1):
        batch = write_vecs(
            np.arange(n_base + (e - 1) * n_batch, n_base + e * n_batch,
                      dtype="int64"),
            rng.randn(n_batch, DIM).astype("float32"),
            str(work / f"ep_b{e}"),
        )
        batches.append(batch)
        t0 = time.time()
        build_ivf_pq_index(batch, cents=cents, **kw).write.mode(
            "append"
        ).partitionBy("cluster").parquet(ipath)
        append_sec = time.time() - t0
        t0 = time.time()
        n_rows = ivf_pq_topk_serve(
            spark.read.parquet(ipath), cents, queries, k=K,
            n_probe=n_probe, **kw,
        ).count()
        serve_sec = time.time() - t0
        epochs.append(
            {
                "epoch": e,
                "append_sec": round(append_sec, 3),
                "serve_sec": round(serve_sec, 3),
                "rows_served": n_rows,
            }
        )
        print(json.dumps(epochs[-1]), flush=True)
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    rebuilt = build_ivf_pq_index(full, cents=cents, **kw)
    accumulated = spark.read.parquet(ipath).select(*rebuilt.columns)
    append_equals_rebuild = (
        accumulated.exceptAll(rebuilt).isEmpty()
        and rebuilt.exceptAll(accumulated).isEmpty()
    )
    app = [e["append_sec"] for e in epochs]
    return {
        "n_base": n_base,
        "n_batch": n_batch,
        "k_epochs": k_epochs,
        "n_centroids": n_cent,
        "n_probe": n_probe,
        "base_build_sec": base_build_sec,
        "epochs": epochs,
        "append_flatness_max_over_min": round(max(app) / min(app), 3),
        "append_equals_rebuild": append_equals_rebuild,
    }


def main() -> None:
    spark = get_spark(app_name="siri-etl-bench-ivfpq")
    spark.sparkContext.setLogLevel("ERROR")
    keep = "--work" in sys.argv
    work = (
        Path(sys.argv[sys.argv.index("--work") + 1])
        if keep
        else Path(tempfile.mkdtemp(prefix="bench_ivfpq_"))
    )
    work.mkdir(parents=True, exist_ok=True)
    only_flags = {
        "--clustered-only": ("clustered_recall", clustered_recall),
        "--clustered-tiers-only": (
            "clustered_tiers",
            lambda s, w: clustered_tiers(s, w, CLUSTERED_TIERS),
        ),
        "--sq8-scale-only": ("sq8_scale_10m", sq8_scale_tier),
        "--sq8-regime-only": ("sq8_residual_regime", sq8_residual_regime),
        "--pq-scale-only": ("pq_scale_10m", pq_scale_tier),
    }
    hit = [f for f in only_flags if f in sys.argv]
    if hit:
        # refresh just one section of an existing artifact (the full
        # tier/epoch re-run is ~40+ min)
        artifact = ROOT / "BENCH_IVFPQ.json"
        if not artifact.exists():
            sys.exit(
                f"{hit[0]} refreshes an existing BENCH_IVFPQ.json; "
                "none found — run the full bench (no flag) first"
            )
        out = json.loads(artifact.read_text())
        try:
            for f in hit:
                key, fn = only_flags[f]
                out[key] = fn(spark, work)
        finally:
            if not keep:
                shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(out))
        if "--write" in sys.argv:
            (ROOT / "BENCH_IVFPQ.json").write_text(
                json.dumps(out, indent=2) + "\n"
            )
        return
    tiers = []
    try:
        for n, n_cent, n_probe in TIERS:
            corpus, queries = synth(spark, work, n)
            corpus.count(), queries.count()  # materialize before timing

            t0 = time.time()
            cframe = ivf_pq_centroids(corpus, n_keep=max(n_cent, PQ_CENTROIDS))
            cpath = str(work / f"cents_{n}")
            cframe.write.mode("overwrite").parquet(cpath)
            cframe = spark.read.parquet(cpath)
            ipath = str(work / f"index_{n}")
            build_ivf_pq_index(
                corpus, n_centroids=n_cent, n_sub=N_SUB, sub_dim=SUB_DIM,
                pq_centroids=PQ_CENTROIDS, dim=DIM, cents=cframe,
            ).write.mode("overwrite").partitionBy("cluster").parquet(ipath)
            build_sec = time.time() - t0
            index = spark.read.parquet(ipath)

            def serve():
                return ivf_pq_topk_serve(
                    index, cframe, queries, k=K, n_centroids=n_cent,
                    n_probe=n_probe, n_sub=N_SUB, sub_dim=SUB_DIM,
                    pq_centroids=PQ_CENTROIDS, dim=DIM,
                )

            t0 = time.time()
            n_served = serve().count()
            serve_sec = time.time() - t0

            t0 = time.time()
            exact = cosine_topk(corpus, queries, k=K)
            n_exact = exact.count()
            exact_sec = time.time() - t0

            recall = (
                ann_recall(exact, serve(), k=K)
                .agg(F.avg("recall").alias("r"))
                .collect()[0]["r"]
            )
            # the retrieval-relevant number: each query has ONE planted
            # relevant doc (its twin, cosine ~0.99); did the index find it?
            # recall@10 above is the honest-but-degenerate gaussian-tail
            # number (ranks 2..10 are barely-correlated random vectors).
            stride = n // N_QUERIES
            twins = spark.createDataFrame(
                [(n + j, j * stride) for j in range(N_QUERIES)],
                "query_id long, twin_id long",
            )
            served = serve()
            twin_top1 = (
                served.filter(F.col("rank") == 1)
                .join(twins, "query_id")
                .filter(F.col("neighbor_id") == F.col("twin_id"))
                .count()
            )
            twin_top10 = (
                served.join(twins, "query_id")
                .filter(F.col("neighbor_id") == F.col("twin_id"))
                .count()
            )
            # TRAINED quantizers at the SAME pruning fraction (round-10):
            # kmeans coarse codebook (L2 assignment family) + per-subspace
            # kmeans PQ codebook replace the lowest-id stand-ins in the
            # identical persisted pipeline — the recall delta at fixed
            # n_probe/n_centroids is what training buys.
            t0 = time.time()
            tr_coarse = kmeans_codebook(corpus, k=n_cent, iters=2)
            tr_fine = kmeans_subspace_codebook(
                corpus, n_sub=N_SUB, sub_dim=SUB_DIM, k=PQ_CENTROIDS,
                iters=2,
            )
            train_sec = time.time() - t0
            t0 = time.time()
            tcpath, tfpath = str(work / f"tc_{n}"), str(work / f"tf_{n}")
            tr_coarse.coalesce(1).write.mode("overwrite").parquet(tcpath)
            tr_fine.coalesce(1).write.mode("overwrite").parquet(tfpath)
            tr_coarse = spark.read.parquet(tcpath)
            tr_fine = spark.read.parquet(tfpath)
            tipath = str(work / f"tindex_{n}")
            build_ivf_pq_index(
                corpus, n_centroids=n_cent, n_sub=N_SUB, sub_dim=SUB_DIM,
                pq_centroids=PQ_CENTROIDS, dim=DIM, cents=tr_coarse,
                fine_cents=tr_fine, coarse_metric="l2",
            ).write.mode("overwrite").partitionBy("cluster").parquet(tipath)
            trained_build_sec = time.time() - t0
            tindex = spark.read.parquet(tipath)

            def serve_trained():
                return ivf_pq_topk_serve(
                    tindex, tr_coarse, queries, k=K, n_centroids=n_cent,
                    n_probe=n_probe, n_sub=N_SUB, sub_dim=SUB_DIM,
                    pq_centroids=PQ_CENTROIDS, dim=DIM,
                    fine_cents=tr_fine, coarse_metric="l2",
                )

            t0 = time.time()
            serve_trained().count()
            trained_serve_sec = time.time() - t0
            trained_recall = (
                ann_recall(exact, serve_trained(), k=K)
                .agg(F.avg("recall").alias("r"))
                .collect()[0]["r"]
            )

            tier = {
                "n_vectors": n,
                "n_centroids": n_cent,
                "n_probe": n_probe,
                "pruning_frac": round(n_probe / n_cent, 4),
                "build_sec": round(build_sec, 3),
                "serve_sec": round(serve_sec, 3),
                "exact_sec": round(exact_sec, 3),
                "serve_speedup_vs_exact": round(exact_sec / serve_sec, 2),
                "rows_served": n_served,
                "rows_exact": n_exact,
                "recall_at_10": round(recall, 4),
                "twin_recall_at_1": round(twin_top1 / N_QUERIES, 4),
                "twin_recall_at_10": round(twin_top10 / N_QUERIES, 4),
                "trained": {
                    "train_sec": round(train_sec, 3),
                    "build_sec": round(trained_build_sec, 3),
                    "serve_sec": round(trained_serve_sec, 3),
                    "recall_at_10": round(trained_recall, 4),
                },
            }
            served_t = serve_trained()
            tier["trained"]["twin_recall_at_1"] = round(
                served_t.filter(F.col("rank") == 1)
                .join(twins, "query_id")
                .filter(F.col("neighbor_id") == F.col("twin_id"))
                .count() / N_QUERIES, 4,
            )
            tier["trained"]["twin_recall_at_10"] = round(
                served_t.join(twins, "query_id")
                .filter(F.col("neighbor_id") == F.col("twin_id"))
                .count() / N_QUERIES, 4,
            )
            tiers.append(tier)
            print(json.dumps(tier), flush=True)
        cl = clustered_recall(spark, work)
        ct = clustered_tiers(spark, work, CLUSTERED_TIERS)
        ep = epoch_appends(spark, work)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    out = {
        "metric": "ivfpq_serve_speedup_vs_exact_at_max_tier",
        "value": tiers[-1]["serve_speedup_vs_exact"],
        "unit": "x",
        "dim": DIM,
        "n_queries": N_QUERIES,
        "k": K,
        "pq": {"n_sub": N_SUB, "sub_dim": SUB_DIM, "pq_centroids": PQ_CENTROIDS},
        "tiers": tiers,
        "clustered_recall": cl,
        "clustered_tiers": ct,
        "epoch_appends": ep,
    }
    print(json.dumps(out))
    if "--write" in sys.argv:
        (ROOT / "BENCH_IVFPQ.json").write_text(json.dumps(out, indent=2) + "\n")


if __name__ == "__main__":
    main()
