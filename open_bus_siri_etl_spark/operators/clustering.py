"""Distributed k-means over an embedding column (beyond-reference,
training-data surface): the iterative-algorithm pattern done Spark-first.

Lloyd's algorithm maps onto Spark the same way MLlib implements it:
centroids are tiny driver state shipped into each assignment pass; the
heavy work — one distance evaluation per (vector, centroid) and the
per-cluster mean — is a single scan plus one aggregation per iteration.

Every assignment runs the package's one nearest-centroid kernel
(``similarity._nearest``; README "Nearest-centroid kernels"), in one of
its two forms:
- full-vector training (``_train_centroids``) uses the numpy form at
  every k, fused with the update's partial reduction: one Arrow pass per
  iteration emits at most k (cluster, n, sum) rows per partition;
- the final assignment (``kmeans_assign``) and the fused subspace update
  (``_fused_update``, which trains PQ codebooks) use the expression form
  up to ``EXPR_KERNEL_MAX_K`` centroids and the numpy form above it.
Both forms fold dimensions sequentially and round with the same rule, so
the choice changes plans, never results.  A production kernel would use
the |x|^2 - 2x.c + |c|^2 BLAS expansion for another ~10x; that reorders
float summation and is deliberately not used here, so the determinism
contract holds.

Determinism contract (shared with the fixed-iteration DuckDB oracle):
- init = the k vectors with the smallest ids (no RNG);
- squared distances round to 6 dp (floor(x*1e6 + 0.5)/1e6) and updated
  centroid coordinates round to 6 dp each iteration, so float summation
  order can never flip an argmin across engines/partitionings;
- argmin ties break toward the smaller centroid id;
- a cluster that loses all members keeps its previous centroid;
- a NULL vector, or one whose width differs from the init's, raises
  naming its id.

Scale: k*dim doubles per iteration cross the driver (kilobytes); the scan
per iteration parallelizes on input splits.  The numpy form ships the
centroid matrix inside the serialized closure (k*dim*8 bytes — fine to
~10^6 cells; beyond that, a SparkContext.broadcast handle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .similarity import (
    _checked_vec,
    _codebook_width,
    _cost_array,
    _cost_np,
    _matrix_np,
    _nearest,
    _use_numpy_form,
)

_CODEBOOK_SCHEMA = "cent_rank int, cent_id bigint, cent_vec array<double>"


def _vectors(
    df: DataFrame, k: int, id_col: str, vec_col: str
) -> tuple[DataFrame, list[list[float]]]:
    """(id, v) with ``v`` the vector cast to double and width-checked
    against the init, plus the contract's init: the ``k`` vectors with the
    smallest ids."""
    vecd = df.select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("v")
    )
    rows = vecd.orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(
            f"kmeans: k={k} but the input has only {len(rows)} rows — min-id "
            "init needs k distinct vectors (a streaming trainer's FIRST batch "
            "must carry at least max(n_centroids, pq_centroids) rows)"
        )
    init = [None if r["v"] is None else [float(x) for x in r["v"]] for r in rows]
    width = _codebook_width(list(range(k)), init)
    return vecd.withColumn("v", _checked_vec(F.col("v"), F.col(id_col), width)), init


def _subspace_sides(init: list, n_sub: int, sub_dim: int) -> list:
    """(start, centroids) per PQ subspace: the init sliced to
    [start, start + sub_dim)."""
    return [
        (m * sub_dim, [c[m * sub_dim : (m + 1) * sub_dim] for c in init])
        for m in range(n_sub)
    ]


def _codebook_frame(df: DataFrame, cents: list) -> DataFrame:
    """Centroids as a (cent_rank, cent_id, cent_vec) frame, cent_id = the
    cluster index."""
    return df.sparkSession.createDataFrame(
        [(c + 1, c, [float(x) for x in v]) for c, v in enumerate(cents)],
        _CODEBOOK_SCHEMA,
    )


def _pq_codebook_frame(df: DataFrame, sides: list) -> DataFrame:
    """A PQ codebook frame: centroid ``c`` is the concatenation over
    subspaces of each side's c-th centroid."""
    return _codebook_frame(
        df,
        [[x for _, cents in sides for x in cents[c]] for c in range(len(sides[0][1]))],
    )


def _lloyd_partials(vecd: DataFrame, cents: list, id_col: str) -> DataFrame:
    """One Lloyd assignment in the numpy form, reduced in the worker
    (aggregate before you shuffle): per partition at most k rows of
    (cluster, n, s = sum of member vectors) instead of every (id, v,
    cluster) row.  The mean over these partials is sum(s)/sum(n) — the
    same total as avg() in another float-addition order, which the
    update's 6dp rounding absorbs (pinned by the catalog oracle at both
    SFs)."""
    C = np.asarray(cents, dtype=np.float64)
    k, width = C.shape
    out_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )

    def psums(batches):
        import pandas as pd

        S = np.zeros((k, width))
        N = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _matrix_np(pdf, "v")
            cl = np.argmin(_cost_np(X, C), axis=1)
            for c in np.unique(cl):
                m = cl == c
                S[c] += X[m].sum(axis=0)
                N[c] += int(m.sum())
        nz = np.nonzero(N)[0]
        if len(nz):
            yield pd.DataFrame(
                {
                    "cluster": nz.astype("int32"),
                    "n": N[nz],
                    "s": [S[c].tolist() for c in nz],
                }
            )

    return vecd.select(id_col, "v").mapInPandas(psums, schema=out_schema)


def _train_centroids(
    vecd: DataFrame, cents: list, iters: int, id_col: str
) -> list[list[float]]:
    """The Lloyd loop as driver state from the init ``cents``: ``iters -
    1`` assign→mean updates through ``_lloyd_partials``.  The centroids
    returned are the ones the final assignment pass uses.  6dp rounding on
    updated coordinates and per-coordinate carry-forward for emptied
    clusters keep the result oracle-exact (module contract)."""
    for _ in range(iters - 1):
        rows = (
            _lloyd_partials(vecd, cents, id_col)
            .select("cluster", "n", F.posexplode("s").alias("i", "val"))
            .groupBy("cluster", "i")
            .agg(F.round(F.sum("val") / F.sum("n"), 6).alias("m"))
            .collect()
        )
        cents = _carried(cents, {(0, r["cluster"], r["i"]): r["m"] for r in rows})
    return cents


def _carried(cents: list, means: dict, side: int = 0) -> list:
    """``cents`` with each (side, cluster, coordinate) the update produced
    replaced by its 6dp mean; a cluster that lost all members keeps its
    previous coordinates."""
    return [
        [means.get((side, c, i), x) for i, x in enumerate(cent)]
        for c, cent in enumerate(cents)
    ]


def _fused_update(vecd: DataFrame, sides: list) -> list:
    """One Lloyd mean-update of several codebooks from ONE scan: side
    ``j`` = (start, centroids) assigns the slice of ``v`` at ``start`` in
    the expression form, the (j, cluster, slice) structs of every side
    explode, and one grouped 6dp mean updates every (side, cluster,
    coordinate) at once, with carry-forward.  Row volume through the
    partial agg is (sum of side widths) x n — the bytes separate per-side
    jobs would push, in one job."""
    branches = []
    for j, (start, cents) in enumerate(sides):
        sl = F.slice("v", start + 1, len(cents[0]))
        d = _cost_array(sl, cents)
        branches.append(
            F.struct(
                F.lit(j).alias("m"),
                (F.array_position(d, F.array_min(d)) - 1).cast("int").alias("cluster"),
                sl.alias("sv"),
            )
        )
    rows = (
        vecd.select(F.explode(F.array(*branches)).alias("b"))
        .select("b.m", "b.cluster", F.posexplode("b.sv").alias("i", "val"))
        .groupBy("m", "cluster", "i")
        .agg(F.round(F.avg("val"), 6).alias("mn"))
        .collect()
    )
    means = {(r["m"], r["cluster"], r["i"]): r["mn"] for r in rows}
    return [(start, _carried(cents, means, j)) for j, (start, cents) in enumerate(sides)]


def _assign(vecd: DataFrame, cents: list, id_col: str) -> DataFrame:
    """(id, cluster int) of every ``vecd`` row against trained centroids:
    the kernel's expression form up to ``EXPR_KERNEL_MAX_K`` centroids,
    the numpy form above it."""
    return _nearest(
        vecd, id_col, "v", list(range(len(cents))), cents, "cluster",
        numpy_form=_use_numpy_form(len(cents), kmeans=True), emit_vec=False,
    ).withColumn("cluster", F.col("cluster").cast("int"))


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to a k-means cluster after ``iters`` Lloyd
    steps.  Returns (id_col, cluster int)."""
    vecd, init = _vectors(df, k, id_col, vec_col)
    return _assign(vecd, _train_centroids(vecd, init, iters, id_col), id_col)


#: The measured serving default for the deployable IVF-PQ stack (trained
#: coarse + residual PQ + exact refine) — the KNEE of the recall/cost
#: frontier swept in tools/bench_ivfpq_frontier.py on the 300k
#: topic-structured corpus (BENCH_IVFPQ_FRONTIER.json, which a test pins
#: this dict against): the cheapest (n_probe, refine_k) clearing
#: recall@10 >= 0.9.  n_probe is meaningful relative to n_centroids
#: (pruning fraction n_probe/n_centroids); refine_k is the ADC shortlist
#: the exact re-rank touches corpus vectors for — its cost is one
#: broadcast-id-join corpus pass regardless of k.
IVF_PQ_SERVING_DEFAULTS = {
    "n_centroids": 256,
    "n_probe": 4,
    "refine_k": 400,
    "recall_bar": 0.9,
}


def kmeans_codebook(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The TRAINED kmeans centroids as a frozen-codebook frame
    (cent_rank, cent_id, cent_vec) — drop-in for ``ivf_pq_centroids``'
    lowest-id stand-in wherever the ANN family takes a ``cents`` frame
    (``build_ivf_pq_index`` / ``ivf_pq_topk_serve`` with
    ``coarse_metric="l2"``).  ``cent_id`` is the cluster index (0..k-1)
    and the centroids are the ones ``kmeans_assign``'s final pass uses,
    so assigning a corpus row against this frame (``_nearest_centroids``,
    metric "l2") reproduces ``kmeans_assign`` exactly, which keeps the
    trained index oracle-exact."""
    vecd, init = _vectors(df, k, id_col, vec_col)
    return _codebook_frame(df, _train_centroids(vecd, init, iters, id_col))


def kmeans_subspace_codebook(
    df: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TRAINED product-quantizer codebook: one independent kmeans per
    subspace (FAISS trains IndexPQ exactly this way), returned as ONE
    (cent_rank, cent_id, cent_vec) frame where ``cent_vec`` for cluster
    ``c`` is the CONCATENATION over subspaces of that subspace's c-th
    trained centroid.  The concatenated layout is what makes the trained
    fine quantizer a drop-in for the stand-in one: ``_pq_code_long`` /
    ``_pq_query_table`` slice ``cent_vec`` per subspace, so slicing the
    concatenation yields exactly the per-subspace trained centroid.
    Each subspace's kmeans inherits the module determinism contract
    (min-id init on the subvector slices, 6dp rounding, min-index ties,
    per-coordinate carry-forward), so PQ codes stay oracle-exact.

    Training cost: ONE TakeOrdered seeds every subspace (the same k
    lowest-id rows, sliced on the driver).  Up to ``EXPR_KERNEL_MAX_K``
    centroids each iteration is ONE ``_fused_update`` job assigning all
    n_sub subspaces from a single scan; above it each subspace trains on
    the numpy form (``_train_centroids``).
    """
    vecd, init = _vectors(df, k, id_col, vec_col)
    sides = _subspace_sides(init, n_sub, sub_dim)
    if _use_numpy_form(k, kmeans=True):
        sides = [
            (s, _train_centroids(
                vecd.select(id_col, F.slice("v", s + 1, sub_dim).alias("v")),
                c, iters, id_col,
            ))
            for s, c in sides
        ]
    else:
        for _ in range(iters - 1):
            sides = _fused_update(vecd, sides)
    return _pq_codebook_frame(df, sides)


def kmeans_ivf_topk(
    corpus: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF top-k with a TRAINED coarse quantizer — the kmeans codebook
    replaces the lowest-id stand-in the rest of the ANN family uses for
    oracle brevity.  This is the shape real deployments run (FAISS
    trains IndexIVF's quantizer with kmeans): candidate generation is an
    equi-join on the TRAINED cluster id, so candidate quality follows the
    data's actual geometry instead of an arbitrary seed set, and because
    ``kmeans_assign`` is deterministic (min-id init, 6dp-rounded
    distances/means, min-index ties) the trained index still carries an
    exact cross-engine oracle — iterative training and oracle-exactness
    compose.

    n_probe = 1 by construction: queries are corpus rows (pass their ids
    in ``query_ids``; an id absent from the corpus raises in-plan) and
    probe their own trained cluster via the shared assignment — one
    kmeans pass covers both sides.  For query VECTORS outside the corpus
    use ``kmeans_ivf_topk_oos``, which assigns against the trained
    centroids with the same deterministic spec and supports n_probe > 1.

    Scale shape: training is ``iters`` scans with centroid-sized driver
    state; the candidate join is cluster-keyed (bucket/partition by
    cluster in production); the exact re-rank touches only candidate
    pairs; the top-k window is per-query.  Output: (query_id,
    neighbor_id, rank) — rank 1..k by exact cosine desc, ties to the
    smaller neighbor id, self-matches excluded (the cosine_topk/ivf_topk
    contract).
    """
    from .similarity import _refine_exact

    asg = kmeans_assign(corpus, n_clusters, iters, id_col, vec_col)
    # distinct: the left-join probe rebuild below is 1:1 only for unique
    # query ids — a duplicated id would duplicate every candidate row and
    # corrupt the top-k ranks (the old semi join deduped by construction)
    qids = query_ids.select(id_col).distinct()
    q0 = asg.join(F.broadcast(qids), id_col, "left_semi")
    # fail-loud on query ids absent from the corpus (the family's
    # _non_null_ids/_disjoint_ids_or_raise discipline): a typo'd or
    # out-of-sample id used to be silently omitted by the semi join.  The
    # probe frame is rebuilt as query_ids LEFT JOIN the broadcast matched
    # slice with a per-row raise on the unmatched branch — the probe is
    # the candidate join's broadcast build side, which must materialize
    # before any result (or empty result) is produced, so the guard
    # cannot be pruned the way a raise on a dead-end subtree can (AQE
    # empty-relation propagation skips broadcasts a join no longer needs).
    q = (
        qids.select(F.col(id_col).alias("query_id"))
        .join(
            F.broadcast(
                q0.select(F.col(id_col).alias("query_id"), "cluster")
            ),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.when(F.col("cluster").isNotNull(), F.col("cluster"))
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "kmeans_ivf_topk: query id %s is not a corpus row "
                        "— in-sample queries pass corpus ids; use "
                        "kmeans_ivf_topk_oos for query vectors outside "
                        "the corpus",
                        F.coalesce(
                            F.col("query_id").cast("string"), F.lit("NULL")
                        ),
                    )
                )
            )
            .alias("cluster"),
        )
    )
    cand = (
        F.broadcast(q)
        .join(asg.select(F.col(id_col).alias("neighbor_id"), "cluster"), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    queries = corpus.join(
        F.broadcast(query_ids.select(id_col)), id_col, "left_semi"
    )
    return _refine_exact(cand, queries, corpus, k, id_col, vec_col, dim)


def kmeans_ivf_topk_oos(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """OUT-OF-SAMPLE trained-quantizer IVF top-k — the path
    ``kmeans_ivf_topk``'s docstring promises: ``queries`` are (id, vector)
    rows that need NOT be corpus members.  Each query assigns against the
    TRAINED centroids (kilobyte driver state) by
    6dp-rounded L2 with min-centroid-id ties — the same deterministic
    assignment spec training used, so for an in-sample vector at
    ``n_probe=1`` the probe reproduces its trained cluster — and probes
    its ``n_probe`` nearest clusters; exact cosine re-ranks candidates.

    No self-exclusion: queries are outside the corpus by contract (their
    ids live in a different namespace), so every corpus row is a valid
    neighbor.  At ``n_probe = n_clusters`` the result equals brute-force
    cosine top-k (every cluster probed, exact re-rank) — test-asserted,
    and recall rises monotonically in expectation as n_probe grows.

    Scale shape: training is ``iters`` scans with centroid-sized driver
    state; the probe is queries x k centroids (broadcast codebook);
    candidates come from ONE cluster equi-join (partition-pruned when the
    corpus is stored partitioned by cluster); the top-k window is
    per-query.  Output: (query_id, neighbor_id, rank) — rank 1..k by
    exact cosine desc, ties to the smaller neighbor id.
    """
    from .similarity import _disjoint_ids_or_raise, _exact_cosine, _topk_per_query

    # queries are OUTSIDE the corpus by contract — a colliding id would
    # silently return the corpus row itself as its own rank-1 neighbor
    # (no self-exclusion on this path), so enforce disjointness in-plan
    # like the delta-ingest family does
    corpus = _disjoint_ids_or_raise(
        corpus, queries, id_col, "kmeans_ivf_topk_oos"
    )
    # ONE Lloyd training drives both the corpus assignment and the query
    # probe, which runs on the driver-held centroids directly
    vecd, init = _vectors(corpus, n_clusters, id_col, vec_col)
    cents = _train_centroids(vecd, init, iters, id_col)
    asg = _assign(vecd, cents, id_col)
    probed = _nearest(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "query_id", "q_vec", list(range(n_clusters)), cents, "cluster", n_probe,
        numpy_form=_use_numpy_form(n_clusters),
    )
    cand = F.broadcast(probed).join(
        asg.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("cluster").cast("bigint").alias("cluster"),
        ),
        "cluster",
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    sim = cand.join(cv, "neighbor_id").withColumn(
        "cosine", _exact_cosine(F.col("q_vec"), F.col("c_vec"), dim)
    )
    return _topk_per_query(sim, k, [F.desc("cosine")])


def kmeans_codebook_pair(
    df: DataFrame,
    n_centroids: int = 8,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train the coarse codebook AND the subspace PQ codebook in one pass
    structure: ``ivf_pq_kmeans_topk`` needs both, and the two independent
    trainers each ran their own init TakeOrdered plus their own
    per-iteration update job over the SAME corpus.  Here ONE TakeOrdered
    seeds both (the two inits are by contract the k lowest-id rows — full
    vectors for the coarse side, subspace slices of the same rows for the
    fine side) and each Lloyd iteration is ONE ``_fused_update`` job over
    the coarse side (the full vector) and the subspace sides.  The
    returned frames equal ``kmeans_codebook`` /
    ``kmeans_subspace_codebook`` exactly (test-pinned; the 6dp round of
    the update absorbs the merge-order float noise).

    Falls back to the two independent trainers when either side exceeds
    ``EXPR_KERNEL_MAX_K`` (the fused update is the expression form).

    Returns ``(coarse_frame, fine_frame)`` in the
    ``(cent_rank, cent_id, cent_vec)`` codebook layout.
    """
    need = max(n_centroids, pq_centroids)
    if _use_numpy_form(need, kmeans=True):
        return (
            kmeans_codebook(df, n_centroids, iters, id_col, vec_col),
            kmeans_subspace_codebook(
                df, n_sub, sub_dim, pq_centroids, iters, id_col, vec_col
            ),
        )
    vecd, init = _vectors(df, need, id_col, vec_col)
    sides = [(0, init[:n_centroids])] + _subspace_sides(
        init[:pq_centroids], n_sub, sub_dim
    )
    for _ in range(iters - 1):
        sides = _fused_update(vecd, sides)
    return _codebook_frame(df, sides[0][1]), _pq_codebook_frame(df, sides[1:])


def ivf_pq_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ with BOTH quantizers TRAINED — the composition round 9 left
    on the table: ``kmeans_codebook`` (coarse, L2 assignment) and
    ``kmeans_subspace_codebook`` (per-subspace PQ) replace the lowest-id
    stand-in codebook in the SAME persisted-index pipeline
    (``build_ivf_pq_index`` → ``ivf_pq_topk_serve``), so the serving
    plan's scale shape is untouched (code-only index partitioned by
    cluster, DPP probe, broadcast ADC table) while the codebooks follow
    the data's actual geometry — what FAISS's train()-then-add()
    IndexIVFPQ actually ships.  Because both trainings inherit the kmeans
    determinism contract, the trained index STILL carries an exact SQL
    oracle: iterative training, compression, pruning and oracle-exactness
    all compose.

    This inline form IS the persisted pipeline run end to end (build +
    serve with the same frames), so the inline result and a
    persisted-index serve cannot drift — test-asserted like the stand-in
    family.  Output contract identical to ``ivf_pq_topk``: (query_id,
    neighbor_id, rank, adc_d2), self-matches excluded.
    """
    from .similarity import build_ivf_pq_index, ivf_pq_topk_serve

    # one init and one update job per Lloyd iteration train BOTH codebooks
    coarse, fine = kmeans_codebook_pair(
        corpus, n_centroids, n_sub, sub_dim, pq_centroids, iters,
        id_col, vec_col,
    )
    index = build_ivf_pq_index(
        corpus, n_centroids, n_sub, sub_dim, pq_centroids,
        id_col, vec_col, dim, cents=coarse, fine_cents=fine,
        coarse_metric="l2",
    )
    return ivf_pq_topk_serve(
        index, coarse, queries,
        k=k, n_centroids=n_centroids, n_probe=n_probe, n_sub=n_sub,
        sub_dim=sub_dim, pq_centroids=pq_centroids,
        id_col=id_col, vec_col=vec_col, dim=dim,
        fine_cents=fine, coarse_metric="l2",
        eager_check=False,  # same-plan frames: provenance cannot mismatch
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
):
    """RESIDUAL IVF-PQ with trained quantizers — the full FAISS
    IndexIVFPQ shape (by_residual=True, its default): the coarse kmeans
    codebook assigns cells, and PQ encodes x - centroid[cluster] with a
    fine codebook TRAINED ON THOSE RESIDUALS, so the code budget resolves
    within-cell ranking instead of re-describing the coarse structure a
    cluster id already names.  Measured on topic-structured corpora this
    is what moves ADC recall (BENCH_IVFPQ clustered_recall); on the plan
    side the only change is the ADC lookup join gaining the cluster key
    (the query re-centers per probed cluster; the distance table stays
    broadcast-sized at |Q| x n_probe x n_sub x pq_centroids).
    Deterministic end to end — residuals are exact IEEE subtractions
    against 6dp centroids — so the residual index carries an exact SQL
    oracle like every other index in the catalog.  Output contract
    identical to ivf_pq_topk."""
    from .similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_serve,
        ivf_residuals,
    )

    coarse = kmeans_codebook(corpus, n_centroids, iters, id_col, vec_col)
    # r14: the residual frame feeds every fine-training action (init
    # TakeOrdered + one update job per iteration), and each re-trigger
    # recomputes the full coarse assignment — localCheckpoint materializes
    # it once (the cframe/CC lineage-control pattern; a production
    # pipeline stages residuals to parquet, as tools/bench_ivfpq.py does
    # for the 10M tier).  The serve plan's own residual encode inside
    # build_ivf_pq_index is unchanged.
    res = ivf_residuals(
        corpus, coarse, n_centroids, id_col, vec_col, dim, "l2"
    ).localCheckpoint()
    fine = kmeans_subspace_codebook(
        res, n_sub, sub_dim, pq_centroids, iters, id_col, vec_col
    )
    index = build_ivf_pq_index(
        corpus, n_centroids, n_sub, sub_dim, pq_centroids,
        id_col, vec_col, dim, cents=coarse, fine_cents=fine,
        coarse_metric="l2", residual=True,
    )
    return ivf_pq_topk_serve(
        index, coarse, queries,
        k=k, n_centroids=n_centroids, n_probe=n_probe, n_sub=n_sub,
        sub_dim=sub_dim, pq_centroids=pq_centroids,
        id_col=id_col, vec_col=vec_col, dim=dim,
        fine_cents=fine, coarse_metric="l2", residual=True,
        eager_check=False,  # same-plan frames: provenance cannot mismatch
    )


def ivf_pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ + EXACT REFINE — FAISS's IndexRefineFlat stage on top of
    the residual index: ADC produces a per-query SHORTLIST (top
    ``shortlist`` by approximate distance, compressed codes only), then
    exact cosine re-ranks just those candidates and returns the top
    ``k``.  This is the stage that turns ADC's lossy ordering into a
    deployment-quotable recall: the clustered-corpus measurement
    (BENCH_IVFPQ clustered_recall) recovers near the candidate-recall
    ceiling, because the refine only needs the true neighbors to be
    SOMEWHERE in the shortlist, not ADC-ranked into the top k.

    Scale shape: the refine is the ONE stage that touches corpus vectors
    — a shortlist-sized id set (|Q| x shortlist) broadcast against one
    corpus scan (broadcast hash join, never a shuffle of the corpus), so
    its cost is one pruned-column pass regardless of k or shortlist.
    Everything upstream stays code-only.  Output: (query_id, neighbor_id,
    rank) — the cosine_topk contract (rank by exact cosine desc, ties to
    the smaller neighbor id; self-matches excluded by the ADC stage).
    """
    from .similarity import _refine_exact

    short = ivf_pq_residual_topk(
        corpus, queries, k=shortlist, n_centroids=n_centroids,
        n_probe=n_probe, n_sub=n_sub, sub_dim=sub_dim,
        pq_centroids=pq_centroids, iters=iters,
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).select("query_id", "neighbor_id")
    return _refine_exact(short, queries, corpus, k, id_col, vec_col, dim)
