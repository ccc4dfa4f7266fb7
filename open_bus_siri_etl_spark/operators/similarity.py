"""Similarity search over an embedding column (array<float>).

Two paths (beyond-reference, BASELINE.json north star):
- brute-force cosine top-k: the exact baseline.  Query set is broadcast
  (it's small by construction); the scan side streams — at 100 TB this is
  one pass over the corpus per query batch with no shuffle until the final
  per-query top-k (TakeOrdered-style window over rank).
- LSH-bucketed ANN: random-hyperplane signatures bucket the corpus; queries
  probe only their bucket.  Two plane families: md5-derived INTEGER planes
  over floor-quantized vectors (lsh_quantized_planes /
  lsh_ann_topk_exact — bucket assignment is an exact integer computation,
  bit-identical in any engine, so the whole ANN pipeline carries a
  value-level oracle) and seeded-numpy Gaussian floats (lsh_ann_topk —
  for float-plane workloads, recall-floor tested).  Either way the plan
  stays native (no UDF) until the optional Arrow matmul path.

Dot products are in-JVM column expressions — no explode, no Python.  When
the vector width is known (``dim``), the sum is unrolled so whole-stage
codegen compiles it; the generic path is a zip_with + aggregate fold.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T


EMBEDDING_DIM = 64


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two array columns.

    Default is a zip_with + aggregate fold (compact plan; CodegenFallback
    but fine at catalog scale).  Passing ``dim`` unrolls the sum into a flat
    ``a[1]*b[1] + ... + a[d]*b[d]`` expression — measured only ~1.3× faster
    on the O(N²) pair loop while bloating the task binary, so the catalog
    keeps the fold; the real scale path for bulk similarity is the blocked
    numpy matmul in ``cosine_near_pairs_blocked``.  Both forms add terms
    left-to-right, so results are bit-identical (IEEE: 0.0 + x == x).
    """
    if dim is not None:
        terms = [
            F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
            for i in range(1, dim + 1)
        ]
        out = terms[0]
        for term in terms[1:]:
            out = out + term
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(_dot(a, a, dim))


def _exact_cosine(q_vec: Column, c_vec: Column, dim: int | None = None) -> Column:
    """The ANN family's exact re-rank score — unrounded cosine, ONE
    definition shared by every serving path that re-ranks candidates
    (ivf_topk, the trained kmeans_ivf_topk twins, lsh_ann_topk), so the
    family's boundary assumption (no ulp-level cosine ties in the data)
    lives in one expression."""
    return _dot(q_vec, c_vec, dim) / (_norm(q_vec, dim) * _norm(c_vec, dim))


def _refine_exact(
    short: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) shortlist to the
    top ``k`` — the refine stage of the IVF serve paths and the only one
    that reads float vectors: the shortlist-sized query side broadcast
    against one corpus scan, never a shuffle of the corpus."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    sim = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", _exact_cosine(F.col("q_vec"), F.col("c_vec"), dim))
    )
    return _topk_per_query(sim, k, [F.desc("cosine")])


def _topk_per_query(
    scored: DataFrame, k: int, order: list, extra_cols: tuple = ()
) -> DataFrame:
    """The ANN family's per-query top-k tail — ONE definition of the rank
    contract (row_number per query_id over the given score order, ties
    always to the smaller neighbor_id), shared by the cosine servers and
    the ADC server so the tie-break can never drift between entries (the
    survivor_fold discipline applied to serving)."""
    w = Window.partitionBy("query_id").orderBy(*order, "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", *extra_cols)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, rank), rank 1..k by similarity desc
    (ties broken by neighbor_id for determinism); self-matches excluded.
    Norms are computed once per vector BEFORE the join (N + Q sqrt-folds,
    not N·Q); pass ``dim`` for the unrolled codegen dot product.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col), dim).alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col), dim).alias("c_nrm"),
    )
    sim = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"), dim)
            / (F.col("q_nrm") * F.col("c_nrm")),
        )
    )
    return _topk_per_query(sim, k, [F.desc("cosine")])


def cosine_near_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine ≥ threshold.

    Brute-force all-pairs (the exact baseline — the LSH bucket join below is
    the scale path): self cross-join upper triangle, in-JVM dot products.
    Norms are computed once per vector before the join; pass ``dim`` for the
    unrolled codegen dot product (10×+ on the O(N²) pair loop).
    Output: (vec_a, vec_b, cosine) with cosine rounded to 6dp so the value
    is insensitive to summation-order float noise across engines.
    """
    a = corpus.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("a_vec"),
        _norm(F.col(vec_col), dim).alias("a_nrm"),
    )
    b = corpus.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col), dim).alias("b_nrm"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("a_vec"), F.col("b_vec"), dim)
                / (F.col("a_nrm") * F.col("b_nrm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _non_null_ids(
    df: DataFrame, id_col: str, op_name: str, side: str
) -> DataFrame:
    """Raise IN-PLAN if ``id_col`` is NULL anywhere: a NULL id never
    matches an equality join, so it would silently escape both the
    disjointness guard and the downstream verify joins — quiet pair loss
    instead of an error.  Per-row branch fused into the projection, zero
    jobs at plan build (the repo's standard guard style)."""
    return df.withColumn(
        id_col,
        F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
            F.raise_error(
                F.lit(
                    f"{op_name}: NULL {id_col} in {side} — NULL ids escape "
                    "equality joins, so their pairs would be silently "
                    "dropped rather than scored"
                )
            )
        ),
    )


def _disjoint_ids_or_raise(
    corpus: DataFrame, delta: DataFrame, id_col: str, op_name: str
) -> DataFrame:
    """Enforce the delta-ingest precondition corpus∩delta = ∅ IN-PLAN.

    Returns ``corpus`` with its id column wrapped in a per-row branch that
    raises iff the id also appears in ``delta`` (broadcast left join on the
    tiny delta id set, then ``when/otherwise(raise_error)`` — the same
    zero-jobs-at-build guard style as ``_quantized_bucket_frame``).  An
    overlapping id used to silently double-score its pairs (once per union
    arm); now any task that touches such a row fails with the message
    below, and a disjoint ingest pays only one broadcast-hash probe per
    corpus row.

    The probe joins null-safely (``eqNullSafe``) and flags the match with
    a marker column rather than the joined id itself, so a NULL id
    appearing on both sides is caught too (callers additionally reject
    NULL ids outright via ``_non_null_ids``).
    """
    dup = F.broadcast(
        delta.select(F.col(id_col).alias("_delta_dup_id"))
        .distinct()
        .withColumn("_delta_dup_hit", F.lit(True))
    )
    guarded_id = F.when(
        F.col("_delta_dup_hit").isNull(), F.col(id_col)
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"{op_name}: id %s present in BOTH corpus and delta — a "
                "delta ingest requires disjoint id sets (an overlapping id "
                "would double-score its pairs)",
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
            )
        )
    )
    return (
        corpus.join(dup, corpus[id_col].eqNullSafe(F.col("_delta_dup_id")), "left")
        .withColumn(id_col, guarded_id)
        .drop("_delta_dup_id", "_delta_dup_hit")
    )


def cosine_delta_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: near-pairs INVOLVING the delta only
    — the per-ingest shape (minhash_delta_dedup's embedding twin).

    On each ingest the new batch must be checked against the indexed corpus
    and against itself, never corpus x corpus again: work is
    O(|delta| x N + |delta|²), not O(N²).  The (small) delta broadcasts; the
    corpus streams through ONE scan.  Output matches cosine_near_pairs —
    (vec_a, vec_b, cosine), vec_a < vec_b, 6dp-rounded — so the same SQL
    contract verifies both.

    PRECONDITION (ENFORCED in-plan): ``corpus`` and ``delta`` id sets must
    be disjoint (the definition of a delta ingest) — an id in both would
    score its pair once per arm, so any task touching an overlapping id
    raises (see ``_disjoint_ids_or_raise``).  Ids need NOT be ordered
    across the sets: the corpus x delta arm emits (least, greatest), so an
    older backfilled id landing in the delta still pairs with every newer
    corpus id.
    """
    corpus = _non_null_ids(corpus, id_col, "cosine_delta_pairs", "corpus")
    delta = _non_null_ids(delta, id_col, "cosine_delta_pairs", "delta")
    corpus = _disjoint_ids_or_raise(corpus, delta, id_col, "cosine_delta_pairs")

    def side(df: DataFrame, role: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"vec_{role}"),
            F.col(vec_col).alias(f"{role}_vec"),
            _norm(F.col(vec_col), dim).alias(f"{role}_nrm"),
        )

    # corpus x delta: keep every cross pair (id inequality only), normalize
    # the id orientation with least/greatest — filtering vec_a < vec_b here
    # would silently DROP pairs whose corpus id exceeds the delta id
    cross = (
        side(corpus, "a")
        .crossJoin(F.broadcast(side(delta, "b")))
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(
            F.least("vec_a", "vec_b").alias("vec_a"),
            F.greatest("vec_a", "vec_b").alias("vec_b"),
            F.col("a_vec"),
            F.col("b_vec"),
            F.col("a_nrm"),
            F.col("b_nrm"),
        )
    )
    # delta x delta: the usual upper triangle
    within = (
        side(delta, "a")
        .crossJoin(F.broadcast(side(delta, "b")))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "a_vec", "b_vec", "a_nrm", "b_nrm")
    )
    return (
        cross.unionByName(within)
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("a_vec"), F.col("b_vec"), dim)
                / (F.col("a_nrm") * F.col("b_nrm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# ---------------------------------------------------------------------------
# The nearest-centroid kernel: score each row against a small driver-held
# codebook and take the nearest id(s), ties to the smaller id.  Two forms,
# one arithmetic (README "Nearest-centroid kernels"):
# - expression form (``_cost_array``): the k costs as ONE array expression
#   over a nested-array literal codebook; also serves per-subspace slices;
# - numpy form (``_cost_np``): the same sequential per-dimension fold over
#   one Arrow batch, for the mapInPandas paths.
# Costs are "smaller is nearer": 6dp-rounded squared L2, or the negated
# unrounded cosine.  ``_use_numpy_form`` is the one dispatch between them.

#: k-means assignment and subspace training use the expression form up to
#: this many centroids (past it, JVM codegen of the per-centroid lambda
#: costs more than the Arrow batch does to run)
EXPR_KERNEL_MAX_K = 16
#: nearest-centroid probes and PQ encoding use the numpy form from this
#: many centroids on (an inline k x dim literal tree is a plan explosion)
MATMUL_ASSIGN_MIN_K = 64

# the numpy form's helpers run inside Arrow workers, which need not have
# this package importable: closures that call them ship them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _use_numpy_form(k: int, kmeans: bool = False) -> bool:
    """The form dispatch: True picks the numpy form for a ``k``-centroid
    codebook, False the expression form."""
    return k > EXPR_KERNEL_MAX_K if kmeans else k >= MATMUL_ASSIGN_MIN_K


def _round6(x: Column) -> Column:
    """The kernels' one 6dp rounding rule, half-up on the binary double:
    floor(x*1e6 + 0.5) / 1e6.  Valid for non-negative ``x`` (squared
    distances) only.  It equals ``_round6_np`` bit for bit and DuckDB's
    round(x, 6); Spark's round(x, 6) rounds the shortest decimal repr
    instead and disagrees with both near half-6dp boundaries."""
    return F.floor(x * 1e6 + 0.5) / 1e6


def _round6_np(x):
    """``_round6`` on numpy arrays: the same IEEE operations."""
    return np.floor(x * 1e6 + 0.5) / 1e6


def _sq_l2(a: Column, b: Column) -> Column:
    """Unrounded squared L2 between two array columns, folded left to
    right from 0.0 (``_cost_np`` adds in the same order)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_VEC_ERROR = "nearest centroid: id %s has %s, but the codebook width is %d"


def _checked_vec(vec: Column, row_id: Column, width: int) -> Column:
    """``vec`` itself, or an in-plan error naming the row's id when the
    vector is NULL, its width differs from the codebook's (zip_with would
    pad NULL and the row's costs would silently go NULL) or it holds a NULL
    element (the two forms would score it differently).  Both forms of
    ``_nearest`` and ``_pq_encode`` run it first; ``array_compact`` keeps
    the check lambda-free."""
    return F.when(F.size(F.array_compact(vec)) == width, vec).otherwise(
        F.raise_error(
            F.format_string(
                _VEC_ERROR,
                F.coalesce(row_id.cast("string"), F.lit("NULL")),
                F.when(vec.isNull(), F.lit("a NULL vector"))
                .when(F.size(vec) == width, F.lit("a NULL element"))
                .otherwise(F.format_string("a vector of width %d", F.size(vec))),
                F.lit(width),
            )
        )
    )


def _matrix_np(pdf, vec_col: str):
    """One Arrow batch's vectors as an n x width float64 matrix; the plan
    checked every vector with ``_checked_vec`` first."""
    return np.asarray(pdf[vec_col].tolist(), dtype=np.float64)


def _collect_codebook(cents: DataFrame) -> tuple[list[int], list[list[float]]]:
    """(cent_ids, vectors) of a codebook frame, cent_id-sorted, so the
    first index of an extreme is the smaller-cent_id tie.  The collect is
    bounded by contract (every caller passes a codebook-sized frame) and
    fires any in-plan undersize guard eagerly."""
    rows = sorted(
        cents.select("cent_id", "cent_vec").collect(),
        key=lambda r: r["cent_id"],
    )
    return [int(r["cent_id"]) for r in rows], [
        None if r["cent_vec"] is None else [float(x) for x in r["cent_vec"]]
        for r in rows
    ]


def _codebook_width(ids: list, cmat: list) -> int:
    """The codebook's common width; a NULL or ragged centroid raises
    naming its id."""
    width = len(cmat[0] or [])
    for i, c in zip(ids, cmat):
        if not c or len(c) != width:
            raise ValueError(
                f"nearest centroid: centroid {i} has "
                f"{'no vector' if not c else f'width {len(c)}'}, but "
                f"centroid {ids[0]} has width {width}"
            )
    return width


def _centroid_norms(ids: list, cmat: list, dim: int | None) -> list[float]:
    """Cosine centroid norms over the first ``dim`` coordinates, folded on
    the driver exactly as ``_norm`` folds in-plan (sequential adds from
    0.0, correctly rounded sqrt).  A zero-norm centroid raises naming its
    id: its cosine score is undefined, and an argmax could pick it."""
    import math

    out = []
    for i, c in zip(ids, cmat):
        acc = 0.0
        for x in c[:dim]:
            acc = acc + x * x
        if acc == 0.0:
            raise ValueError(
                f"nearest centroid: centroid {i} has zero norm, so its "
                "cosine score is undefined"
            )
        out.append(math.sqrt(acc))
    return out


def _cost_array(
    vec: Column, cmat: list, metric: str = "l2", dim: int | None = None,
    nrms: list | None = None,
) -> Column:
    """Expression form: the k costs of ``vec`` against the literal
    codebook ``cmat`` as one array column (``_round6(_sq_l2)`` for l2,
    -dot/(|q| |c|) over the first ``dim`` coordinates for cosine with
    ``nrms`` from ``_centroid_norms``)."""
    if metric == "l2":
        return F.transform(F.lit(cmat), lambda c: _round6(_sq_l2(vec, c)))
    qn = _norm(vec, dim)
    return F.zip_with(
        F.lit(cmat), F.lit(nrms), lambda c, nc: -(_dot(vec, c, dim) / (qn * nc))
    )


def _cost_np(X, C, metric: str = "l2", dim: int | None = None, nrms=None):
    """Numpy form: the n x k cost matrix of ``_cost_array``, folded over
    dimensions sequentially so every value is bit-identical to it."""
    if metric == "l2":
        acc = np.zeros((X.shape[0], C.shape[0]))
        for j in range(C.shape[1]):
            dj = X[:, j][:, None] - C[:, j][None, :]
            acc += dj * dj
        return _round6_np(acc)
    dot = np.zeros((X.shape[0], C.shape[0]))
    qsq = np.zeros(X.shape[0])
    for j in range(X.shape[1] if dim is None else dim):
        dot += X[:, j][:, None] * C[:, j][None, :]
        qsq += X[:, j] * X[:, j]
    return -(dot / (np.sqrt(qsq)[:, None] * np.asarray(nrms)[None, :]))


def _nearest(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    ids: list,
    cmat: list,
    out: str,
    keep: int = 1,
    metric: str = "l2",
    dim: int | None = None,
    *,
    numpy_form: bool,
    emit_vec: bool = True,
) -> DataFrame:
    """The nearest-centroid kernel: (id_col[, vec_col], out) with the
    ``keep`` lowest-cost ``ids`` per row, ties to the smaller id (``ids``
    ascending).  keep=1 is the first index of the minimum; keep > 1 sorts
    (cost, id) pairs and explodes the first ``keep`` — map-only in both
    forms.  ``emit_vec=False`` drops the vector from the output, which
    matters in the numpy form: Spark cannot prune columns inside a
    mapInPandas.  ``vec_col`` passes through with its input type."""
    width = _codebook_width(ids, cmat)
    nrms = _centroid_norms(ids, cmat, dim) if metric == "cosine" else None
    cols = [id_col, vec_col] if emit_vec else [id_col]
    df = df.withColumn(vec_col, _checked_vec(F.col(vec_col), F.col(id_col), width))
    if not numpy_form:
        cost = _cost_array(F.col(vec_col), cmat, metric, dim, nrms)
        if keep == 1:
            best = F.array_position(cost, F.array_min(cost)).cast("int")
            return df.select(
                *cols, F.element_at(F.lit(ids), best).cast("long").alias(out)
            )
        pairs = F.array_sort(F.arrays_zip(cost.alias("s"), F.lit(ids).alias("i")))
        return df.select(
            *cols, F.explode(F.slice(pairs, 1, keep)).alias("_t")
        ).select(*cols, F.col("_t.i").cast("long").alias(out))

    C = np.asarray(cmat, dtype=np.float64)
    idarr = np.asarray(ids, dtype=np.int64)
    kk = min(keep, len(ids))
    schema = T.StructType(
        [T.StructField(c, df.schema[c].dataType) for c in cols]
        + [T.StructField(out, T.LongType())]
    )

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _matrix_np(pdf, vec_col)
            cost = _cost_np(X, C, metric, dim, nrms)
            sel = (
                np.argmin(cost, axis=1)[:, None]
                if kk == 1
                else np.argsort(cost, axis=1, kind="stable")[:, :kk]
            )
            rep = np.repeat(np.arange(len(pdf)), kk)
            data = {c: pdf[c].take(rep).to_numpy() for c in cols}
            data[out] = idarr[sel.ravel()]
            yield pd.DataFrame(data)

    return df.select(id_col, vec_col).mapInPandas(probe, schema=schema)


def _crossjoin_nearest(
    df: DataFrame,
    cents,
    out: str,
    keep: int,
    dim: int | None,
    metric: str,
) -> DataFrame:
    """The crossJoin + rank-window reference plan for ``_nearest``:
    |df| x |cents| scored rows through one Exchange + Sort.  Production
    never runs it; the parity tests and tools/bench_probe_cosine.py diff
    the two forms against it."""
    scored = df.crossJoin(cents)
    if metric == "l2":
        scored = scored.withColumn(
            "cent_d2", _round6(_sq_l2(F.col("_vec"), F.col("cent_vec")))
        )
        w = Window.partitionBy("_id").orderBy("cent_d2", "cent_id")
    else:
        scored = scored.withColumn(
            "cent_cos",
            _dot(F.col("_vec"), F.col("cent_vec"), dim)
            / (_norm(F.col("_vec"), dim) * _norm(F.col("cent_vec"), dim)),
        )
        w = Window.partitionBy("_id").orderBy(F.desc("cent_cos"), "cent_id")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= keep)
        .select("_id", "_vec", F.col("cent_id").alias(out))
    )


def _nearest_centroids(
    df: DataFrame,
    cents,
    out: str,
    keep: int,
    dim: int | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Nearest-centroid assignment and probes shared by the IVF family
    (one deterministic spec, ties to the smaller centroid id).  ``df``:
    (_id, _vec); ``cents``: (cent_id, cent_vec), collected to the driver.
    Returns (_id, _vec, <out>) with the top ``keep`` centroids per row.

    ``metric``: "cosine" (max unrounded cosine — the lowest-id stand-in
    family's spec) or "l2" (min 6dp-rounded squared L2 — the kmeans
    contract, so assigning against a ``kmeans_codebook`` frame reproduces
    ``kmeans_assign``'s clusters exactly).  An empty codebook assigns
    nothing."""
    ids, cmat = _collect_codebook(cents)
    if not ids:
        return df.select(
            "_id", "_vec", F.lit(None).cast("long").alias(out)
        ).limit(0)
    return _nearest(
        df, "_id", "_vec", ids, cmat, out, keep, metric, dim,
        numpy_form=_use_numpy_form(len(ids)),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into clusters,
    probe only the query's ``n_probe`` nearest clusters.

    Deterministic spec (so an exact SQL oracle can replicate it):
    - centroids = the ``n_centroids`` corpus vectors with the smallest ids
      (at scale you'd train KMeans once and persist the codebook; the
      assignment/probe dataflow below is identical either way);
    - each corpus vector is assigned to its max-cosine centroid (ties →
      smaller centroid id);
    - a query probes its ``n_probe`` top-cosine centroids and ranks exact
      cosine within the probed clusters only.

    Scale shape: the centroid set is tiny → broadcast on both the assignment
    and probe joins, so the only shuffle is the candidate equi-join on
    ``cluster`` (vs cosine_topk's corpus×queries cross join).  Persisting the
    corpus bucketed by ``cluster`` turns the probe into a partition-pruned
    scan of n_probe/n_centroids of the data.
    Output schema matches cosine_topk: (query_id, neighbor_id, rank).
    """
    cents = F.broadcast(
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )

    c = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    assigned = _nearest_centroids(c, cents, "cluster", 1, dim).select(
        F.col("_id").alias("neighbor_id"), F.col("_vec").alias("c_vec"), "cluster"
    )
    q = queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    probed = _nearest_centroids(q, cents, "cluster", n_probe, dim).select(
        F.col("_id").alias("query_id"), F.col("_vec").alias("q_vec"), "cluster"
    )

    sim = (
        assigned.join(probed, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine", _exact_cosine(F.col("q_vec"), F.col("c_vec"), dim)
        )
    )
    return _topk_per_query(sim, k, [F.desc("cosine")])


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def _lsh_bucket(vec: Column, planes: list[list[float]], dim: int | None = None) -> Column:
    """Sign-pattern bucket id: bit p set iff dot(vec, plane_p) > 0."""
    bits = [
        F.when(
            _dot(vec, F.array(*[F.lit(float(x)) for x in plane]), dim) > 0,
            F.lit(1 << p),
        ).otherwise(0)
        for p, plane in enumerate(planes)
    ]
    return sum(bits).cast("int")


def _lsh_buckets_arrow(
    df: DataFrame,
    role_id: str,
    role_vec: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """(id, vec) → (id, vec, tbl, bucket) via one numpy matmul per Arrow
    batch: all T×P plane projections at once, instead of T×P×dim unrolled
    column expressions (whose codegen compile time dominates past ~1k
    terms).  Bit semantics identical to _lsh_bucket: bit p set iff
    dot(vec, plane_p) > 0, planes drawn from the same per-table seeds.
    """
    import pandas as pd

    mats = np.vstack(
        [
            np.random.RandomState(seed + 7919 * t).randn(n_planes, dim)
            for t in range(n_tables)
        ]
    )  # (T*P, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf[role_vec]])
            signs = (v @ mats.T) > 0  # (n, T*P)
            for t in range(n_tables):
                bits = signs[:, t * n_planes : (t + 1) * n_planes]
                yield pd.DataFrame(
                    {
                        role_id: pdf[role_id].to_numpy(),
                        role_vec: pdf[role_vec],
                        "tbl": np.int32(t),
                        "bucket": (bits @ weights).astype(np.int32),
                    }
                )

    return df.select(F.col(role_id), F.col(role_vec)).mapInPandas(
        gen, f"{role_id} long, {role_vec} array<float>, tbl int, bucket int"
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
    use_arrow: bool | None = None,
) -> DataFrame:
    """Approximate top-k: compare only within the query's hyperplane
    bucket(s), union-of-candidates across ``n_tables`` independent tables.

    Per table, 2^n_planes buckets; the candidate join is an equi-join on
    (table, bucket) — at scale this replaces the O(N·Q) cross join with
    O(N·Q·L/2^p) expected work.  Single-table recall on unstructured
    embeddings decays fast with n_planes (measured in
    tests/test_training_ops.py: ~0.15 at p=4 on random 64-dim vectors);
    the standard fix is L tables with independent planes — a candidate
    survives if ANY table buckets it with the query, then exact cosine
    re-ranks the deduplicated union.  One corpus scan regardless of L (the
    per-table buckets explode from one projection).
    Output schema matches cosine_topk (rank may differ from exact — ANN).
    """
    if use_arrow is None:
        # past ~1 table the unrolled bucket expressions cost more to
        # codegen-compile than to run; switch to the Arrow matmul path
        use_arrow = n_tables > 1

    def bucketed(df: DataFrame, role_id: str, role_vec: str) -> DataFrame:
        out = df.select(
            F.col(id_col).alias(role_id), F.col(vec_col).alias(role_vec)
        )
        if use_arrow:
            return _lsh_buckets_arrow(
                out, role_id, role_vec, n_planes, n_tables, dim, seed
            )
        tb = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        _lsh_bucket(
                            F.col(role_vec),
                            hyperplanes(dim, n_planes, seed + 7919 * t),
                            dim,
                        ).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb")
        return out.select(role_id, role_vec, tb).select(
            role_id, role_vec, "tb.tbl", "tb.bucket"
        )

    c = bucketed(corpus, "neighbor_id", "c_vec")
    q = bucketed(queries, "query_id", "q_vec")
    candidates = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # a pair found by several tables must score once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = candidates.withColumn(
        "cosine", _exact_cosine(F.col("q_vec"), F.col("c_vec"), dim)
    )
    return _topk_per_query(sim, k, [F.desc("cosine")])


def cosine_near_pairs_blocked(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup via Arrow-batched blocked matrix multiply —
    the bulk-similarity scale path.

    Each input partition becomes a numpy block A (rows × dim); the
    row-normalized corpus matrix M rides along as a Spark broadcast; the
    partition emits the upper-triangle pairs of A·Mᵀ ≥ threshold.  SIMD
    matmul replaces 12.5M per-pair expression evaluations — ~20× faster
    than the expression form at 5k vectors, and the gap widens with N.

    Scale honesty: broadcasting the full corpus works to ~10⁷ vectors
    (dim 64 ≈ 5 GB); past that, tile BOTH sides — cross-join block ids,
    shuffle blocks, matmul per (block_i, block_j ≥ block_i) pair — same
    kernel, one extra shuffle.  Output/rounding contract matches
    cosine_near_pairs (round 6dp), so the same SQL oracle verifies both.

    Operand order matches the expression kernel exactly — raw dot divided
    by the product of norms, NOT pre-normalized rows — so the only residual
    cross-kernel float difference is summation order inside the dot (BLAS
    blocked sums vs a left-to-right fold), absorbed by the 6dp round except
    for values sitting exactly on a rounding/threshold boundary.
    """
    import pandas as pd

    spark = corpus.sparkSession
    pdf = corpus.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
    m_norm = np.linalg.norm(m, axis=1)
    bc = spark.sparkContext.broadcast((ids, m, m_norm))

    def gen(batches):
        b_ids, m_mat, b_norm = bc.value
        for block in batches:
            if not len(block):
                continue
            a_ids = block[id_col].to_numpy()
            a = np.stack(block[vec_col].to_numpy()).astype("float64")
            a_norm = np.linalg.norm(a, axis=1)
            # round BEFORE thresholding — the exact operator filters on the
            # rounded value, and the two must agree at the boundary; divide
            # dot by the norm product (same operand order as the expression
            # kernel) rather than normalizing rows first
            sims = np.round((a @ m_mat.T) / np.outer(a_norm, b_norm), 6)
            ai, bj = np.nonzero(sims >= threshold)
            keep = a_ids[ai] < b_ids[bj]
            ai, bj = ai[keep], bj[keep]
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": b_ids[bj],
                    "cosine": sims[ai, bj],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, "vec_a long, vec_b long, cosine double"
    )


def cosine_near_pairs_auto(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_cap_bytes: int = 512 << 20,
    n_blocks: int | None = None,
) -> DataFrame:
    """Size-based dispatch between the two bulk-similarity kernels, so the
    100 TB-safe variant engages without caller knowledge.

    Estimates the materialized corpus-matrix footprint (rows × dim × 8 B
    float64 + id column) with one cheap metadata-only count plus a 1-row dim
    probe.  Under ``broadcast_cap_bytes`` (default 512 MB — comfortably
    inside a typical executor's broadcast budget) the corpus is broadcast
    and each partition matmuls against it (``cosine_near_pairs_blocked``);
    over it, both sides are tiled (``cosine_near_pairs_tiled``) with
    ``n_blocks`` sized so one block fits the cap.  Both kernels share the
    6dp round-before-threshold contract, so the dispatch is invisible to
    correctness.
    """
    probe = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe is None:  # empty corpus: either path returns empty; use blocked
        return cosine_near_pairs_blocked(corpus, threshold, id_col, vec_col)
    dim = int(probe["d"])
    n = corpus.count()
    est_bytes = n * (dim * 8 + 8)
    if est_bytes <= broadcast_cap_bytes:
        return cosine_near_pairs_blocked(corpus, threshold, id_col, vec_col)
    if n_blocks is None:
        n_blocks = max(2, -(-est_bytes // broadcast_cap_bytes))  # ceil div
    return cosine_near_pairs_tiled(corpus, threshold, n_blocks, id_col, vec_col)


def cosine_near_pairs_tiled(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine ≥ threshold with BOTH sides tiled — the path past
    ~10⁷ vectors where broadcasting the corpus (cosine_near_pairs_blocked)
    no longer fits.

    The corpus is hashed into ``n_blocks`` disjoint blocks; every unordered
    block pair (i ≤ j) becomes one tile processed by a numpy matmul inside
    ``applyInPandas``.  Each row ships to n_blocks tiles, so shuffle volume
    is n_blocks × |corpus| — the classic tiled-matmul tradeoff (pick
    n_blocks so a block fits executor memory).  Diagonal tiles dedupe via
    vec_a < vec_b; off-diagonal tiles emit (min, max) so every unordered
    pair appears exactly once.  Output contract matches cosine_near_pairs
    (6dp rounding before thresholding) ⇒ the same SQL oracle verifies it.
    """
    import pandas as pd

    spark = corpus.sparkSession
    tiles = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    v = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
    )
    a_side = v.join(F.broadcast(tiles), F.col("_blk") == F.col("bi")).withColumn(
        "_side", F.lit(0)
    )
    b_side = v.join(F.broadcast(tiles), F.col("_blk") == F.col("bj")).withColumn(
        "_side", F.lit(1)
    )
    both = a_side.unionByName(b_side).select("bi", "bj", "_side", "_id", "_vec")

    def tile_pairs(key, pdf):
        bi, bj = key
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        if not len(a) or not len(b):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        a_ids = a["_id"].to_numpy()
        b_ids = b["_id"].to_numpy()
        am = np.stack(a["_vec"].to_numpy()).astype("float64")
        bm = np.stack(b["_vec"].to_numpy()).astype("float64")
        # dot / (norm_a * norm_b) — same operand order as the expression
        # kernel and the SQL oracle (see cosine_near_pairs_blocked)
        sims = np.round(
            (am @ bm.T)
            / np.outer(np.linalg.norm(am, axis=1), np.linalg.norm(bm, axis=1)),
            6,
        )
        ai, bj_ix = np.nonzero(sims >= threshold)
        ia, ib = a_ids[ai], b_ids[bj_ix]
        if bi == bj:  # same set on both sides: keep each unordered pair once
            keep = ia < ib
            ia, ib, cs = ia[keep], ib[keep], sims[ai[keep], bj_ix[keep]]
        else:  # disjoint blocks: normalize order instead of dropping
            cs = sims[ai, bj_ix]
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"vec_a": ia, "vec_b": ib, "cosine": cs})

    return both.groupBy("bi", "bj").applyInPandas(
        tile_pairs, "vec_a long, vec_b long, cosine double"
    )


def quantize_embeddings_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization (the storage/serving path for
    embedding tables: 4x smaller than float32, 8x smaller than float64):
    scale = 127 / max|x|, q_i = floor(x_i * scale + 0.5).

    floor(x+0.5) instead of round() because the two engines' round() may
    disagree on negative-half ties; floor is bit-identical everywhere.
    Higher-order array functions only — map-only, zero shuffle, no Python;
    at 100 TB this runs at parquet scan speed.  Returns per-vector audit
    stats (the quantized array itself would be the production output;
    summing keeps the oracle comparison dense).
    """
    absmax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    scale = F.lit(127.0) / absmax
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )
    return df.filter(absmax > 0).select(
        "vec_id",
        scale.alias("scale"),
        F.size(vec_col).alias("n_dims"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_abs_sum"),
    )


def lsh_quantized_planes(
    n_planes: int, n_tables: int, dim: int, quant_mod: int = 1001
) -> dict[tuple[int, int], list[int]]:
    """Integer hyperplane weights derived from md5 — reproducible in ANY
    engine that has md5: w[t][p][i] = (int(md5(f"{t}_{p}_{i}")[:8], 16)
    % quant_mod) - quant_mod//2, uniform on [-500, 500] for the default
    modulus.  A symmetric weight distribution is all sign-LSH needs; using
    a hash-derived integer family (instead of seeded Gaussian floats) is
    what lets the bucketing stage carry an exact cross-engine oracle."""
    import hashlib

    half = quant_mod // 2
    return {
        (t, p): [
            (int(hashlib.md5(f"{t}_{p}_{i}".encode()).hexdigest()[:8], 16) % quant_mod)
            - half
            for i in range(dim)
        ]
        for t in range(n_tables)
        for p in range(n_planes)
    }


def _quantized_bucket_frame(
    df: DataFrame,
    id_out: str,
    n_planes: int,
    n_tables: int,
    quant: int,
    id_col: str,
    vec_col: str,
    dim: int,
    with_norm: bool = False,
) -> DataFrame:
    """(id, vec) → (id_out, tbl, bucket) with bit-exact cross-engine bucket
    assignment: vectors quantize to int64 via floor(v * quant) (floor of a
    double product is IEEE-identical everywhere; cast alone differs — Spark
    truncates, DuckDB rounds) and hyperplane weights are the md5-derived
    integers of lsh_quantized_planes, so each signed projection is an exact
    order-independent integer sum.  Shared by lsh_candidate_pairs and
    lsh_ann_topk_exact so the two can never drift.

    ``with_norm=True`` appends the vector's L2 norm (``nrm``), computed in
    the same projection as the quantization — one scan yields both the
    bucket assignment and the verify-side norm, which is what lets
    ``lsh_bucket_index`` serve as the COMPLETE per-ingest corpus metadata
    (the delta path never re-projects corpus vectors for norms).
    """
    # zip_with against a wrong-width plane array yields NULL folds, every
    # vector lands in bucket 0, and the "pruning" join silently degenerates
    # to all-pairs — fail loudly on a dim mismatch instead.  The guard is
    # IN-PLAN (a per-row branch fused into the quantization expression),
    # not an eager .first() probe: plan construction launches zero jobs,
    # and a mismatch anywhere in the data — not just the sampled row —
    # fails the task with the message below
    planes = lsh_quantized_planes(n_planes, n_tables, dim)
    quantize = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(quant))).cast("long"),
    )
    qv = F.when(F.size(F.col(vec_col)) == dim, quantize).otherwise(
        F.raise_error(
            F.format_string(
                f"quantized LSH bucketing: dim={dim} but {vec_col} has "
                "%d elements",
                F.size(F.col(vec_col)),
            )
        )
    )

    # ALL T*P planes as ONE nested array literal, and all T buckets as ONE
    # transform/aggregate expression over it: the plan size is CONSTANT in
    # (n_planes, n_tables).  The per-plane variant (one fold expression per
    # (t, p)) put T*P lambda trees in the plan and Catalyst ANALYSIS alone
    # grew to tens of seconds at the scale constants (P=12, T=32) — plan
    # build cost is per-ingest cost in the delta path, so it matters as
    # much as execution.  Bucket values are bit-identical to the unrolled
    # form: same left-to-right integer folds, bit weight 2^p via an exact
    # small-power double.
    # literal via SQL text, not F.lit: py4j converts a nested Python list
    # element-by-element (~7 s for the 10k ints at P=10/T=16), while
    # parsing the equivalent array(...) expression costs milliseconds —
    # and per-ingest PLAN BUILD time is per-ingest cost in the delta path
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"{v}L" for v in planes[(t, p)]) + ")"
                for p in range(n_planes)
            )
            + ")"
            for t in range(n_tables)
        )
        + ")"
    )
    buckets_arr = F.transform(
        planes_lit,
        lambda tp: F.aggregate(
            F.transform(
                tp,
                lambda w, p: F.when(
                    F.aggregate(
                        F.zip_with(F.col("_qv"), w, lambda a, b: a * b),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    )
                    > 0,
                    F.pow(F.lit(2.0), p).cast("int"),
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("int"),
    )
    base_cols = [F.col(id_col).alias(id_out), qv.alias("_qv")]
    carry = []
    if with_norm:
        base_cols.append(_norm(F.col(vec_col)).alias("nrm"))
        carry = ["nrm"]
    return (
        df.select(*base_cols)
        .select(
            id_out,
            *carry,
            F.posexplode(buckets_arr).alias("tbl", "bucket"),
        )
        .select(
            id_out,
            F.col("tbl").cast("int").alias("tbl"),
            F.col("bucket"),
            *carry,
        )
    )


def lsh_candidate_pairs(
    corpus: DataFrame,
    n_planes: int = 8,
    n_tables: int = 4,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Deterministic LSH candidate generation — the bucketing stage of
    ANN/near-dup split out as an exactly-verifiable operator.

    Two determinism moves make bucket assignment bit-identical across
    engines (no float sign flips at the decision boundary):
    - vectors quantize to int64 via floor(v * quant) — floor of a double
      product is IEEE-identical everywhere (cast alone differs: Spark
      truncates, DuckDB rounds);
    - hyperplane weights are md5-derived integers (lsh_quantized_planes),
      so the signed projection is an exact integer sum, order-independent.

    Output: (vec_a, vec_b, n_tables) — every unordered pair bucketed
    together by at least one of the ``n_tables`` tables, with the collision
    count.  The ANN tail (exact cosine re-rank of candidates) remains
    approximate relative to full top-k; THIS stage is exact by
    construction, which is the part worth a value-level contract.

    Scale shape: one scan computes all T×P projections per row (native
    fold expressions, no Python); candidates come from an equi-join on
    (tbl, bucket) — expected pair work O(N² · T / 2^P), tuned by raising
    n_planes; never a cross join.
    """
    buckets = _quantized_bucket_frame(
        corpus, "_id", n_planes, n_tables, quant, id_col, vec_col, dim
    )
    a = buckets.select(F.col("_id").alias("vec_a"), "tbl", "bucket")
    b = buckets.select(F.col("_id").alias("vec_b"), "tbl", "bucket")
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.count(F.lit(1)).alias("n_tables"))
    )


def lsh_ann_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """LSH ANN with a value-level cross-engine contract end to end: the
    deterministic integer-plane bucketing of lsh_candidate_pairs feeds an
    exact cosine re-rank of the candidate union.

    The result is still *approximate nearest neighbors* (a true neighbor
    sharing no bucket with its query is missed — that is the LSH trade),
    but it is a deterministic function of the data: bucket assignment is an
    exact integer computation (md5-derived plane weights, floor-quantized
    vectors — see _quantized_bucket_frame), and the re-rank orders by
    cosine DESC with neighbor_id tie-break, so any engine reproduces the
    same top-k.  This closes the oracle gap the seeded-Gaussian variant
    (lsh_ann_topk) cannot: numpy float planes have no cross-engine twin.

    Scale shape: one scan per side computes all T×P projections as native
    fold expressions; candidates come from an equi-join on (tbl, bucket)
    with the (small) query side broadcast; vectors re-attach by id equi-join
    (no vector payload rides through the bucket explode); the final top-k is
    a per-query window.  Expected candidate work O(N·Q·T / 2^P) — never a
    cross join.

    Output schema matches cosine_topk: (query_id, neighbor_id, rank).
    """
    cb = _quantized_bucket_frame(
        corpus, "neighbor_id", n_planes, n_tables, quant, id_col, vec_col, dim
    )
    qb = _quantized_bucket_frame(
        queries, "query_id", n_planes, n_tables, quant, id_col, vec_col, dim
    )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # a pair found by several tables must score once
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_nrm"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_nrm"),
    )
    sim = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_nrm") * F.col("c_nrm")),
        )
    )
    return _topk_per_query(sim, k, [F.desc("cosine")])


def _lsh_params_tag(n_planes: int, n_tables: int, quant: int, dim: int) -> str:
    """The build-parameter fingerprint persisted with every
    ``lsh_bucket_index`` row.  An index built under one (planes, tables,
    quant, dim) family produces a DIFFERENT bucket space than another —
    probing it with mismatched call parameters silently collapses recall
    — so the delta path checks this tag in-plan and fails loudly on any
    mismatch (round-7 advisory)."""
    return f"P{n_planes}T{n_tables}Q{quant}D{dim}"


def lsh_bucket_index(
    df: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """The persistable LSH bucket index: (id, tbl, bucket, nrm, params),
    one row per (vector, table) — the embedding twin of
    ``minhash_delta_dedup``'s band index.  Build once over the corpus,
    append each ingested delta's frame (bucket assignment and norm are
    per-row, so incremental append IS the full rebuild), and feed it to
    ``cosine_delta_pairs_lsh(corpus_index=...)`` so per-ingest candidate
    generation never re-projects corpus vectors.

    The round-8 format carries two verify-side fields beyond the bucket
    assignment:

    - ``nrm`` — the vector's L2 norm, computed in the SAME projection as
      the quantization, so the delta path's cosine verify needs corpus
      VECTORS only for the candidate id set (dot products) and corpus
      norms never again;
    - ``params`` — the build-parameter tag (``_lsh_params_tag``); the
      delta path raises in-plan if it doesn't match the call's parameters
      (a mismatched family yields a different bucket space — silent recall
      collapse otherwise).

    Still narrow (two ints, a double, a constant string that
    dictionary-encodes to nothing in parquet); write it
    partitioned/bucketed by ``bucket`` and the candidate join co-locates.
    """
    return _quantized_bucket_frame(
        # a NULL id would be unfindable by every downstream equality join
        # (quiet pair loss) — reject it at BUILD time, not probe time
        _non_null_ids(df, id_col, "lsh_bucket_index", "input"),
        id_col, n_planes, n_tables, quant, id_col, vec_col, dim,
        with_norm=True,
    ).withColumn("params", F.lit(_lsh_params_tag(n_planes, n_tables, quant, dim)))


def cosine_delta_pairs_lsh(
    corpus: DataFrame,
    delta: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 8,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """BUCKETED incremental embedding near-dup — the scale path for
    per-ingest embedding dedup (``minhash_delta_dedup``'s index shape with
    ``cosine_delta_pairs``'s contract).

    ``cosine_delta_pairs`` is exact but O(|Δ|·N) per ingest: every delta
    vector scores a dot product against every corpus vector.  Here both
    sides are LSH-bucketed first (the md5-integer-plane /
    floor-quantization family of ``_quantized_bucket_frame``, so bucket
    assignment is bit-identical in any engine), candidates come from an
    equi-join on (tbl, bucket) restricted to pairs INVOLVING the delta,
    and only the candidate union gets an exact cosine verify — expected
    work O(|Δ|·N·T/2^P) dot products instead of O(|Δ|·N).

    Approximate BY DESIGN (a near-pair sharing no bucket is missed — the
    same trade ``lsh_ann_topk_exact`` documents) but DETERMINISTICALLY so:
    the result is an exact function of the data, so it carries a
    value-level cross-engine oracle, and its miss rate vs the exact path
    is itself measurable (``delta_pairs_recall_eval`` in the catalog).

    CHOOSING (n_planes, n_tables): sign-LSH recall is governed by the
    pair angle — recall ≈ 1-(1-p^P)^T with p = 1-θ/π — so the right
    constants depend on the similarity regime you prune for.  The
    defaults (P=4, T=8) match the catalog oracle's low-threshold regime;
    for real near-dup work (cosine ≥ ~0.85) use P=10/T=16, which measured
    recall 0.976 at a ~2% candidate fraction — the committed frontier in
    BENCH_LSH_FRONTIER.json maps the trade for 7 combos in both regimes.

    Scale shape: corpus buckets once per ingest epoch (persist them — the
    frame is (id, tbl, bucket, nrm, params), narrow and incrementally
    appendable exactly like ``minhash_delta_dedup``'s band index); the
    delta's bucket frame broadcasts; the verify re-attaches vectors by id
    equi-join so no vector payload rides through the bucket explode.
    Output matches cosine_delta_pairs: (vec_a, vec_b, cosine), vec_a <
    vec_b, 6dp round-before-threshold.

    PRECONDITION (ENFORCED in-plan): corpus and delta id sets disjoint —
    same guard as cosine_delta_pairs.

    Pass ``corpus_index`` (a persisted ``lsh_bucket_index`` frame for the
    corpus) and the per-ingest plan touches the corpus in exactly TWO
    narrow ways — plan-asserted in tests/test_plan_quality.py:

    - the index scan (ints + a stored norm), and
    - ONE pass over the corpus vector frame that is a broadcast left-semi
      probe against the candidate id set: vectors and norms are never
      projected for non-candidates, so the O(N) residual is a hash probe
      per row — the delta-disjointness guard rides this same scan (one
      more broadcast probe per row, no extra pass, no float math).  (With
      the corpus table partitioned or bucketed by id range in production,
      even that scan partition-prunes to the candidate buckets.)

    Staleness is fail-loud in BOTH directions (round-8 review hardening):
    the index's ``params`` tag is checked in-plan against this call's
    (n_planes, n_tables, quant, dim); an index id with no vector in
    ``corpus`` (superset index) fails the verify join; a corpus∩delta
    overlap raises whether the overlapping id is in the index or only in
    the (newer) corpus frame; NULL ids raise on every input including the
    index; and a candidate whose LIVE vector no longer matches its stored
    index norm (in-place update under an unrebuilt index — stale buckets)
    raises instead of scoring a mixed-epoch cosine.
    """
    op = "cosine_delta_pairs_lsh"
    corpus = _non_null_ids(corpus, id_col, op, "corpus")
    delta = _non_null_ids(delta, id_col, op, "delta")
    # delta-disjointness is enforced on the CORPUS frame in both paths —
    # with an index, the probe rides the one semi-scan the verify pays
    # anyway (a broadcast hash probe per row, no extra pass), and it
    # catches the staleness direction the index probe cannot: a corpus
    # row appended AFTER the index epoch whose id re-appears in the delta
    corpus = _disjoint_ids_or_raise(corpus, delta, id_col, op)
    if corpus_index is not None:
        if "params" not in corpus_index.columns or "nrm" not in corpus_index.columns:
            raise ValueError(
                f"{op}: corpus_index lacks the nrm/params columns — rebuild "
                "it with lsh_bucket_index (format: id, tbl, bucket, nrm, "
                "params)"
            )
        expected = _lsh_params_tag(n_planes, n_tables, quant, dim)
        # the guard ALSO probes the index ids (narrow frame, scanned
        # anyway): an id present in both the index and the delta raises
        # even if the passed corpus frame is itself stale
        idx = _disjoint_ids_or_raise(
            _non_null_ids(corpus_index, id_col, op, "corpus_index"),
            delta,
            id_col,
            op,
        )
        cb = idx.select(
            F.when(F.col("params") == expected, F.col(id_col))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"{op}: corpus_index was built with params "),
                        F.col("params"),
                        F.lit(f" but this call expects {expected} — a "
                              "mismatched plane family silently collapses "
                              "recall, rebuild the index"),
                    )
                )
            )
            .alias("_cid"),
            "tbl",
            "bucket",
            F.col("nrm").alias("_c_nrm"),
        )
    else:
        # (disjointness already guarded unconditionally above — a second
        # probe here would double the per-row broadcast hash probe cost)
        cb = _quantized_bucket_frame(
            corpus, "_cid", n_planes, n_tables, quant, id_col, vec_col, dim,
            with_norm=True,
        ).withColumnRenamed("nrm", "_c_nrm")
    db = F.broadcast(
        _quantized_bucket_frame(
            delta, "_did", n_planes, n_tables, quant, id_col, vec_col, dim
        )
    )
    # corpus x delta collisions; a pair colliding in several tables must
    # verify once, and _c_nrm is functionally dependent on _cid so the
    # distinct key is still the pair
    cross_cand = (
        cb.join(db, ["tbl", "bucket"])
        .filter(F.col("_cid") != F.col("_did"))
        .select("_cid", "_did", "_c_nrm")
        .distinct()
    )
    # delta x delta collisions (within-batch dups)
    db2 = db.select(F.col("_did").alias("_did2"), "tbl", "bucket")
    within_cand = (
        db.join(db2, ["tbl", "bucket"])
        .filter(F.col("_did") < F.col("_did2"))
        .select("_did", "_did2")
        .distinct()
    )

    d_vecs = F.broadcast(
        delta.select(
            F.col(id_col).alias("_did"),
            F.col(vec_col).alias("_d_vec"),
            _norm(F.col(vec_col)).alias("_d_nrm"),
        )
    )
    # the ONLY corpus-vector touch: broadcast-semi-probe to the candidate
    # id set, then project vectors for candidates alone
    cand_ids = cross_cand.select(F.col("_cid").alias(id_col)).distinct()
    c_vecs = corpus.join(F.broadcast(cand_ids), id_col, "left_semi").select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_c_vec")
    )
    # left join + in-plan guard: an index id with no corpus vector is a
    # stale/superset index — fail loudly, never silently drop its pairs
    orphan_guarded_vec = F.when(
        F.col("_c_vec").isNotNull(), F.col("_c_vec")
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"{op}: corpus_index id %s has no vector in the corpus "
                "frame — the index is stale or covers a superset; rebuild "
                "or pass the matching corpus",
                F.col("_cid").cast("string"),
            )
        )
    )
    # staleness tripwire (candidate-set cost only): the stored index norm
    # must EXACTLY equal the live vector's norm — both are the same
    # left-to-right fold over the same doubles, so an in-place vector
    # update under an unrebuilt index (same id, new values — which also
    # invalidates the bucket assignment, not just the norm) trips this
    # for any candidate whose vector changed, instead of silently scoring
    # a mixed-epoch cosine.  An unchanged vector costs one 64-wide fold
    # per CANDIDATE row — never a full-corpus norm scan.
    live_nrm_checked = F.when(
        _norm(F.col("_c_vec")) == F.col("_c_nrm"), F.col("_c_nrm")
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"{op}: corpus vector %s changed since corpus_index was "
                "built (stored norm differs from the live vector's) — the "
                "index's bucket assignment is stale, rebuild it",
                F.col("_cid").cast("string"),
            )
        )
    )
    cross_scored = (
        cross_cand.join(c_vecs, "_cid", "left")
        .withColumn("_c_vec", orphan_guarded_vec)
        .withColumn("_c_nrm", live_nrm_checked)
        .join(d_vecs, "_did")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_c_vec"), F.col("_d_vec"))
                / (F.col("_c_nrm") * F.col("_d_nrm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        # orientation normalized at output — a backfilled delta id may be
        # smaller than corpus ids
        .select(
            F.least("_cid", "_did").alias("vec_a"),
            F.greatest("_cid", "_did").alias("vec_b"),
            "cosine",
        )
    )
    d2_vecs = d_vecs.select(
        F.col("_did").alias("_did2"),
        F.col("_d_vec").alias("_d_vec2"),
        F.col("_d_nrm").alias("_d_nrm2"),
    )
    within_scored = (
        within_cand.join(d_vecs, "_did")
        .join(d2_vecs, "_did2")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_d_vec"), F.col("_d_vec2"))
                / (F.col("_d_nrm") * F.col("_d_nrm2")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("_did").alias("vec_a"),
            F.col("_did2").alias("vec_b"),
            "cosine",
        )
    )
    return cross_scored.unionByName(within_scored)


def semantic_dedup_pairs(
    corpus: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    coarse-cluster the corpus, then search for near-duplicate pairs only
    WITHIN each cluster — the candidate restriction that makes
    embedding-level dedup tractable at corpus scale.

    Deterministic spec (shared with ivf_topk so the oracle can replicate
    it): centroids = the ``n_centroids`` lowest-id vectors; assignment =
    max-cosine centroid (ties -> smaller centroid id).  Pairs are scored
    with the exact 6dp round-before-threshold cosine contract of
    cosine_near_pairs.

    Scale shape: centroid set broadcast (assignment is map-only); the pair
    search is an equi-join on ``cluster`` — expected work sum_c |c|^2
    instead of N^2, tuned by n_centroids; never a cross join over the
    corpus.  Output: (cluster, vec_a, vec_b, cosine).
    """
    cents = F.broadcast(
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    # the keep-1 assignment is the shared nearest-centroid kernel (map-only,
    # ties to the smaller cent_id — the ivf_topk spec this function shares)
    assigned = _nearest_centroids(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        cents, "cluster", 1, dim, metric="cosine",
    ).select(
        "_id",
        "_vec",
        _norm(F.col("_vec"), dim).alias("_nrm"),
        "cluster",
    )
    a = assigned.select(
        F.col("_id").alias("vec_a"),
        F.col("_vec").alias("a_vec"),
        F.col("_nrm").alias("a_nrm"),
        "cluster",
    )
    b = assigned.select(
        F.col("_id").alias("vec_b"),
        F.col("_vec").alias("b_vec"),
        F.col("_nrm").alias("b_nrm"),
        "cluster",
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("a_vec"), F.col("b_vec"), dim)
                / (F.col("a_nrm") * F.col("b_nrm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("cluster", "vec_a", "vec_b", "cosine")
    )


def ann_recall(
    exact_topk: DataFrame, approx_topk: DataFrame, k: int
) -> DataFrame:
    """Per-query recall@k of an approximate neighbor list against the
    exact one — the evaluation operator every ANN deployment needs next to
    the index itself.  Both inputs use the (query_id, neighbor_id, rank)
    contract of cosine_topk/ivf_topk/lsh_ann_topk; both are deterministic
    here, so the metric itself carries an exact oracle.  One semi-join +
    per-query count: no shuffle wider than the k-row-per-query lists."""
    hits = (
        approx_topk.join(exact_topk, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = exact_topk.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / float(k), 6
            ).alias("recall"),
        )
    )


def _pq_encode(
    corpus: DataFrame,
    ids: list,
    cmat: list,
    n_sub: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
    *,
    numpy_form: bool,
) -> DataFrame:
    """PQ encode against a collected, cent_id-sorted codebook: per
    subspace ``m`` the nearest-centroid kernel (l2, keep 1) over the slice
    [m*sub_dim, (m+1)*sub_dim) of vector and centroids, and ``recon_d2`` =
    the selected distances summed in m-order, then ``_round6``.  Output:
    (id, code0..code{n_sub-1}, recon_d2), map-only in both forms."""
    width = _codebook_width(ids, cmat)
    subs = [slice(m * sub_dim, (m + 1) * sub_dim) for m in range(n_sub)]
    codes = [f"code{m}" for m in range(n_sub)]
    corpus = corpus.withColumn(
        vec_col, _checked_vec(F.col(vec_col), F.col(id_col), width)
    )
    if not numpy_form:
        vec = F.col(vec_col)
        staged = corpus.select(
            id_col,
            *[
                _cost_array(
                    F.slice(vec, s.start + 1, sub_dim), [c[s] for c in cmat]
                ).alias(f"_d{m}")
                for m, s in enumerate(subs)
            ],
        )
        best = [
            F.array_position(F.col(f"_d{m}"), F.array_min(f"_d{m}")).cast("int")
            for m in range(n_sub)
        ]
        sel = [F.element_at(F.col(f"_d{m}"), b) for m, b in enumerate(best)]
        recon = sum(sel[1:], sel[0])  # left-assoc, in m-order
        return staged.select(
            id_col,
            *[
                F.element_at(F.lit(ids), b).cast("long").alias(c)
                for b, c in zip(best, codes)
            ],
            _round6(recon).alias("recon_d2"),
        )

    C = np.asarray(cmat, dtype=np.float64)
    idarr = np.asarray(ids, dtype=np.int64)
    schema = T.StructType(
        [T.StructField(id_col, corpus.schema[id_col].dataType)]
        + [T.StructField(c, T.LongType()) for c in codes]
        + [T.StructField("recon_d2", T.DoubleType())]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _matrix_np(pdf, vec_col)
            rows = np.arange(len(pdf))
            data = {id_col: pdf[id_col].to_numpy()}
            total = np.zeros(len(pdf))
            for c, s in zip(codes, subs):
                d = _cost_np(X[:, s], C[:, s])
                idx = np.argmin(d, axis=1)
                data[c] = idarr[idx]
                total = total + d[rows, idx]
            data["recon_d2"] = _round6_np(total)
            yield pd.DataFrame(data)

    return corpus.select(id_col, vec_col).mapInPandas(encode, schema)


def _pq_codes_crossjoin(
    corpus: DataFrame,
    cents: DataFrame,
    n_sub: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The crossJoin + ranking-window reference plan for ``_pq_encode``:
    |corpus| x |cents| scored rows, one window per subspace and
    (n_sub - 1) re-joins.  Production never runs it; the parity tests
    diff both forms against it."""
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("cent_id"),
        *_subspace_d2_cols(n_sub, sub_dim, vec_col, "cent_vec"),
    )
    joined = None
    for m in range(n_sub):
        w = Window.partitionBy(id_col).orderBy(F.col(f"qd_{m}"), F.col("cent_id"))
        best = (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select(
                id_col,
                F.col("cent_id").cast("bigint").alias(f"code{m}"),
                F.col(f"qd_{m}").alias(f"_d{m}"),
            )
        )
        joined = best if joined is None else joined.join(best, id_col)
    sel = [F.col(f"_d{m}") for m in range(n_sub)]
    return joined.select(
        id_col,
        *[f"code{m}" for m in range(n_sub)],
        _round6(sum(sel[1:], sel[0])).alias("recon_d2"),
    )


def pq_codes_df(
    corpus: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codes: dims split into ``n_sub`` subspaces of
    ``sub_dim``; per-subspace codebook = the ``n_centroids`` lowest-id
    vectors' subvectors (the same deterministic spec as the IVF
    quantizer); code = argmin subspace L2, ties to the smaller centroid
    id.  6dp rounding on each subspace distance keeps argmin ties
    engine-identical, which is what lets PQ carry an exact oracle.

    Output: (vec_id, code0..code{n_sub-1}, recon_d2).  Scale shape: the
    codebook (n_sub x n_centroids x sub_dim doubles) is collected to the
    driver and the encode is one map-only scan of the corpus
    (``_pq_encode``; the numpy form from ``MATMUL_ASSIGN_MIN_K`` codebook
    rows on).  An empty codebook encodes nothing.

    Pass ``cents`` (a (cent_id, cent_vec) frame) to encode against a
    FROZEN codebook instead of re-deriving it from ``corpus`` — the
    append path of ``build_ivf_pq_index`` needs this (FAISS ``add()``
    semantics: deltas encode against the codebook the index was built
    with, never against themselves).
    """
    if cents is None:
        cents = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
            )
        )
    ids, cmat = _collect_codebook(cents)
    if not ids:
        return corpus.select(
            id_col,
            *[F.lit(None).cast("bigint").alias(f"code{m}") for m in range(n_sub)],
            F.lit(None).cast("double").alias("recon_d2"),
        ).limit(0)
    return _pq_encode(
        corpus, ids, cmat, n_sub, sub_dim, id_col, vec_col,
        numpy_form=_use_numpy_form(len(ids)),
    )


def _pq_code_long(
    corpus: DataFrame,
    n_sub: int,
    sub_dim: int,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    cents: DataFrame | None = None,
) -> DataFrame:
    """PQ codes melted to (id, m, code) — the join shape the ADC lookup
    wants; shared by pq_adc_topk and ivf_pq_topk."""
    codes = pq_codes_df(
        corpus, n_sub, sub_dim, n_centroids, id_col, vec_col, cents=cents
    )
    return codes.selectExpr(
        id_col,
        "stack({}, {}) AS (m, code)".format(
            n_sub, ", ".join(f"{m}, code{m}" for m in range(n_sub))
        ),
    )


def _subspace_d2_cols(
    n_sub: int, sub_dim: int, a: str = "q_vec", b: str = "cent_vec"
) -> list:
    """Per-subspace 6dp-rounded squared-L2 expressions between columns
    ``a`` and ``b`` — ONE definition of the PQ distance entry shared by
    the whole-vector query table, the residual query table and
    pq_codes_df's spec (same fold, same rounding), so no serving path can
    drift on the quantity ADC sums."""
    return [
        _round6(
            _sq_l2(
                F.slice(F.col(a), m * sub_dim + 1, sub_dim),
                F.slice(F.col(b), m * sub_dim + 1, sub_dim),
            )
        ).alias(f"qd_{m}")
        for m in range(n_sub)
    ]


def _pq_query_table(
    cents: DataFrame,
    queries: DataFrame,
    n_sub: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The per-query ADC distance table, melted to (query_id, code, m, d)
    (``_pq_query_table_residual`` over the raw query vectors); shared by
    pq_adc_topk, ivf_pq_topk and ivf_pq_topk_serve so the table spec
    cannot drift between the serving paths.  ``cents`` is the (cent_id,
    cent_vec) PQ codebook frame — callers derive it from the corpus
    (batch) or from the persisted frozen codebook (serve)."""
    return _pq_query_table_residual(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        cents, n_sub, sub_dim,
    )


def _pq_query_table_residual(
    probed: DataFrame, fine: DataFrame, n_sub: int, sub_dim: int
) -> DataFrame:
    """ADC distance table of ``probed`` rows (query_id[, cluster], q_vec)
    against the PQ codebook ``fine``, melted to (query_id[, cluster],
    code, m, d): |probed| x n_sub x |fine| 6dp-rounded subspace distances
    — tiny, broadcast at the lookup join.  Residual IVF-PQ probes one
    table per (query, probed cluster): residual codes live in a cluster's
    own coordinate frame, so ``q_vec`` is the query re-centered on that
    cluster's centroid."""
    keys = [c for c in probed.columns if c != "q_vec"]
    dtab = probed.crossJoin(F.broadcast(fine)).select(
        *keys, "cent_id", *_subspace_d2_cols(n_sub, sub_dim)
    )
    return dtab.selectExpr(
        *keys,
        "cent_id AS code",
        "stack({}, {}) AS (m, d)".format(
            n_sub, ", ".join(f"{m}, qd_{m}" for m in range(n_sub))
        ),
    )


def _ivf_pq_params_tag(
    n_centroids: int,
    n_sub: int,
    sub_dim: int,
    pq_centroids: int,
    coarse_metric: str = "cosine",
    residual: bool = False,
    l2_normalize: bool = False,
) -> str:
    """Build-parameter fingerprint persisted with every
    ``build_ivf_pq_index`` row — the IVF-PQ twin of ``_lsh_params_tag``.
    Codes from one (coarse, sub, dim, fine) family are meaningless under
    another family's distance table — probing with mismatched parameters
    silently corrupts every ADC distance — so the serve path checks this
    tag in-plan and fails loudly on any mismatch.  The coarse metric is
    part of the family: an index whose clusters were assigned by trained
    L2 (``coarse_metric="l2"``) must not be probed by max-cosine, so the
    L2 family carries an ``L2`` suffix (the default cosine family's tag
    is unchanged — it is part of the ivf_pq_index oracle contract).
    Likewise RESIDUAL codes (x - coarse centroid) are meaningless under a
    whole-vector distance table and vice versa — the residual family
    appends ``R``.  A NORMALIZED deployment (``l2_normalize`` at ingest,
    the r12 scale_shock fix) appends ``N`` — unit-sphere codes probed by
    un-normalized queries (or vice versa) are the exact mixed-scale
    mismatch the knob exists to prevent; existing stores' tags are
    unchanged (the flag only appends when set)."""
    tag = f"C{n_centroids}M{n_sub}S{sub_dim}K{pq_centroids}"
    return tag + ("L2" if coarse_metric == "l2" else "") + (
        "R" if residual else ""
    ) + ("N" if l2_normalize else "")


def l2_normalize_expr(vec: Column | str) -> Column:
    """Map-only unit-L2 normalization of an embedding column — the
    ingest knob the r12 ``scale_shock`` experiment called for: under
    heterogeneous vector SCALE, an L2-cell probe disagrees with cosine
    truth no matter how fresh the codebook (the measured residue in
    BENCH_CODEBOOK_DRIFT.json), because the mismatch is metric, not
    drift.  On the unit sphere L2 ordering IS cosine ordering
    (||a-b||^2 = 2 - 2cos), so normalizing at ingest makes the trained
    L2 family serve cosine-true.

    Pure column expression (no shuffle, no Python): a left-fold sum of
    squares (deterministic order) and one divide per coordinate, in
    double.  A ZERO vector has no direction — it raises in-plan rather
    than silently landing at the origin of someone's cell.  A NULL norm
    (NULL vector, or any NULL element poisoning the fold) raises the
    same way (r13 ADVICE): all-NULL coordinates would otherwise flow
    silently into codebook training and encoding."""
    v = F.transform(
        F.col(vec) if isinstance(vec, str) else vec,
        lambda x: x.cast("double"),
    )
    nrm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        F.when(
            nrm.isNull(),
            F.raise_error(
                F.lit(
                    "l2_normalize: NULL vector or NULL element cannot be "
                    "normalized — drop or impute null embeddings before "
                    "ingest"
                )
            ),
        )
        .when(
            nrm == 0.0,
            F.raise_error(
                F.lit(
                    "l2_normalize: zero vector cannot be normalized — drop "
                    "or impute zero embeddings before ingest"
                )
            ),
        )
        .otherwise(F.transform(v, lambda x: x / nrm))
    )


def ivf_pq_centroids(
    corpus: DataFrame,
    n_keep: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The FROZEN IVF-PQ codebook frame: (cent_rank, cent_id, cent_vec) —
    the ``n_keep`` lowest-id corpus vectors ranked 1..n_keep by id (the
    ANN family's deterministic quantizer spec).  Persist it NEXT TO the
    index: appends must encode against THIS frame (FAISS ``add()``
    semantics) and never re-derive centroids from the delta — a delta row
    with a lower id than an existing centroid would otherwise silently
    shift the whole bucket space.  Slice ``cent_rank <= n_centroids`` for
    the coarse codebook and ``<= pq_centroids`` for the fine one
    (``_slice_codebook`` does both with an in-plan undersize guard).
    The single-partition window is fine: the frame is already
    limit-bounded to n_keep rows."""
    return (
        corpus.orderBy(id_col)
        .limit(n_keep)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
        .withColumn(
            "cent_rank", F.row_number().over(Window.orderBy("cent_id"))
        )
        .select("cent_rank", "cent_id", "cent_vec")
    )


def _codebook_fingerprint(cents: DataFrame, out: str) -> DataFrame:
    """One-row content fingerprint of a frozen codebook frame — an
    order-independent sum of per-row hashes over (rank, id, vector).
    Persisted with every index row at build time and recomputed from the
    serve call's frame, so serving an index against a codebook with the
    SAME parameter counts but DIFFERENT content (re-embedded corpus,
    regenerated centroids) fails loudly instead of silently corrupting
    every ADC distance — the staleness direction the params tag cannot
    see (unlike the LSH family, whose md5 planes are fully determined by
    the parameters, the IVF-PQ quantizer IS the codebook data).  pmod
    keeps the per-row term small so the sum cannot overflow; coalesce
    pins the empty-frame fingerprint so empty-vs-nonempty mismatches."""
    return cents.select(
        F.pmod(
            F.xxhash64("cent_rank", "cent_id", "cent_vec"), F.lit(2**31)
        ).alias("_h")
    ).agg(F.coalesce(F.sum("_h"), F.lit(-1)).alias(out))


def _eager_provenance_check(
    index: DataFrame,
    fp_col: str,
    expected_tag: str,
    live_fp: DataFrame,
    op: str,
    sample_rows: int = 16,
) -> None:
    """Driver-side provenance pre-check run BEFORE a serve plan is built
    (r12 ADVICE): the in-plan ``raise_error`` guards only fire for store
    rows that survive partition pruning and the cluster-probe join, so a
    mismatched store whose clusters don't overlap the probed cells would
    return silently empty instead of raising.  This eager check collects
    a BOUNDED sample of the store's (params, fingerprint) — ``limit``
    stops the scan after a handful of rows, never data-sized — plus the
    one-row live fingerprint, and raises on any mismatch at plan build.
    The in-plan check stays as defense in depth: it covers EVERY
    surviving row, catching a mixed-provenance store beyond the sample.
    An empty store passes (nothing was encoded against anything — the
    serve is legitimately empty)."""
    sample = index.select("params", fp_col).limit(sample_rows).collect()
    if not sample:
        return
    live = live_fp.collect()[0][0]
    for r in sample:
        if r["params"] != expected_tag:
            raise ValueError(
                f"{op}: store was built with params {r['params']} but this "
                f"call expects {expected_tag} — the parameter family must "
                "match the one the store was built as (rebuild the store "
                "to change family)"
            )
        if r[fp_col] != live:
            raise ValueError(
                f"{op}: quantizer fingerprint mismatch — the codebook/"
                "bounds presented at serve are not the pair the store was "
                "encoded against (retrained or regenerated quantizer); "
                "rebuild/retrain the store or serve with the persisted pair"
            )


def _codebook_fingerprint_pair(
    coarse: DataFrame, fine: DataFrame, out: str
) -> DataFrame:
    """One-row content fingerprint of a SPLIT codebook (separately trained
    coarse + fine frames — the ``fine_cents`` path): per-row hashes are
    salted with the frame's role before the order-independent sum, so
    swapping the two frames (or serving the coarse frame where the fine
    one was trained) mismatches even when their row multisets coincide.
    The single-frame formula above stays byte-stable for the stand-in
    family (its fingerprint is asserted in persisted-index tests)."""
    a = coarse.select(
        F.pmod(
            F.xxhash64(F.lit("coarse"), "cent_rank", "cent_id", "cent_vec"),
            F.lit(2**31),
        ).alias("_h")
    )
    b = fine.select(
        F.pmod(
            F.xxhash64(F.lit("fine"), "cent_rank", "cent_id", "cent_vec"),
            F.lit(2**31),
        ).alias("_h")
    )
    return a.unionByName(b).agg(
        F.coalesce(F.sum("_h"), F.lit(-1)).alias(out)
    )


def _slice_codebook(
    cents: DataFrame, n: int, what: str, op: str
) -> DataFrame:
    """``cent_rank <= n`` slice of a frozen ``ivf_pq_centroids`` frame,
    raising IN-PLAN if the frame holds fewer than ``n`` centroids — an
    undersized codebook would silently change the quantizer family
    (ranks are dense 1..n_keep by construction, so max(rank) >= n iff
    all n are present).  The guard is a one-row AGGREGATE over the full
    frame cross-joined back onto the slice — not a per-row window — so
    it fires even when the frame is EMPTY and the slice has no rows to
    evaluate a predicate on (the degenerate case a row-scoped guard
    silently passes)."""
    guard = cents.agg(F.max("cent_rank").alias("_mx")).select(
        F.when(F.coalesce(F.col("_mx"), F.lit(0)) >= n, F.lit(1))
        .otherwise(
            F.raise_error(
                F.lit(
                    f"{op}: frozen codebook has fewer than {n} {what} "
                    "centroids — rebuild ivf_pq_centroids with n_keep >= "
                    "max(n_centroids, pq_centroids)"
                )
            )
        )
        .alias("_ok")
    )
    return (
        cents.filter(F.col("cent_rank") <= n)
        .crossJoin(F.broadcast(guard))
        # route cent_id through _ok so column pruning cannot drop the
        # guard expression from the plan (the otherwise branch is
        # unreachable: _ok is 1 on every row the guard emits)
        .select(
            F.when(F.col("_ok") == 1, F.col("cent_id"))
            .otherwise(
                F.raise_error(F.lit(f"{op}: unreachable codebook guard"))
            )
            .alias("cent_id"),
            "cent_vec",
        )
    )


def ivf_residuals(
    corpus: DataFrame,
    cents: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    coarse_metric: str = "l2",
    op: str = "ivf_residuals",
) -> DataFrame:
    """(id, cluster, residual) — each vector re-centered on its coarse
    cell: residual = x - centroid[cluster].  This is what FAISS's
    IndexIVFPQ actually PQ-encodes (by_residual=True, the default): a
    whole-vector PQ spends its entire code budget re-describing the
    coarse structure the cluster id already names, so ADC cannot resolve
    WITHIN-cell ranking; coding the residual points the same bits at
    exactly the within-cell variation ADC needs.  Exposed standalone so
    the residual fine codebook can be TRAINED on the same frame the
    index encodes (kmeans_subspace_codebook over this output).
    Deterministic: the subtraction is an exact IEEE op against
    6dp-rounded centroid coordinates, so residual codes carry the same
    cross-engine oracle as whole-vector codes."""
    coarse = F.broadcast(_slice_codebook(cents, n_centroids, "coarse", op))
    asg = _nearest_centroids(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        coarse, "cluster", 1, dim, metric=coarse_metric,
    )
    return _recentered(
        asg.withColumnRenamed("_id", id_col), coarse, id_col, "_vec", vec_col
    )


def _recentered(
    rows: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec: str,
    out: str,
    cent_vec: str = "cent_vec",
) -> DataFrame:
    """(id_col, cluster, out): each row's ``vec`` re-centered on its
    cluster's centroid, out = vec - cent_vec[cluster] — the residual
    every residual IVF family encodes and probes with, an exact IEEE
    subtraction in both engines."""
    by_cluster = cents.select(
        F.col("cent_id").alias("cluster"), F.col(cent_vec).alias("_cent")
    )
    return rows.join(F.broadcast(by_cluster), "cluster").select(
        id_col,
        "cluster",
        F.zip_with(
            vec, "_cent", lambda x, y: x.cast("double") - y.cast("double")
        ).alias(out),
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    cents: DataFrame | None = None,
    fine_cents: DataFrame | None = None,
    coarse_metric: str = "cosine",
    residual: bool = False,
    l2_normalize: bool = False,
) -> DataFrame:
    """The persistable IVF-PQ index: (id, cluster, m, code, cb_fp,
    params) — ``n_sub`` rows per vector, each a 1-byte-equivalent code,
    plus the coarse cluster id, the codebook-content fingerprint
    (``_codebook_fingerprint`` — both constants dictionary-encode to
    nothing in parquet) and the build-parameter tag.  This is the third
    persisted delta index (after the MinHash band index and the LSH
    bucket index) and the one a billion-vector ANN deployment actually
    serves from: write it partitioned by ``cluster`` and
    ``ivf_pq_topk_serve`` partition-prunes to n_probe/n_centroids of it.

    Appends encode against the FROZEN codebook (pass ``cents`` — the
    persisted ``ivf_pq_centroids`` frame the initial build used; FAISS
    ``add()`` semantics).  Cluster assignment and codes are per-row
    functions of (vector, codebook), so with a frozen codebook the
    incremental append IS the full rebuild — same contract as the other
    two indexes, test-asserted.  When ``cents`` is None (initial build)
    the codebook is derived from ``corpus`` itself.

    TRAINED quantizers: pass ``cents=kmeans_codebook(...)`` with
    ``coarse_metric="l2"`` (the kmeans assignment spec) and
    ``fine_cents=kmeans_subspace_codebook(...)`` for a separately trained
    PQ codebook.  With ``fine_cents`` the persisted fingerprint covers
    BOTH frames role-salted (``_codebook_fingerprint_pair``), and the
    params tag carries the metric, so serve calls must present the same
    two frames and the same family — both staleness directions stay
    fail-loud.  The serving plan is identical either way.

    RESIDUAL encoding (``residual=True`` — FAISS IndexIVFPQ's
    by_residual default): PQ codes are taken on x - centroid[cluster]
    (``ivf_residuals``), pointing the code budget at within-cell
    variation instead of re-describing the coarse structure.  Train
    ``fine_cents`` on the ``ivf_residuals`` frame; the params tag gains
    ``R`` so a whole-vector serve of a residual index (or vice versa)
    fails loudly.
    """
    corpus = _non_null_ids(corpus, id_col, "build_ivf_pq_index", "input")
    if l2_normalize:
        # map-only unit-sphere projection at ingest (the scale_shock
        # fix); the codebooks must have been trained on normalized
        # vectors — the N in the params tag makes a mixed store/serve
        # fail loudly
        corpus = corpus.withColumn(vec_col, l2_normalize_expr(vec_col))
    if cents is None:
        cents = ivf_pq_centroids(
            corpus, max(n_centroids, pq_centroids), id_col, vec_col
        )
    op = "build_ivf_pq_index"
    coarse = F.broadcast(_slice_codebook(cents, n_centroids, "coarse", op))
    fine = _slice_codebook(
        fine_cents if fine_cents is not None else cents,
        pq_centroids, "PQ", op,
    )
    if residual:
        res = ivf_residuals(
            corpus, cents, n_centroids, id_col, vec_col, dim,
            coarse_metric, op,
        )
        assigned = res.select(id_col, "cluster")
        codes = _pq_code_long(
            res.select(id_col, vec_col), n_sub, sub_dim, pq_centroids,
            id_col, vec_col, cents=fine,
        )
    else:
        assigned = _nearest_centroids(
            corpus.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
            ),
            coarse, "cluster", 1, dim, metric=coarse_metric,
        ).select(F.col("_id").alias(id_col), "cluster")
        codes = _pq_code_long(
            corpus, n_sub, sub_dim, pq_centroids, id_col, vec_col, cents=fine
        )
    fp = (
        _codebook_fingerprint(cents, "cb_fp")
        if fine_cents is None
        else _codebook_fingerprint_pair(cents, fine_cents, "cb_fp")
    )
    return (
        codes.join(assigned, id_col)
        .crossJoin(F.broadcast(fp))
        .withColumn(
            "params",
            F.lit(
                _ivf_pq_params_tag(
                    n_centroids, n_sub, sub_dim, pq_centroids,
                    coarse_metric, residual, l2_normalize,
                )
            ),
        )
    )


def ivf_pq_topk_serve(
    index: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    fine_cents: DataFrame | None = None,
    coarse_metric: str = "cosine",
    residual: bool = False,
    l2_normalize: bool = False,
    eager_check: bool = True,
) -> DataFrame:
    """Serve IVF-PQ top-k from the PERSISTED index — corpus vectors are
    never an input, so the per-query-batch cost is structurally
    independent of corpus float payload: the probe scans
    n_probe/n_centroids of the (int, int, int) code rows (partition-pruned
    when the index is written partitioned by ``cluster``), the query
    distance table (|Q| x n_sub x pq_centroids, 6dp-rounded) broadcasts,
    and the only wide shuffle is the per-query top-k.  The ONLY vector
    math anywhere is queries x centroids (codebook-sized).

    Staleness is fail-loud in BOTH directions: the index's ``params`` tag
    is checked in-plan against this call's (n_centroids, n_sub, sub_dim,
    pq_centroids), AND the index's persisted codebook-content fingerprint
    (``cb_fp``) is checked against one recomputed from THIS call's
    ``cents`` frame — parameters alone cannot see a regenerated or
    re-embedded codebook with the same counts, and either mismatch
    silently corrupts every ADC distance.  Both checks also run EAGERLY
    on a bounded store sample at plan build (``_eager_provenance_check``)
    so a mismatched store raises even when pruning would drop every row.  Serve with the SAME persisted
    codebook frame the build used (a superset frame with identical rows
    fingerprints identically only if it is row-identical — conservative
    by design).  An undersized or empty frozen-codebook frame raises via
    ``_slice_codebook``.

    Output contract identical to ``ivf_pq_topk``: (query_id, neighbor_id,
    rank, adc_d2), rank 1..k by ADC distance asc, ties to the smaller
    neighbor id, self-matches excluded.
    """
    op = "ivf_pq_topk_serve"
    if "params" not in index.columns or "cb_fp" not in index.columns:
        raise ValueError(
            f"{op}: index lacks the params/cb_fp columns — rebuild it with "
            "build_ivf_pq_index (format: id, cluster, m, code, cb_fp, "
            "params)"
        )
    expected = _ivf_pq_params_tag(
        n_centroids, n_sub, sub_dim, pq_centroids, coarse_metric, residual,
        l2_normalize,
    )
    if l2_normalize:
        # the store holds unit-sphere codes: the query must enter the
        # same space before probing/ADC (map-only, like the ingest side)
        queries = queries.withColumn(vec_col, l2_normalize_expr(vec_col))
    live_fp = (
        _codebook_fingerprint(cents, "_live_fp")
        if fine_cents is None
        else _codebook_fingerprint_pair(cents, fine_cents, "_live_fp")
    )
    if eager_check:
        # r14: inline build→serve compositions (ivf_pq_topk and friends)
        # pass eager_check=False — there the index subplan is built from
        # the SAME frames in the SAME plan, so provenance cannot mismatch,
        # while the limit(16) sample would EXECUTE the whole unpersisted
        # index-encode job once at plan build and again at action time
        # (measured: ~half of ivf_pq_topk's build seconds).  Persisted
        # serves (the production path, where the sample is one cheap row-
        # group read) keep the eager guard; the in-plan check below runs
        # for every surviving row either way.
        _eager_provenance_check(index, "cb_fp", expected, live_fp, op)
    idx = index.crossJoin(F.broadcast(live_fp)).select(
        F.when(
            F.col("params") != expected,
            F.raise_error(
                F.concat(
                    F.lit(f"{op}: index was built with params "),
                    F.col("params"),
                    F.lit(
                        f" but this call expects {expected} — a mismatched "
                        "codebook family silently corrupts ADC distances, "
                        "rebuild the index"
                    ),
                )
            ),
        )
        .when(
            F.col("cb_fp") != F.col("_live_fp"),
            F.raise_error(
                F.lit(
                    f"{op}: codebook fingerprint mismatch — the cents "
                    "frame passed to serve is not the one the index was "
                    "built against (regenerated/re-embedded codebook); "
                    "rebuild the index or serve with the persisted frame"
                )
            ),
        )
        .otherwise(F.col(id_col))
        .alias(id_col),
        "cluster",
        "m",
        "code",
    )
    coarse = F.broadcast(_slice_codebook(cents, n_centroids, "coarse", op))
    fine = _slice_codebook(
        fine_cents if fine_cents is not None else cents,
        pq_centroids, "PQ", op,
    )
    probed_full = _nearest_centroids(
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        coarse, "cluster", n_probe, dim, metric=coarse_metric,
    )
    probed = probed_full.select(F.col("_id").alias("query_id"), "cluster")
    if residual:
        # residual codes live per-cluster: re-center the query on each
        # probed cluster's centroid and take the distance table there —
        # the lookup join gains the cluster key, nothing else changes
        probed_res = _recentered(
            probed_full.withColumnRenamed("_id", "query_id"), coarse,
            "query_id", "_vec", "q_vec",
        )
        dtab_long = _pq_query_table_residual(probed_res, fine, n_sub, sub_dim)
        lookup_keys = ["query_id", "cluster", "m", "code"]
    else:
        dtab_long = _pq_query_table(
            fine, queries, n_sub, sub_dim, id_col, vec_col
        )
        lookup_keys = ["query_id", "m", "code"]
    adc = (
        idx.join(F.broadcast(probed), "cluster")
        .join(F.broadcast(dtab_long), lookup_keys)
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("d"), 6).alias("adc_d2"))
        .withColumnRenamed(id_col, "neighbor_id")
    )
    return _topk_per_query(adc, k, ["adc_d2"], extra_cols=("adc_d2",))


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ — the combined billion-vector serving shape: IVF cluster
    PRUNING (probe only each query's ``n_probe`` nearest coarse clusters,
    n_probe/n_centroids of the data) times PQ COMPRESSION (candidates
    scored by asymmetric distance — n_sub table lookups against the
    query's broadcast distance table, never per-pair float vector math).
    This is what FAISS's IndexIVFPQ computes, expressed as joins.

    Composes the two verified parts with their specs unchanged: the coarse
    quantizer is ``ivf_topk``'s (max-cosine to the ``n_centroids``
    lowest-id vectors, ties to the smaller centroid id, via
    ``_nearest_centroids``) and the fine quantizer/lookup table are
    ``pq_adc_topk``'s (``_pq_code_long`` / ``_pq_query_table``).
    Deterministic end to end, so it carries an exact SQL oracle like the
    rest of the ANN family.

    This batch form IS the persisted pipeline run inline — it builds the
    frozen codebook (``ivf_pq_centroids``), encodes the index
    (``build_ivf_pq_index``) and serves from it (``ivf_pq_topk_serve``),
    so the inline result and the persisted-index result cannot drift; in
    production the first two persist once (index partitioned by
    ``cluster``) and only the serve plan runs per query batch.

    Output: (query_id, neighbor_id, rank, adc_d2); self-matches excluded.
    """
    # the codebook frame feeds four slice subtrees (coarse+fine in both
    # build and serve) — localCheckpoint the <=max(n_centroids,
    # pq_centroids)-row frame so the corpus TakeOrdered runs once, not 4x
    # (same pattern as connected_components' iterative labeling)
    cframe = ivf_pq_centroids(
        corpus, max(n_centroids, pq_centroids), id_col, vec_col
    ).localCheckpoint()
    index = build_ivf_pq_index(
        corpus, n_centroids, n_sub, sub_dim, pq_centroids,
        id_col, vec_col, dim, cents=cframe,
    )
    return ivf_pq_topk_serve(
        index, cframe, queries,
        k=k, n_centroids=n_centroids, n_probe=n_probe, n_sub=n_sub,
        sub_dim=sub_dim, pq_centroids=pq_centroids,
        id_col=id_col, vec_col=vec_col, dim=dim,
        eager_check=False,  # same-plan frames: provenance cannot mismatch
    )


def pq_balanced_perm(
    corpus: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    vec_col: str = "embedding",
) -> list[int]:
    """Variance-balanced dimension allocation — the OPQ idea (Ge et al.,
    CVPR'13: rotate so subspaces carry equal variance) restricted to its
    PERMUTATION special case, which is the part that stays oracle-exact:
    rank dimensions by per-dim variance (desc, ties to the lower dim) and
    deal them round-robin across the ``n_sub`` subspaces, so no subspace
    hoards the high-variance coordinates while another quantizes noise
    with the same code budget.  Contiguous slicing (plain PQ) is the
    identity layout this replaces when the data's variance is
    position-structured.

    Determinism across engines: the moments are DECIMAL(28,14) sums
    (exact, order-independent — the catalog's TPC-H aggregation rule),
    the variance is rounded to 6dp before ranking, ties go to the lower
    dimension index.  One dim-bounded collect (d rows), the codebook
    precedent.

    Returns the permutation as a 1-based gather list: output position
    ``p`` (0-based) reads input dimension ``perm[p]``, where position
    ``(r-1) % n_sub`` subspace / ``(r-1) // n_sub`` slot holds the
    rank-``r`` dimension.
    """
    f = corpus.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("i0", "v")
    ).select((F.col("i0") + 1).alias("i"), "v")
    stats = f.groupBy("i").agg(
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,14)"))
        .cast("double")
        .alias("ss"),
        F.sum(F.col("v").cast("decimal(28,14)")).cast("double").alias("s1"),
        F.count(F.lit(1)).alias("cnt"),
    )
    rows = stats.select(
        "i",
        F.round(
            F.col("ss") / F.col("cnt")
            - (F.col("s1") / F.col("cnt")) * (F.col("s1") / F.col("cnt")),
            6,
        ).alias("v6"),
        "cnt",
    ).collect()
    dim = len(rows)
    if dim != n_sub * sub_dim:
        raise ValueError(
            f"pq_balanced_perm: dim {dim} != n_sub*sub_dim "
            f"{n_sub}*{sub_dim}"
        )
    # ragged-input guard (sq8_train's contiguity check): a ragged
    # embedding column whose DISTINCT dim count happens to equal
    # n_sub*sub_dim would otherwise pass and silently rank per-dim
    # variances computed over differing row counts
    if sorted(r["i"] for r in rows) != list(range(1, dim + 1)):
        raise ValueError(
            "pq_balanced_perm: ragged embedding column — dimensions "
            f"{sorted(r['i'] for r in rows)} are not contiguous from 1"
        )
    if len({r["cnt"] for r in rows}) != 1:
        raise ValueError(
            "pq_balanced_perm: ragged embedding column — per-dimension "
            "row counts differ "
            f"({sorted({r['cnt'] for r in rows})}); variances over "
            "unequal populations are not comparable"
        )
    ranked = sorted(rows, key=lambda r: (-r["v6"], r["i"]))
    perm = [0] * dim
    for r0, row in enumerate(ranked):  # r0 = rank-1
        new_pos = (r0 % n_sub) * sub_dim + (r0 // n_sub)
        perm[new_pos] = int(row["i"])
    return perm


def apply_dim_permutation(
    df: DataFrame, perm: list[int], vec_col: str, out: str
) -> DataFrame:
    """Gather ``vec_col``'s dimensions into ``out`` by the 1-based
    ``perm`` list — an unrolled array constructor, map-only inside
    whole-stage codegen (the permutation analogue of OPQ's rotation
    matmul, free at any scale)."""
    return df.withColumn(
        out,
        F.array(*[F.element_at(F.col(vec_col), p) for p in perm]),
    )


def ivf_pq_topk_balanced(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ over the variance-balanced layout: compute the round-robin
    permutation (``pq_balanced_perm``), gather every vector through it,
    and run the UNCHANGED ``ivf_pq_topk`` composition on the permuted
    column — coarse assignment, codes, ADC table and serve are all the
    verified plain-PQ machinery, because a permutation commutes with
    every distance PQ computes per subspace.  This is exactly how OPQ
    deploys in FAISS (OPQMatrix pre-transform chained in front of an
    untouched IndexPQ), with the transform restricted to the
    oracle-exact permutation case.

    Output: (query_id, neighbor_id, rank, adc_d2) — adc_d2 is the ADC
    distance in the permuted (= original, per-subspace re-bucketed)
    coordinate system.

    Coarse-stage boundary assumption (documented, regression-pinned): the
    probe ranks UNROUNDED cosine summed in PERMUTED dimension order,
    while the oracle's vc CTE sums the unpermuted relation in engine
    order — mathematically identical, IEEE-identical only up to addend
    reorder (~1 ulp).  Like ``_exact_cosine``'s no-ulp-ties rule, the
    entry therefore assumes no two (query, centroid) cosines within ~1
    ulp of each other; the testdata corpora satisfy it, and
    ``test_balanced_pq.py::test_balanced_coarse_assignment_permutation_
    invariant`` pins that the permuted-order assignment equals the
    engine-order one on both SFs (the check that would catch a corpus
    where the assumption breaks)."""
    perm = pq_balanced_perm(corpus, n_sub, sub_dim, vec_col)
    # r14 staged layout (guide §1.2/§5): the permuted corpus is the input
    # to EVERY arm of the downstream ivf_pq_topk composition (codebook
    # TakeOrdered, coarse assignment, the code stage's crossJoin + n_sub
    # ranking windows, the ADC probe) — left lazy, each arm re-evaluates
    # the unrolled 64-element gather subplan, and the repeated copies of
    # that expression tree dominate catalyst/codegen time at any SF.
    # localCheckpoint gathers once per build; deployed OPQ does the same
    # (the pre-transformed vectors are what the index stores — FAISS
    # applies OPQMatrix at add() time, not per probe arm).
    c2 = (
        apply_dim_permutation(corpus, perm, vec_col, "_bvec")
        .select(id_col, "_bvec")
        .localCheckpoint()
    )
    q2 = apply_dim_permutation(queries, perm, vec_col, "_bvec").select(
        id_col, "_bvec"
    )
    # dim deliberately NOT passed (r14): a known dim makes _dot/_norm
    # unroll each cosine into a flat 64-term element_at chain — ~1.3x on
    # the evaluated expression but replicated across every coarse/probe
    # arm of the composition, where the copies dominate catalyst analysis
    # and codegen time.  The compact fold is bit-identical by the _dot
    # contract (same left-to-right addition order), so results are
    # unchanged.
    return ivf_pq_topk(
        c2, q2, k=k, n_centroids=n_centroids, n_probe=n_probe,
        n_sub=n_sub, sub_dim=sub_dim, pq_centroids=pq_centroids,
        id_col=id_col, vec_col="_bvec",
    )


def ivf_pq_balanced_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    pq_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Balanced permutation x RESIDUAL encoding x exact REFINE — the
    full composition the round-11 frontier implied: the variance-
    balanced layout (``pq_balanced_perm``) commutes with residual
    re-centering (a permutation of x - c IS perm(x) - perm(c)) and with
    the refine stage (which scores original vectors), so all three
    verified pieces stack without changing any one's spec.

    Stage layout (each choice is a determinism choice):

    - COARSE assignment and probing run on the ORIGINAL coordinates —
      cosine is permutation-invariant, and staying unpermuted keeps the
      IEEE summation order identical to the oracle's ``vc`` CTE, closing
      for this entry the ulp boundary assumption ``ivf_pq_topk_balanced``
      documents (ADVICE r11).
    - PQ codes are taken on PERMUTED residuals: gather x and the
      assigned stand-in centroid through the permutation, subtract
      (exact IEEE on identical operands), encode with the fine codebook
      = the ``pq_centroids`` lowest-id residual rows (the
      ``_PQ_CODES_TAIL`` spec applied to the residual relation).
    - ADC shortlists per (query, probed cluster) with the residual
      distance table (``_pq_query_table_residual``), then exact cosine
      over ORIGINAL vectors re-ranks the ``shortlist`` — the
      ``ivf_pq_refine_topk`` tail verbatim.

    Scale shape unchanged from the residual+refine stack: the
    permutation is a map-only gather, codes-only store upstream, and the
    refine is the one broadcast-joined float read.  Output: (query_id,
    neighbor_id, rank) — the refine contract.
    """
    perm = pq_balanced_perm(corpus, n_sub, sub_dim, vec_col)
    # dim deliberately NOT threaded into the cosine expressions (r14): a
    # known dim unrolls _dot/_norm into flat 64-term element_at chains
    # whose copies across the assignment/probe arms dominate catalyst
    # analysis and codegen time; the compact fold is bit-identical by the
    # _dot contract (same left-to-right addition order).
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    )
    assigned = _nearest_centroids(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        F.broadcast(cents), "cluster", 1,
    ).select(F.col("_id").alias(id_col), "cluster")
    probes = _nearest_centroids(
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        F.broadcast(cents), "cluster", n_probe,
    ).select(F.col("_id").alias("query_id"), "cluster")

    cperm = apply_dim_permutation(corpus, perm, vec_col, "_bvec").select(
        id_col, "_bvec"
    )
    cent_perm = apply_dim_permutation(cents, perm, "cent_vec", "_bcent")
    res = (
        _recentered(
            assigned.join(cperm, id_col), cent_perm, id_col, "_bvec", "_rvec",
            "_bcent",
        )
        # r14 staged residuals, the ivf_pq_residual_topk pattern (guide
        # §1.2/§5): the residual relation feeds the fine codebook, the
        # code stage's crossJoin + n_sub ranking windows AND the ADC
        # probe — without staging, each of those arms re-derives the
        # assignment⋈permutation⋈subtract subplan (whose unrolled
        # 64-element gather and inline centroid trees also multiply
        # catalyst/codegen time with every copy).  localCheckpoint
        # materializes it once per build; a production pipeline stages
        # the residual layout to parquet at index-build time, exactly as
        # tools/bench_ivfpq.py does for the 10M tier.
        .localCheckpoint()
    )
    fine = (
        res.orderBy(id_col)
        .limit(pq_centroids)
        .select(
            F.col(id_col).alias("cent_id"), F.col("_rvec").alias("cent_vec")
        )
    )
    codes = _pq_code_long(
        res.select(id_col, "_rvec"), n_sub, sub_dim, pq_centroids,
        id_col, "_rvec", cents=fine,
    )
    qperm = apply_dim_permutation(queries, perm, vec_col, "_bvec").select(
        F.col(id_col).alias("query_id"), "_bvec"
    )
    probed_res = _recentered(
        probes.join(qperm, "query_id"), cent_perm, "query_id", "_bvec",
        "q_vec", "_bcent",
    )
    dtab_long = _pq_query_table_residual(probed_res, fine, n_sub, sub_dim)
    adc = (
        codes.join(assigned, id_col)
        .join(F.broadcast(dtab_long), ["cluster", "m", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("d"), 6).alias("adc_d2"))
        .withColumnRenamed(id_col, "neighbor_id")
    )
    short = _topk_per_query(adc, shortlist, ["adc_d2"]).select(
        "query_id", "neighbor_id"
    )
    return _refine_exact(short, queries, corpus, k, id_col, vec_col)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k — the billion-vector serving
    pattern: the corpus is stored as PQ CODES only (n_sub bytes/vector);
    a query precomputes its distance to every codebook centroid per
    subspace (a |queries| x n_sub x n_centroids table, tiny -> broadcast)
    and each candidate's approximate distance is n_sub table LOOKUPS, no
    float vector math per pair.  Deterministic end to end (6dp-rounded
    table entries, ties to smaller neighbor id), so the approximate index
    itself carries an exact oracle.

    Output: (query_id, neighbor_id, rank, adc_d2) — rank 1..k by
    approximate distance asc; self-matches excluded.
    """
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    # one codebook derivation threaded to BOTH quantizer sides — the
    # shared-codebook invariant is structural, not by convention, and the
    # plan pays one corpus TakeOrdered instead of two
    code_long = _pq_code_long(
        corpus, n_sub, sub_dim, n_centroids, id_col, vec_col, cents=cents
    )
    dtab_long = _pq_query_table(cents, queries, n_sub, sub_dim, id_col, vec_col)
    adc = (
        code_long.join(F.broadcast(dtab_long), ["m", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("d"), 6).alias("adc_d2"))
        .withColumnRenamed(id_col, "neighbor_id")
    )
    return _topk_per_query(adc, k, ["adc_d2"], extra_cols=("adc_d2",))
