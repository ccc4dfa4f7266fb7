"""Scalar quantization (SQ8) — FAISS ``IndexScalarQuantizer(QT_8bit)``
inside an IVF, re-expressed as DataFrame ops.

The third compression point on the ANN memory/recall frontier the repo
already prices (float32 exact > SQ8 > PQ): each dimension is quantized
independently to one byte against TRAINED per-dimension (min, max)
bounds, so a 64-d float32 vector stores as 64 bytes (4x smaller) while
keeping ~8 bits of per-coordinate resolution — in practice near-exact
recall, where PQ's 8-bytes-per-vector trades recall for another 8x.
This is exactly FAISS's QT_8bit contract: ``train()`` learns vmin/vdiff
per dimension, ``encode`` is an affine clamp to [0, 255], search decodes
on the fly per candidate (SIMD there, ``transform``/``zip_with`` inside
whole-stage codegen here — no Python UDF anywhere).

Determinism discipline (what keeps the approximate index oracle-exact,
the family rule from ``similarity.py``): bounds are exact min/max
aggregates (no summation), the encode rounds the scaled coordinate to
6dp BEFORE flooring so the engine boundary cannot flip a code, distances
round to 6dp before ranking, and ties go to the smaller id everywhere.

Scale shape: train is one melt + groupBy(dim) aggregate collecting
``dim`` rows to the driver (the kmeans codebook precedent — bounded by
dimensionality, never data-sized); encode is MAP-ONLY against broadcast
literal bounds; serving is the IVF probe equi-join on ``cluster`` (the
partition-prunable key) with per-candidate decode-and-score, so the
stored index carries no float vectors at all.

Reference parity: the reference ETL (open-bus-siri-etl) has no vector
search; this module belongs to the training-data operator families the
brief layers on top (SURVEY §2 scope note).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import (
    _eager_provenance_check,
    _nearest_centroids,
    _recentered,
    _topk_per_query,
    l2_normalize_expr,
)

# FAISS QT_8bit: codes are floor(x01 * 256) clamped to [0, 255], decoded
# at the cell midpoint (code + 0.5) / 256.
SQ8_LEVELS = 256

#: The measured serving default for the SQ8 + exact-refine stack — the
#: IVF_PQ_SERVING_DEFAULTS discipline applied to the scalar family:
#: the smallest refine shortlist clearing recall@10 >= recall_bar at
#: EVERY measured tier of BENCH_IVFPQ.json (clustered_tiers 300k/1M +
#: sq8_scale_10m — a test pins this dict against the artifact, so a
#: re-measure moves the constant, never the other way).  shortlist=50
#: already hits 1.0 at 300k/1M but drops to 0.886 at 10M (the wider
#: 10M min/max grid); 100 clears everywhere at serve cost within run
#: noise of 50.  pruning_frac = n_probe/n_centroids, held constant
#: across tiers (4/256 = 16/1024 = 64/4096).
#:
#: residual is DELIBERATELY ABSENT (r13 measurement): at the 10M tier
#: residual-SQ8 recalls 0.5672 raw / 0.9469 refine@100 — statistically
#: the raw family's 0.5703 / 0.9516 at strictly higher serve cost, so
#: it does not move the knee (BENCH_IVFPQ.json sq8_scale_10m
#: residual_note: with sigma-0.8 cells against unit-spread centers the
#: within-cell range is barely tighter than the corpus range, so the
#: 256-level grid gains nothing; and per sq8_residual_regime, even in
#: the tight-cluster regime where the grid genuinely gets 4x finer
#: — bounds_span_ratio 0.2537 at 1M/sigma-0.2 — recall moves only
#: +0.0062 at ceiling 1.0, because near-tie margins shrink with sigma
#: faster than any grid can chase).  The sync test
#: asserts the residual rows never beat raw+refine at the measured
#: shortlists — if a re-measure flips that, the default grows the
#: residual flag then.
SQ8_SERVING_DEFAULTS = {
    "shortlist": 100,
    "pruning_frac": 0.015625,
    "recall_bar": 0.9,
}


def sq8_params_tag(
    n_centroids: int,
    metric: str,
    residual: bool,
    dim: int,
    l2_normalize: bool = False,
) -> str:
    """The family tag stamped on every index row by ``build_sq8_index``
    — same role as ``_ivf_pq_params_tag``: a serve/append against a
    store built with different flags (trained=/residual=/geometry) must
    fail loudly, not return wrong neighbors.  A normalized deployment
    (``l2_normalize`` at ingest — the scale_shock fix) appends
    ``:norm1``; existing stores' tags are unchanged (the suffix only
    appears when the flag is set), and the suffix is what makes a
    normalized store refuse un-normalized appends and vice versa."""
    tag = f"sq8:c{n_centroids}:{metric}:res{int(residual)}:d{dim}"
    return tag + (":norm1" if l2_normalize else "")


def _bounds_content_hash(bounds: list[tuple[float, float]]) -> int:
    """Deterministic small integer over the exact bound VALUES —
    ``repr`` round-trips IEEE doubles exactly, so the same bounds list
    (in memory or parquet-round-tripped) always hashes identically and
    any retrained/substituted bounds differ.  Truncated to 32 bits so
    the fingerprint sum below stays far inside bigint range."""
    payload = ";".join(
        f"{float(mn)!r},{float(mx)!r}" for mn, mx in bounds
    ).encode()
    return int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")


def sq8_fingerprint(
    cents: DataFrame, bounds: list[tuple[float, float]], out: str
) -> DataFrame:
    """One-row content fingerprint over BOTH halves of the SQ8 quantizer
    — the coarse codebook frame (order-independent per-row hash sum, the
    ``_codebook_fingerprint`` formula salted for this family) and the
    trained bounds (driver-side content hash folded in as a literal).
    Persisted with every index row at build time and recomputed from the
    serve call's (cents, bounds); a mismatch on either half means the
    serve would silently decode against the wrong grid or probe the
    wrong cell geometry — exactly the staleness the params tag alone
    cannot see (same counts, different content)."""
    return cents.select(
        F.pmod(
            F.xxhash64(F.lit("sq8"), "cent_id", "cent_vec"), F.lit(2**31)
        ).alias("_h")
    ).agg(
        (
            F.coalesce(F.sum("_h"), F.lit(-1))
            + F.lit(_bounds_content_hash(bounds))
        ).alias(out)
    )


def sq8_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) bounds — FAISS QT_8bit ``train()``.

    One posexplode + groupBy(dim) min/max; the collect is bounded by the
    dimensionality (k x dim codebook-collect precedent), and min/max are
    exact aggregates so the trained bounds are engine-identical to the
    oracle's ``GROUP BY i`` CTE.
    """
    rows = (
        corpus.select(
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    by_dim = sorted(rows, key=lambda r: r["i"])
    if [r["i"] for r in by_dim] != list(range(len(by_dim))):
        raise ValueError(
            "sq8_train: ragged embedding column — dimensions "
            f"{sorted(r['i'] for r in by_dim)} are not contiguous from 0"
        )
    return [(float(r["mn"]), float(r["mx"])) for r in by_dim]


def _bounds_arrays(bounds: list[tuple[float, float]]) -> tuple[Column, Column]:
    """Broadcast-literal (mn, span) arrays — dim doubles each, folded into
    the task binary like the kmeans centroid literals."""
    mn = F.array(*[F.lit(float(m)) for m, _ in bounds])
    span = F.array(*[F.lit(float(x) - float(m)) for m, x in bounds])
    return mn, span


def sq8_encode(
    df: DataFrame,
    bounds: list[tuple[float, float]],
    vec_col: str = "embedding",
    out: str = "sq8_code",
) -> DataFrame:
    """Map-only SQ8 encode: ``code_j = clamp(floor(round(x01_j * 256, 6)),
    0, 255)`` with ``x01_j = (v_j - mn_j) / span_j`` (0.0 on a degenerate
    constant dimension).

    The 6dp round BEFORE the floor is the engine-boundary guard: both
    engines compute the affine scale on identical IEEE operands, and the
    round collapses any last-ulp noise before the only discontinuous op.
    The max of a dimension lands exactly on 256 and clamps back to 255 —
    same as FAISS's upper-edge handling.
    """
    mn, span = _bounds_arrays(bounds)

    def _code(v: Column, j: Column) -> Column:
        m = F.element_at(mn, j + 1)
        s = F.element_at(span, j + 1)
        x01 = F.when(s == 0.0, F.lit(0.0)).otherwise(
            (v.cast("double") - m) / s
        )
        return (
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0), F.floor(F.round(x01 * F.lit(256.0), 6))
                ),
            )
        ).cast("int")

    return df.withColumn(out, F.transform(F.col(vec_col), _code))


def _sq8_d2_expr(
    q_col: Column,
    code_col: Column,
    bounds: list[tuple[float, float]],
    dim: int | None = None,
) -> Column:
    """The serve-side squared distance between a float query array and a
    code array, 6dp-rounded.  Two bodies, ONE value: the default is the
    compact ``transform`` + ``zip_with`` + ``aggregate`` fold; passing
    ``dim`` unrolls the same per-dimension term chain into a flat
    left-to-right sum — term math and addition order are identical
    (IEEE: both add j=1..d in sequence), so the two forms are
    bit-identical (parity-tested).  The unroll is the ``_dot(dim=...)``
    precedent applied to the decode chain — measured ~equal at the
    300k/1M tiers (the serve is scan/probe-join bound there, and Spark
    4's higher-order functions evaluate efficiently enough that the
    decode is not the bottleneck), so the knob exists for environments
    where HOF fallback binds, not as a default."""
    if dim is None:
        decoded = sq8_decode_expr(code_col, bounds)
        return F.round(
            F.aggregate(
                F.zip_with(
                    q_col,
                    decoded,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
    total = None
    for j in range(1, dim + 1):
        mn, mx = bounds[j - 1]
        span = float(mx) - float(mn)
        dq = F.lit(float(mn)) + (
            code_col[j - 1].cast("double") + F.lit(0.5)
        ) * F.lit(span) / F.lit(256.0)
        d = F.element_at(q_col, j).cast("double") - dq
        term = d * d
        total = term if total is None else total + term
    return F.round(total, 6)


def sq8_decode_expr(
    code_col: Column, bounds: list[tuple[float, float]]
) -> Column:
    """Midpoint decode ``mn_j + (code_j + 0.5) * span_j / 256`` as an
    array<double> expression — evaluated per candidate inside codegen, the
    decode-on-the-fly FAISS SQ search does in SIMD."""
    mn, span = _bounds_arrays(bounds)
    return F.transform(
        code_col,
        lambda c, j: F.element_at(mn, j + 1)
        + (c.cast("double") + F.lit(0.5))
        * F.element_at(span, j + 1)
        / F.lit(256.0),
    )


def sq8_residual_frame(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    coarse_metric: str = "cosine",
) -> DataFrame:
    """(_id, cluster, _rvec) — each vector re-centered on its coarse
    cell, the frame residual SQ8 both TRAINS its bounds on and encodes
    (the ``ivf_residuals`` role for the scalar family).  Exact IEEE
    subtraction on identical operands in both engines."""
    assigned = _nearest_centroids(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")),
        cents, "cluster", keep=1, dim=dim, metric=coarse_metric,
    )
    return _recentered(assigned, cents, "_id", "_vec", "_rvec")


def build_sq8_index(
    corpus: DataFrame,
    cents: DataFrame,
    bounds: list[tuple[float, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    coarse_metric: str = "cosine",
    n_cents: int | None = None,
    residual: bool = False,
    l2_normalize: bool = False,
) -> DataFrame:
    """The persisted IVF-SQ8 store: (id, cluster, sq8_code) — coarse
    assignment against ``cents`` (cosine for the lowest-id stand-in
    family, "l2" for trained ``kmeans_codebook`` frames; the
    nearest-centroid kernel takes its numpy form from
    ``MATMUL_ASSIGN_MIN_K`` codebook rows on) plus the map-only SQ8
    encode.  ``n_cents`` is the codebook size for the params tag
    (counted when omitted).  ``residual=True`` re-centers each vector
    on its cell before encoding (FAISS IndexIVFScalarQuantizer's
    by_residual default) — ``bounds`` must then be trained on the
    residual frame (``sq8_residual_frame`` + ``sq8_train``).  Write it
    ``partitionBy("cluster")`` and the serve probe partition-prunes,
    exactly like ``build_ivf_pq_index``.  No float vectors in the
    store: 1 byte/dim + id.

    PROVENANCE (the ivf_pq contract, r12): every row carries ``params``
    (the ``sq8_params_tag`` build-family tag) and ``sq8_fp`` (the
    codebook+bounds content fingerprint) — ``sq8_topk_serve`` refuses a
    store whose tag or fingerprint does not match the (cents, bounds,
    flags) presented at serve time, so a residual store served raw, or
    bounds from a different training, fail loudly instead of silently
    returning wrong neighbors."""
    n_c = n_cents if n_cents is not None else cents.count()
    if l2_normalize:
        # map-only unit-sphere projection at ingest (the scale_shock
        # fix): on the unit sphere the trained-L2 probe agrees with
        # cosine truth regardless of the corpus's scale mixture.  The
        # codebook and bounds must have been trained on normalized
        # vectors; the :norm1 tag makes a mixed store fail loudly.
        corpus = corpus.withColumn(vec_col, l2_normalize_expr(vec_col))
    tag = sq8_params_tag(n_c, coarse_metric, residual, len(bounds), l2_normalize)
    fp = sq8_fingerprint(cents, bounds, "sq8_fp")
    if residual:
        res = sq8_residual_frame(
            corpus, cents, id_col, vec_col, dim, coarse_metric
        )
        encoded = sq8_encode(
            res, bounds, vec_col="_rvec", out="sq8_code"
        )
    else:
        assigned = _nearest_centroids(
            corpus.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
            ),
            cents, "cluster", keep=1, dim=dim, metric=coarse_metric,
        )
        encoded = sq8_encode(
            assigned, bounds, vec_col="_vec", out="sq8_code"
        )
    return (
        encoded.select(F.col("_id").alias(id_col), "cluster", "sq8_code")
        .crossJoin(F.broadcast(fp))
        .withColumn("params", F.lit(tag))
    )


def sq8_topk_serve(
    index: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    bounds: list[tuple[float, float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    coarse_metric: str = "cosine",
    residual: bool = False,
    n_centroids: int | None = None,
    l2_normalize: bool = False,
    eager_check: bool = True,
) -> DataFrame:
    """Serve top-k from a persisted SQ8 store: the query batch probes its
    ``n_probe`` nearest coarse cells (tiny frame), equi-joins the store on
    ``cluster`` (partition-pruned when the store is written partitioned by
    it) and scores candidates by decode-on-the-fly squared L2 — the
    decode runs inside whole-stage codegen against broadcast literal
    bounds, no corpus float vectors anywhere in the serve plan.
    ``residual=True``: the query re-centers per probed cluster before
    scoring ((q-c)-(x-c) = q-x exactly; only the quantization grid
    moves), matching a store built with ``residual=True``.

    Staleness is fail-loud in BOTH directions (the ``ivf_pq_topk_serve``
    guard, r12): a store lacking the ``params``/``sq8_fp`` provenance
    columns is refused outright (rebuild with ``build_sq8_index``), the
    store's tag is checked in-plan against this call's
    (n_centroids, coarse_metric, residual, dim-of-bounds), and the
    persisted content fingerprint is checked against one recomputed from
    THIS call's (cents, bounds) — serving a residual store raw, or with
    bounds/centroids from a different training, raises instead of
    silently decoding against the wrong grid.  Both checks run EAGERLY
    on a bounded store sample at plan build (``_eager_provenance_check``,
    r12 ADVICE — a mismatched store whose clusters miss every probed
    cell raises instead of returning silently empty) and again in-plan
    for every surviving row.  ``n_centroids`` defaults to the presented
    codebook's row count.

    Output: (query_id, neighbor_id, rank, sq8_d2); self-matches excluded.
    """
    op = "sq8_topk_serve"
    if "params" not in index.columns or "sq8_fp" not in index.columns:
        raise ValueError(
            f"{op}: index lacks the params/sq8_fp provenance columns — "
            "rebuild it with build_sq8_index (format: id, cluster, "
            "sq8_code, sq8_fp, params)"
        )
    n_c = n_centroids if n_centroids is not None else cents.count()
    if l2_normalize:
        # unit-sphere store: queries enter the same space (map-only,
        # mirroring the ingest side)
        queries = queries.withColumn(vec_col, l2_normalize_expr(vec_col))
    expected = sq8_params_tag(
        n_c, coarse_metric, residual, len(bounds), l2_normalize
    )
    live_fp = sq8_fingerprint(cents, bounds, "_live_fp")
    if eager_check:
        # r14: inline build→serve compositions pass eager_check=False —
        # same-plan frames cannot mismatch, and the bounded sample would
        # execute the unpersisted index-encode subplan once at plan build
        # and again at action time.  Persisted serves keep the guard; the
        # in-plan per-row check below runs either way.
        _eager_provenance_check(index, "sq8_fp", expected, live_fp, op)
    index = index.crossJoin(F.broadcast(live_fp)).select(
        F.when(
            F.col("params") != expected,
            F.raise_error(
                F.concat(
                    F.lit(f"{op}: store was built with params "),
                    F.col("params"),
                    F.lit(
                        f" but this call expects {expected} — the "
                        "residual/metric/geometry flags must match the "
                        "family the store was built as (rebuild the store "
                        "to change family)"
                    ),
                )
            ),
        )
        .when(
            F.col("sq8_fp") != F.col("_live_fp"),
            F.raise_error(
                F.lit(
                    f"{op}: quantizer fingerprint mismatch — the "
                    "(cents, bounds) presented at serve are not the pair "
                    "the store was encoded against (retrained bounds or "
                    "regenerated codebook); rebuild/retrain the store or "
                    "serve with the persisted pair"
                )
            ),
        )
        .otherwise(F.col(id_col))
        .alias(id_col),
        "cluster",
        "sq8_code",
    )
    probes = _nearest_centroids(
        queries.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
        ),
        cents,
        "cluster",
        keep=n_probe,
        dim=dim,
        metric=coarse_metric,
    )
    if residual:
        probes = _recentered(
            probes.withColumnRenamed("_id", "query_id"), cents, "query_id",
            "_vec", "_q_vec",
        )
    else:
        probes = probes.select(
            F.col("_id").alias("query_id"),
            F.col("_vec").alias("_q_vec"),
            "cluster",
        )
    scored = (
        F.broadcast(probes)
        .join(
            index.select(
                F.col(id_col).alias("neighbor_id"), "cluster", "sq8_code"
            ),
            "cluster",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sq8_d2",
            _sq8_d2_expr(
                F.col("_q_vec"), F.col("sq8_code"), bounds, dim=dim
            ),
        )
    )
    return _topk_per_query(scored, k, ["sq8_d2"], extra_cols=("sq8_d2",))


def sq8_residual_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-SQ8 over RESIDUALS — the FAISS ``IndexIVFScalarQuantizer``
    default (``by_residual=True``): each vector is re-centered on its
    coarse cell before encoding, so the 8 bits per dimension describe
    within-cell variation instead of re-describing the coarse structure
    the cluster id already names.  Residual coordinates span a far
    narrower range than raw ones, so the same 256 levels land on a finer
    grid — the same argument ``ivf_residuals`` makes for PQ, applied to
    the scalar family.  The query is re-centered per probed cluster
    (``(q - c) - (x - c) = q - x`` exactly, so the scored quantity is
    unchanged; only the quantization grid moves).

    Same determinism spec as ``sq8_ivf_topk`` (exact bounds over the
    residual frame, round-before-floor encode, 6dp distances, smaller-id
    ties), so the entry keeps an exact oracle.

    Output: (query_id, neighbor_id, rank, sq8_d2); self-matches excluded.
    """
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    )
    # bounds train on the residual frame, then the persisted pipeline
    # (build + serve, residual=True) runs inline — same composition
    # discipline as sq8_ivf_topk
    bounds = sq8_train(
        sq8_residual_frame(corpus, cents, id_col, vec_col, dim),
        vec_col="_rvec",
    )
    index = build_sq8_index(
        corpus, cents, bounds, id_col, vec_col, dim, residual=True,
        n_cents=n_centroids,
    )
    return sq8_topk_serve(
        index, cents, queries, bounds, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, dim=dim, residual=True,
        n_centroids=n_centroids,
        eager_check=False,  # same-plan frames: provenance cannot mismatch
    )


def sq8_refine_serve(
    index: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    bounds: list[tuple[float, float]],
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    coarse_metric: str = "cosine",
    residual: bool = False,
    n_centroids: int | None = None,
    l2_normalize: bool = False,
    eager_check: bool = True,
) -> DataFrame:
    """SQ8 shortlist + EXACT REFINE from the persisted store — FAISS's
    IndexRefineFlat stage over IndexIVFScalarQuantizer: the SQ8 serve
    produces a per-query ``shortlist`` (top candidates by
    decode-on-the-fly squared L2 over codes only), then exact cosine
    re-ranks just those and returns the top ``k``.

    Why this rung exists (the round-11 frontier finding, measured r12):
    SQ8's 8-bit-per-dim shortlist already ranks near-exactly (recall@10
    ~0.93 unrefined at the 300k/1M tiers, vs PQ-ADC's shortlist-grade
    ordering), so the refine reaches a given recall with a much SMALLER
    shortlist than PQ-refine needs — shortlist 50 hits 1.0 where
    refine@400 sits at 0.96-0.975 — and the refine's cost is exactly
    the shortlist-sized float read.  At the 10M tier the rung becomes
    load-bearing rather than optional: min/max bounds over 10M samples
    span wider extremes, the coarser grid drops unrefined recall to
    ~0.57 (candidate ceiling 1.0 — resolution, not pruning), and
    refine@100 recovers 0.95 at cost parity.  Measured next to the PQ
    rungs in BENCH_IVFPQ.json clustered_tiers + sq8_scale_10m; the
    artifact-pinned default is SQ8_SERVING_DEFAULTS.

    Scale shape: everything upstream is the codes-only SQ8 serve
    (partition-pruned probe join, no corpus floats); the refine is the
    ONE stage touching corpus vectors — a |Q| x shortlist id set
    broadcast against one pruned-column corpus scan, never a corpus
    shuffle (the ``ivf_pq_refine_topk`` shape).

    Output: (query_id, neighbor_id, rank) — the cosine_topk contract
    (rank by exact cosine desc, ties to the smaller neighbor id;
    self-matches excluded by the SQ8 stage).
    """
    from .similarity import _refine_exact

    # the refine's exact-cosine re-rank is scale-invariant, so only the
    # SQ8 shortlist stage needs the l2_normalize flag (tag + query space)
    short = sq8_topk_serve(
        index, cents, queries, bounds, k=shortlist, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, dim=dim,
        coarse_metric=coarse_metric, residual=residual,
        n_centroids=n_centroids, l2_normalize=l2_normalize,
        eager_check=eager_check,
    ).select("query_id", "neighbor_id")
    return _refine_exact(short, queries, corpus, k, id_col, vec_col, dim)


def sq8_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Inline IVF-SQ8 + exact refine — the batch form of
    ``sq8_refine_serve`` (build the codes-only store, serve a
    ``shortlist``, exact-cosine re-rank), the SQ8 sibling of
    ``ivf_pq_refine_topk``.  Deterministic end to end (the SQ8 stage's
    exact-bounds/round-before-floor/6dp spec + the refine family's
    no-ulp-ties cosine), so it carries an exact SQL oracle.  Output:
    (query_id, neighbor_id, rank)."""
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    )
    bounds = sq8_train(corpus, vec_col)
    index = build_sq8_index(
        corpus, cents, bounds, id_col, vec_col, dim, n_cents=n_centroids
    )
    return sq8_refine_serve(
        index, cents, queries, bounds, corpus, k=k, shortlist=shortlist,
        n_probe=n_probe, id_col=id_col, vec_col=vec_col, dim=dim,
        n_centroids=n_centroids,
        eager_check=False,  # same-plan frames: provenance cannot mismatch
    )


def sq8_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-SQ8 top-k — FAISS ``IndexIVFScalarQuantizer`` as joins: the
    coarse stage is the ANN family's shared quantizer spec (max-cosine to
    the ``n_centroids`` lowest-id stand-in centroids via
    ``_nearest_centroids``, ties to the smaller centroid id — identical
    to ``ivf_topk``/``ivf_pq_topk``), the fine stage stores candidates as
    SQ8 CODES ONLY (1 byte/dim, no float vectors in the index frame) and
    scores each probed candidate by decode-on-the-fly squared L2 against
    the float query.

    Sits between exact re-rank IVF (``ivf_topk``: full float vectors,
    exact cosine) and IVF-PQ (``ivf_pq_topk``: n_sub bytes/vector, table
    lookups) on the memory/recall frontier — 4x compression at
    near-exact recall vs 32x at shortlist-grade recall.

    Deterministic end to end (exact min/max bounds, round-before-floor
    encode, 6dp distances, ties to smaller neighbor id), so the entry
    carries an exact DuckDB oracle like the rest of the family.

    Output: (query_id, neighbor_id, rank, sq8_d2); self-matches excluded.
    """
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    )
    bounds = sq8_train(corpus, vec_col)
    # this batch form IS the persisted pipeline run inline (the
    # ivf_pq_topk discipline): build the codes-only store, serve from it
    # — the inline result and the persisted-index result cannot drift
    index = build_sq8_index(
        corpus, cents, bounds, id_col, vec_col, dim, n_cents=n_centroids
    )
    return sq8_topk_serve(
        index, cents, queries, bounds, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, dim=dim, n_centroids=n_centroids,
        eager_check=False,  # same-plan frames: provenance cannot mismatch
    )
