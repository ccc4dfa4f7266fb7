"""Streaming IVF-SQ8 indexer — the scalar-quantized sibling of
``start_ivf_pq_index_stream`` (delta_dedup.py): FAISS train-then-add for
the SQ8 family inside Structured Streaming.

Frozen artifacts, both written once from the FIRST micro-batch and both
deterministic in its content (so crash replays recompute identical
frames and the overwrite-when-unreadable rule keeps partial writes
recoverable):

- the coarse codebook at ``cents_path`` (lowest-id stand-in, or trained
  ``kmeans_codebook`` with ``trained=True``), tagged ``cb_kind`` exactly
  like the PQ stream so family-flipped adoptions fail loudly;
- the SQ8 BOUNDS at ``bounds_path`` — per-dimension (min, max) from the
  first batch (over residuals when ``residual=True``), tagged with the
  ``family`` they were trained on.  Later batches whose values fall
  outside the trained range CLAMP to code 0/255 — exactly what FAISS's
  ``IndexScalarQuantizer`` does when ``add()`` sees data beyond its
  ``train()`` range, and the reason drifted appends degrade gracefully
  instead of failing.

Every batch encodes against the frozen pair (``build_sq8_index``) and
lands as its own ``ingest_batch`` partition (dynamic overwrite — a
replayed batch replaces exactly itself).  Codes are per-row functions of
(vector, codebook, bounds), so the drained store equals the batch build
over everything landed: append IS the rebuild, test-asserted, and
``sq8_topk_serve`` reads the store directly (extra columns ignored).

Scale: per-batch work is delta-sized (one assignment pass + map-only
encode); the store is codes-only (1 byte/dim), partitioned by
``ingest_batch`` — run ``sq8_topk_serve`` against it as-is, or
materialize the cluster-partitioned serving copy with
``delta_dedup.relayout_store_by_cluster`` so the probe partition-prunes
(test-asserted in test_sq8_stream.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quantization import (
    build_sq8_index,
    sq8_params_tag,
    sq8_residual_frame,
    sq8_train,
)
from ..operators.similarity import ivf_pq_centroids
from .delta_dedup import _read_or_none, _write_partition

# The family tag lives with the builder now (r12 provenance move):
# build_sq8_index stamps it on every row itself.
_sq8_params_tag = sq8_params_tag


def write_sq8_bounds(
    spark: SparkSession,
    bounds: list[tuple[float, float]],
    path: str,
    family: str,
) -> None:
    """Persist trained bounds as a (i, mn, mx, family) frame —
    ``family`` is provenance ('raw' | 'residual'), the bounds-side
    ``cb_kind``: a residual stream must never adopt raw bounds (the
    grids differ by the coarse spread) and vice versa."""
    spark.createDataFrame(
        [(i, float(mn), float(mx), family) for i, (mn, mx) in enumerate(bounds)],
        "i int, mn double, mx double, family string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def read_sq8_bounds(
    spark: SparkSession, path: str, expect_family: str
) -> list[tuple[float, float]]:
    """Read persisted bounds back into the driver-side list the encode
    expressions fold in, refusing a family mismatch."""
    rows = sorted(
        spark.read.parquet(path).collect(), key=lambda r: r["i"]
    )
    fams = sorted({r["family"] for r in rows})
    if fams != [expect_family]:
        raise ValueError(
            f"read_sq8_bounds: the bounds at {path} were trained on the "
            f"'{fams}' frame but this deployment expects "
            f"'{expect_family}' — raw and residual grids are not "
            "interchangeable (the residual range excludes the coarse "
            "spread); retrain or point bounds_path elsewhere"
        )
    if [r["i"] for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"read_sq8_bounds: non-contiguous dimensions at {path}"
        )
    return [(r["mn"], r["mx"]) for r in rows]


def retrain_sq8_store(
    spark: SparkSession,
    corpus: DataFrame,
    index_path: str,
    cents_path: str,
    bounds_path: str,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = True,
    residual: bool = False,
    dim: int | None = None,
    checkpoint_dir: str | None = None,
    retrain_codebook: bool | None = None,
    l2_normalize: bool = False,
) -> dict:
    """Retrain-and-reindex for a streaming SQ8 store — the FAISS
    train-then-add other half the SQ8 stream was missing (the
    ``retrain_ivf_pq_store`` mirror): frozen bounds are exact for the
    distribution they were trained on, and drifted appends CLAMP to the
    edge codes (measured degradation: BENCH_CODEBOOK_DRIFT.json sq8
    section) — this maintenance job retrains the bounds (and, for
    ``trained=True`` deployments, the coarse kmeans codebook) on
    ``corpus`` (the landing tree re-read — the store holds only codes),
    re-encodes everything, and swaps the store:

    1. the new coarse codebook (kmeans when ``trained``; a stand-in
       deployment keeps its frozen lowest-id codebook — there is nothing
       to retrain there but the bounds) and the new bounds (trained on
       the residual frame when ``residual``) are staged next to their
       final paths;
    2. the full re-encode against the new pair is staged likewise;
    3. under a ``._compacting`` marker on ``index_path`` (readers refuse
       mid-swap), codebook, bounds and index are overwritten from the
       staged copies — the index lands in the ``ingest_batch=-1`` base,
       so the resumed stream's appends (which re-read bounds every
       batch and therefore ADOPT the new grid) compose exactly as after
       a compaction.

    Provenance rotates BY CONTENT: every re-encoded row carries the new
    (codebook, bounds) ``sq8_fp``, so serving the new store with the
    stale bounds list — or the old store with the new bounds — raises
    in-plan via the ``sq8_topk_serve`` fingerprint guard; no version
    counter to forget.  A crash between swaps leaves the marker with the
    staged copies intact as recovery.

    Run only while the stream is stopped; pass ``checkpoint_dir`` to
    enforce the clean drain programmatically.  Post-retrain the store
    equals a from-scratch ``build_sq8_index`` against the new pair
    row-for-row (test-asserted in test_sq8_stream.py).

    ``trained`` names the DEPLOYMENT's coarse family (l2 kmeans vs
    cosine stand-in — it must match how the store streams/serves);
    ``retrain_codebook`` names what THIS job retrains: bounds-only
    (False — the frozen codebook is kept, isolating bounds freshness)
    or codebook+bounds (True).  Defaults to ``trained`` — a stand-in
    codebook is deterministic in the corpus ids and has nothing to
    retrain (the provenance guard itself caught the earlier conflation:
    a bounds-only retrain of an l2 deployment must NOT re-encode with
    the cosine stand-in family).
    """
    from ..operators.clustering import kmeans_codebook
    from .delta_dedup import (
        _COMPACTED_BASE_BATCH,
        _assert_drained_checkpoint,
        _fs_delete,
        _fs_mkdirs,
    )

    if checkpoint_dir is not None:
        _assert_drained_checkpoint(spark, checkpoint_dir)
    if retrain_codebook is None:
        retrain_codebook = trained
    if retrain_codebook and not trained:
        raise ValueError(
            "retrain_sq8_store: retrain_codebook=True needs trained=True "
            "— a stand-in codebook is deterministic in the corpus ids, "
            "there is nothing to retrain (rebuild the deployment as "
            "trained to move to kmeans cells)"
        )
    coarse_metric = "l2" if trained else "cosine"
    family = "residual" if residual else "raw"
    raw_corpus = corpus
    if l2_normalize:
        # a normalized deployment retrains in normalized space — the
        # corpus re-read from the landing tree is raw, so project it
        # here (map-only) for codebook/bounds training; the re-encode
        # below gets the RAW corpus + the flag so the projection runs
        # exactly once inside build_sq8_index (bit-identical to a
        # from-scratch normalized build)
        from ..operators.similarity import l2_normalize_expr

        corpus = corpus.withColumn(vec_col, l2_normalize_expr(vec_col))

    def _stage(frame: DataFrame, final: str, single: bool = True) -> DataFrame:
        stage = final + "._compact_staging"
        w = frame.coalesce(1) if single else frame
        w.write.mode("overwrite").parquet(stage)
        return spark.read.parquet(stage)

    if retrain_codebook:
        coarse = _stage(
            kmeans_codebook(corpus, n_centroids, iters, id_col, vec_col)
            .withColumn("cb_kind", F.lit("trained")),
            cents_path,
        )
    else:
        existing_cents = _read_or_none(spark, cents_path)
        if existing_cents is None:
            raise ValueError(
                f"retrain_sq8_store: no codebook at {cents_path} — a "
                "bounds-only retrain re-encodes against the FROZEN "
                "codebook, which must already exist"
            )
        kinds = (
            [r[0] for r in existing_cents.select("cb_kind").distinct().collect()]
            if "cb_kind" in existing_cents.columns
            else []
        )
        if trained and kinds != ["trained"]:
            raise ValueError(
                f"retrain_sq8_store: the codebook at {cents_path} is not "
                f"a trained kmeans frame (cb_kind={kinds or 'absent'}) but "
                "trained=True — the re-encode would assign with the wrong "
                "family"
            )
        coarse = _stage(existing_cents, cents_path)
    cents_frame = coarse.drop("cb_kind")
    train_frame = (
        sq8_residual_frame(
            corpus, cents_frame, id_col, vec_col, dim, coarse_metric,
        ).withColumnRenamed("_rvec", "_tvec")
        if residual
        else corpus.select(F.col(vec_col).alias("_tvec"))
    )
    new_bounds = sq8_train(train_frame, vec_col="_tvec")
    bounds_stage = bounds_path + "._compact_staging"
    write_sq8_bounds(spark, new_bounds, bounds_stage, family)
    staged_bounds = read_sq8_bounds(spark, bounds_stage, family)
    reencoded = _stage(
        build_sq8_index(
            raw_corpus, cents_frame, staged_bounds, id_col, vec_col, dim,
            coarse_metric=coarse_metric, n_cents=n_centroids,
            residual=residual, l2_normalize=l2_normalize,
        ).withColumn("ingest_batch", F.lit(_COMPACTED_BASE_BATCH)),
        index_path,
        single=False,
    )
    n_rows = reencoded.count()
    marker = index_path + "._compacting"
    _fs_mkdirs(spark, marker)
    coarse.write.mode("overwrite").parquet(cents_path)
    spark.read.parquet(bounds_stage).coalesce(1).write.mode(
        "overwrite"
    ).parquet(bounds_path)
    reencoded.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("ingest_batch").parquet(index_path)
    _fs_delete(spark, marker)
    for p in (cents_path, index_path):
        _fs_delete(spark, p + "._compact_staging")
    _fs_delete(spark, bounds_stage)
    return {
        "rows_reencoded": n_rows,
        "n_centroids": n_centroids,
        "trained": trained,
        "codebook_retrained": retrain_codebook,
        "residual": residual,
        "dim": len(new_bounds),
    }


def start_sq8_index_stream(
    spark: SparkSession,
    landing_root: str,
    index_path: str,
    cents_path: str,
    bounds_path: str,
    checkpoint_dir: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
    residual: bool = False,
    iters: int = 2,
    dim: int | None = None,
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
    schema=None,
    l2_normalize: bool = False,
):
    """Start the streaming IVF-SQ8 indexer (module docstring has the
    contract).  Returns the StreamingQuery.

    ``l2_normalize`` (r12 scale_shock fix): every batch is projected to
    the unit sphere at INGEST (map-only) before anything trains or
    encodes — codebook, bounds and codes all live in normalized space,
    so a trained-L2 probe agrees with cosine truth even when the corpus
    mixes vector scales (the measured residue no amount of retraining
    closed, BENCH_CODEBOOK_DRIFT.json).  The flag lands in the params
    tag (``:norm1``) via ``build_sq8_index``, so a normalized store
    refuses un-normalized appends at START and vice versa."""
    from ..operators.clustering import kmeans_codebook
    from ..operators.similarity import l2_normalize_expr

    if schema is None:
        schema = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(landing_root).schema
        )
    coarse_metric = "l2" if trained else "cosine"
    family = "residual" if residual else "raw"
    kind_tag = "trained" if trained else "standin"

    # family guard at START (the PQ stream's rule): appending a
    # different-family encoding into an existing store would only fail
    # at some later serve, with partition surgery as the fix.  The check
    # is the FULL tag including the :d{dim} suffix (dim = row count of
    # the frozen bounds — they must exist if the store does), and a
    # store without a params column is refused rather than skipped: a
    # provenance-free store cannot prove it is this family (r12, per
    # ADVICE — a dim-mismatched append used to slip past the prefix).
    existing = _read_or_none(spark, index_path)
    if existing is not None:
        if "params" not in existing.columns:
            raise ValueError(
                f"start_sq8_index_stream: the persisted store at "
                f"{index_path} has no params column, so its build family "
                "cannot be verified — rebuild it with build_sq8_index "
                "(which stamps provenance) before appending"
            )
        persisted_bounds = _read_or_none(spark, bounds_path)
        if persisted_bounds is None:
            raise ValueError(
                f"start_sq8_index_stream: the store at {index_path} "
                f"exists but its bounds at {bounds_path} are unreadable — "
                "inconsistent deployment state; restore the bounds the "
                "store was encoded against (or rebuild both)"
            )
        expect = sq8_params_tag(
            n_centroids, coarse_metric, residual, persisted_bounds.count(),
            l2_normalize,
        )
        tags = [
            r["params"] for r in existing.select("params").distinct().collect()
        ]
        if tags and set(tags) != {expect}:
            raise ValueError(
                f"start_sq8_index_stream: the persisted store at "
                f"{index_path} carries params {sorted(set(tags))} but this "
                f"stream would append {expect} — the trained=/residual=/"
                "geometry flags (and dimensionality) must match the "
                "deployment the store was built as (rebuild the store to "
                "change family)"
            )

    def _write_once_cents(frame: DataFrame) -> DataFrame:
        frame.withColumn("cb_kind", F.lit(kind_tag)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(cents_path)
        return spark.read.parquet(cents_path)

    def _adopt_cents(frame: DataFrame) -> DataFrame:
        kinds = (
            [r[0] for r in frame.select("cb_kind").distinct().collect()]
            if "cb_kind" in frame.columns
            else []
        )
        if trained and kinds != ["trained"]:
            raise ValueError(
                f"start_sq8_index_stream: the frame at {cents_path} is not "
                f"a trained codebook (cb_kind={kinds or 'absent'}) — a "
                "trained=True stream must not adopt a stand-in codebook"
            )
        if not trained and kinds == ["trained"]:
            raise ValueError(
                f"start_sq8_index_stream: the frame at {cents_path} is a "
                "TRAINED codebook but this stream runs trained=False — "
                "adopting it would assign with the wrong family"
            )
        return frame.drop("cb_kind")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        raw = batch_df.select(id_col, vec_col).localCheckpoint(eager=True)
        if raw.isEmpty():
            return
        # codebook and bounds train in NORMALIZED space when the knob is
        # on; the build below gets the RAW batch + the flag so the
        # projection happens exactly once there — bit-identical to the
        # batch ``build_sq8_index(raw_corpus, ..., l2_normalize=True)``
        # (append == rebuild stays exact, not just up-to-ulp)
        batch = (
            raw.withColumn(vec_col, l2_normalize_expr(vec_col))
            if l2_normalize
            else raw
        )
        cents = _read_or_none(spark, cents_path)
        if cents is None:
            if trained:
                frame = kmeans_codebook(
                    batch, n_centroids, iters, id_col, vec_col
                )
            else:
                frame = ivf_pq_centroids(batch, n_centroids, id_col, vec_col)
                if frame.count() < n_centroids:
                    raise ValueError(
                        "start_sq8_index_stream: first batch smaller than "
                        f"n_centroids={n_centroids} — refusing to freeze a "
                        "truncated coarse codebook"
                    )
            cents = _write_once_cents(frame).drop("cb_kind")
        else:
            cents = _adopt_cents(cents)
        if _read_or_none(spark, bounds_path) is None:
            train_frame = (
                sq8_residual_frame(
                    batch, cents, id_col, vec_col, dim, coarse_metric,
                ).withColumnRenamed("_rvec", "_tvec")
                if residual
                else batch.select(F.col(vec_col).alias("_tvec"))
            )
            write_sq8_bounds(
                spark,
                sq8_train(train_frame, vec_col="_tvec"),
                bounds_path,
                family,
            )
        bounds = read_sq8_bounds(spark, bounds_path, family)
        # build_sq8_index stamps params + sq8_fp itself (r12 provenance)
        _write_partition(
            build_sq8_index(
                raw, cents, bounds, id_col, vec_col, dim,
                coarse_metric=coarse_metric, n_cents=n_centroids,
                residual=residual, l2_normalize=l2_normalize,
            ),
            batch_id,
            index_path,
        )

    reader = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(landing_root)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
