"""The nearest-centroid kernel's two forms (operators/similarity.py
``_nearest`` / ``_pq_encode``): parity with the crossJoin reference plans
on both sides of the form threshold, the one rounding rule, and the
degenerate-input guards.  Small synthetic geometries with many exact
ties (small-integer coordinates, duplicated and parallel centroids), so
the smaller-id tie-break is exercised, not just the arithmetic."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import open_bus_siri_etl_spark.operators.similarity as sim

DIM = 8


def _frame(spark, ids, vecs, names):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        f"{names[0]} long, {names[1]} array<float>",
    )


@pytest.fixture(scope="module")
def geometry(spark):
    rng = np.random.default_rng(11)

    def vectors(n):
        v = rng.integers(0, 3, size=(n, DIM)).astype(float)
        v[:, 0] += 1.0  # never a zero vector: cosine needs a norm
        return v

    df = _frame(spark, range(120), vectors(120), ("_id", "_vec"))
    books = {}
    for k in (6, sim.MATMUL_ASSIGN_MIN_K + 2):
        c = vectors(k)
        c[1] = c[0]  # duplicate centroid: every l2/cosine score ties
        c[2] = 2.0 * c[3]  # parallel centroid: cosine scores tie
        ids = rng.permutation(1000)[:k]  # ids neither dense nor sorted
        books[k] = _frame(spark, ids, c, ("cent_id", "cent_vec"))
    return df, books


def _pairs(d):
    return sorted((r["_id"], r["c"]) for r in d.select("_id", "c").collect())


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_nearest_forms_equal_crossjoin_reference(spark, geometry, metric):
    """keep-1 and keep-n, below and above MATMUL_ASSIGN_MIN_K: the
    dispatched plan and both forms called directly return the reference's
    (id, centroid) multiset and output types."""
    df, books = geometry
    for k, cents in books.items():
        ids, cmat = sim._collect_codebook(cents)
        for keep, dim in ((1, None), (3, None), (2, 5)):
            ref = sim._crossjoin_nearest(df, cents, "c", keep, dim, metric)
            want = _pairs(ref)
            assert len(want) == 120 * keep
            got = sim._nearest_centroids(df, cents, "c", keep, dim, metric)
            assert dict(got.dtypes) == dict(ref.dtypes)
            for d in [got] + [
                sim._nearest(
                    df, "_id", "_vec", ids, cmat, "c", keep, metric, dim,
                    numpy_form=numpy_form,
                )
                for numpy_form in (False, True)
            ]:
                assert _pairs(d) == want, (k, keep, dim)


def test_pq_encode_forms_equal_crossjoin_reference(spark, geometry):
    """PQ encode: expression form, numpy form and the crossJoin reference
    give equal codes AND recon_d2 on a tie-heavy codebook."""
    df, books = geometry
    corpus = df.select(F.col("_id").alias("vec_id"), F.col("_vec").alias("embedding"))
    ids, cmat = sim._collect_codebook(books[6])

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    want = rows(sim._pq_codes_crossjoin(corpus, books[6], 2, 4))
    assert len(want) == 120
    for numpy_form in (False, True):
        got = sim._pq_encode(
            corpus, ids, cmat, 2, 4, "vec_id", "embedding", numpy_form=numpy_form
        )
        assert rows(got) == want, numpy_form


def test_round6_rule_matches_numpy_and_duckdb_at_boundaries(spark):
    """On values within +-3 ulp of half-6dp boundaries the expression
    rule equals the numpy rule bit for bit, and both equal DuckDB's
    round(x, 6) — the catalog oracle's rounding."""
    duckdb = pytest.importorskip("duckdb")
    rng = np.random.default_rng(5)
    n = np.concatenate([np.arange(1000), rng.integers(0, 10**9, 2000)])
    cols = [(n + 0.5) / 1e6]
    up = down = cols[0]
    for _ in range(3):
        up, down = np.nextafter(up, np.inf), np.nextafter(down, 0.0)
        cols += [up, down]
    x = np.concatenate(cols)
    pdf = pd.DataFrame({"i": np.arange(len(x)), "x": x})
    expr = (
        spark.createDataFrame(pdf)
        .select("i", sim._round6(F.col("x")).alias("r"))
        .toPandas()
        .sort_values("i")["r"]
        .to_numpy()
    )
    rule = sim._round6_np(x)
    oracle = duckdb.sql("SELECT round(x, 6) AS r FROM pdf ORDER BY i").df()["r"]
    oracle = oracle.to_numpy()
    assert np.array_equal(expr.view(np.int64), rule.view(np.int64))
    assert np.array_equal(oracle.view(np.int64), rule.view(np.int64))


def test_zero_norm_centroid_raises_on_cosine(spark, geometry):
    """A zero-norm centroid has no cosine score: both forms raise naming
    its id instead of letting an argmax pick an inf/NaN score; l2 is
    defined for it."""
    df, _ = geometry
    ids, cmat = [4, 7, 9], [[1.0] * DIM, [0.0] * DIM, [2.0] * DIM]
    for numpy_form in (False, True):
        with pytest.raises(ValueError, match="centroid 7 has zero norm"):
            sim._nearest(
                df, "_id", "_vec", ids, cmat, "c", 1, "cosine",
                numpy_form=numpy_form,
            )
    got = sim._nearest(df, "_id", "_vec", ids, cmat, "c", 1, "l2", numpy_form=True)
    assert got.count() == 120


def test_null_element_raises_naming_its_id(spark):
    """A vector holding a NULL element has the codebook's width, and the
    two forms would score it differently (on ``[1.0, NULL]`` the expression
    form dropped the NULL costs and assigned 20, the numpy form read NaN and
    assigned 10); both forms of the probe and of the PQ encode raise naming
    its id instead."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (7, [1.0, None])], "_id long, _vec array<double>"
    )
    ids, cmat = [10, 20], [[0.0, 0.0], [3.0, 3.0]]
    for numpy_form in (False, True):
        for plan in (
            sim._nearest(df, "_id", "_vec", ids, cmat, "c", 1, "l2", numpy_form=numpy_form),
            sim._pq_encode(df, ids, cmat, 2, 1, "_id", "_vec", numpy_form=numpy_form),
        ):
            with pytest.raises(Exception, match="id 7 has a NULL element"):
                plan.collect()


def test_wrong_width_vector_raises_naming_its_id(spark, geometry):
    """A vector narrower than the codebook raises naming its id in both
    forms of the probe and of the PQ encode, instead of a zip_with NULL
    pad or an id-less numpy error; so does a ragged codebook."""
    df, books = geometry
    bad = df.union(_frame(spark, [4242], [[1.0] * (DIM - 1)], ("_id", "_vec")))
    ids, cmat = sim._collect_codebook(books[6])
    for numpy_form in (False, True):
        for plan in (
            sim._nearest(bad, "_id", "_vec", ids, cmat, "c", 2, numpy_form=numpy_form),
            sim._pq_encode(bad, ids, cmat, 2, 4, "_id", "_vec", numpy_form=numpy_form),
        ):
            with pytest.raises(Exception, match="id 4242 has a vector of width 7"):
                plan.collect()
    with pytest.raises(ValueError, match="centroid 9 has width 7"):
        sim._nearest(
            df, "_id", "_vec", [4, 9], [[1.0] * DIM, [1.0] * (DIM - 1)], "c",
            numpy_form=False,
        )
