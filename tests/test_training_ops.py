"""Unit tests for the beyond-reference training-data operators on small
in-memory fixtures with known answers (the sf0.01 DuckDB-oracle parity is
covered separately by tools/check_oracle.py)."""

import pytest
from pyspark.sql import functions as F

from open_bus_siri_etl_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from open_bus_siri_etl_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
)
from open_bus_siri_etl_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_ann_topk,
)
from open_bus_siri_etl_spark.operators.textstats import (
    with_fingerprint,
    with_language_id,
    with_quality_stats,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away home"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away now"
OTHER = "completely different content with nothing shared at all whatsoever here ok"


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)], "doc_id long, text string"
    )


def test_exact_dedup(spark, docs):
    groups = {r["canonical_doc_id"]: r["n_copies"] for r in exact_dedup_groups(docs).collect()}
    assert groups[1] == 2  # doc 4 is an exact copy of doc 1
    assert groups[2] == 1 and groups[3] == 1


def test_ngram_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0  # exact copy
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc matches nothing


def test_minhash_lsh(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert (1, 4) in pairs  # identical docs always collide in every band
    assert all(3 not in p for p in pairs)


def test_simhash(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(
            docs, max_hamming=10, allow_partial_recall=True
        ).collect()
    }
    assert pairs[(1, 4)] == 0  # identical → distance 0
    assert (1, 2) in pairs  # near dup within radius
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_rejects_unsound_radius(spark, docs):
    """max_hamming ≥ SIMHASH_CHUNKS breaks the pigeonhole completeness
    guarantee of chunk banding (a pair with one differing bit per chunk
    shares no chunk) — the library must refuse it rather than silently
    lose recall, unless the caller opts in."""
    import pytest

    from open_bus_siri_etl_spark.operators.dedup import SIMHASH_CHUNKS

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(docs, max_hamming=SIMHASH_CHUNKS)
    # the sound default and the explicit opt-in both construct a plan
    assert simhash_near_pairs(docs) is not None
    assert (
        simhash_near_pairs(docs, max_hamming=8, allow_partial_recall=True)
        is not None
    )


def test_cosine_topk(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),  # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.5, 0.5, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    res = cosine_topk(vecs, vecs.filter("vec_id = 0"), k=2).collect()
    ranked = sorted((r["rank"], r["neighbor_id"]) for r in res)
    assert ranked == [(1, 1), (2, 3)]


def test_lsh_ann_bucket_join(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    res = lsh_ann_topk(vecs, vecs.filter("vec_id < 2"), k=3, n_planes=2, dim=8)
    # ANN: results are a subset of the bucket — just schema + determinism
    a = sorted(map(tuple, res.collect()))
    b = sorted(map(tuple, res.collect()))
    assert a == b
    assert res.columns == ["query_id", "neighbor_id", "rank"]


def test_ivf_topk_matches_exact_when_probing_all_clusters(spark):
    # two tight clusters around orthogonal axes; centroids = vec_id 0 and 1
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.1, 0.9, 0.0]),
            (4, [0.8, 0.2, 0.0]),
            (5, [0.2, 0.8, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    queries = vecs.filter("vec_id >= 4")
    # n_probe = n_centroids ⇒ IVF degenerates to exact search
    exact = sorted(map(tuple, cosine_topk(vecs, queries, k=3).collect()))
    ivf_all = sorted(
        map(tuple, ivf_topk(vecs, queries, k=3, n_centroids=2, n_probe=2).collect())
    )
    assert ivf_all == exact
    # n_probe=1: query 4 (x-cluster) only sees x-cluster members {0, 2}
    one = ivf_topk(vecs, queries, k=3, n_centroids=2, n_probe=1)
    got = {r["neighbor_id"] for r in one.collect() if r["query_id"] == 4}
    assert got == {0, 2}


def test_quality_and_fingerprint_deterministic(spark, docs):
    q = with_quality_stats(docs).filter("doc_id = 1").collect()[0]
    assert q["n_tokens"] == 14
    assert q["n_stopwords"] == 3  # 'the' ×2 + 'and'
    assert q["n_chars_calc"] == len(BASE)
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(docs).collect()}
    assert fp[1] == fp[4] != fp[3]


def test_language_id(spark, docs):
    out = {r["doc_id"]: r["predicted_lang"] for r in with_language_id(docs).collect()}
    assert out[1] == "en"  # 'the','a','and','to' profile hits


def test_multimodal_features(spark, docs):
    media = documents_as_media(docs)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 4
    assert feats[1]["n_bytes"] == len(BASE.encode())
    assert feats[1]["checksum"] == feats[4]["checksum"]  # same content
    assert feats[1]["checksum"] != feats[3]["checksum"]
    assert feats[1]["format"] == "fake/blob"


def test_asof_join_semantics(spark):
    import datetime

    from open_bus_siri_etl_spark.operators.temporal import asof_join

    t0 = datetime.datetime(2024, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, 100, ts(10)), (2, 100, ts(5)), (3, 100, ts(0)), (4, 200, ts(10))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(50, 100, ts(5)), (51, 100, ts(8)), (52, 999, ts(0))],
        "event_id long, user_id long, ts timestamp",
    )
    out = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(left, right, on="user_id", right_cols=["event_id"]).collect()
    }
    assert out[1] == 51  # latest of the two prior rows
    assert out[2] == 50  # tie on ts: right row at ts==left.ts matches (>= semantics)
    assert out[3] is None  # nothing at or before
    assert out[4] is None  # key has no right rows at all


def test_range_join_bucketed_boundaries(spark):
    import datetime

    from open_bus_siri_etl_spark.operators.temporal import range_join_bucketed

    t0 = datetime.datetime(2024, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    # interval [0, 60); points at -1, 0, 59, 60 → start inclusive, end exclusive
    points = spark.createDataFrame(
        [(ts(-1),), (ts(0),), (ts(59),), (ts(60),)], "ts timestamp"
    )
    intervals = spark.createDataFrame(
        [(7, ts(0), ts(60))], "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    got = sorted(
        r["ts"] for r in range_join_bucketed(points, intervals, bucket_seconds=600).collect()
    )
    assert got == [ts(0), ts(59)]


def test_approx_count_distinct_error_bound(spark):
    """The 100 TB path for distinct counts: HLL++ within its configured rsd."""
    df = spark.range(0, 20000).select((F.col("id") % 5000).alias("user_id"))
    approx = df.agg(F.approx_count_distinct("user_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - 5000) / 5000 < 0.06  # 3×rsd safety margin


def test_blocked_cosine_pairs_matches_exact(spark):
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_near_pairs,
        cosine_near_pairs_blocked,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = sorted(map(tuple, cosine_near_pairs(emb, 0.4).collect()))
    blocked = sorted(map(tuple, cosine_near_pairs_blocked(emb, 0.4).collect()))
    assert exact == blocked and len(exact) > 0


def test_tiled_cosine_pairs_matches_exact(spark):
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_near_pairs,
        cosine_near_pairs_tiled,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = sorted(map(tuple, cosine_near_pairs(emb, 0.4).collect()))
    tiled = sorted(map(tuple, cosine_near_pairs_tiled(emb, 0.4, n_blocks=3).collect()))
    assert exact == tiled and len(exact) > 0


def test_minhash_delta_dedup_reuses_persisted_index(spark, warehouse):
    """The incremental path must (a) give exactly the cross-set subset of
    the batch pipeline's pairs and (b) work from a band-key index persisted
    to the warehouse — i.e. the history is NOT re-signed at probe time."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_delta_dedup,
        minhash_lsh_dedup,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    history = corpus.filter(F.col("doc_id") % 10 != 0)
    delta = corpus.filter(F.col("doc_id") % 10 == 0)

    # persist the index once, then dedup the delta READING it back
    warehouse.overwrite("minhash_bands", build_minhash_index(history))
    idx = warehouse.read("minhash_bands")
    inc = sorted(
        map(tuple, minhash_delta_dedup(history, delta, history_keys=idx).collect())
    )

    batch = minhash_lsh_dedup(corpus, threshold=0.5)
    cross = sorted(
        map(
            tuple,
            batch.filter(
                ((F.col("doc_a") % 10 == 0) != (F.col("doc_b") % 10 == 0))
            ).collect(),
        )
    )
    assert inc == cross and len(inc) > 0


def test_greedy_pack_respects_budget(spark):
    """Contract: every pack's token total ≤ budget unless it is a single
    oversized doc; every doc packed exactly once; packs are contiguous per
    stream.  concat_chunk offsets stay inside [0, budget)."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.packing import (
        concat_chunk_pack,
        greedy_pack,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budget = 256  # small budget → plenty of overflow resets on the fixture
    packed = greedy_pack(docs, budget=budget, n_streams=4)
    assert packed.count() == docs.count()  # every doc exactly once
    per_pack = (
        packed.groupBy("stream", "pack_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n"))
        .collect()
    )
    for r in per_pack:
        assert r["tot"] <= budget or r["n"] == 1, dict(r.asDict())
    # pack ids contiguous from 0 per stream
    for s in packed.select("stream").distinct().collect():
        ids = sorted(
            r["pack_id"]
            for r in packed.filter(F.col("stream") == s["stream"])
            .select("pack_id")
            .distinct()
            .collect()
        )
        assert ids == list(range(len(ids)))

    chunked = concat_chunk_pack(docs, budget=budget, n_streams=4)
    bad = chunked.filter(
        (F.col("offset_in_pack") < 0) | (F.col("offset_in_pack") >= budget)
    ).count()
    assert bad == 0 and chunked.count() == docs.count()


@pytest.mark.slow
def test_auto_cosine_pairs_dispatch(spark):
    """The size-based dispatcher must pick the broadcast kernel under the cap
    and the tiled kernel over it, with identical results either way."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_near_pairs,
        cosine_near_pairs_auto,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = sorted(map(tuple, cosine_near_pairs(emb, 0.4).collect()))

    # generous cap → blocked (broadcast) branch: plan contains no groupBy tiles
    blocked = cosine_near_pairs_auto(emb, 0.4, broadcast_cap_bytes=1 << 30)
    assert "FlatMapGroupsInPandas" not in blocked._jdf.queryExecution().toString()
    assert sorted(map(tuple, blocked.collect())) == exact

    # 1 KB cap → tiled branch (applyInPandas over block-pair groups)
    tiled = cosine_near_pairs_auto(emb, 0.4, broadcast_cap_bytes=1 << 10)
    assert "FlatMapGroupsInPandas" in tiled._jdf.queryExecution().toString()
    assert sorted(map(tuple, tiled.collect())) == exact


def test_multimodal_resize_and_frame_sample(spark, docs):
    from open_bus_siri_etl_spark.operators.multimodal import (
        documents_as_media,
        resize_images,
        sample_frames,
    )

    media = documents_as_media(docs)
    resized = resize_images(media, width=8, height=4).collect()
    assert len(resized) == 4
    assert all(len(bytes(r["content"])) == 32 for r in resized)
    assert resized[0]["meta"]["width"] == 8 and resized[0]["meta"]["height"] == 4

    frames = sample_frames(media, frame_bytes=16, every_n=2).collect()
    # doc 1's text is 67 bytes → 4 whole frames → indices 0, 2 sampled
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_doc[1]) == [0, 2]
    assert all(len(bytes(r["frame"])) == 16 for r in frames)


def test_global_row_number_matches_window(spark):
    from pyspark.sql import Window

    from open_bus_siri_etl_spark.operators.ranking import global_row_number

    od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").repartition(8)
    got = {
        r["o_orderkey"]: r["rn"]
        for r in global_row_number(
            od, ["o_totalprice", "o_orderkey"], num_partitions=8
        ).collect()
    }
    want = {
        r["o_orderkey"]: r["rn"]
        for r in od.select(
            "o_orderkey",
            F.row_number()
            .over(Window.orderBy("o_totalprice", "o_orderkey"))
            .alias("rn"),
        ).collect()
    }
    assert got == want


def test_distributed_ntile_matches_window(spark):
    from pyspark.sql import Window

    from open_bus_siri_etl_spark.operators.ranking import distributed_ntile

    od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").repartition(8)
    for k in (7, 10):  # 7 exercises the uneven-bucket remainder rule
        got = {
            r["o_orderkey"]: r["tile"]
            for r in distributed_ntile(
                od, ["o_totalprice", "o_orderkey"], k=k, num_partitions=8
            ).collect()
        }
        want = {
            r["o_orderkey"]: r["tile"]
            for r in od.select(
                "o_orderkey",
                F.ntile(k)
                .over(Window.orderBy("o_totalprice", "o_orderkey"))
                .alias("tile"),
            ).collect()
        }
        assert got == want, k


def test_global_row_number_avoids_single_partition(spark):
    from open_bus_siri_etl_spark.operators.ranking import global_row_number

    od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df = global_row_number(od, ["o_totalprice", "o_orderkey"])
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the whole point: the DATA moves through a balanced range exchange; the
    # only all-to-one exchange feeds the offsets window over the per-partition
    # counts — P rows regardless of data size
    assert "rangepartitioning" in plan
    assert plan.count("SinglePartition") == 1


@pytest.mark.slow
def test_distributed_ntile_edge_cases(spark):
    """k=1 (everything in tile 1), k=n (one row per tile), k>n (tile == rn,
    the q=0 branch must not divide by zero)."""
    from pyspark.sql import Window

    from open_bus_siri_etl_spark.operators.ranking import distributed_ntile

    df = spark.createDataFrame([(i, i * 7 % 23) for i in range(23)], "id long, v long")
    for k in (1, 23, 40):
        got = {
            r["id"]: r["tile"]
            for r in distributed_ntile(df, ["v", "id"], k=k, num_partitions=4).collect()
        }
        want = {
            r["id"]: r["tile"]
            for r in df.select(
                "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("tile")
            ).collect()
        }
        assert got == want, k


@pytest.mark.slow
def test_lsh_multi_table_recall_floor(spark):
    """Multi-table LSH must recover most of the exact top-10 (measured 0.90
    at 16 tables x 4 planes on the synthetic embeddings; floor 0.75), and
    must beat the single-table variant that motivated it (measured 0.15)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(20)
    exact = {}
    for r in cosine_topk(emb, q, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(n_tables):
        got = {}
        rows = lsh_ann_topk(
            emb, q, k=10, n_planes=4, dim=64, n_tables=n_tables
        ).collect()
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact
        ) / len(exact)

    multi = recall(16)
    single = recall(1)
    assert multi >= 0.75, multi
    assert multi > single + 0.3, (multi, single)


def test_read_media_dir_binary_file_source(spark, tmp_path):
    """binaryFile → MEDIA_SCHEMA → REAL feature extraction end-to-end
    (r14: the kernel routes recognized containers through the real
    codecs, so the fixture files are well-formed BMP/WAV blobs)."""
    from open_bus_siri_etl_spark.operators.multimodal import (
        extract_features,
        read_media_dir,
    )

    bmp = _tiny_bmp(5, 3)
    wav = _tiny_wav(8000, 4000)
    (tmp_path / "7.bmp").write_bytes(bmp)
    (tmp_path / "12.wav").write_bytes(wav)
    (tmp_path / "cover-art.bmp").write_bytes(_tiny_bmp(2, 2))

    media = read_media_dir(spark, str(tmp_path))
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[7]["meta"]["format"] == "file/bmp"
    assert rows[12]["meta"]["n_bytes"] == len(wav)
    assert bytes(rows[7]["content"]) == bmp
    # non-numeric stem gets a stable hashed id distinct from the numeric ones
    assert len(rows) == 3 and set(rows) - {7, 12} != set()

    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[7]["first_byte"] == ord("B")
    assert feats[7]["kind"] == "bmp"
    assert (feats[7]["width"], feats[7]["height"]) == (5, 3)
    assert feats[7]["mean_luma"] == 0.0  # all-zero pixels
    assert feats[12]["n_bytes"] == len(wav)
    assert feats[12]["kind"] == "wav"
    assert feats[12]["sample_rate"] == 8000
    assert feats[12]["duration_ms"] == 500
    assert feats[12]["rms"] == 0.0  # silent fixture

    only_wav = read_media_dir(spark, str(tmp_path), glob="*.wav").collect()
    assert len(only_wav) == 1 and only_wav[0]["media_id"] == 12


def test_global_row_number_on_skewed_keys(spark):
    """Heavily duplicated sort keys (90% one value) must still produce the
    exact permutation — the range partitioner may place all duplicates in
    few partitions, but the unique tiebreaker keeps the order total."""
    from pyspark.sql import Window

    from open_bus_siri_etl_spark.operators.ranking import global_row_number

    df = spark.createDataFrame(
        [(i, 0 if i % 10 else i) for i in range(2000)], "id long, v long"
    ).repartition(16)
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, ["v", "id"], num_partitions=8).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
        ).collect()
    }
    assert got == want


@pytest.mark.slow
def test_ivf_recall_rises_with_probes(spark):
    """IVF ANN quality evidence on the synthetic embeddings: recall@10 must
    rise monotonically-ish with n_probe and reach 1.0 when probing every
    cluster (IVF degenerates to exact search)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(15)
    exact = {}
    for r in cosine_topk(emb, q, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(n_probe):
        got = {}
        for r in ivf_topk(
            emb, q, k=10, n_centroids=8, n_probe=n_probe
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact
        ) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r8 == 1.0, r8          # all clusters probed == exact
    assert r1 <= r4 + 1e-9 <= r8 + 2e-9, (r1, r4, r8)
    assert r4 >= 0.4, r4          # half the clusters recovers a usable share


def test_connected_components_chains_and_merges(spark):
    """A 5-hop chain collapses to one component (multi-round propagation),
    two disjoint cliques stay separate, and a bridge pair merges them."""
    from open_bus_siri_etl_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(10, 15)]          # 10-11-...-15
    clique_a = [(1, 2), (2, 3), (1, 3)]
    clique_b = [(6, 7), (7, 8)]
    pairs = spark.createDataFrame(
        chain + clique_a + clique_b, "doc_a long, doc_b long"
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert all(comp[n] == 10 for n in range(10, 16))
    assert all(comp[n] == 1 for n in (1, 2, 3))
    assert all(comp[n] == 6 for n in (6, 7, 8))

    merged = spark.createDataFrame(
        chain + clique_a + clique_b + [(3, 6)], "doc_a long, doc_b long"
    )
    comp2 = {
        r["node"]: r["component"]
        for r in connected_components(merged).collect()
    }
    assert all(comp2[n] == 1 for n in (1, 2, 3, 6, 7, 8))


def test_kmeans_kernels_agree(spark):
    """The nearest-centroid kernel's numpy form and expression form
    implement one determinism contract (sequential dimension fold, one
    6dp rounding rule, first-min ties): identical assignments against the
    same trained centroids on the real embeddings table, at k on both
    sides of EXPR_KERNEL_MAX_K — so kmeans_assign's form switch can never
    change results, only plans."""
    from open_bus_siri_etl_spark.operators.clustering import (
        _train_centroids,
        _vectors,
        kmeans_assign,
    )
    from open_bus_siri_etl_spark.operators.similarity import _nearest

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    for k in (8, 32):
        vecd, init = _vectors(emb, k, "vec_id", "embedding")
        cents = _train_centroids(vecd, init, 2, "vec_id")
        expr, numpy = (
            sorted(map(tuple, _nearest(
                vecd, "vec_id", "v", list(range(k)), cents, "cluster",
                numpy_form=numpy_form, emit_vec=False,
            ).collect()))
            for numpy_form in (False, True)
        )
        assert expr == numpy, f"k={k}"
        assert sorted(map(tuple, kmeans_assign(emb, k=k).collect())) == expr


def test_misra_gries_candidates_capture_heavy_keys(spark):
    """MG guarantee end-to-end: every key with global count > N/capacity is
    in the candidate union, at any partitioning."""
    from open_bus_siri_etl_spark.operators.sketches import misra_gries_candidates

    # events.parquet carries TIMESTAMP(NANOS); read the raw int64 like
    # catalog.t() does (we only touch user_id here)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    n = ev.count()
    for parts in (1, 7):
        cands = {
            r["user_id"]
            for r in misra_gries_candidates(
                ev.repartition(parts).select("user_id"), "user_id", capacity=64
            ).collect()
        }
        heavy = {
            r["user_id"]
            for r in ev.groupBy("user_id")
            .count()
            .filter(F.col("count") * 64 > n)
            .collect()
        }
        assert heavy <= cands


def test_misra_gries_part_rows_and_nodistinct(spark):
    """r14 single-pass options: emit_part_rows reports the EXACT global N
    (sum of per-partition counts, NULL-key carrier rows) at any
    partitioning, and distinct=False still satisfies the no-false-negative
    guarantee (duplicates are inert in the semi-join consumer)."""
    from open_bus_siri_etl_spark.operators.sketches import misra_gries_candidates

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    n = ev.count()
    heavy = {
        r["user_id"]
        for r in ev.groupBy("user_id")
        .count()
        .filter(F.col("count") * 64 > n)
        .collect()
    }
    for parts in (1, 7):
        summary = misra_gries_candidates(
            ev.repartition(parts).select("user_id"),
            "user_id",
            capacity=64,
            distinct=False,
            emit_part_rows=True,
        ).collect()
        assert sum(r["_part_rows"] for r in summary) == n
        cands = {r["user_id"] for r in summary if r["user_id"] is not None}
        assert heavy <= cands
        # carrier rows are NULL-keyed and one per non-empty partition
        carriers = [r for r in summary if r["_part_rows"] > 0]
        assert all(r["user_id"] is None for r in carriers)
        assert len(carriers) <= parts


def test_fuzzy_join_dist1_matches_brute_force(spark):
    """Deletion-neighborhood blocking must return exactly the lev<=1 pairs
    a brute-force cross join finds (the catalog oracle's contract)."""
    from open_bus_siri_etl_spark.operators.fuzzy import fuzzy_join_dist1

    left = spark.createDataFrame(
        [(1, "abc"), (2, "hello"), (3, "spark"), (4, "x")], "lid long, lkey string"
    )
    right = spark.createDataFrame(
        [
            (10, "abc"),    # exact
            (11, "abd"),    # substitution
            (12, "ab"),     # deletion
            (13, "abcd"),   # insertion
            (14, "xyz"),    # dist 2 from x, 3 from abc
            (15, "helo"),   # deletion from hello
            (16, "sparks"), # insertion
            (17, ""),       # dist 1 from "x"
        ],
        "rid long, rkey string",
    )
    got = {
        (r["lid"], r["rid"])
        for r in fuzzy_join_dist1(left, right, "lkey", "rkey").collect()
    }
    brute = {
        (lr["lid"], rr["rid"])
        for lr in left.collect()
        for rr in right.collect()
        if _lev(lr["lkey"], rr["rkey"]) <= 1
    }
    assert got == brute
    assert (1, 10) in got and (1, 11) in got and (1, 12) in got and (1, 13) in got
    assert (1, 14) not in got


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_scrub_pii_redacts_and_counts(spark):
    from open_bus_siri_etl_spark.operators.textstats import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@test-x.org or +1-555-0199 thanks"),
            (2, "no pii here"),
            (3, "two mails x@y.io and z@w.co plus +1-555-1234"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_phones"] == 1
    assert rows[1]["scrubbed"] == "mail me at <EMAIL> or <PHONE> thanks"
    assert rows[2]["n_emails"] == 0 and rows[2]["scrubbed"] == "no pii here"
    assert rows[3]["n_emails"] == 2 and rows[3]["n_phones"] == 1
    assert "@" not in rows[3]["scrubbed"]


def test_bm25_rank_orders_by_relevance(spark):
    from open_bus_siri_etl_spark.operators.textstats import bm25_rank

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark join"),          # most relevant
            (2, "spark join and some other words here to pad the length"),
            (3, "completely unrelated text about nothing"),
            (4, "join join window window spark"),
        ],
        "doc_id long, text string",
    )
    ranked = bm25_rank(docs, ["spark", "join", "window"], top_k=4).collect()
    assert [r["doc_id"] for r in ranked][:1] in ([1], [4])  # term-dense docs lead
    scores = {r["doc_id"]: r["score"] for r in ranked}
    assert scores[3] == min(scores.values())
    assert all(s >= 0 for s in scores.values())


def test_inverted_index_counts(spark):
    from open_bus_siri_etl_spark.operators.textstats import inverted_index

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a")], "doc_id long, text string"
    )
    idx = {r["term"]: r for r in inverted_index(docs).collect()}
    assert idx["a"]["df"] == 2 and idx["a"]["total_tf"] == 3
    assert idx["b"]["df"] == 2 and idx["b"]["total_tf"] == 2
    assert idx["c"]["df"] == 1 and idx["c"]["total_tf"] == 1
    assert idx["a"]["first_doc"] == 1 and idx["a"]["last_doc"] == 3


def test_unigram_surprisal_flags_rare_tokens(spark):
    from open_bus_siri_etl_spark.operators.textstats import unigram_surprisal

    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common common zzzrare"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    assert rows[1]["n_toks"] == 4 and rows[2]["n_toks"] == 4
    # per-token average: the rare-token doc is more surprising (lower logprob)
    assert rows[2]["lp_micro_sum"] < rows[1]["lp_micro_sum"]
    # sanity: all logprobs negative
    assert rows[1]["lp_micro_sum"] < 0


def test_lsh_candidate_pairs_matches_numpy_reimplementation(spark):
    """The deterministic candidate stage must agree EXACTLY with an
    independent integer reimplementation (numpy int64): same quantization,
    same md5-derived planes, same buckets, same pair set — the property
    that makes the stage oracle-able in any engine."""
    import numpy as np

    from open_bus_siri_etl_spark.operators.similarity import (
        lsh_candidate_pairs,
        lsh_quantized_planes,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .limit(80)
    )
    got = {
        (r.vec_a, r.vec_b): r.n_tables
        for r in lsh_candidate_pairs(emb, n_planes=6, n_tables=3).collect()
    }

    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy()
    v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    qv = np.floor(v * 1000.0).astype(np.int64)
    planes = lsh_quantized_planes(n_planes=6, n_tables=3, dim=v.shape[1])
    expected: dict[tuple[int, int], int] = {}
    for t in range(3):
        w = np.array([planes[(t, p)] for p in range(6)], dtype=np.int64)  # (P, dim)
        dots = qv @ w.T  # (n, P) exact int64
        buckets = ((dots > 0) @ (1 << np.arange(6))).astype(int)
        for bucket in np.unique(buckets):
            members = np.sort(ids[buckets == bucket])
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    key = (members[i], members[j])
                    expected[key] = expected.get(key, 0) + 1
    assert got == expected
    assert all(1 <= n <= 3 for n in got.values())


def test_lsh_candidate_pairs_no_cartesian(spark):
    from open_bus_siri_etl_spark.operators.similarity import lsh_candidate_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = lsh_candidate_pairs(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ann_recall_exact_vs_itself_is_one(spark):
    """Closed form: recall of the exact list against itself is 1.0 for
    every query; and the IVF list's recall is within [0, 1]."""
    from open_bus_siri_etl_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").between(8, 15))
    exact = cosine_topk(emb, qs, k=5)
    self_recall = ann_recall(exact, exact, k=5).collect()
    assert len(self_recall) == 8
    assert all(r.recall == 1.0 and r.n_hits == 5 for r in self_recall)

    approx = ivf_topk(emb, qs, k=5, n_centroids=8, n_probe=2)
    rows = ann_recall(exact, approx, k=5).collect()
    assert len(rows) == 8
    assert all(0.0 <= r.recall <= 1.0 for r in rows)


def test_semantic_dedup_pairs_within_cluster_only(spark):
    """Every reported pair must be co-clustered, and each pair's cosine
    must match the global near-pair list (the cluster restriction changes
    RECALL, never the score)."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_near_pairs,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sem = semantic_dedup_pairs(emb, n_centroids=8, threshold=0.4).collect()
    full = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_near_pairs(emb, threshold=0.4).collect()
    }
    assert sem, "synthetic embeddings contain near pairs"
    for r in sem:
        assert (r.vec_a, r.vec_b) in full  # subset of the exact pair list
        assert r.cosine == full[(r.vec_a, r.vec_b)]


def test_kmv_small_set_returns_exact_size(spark):
    """Standard KMV small-set rule: fewer than k retained hashes means
    the sketch holds the WHOLE set, so the exact size is the estimate
    (the ratio formula would overshoot wildly)."""
    from open_bus_siri_etl_spark.operators.sketches import kmv_estimate

    df = spark.createDataFrame([(i % 5,) for i in range(50)], "user_id long")
    row = kmv_estimate(df, "user_id", k=64).collect()[0]
    assert row.est_distinct == 5.0


def test_lsh_candidate_pairs_rejects_dim_mismatch(spark):
    """A wrong dim must raise, not silently bucket everything to 0 and
    degenerate the pruning join to all-pairs.  The guard is IN-PLAN (a
    raise_error branch fused into the quantization expression — plan
    construction launches no jobs), so the failure surfaces on the first
    action rather than at build time."""
    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.similarity import lsh_candidate_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(Exception, match="quantized LSH bucketing"):
        lsh_candidate_pairs(emb, dim=128).count()


def test_windowed_dedup_closed_form(spark):
    """Burst semantics: a repeat INSIDE the window extends the suppression
    (t=0 keep, t=30m drop, t=70m drop — only 40m after the last event),
    while a quiet gap over the window re-admits the key."""
    import datetime

    from open_bus_siri_etl_spark.operators.dedup import windowed_dedup

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    rows = [
        (1, 7, "click", ts(0)),     # keep: first of key
        (2, 7, "click", ts(30)),    # drop: 30m < 60m
        (3, 7, "click", ts(70)),    # drop: 40m since event 2
        (4, 7, "click", ts(140)),   # keep: 70m quiet since event 3
        (5, 7, "view", ts(1)),      # keep: different key
        (6, 8, "click", ts(2)),     # keep: different key
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    kept = sorted(
        r.event_id
        for r in windowed_dedup(
            df, key_cols=["user_id", "event_type"], min_gap_sec=3600
        ).collect()
    )
    assert kept == [1, 4, 5, 6]


@pytest.mark.slow
def test_windowed_dedup_property_matches_python_fold(spark):
    """Property: on ANY event multiset, windowed_dedup keeps exactly the
    rows a sequential per-key fold keeps (first of each burst, repeats
    extend the window).  One Spark round-trip over many generated cases —
    hypothesis drives the CASE LIST, Spark runs once per example set."""
    import datetime

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from open_bus_siri_etl_spark.operators.dedup import windowed_dedup

    base = datetime.datetime(2024, 1, 1)
    gap = 600  # seconds

    events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.sampled_from(["a", "b"]),                # type
            st.integers(min_value=0, max_value=3600),   # offset sec
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(events)
    def check(evs):
        rows = [
            (i, u, t, base + datetime.timedelta(seconds=off))
            for i, (u, t, off) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )
        got = sorted(
            r.event_id
            for r in windowed_dedup(
                df, key_cols=["user_id", "event_type"], min_gap_sec=gap
            ).collect()
        )
        # reference fold: per key in (ts, event_id) order, keep iff gap to
        # the IMMEDIATELY PREVIOUS same-key event exceeds the window
        want = []
        bykey = {}
        for i, u, t, ts in sorted(rows, key=lambda r: (r[3], r[0])):
            prev = bykey.get((u, t))
            if prev is None or (ts - prev).total_seconds() > gap:
                want.append(i)
            bykey[(u, t)] = ts
        assert got == sorted(want)

    check()


def test_cosine_delta_pairs_composes_to_full_scan(spark):
    """Incremental invariant: old-corpus pairs + delta-involving pairs ==
    the full-corpus pair set — i.e. per-ingest scoring misses nothing and
    double-counts nothing."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs,
        cosine_near_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")

    full = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_near_pairs(emb, threshold=0.4).collect()
    }
    old = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_near_pairs(corpus, threshold=0.4).collect()
    }
    inc = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_delta_pairs(corpus, delta, threshold=0.4).collect()
    }
    assert not (old.keys() & inc.keys())  # disjoint by construction
    assert {**old, **inc} == full


@pytest.mark.slow
def test_cosine_delta_pairs_interleaved_ids(spark):
    """The delta need not carry the highest ids (backfill ingest): a corpus
    id greater than a delta id must still pair, oriented (least, greatest).
    Regression for the vec_a<vec_b filter that silently dropped these."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs,
        cosine_near_pairs,
    )

    rows = [
        (10, [1.0, 0.0, 0.0]),
        (500, [0.99, 0.01, 0.0]),   # corpus id ABOVE the delta id
        (100, [0.98, 0.02, 0.0]),   # delta (backfilled, mid-range id)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = df.filter("vec_id != 100")
    delta = df.filter("vec_id = 100")
    full = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_near_pairs(df, threshold=0.9).collect()
    }
    old = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_near_pairs(corpus, threshold=0.9).collect()
    }
    inc = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_delta_pairs(corpus, delta, threshold=0.9).collect()
    }
    assert (100, 500) in inc  # the previously-dropped orientation
    assert {**old, **inc} == full


def test_cosine_delta_pairs_overlap_raises(spark):
    """The corpus∩delta=∅ precondition is ENFORCED in-plan: an id present
    in both sides fails the job loudly instead of silently double-scoring
    its pairs once per union arm (round-6 verdict hardening #1)."""
    from open_bus_siri_etl_spark.operators.similarity import cosine_delta_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # vec_id 450 lands in BOTH arms
    # AQE may wrap the task failure (STAGE_MATERIALIZATION_MULTIPLE_FAILURES)
    # so match the message, not the wrapper class
    with pytest.raises(Exception, match="BOTH corpus and delta"):
        cosine_delta_pairs(
            emb.filter("vec_id <= 450"), emb.filter("vec_id >= 450")
        ).count()


def test_cosine_delta_pairs_lsh_subset_of_exact(spark):
    """The bucketed delta path returns a SUBSET of the exact delta pairs
    (LSH may miss a pair sharing no bucket, never invents one), with
    identical cosines on the pairs it finds, and the same in-plan
    disjointness guard."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs,
        cosine_delta_pairs_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_delta_pairs(corpus, delta, threshold=0.4).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in cosine_delta_pairs_lsh(corpus, delta, threshold=0.4).collect()
    }
    assert lsh  # non-trivial on this data
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())
    # AQE may wrap the task failure (STAGE_MATERIALIZATION_MULTIPLE_FAILURES)
    # so match the message, not the wrapper class
    with pytest.raises(Exception, match="BOTH corpus and delta"):
        cosine_delta_pairs_lsh(
            emb.filter("vec_id <= 450"), delta
        ).count()


def test_cosine_delta_pairs_lsh_more_tables_more_recall(spark):
    """Recall is monotone in the number of hash tables: every pair found
    by tables 0..T-1 is found by tables 0..T (the plane family is keyed by
    (t, p), so smaller T is a prefix of larger T)."""
    from open_bus_siri_etl_spark.operators.similarity import cosine_delta_pairs_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")
    few = {
        (r.vec_a, r.vec_b)
        for r in cosine_delta_pairs_lsh(
            corpus, delta, threshold=0.4, n_tables=2
        ).collect()
    }
    many = {
        (r.vec_a, r.vec_b)
        for r in cosine_delta_pairs_lsh(
            corpus, delta, threshold=0.4, n_tables=8
        ).collect()
    }
    assert few <= many


def test_cosine_delta_pairs_lsh_persisted_index(spark, tmp_path):
    """The persisted-index path (lsh_bucket_index written to parquet, read
    back, fed via corpus_index=) returns EXACTLY the inline result — the
    per-ingest shape where corpus vectors are never re-projected."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs_lsh,
        lsh_bucket_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")
    inline = sorted(
        map(tuple, cosine_delta_pairs_lsh(corpus, delta, threshold=0.4).collect())
    )
    idx_path = str(tmp_path / "lsh_index")
    lsh_bucket_index(corpus).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    via_index = sorted(
        map(
            tuple,
            cosine_delta_pairs_lsh(
                corpus, delta, threshold=0.4, corpus_index=idx
            ).collect(),
        )
    )
    assert inline == via_index and inline


def test_delta_lsh_index_params_mismatch_raises(spark):
    """An index built under one (planes, tables, quant, dim) family probed
    with different call parameters would silently produce a different
    bucket space (recall collapse, no error) — the persisted ``params``
    tag is checked IN-PLAN and fails the job loudly instead (round-7
    advisory)."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs_lsh,
        lsh_bucket_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")
    idx = lsh_bucket_index(corpus, n_planes=4, n_tables=8)
    with pytest.raises(Exception, match="built with params"):
        cosine_delta_pairs_lsh(
            corpus, delta, threshold=0.4, n_planes=6, corpus_index=idx
        ).count()
    # pre-round-8 index format (no nrm/params) is rejected at plan build
    with pytest.raises(ValueError, match="rebuild"):
        cosine_delta_pairs_lsh(
            corpus, delta, corpus_index=idx.drop("params")
        )


def test_delta_lsh_orphan_index_id_raises(spark):
    """An index id with no vector in the passed corpus frame
    (stale/superset index) used to be silently dropped by the inner verify
    join; now the verify is a guarded left join that fails the job
    (round-7 advisory)."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs_lsh,
        lsh_bucket_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    delta = emb.filter("vec_id >= 450")
    idx = lsh_bucket_index(emb.filter("vec_id < 450"))
    with pytest.raises(Exception, match="no vector in the corpus frame"):
        cosine_delta_pairs_lsh(
            emb.filter("vec_id < 300"), delta, threshold=0.4, corpus_index=idx
        ).count()


def test_delta_pairs_null_id_raises(spark):
    """A NULL id never matches an equality join, so it would escape the
    disjointness guard AND the verify joins — quiet pair loss.  Both delta
    operators reject NULL ids in-plan on either side (round-7 advisory)."""
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs,
        cosine_delta_pairs_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")
    nulled = corpus.selectExpr(
        "CASE WHEN vec_id = 10 THEN NULL ELSE vec_id END AS vec_id", "embedding"
    )
    for fn in (cosine_delta_pairs, cosine_delta_pairs_lsh):
        with pytest.raises(Exception, match="NULL vec_id in corpus"):
            fn(nulled, delta, threshold=0.4).count()
    null_delta = delta.selectExpr(
        "CASE WHEN vec_id = 460 THEN NULL ELSE vec_id END AS vec_id", "embedding"
    )
    with pytest.raises(Exception, match="NULL vec_id in delta"):
        cosine_delta_pairs_lsh(corpus, null_delta, threshold=0.4).count()


def test_asof_join_tolerance_param(spark):
    """tolerance_sec= on the production operator (round-8 promotion from
    the catalog layer): a carried match older than the window yields NULLs
    exactly as if no right row preceded; ties (age 0) and in-window
    matches are unaffected."""
    import datetime

    from open_bus_siri_etl_spark.operators.temporal import asof_join

    t0 = datetime.datetime(2024, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, 100, ts(10)), (2, 100, ts(5)), (3, 100, ts(60)), (4, 200, ts(10))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(50, 100, ts(5)), (51, 100, ts(8))],
        "event_id long, user_id long, ts timestamp",
    )
    out = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["event_id"],
            tolerance_sec=600,
        ).collect()
    }
    assert out[1] == 51  # 2 min old, within 10-min window
    assert out[2] == 50  # tie on ts, age 0
    assert out[3] is None  # latest prior is 52 min old — outside the window
    assert out[4] is None  # key has no right rows at all
    # the boundary is inclusive: age == tolerance_sec still matches
    edge = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["event_id"],
            tolerance_sec=(60 - 8) * 60,
        ).collect()
    }
    assert edge[3] == 51


def _tiny_bmp(width: int, height: int) -> bytes:
    """Minimal well-formed 24-bit BMP: 14-byte file header + 40-byte
    BITMAPINFOHEADER + padded pixel rows."""
    import struct

    row = (width * 3 + 3) & ~3
    pixels = b"\x00" * (row * abs(height))
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


def _tiny_wav(sample_rate: int, n_samples: int, n_channels: int = 1) -> bytes:
    """Minimal PCM16 WAV: RIFF header + fmt + data chunks."""
    import struct

    data = b"\x00" * (n_samples * n_channels * 2)
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * n_channels * 2, n_channels * 2, 16,
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )


def test_multimodal_real_codecs(spark):
    """Round-8 directive: REAL bytes through the Arrow mapInPandas
    plumbing — BMP width/height and WAV rate/duration decoded from actual
    container headers (stdlib struct), unknown formats still loud-fail."""
    from open_bus_siri_etl_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        extract_media_meta,
    )

    # pure-python decoders against constructed fixtures
    assert decode_bmp(_tiny_bmp(17, 9)) == {"kind": "bmp", "width": 17, "height": 9}
    assert decode_bmp(_tiny_bmp(4, -6))["height"] == 6  # top-down BMP
    wav = decode_wav(_tiny_wav(8000, 12000, n_channels=2))
    assert wav["sample_rate"] == 8000
    assert wav["n_samples"] == 12000
    assert wav["n_channels"] == 2
    assert wav["duration_ms"] == 1500

    # end-to-end through the Spark plumbing
    rows = [
        (1, _tiny_bmp(32, 8), {"format": "file/bmp", "n_bytes": 0}),
        (2, _tiny_wav(16000, 16000), {"format": "file/wav", "n_bytes": 0}),
    ]
    from open_bus_siri_etl_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r.asDict() for r in extract_media_meta(media).collect()}
    assert out[1]["kind"] == "bmp" and out[1]["width"] == 32 and out[1]["height"] == 8
    assert out[1]["sample_rate"] is None
    assert out[2]["kind"] == "wav" and out[2]["sample_rate"] == 16000
    assert out[2]["duration_ms"] == 1000 and out[2]["width"] is None

    # unknown container: the task fails loudly (stub contract preserved)
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(3, b"\x89PNG\r\n", {"format": "file/png", "n_bytes": 6})], MEDIA_SCHEMA
    )
    with _pytest.raises(Exception, match="no codec"):
        extract_media_meta(bad).collect()


def _tiny_png(
    width: int, height: int, nch: int, pixels: bytes, filters: list[int]
) -> bytes:
    """Well-formed PNG built by hand: IHDR + one IDAT + IEND with real
    CRCs, scanlines FORWARD-filtered per ``filters`` (so the decoder
    must invert each recurrence to recover ``pixels``)."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    stride = width * nch

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        f = filters[y]
        enc = bytearray(line)
        if f == 1:
            for i in range(stride - 1, nch - 1, -1):
                enc[i] = (enc[i] - line[i - nch]) & 0xFF
        elif f == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                left = line[i - nch] if i >= nch else 0
                enc[i] = (enc[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                b = prev[i]
                c = prev[i - nch] if i >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_golden_pixels_all_filters():
    """decode_png recovers the exact pixel bytes through every filter
    type (None/Sub/Up/Average/Paeth, one per scanline) — the defilter
    recurrences pinned against a hand-encoded golden image."""
    from open_bus_siri_etl_spark.operators.multimodal import decode_png

    w, h, nch = 4, 5, 3
    pixels = bytes((y * 37 + x * 11 + c * 5) & 0xFF
                   for y in range(h) for x in range(w) for c in range(nch))
    blob = _tiny_png(w, h, nch, pixels, filters=[0, 1, 2, 3, 4])
    out = decode_png(blob)
    assert (out["width"], out["height"], out["n_channels"]) == (w, h, nch)
    assert out["pixels"] == pixels
    # grayscale+alpha variant, Paeth everywhere
    pixels2 = bytes((y * 3 + x * 7) & 0xFF
                    for y in range(3) for x in range(6) for _ in range(2))
    out2 = decode_png(_tiny_png(6, 3, 2, pixels2, filters=[4, 4, 4]))
    assert out2["pixels"] == pixels2 and out2["n_channels"] == 2


def test_png_decode_loud_failures():
    """CRC corruption, Adam7 interlace, and truncation all fail
    loudly — never a fabricated pixel buffer."""
    import pytest

    from open_bus_siri_etl_spark.operators.multimodal import decode_png

    blob = bytearray(_tiny_png(2, 2, 3, bytes(12), filters=[0, 0]))
    blob[20] ^= 0xFF  # flip an IHDR byte under its CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))
    # Adam7 DECODES since round 14 (golden test below); an interlace
    # method the spec doesn't define stays a loud ValueError
    import struct
    import zlib as _z

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2)
    bad_il = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="interlace"):
        decode_png(bad_il)
    # an IHDR whose declared length is not 13 hits the ValueError
    # contract, not struct.error (r13 ADVICE)
    ihdr12 = struct.pack(">IIBBBB", 2, 2, 8, 2, 0, 0)
    short_ihdr = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr12)) + b"IHDR" + ihdr12
        + struct.pack(">I", _z.crc32(b"IHDR" + ihdr12) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="13"):
        decode_png(short_ihdr)
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_png(_tiny_png(2, 2, 3, bytes(12), filters=[0, 0])[:30])


def test_png_through_media_meta_plumbing(spark):
    """extract_media_meta dispatches PNG next to BMP/WAV: dimensions and
    channel count land in the typed row, audio fields stay NULL."""
    from open_bus_siri_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_meta,
    )

    blob = _tiny_png(9, 4, 4, bytes(9 * 4 * 4), filters=[0, 1, 2, 4])
    media = spark.createDataFrame(
        [(7, blob, {"format": "file/png", "n_bytes": len(blob)})],
        MEDIA_SCHEMA,
    )
    row = extract_media_meta(media).collect()[0]
    assert row["kind"] == "png"
    assert (row["width"], row["height"], row["n_channels"]) == (9, 4, 4)
    assert row["sample_rate"] is None and row["duration_ms"] is None


def _png_blob(
    width: int,
    height: int,
    depth: int,
    color: int,
    rows: list[bytes],
    filters: list[int],
    plte: bytes | None = None,
    trns: bytes | None = None,
) -> bytes:
    """Generic hand-built PNG: pre-packed coded scanlines (``rows``, each
    exactly one stride of raw sample bytes) are FORWARD-filtered with the
    byte-aligned bpp the spec prescribes, so the decoder must invert the
    recurrences at the right left-neighbor offset for every depth."""
    import struct
    import zlib

    spp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    stride = (width * spp * depth + 7) // 8
    bpp = max(1, (spp * depth) // 8)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytes(stride)
    for line, f in zip(rows, filters):
        assert len(line) == stride
        enc = bytearray(line)
        if f == 1:
            for i in range(stride - 1, bpp - 1, -1):
                enc[i] = (enc[i] - line[i - bpp]) & 0xFF
        elif f == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                enc[i] = (enc[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color, 0, 0, 0)
    blob = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        blob += chunk(b"PLTE", plte)
    if trns is not None:
        blob += chunk(b"tRNS", trns)
    return blob + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_palette_decode_golden():
    """PLTE expansion golden-pixel: 8-bit palette indices through every
    filter type expand to the exact RGB triples, tRNS upgrades the output
    to RGBA with spec defaulting (entries past tRNS's end are opaque),
    and an out-of-range index fails loudly."""
    import pytest

    from open_bus_siri_etl_spark.operators.multimodal import decode_png

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 17, 34, 51])  # 4 entries
    w, h = 5, 4
    idx_rows = [bytes((x + y) % 4 for x in range(w)) for y in range(h)]
    out = decode_png(_png_blob(w, h, 8, 3, idx_rows, [0, 1, 2, 4], plte=plte))
    assert (out["width"], out["height"], out["n_channels"]) == (w, h, 3)
    assert out["bit_depth"] == 8
    expected = b"".join(
        plte[i * 3 : i * 3 + 3] for row in idx_rows for i in row
    )
    assert out["pixels"] == expected
    # tRNS alpha: entry 0 translucent, 1 opaque-by-value, 2/3 default 255
    out2 = decode_png(
        _png_blob(w, h, 8, 3, idx_rows, [0, 3, 1, 2], plte=plte, trns=bytes([7, 255]))
    )
    assert out2["n_channels"] == 4
    alphas = {7: 0, 255: 1}
    expected2 = b"".join(
        plte[i * 3 : i * 3 + 3] + bytes([7 if i == 0 else 255])
        for row in idx_rows
        for i in row
    )
    assert out2["pixels"] == expected2 and alphas
    # palette index outside PLTE: loud ValueError, no fabricated pixels
    bad_rows = [bytes([0, 1, 2, 3, 9]) for _ in range(h)]
    with pytest.raises(ValueError, match="palette index"):
        decode_png(_png_blob(w, h, 8, 3, bad_rows, [0, 0, 0, 0], plte=plte))
    # PLTE missing entirely
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(_png_blob(w, h, 8, 3, idx_rows, [0, 0, 0, 0]))


def test_png_palette_subbyte_depths():
    """1/2/4-bit palette rows pack indices MSB-first with zero padding at
    the row tail (the spec's packing) — the decoder unpacks exactly w
    indices per row at every sub-byte depth."""
    from open_bus_siri_etl_spark.operators.multimodal import decode_png

    plte = bytes([10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42])

    def pack_row(indices: list[int], depth: int) -> bytes:
        per = 8 // depth
        row = bytearray((len(indices) + per - 1) // per)
        for x, i in enumerate(indices):
            row[x // per] |= i << (8 - depth * (x % per + 1))
        return bytes(row)

    for depth, w in [(1, 11), (2, 7), (4, 5)]:
        h = 3
        idx = [[(x + y) % min(1 << depth, 4) for x in range(w)] for y in range(h)]
        rows = [pack_row(r, depth) for r in idx]
        out = decode_png(_png_blob(w, h, depth, 3, rows, [0, 1, 2], plte=plte))
        assert (out["width"], out["height"], out["n_channels"]) == (w, h, 3)
        expected = b"".join(
            plte[i * 3 : i * 3 + 3] for r in idx for i in r
        )
        assert out["pixels"] == expected, f"depth {depth}"


def test_png_16bit_decode_golden():
    """16-bit RGB and grayscale round-trip: the defilter left-neighbor
    offset is bpp BYTES (6 for RGB16, 2 for gray16), pixels come back as
    big-endian 2-byte samples, bit_depth reports 16."""
    import struct

    from open_bus_siri_etl_spark.operators.multimodal import decode_png

    w, h = 3, 4
    samples = [
        [((y * 7 + x * 3 + c) * 4099) & 0xFFFF for x in range(w) for c in range(3)]
        for y in range(h)
    ]
    rows = [struct.pack(f">{w * 3}H", *r) for r in samples]
    out = decode_png(_png_blob(w, h, 16, 2, rows, [0, 1, 2, 4]))
    assert (out["n_channels"], out["bit_depth"]) == (3, 16)
    assert out["pixels"] == b"".join(rows)
    gray = [struct.pack(f">{w}H", *[(y * 60000 + x) & 0xFFFF for x in range(w)])
            for y in range(h)]
    out_g = decode_png(_png_blob(w, h, 16, 0, gray, [4, 3, 2, 1]))
    assert (out_g["n_channels"], out_g["bit_depth"]) == (1, 16)
    assert out_g["pixels"] == b"".join(gray)


def test_png_inflate_is_bounded():
    """A zlib bomb in IDAT (deflate stream inflating far past the payload
    IHDR implies) fails loudly WITHOUT materializing the bomb, and an
    IHDR declaring a pixel buffer over the decode cap is rejected before
    any allocation."""
    import struct
    import zlib

    import pytest

    from open_bus_siri_etl_spark.operators.multimodal import decode_png

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # 2x2 RGB declares 2*(1+6)=14 payload bytes; IDAT inflates to 64 MiB
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(64 * 1024 * 1024)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceeds|bomb"):
        decode_png(bomb)
    # IHDR-declared geometry over the cap: rejected before inflate
    huge = struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 6, 0, 0, 0)
    capped = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", huge)
        + chunk(b"IDAT", zlib.compress(b"\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="decode cap"):
        decode_png(capped)


def test_png_header_meta_skips_pixel_work():
    """png_header_meta returns the same (kind, width, height, n_channels)
    as the full decode for every supported variant — from the IHDR alone.
    Proof it never inflates: a blob whose IDAT is corrupt (full decode
    raises) still yields metadata."""
    import pytest

    from open_bus_siri_etl_spark.operators.multimodal import (
        decode_png,
        png_header_meta,
    )

    plte = bytes([1, 2, 3, 4, 5, 6])
    variants = [
        _tiny_png(4, 5, 3, bytes(60), filters=[0, 1, 2, 3, 4]),
        _png_blob(5, 4, 8, 3, [bytes(5)] * 4, [0] * 4, plte=plte),
        _png_blob(
            5, 4, 8, 3, [bytes(5)] * 4, [0] * 4, plte=plte, trns=bytes([9])
        ),
        _png_blob(3, 2, 16, 2, [bytes(18)] * 2, [0, 0]),  # 16-bit RGB
    ]
    for blob in variants:
        full, hdr = decode_png(blob), png_header_meta(blob)
        for k in ("kind", "width", "height", "n_channels", "bit_depth"):
            assert hdr[k] == full.get(k, 8), k
    corrupt = bytearray(variants[0])
    corrupt[-20] ^= 0xFF  # scramble inside IDAT (under its CRC)
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))
    assert png_header_meta(bytes(corrupt))["width"] == 4


_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _png_adam7(width: int, height: int, depth: int, color: int,
               samples: list[int], plte: bytes | None = None) -> bytes:
    """Hand-interlaced PNG: ``samples`` is the full image's per-SAMPLE
    value list in row-major order (one int per sample at any depth);
    each Adam7 pass extracts its pixels, packs them at ``depth`` bits
    MSB-first, and codes them as its own filtered sub-image (filter 0 —
    the defilter recurrences have their own goldens)."""
    import struct
    import zlib

    spp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def pack(vals: list[int]) -> bytes:
        if depth == 16:
            return b"".join(struct.pack(">H", v) for v in vals)
        if depth == 8:
            return bytes(vals)
        out, acc, nb = bytearray(), 0, 0
        for v in vals:
            acc = (acc << depth) | (v & ((1 << depth) - 1))
            nb += depth
            if nb == 8:
                out.append(acc)
                acc, nb = 0, 0
        if nb:
            out.append(acc << (8 - nb))
        return bytes(out)

    raw = b""
    for x0, y0, xs, ys in _ADAM7:
        pw = (width - x0 + xs - 1) // xs if width > x0 else 0
        ph = (height - y0 + ys - 1) // ys if height > y0 else 0
        if pw <= 0 or ph <= 0:
            continue
        for py in range(ph):
            y = y0 + py * ys
            vals = []
            for px in range(pw):
                x = x0 + px * xs
                o = (y * width + x) * spp
                vals.extend(samples[o : o + spp])
            raw += b"\x00" + pack(vals)
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color, 0, 0, 1)
    blob = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        blob += chunk(b"PLTE", plte)
    return blob + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_adam7_decode_golden():
    """r14 directive: Adam7 interlace decodes — pixels equal the
    SEQUENTIAL encoding of the same image across the depth/color
    families (RGB8, 2-bit palette with bit repacking, 16-bit gray), so
    the 7-pass reassembly is pinned against the already-golden
    sequential path."""
    import struct

    from open_bus_siri_etl_spark.operators.multimodal import decode_png

    # RGB8 10x7 — pass geometry exercises every Adam7 pass
    w, h = 10, 7
    vals = [(y * 31 + x * 17 + c * 7) & 0xFF
            for y in range(h) for x in range(w) for c in range(3)]
    out = decode_png(_png_adam7(w, h, 8, 2, vals))
    seq = decode_png(
        _tiny_png(w, h, 3, bytes(vals),
                  filters=[0, 1, 2, 3, 4, 0, 2])
    )
    assert out["pixels"] == seq["pixels"] == bytes(vals)

    # 2-bit palette 9x5: sub-byte scatter must repack MSB-first
    plte = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    idxs = [(y + x) % 4 for y in range(5) for x in range(9)]
    pal = decode_png(_png_adam7(9, 5, 2, 3, idxs, plte=plte))
    assert pal["pixels"] == b"".join(plte[i * 3 : i * 3 + 3] for i in idxs)
    assert pal["n_channels"] == 3

    # 16-bit gray 6x9: two-byte samples scatter whole
    samples = [(y * 1000 + x * 77) & 0xFFFF for y in range(9) for x in range(6)]
    g16 = decode_png(_png_adam7(6, 9, 16, 0, samples))
    assert g16["pixels"] == b"".join(struct.pack(">H", s) for s in samples)
    assert g16["bit_depth"] == 16


def test_png_palette_expansion_is_capped(monkeypatch):
    """r13 ADVICE (medium): the coded-stream cap alone does not bound
    palette EXPANSION — a 1-bit palette+tRNS image expands ~32×.  With
    the cap shrunk, a blob whose coded stream passes must still refuse
    to allocate the expanded buffer."""
    import pytest

    from open_bus_siri_etl_spark.operators import multimodal

    w, h = 1024, 2
    plte = bytes([0, 0, 0, 255, 255, 255])
    rows = [bytes((w * 1 + 7) // 8)] * h  # all index 0 at depth 1
    blob = _png_blob(w, h, 1, 3, rows, [0, 0], plte=plte,
                     trns=bytes([128]))
    # sanity: decodes fine under the real cap, expanding to RGBA
    assert multimodal.decode_png(blob)["n_channels"] == 4
    # coded stream is h*(1+stride) = 2*129 = 258 bytes — under a 4096
    # cap; the RGBA expansion is 2*1024*4 = 8192 — over it
    monkeypatch.setattr(multimodal, "_PNG_MAX_PIXEL_BYTES", 4096)
    with pytest.raises(ValueError, match="expansion"):
        multimodal.decode_png(blob)


def test_jpeg_header_meta_golden():
    """r14 directive: JPEG header-only metadata — SOF0 baseline and SOF2
    progressive frame headers decode (dimensions, channels, precision,
    progressive flag); lossless/arithmetic SOFs, truncation, scan-before-
    SOF and zero dimensions all loud-fail."""
    import struct

    import pytest

    from open_bus_siri_etl_spark.operators.multimodal import jpeg_header_meta

    def jpg(sof=0xC0, w=640, h=480, ncomp=3):
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
        dqt = b"\xff\xdb" + struct.pack(">H", 67) + bytes(65)
        sof_seg = (
            bytes([0xFF, sof]) + struct.pack(">H", 8 + 3 * ncomp)
            + bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
            + bytes(3 * ncomp)
        )
        return b"\xff\xd8" + app0 + dqt + sof_seg + b"\xff\xd9"

    m = jpeg_header_meta(jpg())
    assert (m["kind"], m["width"], m["height"], m["n_channels"]) == (
        "jpeg", 640, 480, 3)
    assert m["progressive"] is False and m["bit_depth"] == 8
    m2 = jpeg_header_meta(jpg(sof=0xC2, w=33, h=21, ncomp=1))
    assert m2["progressive"] is True and (m2["width"], m2["height"]) == (33, 21)
    with pytest.raises(NotImplementedError, match="lossless|arithmetic"):
        jpeg_header_meta(jpg(sof=0xC3))
    with pytest.raises(ValueError, match="truncated"):
        jpeg_header_meta(jpg()[:10])  # cut mid-APP0
    with pytest.raises(ValueError, match="zero"):
        jpeg_header_meta(jpg(w=0))
    with pytest.raises(ValueError, match="SOF"):
        jpeg_header_meta(b"\xff\xd8\xff\xda\x00\x04\x00\x00")
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_header_meta(b"\xff\xd8")


def test_jpeg_through_media_meta_plumbing(spark):
    """extract_media_meta dispatches JPEG next to BMP/WAV/PNG: the
    progressive flag lands in the typed row and stays NULL for the
    other kinds."""
    import struct

    from open_bus_siri_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_meta,
    )

    sof = (
        b"\xff\xc2" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 7, 9) + bytes([1]) + bytes(3)
    )
    jpg = b"\xff\xd8" + sof + b"\xff\xd9"
    media = spark.createDataFrame(
        [
            (1, jpg, {"format": "file/jpg", "n_bytes": len(jpg)}),
            (2, _tiny_bmp(4, 4), {"format": "file/bmp", "n_bytes": 0}),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in extract_media_meta(media).collect()}
    assert out[1]["kind"] == "jpeg"
    assert (out[1]["width"], out[1]["height"]) == (9, 7)
    assert out[1]["progressive"] is True
    assert out[2]["kind"] == "bmp" and out[2]["progressive"] is None


def test_extract_features_real_pixels_golden(spark):
    """r14 directive: extract_features computes REAL pixel/sample
    features through the shipped codecs — PNG mean/max luma + histogram
    against hand-computed Rec.601 values, WAV RMS against the fixture's
    samples, fake/blob keeps the stub with real columns NULL, and an
    unknown container loud-fails."""
    import math
    import struct

    import pytest

    from open_bus_siri_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    # 2x1 RGB PNG: pixels (255,0,0) and (0,255,0) → lumas 76, 149
    png = _tiny_png(2, 1, 3, bytes([255, 0, 0, 0, 255, 0]), filters=[0])
    # PCM16 WAV with known samples
    samples = [0, 3, -4, 12]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 2000, 2, 16)
    wav = (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )
    media = spark.createDataFrame(
        [
            (1, png, {"format": "file/png", "n_bytes": len(png)}),
            (2, wav, {"format": "file/wav", "n_bytes": len(wav)}),
            (3, b"plain text", {"format": "fake/blob", "n_bytes": 10}),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    png_row = out[1]
    assert png_row["kind"] == "png"
    assert (png_row["width"], png_row["height"], png_row["n_channels"]) == (2, 1, 3)
    # (299*255)//1000 = 76; (587*255)//1000 = 149
    assert png_row["max_luma"] == 149
    assert png_row["mean_luma"] == (76 + 149) / 2
    hist = list(png_row["luma_hist"])
    assert hist[76 // 32] == 1 and hist[149 // 32] == 1 and sum(hist) == 2
    wav_row = out[2]
    assert wav_row["kind"] == "wav"
    assert wav_row["sample_rate"] == 1000 and wav_row["n_samples"] == 4
    assert wav_row["rms"] == pytest.approx(
        math.sqrt(sum(s * s for s in samples) / 4)
    )
    stub = out[3]
    assert stub["kind"] == "opaque" and stub["n_bytes"] == 10
    assert stub["width"] is None and stub["rms"] is None

    bad = spark.createDataFrame(
        [(9, b"GIF89a....", {"format": "file/gif", "n_bytes": 10})],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="no codec"):
        extract_features(bad).collect()


def test_resize_images_box_filter_golden(spark):
    """r14 directive: resize_images is a REAL box-filter downsample for
    decodable containers — a 4x2 gray PNG downsampled to 2x1 averages
    each 2x2 box (floor), output format tags the channel count; audio
    and unknown containers loud-fail, fake/blob keeps the stub."""
    import pytest

    from open_bus_siri_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
    )

    # gray 4x2: rows [10,20,30,40], [50,60,70,80]
    pix = bytes([10, 20, 30, 40, 50, 60, 70, 80])
    png = _tiny_png(4, 2, 1, pix, filters=[0, 2])
    media = spark.createDataFrame(
        [
            (1, png, {"format": "file/png", "n_bytes": len(png)}),
            (2, b"abc", {"format": "fake/blob", "n_bytes": 3}),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in resize_images(media, 2, 1).collect()}
    # boxes: {10,20,50,60} -> 35, {30,40,70,80} -> 55
    assert bytes(out[1]["content"]) == bytes([35, 55])
    assert out[1]["meta"]["format"] == "raw/u8c1"
    assert (out[1]["meta"]["width"], out[1]["meta"]["height"]) == (2, 1)
    # fake/blob path: truncate/cycle stub, unchanged
    assert bytes(out[2]["content"]) == b"ab"
    assert out[2]["meta"]["format"] == "fake/raw"

    wav_media = spark.createDataFrame(
        [(3, _tiny_wav(8000, 10), {"format": "file/wav", "n_bytes": 0})],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="no pixel codec"):
        resize_images(wav_media, 2, 2).collect()


def test_minhash_index_params_and_disjointness_guards(spark):
    """Round-8 symmetry hardening: the TEXT band index gets the same
    fail-loud contract as the embedding bucket index — a persisted index
    probed with a different (n, perms, bands) family raises in-plan, a
    pre-round-8 index without the params column is rejected at plan
    build, and a doc_id in BOTH history and delta (which would emit a
    doc_a == doc_b self-pair) fails the job."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_delta_dedup,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    history = corpus.filter(F.col("doc_id") % 10 != 0)
    delta = corpus.filter(F.col("doc_id") % 10 == 0)
    idx = build_minhash_index(history)
    assert "params" in idx.columns
    with pytest.raises(Exception, match="built with params"):
        minhash_delta_dedup(history, delta, history_keys=idx, bands=2).count()
    with pytest.raises(ValueError, match="rebuild"):
        minhash_delta_dedup(history, delta, history_keys=idx.drop("params"))
    with pytest.raises(Exception, match="BOTH corpus and delta"):
        minhash_delta_dedup(
            corpus.filter(F.col("doc_id") % 10 != 3), delta, history_keys=None
        ).count()


def test_lsh_bucket_index_append_is_rebuild(spark):
    """The embedding index's append-only claim, exercised across two
    ingest epochs: (index over corpus) ∪ (index over delta1) must equal
    the index rebuilt over corpus ∪ delta1 row-for-row, and probing the
    appended index for delta2 gives exactly the rebuilt-index result."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs_lsh,
        lsh_bucket_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 400")
    delta1 = emb.filter("vec_id >= 400 AND vec_id < 450")
    delta2 = emb.filter("vec_id >= 450")

    appended = lsh_bucket_index(corpus).unionByName(lsh_bucket_index(delta1))
    rebuilt = lsh_bucket_index(corpus.unionByName(delta1))
    assert sorted(map(tuple, appended.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    corpus2 = corpus.unionByName(delta1)
    via_appended = sorted(
        map(
            tuple,
            cosine_delta_pairs_lsh(
                corpus2, delta2, threshold=0.4, corpus_index=appended
            ).collect(),
        )
    )
    via_rebuilt = sorted(
        map(
            tuple,
            cosine_delta_pairs_lsh(
                corpus2, delta2, threshold=0.4, corpus_index=rebuilt
            ).collect(),
        )
    )
    assert via_appended == via_rebuilt and via_appended


def test_delta_lsh_stale_corpus_detection(spark):
    """Round-8 review hardening: staleness is fail-loud in BOTH
    directions.  (a) a corpus row appended AFTER the index epoch whose id
    re-appears in the delta raises even though the index doesn't know the
    id; (b) an in-place vector update under an unrebuilt index (same ids,
    new values — stale buckets AND stale norms) raises on the first
    candidate instead of scoring a mixed-epoch cosine."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs_lsh,
        lsh_bucket_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")
    idx = lsh_bucket_index(corpus)

    # (a) corpus superset of index: id 460 appended to corpus after the
    # index epoch, and today's delta re-ingests it
    stale_corpus = corpus.unionByName(emb.filter("vec_id = 460"))
    with pytest.raises(Exception, match="BOTH corpus and delta"):
        cosine_delta_pairs_lsh(
            stale_corpus, delta, threshold=0.4, corpus_index=idx
        ).count()

    # (b) vectors regenerated in place, index not rebuilt
    updated = corpus.select(
        "vec_id",
        F.transform("embedding", lambda x: (x.cast("double") * 2.0).cast("float"))
        .alias("embedding"),
        "label",
    )
    with pytest.raises(Exception, match="changed since corpus_index"):
        cosine_delta_pairs_lsh(
            updated, delta, threshold=0.4, corpus_index=idx
        ).count()

    # (c) NULL id hidden in a persisted index raises at probe
    nulled_idx = idx.selectExpr(
        "CASE WHEN vec_id = 10 THEN NULL ELSE vec_id END AS vec_id",
        "tbl", "bucket", "nrm", "params",
    )
    with pytest.raises(Exception, match="NULL vec_id in corpus_index"):
        cosine_delta_pairs_lsh(
            corpus, delta, threshold=0.4, corpus_index=nulled_idx
        ).count()


def test_asof_join_row_semantics_null_payload(spark):
    """Strict ROW as-of semantics (round-8 review fix): the latest prior
    right row is taken WHOLE — a NULL payload in that row stays NULL
    rather than being back-filled from an older row, and the tolerance
    window is evaluated against the ts of the SAME row that supplied the
    payload."""
    import datetime

    from open_bus_siri_etl_spark.operators.temporal import asof_join

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(1, 100, ts(110))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, ts(0), 5), (100, ts(100), None)],
        "user_id long, ts timestamp, v long",
    )
    # no tolerance: the latest prior row (ts=100) carries its NULL v
    out = asof_join(left, right, on="user_id", right_cols=["v"]).collect()[0]
    assert out["v_asof"] is None
    # with tolerance 50: the carried row IS fresh (age 10) but its v is
    # NULL — the old per-column carry emitted the 110s-stale v=5 here
    out = asof_join(
        left, right, on="user_id", right_cols=["v"], tolerance_sec=50
    ).collect()[0]
    assert out["v_asof"] is None


@pytest.mark.slow
def test_minhash_index_append_is_rebuild(spark):
    """The text band index's append contract, exercised across two ingest
    epochs (the twin of test_lsh_bucket_index_append_is_rebuild):
    build(history) ∪ build(batch) == build(history ∪ batch) row-for-row,
    and probing the appended index gives the rebuilt-index result."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_delta_dedup,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    history = corpus.filter(F.col("doc_id") % 10 > 1)
    batch1 = corpus.filter(F.col("doc_id") % 10 == 1)
    batch2 = corpus.filter(F.col("doc_id") % 10 == 0)

    appended = build_minhash_index(history).unionByName(build_minhash_index(batch1))
    rebuilt = build_minhash_index(history.unionByName(batch1))
    assert sorted(map(tuple, appended.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    h2 = history.unionByName(batch1)
    via_appended = sorted(
        map(
            tuple,
            minhash_delta_dedup(h2, batch2, history_keys=appended).collect(),
        )
    )
    via_rebuilt = sorted(
        map(
            tuple,
            minhash_delta_dedup(h2, batch2, history_keys=rebuilt).collect(),
        )
    )
    assert via_appended == via_rebuilt and via_appended


def test_multimodal_codecs_reject_unsupported_variants():
    """The loud-fail contract covers plausible-but-unsupported container
    VARIANTS, not just foreign magic bytes: OS/2 core-header BMPs and
    compressed / sub-byte WAV formats raise instead of emitting
    fabricated metadata."""
    import struct

    from open_bus_siri_etl_spark.operators.multimodal import decode_bmp, decode_wav

    # OS/2 BITMAPCOREHEADER: 12-byte info header, int16 dimensions
    core = struct.pack("<2sIHHI", b"BM", 26, 0, 0, 26) + struct.pack(
        "<IHHHH", 12, 100, 50, 1, 24
    )
    with pytest.raises(NotImplementedError, match="info header size 12"):
        decode_bmp(core)

    # IMA-ADPCM WAV (format tag 17, 4-bit samples): n_samples from
    # data_bytes/frame would be fabricated
    fmt = struct.pack("<HHIIHH", 17, 1, 8000, 4000, 256, 4)
    adpcm = (
        struct.pack("<4sI4s", b"RIFF", 36 + 8, b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", 8) + b"\x00" * 8
    )
    with pytest.raises(NotImplementedError, match="format tag 17"):
        decode_wav(adpcm)


@pytest.mark.slow
def test_connected_components_delta_multi_epoch(spark):
    """Incremental clustering folded over TWO successive ingests equals
    batch recomputation over everything — labels from epoch k feed epoch
    k+1, so this exercises the real steady-state (contract against an
    already-incrementally-built labeling), not just one step.  Plus the
    standard delta guards: a re-ingested id raises."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        connected_components_delta,
        jaccard_delta_pairs,
        neardup_membership,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    h0 = docs.filter(F.col("doc_id") % 10 > 1)
    b1 = docs.filter(F.col("doc_id") % 10 == 1)
    b2 = docs.filter(F.col("doc_id") % 10 == 0)

    labels = neardup_membership(h0, threshold=0.5)
    for hist, batch in ((h0, b1), (h0.unionByName(b1), b2)):
        pairs = jaccard_delta_pairs(hist, batch, threshold=0.5)
        labels = connected_components_delta(
            labels, batch.select("doc_id"), pairs
        ).localCheckpoint(eager=True)

    batch_all = sorted(
        map(tuple, neardup_membership(docs, threshold=0.5).collect())
    )
    assert sorted(map(tuple, labels.collect())) == batch_all

    with pytest.raises(Exception, match="BOTH corpus and delta"):
        connected_components_delta(
            neardup_membership(h0, 0.5),
            h0.select("doc_id").limit(5),
            jaccard_delta_pairs(docs.filter("doc_id % 10 > 2"), b1),
        ).count()


@pytest.mark.slow
def test_connected_components_delta_embedding_family(spark):
    """connected_components_delta is pair-family-GENERIC: folding an
    embedding ingest's exact cosine delta pairs into an existing
    embedding-cluster labeling equals batch clustering over the full
    embedding corpus (the same contract proven for the text family)."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        attach_components,
        connected_components_delta,
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs,
        cosine_near_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id < 450")
    delta = emb.filter("vec_id >= 450")

    labels = attach_components(
        corpus,
        cosine_near_pairs(corpus, threshold=0.4).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        ),
        "vec_id",
    )
    dpairs = cosine_delta_pairs(corpus, delta, threshold=0.4).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    inc = sorted(
        map(
            tuple,
            connected_components_delta(
                labels, delta.select("vec_id"), dpairs, id_col="vec_id"
            ).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            attach_components(
                emb,
                cosine_near_pairs(emb, threshold=0.4).select(
                    F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
                ),
                "vec_id",
            ).collect(),
        )
    )
    assert inc == batch and len(inc) == emb.count()


@pytest.mark.slow
def test_jaccard_delta_pairs_persisted_posting_index(spark, tmp_path):
    """The third delta index (exact-Jaccard posting index, round 8):
    probing a PERSISTED build_shingle_index frame gives exactly the
    inline result with the history never re-shingled, append-is-rebuild
    holds, and the standard fail-loud guards fire (params mismatch,
    pre-tag format, re-ingested id)."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        build_shingle_index,
        jaccard_delta_pairs,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    history = corpus.filter(F.col("doc_id") % 10 > 1)
    batch1 = corpus.filter(F.col("doc_id") % 10 == 1)
    delta = corpus.filter(F.col("doc_id") % 10 == 0)
    h2 = history.unionByName(batch1)

    idx_path = str(tmp_path / "postings")
    # append workflow: history epoch + batch epoch
    build_shingle_index(history).unionByName(
        build_shingle_index(batch1)
    ).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    inline = sorted(
        map(tuple, jaccard_delta_pairs(h2, delta, threshold=0.5).collect())
    )
    via = sorted(
        map(
            tuple,
            jaccard_delta_pairs(
                None, delta, threshold=0.5, history_postings=idx
            ).collect(),
        )
    )
    assert inline == via and inline

    with pytest.raises(Exception, match="built with params"):
        jaccard_delta_pairs(None, delta, n=4, history_postings=idx).count()
    with pytest.raises(ValueError, match="rebuild"):
        jaccard_delta_pairs(None, delta, history_postings=idx.drop("params"))
    with pytest.raises(Exception, match="BOTH corpus and delta"):
        jaccard_delta_pairs(
            None, batch1, history_postings=idx
        ).count()


def test_asof_tolerance_native_precision(spark):
    """Round-9 (ADVICE): the staleness gate compares at native microsecond
    precision.  Per-side floor-to-second truncation used to let a match up
    to ~1 s staler than tolerance_sec pass when timestamps carry
    sub-second parts."""
    import datetime

    from open_bus_siri_etl_spark.operators.temporal import asof_join

    t0 = datetime.datetime(2024, 1, 1)

    def ts(sec, us):
        return t0 + datetime.timedelta(seconds=sec, microseconds=us)

    left = spark.createDataFrame(
        [(1, 9, ts(10, 900_000)), (2, 9, ts(10, 400_000))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(70, 9, ts(0, 500_000))],
        "event_id long, user_id long, ts timestamp",
    )
    out = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["event_id"],
            tolerance_sec=10,
        ).collect()
    }
    # age 10.4 s > 10 s: stale (floor-per-side said 10 - 0 = 10 <= 10)
    assert out[1] is None
    # age 9.9 s <= 10 s: match (floor-per-side agreed here)
    assert out[2] == 70


def _wav_bytes(
    rate: int, n: int, ch: int, bits: int, audio_fmt: int = 1
) -> bytes:
    """Parametric RIFF/WAVE synthesizer for the property tests (the fixed
    _tiny_wav above is PCM16-only)."""
    import struct

    data = b"\x07" * (n * ch * (bits // 8))
    fmt = struct.pack(
        "<HHIIHH", audio_fmt, ch, rate,
        rate * ch * (bits // 8), ch * (bits // 8), bits,
    )
    body = (
        struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def test_wav_truncation_and_short_fmt_raise():
    """Round-9 (ADVICE): a declared chunk size overrunning the blob is
    truncation — computing duration from the DECLARED size would emit a
    fabricated value; loud-fail instead.  A fmt chunk under 16 bytes
    cannot carry the PCM fields either."""
    import struct

    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.multimodal import decode_wav

    full = _wav_bytes(8000, 1000, 1, 16)
    # cut inside the data payload: declared size now overruns the blob
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(full[:-37])
    # cut inside the fmt chunk (a JUNK chunk pushes fmt past the 36-byte
    # minimum so the truncation check — not the container check — fires)
    junk = struct.pack("<4sI", b"JUNK", 4) + b"\x00" * 4
    shifted = full[:12] + junk + full[12:]
    shifted = shifted[:4] + struct.pack("<I", len(shifted) - 8) + shifted[8:]
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(shifted[:40])
    # fmt chunk declaring fewer than 16 bytes
    short = (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + 8, b"WAVE")
        + struct.pack("<4sI", b"fmt ", 8) + b"\x00" * 8
        + struct.pack("<4sI", b"data", 0)
    )
    with _pytest.raises(ValueError, match="fmt chunk is 8 bytes"):
        decode_wav(short)


@pytest.mark.slow
def test_codec_properties():
    """Round-9 directive #7: hypothesis-generated containers round-trip
    through the codecs, and malformed truncations RAISE rather than
    fabricate (the module's loud-fail contract, property-checked)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from open_bus_siri_etl_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        width=st.integers(1, 1 << 14),
        height=st.integers(-(1 << 14), 1 << 14).filter(lambda h: h != 0),
    )
    def bmp_roundtrip(width, height):
        meta = decode_bmp(_tiny_bmp(width, height))
        assert meta == {"kind": "bmp", "width": width, "height": abs(height)}

    @settings(max_examples=60, deadline=None)
    @given(
        rate=st.integers(1, 192_000),
        n=st.integers(0, 2_000),
        ch=st.integers(1, 8),
        bits=st.sampled_from([8, 16, 24, 32]),
    )
    def wav_roundtrip(rate, n, ch, bits):
        meta = decode_wav(_wav_bytes(rate, n, ch, bits))
        assert meta["n_channels"] == ch
        assert meta["sample_rate"] == rate
        assert meta["n_samples"] == n
        assert meta["duration_ms"] == (n * 1000) // rate

    @settings(max_examples=60, deadline=None)
    @given(
        rate=st.integers(1, 48_000),
        n=st.integers(1, 500),
        ch=st.integers(1, 4),
        bits=st.sampled_from([8, 16]),
        data=st.data(),
    )
    def wav_truncation_never_fabricates(rate, n, ch, bits, data):
        full = _wav_bytes(rate, n, ch, bits)
        data_end = len(full) - (1 if (n * ch * (bits // 8)) & 1 else 0)
        cut = data.draw(st.integers(1, data_end - 1))
        try:
            meta = decode_wav(full[:cut])
        except ValueError:
            return  # loud fail — the contract
        # only acceptable success: nothing load-bearing was actually cut
        raise AssertionError(
            f"truncated WAV (cut at {cut}/{len(full)}) decoded to {meta}"
        )

    @settings(max_examples=60, deadline=None)
    @given(blob=st.binary(max_size=25))
    def bmp_too_short_raises(blob):
        import pytest as _pytest

        with _pytest.raises((ValueError, NotImplementedError)):
            decode_bmp(blob)

    bmp_roundtrip()
    wav_roundtrip()
    wav_truncation_never_fabricates()
    bmp_too_short_raises()


@pytest.mark.slow
def test_neardup_survivors_delta_multi_epoch(spark):
    """Round-9 directive #3: incremental survivor selection folded over
    TWO successive ingests equals batch recomputation — both the survivor
    summary AND the labeling advance per epoch, so this exercises the real
    steady state (fold against incrementally-built state).  Guards: a
    re-ingested id raises."""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        connected_components_delta,
        jaccard_delta_pairs,
        neardup_membership,
        neardup_survivor_rows,
        neardup_survivors_delta,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    h0 = docs.filter(F.col("doc_id") % 10 > 1)
    b1 = docs.filter(F.col("doc_id") % 10 == 1)
    b2 = docs.filter(F.col("doc_id") % 10 == 0)

    labels = neardup_membership(h0, threshold=0.5)
    survivors = neardup_survivor_rows(h0, threshold=0.5)
    for hist, batch in ((h0, b1), (h0.unionByName(b1), b2)):
        pairs = jaccard_delta_pairs(hist, batch, threshold=0.5)
        survivors = neardup_survivors_delta(
            survivors, labels, batch.select("doc_id", "n_chars"), pairs
        ).localCheckpoint(eager=True)
        labels = connected_components_delta(
            labels, batch.select("doc_id"), pairs
        ).localCheckpoint(eager=True)

    batch_all = sorted(
        map(tuple, neardup_survivor_rows(docs, threshold=0.5).collect())
    )
    assert sorted(map(tuple, survivors.collect())) == batch_all

    with pytest.raises(Exception, match="BOTH corpus and delta"):
        neardup_survivors_delta(
            neardup_survivor_rows(h0, 0.5),
            neardup_membership(h0, 0.5),
            h0.select("doc_id", "n_chars").limit(5),
            jaccard_delta_pairs(docs.filter("doc_id % 10 > 2"), b1),
        ).count()


@pytest.mark.slow
def test_neardup_survivors_delta_tie_across_merge(spark):
    """The sufficient-statistic argument, pinned: two components with the
    SAME max size merge through a delta pair — the kept id must be the
    global min over both components' tie carriers, and a delta doc that
    beats the merged max takes over."""
    from open_bus_siri_etl_spark.operators.dedup import neardup_survivors_delta

    # component 10: docs {10, 12} both 50 chars (kept 10); component 20:
    # docs {20, 21} both 50 chars (kept 20); component 30: {30} 70 chars
    survivors = spark.createDataFrame(
        [(10, 10, 50, 2), (20, 20, 50, 2), (30, 30, 70, 1)],
        "component long, kept_doc_id long, kept_n_chars long, n_members long",
    )
    labels = spark.createDataFrame(
        [(10, 10), (12, 10), (20, 20), (21, 20), (30, 30)],
        "doc_id long, component long",
    )
    # delta doc 100 (40 chars) bridges components 10 and 20;
    # delta doc 101 (90 chars) joins component 30 and beats its max
    delta = spark.createDataFrame(
        [(100, 40), (101, 90)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame(
        [(12, 100), (100, 21), (30, 101)], "doc_a long, doc_b long"
    )
    out = {
        r["component"]: (r["kept_doc_id"], r["kept_n_chars"], r["n_members"])
        for r in neardup_survivors_delta(survivors, labels, delta, pairs).collect()
    }
    # merged 10+20+100: max 50, ties {10, 20} -> min 10; 5 members
    assert out[10] == (10, 50, 5)
    # 30+101: delta doc beats the old max
    assert out[30] == (101, 90, 2)
    assert set(out) == {10, 30}


@pytest.mark.slow
def test_delta_indexes_three_epoch_parquet_append(spark, tmp_path):
    """Round-9 directive #2 (correctness half): the 'incremental append IS
    the full rebuild' claim carried by all THREE delta indexes, exercised
    the way production runs it — parquet mode('append') to a PERSISTED
    index across three successive ingest epochs.  After epoch 3, each
    appended index equals the from-scratch rebuild as a multiset, and each
    family's delta operator probed through the appended index equals the
    fresh-index result.  (The cost half is measured in
    tools/bench_delta_epochs.py -> BENCH_DELTA_EPOCHS.json.)"""
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark.operators.dedup import (
        build_minhash_index,
        build_shingle_index,
        jaccard_delta_pairs,
        minhash_delta_dedup,
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        cosine_delta_pairs_lsh,
        lsh_bucket_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d_hist = docs.filter(F.col("doc_id") % 10 > 2)
    e_hist = emb.filter(F.col("vec_id") % 10 > 2)
    d_batches = [docs.filter(F.col("doc_id") % 10 == k) for k in (0, 1, 2)]
    e_batches = [emb.filter(F.col("vec_id") % 10 == k) for k in (0, 1, 2)]

    paths = {n: str(tmp_path / n) for n in ("shingle", "bands", "lsh")}
    build_shingle_index(d_hist).write.parquet(paths["shingle"])
    build_minhash_index(d_hist).write.parquet(paths["bands"])
    lsh_bucket_index(e_hist).write.parquet(paths["lsh"])

    def multiset(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    dh, eh = d_hist, e_hist
    for k in range(3):
        db, eb = d_batches[k], e_batches[k]
        sh_idx = spark.read.parquet(paths["shingle"])
        bd_idx = spark.read.parquet(paths["bands"])
        ls_idx = spark.read.parquet(paths["lsh"])
        # probe through the appended persisted index == fresh-index probe
        assert multiset(
            jaccard_delta_pairs(None, db, threshold=0.5, history_postings=sh_idx)
        ) == multiset(
            jaccard_delta_pairs(
                None, db, threshold=0.5,
                history_postings=build_shingle_index(dh),
            )
        )
        assert multiset(
            minhash_delta_dedup(dh, db, threshold=0.5, history_keys=bd_idx)
        ) == multiset(minhash_delta_dedup(dh, db, threshold=0.5))
        assert multiset(
            cosine_delta_pairs_lsh(eh, eb, threshold=0.4, corpus_index=ls_idx)
        ) == multiset(
            cosine_delta_pairs_lsh(
                eh, eb, threshold=0.4, corpus_index=lsh_bucket_index(eh)
            )
        )
        # the append: O(|batch|) index rows, parquet mode('append')
        build_shingle_index(db).write.mode("append").parquet(paths["shingle"])
        build_minhash_index(db).write.mode("append").parquet(paths["bands"])
        lsh_bucket_index(eb).write.mode("append").parquet(paths["lsh"])
        dh = dh.unionByName(db)
        eh = eh.unionByName(eb)

    # epoch-3 state: appended persisted index == from-scratch rebuild
    assert multiset(spark.read.parquet(paths["shingle"])) == multiset(
        build_shingle_index(dh)
    )
    assert multiset(spark.read.parquet(paths["bands"])) == multiset(
        build_minhash_index(dh)
    )
    assert multiset(spark.read.parquet(paths["lsh"])) == multiset(
        lsh_bucket_index(eh)
    )


@pytest.mark.slow
def test_ivf_pq_persisted_index_serve_matches_inline(spark, tmp_path):
    """The persisted IVF-PQ path (build_ivf_pq_index + ivf_pq_centroids
    written to parquet, read back, served via ivf_pq_topk_serve) returns
    EXACTLY the inline ivf_pq_topk result — the serving shape where
    corpus vectors are never an input to the per-query-batch plan."""
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_centroids,
        ivf_pq_topk,
        ivf_pq_topk_serve,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    inline = sorted(map(tuple, ivf_pq_topk(emb, qs, k=5).collect()))

    cents_path = str(tmp_path / "ivfpq_cents")
    idx_path = str(tmp_path / "ivfpq_index")
    cframe = ivf_pq_centroids(emb, n_keep=8)
    cframe.write.parquet(cents_path)
    cframe = spark.read.parquet(cents_path)
    build_ivf_pq_index(emb, cents=cframe).write.partitionBy("cluster").parquet(
        idx_path
    )
    idx = spark.read.parquet(idx_path)
    served = sorted(
        map(tuple, ivf_pq_topk_serve(idx, cframe, qs, k=5).collect())
    )
    assert inline == served and inline


def test_ivf_pq_index_append_is_rebuild(spark):
    """With the codebook FROZEN (FAISS add() semantics: deltas encode
    against the centroids the index was built with), cluster assignment
    and PQ codes are per-row functions of (vector, codebook) — so
    appending a delta's index frame to the existing one equals rebuilding
    over the full corpus, row for row.  Same contract as the MinHash band
    index and the LSH bucket index."""
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    part1 = emb.filter("vec_id < 300")
    delta = emb.filter("vec_id >= 300")
    cframe = ivf_pq_centroids(part1, n_keep=8)
    full = sorted(
        map(tuple, build_ivf_pq_index(emb, cents=cframe).collect())
    )
    appended = sorted(
        map(
            tuple,
            build_ivf_pq_index(part1, cents=cframe)
            .unionByName(build_ivf_pq_index(delta, cents=cframe))
            .collect(),
        )
    )
    assert full == appended and full


def test_ivf_pq_serve_params_mismatch_raises(spark):
    """An index encoded under one (coarse, sub, dim, fine) family served
    under another would silently corrupt every ADC distance — the
    persisted params tag is checked IN-PLAN and fails the job loudly; a
    tag-less frame is rejected at plan build."""
    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_centroids,
        ivf_pq_topk_serve,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    cframe = ivf_pq_centroids(emb, n_keep=8)
    idx = build_ivf_pq_index(emb, cents=cframe)
    with _pytest.raises(Exception, match="built with params"):
        ivf_pq_topk_serve(idx, cframe, qs, n_sub=2, sub_dim=32).count()
    with _pytest.raises(ValueError, match="rebuild"):
        ivf_pq_topk_serve(idx.drop("params"), cframe, qs)


def test_ivf_pq_undersized_codebook_raises(spark):
    """A frozen-codebook frame with fewer centroids than the call's
    n_centroids/pq_centroids would silently change the quantizer family —
    _slice_codebook raises in-plan instead (ranks are dense, so
    max(rank) < n iff the frame is undersized)."""
    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    small = ivf_pq_centroids(emb, n_keep=4)
    with _pytest.raises(Exception, match="fewer than 8"):
        build_ivf_pq_index(emb, cents=small).count()


def test_ivf_pq_codebook_content_mismatch_raises(spark):
    """The params tag alone cannot see a REGENERATED codebook with the
    same parameter counts (the IVF-PQ quantizer IS the codebook data, not
    a parameter-derived family like the LSH planes) — the persisted
    cb_fp content fingerprint catches it in-plan."""
    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_centroids,
        ivf_pq_topk_serve,
    )
    from pyspark.sql import functions as _F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    cframe = ivf_pq_centroids(emb, n_keep=8)
    idx = build_ivf_pq_index(emb, cents=cframe)
    # same counts, different content: a "re-embedded" codebook
    other = cframe.withColumn(
        "cent_vec", _F.transform("cent_vec", lambda x: x * _F.lit(2.0))
    )
    with _pytest.raises(Exception, match="fingerprint mismatch"):
        ivf_pq_topk_serve(idx, other, qs).count()


def test_ivf_pq_empty_codebook_raises(spark):
    """An EMPTY codebook frame has no rows for a per-row guard to
    evaluate — the aggregate-based undersize guard still fires (the
    degenerate case a row-scoped when() silently passes as 0 results)."""
    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    empty = ivf_pq_centroids(emb, n_keep=8).filter("cent_rank > 100")
    with _pytest.raises(Exception, match="fewer than 8"):
        build_ivf_pq_index(emb, cents=empty).count()


# ---- round-10: trained quantizers in the persisted IVF-PQ pipeline ----


def _trained_frames(spark):
    from open_bus_siri_etl_spark.operators.clustering import (
        kmeans_codebook,
        kmeans_subspace_codebook,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    coarse = kmeans_codebook(emb, k=8, iters=2)
    fine = kmeans_subspace_codebook(emb, n_sub=4, sub_dim=16, k=8, iters=2)
    return emb, coarse, fine


def test_kmeans_codebook_l2_assignment_matches_kmeans_assign(spark):
    """The load-bearing contract of the trained path: assigning corpus
    rows against the kmeans_codebook frame by 6dp-rounded L2 with
    min-cent_id ties (_nearest_centroids metric='l2') reproduces
    kmeans_assign's clusters exactly — this is what lets the trained
    IVF-PQ index reuse the kmeans oracle."""
    from pyspark.sql import functions as _F

    from open_bus_siri_etl_spark.operators.clustering import kmeans_assign
    from open_bus_siri_etl_spark.operators.similarity import _nearest_centroids

    emb, coarse, _ = _trained_frames(spark)
    via_codebook = _nearest_centroids(
        emb.select(_F.col("vec_id").alias("_id"), _F.col("embedding").alias("_vec")),
        _F.broadcast(coarse.select("cent_id", "cent_vec")),
        "cluster", 1, metric="l2",
    ).select(_F.col("_id").alias("vec_id"), _F.col("cluster").cast("int").alias("cluster"))
    direct = kmeans_assign(emb, k=8, iters=2)
    assert sorted(map(tuple, via_codebook.collect())) == sorted(
        map(tuple, direct.collect())
    )


@pytest.mark.slow
def test_ivf_pq_kmeans_persisted_serve_matches_inline(spark, tmp_path):
    """The trained-quantizer persisted path (both codebook frames and the
    index written to parquet, read back, served) returns EXACTLY the
    inline ivf_pq_kmeans_topk result — the same cannot-drift contract the
    stand-in family carries."""
    from open_bus_siri_etl_spark.operators.clustering import ivf_pq_kmeans_topk
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_serve,
    )

    emb, coarse, fine = _trained_frames(spark)
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    inline = sorted(map(tuple, ivf_pq_kmeans_topk(emb, qs, k=5).collect()))

    cpath, fpath = str(tmp_path / "tcents"), str(tmp_path / "tfine")
    coarse.write.parquet(cpath)
    fine.write.parquet(fpath)
    coarse = spark.read.parquet(cpath)
    fine = spark.read.parquet(fpath)
    ipath = str(tmp_path / "tindex")
    build_ivf_pq_index(
        emb, cents=coarse, fine_cents=fine, coarse_metric="l2"
    ).write.partitionBy("cluster").parquet(ipath)
    idx = spark.read.parquet(ipath)
    served = sorted(
        map(
            tuple,
            ivf_pq_topk_serve(
                idx, coarse, qs, k=5, fine_cents=fine, coarse_metric="l2"
            ).collect(),
        )
    )
    assert inline == served and inline


@pytest.mark.slow
def test_ivf_pq_kmeans_append_is_rebuild(spark):
    """FAISS train-then-add with TRAINED codebooks: frozen kmeans frames
    make cluster assignment and PQ codes per-row functions of (vector,
    codebooks), so appending a delta's index rows equals the full
    rebuild — the persisted-index contract survives quantizer training."""
    from open_bus_siri_etl_spark.operators.similarity import build_ivf_pq_index

    emb, coarse, fine = _trained_frames(spark)
    part1 = emb.filter("vec_id < 300")
    delta = emb.filter("vec_id >= 300")
    kw = dict(cents=coarse, fine_cents=fine, coarse_metric="l2")
    full = sorted(map(tuple, build_ivf_pq_index(emb, **kw).collect()))
    appended = sorted(
        map(
            tuple,
            build_ivf_pq_index(part1, **kw)
            .unionByName(build_ivf_pq_index(delta, **kw))
            .collect(),
        )
    )
    assert full == appended and full


@pytest.mark.slow
def test_ivf_pq_kmeans_stale_codebook_raises(spark):
    """Both staleness directions stay fail-loud for the SPLIT codebook:
    (a) serving a trained-L2 index as the cosine family trips the params
    tag (the metric is part of the family); (b) serving with a regenerated
    fine frame (same counts, different content) trips the role-salted
    pair fingerprint; (c) swapping the coarse and fine frames — identical
    row multiset union — also trips it (the role salt is load-bearing)."""
    import pytest as _pytest
    from pyspark.sql import functions as _F

    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_serve,
    )

    emb, coarse, fine = _trained_frames(spark)
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    idx = build_ivf_pq_index(
        emb, cents=coarse, fine_cents=fine, coarse_metric="l2"
    )
    with _pytest.raises(Exception, match="built with params"):
        ivf_pq_topk_serve(idx, coarse, qs, fine_cents=fine).count()
    other_fine = fine.withColumn(
        "cent_vec", _F.transform("cent_vec", lambda x: x * _F.lit(2.0))
    )
    with _pytest.raises(Exception, match="fingerprint mismatch"):
        ivf_pq_topk_serve(
            idx, coarse, qs, fine_cents=other_fine, coarse_metric="l2"
        ).count()
    with _pytest.raises(Exception, match="fingerprint mismatch"):
        ivf_pq_topk_serve(
            idx, fine, qs, fine_cents=coarse, coarse_metric="l2"
        ).count()


def test_kmeans_oos_equals_bruteforce_at_full_probe(spark):
    """kmeans_ivf_topk_oos with n_probe = n_clusters probes every cluster,
    so the exact cosine re-rank over ALL candidates must equal brute-force
    cosine_topk — the recall ceiling of the out-of-sample path is exactly
    1.0, reached at full probing."""
    from pyspark.sql import functions as _F

    from open_bus_siri_etl_spark.operators.clustering import kmeans_ivf_topk_oos
    from open_bus_siri_etl_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15").select(
        (_F.col("vec_id") + 1000000).alias("vec_id"),
        _F.transform(
            "embedding",
            lambda x: _F.round(x.cast("double") * _F.lit(0.9) + _F.lit(0.01), 6),
        ).alias("embedding"),
    )
    exact = sorted(map(tuple, cosine_topk(emb, qs, k=5).collect()))
    oos = sorted(
        map(
            tuple,
            kmeans_ivf_topk_oos(
                emb, qs, k=5, n_clusters=8, iters=2, n_probe=8
            ).collect(),
        )
    )
    assert oos == exact and oos


@pytest.mark.slow
def test_kmeans_oos_recall_rises_with_probes(spark):
    """Out-of-sample trained IVF recall@5 is monotone in n_probe (more
    probed clusters can only add candidates to the exact re-rank) and
    hits 1.0 at n_probe = n_clusters."""
    from pyspark.sql import functions as _F

    from open_bus_siri_etl_spark.operators.clustering import kmeans_ivf_topk_oos
    from open_bus_siri_etl_spark.operators.similarity import ann_recall, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15").select(
        (_F.col("vec_id") + 1000000).alias("vec_id"),
        _F.transform(
            "embedding",
            lambda x: _F.round(x.cast("double") * _F.lit(0.9) + _F.lit(0.01), 6),
        ).alias("embedding"),
    )
    exact = cosine_topk(emb, qs, k=5)
    recalls = []
    for p in (1, 2, 8):
        approx = kmeans_ivf_topk_oos(
            emb, qs, k=5, n_clusters=8, iters=2, n_probe=p
        )
        recalls.append(
            ann_recall(exact, approx, k=5)
            .agg(_F.avg("recall").alias("r"))
            .collect()[0]["r"]
        )
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0


def test_kmeans_ivf_missing_query_id_raises(spark):
    """A query id absent from the corpus must fail loudly (ADVICE round
    9): the in-sample path's semi join used to silently omit it.  The
    guard rides the probe frame — the candidate join's broadcast build
    side — so AQE empty-relation propagation cannot prune it."""
    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.clustering import kmeans_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bad = spark.createDataFrame([(8,), (99999999,)], "vec_id long")
    with _pytest.raises(Exception, match="not a corpus row"):
        kmeans_ivf_topk(emb, bad, k=5).collect()


@pytest.mark.slow
def test_ivf_pq_residual_persisted_serve_matches_inline(spark, tmp_path):
    """The residual path persists and serves like the others: trained
    coarse + residual-trained fine frames and the residual index written
    to parquet, read back, served — equals the inline
    ivf_pq_residual_topk exactly."""
    from open_bus_siri_etl_spark.operators.clustering import (
        ivf_pq_residual_topk,
        kmeans_codebook,
        kmeans_subspace_codebook,
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_serve,
        ivf_residuals,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    inline = sorted(map(tuple, ivf_pq_residual_topk(emb, qs, k=5).collect()))

    coarse = kmeans_codebook(emb, k=8, iters=2)
    res = ivf_residuals(emb, coarse, 8)
    fine = kmeans_subspace_codebook(res, n_sub=4, sub_dim=16, k=8, iters=2)
    cpath, fpath = str(tmp_path / "rc"), str(tmp_path / "rf")
    coarse.write.parquet(cpath)
    fine.write.parquet(fpath)
    coarse, fine = spark.read.parquet(cpath), spark.read.parquet(fpath)
    ipath = str(tmp_path / "rindex")
    build_ivf_pq_index(
        emb, cents=coarse, fine_cents=fine, coarse_metric="l2", residual=True
    ).write.partitionBy("cluster").parquet(ipath)
    served = sorted(
        map(
            tuple,
            ivf_pq_topk_serve(
                spark.read.parquet(ipath), coarse, qs, k=5,
                fine_cents=fine, coarse_metric="l2", residual=True,
            ).collect(),
        )
    )
    assert inline == served and inline


@pytest.mark.slow
def test_ivf_pq_residual_family_mismatch_raises(spark):
    """Residual codes under a whole-vector distance table (or vice versa)
    silently corrupt every ADC distance — the R params-tag suffix makes
    both directions fail loudly in-plan."""
    import pytest as _pytest

    from open_bus_siri_etl_spark.operators.clustering import (
        kmeans_codebook,
        kmeans_subspace_codebook,
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_serve,
        ivf_residuals,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    coarse = kmeans_codebook(emb, k=8, iters=2)
    res = ivf_residuals(emb, coarse, 8)
    fine = kmeans_subspace_codebook(res, n_sub=4, sub_dim=16, k=8, iters=2)
    kw = dict(cents=coarse, fine_cents=fine, coarse_metric="l2")
    idx_res = build_ivf_pq_index(emb, residual=True, **kw)
    with _pytest.raises(Exception, match="built with params"):
        ivf_pq_topk_serve(
            idx_res, coarse, qs, fine_cents=fine, coarse_metric="l2",
            residual=False,
        ).count()
    idx_raw = build_ivf_pq_index(emb, residual=False, **kw)
    with _pytest.raises(Exception, match="built with params"):
        ivf_pq_topk_serve(
            idx_raw, coarse, qs, fine_cents=fine, coarse_metric="l2",
            residual=True,
        ).count()


@pytest.mark.slow
def test_ivf_pq_refine_full_probe_equals_exact(spark):
    """With every cluster probed and an unbounded shortlist, the refine
    stage degenerates to brute force — ivf_pq_refine_topk must equal
    cosine_topk exactly (the recall ceiling of the refined stack is
    structural, not tuned)."""
    from open_bus_siri_etl_spark.operators.clustering import ivf_pq_refine_topk
    from open_bus_siri_etl_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id BETWEEN 8 AND 15")
    refined = sorted(
        map(
            tuple,
            ivf_pq_refine_topk(
                emb, qs, k=5, shortlist=10**6, n_probe=8
            ).collect(),
        )
    )
    exact = sorted(map(tuple, cosine_topk(emb, qs, k=5).collect()))
    assert refined == exact and refined


@pytest.mark.slow
def test_ivf_pq_residual_append_is_rebuild(spark):
    """Residual codes are still per-row functions of (vector, frozen
    codebooks) — the cluster assignment fixes the re-centering, so the
    append-is-rebuild contract survives residual encoding too."""
    from open_bus_siri_etl_spark.operators.clustering import (
        kmeans_codebook,
        kmeans_subspace_codebook,
    )
    from open_bus_siri_etl_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_residuals,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    coarse = kmeans_codebook(emb, k=8, iters=2)
    res = ivf_residuals(emb, coarse, 8)
    fine = kmeans_subspace_codebook(res, n_sub=4, sub_dim=16, k=8, iters=2)
    kw = dict(cents=coarse, fine_cents=fine, coarse_metric="l2", residual=True)
    part1 = emb.filter("vec_id < 300")
    delta = emb.filter("vec_id >= 300")
    full = sorted(map(tuple, build_ivf_pq_index(emb, **kw).collect()))
    appended = sorted(
        map(
            tuple,
            build_ivf_pq_index(part1, **kw)
            .unionByName(build_ivf_pq_index(delta, **kw))
            .collect(),
        )
    )
    assert full == appended and full


def test_kmeans_chain_sql_iters2_matches_kmeans_clusters(spark):
    """The generated Lloyd chain at iters=2 must return exactly what the
    hand-written kmeans_clusters oracle's Spark twin returns — the
    generator is the general form of the fixed chain, not a new spec."""
    import open_bus_siri_etl_spark.plans.catalog  # noqa: F401 (assembler first)
    from open_bus_siri_etl_spark.operators.clustering import kmeans_assign
    from open_bus_siri_etl_spark.plans.catalog_ann_curation import (
        _kmeans_chain_sql,
    )
    from open_bus_siri_etl_spark.plans.sqlapi import sql_spark

    sf = "/root/testdata/sf0.001"
    via_sql = sorted(
        map(tuple, sql_spark(spark, sf, _kmeans_chain_sql(iters=2)).collect())
    )
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    direct = sorted(map(tuple, kmeans_assign(emb, k=8, iters=2).collect()))
    assert via_sql == direct and via_sql


def test_ivf_pq_serving_defaults_pinned_to_frontier_artifact():
    """Round-10 directive #3: the serving default the code ships
    (IVF_PQ_SERVING_DEFAULTS) must BE the measured frontier knee — the
    cheapest (n_probe, refine_k) clearing the recall bar in the committed
    BENCH_IVFPQ_FRONTIER.json.  If the frontier is re-measured and the
    knee moves, this fails and the constant follows the measurement, not
    the other way around."""
    import json
    import os

    from open_bus_siri_etl_spark.operators.clustering import (
        IVF_PQ_SERVING_DEFAULTS as D,
    )

    path = os.path.join(
        os.path.dirname(__file__), "..", "BENCH_IVFPQ_FRONTIER.json"
    )
    art = json.load(open(path))
    assert art["recall_bar"] == D["recall_bar"]
    assert art["n_centroids"] == D["n_centroids"]
    knee = art["serving_default"]
    assert knee is not None, "no frontier config cleared the recall bar"
    assert (knee["n_probe"], knee["refine_k"]) == (D["n_probe"], D["refine_k"])
    assert knee["recall_at_10"] >= D["recall_bar"]
    # the knee is genuinely the cheapest clearing config
    clearing = [
        r for r in art["rows"] if r["recall_at_10"] >= art["recall_bar"]
    ]
    assert knee["serve_sec"] == min(r["serve_sec"] for r in clearing)


def test_sq8_serving_defaults_pinned_to_tier_artifact():
    """Round-12: the SQ8-refine serving default must BE the measurement —
    the smallest refine shortlist clearing the recall bar at EVERY
    measured tier (clustered_tiers 300k/1M + the 10M scale tier) in the
    committed BENCH_IVFPQ.json, at the shared pruning fraction.  A
    re-measure that moves the knee fails this and the constant follows."""
    import json
    import os

    from open_bus_siri_etl_spark.operators.quantization import (
        SQ8_SERVING_DEFAULTS as D,
    )

    path = os.path.join(os.path.dirname(__file__), "..", "BENCH_IVFPQ.json")
    art = json.load(open(path))
    tiers = list(art["clustered_tiers"]) + [art["sq8_scale_10m"]]
    per_tier = []
    for t in tiers:
        assert abs(t["n_probe"] / t["n_centroids"] - D["pruning_frac"]) < 1e-9
        rows = {r["shortlist"]: r for r in t["sq8_refine"]}
        assert rows[D["shortlist"]]["recall_at_10"] >= D["recall_bar"], t[
            "n_vectors"
        ]
        per_tier.append(rows)
    # the default is genuinely the smallest measured shortlist clearing
    # the bar at ALL tiers
    shortlists = sorted(per_tier[0])
    clearing = [
        s for s in shortlists
        if all(rows[s]["recall_at_10"] >= D["recall_bar"] for rows in per_tier)
    ]
    assert clearing and D["shortlist"] == min(clearing), clearing
    # r13: the residual family is measured at the 10M tier and must NOT
    # beat raw+refine at any shared shortlist (the reason the default
    # carries no residual flag — see SQ8_SERVING_DEFAULTS docstring and
    # the artifact's residual_note).  A re-measure that flips this fails
    # here and the default grows the flag then.
    t10 = art["sq8_scale_10m"]
    assert "residual" not in D
    raw_rows = {r["shortlist"]: r for r in t10["sq8_refine"]}
    res_rows = {r["shortlist"]: r for r in t10["sq8_residual_refine"]}
    for s in set(raw_rows) & set(res_rows):
        assert (
            res_rows[s]["recall_at_10"] <= raw_rows[s]["recall_at_10"] + 0.005
        ), s
    assert t10["sq8_residual"]["recall_at_10"] <= (
        t10["sq8"]["recall_at_10"] + 0.005
    )


@pytest.mark.slow
def test_nearest_forms_equal_crossjoin_on_testdata(spark):
    """Both forms of the nearest-centroid kernel (one map-only scan
    against a driver-held codebook) and the dispatched probe agree with
    the crossJoin+window reference plan (N x K rows CARRYING VECTORS
    through an exchange) on the real embeddings, including the output
    column TYPE, because every path writes the same parquet partition
    layout: a lowest-id codebook below the numpy-form threshold, both
    metrics, any keep (including keep > k), with and without a threaded
    dim (dim=32 < the vector width: the cosine centroid norms fold over
    c[:dim] exactly as the reference's _norm(cent_vec, dim) does), and a
    TRAINED codebook at MATMUL_ASSIGN_MIN_K, whose keep-1 l2 assignment
    build_ivf_pq_index reproduces."""
    import open_bus_siri_etl_spark.operators.similarity as sim
    from open_bus_siri_etl_spark.operators.clustering import kmeans_codebook

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = emb.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
    )

    def rows(d):
        return sorted((r["_id"], r["c"]) for r in d.select("_id", "c").collect())

    def check(cents, keep, dim, metric):
        slow = sim._crossjoin_nearest(df, cents, "c", keep, dim, metric)
        want = rows(slow)
        assert want
        ids, cmat = sim._collect_codebook(cents)
        fast = sim._nearest_centroids(df, cents, "c", keep, dim, metric=metric)
        forms = [
            sim._nearest(
                df, "_id", "_vec", ids, cmat, "c", keep, metric, dim,
                numpy_form=numpy_form,
            )
            for numpy_form in (False, True)
        ]
        for got in [fast] + forms:
            assert dict(got.dtypes) == dict(slow.dtypes), (metric, keep)
            assert rows(got) == want, (metric, keep, dim)
        return fast

    lowest = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_vec"))
    )
    for metric in ("cosine", "l2"):
        for keep, dim in ((2, None), (3, None), (12, None), (2, 64), (2, 32)):
            fast = check(lowest, keep, dim, metric)
            # the expression form is map-only on the probe side
            plan = fast._jdf.queryExecution().executedPlan().toString()
            for bad in ("Join", "Window", "Sort", "Exchange"):
                assert bad not in plan, f"{bad} in keep-{keep} {metric} probe plan"

    k = sim.MATMUL_ASSIGN_MIN_K
    cents = kmeans_codebook(emb.select("vec_id", "embedding"), k=k, iters=2)
    coarse = F.broadcast(sim._slice_codebook(cents, k, "coarse", "t"))
    check(coarse, 1, 64, "l2")
    fine = kmeans_codebook(emb, k=8, iters=2)
    idx = sim.build_ivf_pq_index(
        emb, n_centroids=k, n_sub=4, sub_dim=16, pq_centroids=8,
        cents=cents, fine_cents=fine, coarse_metric="l2", residual=True,
    )
    want = sim._crossjoin_nearest(df, coarse, "c", 1, None, "l2")
    assert {
        r["vec_id"]: r["cluster"]
        for r in idx.select("vec_id", "cluster").distinct().collect()
    } == {r["_id"]: r["c"] for r in want.collect()}


@pytest.mark.slow
def test_pq_codes_forms_equal_crossjoin_on_testdata(spark):
    """PQ encode on the real embeddings: both forms of ``_pq_encode`` and
    the dispatched ``pq_codes_df`` agree row-for-row, on every code AND
    recon_d2, with the crossJoin + n_sub ranking windows + re-join
    reference plan (640M scored rows through one shuffle at the 10M x 64
    tier) — for lowest-id and TRAINED subspace codebooks, below and at
    MATMUL_ASSIGN_MIN_K, and a non-default geometry.  pq_codes_df is
    map-only below the threshold (no join, window or Python worker:
    catalog entries at pq_centroids=8 stay JVM-only), takes the numpy
    form at it, and an empty corpus stays empty."""
    import open_bus_siri_etl_spark.operators.similarity as sim
    from open_bus_siri_etl_spark.operators.clustering import (
        kmeans_subspace_codebook,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def lowest(k):
        return emb.orderBy("vec_id").limit(k).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        )

    k = sim.MATMUL_ASSIGN_MIN_K
    for n_sub, sub_dim, cents in (
        (4, 16, lowest(8)),
        (4, 16, lowest(k)),
        (4, 16, kmeans_subspace_codebook(emb, n_sub=4, sub_dim=16, k=k, iters=2)),
        (2, 32, kmeans_subspace_codebook(emb, n_sub=2, sub_dim=32, k=5, iters=2)),
    ):
        ref = sim._pq_codes_crossjoin(emb, cents, n_sub, sub_dim)
        want = rows(ref)
        ids, cmat = sim._collect_codebook(cents)
        for got in [sim.pq_codes_df(emb, n_sub, sub_dim, cents=cents)] + [
            sim._pq_encode(
                emb, ids, cmat, n_sub, sub_dim, "vec_id", "embedding",
                numpy_form=numpy_form,
            )
            for numpy_form in (False, True)
        ]:
            assert got.dtypes == ref.dtypes
            assert rows(got) == want, (n_sub, len(ids))

    def plan(n):
        return sim.pq_codes_df(emb, 4, 16, n)._jdf.queryExecution().executedPlan().toString()

    assert "MapInPandas" in plan(k)
    for bad in ("Join", "Window", "Exchange", "MapInPandas"):
        assert bad not in plan(8), f"{bad} in inline pq_codes plan"
    assert sim.pq_codes_df(emb.filter(F.col("vec_id") < -1), 4, 16, 8).count() == 0


@pytest.mark.slow
def test_contamination_lsh_restricts_exact_overlap_to_banded_pairs(spark):
    """contamination_lsh == contamination_overlap restricted to pairs
    sharing >= 1 full band (the verification is EXACT, banding only
    gates candidates); a persisted eval index serves the probe, and a
    family-mismatched index raises in-plan."""
    import pytest

    from open_bus_siri_etl_spark.operators.dedup import (
        build_minhash_index,
        contamination_lsh,
        contamination_overlap,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    banded = contamination_lsh(train, ev, min_common=2)
    exact = contamination_overlap(train, ev, min_common=2)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert 0 < banded.count() <= exact.count()
    # every banded row is an exact-overlap row with the same count
    exact_rows = set(key(exact))
    assert set(key(banded)) <= exact_rows
    # persisted index path: same answer
    idx = build_minhash_index(ev)
    assert key(
        contamination_lsh(train, ev, min_common=2, eval_keys=idx)
    ) == key(banded)
    # family mismatch (different perms/bands) raises in-plan
    with pytest.raises(Exception, match="band family|params"):
        contamination_lsh(
            train, ev, min_common=2, perms=32, bands=4, eval_keys=idx
        ).collect()


@pytest.mark.slow
def test_kmeans_codebook_pair_equals_independent_trainers(spark):
    """r14: kmeans_codebook_pair fuses the coarse + subspace trainings
    into one shared init TakeOrdered and ONE update job per Lloyd
    iteration.  Per-side arithmetic is the independent trainers' spec
    verbatim (the coarse side is one more _fused_update side over the
    full vector, the fine sides are kmeans_subspace_codebook's), so
    both returned frames must equal kmeans_codebook /
    kmeans_subspace_codebook EXACTLY — symmetric and asymmetric k, and
    iters > 2 (multi-round carry-forward)."""
    from open_bus_siri_etl_spark.operators.clustering import (
        kmeans_codebook,
        kmeans_codebook_pair,
        kmeans_subspace_codebook,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for (nc, ns, sd, pq, it) in [(8, 4, 16, 8, 2), (5, 2, 32, 8, 3)]:
        c1, f1 = kmeans_codebook_pair(emb, nc, ns, sd, pq, it)
        assert rows(c1) == rows(kmeans_codebook(emb, nc, it))
        assert rows(f1) == rows(kmeans_subspace_codebook(emb, ns, sd, pq, it))

    # undersize input raises like the independent trainers do
    import pytest as _pytest

    with _pytest.raises(Exception, match="min-id init"):
        kmeans_codebook_pair(emb.limit(3), 8, 4, 16, 8, 2)


def test_probe_matmul_equals_crossjoin_above_threshold(spark):
    """Codebooks ABOVE MATMUL_ASSIGN_MIN_K — both metrics, any keep —
    route through the numpy form of the nearest-centroid kernel
    (_nearest): one mapInPandas scan against the driver-held
    codebook, no crossJoin, no rank window, no Exchange/Sort — closing
    the last n x k row explosion on a serve path (the >64-centroid
    cosine fallback).  The kernel's float discipline mirrors the
    crossJoin expressions operand-for-operand (sequential dim folds,
    l2 6dp half-up round, cosine unrounded dot/(qn*cn)), and stable
    argsort over cent_id-sorted rows reproduces the window's
    ties-to-smaller-cent_id — so the probed (id, centroid) multiset,
    the output dtypes, and the _vec passthrough must all equal the
    historical window plan's."""
    import open_bus_siri_etl_spark.operators.similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = sim.MATMUL_ASSIGN_MIN_K + 16  # strictly above the inline bound
    cents = (
        emb.orderBy("vec_id").limit(k)
        .select(F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_vec"))
    )
    df = emb.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
    )

    def rows(d):
        return sorted((r["_id"], r["c"]) for r in d.select("_id", "c").collect())

    for metric in ("cosine", "l2"):
        # 96 > k: the kernel must emit k rows per id like the window plan
        for keep, dim in ((1, None), (2, None), (5, 64), (1, 64), (96, None)):
            fast = sim._nearest_centroids(df, cents, "c", keep, dim, metric=metric)
            plan = fast._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" in plan, (metric, keep)
            for bad in ("Join", "Window", "Sort", "Exchange"):
                assert bad not in plan, f"{bad} in k={k} {metric} probe plan"
            slow = sim._crossjoin_nearest(df, cents, "c", keep, dim, metric)
            assert dict(slow.dtypes) == dict(fast.dtypes), (metric, keep)
            assert rows(fast) == rows(slow) and rows(fast), (metric, keep, dim)
    # _vec passes through byte-identically (the crossJoin output contract)
    got = (
        sim._nearest_centroids(df, cents, "v", 1, None, metric="cosine")
        .select("_id", "_vec")
        .collect()
    )
    want = {r["_id"]: list(r["_vec"]) for r in df.collect()}
    assert {r["_id"]: list(r["_vec"]) for r in got} == want


def test_inline_keepn_probe_null_vector_raises(spark):
    """The expression form's array sort has no deterministic placement
    for NULL scores (the window plan orders NULLs last), so a NULL vector
    must raise in-plan instead of silently yielding a run-varying probe
    set."""
    import pytest

    import open_bus_siri_etl_spark.operators.similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_vec"))
    )
    df = emb.select(
        F.col("vec_id").alias("_id"),
        F.when(F.col("vec_id") % 97 == 3, None)
        .otherwise(F.col("embedding"))
        .alias("_vec"),
    )
    for metric in ("cosine", "l2"):
        bad = sim._nearest_centroids(df, cents, "c", 2, None, metric=metric)
        with pytest.raises(Exception, match="NULL vector"):
            bad.collect()
