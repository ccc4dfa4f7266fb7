"""Analytic windows (enrichment, forward-fill, hopping/rolling windows),
statistics, sketches (count-min, MG, KMV, Bloom), and k-means entries.

Split from the monolithic catalog (round 8); entry bodies are
byte-identical to their pre-split form.  See plans/catalog.py for the
registration-order manifest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .catalog_base import REGISTRY, dec, register, t  # noqa: F401
from .catalog_shared import (  # noqa: F401
    CHUNK_SIZE,
    GAP_MINUTES,
    PACK_BUDGET,
    PACK_STREAMS,
    _IVF_QUANTIZER_CTE,
    _LANGID_SCORES_SQL,
    _LSH_ANN_CTE,
    _LSH_BUCKETS_CTE,
    _POSTINGS_CTE,
    _TOKS,
    _TRIGRAMS,
)

@register(
    "broadcast_enrichment",
    """
    SELECT p_brand, count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    note="J2 broadcast hash enrichment join (the dim-cache lookups, process_snapshot.py:83-111)",
)
def broadcast_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, pa = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity")).cast("double").alias("total_qty"),
        )
    )


@register(
    "late_shipment_priority",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    note="TPC-H Q4 shape: correlated EXISTS as a left-semi join with a "
    "non-equi residual (l_shipdate > o_orderdate rides along the equi key). "
    "One shuffle pair on orderkey, then the agg is map-side-partial on the "
    "tiny priority domain — no part of the plan widens with scale",
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    late = od.join(
        li,
        (od.o_orderkey == li.l_orderkey) & (li.l_shipdate > od.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "top_customers_per_nation",
    """
    SELECT n_name, c_custkey, c_name,
           CAST(revenue_d AS DOUBLE) AS revenue, rnk
    FROM (
        SELECT n_name, c_custkey, c_name, revenue_d,
               row_number() OVER (
                   PARTITION BY n_name
                   ORDER BY revenue_d DESC, c_custkey) AS rnk
        FROM (
            SELECT c_custkey, c_name, n_name,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue_d
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, n_name
        )
    ) WHERE rnk <= 3
    """,
    note="top-k per group: aggregate orders BEFORE joining dims (shuffle "
    "carries one row per customer, not one per order), broadcast the "
    "25-row nation dim, rank inside nation partitions — the window never "
    "sees more than one nation's customers per partition.  Ranking on the "
    "exact DECIMAL sum (cast to DOUBLE only on output) keeps the order "
    "bit-identical to the oracle",
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    rev = (
        od.groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("revenue_d"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue_d"), "c_custkey")
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            F.col("revenue_d").cast("double").alias("revenue"),
            "rnk",
        )
    )


@register(
    "forward_fill_value",
    """
    SELECT event_id, user_id, ts,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
        FROM events
    )
    """,
    note="gap imputation (forward fill / last-observation-carried-forward): "
    "'view' events carry no reading, so their value is carried from the "
    "user's previous non-null row.  One hash exchange on user_id, then the "
    "running last(ignorenulls) frame is a streaming pass over each sorted "
    "partition — state is one scalar per user regardless of history length, "
    "so a 100 TB event log forward-fills in a single shuffle",
)
def forward_fill_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "view", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(v, ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "hopping_window_agg",
    """
    SELECT ws AS window_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
        SELECT event_type, value,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts)
                           - INTERVAL '30 minutes']) AS ws
        FROM events
    )
    GROUP BY ws, event_type
    """,
    note="hopping (sliding) event-time window: 1 h width / 30 min hop, so "
    "every event lands in exactly width/hop = 2 windows.  Spark's window() "
    "expands rows BEFORE the shuffle, but the map-side partial agg folds "
    "them back to one row per (window, type) per task — the exchange "
    "carries the small aggregated state, not 2x the events.  Same plan "
    "shape Structured Streaming uses for its windowed aggs (windowed.py)",
)
def hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "neardup_components",
    f"""
    WITH RECURSIVE {_POSTINGS_CTE},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT a AS node, a AS r FROM edges
        UNION
        SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    comp AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node)
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    note="near-dup CLUSTERS: the pair list (ngram_jaccard_dedup) closed into "
    "connected components via pointer-jumping min-label propagation — "
    "O(log diameter) rounds of edge-list hash joins (operators/dedup.py), "
    "vs the oracle's recursive-CTE reachability closure.  Singleton docs "
    "map to themselves; min doc_id is the cluster canonical, which is the "
    "row a training-prep pipeline keeps",
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delegates to the shared membership pipeline (operators/dedup.py) so
    # this entry and neardup_survivors cannot drift apart
    from ..operators.dedup import neardup_membership

    return neardup_membership(t(spark, sf_dir, "documents"), threshold=0.5)


@register(
    "value_histogram",
    """
    SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(value) AS DOUBLE) AS lo,
           CAST(max(value) AS DOUBLE) AS hi
    FROM events
    GROUP BY 1
    """,
    note="fixed-width histogram: bucket id computed row-side, so this is a "
    "plain hash agg with map-side combine — cardinality = bucket count, not "
    "row count; the 100 TB plan is identical to the 60 k-row plan.  Exact "
    "int counts + min/max (no float summation) keep the oracle bit-safe",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.floor(F.col("value") / 10.0).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )


@register(
    "event_value_correlation",
    """
    SELECT event_type,
           round(corr(value, extract(hour FROM ts)), 6) AS corr_value_hour,
           round(regr_slope(value, extract(hour FROM ts)), 6) AS slope,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    note="statistical aggregates (corr / regression slope per group): both "
    "engines use single-pass co-moment accumulation; results are rounded to "
    "6 dp on BOTH sides because partial-aggregation order legitimately "
    "perturbs the last bits.  Still one shuffle of O(groups) state",
)
def event_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hour = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", hour), 6).alias("corr_value_hour"),
        F.round(
            F.covar_samp("value", hour) / F.var_samp(hour), 6
        ).alias("slope"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "weighted_sample",
    """
    SELECT doc_id, n_chars, ekey
    FROM (
        SELECT doc_id, n_chars,
               round(
                   -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS UBIGINT) + 0.5) / 4294967296.0) / n_chars,
                   9) AS ekey
        FROM documents
    )
    ORDER BY ekey, doc_id
    LIMIT 50
    """,
    note="deterministic weight-proportional sampling (exponential-clock / "
    "A-ES): key = -ln(u)/w with u derived from md5(doc_id) so both engines "
    "draw the SAME uniforms — reruns and engine swaps pick the identical "
    "sample.  Physical plan is TakeOrderedAndProject: each task keeps its "
    "local top-k, the driver merges P*k rows — no global sort, no single "
    "partition; weight here = n_chars (longer docs proportionally likelier)",
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    ekey = F.round(-F.log(u) / F.col("n_chars"), 9)
    return (
        docs.select("doc_id", "n_chars", ekey.alias("ekey"))
        .orderBy("ekey", "doc_id")
        .limit(50)
    )


@register(
    "ngram_top_terms",
    """
    SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS term_freq
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    )
    GROUP BY term
    ORDER BY doc_freq DESC, term_freq DESC, term
    LIMIT 50
    """,
    note="corpus term statistics (document frequency + collection "
    "frequency, top-50): explode tokens → hash agg.  The distinct-doc "
    "count is the expensive half — Spark plans it as a two-level "
    "aggregation (partial distinct inside each task first), so the "
    "shuffle carries (term, doc_id) pairs already deduped per task; the "
    "final top-50 is TakeOrdered, no global sort",
)
def ngram_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("term_freq"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("term_freq"), "term")
        .limit(50)
    )


@register(
    "value_outliers",
    """
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           round((value - mu) / sigma, 6) AS zscore
    FROM events e JOIN stats USING (event_type)
    WHERE abs(round((value - mu) / sigma, 6)) > 3.0
    """,
    note="z-score outlier detection: per-group moments from ONE aggregate "
    "(O(groups) state), broadcast back onto the stream — no window over "
    "the full data, no second shuffle of the events.  round-6dp on both "
    "sides before thresholding so engine float order can't flip a "
    "borderline row",
)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3.0)
    )


@register(
    "tfidf_top_term",
    """
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM terms GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term,
               round(tf * ln(n_docs * 1.0 / df), 6) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, score
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
    note="per-document TF-IDF argmax term: tf and df come from the SAME "
    "exploded (doc,term) set — Catalyst reuses the shuffle; df joins back "
    "as a broadcast (vocabulary ≪ corpus); the argmax window partitions "
    "by doc_id, so no global ordering anywhere.  Scores rounded to 6 dp "
    "BEFORE ranking on both engines, ties broken lexicographically",
)
def tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar, driver-side (one tiny job)
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("term").alias("top_term"), "score")
    )


@register(
    "rolling_active_users",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    wau AS (
        SELECT d.day, count(DISTINCT u.user_id) AS wau_7d
        FROM (SELECT DISTINCT day FROM ud) d
        JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        GROUP BY d.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau_7d
    FROM dau JOIN wau USING (day)
    """,
    note="DAU + rolling 7-day actives.  COUNT(DISTINCT) OVER a sliding "
    "range frame doesn't exist as a streaming window in either engine, and "
    "the naive day x events range join is quadratic.  Scale path: dedup to "
    "(user, day) FIRST (events collapse by orders of magnitude), then each "
    "row contributes to exactly 7 target days via a bounded sequence() "
    "explode — fan-out is a constant 7x of the SMALL set, then one distinct "
    "agg.  100 TB of events never crosses a shuffle un-deduped",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau_7d")
    )
    return dau.join(wau, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau_7d"
    )


@register(
    "kmeans_clusters",
    """
    WITH f AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, i, v FROM f WHERE vec_id < 8),
    d1 AS (
        SELECT f.vec_id, c0.cid,
               round(sum((f.v - c0.v) * (f.v - c0.v)), 6) AS d2
        FROM f JOIN c0 USING (i) GROUP BY 1, 2
    ),
    a1 AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d1) WHERE rn = 1
    ),
    c1 AS (
        SELECT a1.cluster AS cid, f.i, round(avg(f.v), 6) AS v
        FROM f JOIN a1 USING (vec_id) GROUP BY 1, 2
    ),
    d2_ AS (
        SELECT f.vec_id, c1.cid,
               round(sum((f.v - c1.v) * (f.v - c1.v)), 6) AS d2
        FROM f JOIN c1 USING (i) GROUP BY 1, 2
    )
    SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2_) WHERE rn = 1
    """,
    note="distributed k-means (2 Lloyd iterations, k=8): the iterative-"
    "algorithm pattern — centroids are kilobytes of driver state broadcast "
    "into an in-JVM array expression per pass; the update is posexplode + "
    "avg with centroid-sized aggregation state.  Deterministic contract "
    "(min-id init, round-6dp distances/centroids, min-cid ties) makes even "
    "the ITERATIVE op oracle-exact vs fixed-iteration SQL.  Empty-cluster "
    "carry-forward differs from the oracle only if a cluster empties "
    "(cannot happen on this data; documented in operators/clustering.py)",
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_assign

    return kmeans_assign(t(spark, sf_dir, "embeddings"), k=8, iters=2)


@register(
    "trailing_hour_sum",
    """
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY epoch(ts)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS hour_sum
    FROM events
    """,
    note="TIME-range window frame (trailing 1 h per user) — the frame "
    "boundary is an event-time distance, not a row count, so bursts and "
    "gaps are handled correctly where a rows-frame moving average is not.  "
    "Spark evaluates it as one hash exchange + sorted pass with a sliding "
    "two-pointer frame: state per key is the in-frame aggregate, never the "
    "history.  DECIMAL accumulation keeps the sliding sum order-exact",
)
def trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value")).over(w).cast("double").alias("hour_sum"),
    )


@register(
    "value_quantiles_cont",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75
    FROM events GROUP BY event_type
    """,
    note="interpolated (continuous) quantiles per group: both engines "
    "compute (1-f)*lo + f*hi at rank (n-1)p — deterministic given the "
    "sorted group, rounded 6 dp for float-op parity.  Complements "
    "value_quantiles_disc (type-1 discrete) and the approx_percentile "
    "contract test: exact-interpolated / exact-discrete / sketch are the "
    "three quantile modes a pipeline needs",
)
def value_quantiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {p})"), 6).alias(name)
            for p, name in ((0.25, "p25"), (0.50, "p50"), (0.75, "p75"))
        ]
    )


@register(
    "kmeans_cluster_purity",
    """
    WITH f AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, i, v FROM f WHERE vec_id < 8),
    d1 AS (
        SELECT f.vec_id, c0.cid,
               round(sum((f.v - c0.v) * (f.v - c0.v)), 6) AS d2
        FROM f JOIN c0 USING (i) GROUP BY 1, 2
    ),
    a1 AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d1) WHERE rn = 1
    ),
    c1 AS (
        SELECT a1.cluster AS cid, f.i, round(avg(f.v), 6) AS v
        FROM f JOIN a1 USING (vec_id) GROUP BY 1, 2
    ),
    d2_ AS (
        SELECT f.vec_id, c1.cid,
               round(sum((f.v - c1.v) * (f.v - c1.v)), 6) AS d2
        FROM f JOIN c1 USING (i) GROUP BY 1, 2
    ),
    a2 AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d2_) WHERE rn = 1
    ),
    cl AS (
        SELECT a2.cluster, e.label, count(*) AS n
        FROM a2 JOIN embeddings e USING (vec_id)
        GROUP BY 1, 2
    )
    SELECT cluster,
           sum(n) AS size,
           first(label ORDER BY n DESC, label) AS majority_label,
           round(max(n) * 1.0 / sum(n), 6) AS purity
    FROM cl GROUP BY cluster
    """,
    note="clustering evaluation: purity per k-means cluster against the "
    "ground-truth label — the (cluster,label) contingency table is "
    "centroid-x-label-sized aggregation state, so evaluating a 10^9-vector "
    "clustering costs one scan + two tiny aggs.  Majority label via "
    "ordered-arg-min (ties -> smaller label) keeps it deterministic",
)
def kmeans_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_assign

    emb = t(spark, sf_dir, "embeddings")
    assign = kmeans_assign(emb, k=8, iters=2)
    cl = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), "label")
    return (
        cl.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("size"),
            F.min(F.when(F.col("rn") == 1, F.col("label"))).alias(
                "majority_label"
            ),
            F.round(F.max("n") * 1.0 / F.sum("n"), 6).alias("purity"),
        )
    )


def _countmin_est(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """(user_id, est_count) — delegates to the library sketch
    (operators/sketches.py countmin_estimates, the production path with no
    audit column); the catalog entries join the exact count on top for the
    oracle contract."""
    from ..operators.sketches import countmin_estimates

    return countmin_estimates(ev, "user_id", depth=4, width=64)


@register(
    "countmin_user_counts",
    """
    WITH hashed AS (
        SELECT user_id, d,
               CAST(('0x' || substr(md5(d::VARCHAR || '-' || user_id::VARCHAR),
                                    1, 8)) AS UBIGINT) % 64 AS b
        FROM events CROSS JOIN generate_series(0, 3) t(d)
    ),
    counters AS (SELECT d, b, count(*) AS c FROM hashed GROUP BY d, b),
    keys AS (
        SELECT DISTINCT user_id, d, b FROM hashed
    ),
    est AS (
        SELECT user_id, min(c) AS est_count
        FROM keys JOIN counters USING (d, b)
        GROUP BY user_id
    ),
    tru AS (SELECT user_id, count(*) AS true_count FROM events GROUP BY user_id)
    SELECT user_id, est_count, true_count,
           est_count - true_count AS overestimate
    FROM est JOIN tru USING (user_id)
    """,
    note="count-min sketch (d=4 rows x w=64 buckets) with an EXACT oracle: "
    "hash functions derive from md5 so both engines build the identical "
    "sketch, and the estimate (min over rows) is deterministic.  The "
    "counters are 256 cells of map-side-combinable state — the sketch of a "
    "100 TB stream is kilobytes crossing the shuffle, then a broadcast "
    "lookup; est >= true always (one-sided error), visible in the "
    "overestimate column",
)
def countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    est = _countmin_est(spark, ev)
    tru = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    return est.join(tru, "user_id").select(
        "user_id",
        "est_count",
        "true_count",
        (F.col("est_count") - F.col("true_count")).alias("overestimate"),
    )


@register(
    "order_count_distribution",
    """
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT o_custkey, count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    GROUP BY n_orders
    """,
    note="frequency-of-frequency (TPC-H Q13 core): two chained hash aggs — "
    "the first shuffles per-customer partial counts, the second's input is "
    "already one row per customer so its shuffle carries distribution-"
    "sized state.  AQE coalesces the second exchange to a handful of "
    "partitions at any scale",
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = t(spark, sf_dir, "orders")
    per_cust = od.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Heavy hitters: sketch-prune-then-exact-recount (Misra-Gries) and pure
# sketch top-k (count-min).  The 10^10-distinct-keys answer to "top users".
# ---------------------------------------------------------------------------


@register(
    "heavy_hitters_mg",
    """
    WITH tot AS (SELECT count(*) AS n FROM events),
    cnt AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
    SELECT user_id, CAST(cnt AS BIGINT) AS cnt
    FROM cnt CROSS JOIN tot
    WHERE cnt * 256 > n
    ORDER BY cnt DESC, user_id
    LIMIT 20
    """,
    note="heavy hitters via Misra-Gries prune + exact recount: a zero-"
    "shuffle partition-local MG pass (capacity 256, mapInPandas) emits "
    "<= 256 candidate keys per partition with NO false negatives above "
    "N/256 (pigeonhole over the per-partition guarantee), then only the "
    "candidates are exactly recounted — downstream hash-agg state is "
    "candidate-sized, not key-cardinality-sized.  The > N/64 threshold "
    "filter makes the result provably independent of partitioning, which "
    "is why a sketch-based op can have a plain-SQL exact oracle.  Final "
    "top-20 via TakeOrdered (count DESC, key ASC), no global sort",
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import misra_gries_candidates

    ev = t(spark, sf_dir, "events")
    # r14 (guide §1.2/§2.4): ONE sketch pass feeds both downstream needs —
    # the kernel also reports per-partition row counts, the ≤(capacity+1)
    # rows/partition summary is localCheckpoint'ed (bounded, candidate-
    # sized — the CC/cframe lineage pattern), and then BOTH the exact
    # global N and the candidate broadcast read that materialized summary.
    # Replaces a second full events scan (the r13 broadcast-tot aggregate)
    # and the candidates' cross-partition distinct (an Exchange + two
    # HashAggregates a broadcast LEFT SEMI build never needed).  N is
    # exact (sum of per-partition counts), so results are unchanged.
    summary = misra_gries_candidates(
        ev.select("user_id"),
        "user_id",
        capacity=256,
        distinct=False,
        emit_part_rows=True,
    ).localCheckpoint(eager=True)
    tot = summary.agg(F.sum("_part_rows").alias("_n_total"))
    cands = summary.select("user_id")
    cnt = (
        ev.join(F.broadcast(cands), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 256 > F.col("_n_total"))
        .drop("_n_total")
        .orderBy(F.desc("cnt"), "user_id")
        .limit(20)
    )


@register(
    "countmin_topk_users",
    """
    WITH hashed AS (
        SELECT user_id, d,
               CAST(('0x' || substr(md5(d::VARCHAR || '-' || user_id::VARCHAR),
                                    1, 8)) AS UBIGINT) % 64 AS b
        FROM events CROSS JOIN generate_series(0, 3) t(d)
    ),
    counters AS (SELECT d, b, count(*) AS c FROM hashed GROUP BY d, b),
    keys AS (SELECT DISTINCT user_id, d, b FROM hashed),
    est AS (
        SELECT user_id, min(c) AS est_count
        FROM keys JOIN counters USING (d, b)
        GROUP BY user_id
    )
    SELECT user_id, est_count
    FROM est
    ORDER BY est_count DESC, user_id
    LIMIT 20
    """,
    note="count-min + heap top-k: the d=4 x w=64 md5-derived sketch "
    "(shared with countmin_user_counts) ranks keys by estimated count; "
    "the 'heap' is Spark's TakeOrdered over (est DESC, key ASC) — a "
    "k-sized heap per partition merged on the driver, never a global "
    "sort.  Sketch state crossing the shuffle is 256 cells regardless of "
    "data size; md5-exact hashes make even the ESTIMATES oracle-equal",
)
def countmin_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        _countmin_est(spark, ev)
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


@register(
    "kmv_distinct_users",
    """
    WITH h AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 15))
                             AS UBIGINT) AS hv
        FROM events
    ),
    kmin AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
    s AS (SELECT count(*) AS n_ret, max(hv) AS kth FROM kmin)
    SELECT 64 AS k,
           CAST(kth AS BIGINT) AS kth_min_hash,
           CASE WHEN n_ret < 64 THEN CAST(n_ret AS DOUBLE)
                ELSE round(72634054790231359488.0 / CAST(kth AS DOUBLE), 6)
           END AS est_distinct,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS true_distinct
    FROM s
    """,
    note="KMV (k-minimum-values) distinct-count sketch, k=64: hash every "
    "key to a 60-bit md5 fraction, keep the k smallest hashes (TakeOrdered "
    "— k doubles per partition, merged on the driver), estimate "
    "|D| ~= (k-1)/frac(h_(k)) = (k-1)*2^60/h_(k); when fewer than k "
    "hashes are retained the sketch holds the whole set, so the exact "
    "size IS the estimate (the standard small-set rule).  The sketch is "
    "mergeable (union of KMV sets -> take k smallest), which is how "
    "distinct counts compose across 100 TB of shards without a "
    "count-distinct shuffle.  md5 hashing makes the sketch — and hence "
    "the ESTIMATE — identical across engines, so an approximate op gets "
    "an exact oracle; true_distinct shown for the error ratio",
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # library sketch (operators/sketches.kmv_estimate, no audit column) +
    # the oracle's exact-comparison column — not the production path
    from ..operators.sketches import kmv_estimate

    ev = t(spark, sf_dir, "events")
    true_d = ev.select("user_id").distinct().count()  # scalar oracle column
    return kmv_estimate(ev, "user_id", k=64).withColumn(
        "true_distinct", F.lit(true_d).cast("bigint")
    )


@register(
    "bloom_filter_probe",
    """
    WITH build AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    ),
    build_bits AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(d::VARCHAR || '#' || user_id::VARCHAR),
                                    1, 8)) AS UBIGINT) % 1024 AS bit
        FROM build CROSS JOIN generate_series(0, 2) t(d)
    ),
    probe AS (SELECT DISTINCT user_id FROM events),
    probe_bits AS (
        SELECT DISTINCT user_id,
               CAST(('0x' || substr(md5(d::VARCHAR || '#' || user_id::VARCHAR),
                                    1, 8)) AS UBIGINT) % 1024 AS bit
        FROM probe CROSS JOIN generate_series(0, 2) t(d)
    ),
    need AS (SELECT user_id, count(*) AS n_bits FROM probe_bits GROUP BY user_id),
    hit AS (
        SELECT pb.user_id, count(*) AS n_hit
        FROM probe_bits pb JOIN build_bits bb USING (bit)
        GROUP BY pb.user_id
    ),
    pass AS (
        SELECT need.user_id
        FROM need JOIN hit USING (user_id)
        WHERE hit.n_hit = need.n_bits
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM probe)      AS n_probe,
           (SELECT CAST(count(*) AS BIGINT) FROM pass)       AS n_pass,
           (SELECT CAST(count(*) AS BIGINT) FROM build)      AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM pass) -
           (SELECT CAST(count(*) AS BIGINT) FROM build)      AS n_false_positive
    """,
    note="Bloom-filter semi-join pruning, built by hand so both engines "
    "construct the identical filter (3 md5-derived hash positions into "
    "1024 bits): the build side's bitset is ~128 BYTES broadcast to every "
    "probe task, which drops most non-matching rows BEFORE the shuffle — "
    "the manual analog of Spark's runtime row-level bloom pruning "
    "(spark.sql.optimizer.runtime.bloomFilter), made deterministic.  "
    "Membership = all 3 of a key's DISTINCT positions present (a key's "
    "own hashes may collide).  One-sided error by construction: "
    "n_pass >= n_true, gap = false positives",
)
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # library filter (operators/sketches.bloom_prune: surviving probe keys,
    # the production shape) + the oracle's exact count comparison on top —
    # n_probe/n_true are the AUDIT columns, not part of the sketch pass
    from ..operators.sketches import bloom_prune

    ev = t(spark, sf_dir, "events")
    build = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    probe = ev.select("user_id").distinct()
    passed = bloom_prune(build, probe, "user_id", n_bits=1024, depth=3)
    # one lazy plan, zero driver-side actions: three 1-row scalar aggregates
    # cross-joined (broadcast nested loop over single rows) — the driver's
    # collect runs it as a single Spark job instead of 3 eager .count()s
    return (
        probe.agg(F.count(F.lit(1)).cast("bigint").alias("n_probe"))
        .crossJoin(passed.agg(F.count(F.lit(1)).cast("bigint").alias("n_pass")))
        .crossJoin(build.agg(F.count(F.lit(1)).cast("bigint").alias("n_true")))
        .withColumn("n_false_positive", F.col("n_pass") - F.col("n_true"))
    )


@register(
    "kmeans_clusters_k32",
    """
    WITH f AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, i, v FROM f WHERE vec_id < 32),
    d1 AS (
        SELECT f.vec_id, c0.cid,
               round(sum((f.v - c0.v) * (f.v - c0.v)), 6) AS d2
        FROM f JOIN c0 USING (i) GROUP BY 1, 2
    ),
    a1 AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d1) WHERE rn = 1
    ),
    c1 AS (
        SELECT a1.cluster AS cid, f.i, round(avg(f.v), 6) AS v
        FROM f JOIN a1 USING (vec_id) GROUP BY 1, 2
    ),
    d2_ AS (
        SELECT f.vec_id, c1.cid,
               round(sum((f.v - c1.v) * (f.v - c1.v)), 6) AS d2
        FROM f JOIN c1 USING (i) GROUP BY 1, 2
    )
    SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d2_) WHERE rn = 1
    """,
    note="large-k k-means (k=32) on the numpy form of the nearest-centroid "
    "kernel: above EXPR_KERNEL_MAX_K=16 centroids the per-centroid "
    "expression lambda costs more to JIT than to run, so assignment "
    "switches to one numpy distance matrix per Arrow batch (mapInPandas, "
    "partition-local, no shuffle).  Both forms fold dimensions "
    "SEQUENTIALLY and round with one rule, so distances are bit-identical "
    "— same determinism contract, same exact oracle, forms interchangeable "
    "(operators/similarity.py: _use_numpy_form)",
)
def kmeans_clusters_k32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_assign

    return kmeans_assign(t(spark, sf_dir, "embeddings"), k=32, iters=2)
