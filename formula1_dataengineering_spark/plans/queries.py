"""The named query catalog — one entry per operator family from
SURVEY.md §2, expressed Spark-first over the driver's synthetic tables.

Each callable takes ``(spark, sf_dir)`` and returns a **lazy**
DataFrame. Column names are aliased identically in the DuckDB oracle
(``oracles.py``) because the correctness harness hashes values after
sorting columns by name.

Determinism rules (SURVEY §5, §7 hard-part #2):
- every window/rank has a total order (unique tie-break key);
- every float aggregate is rounded at a fixed precision in BOTH engines;
- timestamps leave the engine as epoch micros (bigint) — Spark
  session-TZ vs DuckDB naive-UTC never touches the hash.

Scale notes are inline per query; the general rules: dimension sides
broadcast, facts shuffle at most once per query, filters/projections sit
directly on the scan so Catalyst pushes them into Parquet.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    quality_metrics,
    stopword_hits,
    token_count,
    weighted_char_fingerprint_fast,
)
from ..functions.exactsum import (
    dequantize,
    qsum_sql,
    quantize,
    quantized_sum,
)
from ..caching import managed_cache
from ..functions.timefmt import format_lap_time
from ..operators.asof import asof_join
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_lsh,
    simhash,
)
from ..operators.grid import ordered_group_position
from ..operators.interval import interval_join
from ..operators.ranking import rank1_per_group, topk_per_group
from ..operators.similarity import cosine_topk, ivf_topk, neardup_pairs
from ..sources.catalog import load

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}

#: Queries with no SQL-expressible oracle (driver records rows-only
#: checks for these; keep the set minimal and justified).
NO_ORACLE: set[str] = set()


def query(name: str) -> Callable[[QueryFn], QueryFn]:
    def register(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        return fn

    return register


# --------------------------------------------------------------------------
# Aggregation / projection core (SURVEY §2.2 P1-P11, §2.4 A2/A3/A5)
# --------------------------------------------------------------------------


@query("pricing_summary")
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped grouped aggregation (A2/A5 + derived P1 columns).

    Scale: single hash aggregate with map-side partial aggregation; the
    shipdate filter and 7-column projection push into the Parquet scan.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            quantized_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            quantized_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("sum_disc_price"),
            quantized_sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                6,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query("revenue_by_nation")
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim-join chain (J4): fact ⋈ supplier ⋈ nation ⋈ region.

    Scale: supplier/nation/region are broadcast — zero shuffles for the
    joins, one for the final aggregate. Mirrors the reference's driver/
    color enrichment joins (src/session_object.py:145-147) at TPC shape.
    """
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            quantized_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query("order_priority_buckets")
def order_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bucketing (P15) + null-safe default (F9/P16)."""
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        o.withColumn("price_bucket", bucket)
        .groupBy("o_orderpriority", "price_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            quantized_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


@query("distinct_flag_status")
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct projection (A4) — the engine-side analog of pandas
    ``unique()`` (reference: src/data_processing.py:43-44)."""
    return load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query("rollup_priority_status")
def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — free Spark SQL capability beyond the
    reference surface (SURVEY §2.4 note)."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        quantized_sum(F.col("o_totalprice"), 2).alias("total_price"),
    )


@query("pivot_returnflag_status")
def pivot_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide (U4 — classes.py:86's dict-of-Series transpose)."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.avg("l_quantity"), 4))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("avg_qty_open"),
        F.col("F").alias("avg_qty_filled"),
    )


@query("unpivot_part_measures")
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot to long (U3 — classes.py:86-90's transpose+melt)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', cast(p_size as double), "
            "'retailprice', p_retailprice) as (measure, value)"
        ),
    )


# --------------------------------------------------------------------------
# Ranking / windows (SURVEY §2.5 W1-W5, §2.4 A1)
# --------------------------------------------------------------------------


@query("cheapest_order_per_customer")
def cheapest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin full row per group with tie-break (A1/W1): the fastest-lap
    pattern (reference: src/session_object.py:156-165) on orders."""
    o = load(spark, sf_dir, "orders")
    best = rank1_per_group(
        o,
        "o_custkey",
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
    )
    return best.select("o_custkey", "o_orderkey", "o_totalprice", "o_orderpriority")


@query("top5_orders_per_segment")
def top5_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (W2) with deterministic rank emitted (W3)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return topk_per_group(
        j,
        "c_mktsegment",
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        5,
        keep_rank="rk",
    ).select("c_mktsegment", "o_orderkey", "o_totalprice", "rk")


@query("priority_grid")
def priority_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-group grid assembly (O4 redesign): explicit global
    position instead of ordered concat (src/data_processing.py:287-290)."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM")
    )
    out = ordered_group_position(
        o,
        "o_orderpriority",
        ["1-URGENT", "2-HIGH", "3-MEDIUM"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        position_col="grid_position",
    )
    return out.select("grid_position", "o_orderkey", "o_orderpriority", "o_totalprice")


@query("running_revenue_per_supplier")
def running_revenue_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frame (beyond-reference W extension; the
    reference's TODO list asks for lap-time development, so:318-320)."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_suppkey") <= 3)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        dequantize(
            F.sum(quantize(F.col("l_extendedprice"), 2)).over(w), 2
        ).alias("running_revenue"),
    )


@query("value_delta_per_user")
def value_delta_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() delta per key — the reference's own TODO (position-change
    analytics, src/session_object.py:318-320)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
    )


@query("sessionize_events")
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session; count
    sessions per user. Batch analog of streaming session windows."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = e.withColumn("__new", is_new).withColumn(
        "session_id",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3 J1-J6)
# --------------------------------------------------------------------------


@query("interval_join_user_cohort")
def interval_join_user_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (J1 — laps×stints shape): events land in a cohort
    whose [lo, hi] user_id range they fall into.

    Scale: the cohort table carries an aligned bucket equi-key, so the
    plan is broadcast-hash + range residual, never a nested loop
    (SURVEY §4.3 J1 row)."""
    e = load(spark, sf_dir, "events").withColumn(
        "bucket", F.floor(F.col("user_id") / 30).cast("int")
    )
    reg = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("bucket"),
        F.col("r_name").alias("cohort"),
        (F.col("r_regionkey") * 30).alias("lo"),
        (F.col("r_regionkey") * 30 + 29).alias("hi"),
    )
    j = interval_join(e, reg, point="user_id", lo="lo", hi="hi", on="bucket")
    return j.groupBy("cohort", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query("asof_backward_purchase")
def asof_backward_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join (J2 — tire-stint assignment shape,
    src/session_object.py:55-80): each view event matched to the user's
    most recent purchase at-or-before it."""
    e = load(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value")
    )
    m = asof_join(views, purchases, on="ts", by="user_id", direction="backward")
    return m.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "purchase_id",
        F.round("purchase_value", 2).alias("purchase_value"),
        F.unix_micros("ts_right").alias("purchase_ts_us"),
    )


@query("asof_nearest_error")
def asof_nearest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of nearest join (J3 — telemetry×location shape,
    src/session_object.py:240-250): each click matched to the user's
    nearest error event in time; ties go backward (earlier)."""
    e = load(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = e.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    m = asof_join(clicks, errors, on="ts", by="user_id", direction="nearest")
    return m.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "error_id",
        F.unix_micros("ts_right").alias("error_ts_us"),
    )


@query("customers_without_orders")
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — NOT EXISTS (beyond reference; SURVEY §2.3 notes the
    reference has none, Spark gives it free)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query("segment_active_customers")
def segment_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS) + grouped count."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active_customers"))
    )


@query("customer_has_big_order")
def customer_has_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exists-style boolean flag per key (A6/P17 — the incomplete-data
    flag, src/session_object.py:78)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        (F.count(F.when(F.col("o_totalprice") > 150000, 1)) > 0).alias("has_big_order"),
        F.count("*").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Set ops / scalar functions (SURVEY §2.7, §2.8)
# --------------------------------------------------------------------------


@query("union_hot_cold_items")
def union_hot_cold_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-all of two filtered slices (U1) with a provenance tag —
    order-independent by design (O4 lesson)."""
    li = load(spark, sf_dir, "lineitem")
    hot = li.where(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_linenumber", F.lit("hot").alias("slice")
    )
    cold = li.where(F.col("l_quantity") <= 5).select(
        "l_orderkey", "l_linenumber", F.lit("cold").alias("slice")
    )
    return hot.unionByName(cold)


@query("format_order_runtime")
def format_order_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lap-time formatter (F2/F3) as a column expression over a
    seconds-valued column."""
    o = load(spark, sf_dir, "orders")
    secs = F.col("o_totalprice") / 1000.0
    return o.select(
        "o_orderkey",
        F.round(secs, 3).alias("runtime_s"),
        format_lap_time(secs).alias("runtime_fmt"),
    )


@query("events_tumbling_5min")
def events_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch form of the streaming module's
    query — event-time bucketing, SURVEY §2.9)."""
    e = load(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_micros("ts") / F.lit(300 * 1_000_000)) * 300).cast("bigint")
    return (
        e.withColumn("window_start_s", bucket)
        .groupBy("window_start_s", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# --------------------------------------------------------------------------
# Training-data pipeline: dedup / similarity / text analysis (task brief —
# beyond the reference surface, first-class engine components)
# --------------------------------------------------------------------------


@query("dedup_exact_docs")
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: representative id + copy count per distinct text."""
    d = load(spark, sf_dir, "documents")
    return exact_dedup(d, ["text"], "doc_id").select("keep_id", "n_copies")


@query("minhash_signatures_docs")
def minhash_signatures_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (portable hash family, unigram shingles)."""
    d = load(spark, sf_dir, "documents")
    return minhash_signatures(d, num_hashes=12, shingle_k=1)


@query("minhash_lsh_docs")
def minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with estimated Jaccard.

    Trigram shingles (k=3): unigram shingle sets are near-identical
    across this corpus (one ~3.9k-doc bucket of equal signatures →
    7.7M candidate pairs at sf0.1, 61% of ALL pairs — a useless LSH).
    Proper shingling makes the filter selective: 10.3k candidates,
    ~4× faster, and the pair set actually means "near-duplicate".
    """
    d = load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, num_hashes=12, bands=4, shingle_k=3)


@query("simhash_docs")
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit frequency-weighted SimHash per document."""
    d = load(spark, sf_dir, "documents")
    return simhash(d, num_bits=32)


@query("ngram_jaccard_docs")
def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-set Jaccard over MinHash-LSH candidate pairs.

    Cluster-then-refine, the large-corpus order: trigram-shingle LSH
    bands bound the candidate space (buckets, not corpus²), then each
    candidate is scored exactly with a JVM-side ``array_intersect`` of
    bigram sets. Replaces round 1's per-``source`` all-pairs GEMM,
    whose blocks grow linearly with the corpus.
    """
    d = load(spark, sf_dir, "documents")
    return ngram_jaccard_lsh(
        d, n=2, threshold=0.05, num_hashes=12, bands=4, shingle_k=3
    )


@query("knn_bruteforce")
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 10)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return cosine_topk(q, e, k=5)


@query("knn_ivf_label")
def knn_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5: probe only the query's label cell."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return ivf_topk(q, e, cell_col="label", k=5)


@query("srp_lsh_buckets")
def srp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucket per embedding — the
    LSH-bucketed ANN scale path (probe one bucket, not the corpus).
    Pure map, no shuffle; one GEMM per Arrow batch against 8 seeded
    hyperplanes shared bit-for-bit with the oracle."""
    from ..operators.similarity import default_srp_planes, srp_buckets

    e = load(spark, sf_dir, "embeddings")
    return srp_buckets(e, default_srp_planes())


@query("knn_srp_bucket")
def knn_srp_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 probing only the query's SRP-LSH bucket — the
    data-independent ANN cell structure (no training step, unlike IVF;
    recall trades against 2^n_planes cell granularity)."""
    from ..operators.similarity import default_srp_planes, ivf_topk, srp_buckets

    e = load(spark, sf_dir, "embeddings")
    eb = srp_buckets(e, default_srp_planes(), keep_cols=("embedding",))
    q = eb.where(F.col("vec_id") < 10)
    return ivf_topk(q, eb, cell_col="bucket", k=5)


@query("knn_srp_multiprobe")
def knn_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP ANN top-5: the query's bucket plus every
    1-bit-flip neighbor bucket — recall recovered at 9/256 of the
    brute-force candidate space."""
    from ..operators.similarity import default_srp_planes, srp_multiprobe_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return srp_multiprobe_topk(q, e, default_srp_planes(), k=5)


@query("embedding_neardup")
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within label buckets, cosine >= 0.25."""
    e = load(spark, sf_dir, "embeddings")
    return neardup_pairs(e, bucket_col="label", threshold=0.25)


@query("embedding_knn_triangles")
def embedding_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph + exact triangle enumeration — the cluster-
    density substrate for embedding-space dedup analysis: an edge iff
    two vectors are RECIPROCAL cell-bounded cosine top-3 neighbors,
    then every triangle (tight 3-clique of near-neighbors) emitted
    once via degree orientation.

    Scale: the kNN self-join shuffles by label cell only (never
    collects the corpus as a GEMM query side); orientation bounds
    wedge fan-out by arboricity — see operators/similarity.py
    mutual_knn_edges and operators/graph.py triangle_count."""
    from ..operators.graph import triangle_count
    from ..operators.similarity import mutual_knn_edges

    e = load(spark, sf_dir, "embeddings")
    return triangle_count(mutual_knn_edges(e, k=3))


@query("doc_quality")
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score signals per document (length/punct/stopword)."""
    d = load(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return d.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        F.round(m["avg_token_len"], 4).alias("avg_token_len"),
        F.round(m["punct_ratio"], 4).alias("punct_ratio"),
        F.round(m["stopword_ratio"], 4).alias("stopword_ratio"),
    )


@query("doc_language_id")
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID from stopword hits (en/de/fr/und)."""
    from ..functions.text import langid_prediction

    d = load(spark, sf_dir, "documents")
    en = stopword_hits(F.col("text"), STOPWORDS["en"])
    return d.select(
        "doc_id",
        "lang",
        langid_prediction(F.col("text")).alias("pred_lang"),
        en.alias("en_hits"),
    )


@query("doc_fingerprint")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling-hash fingerprint per document."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", weighted_char_fingerprint_fast(F.col("text")).alias("fingerprint")
    )


@query("token_stats_by_source")
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count statistics per source (corpus accounting)."""
    d = load(spark, sf_dir, "documents")
    tc = token_count(F.col("text"))
    return (
        d.withColumn("__tc", tc)
        .groupBy("source")
        .agg(
            F.sum("__tc").cast("bigint").alias("total_tokens"),
            F.round(F.avg("__tc"), 4).alias("avg_tokens"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.count("*").alias("n_docs"),
        )
    )


@query("tfidf_top_terms")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smooth idf) — keyword
    extraction / quality filtering signal for the training pipeline."""
    from ..functions.text import tf_idf_top_terms

    d = load(spark, sf_dir, "documents")
    return tf_idf_top_terms(d, k=5)


@query("deterministic_event_sample")
def deterministic_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (k=3) per-event-type sample whose membership is a pure
    function of (event_id, seed) — reproducible across runs, partition
    layouts, and engines (portable multiplicative hash), unlike rand()
    sampling. The inspection-sample primitive for corpus QA."""
    from ..operators.sampling import deterministic_sample_per_group

    e = load(spark, sf_dir, "events")
    return deterministic_sample_per_group(
        e, "event_type", "event_id", k=3, seed=7, portable=True
    ).select("event_type", "event_id", "user_id", F.round("value", 4).alias("value"))


@query("sketch_profile_by_type")
def sketch_profile_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type sketch profile, fully hash-verifiable (round-2 VERDICT
    item 2): KMV approximate distinct users (k=64 minimum portable
    MD5-48 hashes — any engine replays the estimate bit-for-bit) +
    p50/p95 over a deterministic 1-in-4 hash sample of rows + exact
    count. The HLL++/t-digest fast path stays available as
    ``sampling.sketch_profile`` (unit-tested accuracy bounds); this
    gate proves the sketch MATH, not engine internals."""
    from ..operators.sampling import kmv_sketch_profile

    e = load(spark, sf_dir, "events")
    return kmv_sketch_profile(
        e, "event_type", "value", id_col="user_id", row_id_col="event_id",
        k=64, sample_mod=4,
    )


# --------------------------------------------------------------------------
# Scale path: dedup clustering, IVF training, skew, distribution stats
# --------------------------------------------------------------------------


@query("neardup_clusters")
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS per document — the keep/drop decision a real
    dedup pipeline acts on. LSH-bucket star edges (linear in corpus
    size, never the quadratic pair set) + iterative connected
    components (min-label propagation); singletons keep their own id."""
    from ..operators.dedup import minhash_lsh_clusters

    d = load(spark, sf_dir, "documents")
    return minhash_lsh_clusters(d, num_hashes=12, bands=4, shingle_k=3)


@query("label_centroids")
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors, long form
    (label, dim_idx, centroid). The IVF training step: centroids are
    the coarse cells ``ivf_topk`` probes. posexplode keeps the
    arithmetic JVM-side; one shuffle on (label, dim_idx)."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim_idx", "v"))
        .groupBy("label", "dim_idx")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


@query("value_percentiles_by_type")
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of event value per event type (distribution
    stats for pipeline monitoring). Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share linear-interpolation semantics."""
    e = load(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.25, 0.5, 0.75]))
    return (
        e.groupBy("event_type")
        .agg(pct.alias("__p"))
        .select(
            "event_type",
            F.round(F.element_at("__p", 1), 4).alias("p25"),
            F.round(F.element_at("__p", 2), 4).alias("p50"),
            F.round(F.element_at("__p", 3), 4).alias("p75"),
        )
    )


@query("events_sliding_10m_5m")
def events_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (10 min window, 5 min slide) — batch
    form of the streaming module's ``sliding_value_sums``. Each event
    lands in exactly two windows; Spark's ``window`` generates both
    JVM-side."""
    e = load(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query("salted_user_event_totals")
def salted_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join via the explicit salting strategy (skew path),
    then per-segment totals. Semantically identical to the plain
    equi-join — which is exactly what the oracle runs — so the salt's
    semantic transparency is itself under test."""
    from ..operators.skew import salted_join

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        o, c.withColumnRenamed("c_custkey", "o_custkey"), ["o_custkey"], n_salt=8
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        quantized_sum(F.col("o_totalprice"), 2).alias("total_price"),
    )


@query("media_feature_stats")
def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → opaque binary media
    column (deterministic fake payload) → mapInPandas feature
    extraction → per-kind feature stats. The decode step is the
    container-stubbed fake (sources.multimodal), but the recipe is pure
    IEEE float64/float32 arithmetic on integer-valued byte sums, so the
    DuckDB oracle reproduces the float32 vectors bit-exactly — this is a
    full hash-matched row, not rows-only."""
    from ..sources.multimodal import demo_media_from_documents, extract_features

    d = load(spark, sf_dir, "documents")
    media = demo_media_from_documents(d)
    feats = extract_features(media, fake=True)
    vec = F.aggregate(
        F.col("features"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    return (
        feats.withColumn("__sq", vec)
        .withColumn("__f0", F.element_at("features", 1))
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.round(F.avg("__sq"), 4).alias("avg_sq_norm"),
            F.round(F.avg("__f0"), 6).alias("avg_f0"),
        )
    )


@query("cube_flag_status")
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all grouping-set combos
    (rollup's sibling; Catalyst expands to a single shuffle)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query("ntile_price_quartiles")
def ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment of orders by price within each priority
    (ntile window) + per-quartile aggregates."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


@query("parts_above_brand_avg")
def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts priced above their brand's average — the correlated-
    scalar-subquery shape, decorrelated into a window aggregate (one
    shuffle on brand, no per-row subquery execution)."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    # Emit the brand SUM + COUNT, not the rounded average: an average of
    # doubles is sum-order-sensitive in its last ulp, and at sf0.01 one
    # brand landed exactly on a round-to-4dp boundary (…9375 vs …9380).
    # The predicate still uses the exact window average — a 2-decimal
    # price can't equal it, so membership is order-stable.
    return (
        p.withColumn("brand_avg", F.avg("p_retailprice").over(w))
        .withColumn("brand_total", F.sum("p_retailprice").over(w))
        .withColumn("n_in_brand", F.count("*").over(w))
        .where(F.col("p_retailprice") > F.col("brand_avg"))
        .select(
            "p_partkey",
            "p_brand",
            "p_retailprice",
            F.round(F.col("brand_total"), 2).alias("brand_total"),
            "n_in_brand",
        )
    )


@query("props_json_stats")
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON props
    column and aggregate per event type (the raw-API-dump path — the
    reference decodes JSON at ingestion; a lakehouse keeps it and
    extracts lazily). ``get_json_object`` runs JVM-side; at scale
    prefer ``from_json`` with an explicit schema once fields stabilize."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("__k", k)
        .groupBy("event_type")
        .agg(
            F.count("__k").alias("n_with_k"),
            F.round(F.avg("__k"), 4).alias("avg_k"),
            F.max("__k").alias("max_k"),
        )
    )


@query("python_datasource_scan")
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source API surface (Spark 4): a custom batch source
    registered via ``spark.dataSource.register`` with partition
    planning AND filter pushdown — the pushed type equality and id
    bound are consumed inside the source (rows never materialize);
    unsupported predicates come back to Spark. Fixed 20k-row synthetic
    generator (pure integer arithmetic), so the oracle reproduces every
    row from ``range()`` — sf-independent like the streaming
    fixed-cost gates. See sources/pydatasource.py for the contracts.

    Scale: partition-planned generation parallelizes like a file scan;
    pushdown shrinks the generated range server-side — the same two
    contracts a production custom connector (internal service, bespoke
    format) needs."""
    from ..session import scoped_conf
    from ..sources.pydatasource import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)
    # pushFilters() needs the flag at COLLECT time, so a lazily-returned
    # frame would force leaving it set on the shared session (ADVICE r7:
    # every later gate then runs under a conf this gate changed). The
    # aggregate is bounded (#buckets rows), so materialize it inside the
    # scoped conf and return a local frame — the flag is restored before
    # the gate returns, and the pushdown path still executes for real.
    # This is NOT redundant with the get_spark bootstrap pin: the
    # external driver (and verify_drive) build PLAIN sessions where the
    # flag defaults to false, so the gate must be self-contained there;
    # the bootstrap pin covers repo-built sessions so the restore here
    # is a no-op for them.
    lazy = None
    with scoped_conf(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        lazy = (
            spark.read.format("synthetic_events")
            .option("n_rows", 20_000)
            .option("n_partitions", 8)
            .load()
            .where((F.col("typ") == "click") & (F.col("id") >= 500))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("val"), 3).alias("sum_val"),
                F.max("id").alias("max_id"),
            )
        )
        rows = lazy.collect()
    return spark.createDataFrame(rows, schema=lazy.schema)


@query("arrow_embedding_norms")
def arrow_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface — pyarrow-native batch processing with NO
    pandas materialization: L2 norms reduced zero-copy over the Arrow
    value/offset buffers (functions/vectors.py norms_map_in_arrow).
    Scale: pure scan-stage narrow transform, one Arrow round trip per
    batch."""
    from ..functions.vectors import norms_map_in_arrow

    e = load(spark, sf_dir, "embeddings")
    return norms_map_in_arrow(e).select(
        "vec_id", F.round("norm", 6).alias("norm")
    )


@query("python_sink_roundtrip")
def python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source WRITER surface: the documents projection is
    written through the custom ``jsonl_manifest`` sink (two-phase
    commit: tasks stage temp files → driver commit publishes parts +
    manifest; see sources/pydatasource.py JsonlManifestWriter), read
    BACK from the manifest-listed part files with a declared schema,
    and aggregated per source. The hash match proves write → commit →
    publish → read fidelity end-to-end; ``manifest_total`` (the
    committed row count from the manifest itself, not the data) rides
    every hashed row.

    Scale: one staged file per task, O(#tasks) driver commit — the
    Hadoop/Iceberg-shaped batch-commit contract for connector-less
    sinks."""
    import json
    import os
    import shutil
    import tempfile

    from ..sources.pydatasource import JsonlManifestDataSource

    spark.dataSource.register(JsonlManifestDataSource)
    out = tempfile.mkdtemp(prefix="spark_graft_pysink_")
    try:
        (
            load(spark, sf_dir, "documents")
            .select("doc_id", "source")
            .write.format("jsonl_manifest")
            .option("path", out)
            .mode("append")
            .save()
        )
        with open(os.path.join(out, "_MANIFEST.json")) as fh:
            manifest_total = sum(p["rows"] for p in json.load(fh)["parts"])
        back = spark.read.schema("doc_id long, source string").json(
            os.path.join(out, "part-*.jsonl")
        )
        rows = [
            (r["source"], r["n_docs"], manifest_total)
            for r in back.groupBy("source")
            .agg(F.count("*").alias("n_docs"))
            .collect()
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "source string, n_docs bigint, manifest_total bigint"
    )


@query("python_stream_source_totals")
def python_stream_source_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python STREAMING Data Source surface: a
    ``SimpleDataSourceStreamReader`` generates 3 offset-managed
    micro-batches (JSON-dict offsets, Kafka-shaped), a complete-mode
    aggregation consumes them to end-of-stream (empty batch at a fixed
    offset = caught up), and the per-key totals hash against the
    closed-form oracle. ``readBetweenOffsets`` — the checkpoint's
    crash-replay contract — is exercised directly by test.

    Scale: fixed-cost like the other streaming gates; the offset
    contract (advance / replay committed ranges deterministically) is
    exactly what a production Python connector to an internal feed
    must implement."""
    import time
    import uuid

    from ..sources.pydatasource import (
        STREAM_TOTAL,
        SyntheticStreamDataSource,
    )

    from ..session import int_conf, scoped_conf

    spark.dataSource.register(SyntheticStreamDataSource)
    sink = f"pystream_{uuid.uuid4().hex[:8]}"
    # Cap state partitions at stream START (the run_to_completion
    # idiom): 7 keys through 32 state stores per micro-batch is pure
    # fixed cost — measured 4.3 s -> ~2 s in the bench session.
    confs = {}
    cur = int_conf(spark, "spark.sql.shuffle.partitions")
    if cur is not None:
        confs["spark.sql.shuffle.partitions"] = str(min(cur, 4))
    with scoped_conf(spark, confs):
        q = (
            spark.readStream.format("synthetic_stream")
            .load()
            .groupBy("k")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("val"), 2).alias("sum_val"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = spark.sql(
                f"SELECT coalesce(sum(n), 0) FROM {sink}"
            ).first()[0]
            if got == STREAM_TOTAL:
                break
            time.sleep(0.05)
        else:
            raise TimeoutError(
                f"python stream source never reached {STREAM_TOTAL} rows"
            )
    finally:
        q.stop()
    # ≤7 rows: materialize so the sink view can be dropped.
    rows = [tuple(r) for r in spark.sql(f"SELECT * FROM {sink}").collect()]
    spark.catalog.dropTempView(sink)
    return spark.createDataFrame(rows, "k int, n bigint, sum_val double")


@query("value_gini_by_type")
def value_gini_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDAF surface (GROUPED_AGG pandas_udf, the Series→scalar
    aggregate form): per-event-type Gini coefficient of the value
    distribution — a group-bounded inequality statistic Spark has no
    built-in for. Completes the §2.10 Python-execution trio
    (UDF/UDAF/UDTF) with the grouped-aggregate mode.

    Scale: grouped-agg UDFs are whole-group (no partial aggregation),
    so the contract is #groups small / group size shuffle-bounded —
    exactly this shape (5 event types). The companion n_values rides
    the same aggregate; unbounded-group reductions stay on built-ins
    (functions/stats.py docstring)."""
    from ..functions.stats import gini_pandas

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # grouped-agg pandas UDFs cannot share an agg() with built-in
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a
    # separate built-in aggregate, re-joined on the 5-row group key.
    gini = ev.groupBy("event_type").agg(
        F.round(gini_pandas(F.col("value")), 6).alias("gini")
    )
    counts = ev.groupBy("event_type").agg(
        F.count("value").alias("n_values")
    )
    return gini.join(counts, "event_type")


@query("variant_payload_stats")
def variant_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-type surface (Spark 4 semi-structured path): event rows
    are serialized to a nested JSON payload, parsed ONCE into the
    binary VARIANT encoding, and consumed via typed path extraction —
    ``variant_get`` for present paths (nested object ``$.m.v`` /
    ``$.m.u``), ``try_variant_get`` probing a missing path (must be
    NULL for every row, pinned as ``n_missing``). The hash match
    against the ground-truth aggregate proves the JSON → variant →
    typed round trip is value-exact, including null-field omission
    (``to_json`` drops null values; ``variant_get`` yields NULL back).

    Scale: this is the 100 TB schema-on-read contract — parse the
    payload to variant once at ingest, store the binary, and let every
    downstream query do typed O(path) extraction instead of re-parsing
    strings; extraction is a codegen'd JVM expression (plan: the whole
    parse+extract pipeline rides the scan stage; one aggregate
    exchange)."""
    ev = load(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(
                F.col("value").alias("v"), F.col("user_id").alias("u")
            ).alias("m"),
        )
    )
    return (
        ev.select(F.parse_json(payload).alias("var"))
        .select(
            F.variant_get("var", "$.t", "string").alias("t"),
            F.variant_get("var", "$.m.v", "double").alias("val"),
            F.variant_get("var", "$.m.u", "bigint").alias("uid"),
            F.try_variant_get("var", "$.missing", "int").alias("miss"),
        )
        .groupBy("t")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("val"), 2).alias("sum_v"),
            F.sum("uid").alias("sum_u"),
            F.sum(F.when(F.col("miss").isNull(), 1).otherwise(0)).alias(
                "n_missing"
            ),
        )
    )


@query("normalized_embeddings")
def normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize embeddings, long form (vec_id, dim_idx, nval) —
    the preprocessing step before cosine reduces to a dot product.
    Elements are upcast to double BEFORE squaring on both engines so
    float32 arithmetic can't diverge between Spark and the oracle.
    The norm uses the Arrow-batched kernel: the HOF ``aggregate`` form
    is interpreted per element (32k vecs x 64 dims = 2M lambda steps,
    measured ~3x slower end-to-end on this query)."""
    from ..functions.vectors import l2_norm_pandas

    e = load(spark, sf_dir, "embeddings")
    norm = l2_norm_pandas(F.col("embedding"))
    return (
        e.select("vec_id", norm.alias("__n"), F.posexplode("embedding").alias("dim_idx", "v"))
        .where(F.col("__n") > 0)
        .select(
            "vec_id",
            "dim_idx",
            F.round(F.col("v").cast("double") / F.col("__n"), 6).alias("nval"),
        )
    )


@query("sql_top_revenue_nations")
def sql_top_revenue_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-SQL surface: same engine, ``spark.sql`` entrypoint over
    temp views (CTE + join + window). Everything else in the catalog is
    DataFrame-API; this proves the SQL front door resolves against the
    same tables and optimizer."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    load(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        f"""
        WITH rev AS (
          SELECT n.n_name,
                 {qsum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
          FROM v_lineitem l
          JOIN v_supplier s ON l.l_suppkey = s.s_suppkey
          JOIN v_nation n   ON s.s_nationkey = n.n_nationkey
          GROUP BY n.n_name
        )
        SELECT n_name, revenue,
               CAST(row_number() OVER (ORDER BY revenue DESC, n_name ASC) AS INT) AS rk
        FROM rev
        ORDER BY rk
        """
    )


@query("regex_token_stats")
def regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (task brief): split on word/number/
    punctuation-run boundaries instead of whitespace, then per-source
    token accounting. The regex runs JVM-side (``regexp_extract_all``-
    equivalent via split on the complement)."""
    d = load(spark, sf_dir, "documents")
    # tokens = maximal runs of [a-z0-9]+ lowercased — a subword-friendly
    # normal form (punctuation and whitespace both act as boundaries)
    toks = F.array_remove(F.split(F.lower("text"), r"[^a-z0-9]+"), "")
    return (
        d.withColumn("__n", F.size(toks))
        .withColumn("__distinct", F.size(F.array_distinct(toks)))
        .groupBy("source")
        .agg(
            F.sum("__n").cast("bigint").alias("total_tokens"),
            F.round(F.avg("__n"), 4).alias("avg_tokens"),
            F.round(F.avg(F.col("__distinct") / F.col("__n")), 4).alias("avg_ttr"),
        )
    )


@query("quantized_embeddings")
def quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings, long form — the
    storage/bandwidth lever for ANN at 100 TB (4× smaller vectors,
    dot products in integer SIMD). scale = max|x| per vector; values
    map to round(x/scale*127), clamped."""
    e = load(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    q = F.col("v").cast("double") / F.col("__s") * 127.0
    return (
        e.select(
            "vec_id",
            absmax.cast("double").alias("__s"),
            F.posexplode("embedding").alias("dim_idx", "v"),
        )
        .where(F.col("__s") > 0)
        .select(
            "vec_id",
            "dim_idx",
            F.greatest(
                F.lit(-127), F.least(F.lit(127), F.round(q, 0).cast("int"))
            ).alias("qval"),
        )
    )


# --------------------------------------------------------------------------
# Classic analytic shapes round 2: fact-fact joins, grouping sets, outer
# joins of aggregates, distribution windows, range frames, array profiles
# --------------------------------------------------------------------------


@query("shipping_priority_top10")
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: customer ⋈ orders ⋈ lineitem with opposed date
    filters, revenue per order, global top-10.

    Scale: the orders⋈lineitem join is the one real shuffle (both sides
    hash on orderkey); the segment-filtered customer side broadcasts
    under AQE. The global top-10 is a TakeOrderedAndProject — each
    partition keeps 10 rows, no full sort ever materializes.
    """
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust.select("c_custkey"), orders.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            quantized_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query("nation_market_share")
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped conditional aggregation: one nation's share of
    yearly supplier revenue. Emits numerator and denominator as
    order-stable rounded sums plus the ratio.

    Scale: lineitem⋈orders is a fact-fact shuffle join on orderkey;
    supplier/nation broadcast. One aggregate keyed by year (tiny key
    space → map-side partials collapse almost everything).
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("n_name") == "NATION_3", rev).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            quantized_sum(target, 4).alias("nation_rev"),
            quantized_sum(rev, 4).alias("total_rev"),
        )
        .withColumn(
            "share", F.round(F.col("nation_rev") / F.col("total_rev"), 6)
        )
    )


@query("grouping_sets_revenue")
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the catalog's ROLLUP/CUBE): per-
    returnflag totals, per-linestatus totals, and the grand total in one
    pass. NULL group cells are labeled 'ALL' so the hash is unambiguous.

    Scale: Spark expands grouping sets into one Expand + single hash
    aggregate — one shuffle regardless of how many sets are listed.
    """
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               {qsum_sql("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
               count(*) AS n_items
        FROM {{li}}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=li,
    )


@query("nation_activity_full_outer")
def nation_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two independent per-nation aggregates
    (customer-side vs supplier-side), null-coalesced — the one outer-join
    flavor the catalog lacked.

    Scale: both inputs aggregate to ≤|nation| rows before the join, so
    the full-outer join runs on two tiny pre-aggregated sides; at 100 TB
    the aggregates shuffle once each and the join itself is trivial.
    """
    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "MACHINERY")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_customers"),
            quantized_sum(F.col("c_acctbal"), 2).alias("cust_balance"),
        )
    )
    sup = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_suppliers"),
            quantized_sum(F.col("s_acctbal"), 2).alias("supp_balance"),
        )
    )
    return cust.join(sup, "nationkey", "full_outer").select(
        F.col("nationkey").cast("int").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("cust_balance", F.lit(0.0)).alias("cust_balance"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        F.coalesce("supp_balance", F.lit(0.0)).alias("supp_balance"),
    )


@query("supplier_balance_distribution")
def supplier_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist within nation — the distribution window
    functions (complements the catalog's ntile/row_number coverage).
    Ties share a value in both functions, so the output is deterministic
    without a tie-break column.

    Scale: one shuffle on the partition key; each nation's partition
    sorts locally. Skew-safe — supplier spreads evenly across nations.
    """
    sup = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal")
    return sup.select(
        "s_suppkey",
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
        "s_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


@query("hourly_moving_value")
def hourly_moving_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per-user moving 1-hour sum/count over the
    event stream — the sliding-window-per-row shape (vs the catalog's
    bucketed tumbling/sliding windows).

    Scale: one shuffle on user_id; the range frame scans each partition
    once with a two-pointer frame, no self-join blowup.
    """
    e = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("hour_value"),
        F.count("*").over(w).alias("hour_events"),
    )


@query("user_event_type_profile")
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-aggregation profile per user: distinct event types as a
    sorted CSV string (deterministic stand-in for the array), grouped
    count-distinct, and totals.

    Scale: collect_set + count_distinct share one shuffle on user_id;
    the set is bounded by |event_type| (5), so no group blows up.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "types_csv"
        ),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query("monthly_revenue_trend")
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc month buckets + lag() month-over-month delta — the
    calendar-bucket flavor of time aggregation (vs duration-based
    tumbling windows).

    Scale: aggregate keyed by month (~80 groups) collapses map-side;
    the trend window then runs on one tiny partition. The global
    orderBy on ~80 rows is free.
    """
    orders = load(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    agg = orders.groupBy(month.alias("month")).agg(
        quantized_sum(F.col("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("month")
    return agg.select(
        F.unix_micros("month").alias("month_us"),
        "revenue",
        "n_orders",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias(
            "mom_delta"
        ),
    )


@query("decile_value_spread")
def decile_value_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level window composition: ntile(10) deciles of order value
    per priority class, then min/max/count per decile — windows feeding
    a grouped aggregate.

    Scale: one shuffle for the ntile window (partition by priority),
    one for the re-aggregate; both keyed small.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(10).over(w).cast("int").alias("decile"),
        )
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.count("*").alias("n_orders"),
        )
    )


@query("media_decode_stats")
def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-exact oracle over the multimodal DECODE plumbing: documents
    → binary payloads → ``mapInPandas`` pseudo-decode (byte count,
    checksum, pseudo dims) → per-kind aggregate. The corpus is pure
    ASCII, so DuckDB reproduces the byte arithmetic from the text
    itself — this pins the Arrow batch path value-for-value, unlike the
    rows-only feature-vector check.

    Scale: decode streams one Arrow batch at a time (no payload ever
    collects); the aggregate shuffles 3 groups.
    """
    from ..sources.multimodal import decode_media, demo_media_from_documents

    d = load(spark, sf_dir, "documents")
    decoded = decode_media(demo_media_from_documents(d), fake=True)
    return decoded.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("checksum").alias("sum_checksum"),
        F.round(F.avg("width"), 4).alias("avg_width"),
        F.round(F.avg("height"), 4).alias("avg_height"),
    )


@query("video_frame_sample")
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (1 row in → k frames out via ``mapInPandas``),
    verified value-exactly: per-video frame count and total sampled
    bytes follow from the payload length alone, so DuckDB can predict
    them without decoding.

    Scale: the explode happens inside the Arrow batch — no JVM-side
    row blowup before the aggregate; output is one row per video.
    """
    from ..sources.multimodal import demo_media_from_documents, sample_frames

    d = load(spark, sf_dir, "documents")
    frames = sample_frames(
        demo_media_from_documents(d), every_n_bytes=256, max_frames=8
    )
    return frames.groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum(F.octet_length("frame_payload")).alias("frame_bytes"),
    )


@query("part_segment_set_ops")
def part_segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (absent from the reference, free
    in Spark SQL — SURVEY §2.7 note): parts bought by BUILDING-segment
    customers vs MACHINERY-segment customers, labeled by membership.

    Scale: ONE pass over lineitem⋈orders (shuffle on orderkey) with a
    two-segment broadcast filter, distinct-reduced to (partkey, segment)
    pairs; both set-op inputs are filters over that shared subplan, so
    the fact join never executes twice (measured 1.13 s → 0.80 s at
    sf0.1 vs the join-per-segment form). The INTERSECT/EXCEPT then
    operates on two already-small key sets, not on fact rows.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select("l_partkey", "c_mktsegment")
        .distinct()
    )
    building = pairs.where(F.col("c_mktsegment") == "BUILDING").select("l_partkey")
    machinery = pairs.where(F.col("c_mktsegment") == "MACHINERY").select("l_partkey")
    return (
        building.intersect(machinery)
        .withColumn("membership", F.lit("both"))
        .unionByName(
            building.subtract(machinery).withColumn(
                "membership", F.lit("building_only")
            )
        )
    )


@query("supplier_rank_tiers")
def supplier_rank_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() vs dense_rank() with REAL ties: suppliers ranked by their
    acctbal thousand-bucket within nation — gaps appear in rank but not
    dense_rank, and both are tie-deterministic (equal inputs get equal
    outputs), so no tie-break column is needed.

    Scale: one shuffle on the partition key; per-nation sort is local.
    """
    sup = load(spark, sf_dir, "supplier")
    tier = F.floor(F.col("s_acctbal") / 1000).cast("long")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("bal_tier").desc())
    return (
        sup.select(
            "s_suppkey",
            F.col("s_nationkey").cast("int").alias("s_nationkey"),
            tier.alias("bal_tier"),
        )
        .withColumn("tier_rank", F.rank().over(w))
        .withColumn("tier_dense_rank", F.dense_rank().over(w))
    )


@query("order_value_histogram")
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order values (30 × 20k buckets, top-
    clamped) — the profiling primitive for choosing partition bounds at
    scale. Portable floor arithmetic, no engine-specific functions.

    Scale: single aggregate over ≤30 groups; map-side partials collapse
    nearly all rows before the shuffle.
    """
    o = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 20000).cast("int"), F.lit(29)
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .withColumn("bucket_lo", (F.col("bucket") * 20000).cast("double"))
    )


@query("corpus_selection")
def corpus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus selection — the composition a real
    pretraining data pipeline runs, as ONE lazy plan: exact-dedup
    winners → quality gate (length + stopword density on unrounded
    ratios, deterministic because both engines divide the same
    integers) → near-duplicate drop (exact bigram Jaccard ≥ 0.5 over
    LSH candidate pairs; the higher doc_id of each pair loses).

    Scale: dedup and quality are one pass each over the corpus; the
    near-dup stage is LSH-bounded (candidates from trigram-shingle
    bands, exact scoring via array_intersect — no block whose size
    grows with the corpus). Anti-/semi-joins keep only doc_id keys
    moving between stages. Production would dedup on a content hash
    rather than raw text bytes; grouping semantics are identical.
    """
    d = load(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    winners = exact_dedup(d, ["text"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    losers = (
        ngram_jaccard_lsh(
            d, n=2, threshold=0.5, num_hashes=12, bands=4, shingle_k=3
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        d.join(winners, "doc_id", "left_semi")
        .where((m["n_tokens"] >= 12) & (m["stopword_ratio"] >= 0.04))
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "source", "lang", m["n_tokens"].alias("n_tokens"))
    )


@query("asof_forward_error")
def asof_forward_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of FORWARD join — the remaining direction of the as-of family
    (backward and nearest are covered elsewhere): each purchase matched
    to the user's next error event at-or-after it, i.e. "did the
    purchase precede a failure".

    Scale: same single-shuffle union strategy as backward — both sides
    hash-partition on user_id once; the direction only flips the
    window's ordering.
    """
    e = load(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = load(spark, sf_dir, "events").where(
        F.col("event_type") == "error"
    ).select("user_id", "ts", F.col("event_id").alias("error_id"))
    m = asof_join(purchases, errors, on="ts", by="user_id", direction="forward")
    return m.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "error_id",
        F.unix_micros("ts_right").alias("error_ts_us"),
    )


@query("supplier_ship_span")
def supplier_ship_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group boundary rows — first/last ship time and the
    second-ranked orderkey (W5: the reference's ``iloc[0]`` /
    ``iloc[-1]`` axis-limit lookups, src/session_object.py:305,
    src/data_visualization.py:42-45), with a total order so ties can't
    flip the hash.

    Scale: expressed as grouped min/max/min-struct aggregates re-joined
    to the fact rows instead of first_value/last_value over an
    unbounded window frame. The window form was round 1's steepest
    10×-scale outlier (3.6×): it shuffles AND fully sorts every
    lineitem partition. Here lineitem is never sorted — the aggregates
    map-side-combine down to one row per supplier, and the re-joins are
    plain equi-joins AQE can broadcast or hash; identical output hash.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_us"),
    )
    # Total order per supplier; (orderkey, linenumber) is a PK so the
    # order is tie-free and the boundary rows are unique.
    key = F.struct("l_shipdate", "l_orderkey", "l_linenumber")
    agg = li.groupBy("l_suppkey").agg(
        F.min("ship_us").alias("first_ship_us"),
        F.max("ship_us").alias("last_ship_us"),
        F.min(key).alias("__s1"),
    )
    # Second-ranked row = min key among rows strictly after the min.
    second = (
        li.join(agg.select("l_suppkey", "__s1"), "l_suppkey")
        .where(key > F.col("__s1"))
        .groupBy("l_suppkey")
        .agg(F.min(key).alias("__s2"))
    )
    return (
        li.join(agg.drop("__s1"), "l_suppkey")
        .join(second, "l_suppkey", "left")
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "ship_us",
            "first_ship_us",
            "last_ship_us",
            F.col("__s2.l_orderkey").alias("second_orderkey"),
        )
    )


@query("price_stats_by_flag")
def price_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — stddev / variance / correlation — the
    moment-based family the rest of the catalog lacks. Both engines use
    numerically stable (Welford-style) accumulation; rounding at 2/4 dp
    absorbs the last-ulp merge-order difference (verified identical at
    sf0.001/0.01/0.1).

    Scale: single hash aggregate with map-side partial moments — the
    same one-shuffle shape as any grouped sum.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_variance"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.count("*").alias("n_items"),
    )


@query("promo_revenue_share")
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: PROMO-part share of revenue per ship month —
    the lineitem⋈part broadcast dim join (the one dim direction the
    catalog didn't yet exercise) feeding a conditional-sum ratio.

    Scale: part broadcasts (it's a dimension); one aggregate shuffle
    keyed by month. Numerator/denominator emitted as order-stable
    rounded sums alongside the ratio.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    month = F.date_trunc("month", F.col("l_shipdate").cast("timestamp"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(month.alias("ship_month"))
        .agg(
            quantized_sum(promo, 4).alias("promo_rev"),
            quantized_sum(rev, 4).alias("total_rev"),
        )
        .select(
            F.unix_micros("ship_month").alias("ship_month_us"),
            "promo_rev",
            "total_rev",
            F.round(F.col("promo_rev") / F.col("total_rev"), 6).alias(
                "promo_share"
            ),
        )
    )


@query("segment_top_customer")
def segment_top_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by argmin-aggregates — the non-window form of A1
    (SURVEY §2.4: `groupBy().agg(min_by)` vs the row_number form used in
    `cheapest_order_per_customer`). Ties are eliminated structurally:
    the ordering key packs (acctbal-in-cents, custkey) into one long, so
    both engines pick the same row without relying on tie behavior.

    Scale: single hash aggregate — no window sort, no second shuffle;
    at 100 TB this is the cheap way to take one extreme row per group.
    """
    c = load(spark, sf_dir, "customer")
    # acctbal has 2 decimals; custkey < 100k at any SF here → unique key.
    ordkey = (F.round(F.col("c_acctbal") * 100, 0).cast("long") * 1_000_000
              + F.col("c_custkey"))
    return (
        c.withColumn("__k", ordkey)
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("c_custkey", F.col("__k")).alias("richest_custkey"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
            F.min_by("c_custkey", F.col("__k")).alias("poorest_custkey"),
            F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Reference flagship lifecycle over driver tables (SURVEY §3.2) — the F1
# qualifying-classification and race-position pipelines, mapped onto the
# events table (event_type→session, user_id→driver, value→sector time,
# ts→lap start) so the reference's own end-to-end shape earns a
# hash-matched driver CORRECTNESS row.
# --------------------------------------------------------------------------


@query("qualifying_grid_events")
def qualifying_grid_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship qualifying lifecycle (reference:
    src/data_processing.py:199-291) run end-to-end on driver data, via
    the SAME f1 code path used for real laps: bucket_qualifying_laps →
    with_actual_lap_time → best-per-driver-per-Q → Q3⊕Q2-elim⊕Q1-elim
    grid assembly (operators/grid.ordered_group_position).

    Mapping: the 'click' event stream is one qualifying session; users
    are drivers; value/3 is each sector duration; event time is
    compressed 1000× from the session start so the fixed Q1/Q2/Q3
    offsets (18+7 / +15+8 min) land inside the data's span. Every step
    is deterministic integer/IEEE arithmetic, so the DuckDB oracle
    reproduces the grid exactly.

    Scale: one broadcast of the 1-row session bounds, two window
    shuffles keyed by (session, qualifying[, driver]) — no global sort
    besides the final ≤20-row grid ORDER BY.
    """
    from ..f1.analytics import qualifying_classification

    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "click")
    bounds = ev.groupBy(F.col("event_type").alias("session_key")).agg(
        F.min("ts").alias("__smin"), F.max("ts").alias("__smax")
    )
    smin_us = F.unix_micros(F.col("__smin"))
    laps = (
        ev.join(
            F.broadcast(bounds), ev.event_type == bounds.session_key
        )
        .withColumn(
            "date_start",
            F.timestamp_micros(
                smin_us
                + ((F.unix_micros(F.col("ts")) - smin_us) / F.lit(1000)).cast("long")
            ),
        )
        .withColumn(
            "lap_number",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .select(
            "session_key",
            F.col("user_id").alias("driver_number"),
            "date_start",
            "lap_number",
            (F.col("value") / 3).alias("duration_sector_1"),
            (F.col("value") / 3).alias("duration_sector_2"),
            (F.col("value") / 3).alias("duration_sector_3"),
            (F.col("event_id") % 11 == 0).alias("is_pit_out_lap"),
        )
    )
    sessions = bounds.select(
        "session_key",
        F.timestamp_micros(smin_us).alias("date_start"),
        F.timestamp_micros(
            smin_us
            + (
                (F.unix_micros(F.col("__smax")) - smin_us) / F.lit(1000)
            ).cast("long")
        ).alias("date_end"),
    )
    grid = qualifying_classification(laps, sessions)
    return grid.select(
        "session_key",
        "driver_number",
        "qualifying",
        "actual_lap_time",
        F.col("segment_rank").cast("int").alias("segment_rank"),
        "grid_position",
    )


@query("race_positions_events")
def race_positions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Race-position development per lap (reference TODO at
    src/session_object.py:318-320, realized in f1/analytics.py
    race_positions_by_lap) over driver data: each event_type is a race,
    each user a driver, the per-user event index the lap number, value
    the lap time.

    Scale: two window shuffles — (session, driver) for the running sum
    and lag, (session, lap) for the per-lap rank. Both keys are
    well-distributed; nothing collects.
    """
    from ..f1.analytics import race_positions_by_lap

    ev = load(spark, sf_dir, "events")
    laps = ev.select(
        F.col("event_type").alias("session_key"),
        F.col("user_id").alias("driver_number"),
        F.row_number()
        .over(Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id"))
        .alias("lap_number"),
        F.col("value").alias("actual_lap_time"),
    )
    return race_positions_by_lap(laps)


@query("events_tumbling_5min_streamed")
def events_tumbling_5min_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path as a gate entry (SURVEY §2.9): readStream over
    the events parquet → watermarked tumbling-window aggregation →
    memory sink driven to completion (availableNow), returned as a
    batch DataFrame with the same schema as ``events_tumbling_5min`` so
    the identical DuckDB oracle hash-checks the streaming engine.

    Complete output mode: over a bounded source the final windows never
    pass the watermark, so append mode would drop them (see
    streaming.events.run_to_completion).

    Scale: state = one row per (5-min window × event_type) within the
    watermark horizon; shuffle keyed by (window, event_type). On a real
    cluster the source swaps to Kafka, the sink to a table — the plan
    between them is unchanged.
    """
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        tumbling_event_counts,
    )

    agg = tumbling_event_counts(read_events_stream(spark, sf_dir))
    res = run_to_completion(agg, "gate_tumbling_5min", output_mode="complete")
    return res.select(
        (F.unix_micros("window_start") / F.lit(1_000_000)).cast("bigint").alias(
            "window_start_s"
        ),
        "event_type",
        "n_events",
        "total_value",
    )


@query("schema_evolution_read")
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema EVOLUTION over a parquet dataset — the lakehouse reality
    that a 100 TB table's early files lack columns added later: batch
    1 (even doc_ids) is written WITHOUT ``n_chars``, batch 2 (odd)
    with it; a ``mergeSchema`` read unions the file schemas and old
    rows surface NULL for the late column. The aggregate pins the
    null-fill semantics per source (count vs count-non-null vs sum).

    Scale: mergeSchema pays one footer read per file at planning —
    fine for a layout build, but production tables pin the schema in a
    catalog (the note the gate's artifact docstring carries); column
    pruning and pushdown still work on the merged schema.

    Layout artifact: built once per (sf, documents-mtime), like the
    partitioned/bucketed/Z-order gates."""
    import os

    from ..sources.catalog import layout_artifact

    path, fresh = layout_artifact(
        sf_dir, "spark_graft_schema_evo_v1", "documents"
    )
    if not fresh:
        docs = load(spark, sf_dir, "documents")
        docs.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", "source"
        ).write.mode("overwrite").parquet(os.path.join(path, "batch1"))
        docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "source", "n_chars"
        ).write.mode("overwrite").parquet(os.path.join(path, "batch2"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch1"), os.path.join(path, "batch2")
    )
    return merged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("n_chars").alias("n_with_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query("events_rocksdb_tumbling")
def events_rocksdb_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation executed on the ROCKSDB state
    store provider with changelog checkpointing — the 100 TB state
    backend (state spills to disk instead of bounding itself by
    executor heap; changelog checkpoints upload deltas, not full
    snapshots). Identical results to the HDFS-backed default — the
    same oracle hashes both — so the provider swap is proven to be a
    pure physical-layer choice.

    Scale: RocksDB is the provider for state cardinalities beyond
    memory (sessionization over millions of users); local SST reads,
    compaction amortized, changelog keeps checkpoint upload O(delta).
    """
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        tumbling_event_counts,
    )

    agg = tumbling_event_counts(read_events_stream(spark, sf_dir))
    res = run_to_completion(
        agg,
        "gate_rocksdb_tumbling",
        output_mode="complete",
        start_conf={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        },
    )
    return res.select(
        (F.unix_micros("window_start") / F.lit(1_000_000)).cast("bigint").alias(
            "window_start_s"
        ),
        "event_type",
        "n_events",
        "total_value",
    )


@query("minhash_lsh_fast_dup_recall")
def minhash_lsh_fast_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAST dedup path (xxhash64 term ids — the mode a 100-TB run
    uses) under an exact, hash-independent oracle: with the hot-bucket
    guard (operators/dedup.exact_dup_stars, round 16) every exact
    duplicate MUST surface as a (group-rep, member) star candidate
    with est_jaccard 1.0 — the guard's grouping is by raw text, so the
    star set is hash-independent and the oracle replays it by grouping
    on text. The query runs the complete fast pipeline (dup grouping →
    shingle → xxhash64 → groupBy-min signatures → rep band self-join ∪
    stars → signature rejoin) and keeps candidates whose texts are
    verifiably equal — exactly the star set.

    Hash collisions can't leak in (text equality is re-checked
    JVM-side, and representatives have pairwise-distinct texts) and
    stars can't drop out (emitted before any hashing), so the output
    is deterministic although xxhash64 isn't SQL-expressible.

    The driver corpus has no exact duplicates, which would make the
    invariant vacuous — so the query doubles the corpus with id-shifted
    copies (id + 10^7), guaranteeing every doc one duplicate partner
    the pipeline must recover.
    """
    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = base.unionByName(
        base.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    pairs = minhash_lsh_pairs(d, mode="fast")
    ta = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta"))
    tb = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb"))
    return (
        pairs.where(F.col("est_jaccard") == 1.0)
        .join(ta, "id_a")
        .join(tb, "id_b")
        .where(F.col("__ta") == F.col("__tb"))
        .select("id_a", "id_b", "est_jaccard")
    )


@query("lsh_hot_bucket_guard")
def lsh_hot_bucket_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket guard under duplicate-spam load (VERDICT r15
    item 5): plant a 10k-identical-doc bucket (one spam page copied
    HOT_BUCKET_SPAM_N times — the web-crawl degenerate case) beside
    the real corpus and run the guarded LSH pair generator. Without
    the guard the spam bucket alone emits ~N²/2 ≈ 50M candidate
    pairs; with it the whole output is 9,999 star pairs plus the
    corpus's own (unchanged) candidates — every row hashed, so the
    LINEAR candidate count and the untouched non-degenerate recall
    are both pinned by the oracle, which replays the same text-keyed
    grouping. ``touches_spam`` partitions the two populations in the
    hashed output."""
    from ..operators.dedup import (
        HOT_BUCKET_SPAM_BASE_ID,
        HOT_BUCKET_SPAM_N,
        HOT_BUCKET_SPAM_TEXT,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    spam = spark.range(HOT_BUCKET_SPAM_N).select(
        (F.col("id") + HOT_BUCKET_SPAM_BASE_ID).alias("doc_id"),
        F.lit(HOT_BUCKET_SPAM_TEXT).alias("text"),
    )
    pairs = minhash_lsh_pairs(
        d.unionByName(spam), num_hashes=12, bands=4, shingle_k=3
    )
    return pairs.select(
        "id_a",
        "id_b",
        "est_jaccard",
        (
            (F.col("id_a") >= HOT_BUCKET_SPAM_BASE_ID)
            | (F.col("id_b") >= HOT_BUCKET_SPAM_BASE_ID)
        ).alias("touches_spam"),
    )


@query("media_real_decode_stats")
def media_real_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decoding end-to-end: build genuine BMP / PPM / WAV
    container payloads from (doc_id, n_chars), then decode them with
    the pure-Python header parsers (``decode_media(fake=False)`` —
    actual BITMAPINFOHEADER fields, PPM ASCII headers, RIFF chunk
    walking; no pseudo-decode anywhere). The oracle recomputes the
    dimensions from the same (doc_id, n_chars) formulas, so a parser
    bug (endianness, chunk alignment, comment handling) breaks the
    hash.

    Scale: payload construction and decoding are one fused mapInPandas
    pass each — payloads never shuffle; only (kind, width, height)
    reach the aggregate.
    """
    from ..sources.multimodal import decode_media, demo_binary_media_from_documents

    d = load(spark, sf_dir, "documents")
    media = demo_binary_media_from_documents(d)
    decoded = decode_media(media, fake=False)
    container = F.when(F.col("media_id") % 3 == 0, "bmp").when(
        F.col("media_id") % 3 == 1, "ppm"
    ).otherwise("wav")
    return (
        decoded.withColumn("container", container)
        .groupBy("container", "kind")
        .agg(
            F.count("*").alias("n_media"),
            F.sum(F.col("width").cast("bigint")).alias("sum_width"),
            F.sum(F.col("height").cast("bigint")).alias("sum_height"),
            F.max("width").alias("max_width"),
            F.sum(F.col("n_bytes").cast("bigint")).alias("total_bytes"),
        )
    )


@query("media_thumbnail_stats")
def media_thumbnail_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail (resize) path under a byte-arithmetic oracle: image
    payloads (text bytes, doc_id%3==0) → resize_images' deterministic
    byte-subsample thumbnails (b[::step][:64], zero-padded to 8×8) →
    per-thumb byte checksum + per-corpus aggregate. The oracle
    recomputes the subsampled positions (1, 1+step, ...) and their
    byte values from the text column, so the slicing arithmetic,
    padding and kind filter are all hash-checked.

    Scale: one mapInPandas pass; 64-byte thumbs + 2 ints per image row
    are all that reach the aggregate.
    """
    from ..sources.multimodal import demo_media_from_documents, resize_images

    d = load(spark, sf_dir, "documents")
    thumbs = resize_images(demo_media_from_documents(d), width=8, height=8, fake=True)

    # positional form: `from __future__ import annotations` stringifies
    # hints, which pandas_udf's signature inspection can't resolve
    bytesum = F.pandas_udf(
        lambda s: s.map(lambda b: int(sum(bytes(b))) if b is not None else 0),
        "long",
    )

    return (
        thumbs.withColumn("thumb_sum", bytesum("thumb"))
        .groupBy("thumb_w", "thumb_h")
        .agg(
            F.count("*").alias("n_thumbs"),
            F.sum("thumb_sum").alias("sum_bytes"),
            F.sum(F.length("thumb").cast("bigint")).alias("total_thumb_bytes"),
        )
    )


@query("tire_assignment_events")
def tire_assignment_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's tire-assignment lifecycle (as-of backward join +
    validity-window nulling + tire-age arithmetic — J2/P16/W4,
    reference: src/session_object.py:55-80) plus the downstream
    driver×compound aggregate (classes.py:77-95), over driver tables
    via the SAME f1 code path (assign_tire_information →
    avg_lap_time_by_driver_compound).

    Mapping: 'view' events are laps (per-user event index = lap
    number, value = lap time); stints are synthesized per driver as
    10-lap blocks starting at lap 10k+1, covering laps ≤ 10k+8 (laps
    9,10 of each block fall in the inter-stint gap → NULL compound,
    exercising the validity window), compound cycling
    SOFT/MEDIUM/HARD, tyre_age_at_start = k.

    Scale: stint synthesis is an aggregate + generator over per-driver
    lap counts (tiny); the as-of join broadcasts it, so lineage-wise
    this is exactly the production plan for ~20 stints/driver.
    """
    from ..f1.analytics import assign_tire_information

    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "view")
    laps = ev.select(
        F.lit("view").alias("session_key"),
        F.col("user_id").alias("driver_number"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("lap_number"),
        F.col("value").alias("actual_lap_time"),
    )
    compounds = F.array(F.lit("SOFT"), F.lit("MEDIUM"), F.lit("HARD"))
    stints = (
        laps.groupBy("session_key", "driver_number")
        .agg(F.max("lap_number").alias("__n"))
        .select(
            "session_key",
            "driver_number",
            F.explode(
                F.sequence(F.lit(0), ((F.col("__n") - 1) / 10).cast("int"))
            ).alias("__k"),
        )
        .select(
            "session_key",
            "driver_number",
            (F.col("__k") * 10 + 1).alias("lap_start"),
            (F.col("__k") * 10 + 8).alias("lap_end"),
            F.element_at(compounds, F.col("__k") % 3 + 1).alias("compound"),
            (F.col("__k") + 1).alias("stint_number"),
            F.col("__k").alias("tyre_age_at_start"),
        )
    )
    with_tires = assign_tire_information(laps, stints)
    # Same filters as avg_lap_time_by_driver_compound (classes.py:77-95)
    # but emitting sum+count instead of the 3-dp average: stint groups
    # here are ≤8 rows, so sum/8 of 2-decimal lap times lands EXACTLY on
    # x.xxx5 rounding boundaries where Spark (decimal-string HALF_UP)
    # and DuckDB (binary-value rounding) legitimately disagree. The sum
    # of 2-decimal values rounded at 2 is boundary-free in both.
    return (
        with_tires.where(
            F.col("actual_lap_time").isNotNull() & F.col("compound").isNotNull()
        )
        .groupBy("driver_number", "compound")
        .agg(
            F.round(F.sum("actual_lap_time"), 2).alias("total_lap_time"),
            F.count("*").alias("n_laps"),
        )
    )


@query("asof_tolerance_purchase")
def asof_tolerance_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward with a TOLERANCE bound (the reference's
    merge_asof(..., tolerance=) surface, src/session_object.py:240-250):
    each view matched to the user's latest purchase at most 30 minutes
    old; staler matches null out (the match is still consumed — exactly
    pandas' tolerance semantics, which the oracle mirrors by nulling
    after the ASOF pick).
    """
    ev = load(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
    )
    j = asof_join(
        views.withColumn("__on", F.unix_micros("ts")),
        purchases.withColumn("__on", F.unix_micros("ts")).drop("ts"),
        on="__on",
        by=["user_id"],
        direction="backward",
        tolerance=F.lit(30 * 60 * 1_000_000),
        right_cols=["purchase_id"],
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("__on").alias("ts_us"),
        "purchase_id",
    )


@query("stratified_event_sample")
def stratified_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the training-data staple
    (per-stratum rate, reproducible across engines and runs, no RNG
    state): keep events whose portable content hash ≡ 0 (mod 8), i.e.
    a 1/8 sample within every event_type stratum, then per-stratum
    sample stats. The hash is the same 48-bit little-endian MD5 prefix
    the dedup operators use, so DuckDB reproduces membership exactly.

    Scale: pure map-side filter (no shuffle until the aggregate); the
    sample decision never needs a sort, a window, or driver state.
    """
    from ..operators.dedup import portable_term_id

    e = load(spark, sf_dir, "events")
    keep = portable_term_id(F.col("event_id").cast("string")) % 8 == 0
    return (
        e.where(keep)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("sample_value"),
        )
    )


@query("order_percentile_rank")
def order_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / lead — the relative-position window
    family (complements rank/dense_rank/ntile/lag elsewhere in the
    catalog): each order's price percentile within its priority plus
    the next-higher price, emitted for a deterministic 1-in-199 keyed
    subset so the result stays compact while every input row still
    flows through the windows.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )
    return ranked.where(F.col("o_orderkey") % 199 == 0)


@query("neardup_clusters_distributed")
def neardup_clusters_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as ``neardup_clusters`` but FORCING the
    distributed path (small_graph_edges=0): iterative min-label
    propagation with localCheckpoint lineage truncation — the plan a
    100-TB corpus actually runs, where the edge set never fits a
    driver. Hash-matches the identical recursive-CTE oracle, proving
    the two strategies produce the same labeling on driver data (the
    property tests prove it on adversarial graphs)."""
    from ..operators.dedup import minhash_lsh_clusters

    d = load(spark, sf_dir, "documents")
    return minhash_lsh_clusters(
        d, num_hashes=12, bands=4, shingle_k=3, small_graph_edges=0
    )


@query("doc_repetition_stats")
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style repetition
    filters): duplicate-token fraction (array arithmetic, JVM-side)
    and most-frequent-token share (explode → per-(doc, token) counts →
    max/sum — the scalable aggregate form). Per-source aggregates keep
    the output compact while every document flows through both
    signals.

    Scale: the explode shuffles once on (doc_id, token) with map-side
    partial counts; the array path never shuffles at all.
    """
    from ..functions.text import dup_token_ratio, tokens

    d = load(spark, sf_dir, "documents")
    ratio = d.select(
        "doc_id", "source", dup_token_ratio(F.col("text")).alias("dup_ratio")
    )
    top = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .count()
        .groupBy("doc_id")
        .agg(
            (F.max("count") / F.sum("count")).alias("top_share"),
        )
    )
    return (
        ratio.join(top, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("dup_ratio"), 6).alias("avg_dup_ratio"),
            F.round(F.avg("top_share"), 6).alias("avg_top_share"),
            F.round(F.max("top_share"), 6).alias("max_top_share"),
        )
    )


@query("doc_rarity_score")
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram rarity scoring — a perplexity proxy without log():
    score(doc) = mean over its DISTINCT tokens of N/df(token) (inverse
    document frequency as an exact rational). Log-free keeps both
    engines in exact-rational-then-divide territory — no libm
    cross-engine drift. Per-source aggregates of the per-doc scores.

    Scale: one explode → distinct (doc, token) → df counts (shuffle on
    token) → rejoin on token → per-doc mean (shuffle on doc). Both
    keys are high-cardinality and skew-resistant; df table broadcasts
    while it fits.
    """
    from ..functions.text import tokens

    d = load(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny scalar; at scale use a broadcast subquery
    doc_tok = d.select(
        "doc_id", "source", F.explode_outer(
            F.array_distinct(tokens(F.col("text")))
        ).alias("token")
    )
    df_counts = doc_tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        doc_tok.join(df_counts, "token")
        .groupBy("doc_id", "source")
        .agg(F.avg(F.lit(float(n_docs)) / F.col("df")).alias("rarity"))
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("rarity"), 4).alias("avg_rarity"),
        F.round(F.max("rarity"), 4).alias("max_rarity"),
    )


@query("events_stream_dedup")
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup gate: the events stream UNIONED with
    itself (every event arrives twice) flows through
    ``dropDuplicatesWithinWatermark`` on event_id; per-type counts of
    the surviving rows must equal the plain distinct counts — which is
    exactly what the oracle computes. Exercises the dedup state store
    end-to-end with a verifiable invariant.

    Scale: state is one key per event_id inside the watermark horizon
    — the watermark is what makes streaming dedup bounded at all.
    """
    from ..streaming.events import read_events_stream, run_to_completion, stream_dedup

    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    deduped = stream_dedup(s1.unionByName(s2))
    counted = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_to_completion(counted, "gate_stream_dedup", output_mode="complete")


@query("events_stream_attribution")
def events_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join gate (view → purchase attribution
    within 30 minutes): both sides watermarked, the join condition
    time-bounded in both directions so state expires. Run to
    completion, the emitted pair set equals the batch range join the
    oracle runs.
    """
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        stream_view_purchase_join,
    )

    ev = read_events_stream(spark, sf_dir)
    joined = stream_view_purchase_join(ev, horizon_minutes=30).select(
        "view_id",
        "purchase_id",
        F.round("purchase_value", 2).alias("purchase_value"),
    )
    return run_to_completion(joined, "gate_stream_attr", output_mode="append")


@query("events_stateful_running_totals")
def events_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator gate
    (``applyInPandasWithState`` — the arbitrary-state escape hatch for
    semantics windows can't express): per-user running totals
    maintained across micro-batches, run to completion. Over a bounded
    source the final emission per user equals the batch per-user
    aggregate — the oracle.

    Scale: state is (count, sum) per user — O(|users|) regardless of
    event volume; Arrow batches in/out of the Python state function.
    """
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        user_running_totals,
    )

    totals = user_running_totals(read_events_stream(spark, sf_dir))
    res = run_to_completion(
        totals, "gate_stateful_totals", output_mode="update"
    )
    # update mode re-emits a user on every batch containing them; keep
    # the final (max-count) emission per user — with availableNow over
    # one parquet file there is one batch, but the plan must not
    # depend on batch slicing.
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("user_id", "n_events", "total_value")
    )


@query("events_sessionized_streamed")
def events_sessionized_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window gate: gap-based (30 min) per-user streaming
    sessionization run to completion, rolled up to per-user session
    and event counts — which must equal the batch lag/cumsum
    sessionization (``sessionize_events``), so that query's oracle
    hash-checks the streaming session-merge state machine.
    """
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        sessionized_counts,
    )

    sess = sessionized_counts(read_events_stream(spark, sf_dir), gap="30 minutes")
    res = run_to_completion(sess, "gate_sessionized", output_mode="complete")
    return res.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Corpus-curation gate queries (operators/curation.py): the training-
# data-pipeline stages beyond dedup/similarity — chunking, sequence
# packing, decontamination, quota sampling, scrub accounting.
# ---------------------------------------------------------------------------


@query("doc_chunking")
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token context-window chunks (stride 48) with a
    portable chunk fingerprint — the chunk-level carrier for embedding
    and chunk-dedup stages. Narrow transform: no shuffle at all."""
    from ..operators.curation import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), chunk_size=64, stride=48
    )


@query("udtf_window_chunks")
def udtf_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SQL table function, VERDICT r6 item 2):
    the windowed chunker as a ``spark.udtf.register``-ed table
    function applied via LATERAL — variable rows per document
    (ceil(n_tokens/16)), Arrow-batched (``ArrowEvalPythonUDTF``).

    Scale: narrow — the lateral table function runs inside the scan
    stage, no shuffle; output is linear in corpus token count."""
    from ..operators.curation import make_window_chunks_udtf

    spark.udtf.register("window_chunks", make_window_chunks_udtf())
    load(spark, sf_dir, "documents").createOrReplaceTempView(
        "v_docs_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_no, c.start_token, c.chunk_text,
               c.n_tokens
        FROM v_docs_udtf d, LATERAL window_chunks(d.text, 16) c
        """
    )


@query("udtf_analyze_parse")
def udtf_analyze_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF surface (Spark 4 ``analyze()``, VERDICT r7
    item 3): documents' metadata is serialized to a delimited line,
    then parsed BACK through ``parse_fields`` — whose output columns
    (src, lng, nc) exist only because ``analyze()`` derived them from
    the constant names argument at plan time — and re-aggregated. The
    hash match proves the analyze-derived schema carries real data
    end-to-end (round trip == the raw columns), not just that the plan
    compiles; operators/curation.py make_parse_fields_udtf pins the
    plan-time/NULL/pad-truncate contracts.

    Scale: narrow scan-stage lateral + one small aggregate shuffle."""
    from ..operators.curation import make_parse_fields_udtf

    spark.udtf.register("parse_fields", make_parse_fields_udtf())
    # Serialization contract, enforced not assumed (review r8): rows
    # with a NULL field or a delimiter collision are EXCLUDED on both
    # sides — concat_ws silently skips NULLs, which would shift fields
    # and group under phantom values. The oracle applies the identical
    # predicate, so the contract is part of the hashed semantics.
    d = (
        load(spark, sf_dir, "documents")
        .where(
            F.col("source").isNotNull()
            & F.col("lang").isNotNull()
            & F.col("n_chars").isNotNull()
            & ~F.col("source").contains("|")
            & ~F.col("lang").contains("|")
        )
        .select(
            F.concat_ws(
                "|", "source", "lang", F.col("n_chars").cast("string")
            ).alias("line")
        )
    )
    d.createOrReplaceTempView("v_doc_lines")
    return spark.sql(
        """
        SELECT p.src AS source, p.lng AS lang,
               count(*) AS n_docs,
               sum(CAST(p.nc AS BIGINT)) AS total_chars
        FROM v_doc_lines t, LATERAL parse_fields(t.line, 'src,lng,nc') p
        GROUP BY 1, 2
        """
    )


@query("udtf_table_arg_stats")
def udtf_table_arg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF TABLE-argument surface: documents routed per-source
    through one UDTF instance each (``PARTITION BY source ORDER BY
    doc_id``), per-row eval state + terminate() emission. The hashed
    statistic (longest strictly-increasing n_chars run in doc_id
    order) is order-dependent, so the gate proves Spark delivers each
    partition's rows to one instance IN ORDER — see
    operators/curation.py make_partition_stats_udtf.

    Scale: one shuffle on the partition key; O(1) state per group."""
    from ..operators.curation import make_partition_stats_udtf

    spark.udtf.register("partition_stats", make_partition_stats_udtf())
    load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).createOrReplaceTempView("v_docs_partarg")
    return spark.sql(
        """
        SELECT * FROM partition_stats(
          TABLE(v_docs_partarg) PARTITION BY source ORDER BY doc_id)
        """
    )


@query("sequence_packing")
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-512-token sequence packing in deterministic doc_id order
    per source: bin id / offset / boundary-crossing flag per document.
    One window shuffle keyed by source; bins are partition-scoped so
    packing parallelizes instead of serializing on a global order."""
    from ..operators.curation import pack_sequences

    return pack_sequences(
        load(spark, sf_dir, "documents"), budget=512, part_col="source"
    )


@query("decontamination_overlap")
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: distinct shared 8-gram count (portable
    gram ids, broadcast eval side) + contamination flag for every
    corpus doc not in the pseudo-eval set (doc_id % 97 == 0)."""
    from ..operators.curation import contamination_overlap

    return contamination_overlap(
        load(spark, sf_dir, "documents"), F.col("doc_id") % 97 == 0, k=8
    )


@query("language_quota_sample")
def language_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample (20 docs/language,
    MD5-ordered) — the language-balancing stage of corpus assembly."""
    from ..operators.curation import quota_sample

    return quota_sample(
        load(spark, sf_dir, "documents"), part_col="lang", quota=20,
        id_col="doc_id",
    )


@query("stopword_scrub_stats")
def stopword_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source integer accounting of a stopword scrub pass (docs,
    total/kept/removed tokens, kept chars) — the audit trail a
    filtering stage emits. HOF filter+measure in the scan stage; one
    small aggregate exchange."""
    from ..functions.text import STOPWORDS
    from ..operators.curation import scrub_stats

    return scrub_stats(
        load(spark, sf_dir, "documents"), STOPWORDS["en"], group_col="source"
    )


@query("sequence_packing_global")
def sequence_packing_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-bin-space sequence packing WITHOUT a global window: the
    two-phase cumulative sum (partitioned window + per-partition token
    totals prefix-summed and broadcast back). The oracle states the
    naive global-window semantics; the plan test asserts the corpus
    never crosses a single-partition Window."""
    from ..operators.curation import pack_sequences_global

    return pack_sequences_global(
        load(spark, sf_dir, "documents"), budget=512, part_col="source"
    )


@query("kmeans_ivf_training")
def kmeans_ivf_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration k-means (k=8) over the embeddings — the IVF
    coarse-quantizer training step, unrolled so the iterative
    algorithm itself sits inside the hash-matched gate (ordered-fold
    distances, quantized centroid updates; operators/clustering.py).
    Per iteration: broadcast k centroids into the scan, map-side
    min_by collapse, one (k x dims)-group update aggregate."""
    from ..operators.clustering import kmeans_assignments

    return kmeans_assignments(
        load(spark, sf_dir, "embeddings"), k=8, iters=3, round_decimals=4
    )


@query("incremental_corpus_merge")
def incremental_corpus_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingest: merge a new batch (doc_id % 11 == 0)
    into the base corpus, dropping batch docs whose CONTENT (portable
    48-bit text hash) already exists in the base — the
    dedup-against-history step of a continuously-updated training
    corpus. Within-batch duplicates also collapse (min doc_id wins) —
    a batch is not yet history but must not seed duplicates either.
    Anti-join on the content hash: the probe side is only the incoming
    batch, so at 100 TB the big base table is the build/shuffle side
    exactly once and the merge cost tracks batch size, not corpus
    size."""
    from ..operators.dedup import portable_term_id

    # NULL-text docs are excluded up front (mirrored in the oracle):
    # left_anti keeps null keys while SQL NOT IN drops everything on a
    # null — filtering both sides makes the semantics unambiguous.
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id", "source", portable_term_id(F.col("text")).alias("__h")
        )
    )
    batch = d.where(F.col("doc_id") % 11 == 0)
    base = d.where(F.col("doc_id") % 11 != 0)
    batch_canon = (
        batch.groupBy("__h")
        .agg(F.min_by(F.struct("doc_id", "source"), F.col("doc_id")).alias("__m"))
        .select(F.col("__m.doc_id").alias("doc_id"), F.col("__m.source").alias("source"), "__h")
    )
    fresh = batch_canon.join(
        base.select("__h").distinct(), "__h", "left_anti"
    )
    return (
        base.select("doc_id", "source", F.lit("base").alias("origin"))
        .unionByName(
            fresh.select("doc_id", "source", F.lit("new").alias("origin"))
        )
    )


@query("media_png_decode_stats")
def media_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end: build genuine CRC-correct
    zlib-compressed PNGs from (doc_id, n_chars), then read the
    dimensions back with the pure-Python IHDR parser
    (``decode_media(fake=False)``). The oracle recomputes dimensions
    from the same formulas — byte sizes are excluded because zlib
    output length is not SQL-expressible. Payloads never shuffle; only
    (width, height) reach the aggregate."""
    from ..sources.multimodal import decode_media, demo_png_media_from_documents

    d = load(spark, sf_dir, "documents")
    decoded = decode_media(demo_png_media_from_documents(d), fake=False)
    return decoded.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.max("width").cast("int").alias("max_width"),
        F.max("height").cast("int").alias("max_height"),
    )


@query("pii_scrub_stats")
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over documents with DETERMINISTIC injected
    PII (the synthetic corpus is digit-free, so the gate first appends
    a doc_id-derived email/IPv4/phone to every doc, then proves the
    scrub finds and removes exactly those spans). Per source: doc
    count, per-kind match totals, redacted-span chars, and the scrubbed
    corpus length. Pure regexp column expressions in the scan stage —
    zero shuffles before the final small aggregate."""
    from ..operators.curation import pii_scrub

    d = load(spark, sf_dir, "documents")
    seeded = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" or +49171"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 4, "0"),
        ),
    )
    scrubbed = pii_scrub(seeded)
    return scrubbed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("emails"),
        F.sum("n_ipv4").cast("bigint").alias("ipv4s"),
        F.sum("n_phone").cast("bigint").alias("phones"),
        F.sum("chars_redacted").cast("bigint").alias("chars_redacted"),
        F.sum(F.length("text")).cast("bigint").alias("scrubbed_chars"),
    )


@query("span_dedup_stats")
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact span dedup (C4/Dolma-style): 16-token spans,
    first occurrence wins, docs rebuilt from surviving spans. Per
    source: docs in/rebuilt, span totals, and the rebuilt corpus size
    in chars — the before/after a curation run reports. Two
    high-cardinality shuffles (span-fingerprint window, per-doc
    rebuild); duplicate groups are tiny so the window never skews."""
    from ..operators.curation import span_dedup

    d = load(spark, sf_dir, "documents")
    out = span_dedup(d, span_tokens=16)
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("text").cast("bigint").alias("docs_with_text"),
        F.sum("n_spans").cast("bigint").alias("total_spans"),
        F.sum("kept_spans").cast("bigint").alias("kept_spans"),
        F.sum(F.length("text")).cast("bigint").alias("rebuilt_chars"),
    )


@query("substring_dedup_pairs")
def substring_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, suffix-array family (Lee et al. 2021):
    document pairs sharing an exact run of ≥12 whitespace tokens, with
    the longest shared substring length (tokens) and the shared-k-gram
    occurrence count. Fills the one rung the dedup ladder lacked —
    contiguous verbatim overlap — between span_dedup's line/span level
    and cdc_chunk_dedup's chunk level (operators/dedup.py
    substring_match_pairs has the full scale argument: k-gram postings
    → df-capped anchor join → diagonal gaps-and-islands; no global
    suffix sort ever).

    max_df=50 exercises the boilerplate-anchor cap in-gate (it is part
    of the operator contract and the oracle mirrors it — under 100x
    replication hub anchors really do get dropped on both sides)."""
    from ..operators.dedup import substring_match_pairs

    d = load(spark, sf_dir, "documents")
    return substring_match_pairs(d, k=12, max_df=50)


@query("substring_dup_coverage")
def substring_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token coverage (the quantity Lee et
    al.'s exact-substring dedup removes): tokens covered by any exact
    ≥12-token run shared with another document, absolute and as a
    fraction. Reuses the substring match stage; interval union via
    threshold-k gaps-and-islands per doc (operators/dedup.py
    substring_duplicate_coverage). Windows partition by doc — bounded
    by per-doc match counts, never global."""
    from ..operators.dedup import substring_duplicate_coverage

    d = load(spark, sf_dir, "documents")
    return substring_duplicate_coverage(d, k=12, max_df=50)


@query("bloom_decontamination_stats")
def bloom_decontamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination audit (the no-corpus-shuffle scale
    path beside decontamination_overlap's exact join): eval = every
    97th doc, 8-gram shingles, 2^16-bit filter with 4 portable hashes.
    The bloom is deterministic, so the oracle replays bit membership
    exactly — false positives included. Per source: docs checked,
    bloom-contaminated docs, distinct grams checked/flagged."""
    from ..operators.curation import bloom_decontaminate

    d = load(spark, sf_dir, "documents")
    out = bloom_decontaminate(
        d, F.col("doc_id") % 97 == 0, k=8, num_bits=1 << 16, num_hashes=4
    )
    return (
        out.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("contaminated").cast("int"))
            .cast("bigint")
            .alias("contaminated_docs"),
            F.sum("n_grams").cast("bigint").alias("grams_checked"),
            F.sum("n_flagged").cast("bigint").alias("grams_flagged"),
        )
    )


@query("token_budget_sample_docs")
def token_budget_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget sampling (3000 tokens/lang): the
    deterministic source-mixing step of a pretraining recipe. Two-phase
    hash-sharded prefix sum — no per-language global sort."""
    from ..operators.curation import token_budget_sample

    d = load(spark, sf_dir, "documents")
    return token_budget_sample(d, part_col="lang", token_budget=3000)


@query("source_similarity_matrix")
def source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair MinHash similarity matrix: one signature per source
    (component min over the union of its docs' unigram shingles), pairs
    formed by EQUI-joining on agreeing (component, value) — hash joins
    only, no G×G cartesian; zero-agreement pairs are absent. The whole
    corpus collapses to sources×12 longs in one aggregate."""
    from ..operators.dedup import group_minhash_similarity

    d = load(spark, sf_dir, "documents")
    return group_minhash_similarity(
        d, group_col="source", num_hashes=12, shingle_k=1
    )


# --------------------------------------------------------------------------
# Round 3: recipe filtering, vocabulary audit, drift, leakage, embedding QA
# --------------------------------------------------------------------------


@query("quality_quantile_filter_docs")
def quality_quantile_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile quality gate: drop each source's shortest
    quartile (score = n_chars) — the "filter the worst X% per source"
    step of a data recipe, thresholds computed per source so a clean
    source never sets the bar for a noisy one. The #sources-row
    threshold table broadcasts back onto the scan; the corpus itself
    never shuffles. (The exact per-group percentile is the
    oracle-portable gate; swap percentile_approx in at petabyte group
    sizes.)"""
    from ..operators.curation import quality_quantile_filter

    return quality_quantile_filter(
        load(spark, sf_dir, "documents"),
        score=F.col("n_chars"),
        part_col="source",
        quantile=0.25,
    )


@query("heavy_hitter_terms_by_source")
def heavy_hitter_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 most frequent terms per source (vocabulary audit).
    Lossless two-phase top-k over the term-count aggregate: rank inside
    (source, term-hash shard), prune to k, re-rank survivors — no
    source ever sorts its full vocabulary on one task."""
    from ..functions.text import heavy_hitter_terms

    return heavy_hitter_terms(load(spark, sf_dir, "documents"), k=10)


@query("source_term_drift")
def source_term_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance of each source's term distribution from
    the corpus mix — the per-ingest distribution-shift monitor. Exact
    rational arithmetic (counts + one division per term; no libm), so
    both engines agree before rounding. Absent terms fold in via
    ½(1 − Σ p_corpus over present terms): only PRESENT (source, term)
    pairs materialize."""
    from ..functions.text import source_term_drift

    return source_term_drift(load(spark, sf_dir, "documents"))


@query("cross_source_leakage")
def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content leakage across sources: content hashes held by ≥2
    distinct sources — the provenance audit that catches one feed
    re-publishing another (which silently defeats per-source quotas and
    dedup-by-source assumptions). The synthetic corpus has no natural
    cross-source dups, so the gate SEEDS deterministic leakage (every
    7th doc mirrored into a 'mirror' source under a shifted id) and
    must recover exactly those groups. One groupBy on the 48-bit
    content hash; per-group state is two counters and a min."""
    from ..operators.dedup import portable_hash48

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    mirrored = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    seeded = d.select("doc_id", "source", "text").unionByName(mirrored)
    return (
        seeded.groupBy(portable_hash48(F.col("text")).alias("content_hash"))
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_sources") >= 2)
    )


@query("embedding_label_outliers")
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: squared distance of every vector to its label
    centroid, flagged above the label's p95 — the mislabeled-vector
    detector run before training on labeled corpora. Corpus shuffles
    once (on vec_id); centroid and threshold tables are #labels-sized
    broadcasts."""
    from ..operators.clustering import label_distance_outliers

    return label_distance_outliers(load(spark, sf_dir, "embeddings"))


@query("events_stream_static_enrich")
def events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join gate: readStream events enriched
    with the static customer dimension, running per-segment totals,
    driven to completion on the memory sink (complete mode — the
    non-windowed agg emits final rows when the bounded source drains).
    Completes the streaming join surface: batch joins, stream-stream
    (events_stream_attribution), and now stream-static."""
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        stream_static_segment_totals,
    )

    stream = read_events_stream(spark, sf_dir)
    joined = stream_static_segment_totals(
        stream, load(spark, sf_dir, "customer")
    )
    return run_to_completion(
        joined, "t_stream_static", output_mode="complete"
    )


@query("disjunctive_part_revenue")
def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped OR-of-ANDs predicate join: revenue from three
    disjoint (brand, size-range, quantity-range) channels in one pass.
    Exercises Catalyst's disjunctive pushdown: the common l_quantity
    bound and the p_size bound are extracted below the OR and reach
    both scans; the join stays a broadcast on the part dim."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    ch = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(1, 20))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(5, 20))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(10, 40))
            & (F.col("l_quantity").between(20, 50))
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.where(ch)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            quantized_sum(rev, 4).alias("revenue"),
        )
    )


@query("idle_rich_customers")
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: above-average-balance customers (scalar
    subquery over positive balances) with no URGENT orders (anti-join
    on a filtered fact subset — every customer has *some* order in the
    driver data, so the filter keeps the gate's output non-trivial),
    grouped by nation. The threshold is evaluated once driver-side and
    embedded as a literal — exactly what Spark's own scalar-subquery
    planning does, and the only shape that avoids a 1-row
    nested-loop-join against the customer scan (doc_rarity precedent).
    The anti-join's build side is the pruned urgent-orders key set."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("t"))
        .first()[0]
    )
    urgent = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        cust.where(F.col("c_acctbal") > avg_bal)
        .join(urgent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_custs"),
            quantized_sum(F.col("c_acctbal"), 2).alias("total_balance"),
        )
    )


@query("event_funnel_conversion")
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (signup → first view AFTER signup →
    first purchase AFTER that view): per-stage user counts and the
    median stage-to-stage latency — the product-analytics query every
    event pipeline serves. Each stage is a filtered min-aggregate
    joined forward on user_id (high-cardinality key, dims never
    materialize); timestamps compare as epoch micros."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    signup = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_signup"))
    )
    view = (
        e.where(F.col("event_type") == "view")
        .join(signup, "user_id")
        .where(F.col("us") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"), F.first("t_signup").alias("t_signup"))
    )
    purchase = (
        e.where(F.col("event_type") == "purchase")
        .join(view, "user_id")
        .where(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"), F.first("t_view").alias("t_view"))
    )
    stage = (
        signup.select(F.lit("1_signup").alias("stage"), "user_id", F.lit(None).cast("long").alias("lat_us"))
        .unionByName(
            view.select(
                F.lit("2_view").alias("stage"),
                "user_id",
                (F.col("t_view") - F.col("t_signup")).alias("lat_us"),
            )
        )
        .unionByName(
            purchase.select(
                F.lit("3_purchase").alias("stage"),
                "user_id",
                (F.col("t_purchase") - F.col("t_view")).alias("lat_us"),
            )
        )
    )
    return stage.groupBy("stage").agg(
        F.count("*").alias("n_users"),
        F.round(F.percentile("lat_us", F.lit(0.5)) / 1_000_000, 2).alias(
            "median_latency_s"
        ),
    )


@query("user_cohort_retention")
def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-cohort retention triangle: users grouped by first-activity
    day; for each (cohort_day, day_offset) the count of cohort members
    active that day — the engagement table every product pipeline
    materializes. Two aggregates on high-cardinality keys (user, then
    (cohort, offset)); the per-user first-day table rides the activity
    shuffle, nothing is per-pair."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_day = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = e.distinct()
    return (
        active.join(first_day, "user_id")
        .groupBy(
            "cohort_day", F.datediff("day", "cohort_day").alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.unix_date("cohort_day").alias("cohort_epoch_day"),
            "day_offset",
            "n_users",
        )
    )


@query("fuzzy_neardup_pairs")
def fuzzy_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification over LSH candidates: the
    blocking(LSH)→verify(levenshtein) fuzzy-match pattern, with the
    expensive O(len²) distance computed ONLY for candidate pairs and
    only on 64-char prefixes. The quadratic primitive never touches
    the full corpus — candidates are the LSH-bounded set the dedup
    pipeline already proved linear-shaped."""
    from ..operators.dedup import minhash_lsh_pairs

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    pairs = minhash_lsh_pairs(d, num_hashes=12, bands=4, shingle_k=3)
    pref = d.select("doc_id", F.substring("text", 1, 64).alias("__p"))
    return (
        pairs.join(pref.select(F.col("doc_id").alias("id_a"), F.col("__p").alias("__pa")), "id_a")
        .join(pref.select(F.col("doc_id").alias("id_b"), F.col("__p").alias("__pb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__pa", "__pb").alias("edit_distance"),
        )
        .where(F.col("edit_distance") <= 24)
    )


@query("embedding_top_pc")
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix via 3 unrolled
    power iterations on XᵀX (operators/clustering.py) — the
    dimensionality-reduction primitive, fully inside the hash gate
    like kmeans_ivf_training: ordered-fold dot products, quantized
    per-dim sums, IEEE sqrt normalization. Per iteration: one corpus
    scan + one dims-group aggregate; the direction vector broadcasts,
    the corpus never re-shuffles."""
    from ..operators.clustering import power_iteration_pc

    return power_iteration_pc(load(spark, sf_dir, "embeddings"), iters=3)


@query("normalized_dedup_docs")
def normalized_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: case-fold, strip punctuation,
    collapse whitespace, THEN group by content hash — catches the
    case/punctuation variants plain exact dedup misses (the usual
    first rung of a dedup ladder, before MinHash). Per normalized key:
    doc count, canonical (min) doc id, distinct-source count. Pure
    codegen normalization in the scan stage; one groupBy shuffle."""
    from ..operators.dedup import portable_hash48

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.select("doc_id", "source", portable_hash48(norm).alias("norm_key"))
        .groupBy("norm_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@query("clipped_value_stats")
def clipped_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics: clip at the type's
    p01/p99 (linear interpolation), report clipped mean and how many
    rows hit each bound — outlier-robust metric cleaning. The
    #types-row bounds table broadcasts back onto the scan; the fact
    table shuffles once for the final aggregate."""
    e = load(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.01, 0.99]))
    bounds = e.groupBy("event_type").agg(
        F.element_at(pct, 1).alias("__lo"), F.element_at(pct, 2).alias("__hi")
    )
    clipped = e.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.greatest(F.least(F.col("value"), F.col("__hi")), F.col("__lo")).alias(
            "__cv"
        ),
        (F.col("value") < F.col("__lo")).cast("int").alias("__below"),
        (F.col("value") > F.col("__hi")).cast("int").alias("__above"),
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.round(F.avg("__cv"), 4).alias("clipped_mean"),
        F.sum("__below").cast("bigint").alias("n_clipped_low"),
        F.sum("__above").cast("bigint").alias("n_clipped_high"),
    )


@query("pq_encode_embeddings")
def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (m=8 subspaces, k=4 entries, 2 Lloyd
    iterations per subspace codebook — operators/clustering.pq_encode):
    the storage/ADC step of an IVF-PQ vector index, trained and encoded
    in one hash-verified dataflow. Completes the similarity-search
    ladder: brute force → IVF → SRP-LSH → multiprobe → PQ."""
    from ..operators.clustering import pq_encode

    return pq_encode(load(spark, sf_dir, "embeddings"), m=8, k=4, iters=2)


@query("pq_adc_topk")
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 over PQ codes for query vectors (vec_id < 10): the
    query-time half of IVF-PQ — per-query (m × k) distance lookup
    table, database vectors scored from their CODES alone (raw vectors
    never re-read), ranked with rounded-distance + id tie-break."""
    from ..operators.clustering import pq_adc_topk

    e = load(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, e.where(F.col("vec_id") < 10), m=8, k=4, iters=2, topk=5)


@query("hourly_gap_filled_activity")
def hourly_gap_filled_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-user hourly activity (user_id % 29 == 0 cohort):
    generate every hour between each user's first and last event and
    left-join real counts, zero-filling silent hours — the resample
    step dashboards and feature pipelines need but plain GROUP BY
    can't produce (missing hours simply don't exist as groups).
    Scale: the explode is bounded by each user's own active span, the
    join is per (user, hour) — high-cardinality keys, no skew."""
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id") % 29 == 0)
        .select(
            "user_id",
            F.expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000").alias("hr"),
            "value",
        )
    )
    counts = e.groupBy("user_id", "hr").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    spans = e.groupBy("user_id").agg(
        F.min("hr").alias("__h0"), F.max("hr").alias("__h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("__h0", "__h1")).alias("hr")
    )
    return grid.join(counts, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@query("hourly_anomaly_flags")
def hourly_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against the type's own mean/stddev, |z| > 2 flagged — the
    monitoring query every ingestion pipeline runs. Two small
    aggregates; the #types-row stats table broadcasts back onto the
    hourly counts."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000").alias("hr"),
    )
    hourly = e.groupBy("event_type", "hr").agg(F.count("*").alias("n_events"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n_events").alias("__mu"),
        F.stddev_samp("n_events").alias("__sd"),
    )
    # Guard sd == 0 (perfectly constant volume — exactly what a monitor
    # must tolerate): ANSI double/0 throws in Spark; emit NULL like the
    # oracle's CASE instead (code-review finding).
    z = F.when(
        F.col("__sd") != 0,
        (F.col("n_events") - F.col("__mu")) / F.col("__sd"),
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "hr",
            "n_events",
            F.round(z, 4).alias("z_score"),
            (F.abs(z) > 2).alias("is_anomaly"),
        )
    )


@query("source_mixing_order")
def source_mixing_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source-interleave curriculum (src0/src1 upweighted 2x,
    src2 at 1.5x, everything else 1x): deterministic global mix keys
    whose ascending order round-robins sources proportionally to
    weight — the recipe-mixing step between curation and the training
    writer. Two-phase sharded ranking; no source sorts on one task."""
    from ..operators.curation import mixing_order

    return mixing_order(
        load(spark, sf_dir, "documents"),
        weights={"src0": 2.0, "src1": 2.0, "src2": 1.5},
    )


@query("bpe_merge_symbol_stats")
def bpe_merge_symbol_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 3 merge rounds, over the corpus word
    vocabulary (functions/text.bpe_merge_symbol_stats): adjacent-pair
    counting, deterministic argmax merges via left-to-right sentinel
    string replace, final top-20 symbol table. The corpus is scanned
    once; every round runs on the vocabulary."""
    from ..functions.text import bpe_merge_symbol_stats

    return bpe_merge_symbol_stats(
        load(spark, sf_dir, "documents"), n_merges=3, top_k=20
    )


@query("ivf_pq_topk")
def ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composite: query vectors (vec_id < 10) probe their own
    coarse cell (label) and rank the cell's candidates by asymmetric
    PQ distance — the complete approximate-index query path, combining
    the cell probe's candidate cut with the codes' bandwidth cut."""
    from ..operators.clustering import ivf_pq_topk

    e = load(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        e, e.where(F.col("vec_id") < 10), m=8, k=4, iters=2, topk=5
    )


@query("ivf_pq_topk_indexed")
def ivf_pq_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_pq_topk against a PERSISTED index (VERDICT r10 item 3 —
    the ANN analog of incremental_dedup_indexed): the PQ codes and
    codebook are trained once per corpus state and stored as tables
    (operators/clustering.py write_ann_index), codes PARTITIONED BY
    the coarse IVF cell so a query probing its own cell prunes the
    scan to that cell's directory; queries pay only the LUT build +
    pruned code scan, never a training pass. pq_encode is
    deterministic and array<double> centroids round-trip parquet
    bit-exactly, so this gate is value-identical to ivf_pq_topk and
    shares its oracle — one semantic truth for both execution shapes.
    The probe validates its params against the index's _META.json and
    raises on trainer/prober mismatch (the dedup-index rule)."""
    from ..operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    # v2: round-12 layouts add the cells/ coarse-centroid table
    # (multiprobe) — a cached v1 artifact must not pass freshness.
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_index_v2", "embeddings"
    )
    if not fresh:
        write_ann_index(e, path, m=8, k=4, iters=2)
    codes, codebook, _cells, meta = read_ann_index(spark, path)
    return ivf_pq_topk_from_index(
        e.where(F.col("vec_id") < 10),
        codes,
        codebook,
        m=8,
        k=4,
        iters=2,
        topk=5,
        index_meta=meta,
    )


@query("filter_cascade_stats")
def filter_cascade_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship funnel of a 4-stage quality filter cascade
    (non-null text → length ≥ 100 chars → lang ∈ {en,de,fr} → ≥ 40
    tokens): per stage, docs in / dropped / surviving — the audit
    table a curation pipeline publishes with every run. ONE corpus
    pass: the cascade is conditional aggregation (each stage's count
    is a sum of nested predicates), unpivoted to long form at the
    single-row edge."""
    d = load(spark, sf_dir, "documents")
    s1 = F.col("text").isNotNull()
    s2 = s1 & (F.col("n_chars") >= 100)
    s3 = s2 & F.col("lang").isin("en", "de", "fr")
    s4 = s3 & (F.size(F.split("text", " ")) >= 40)
    agg = d.agg(
        F.count("*").alias("c0"),
        *[
            F.sum(s.cast("long")).alias(f"c{i}")
            for i, s in enumerate((s1, s2, s3, s4), start=1)
        ],
    )
    stages = ["non_null_text", "min_length", "language", "min_tokens"]
    stack_args = ", ".join(
        f"'{i}_{name}', c{i - 1}, c{i}"
        for i, name in enumerate(stages, start=1)
    )
    return agg.selectExpr(
        f"stack({len(stages)}, {stack_args}) AS (stage, n_in, n_out)"
    ).select(
        "stage",
        "n_in",
        "n_out",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
    )


@query("domain_filter_stats")
def domain_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain web-corpus accounting with blocklist flags: the
    synthetic corpus carries no URLs, so each doc gets a deterministic
    doc_id-derived URL (pii_scrub_stats' seeding pattern), then the
    host is regexp-extracted (portable — Spark's parse_url has no
    DuckDB twin), flagged against a blocklist, and counted per domain
    — the URL-filtering stage of web-corpus curation. Pure scan-stage
    regexp into a #domains-row aggregate."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit(".example"),
        F.when(F.col("doc_id") % 3 == 0, ".net").otherwise(".org"),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    host = F.regexp_extract(url, r"^https?://([^/]+)/", 1)
    blocked = host.rlike(r"\.net$")
    return (
        d.select(host.alias("domain"), blocked.alias("is_blocked"))
        .groupBy("domain", "is_blocked")
        .agg(F.count("*").alias("n_docs"))
    )


@query("dedup_keep_best_docs")
def dedup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the BEST duplicate (max n_chars, tie min
    doc_id) instead of the arbitrary/min-id one — the quality-aware
    keep policy real pipelines use (longest copy usually has the least
    truncation). min_by over a total order, map-side combinable."""
    from ..operators.dedup import portable_hash48

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return (
        d.groupBy(portable_hash48(F.col("text")).alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min_by(
                F.struct("doc_id", "n_chars"),
                F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id")),
            ).alias("__keep"),
        )
        .select(
            "content_hash",
            "n_copies",
            F.col("__keep.doc_id").alias("kept_doc_id"),
            F.col("__keep.n_chars").alias("kept_n_chars"),
        )
    )


@query("packing_efficiency_stats")
def packing_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over the sequence-packing output: per
    source, bins used, docs packed, total tokens, boundary-crossing
    docs, and mean fill of CLOSED bins (the open tail bin per source
    is excluded — its fill is an artifact of corpus size, not packing
    quality). The audit a training-data build publishes next to its
    packed shards."""
    from ..operators.curation import pack_sequences

    packed = pack_sequences(
        load(spark, sf_dir, "documents"), budget=512, part_col="source"
    )
    per_bin = packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("__docs"),
        F.sum("n_tokens").alias("__tok"),
    )
    last_bin = per_bin.groupBy("source").agg(F.max("bin_id").alias("__last"))
    closed = per_bin.join(F.broadcast(last_bin), "source").where(
        F.col("bin_id") != F.col("__last")
    )
    totals = packed.groupBy("source").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("crosses_boundary").cast("long")).alias("n_boundary_docs"),
    )
    fill = closed.groupBy("source").agg(
        F.round(F.avg(F.col("__tok") / 512.0), 4).alias("closed_bin_mean_fill")
    )
    return totals.join(fill, "source", "left")


@query("hard_negative_topk")
def hard_negative_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for query vectors (vec_id <
    10), the top-5 most similar CROSS-label vectors — the informative
    negatives a contrastive trainer pairs with each anchor. One GEMM
    pass per query label over the complementary corpus slice."""
    from ..operators.similarity import hard_negative_topk

    e = load(spark, sf_dir, "embeddings")
    return hard_negative_topk(e, e.where(F.col("vec_id") < 10), k=5)


@query("end_to_end_curation_stats")
def end_to_end_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation DAG as ONE lazy plan — quality filter
    (non-null, ≥100 chars) → exact dedup keeping the best copy →
    fixed-budget sequence packing → per-source accounting. The point
    is COMPOSITION: every stage is an existing verified operator, and
    chaining them stays a single Catalyst plan (no materialization
    between stages), which is how a real pipeline would run them."""
    from ..operators.curation import pack_sequences
    from ..operators.dedup import portable_hash48

    d = load(spark, sf_dir, "documents")
    filtered = d.where(F.col("text").isNotNull() & (F.col("n_chars") >= 100))
    kept_ids = (
        filtered.groupBy(portable_hash48(F.col("text")).alias("__h"))
        .agg(
            F.min_by(
                F.col("doc_id"),
                F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id")),
            ).alias("doc_id")
        )
        .select("doc_id")
    )
    kept = filtered.join(kept_ids, "doc_id", "left_semi")
    packed = pack_sequences(kept, budget=512, part_col="source")
    return packed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum(F.col("crosses_boundary").cast("long")).alias("n_boundary_docs"),
    )


@query("source_term_entropy")
def source_term_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's term distribution (nats, round
    4) plus distinct-term and token counts — the vocabulary-diversity
    metric beside TVD drift: low entropy flags boilerplate-heavy
    sources. ln parity across engines is already proven by the
    hash-matched tf-idf gate; rounding absorbs the last ulp."""
    from ..functions.text import tokens

    d = load(spark, sf_dir, "documents")
    tc = (
        d.select(F.col("source"), F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    tot = tc.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        tc.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy_nats"),
            F.count("*").alias("n_terms"),
            F.max("n").alias("n_tokens"),
        )
    )


@query("doc_bigram_surprisal")
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM surprisal per document (top-20 most surprising
    docs): score = mean over the doc's bigrams of −ln P(w2 | w1) with
    add-one smoothing over the observed continuation vocabulary — the
    perplexity-proxy quality filter (high surprisal ≈ incoherent or
    out-of-domain text).

    Plan shape (VERDICT r3 item 3 rewrite): ONE tokenize+explode pass
    reduced immediately to per-doc bigram COUNTS (map-side combinable;
    the frame every later stage reads, persisted so the LM branch and
    the scoring branch share one physical scan). The corpus LM derives
    from that same aggregate (second-level groupBy over already-
    distinct (doc, w1, w2) rows), and scoring joins per-doc *counts* —
    not row-per-occurrence — against the LM, so the shuffle input is
    smaller by the within-doc repetition factor and a zipfian bigram
    ("of the") contributes at most one row per doc instead of one per
    occurrence. The mean surprisal is the count-weighted mean, which is
    algebraically the per-occurrence mean the oracle computes.

    Bigram construction tokenizes ONCE into a projected array column
    and pairs adjacent tokens with ``zip_with`` over two slices —
    O(tokens) per doc; the earlier per-index ``element_at(tokens(text),
    i)`` form re-evaluated the regex tokenizer per element (O(tokens²)
    per doc, 5.5 s → 0.7 s for this stage at sf0.1). When the scan has
    fewer input splits than cores (small local files), the docs are
    rebalanced before the tokenize stage; at cluster scale splits ≫
    cores and no extra shuffle is added."""
    from ..functions.text import tokens

    d = load(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    tk = F.col("tk")
    dbc = (
        d.select("doc_id", tokens(F.col("text")).alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(tk) >= 2,
                    F.zip_with(
                        F.slice(tk, 1, F.size(tk) - 1),
                        F.slice(tk, 2, F.size(tk) - 1),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("k"))
    )
    dbc = managed_cache(dbc)
    bc = dbc.groupBy("w1", "w2").agg(F.sum("k").alias("bn"))
    uc = bc.groupBy("w1").agg(
        F.sum("bn").alias("un"), F.count("*").alias("vocab")
    )
    lm = bc.join(uc, "w1").select(
        "w1",
        "w2",
        (
            -F.log(
                (F.col("bn") + 1).cast("double")
                / (F.col("un") + F.col("vocab"))
            )
        ).alias("surprisal"),
    )
    scored = (
        dbc.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("k") * F.col("surprisal")) / F.sum("k"), 4
            ).alias("mean_surprisal"),
            F.sum("k").cast("bigint").alias("n_bigrams"),
        )
    )
    return (
        scored.orderBy(F.col("mean_surprisal").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Round 4: physical-layout-backed execution (VERDICT r3 item 8)
# --------------------------------------------------------------------------


@query("pricing_summary_partitioned")
def pricing_summary_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q1-shaped pricing summary executed END-TO-END over the
    hive-partitioned layout (``sources.bucketing.write_partitioned``):
    lineitem is written partitioned by ``ship_year``, read back, and
    the one-year filter resolves as DIRECTORY-level partition pruning —
    ``EXPLAIN`` shows the year predicate under ``PartitionFilters``,
    not as a data filter (pinned by tests/test_plans.py). This is the
    100 TB pruning story exercised through a real benched query: a
    1-year query on a year-partitioned fact table opens 1/7th of the
    files before a single row group is read.

    The write is a layout build step (once per (sf_dir, layout
    version) — skipped when the `_SUCCESS` marker exists), mirroring
    how a real warehouse materializes layout once and amortizes it
    over every subsequent query.
    """
    from ..sources.bucketing import write_partitioned
    from ..sources.catalog import layout_artifact

    path, fresh = layout_artifact(
        sf_dir, "spark_graft_lineitem_by_year_v2", "lineitem"
    )
    if not fresh:
        li = load(spark, sf_dir, "lineitem").withColumn(
            "ship_year", F.year("l_shipdate")
        )
        write_partitioned(li, path, ["ship_year"])
    part = spark.read.parquet(path)
    return (
        part.where(F.col("ship_year") == 1995)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            quantized_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@query("semantic_dedup_embeddings")
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: fixed-iteration k-means
    (k=8) buckets the pair space, within-cluster GEMM finds cosine ≥
    0.3 pairs, lowest id per similarity group survives. Output = the
    DROPPED vectors with the similarity that killed them — the
    embedding-space member of the dedup ladder (exact → MinHash/LSH →
    SimHash → n-gram Jaccard → semantic)."""
    from ..operators.dedup import semantic_dedup_drops

    e = load(spark, sf_dir, "embeddings")
    return semantic_dedup_drops(e, k=8, iters=3, threshold=0.3)


@query("dsir_importance_weights")
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, hashed-ngram
    variant at the unigram level): each doc scores
    Σ_tokens log(p_target / p_raw) under add-one-smoothed unigram LMs,
    target = the English subcorpus (``lang = 'en'``), raw = the whole
    corpus. Top-50 by weight (desc, doc_id tie-break) = the docs
    importance resampling would draw first when steering the mixture
    toward the target domain.

    Plan shape: the doc_bigram_surprisal recipe at the unigram level —
    ONE tokenize+explode pass reduced to per-doc term counts
    (persisted; both LMs and the scoring join derive from it), term
    log-ratios computed on the corpus-vocabulary table (V rows) and
    joined back against per-doc COUNTS (bounded by distinct (doc,
    term) pairs, heavy terms contribute one row per doc). Global
    scalars (V, N_target, N_raw) attach via the single-valued-key
    broadcast equi-join (the catalog bans nested-loop shapes; a bare
    crossJoin of the 1-row aggregate would compile to one).
    """
    from ..functions.text import tokens

    d = load(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    dtc = (
        d.where(F.col("text").isNotNull())
        .select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "lang", "t")
        .agg(F.count("*").alias("k"))
    )
    dtc = managed_cache(dtc)
    term = dtc.groupBy("t").agg(
        F.sum("k").alias("raw_n"),
        F.sum(F.when(F.col("lang") == "en", F.col("k")).otherwise(0)).alias(
            "tgt_n"
        ),
    )
    totals = term.agg(
        F.count("*").alias("v"),
        F.sum("raw_n").alias("n_raw"),
        F.sum("tgt_n").alias("n_tgt"),
    )
    from ..operators.scalars import broadcast_scalars

    ratio = broadcast_scalars(term, totals, "raw_n", "v").select(
        "t",
        (
            F.log((F.col("tgt_n") + 1) / (F.col("n_tgt") + F.col("v")))
            - F.log((F.col("raw_n") + 1) / (F.col("n_raw") + F.col("v")))
        ).alias("lr"),
    )
    scored = (
        dtc.join(ratio, "t")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("k") * F.col("lr")), 4).alias("importance"),
            F.sum("k").cast("bigint").alias("n_tokens"),
        )
    )
    return scored.orderBy(
        F.col("importance").desc(), F.col("doc_id").asc()
    ).limit(50)


@query("supplier_pagerank")
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, d=0.85) over the bipartite
    customer↔supplier trade graph (distinct (o_custkey, l_suppkey)
    pairs via orders ⋈ lineitem, both directions) — the
    graph-centrality member of the operator family next to connected
    components: the same unroll-and-quantize recipe that keeps
    iterative algorithms inside the hash-matched gate. Output is every
    supplier's rank (customers share the mass but leave the result).

    Scale: the edge list shuffles once to build; each iteration is one
    contribution shuffle keyed on dst. Customer ids offset by 10^9
    keep the node space disjoint without string keys."""
    from ..operators.graph import pagerank_fixed

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_suppkey"
    )
    pairs = (
        o.join(li, "o_orderkey")
        .select(
            (F.col("o_custkey") + F.lit(1_000_000_000)).alias("cust_node"),
            F.col("l_suppkey").alias("supp_node"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("cust_node AS src", "supp_node AS dst").unionByName(
        pairs.selectExpr("supp_node AS src", "cust_node AS dst")
    )
    # lazy localCheckpoint: the join+distinct edge build would
    # otherwise recompute in all 4 consumers (nodes/deg + 3
    # iterations). persist() was measured HARMFUL here (pins the
    # pre-AQE layout, 4.7 → 22 s — graph.py NOTE); localCheckpoint
    # materializes the AQE-FINAL layout instead and wins at both
    # measured scales (sf0.1: 5.3 → 4.4 s; 10× edges: 16.0 → 14.1 s,
    # and far lower variance). eager=False so EXPLAIN-only consumers
    # pay nothing (the round-4 lazy-scalar rule).
    edges = edges.localCheckpoint(eager=False)
    # broadcast_node_tables (r17, guide §3.1): the node space is
    # customers + suppliers — ~1/40th of the edge rows at every TPC
    # scale factor — so deg/ranks broadcast into each iteration's edge
    # join and the checkpointed edge list is never exchanged (3.7 →
    # 2.4 s at sf0.1; the planner otherwise sizes the node tables off
    # the checkpoint's unknown stats and shuffles edges per iteration).
    pr = pagerank_fixed(
        edges, iters=3, damping=0.85, broadcast_node_tables=True
    )
    return (
        pr.where(F.col("node") < 1_000_000_000)
        .select(
            F.col("node").alias("s_suppkey"),
            F.round("rank", 6).alias("pagerank"),
        )
    )


@query("join_key_skew_profile")
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew diagnostics for the two hottest
    shuffle keys (events.user_id, lineitem.l_suppkey) — the
    pre-flight check that decides salting/AQE-skew-join settings
    before a 100 TB run: rows, distinct keys, the heaviest key's
    share, and p99-count/mean-count (how much worse the tail
    partition is than the average).

    Scale: per-key counts with map-side partials, then a
    #keys-row stats aggregate — nothing wider than the key space
    ever shuffles."""
    e = load(spark, sf_dir, "events")
    li = load(spark, sf_dir, "lineitem")

    def profile(df: DataFrame, key: str, tag: str) -> DataFrame:
        per = df.groupBy(F.col(key).alias("__k")).agg(
            F.count("*").alias("__n")
        )
        return per.agg(
            F.lit(tag).alias("key_name"),
            F.sum("__n").cast("bigint").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("__n").cast("bigint").alias("top1_count"),
            F.round(F.max("__n") / F.sum("__n"), 6).alias("top1_share"),
            F.round(
                F.percentile("__n", F.lit(0.99)) / F.avg("__n"), 4
            ).alias("p99_over_mean"),
        )

    return profile(e, "user_id", "events.user_id").unionByName(
        profile(li, "l_suppkey", "lineitem.l_suppkey")
    )


@query("weighted_ares_sample")
def weighted_ares_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res), deterministic form: each doc draws u from the portable
    48-bit hash of its id and keys on ln(u)/weight (weight = n_chars,
    so longer docs are proportionally likelier); top-5 keys per source
    win. The length-weighted cousin of the uniform
    deterministic_event_sample — how a curation pipeline takes a
    reproducible weighted subsample with no RNG state anywhere.

    Scale: hash + ln are scan-stage; the only shuffle is the per-source
    top-k (rank window over groups, count bounded by k·#sources)."""
    from ..operators.dedup import portable_hash48

    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.col("n_chars") > 0)
    )
    u = (portable_hash48(F.col("doc_id").cast("string")) + 1) / F.lit(
        float(2**48)
    )
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("sample_key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("sample_key").desc(), F.col("doc_id").asc()
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "doc_id", "n_chars", "sample_key",
                F.col("rn").cast("int").alias("rank"))
    )


@query("source_kl_divergence")
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over add-one-smoothed unigram LMs,
    observed-support variant (summed over terms PRESENT in the
    source) — the directional drift metric beside TVD
    (source_term_drift) and entropy (source_term_entropy): how
    surprised the corpus-wide LM is by each source's vocabulary.

    Scale: same one-explode shape as the entropy gate; the per-term
    join is against the V-row corpus LM with map-side partials on
    both sides."""
    from ..functions.text import tokens

    d = load(spark, sf_dir, "documents")
    tc = (
        d.where(F.col("text").isNotNull())
        .select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("k"))
    )
    tc = managed_cache(tc)
    corpus = tc.groupBy("t").agg(F.sum("k").alias("kc"))
    v_nc = corpus.agg(
        F.count("*").alias("v"), F.sum("kc").alias("nc")
    )
    src_tot = tc.groupBy("source").agg(F.sum("k").alias("ns"))
    from ..operators.scalars import broadcast_scalars

    joined = broadcast_scalars(
        tc.join(corpus, "t").join(F.broadcast(src_tot), "source"),
        v_nc,
        "k",
        "v",
    )
    ps = (F.col("k") + 1) / (F.col("ns") + F.col("v"))
    pc = (F.col("kc") + 1) / (F.col("nc") + F.col("v"))
    return joined.groupBy("source").agg(
        F.round(F.sum(ps * (F.log(ps) - F.log(pc))), 4).alias("kl_nats"),
        F.count("*").alias("n_terms"),
    )


@query("events_stream_hourly_users")
def events_stream_hourly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT distinct-users-per-hour: watermarked streaming
    dropDuplicates on (user_id, hour) feeding a windowed count — the
    streaming twin of ``count(DISTINCT ...)`` with state bounded by
    distinct pairs inside the horizon. Complete mode over the bounded
    source; the identical batch aggregate is the DuckDB oracle."""
    from ..streaming.events import (
        hourly_distinct_users,
        read_events_stream,
        run_to_completion,
    )

    agg = hourly_distinct_users(read_events_stream(spark, sf_dir))
    out = run_to_completion(agg, "gate_hourly_users", output_mode="complete")
    return out.select(
        (F.unix_micros("hour_start") / F.lit(1_000_000))
        .cast("bigint")
        .alias("hour_start_s"),
        "n_users",
    )


@query("cms_term_frequency_estimates")
def cms_term_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch term-frequency estimation (Cormode &
    Muthukrishnan), deterministic form: d=4 hash rows × w=1024
    counters, hash_j(t) = portable-48(j ‖ t) mod w. The sketch is
    built as a dataflow — per-term counts (map-side combinable), then
    (row, col) counter sums — which IS the CMS merge property:
    per-partition sketches sum elementwise, expressed as one groupBy.
    Point estimates (min over the d counters) are evaluated for the
    top-20 true terms and reported against truth — the overestimate
    column is the sketch's collision bias, ≥ 0 by construction.

    Scale: the counter table is d·w rows regardless of corpus size
    (broadcastable); the corpus contributes one explode→count pass.
    The d-fold fan-out happens on the V-row term-count AGGREGATE, not
    on token occurrences."""
    from ..operators.dedup import portable_hash48

    d_rows, w = 4, 1024
    docs = load(spark, sf_dir, "documents")
    from ..functions.text import tokens

    tc = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("k"))
    )
    rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(d_rows - 1)),
            lambda j: F.struct(
                j.cast("int").alias("j"),
                F.pmod(
                    portable_hash48(
                        F.concat(j.cast("string"), F.lit(":"), F.col("t"))
                    ),
                    F.lit(w),
                ).cast("int").alias("col"),
            ),
        )
    )
    cells = tc.select("t", "k", rows.alias("__c")).select(
        "t", "k", F.col("__c.j").alias("j"), F.col("__c.col").alias("col")
    )
    sketch = cells.groupBy("j", "col").agg(F.sum("k").alias("counter"))
    top = (
        tc.orderBy(F.col("k").desc(), F.col("t").asc())
        .limit(20)
        .select("t", "k")
    )
    est = (
        top.select(
            "t",
            "k",
            rows.alias("__c"),
        )
        .select("t", "k", F.col("__c.j").alias("j"), F.col("__c.col").alias("col"))
        .join(F.broadcast(sketch), ["j", "col"])
        .groupBy("t", "k")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    return est.select(
        F.col("t").alias("term"),
        F.col("k").cast("bigint").alias("true_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("k")).cast("bigint").alias("overestimate"),
    )


@query("ppjoin_exact_jaccard_pairs")
def ppjoin_exact_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT member of the dedup similarity ladder: PPJoin-style
    prefix-filtered set-similarity self-join at τ=0.5 on word-token
    sets — no false negatives, oracle is the brute-force all-pairs
    Jaccard, so the hash match PROVES the prefix filter is lossless on
    this corpus."""
    from ..operators.dedup import ppjoin_exact_jaccard

    d = load(spark, sf_dir, "documents")
    return ppjoin_exact_jaccard(d, threshold=0.5)


@query("snapshot_cdc_diff")
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two warehouse snapshots — the
    maintenance step behind SCD2/MERGE loads. The 'new' snapshot is
    derived deterministically from orders (every 17th key deleted,
    every 13th repriced +10%, every 19th re-inserted under a shifted
    key); a full-outer join on the key classifies every key into
    inserted/deleted/updated/unchanged, aggregated per class.

    Scale: one full-outer shuffle join on the snapshot key + a 4-row
    aggregate; at 100 TB both snapshots would be bucketed on the key
    and the join is exchange-free (sources/bucketing.py)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = o
    new = (
        o.where(F.col("o_orderkey") % 17 != 0)
        .select(
            "o_orderkey",
            # no per-row round: the IEEE double product is identical in
            # both engines, while round(x*1.1, 2) straddles .005
            # boundaries differently per decimal formatter (measured
            # 2-cent drift in the sf0.01 'updated' sum).
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 19 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    j = old.select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("old_p")
    ).join(
        new.select(
            F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("new_p")
        ),
        "k",
        "full_outer",
    )
    status = (
        F.when(F.col("old_p").isNull(), F.lit("inserted"))
        .when(F.col("new_p").isNull(), F.lit("deleted"))
        .when(F.col("old_p") != F.col("new_p"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    # quantized at 4 dp: old_p is 2-dp, new_p is exactly 3-dp
    # (2-dp × 1.1), so 1e4-unit counts are exact integers — the
    # round-8 money-sum rule (a cent flipped here at 3.3e11 during the
    # full-catalog 100x drive before this).
    return j.groupBy(status.alias("status")).agg(
        F.count("*").alias("n_keys"),
        quantized_sum(F.coalesce(F.col("old_p"), F.lit(0.0)), 4).alias(
            "total_old_price"
        ),
        quantized_sum(F.coalesce(F.col("new_p"), F.lit(0.0)), 4).alias(
            "total_new_price"
        ),
    )


@query("token_pmi_top_pairs")
def token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token pairs by pointwise mutual information (document-
    level co-occurrence over the 200 most frequent tokens) — the
    collocation/phrase-mining primitive behind tokenizer-merge and
    stop-phrase decisions. PMI = ln(N·c(a,b) / (c(a)·c(b))) over
    doc-distinct occurrences; pairs need c(a,b) ≥ 5 to suppress
    small-count noise.

    Scale: the vocabulary is capped FIRST (top-200 by corpus doc
    frequency, lossless two-phase top-k), so the per-doc pair fan-out
    is ≤ C(200,2) regardless of corpus size; co-occurrence counts are
    one groupBy with map-side partials."""
    from ..functions.text import tokens

    d = load(spark, sf_dir, "documents")
    dt = (
        d.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t"))
    )
    df_counts = dt.groupBy("t").agg(F.count("*").alias("df"))
    top = (
        df_counts.orderBy(F.col("df").desc(), F.col("t").asc())
        .limit(200)
    )
    dt_top = dt.join(F.broadcast(top), "t")
    # lazy broadcast scalar, never a driver-side .count(): an eager
    # count would scan documents at plan-CONSTRUCTION time (even for
    # EXPLAIN-only consumers) and then again in the dataflow.
    from ..operators.scalars import broadcast_scalars

    n_docs = d.where(F.col("text").isNotNull()).agg(
        F.count("*").alias("n_docs")
    )
    pairs = (
        dt_top.alias("a")
        .join(dt_top.alias("b"), "doc_id")
        .where(F.col("a.t") < F.col("b.t"))
        .groupBy(F.col("a.t").alias("t_a"), F.col("b.t").alias("t_b"))
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    scored = (
        broadcast_scalars(pairs, n_docs, "c_ab", "n_docs")
        .join(
            F.broadcast(top.select(F.col("t").alias("t_a"), F.col("df").alias("c_a"))),
            "t_a",
        )
        .join(
            F.broadcast(top.select(F.col("t").alias("t_b"), F.col("df").alias("c_b"))),
            "t_b",
        )
        .select(
            "t_a",
            "t_b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(
                    F.col("n_docs").cast("double")
                    * F.col("c_ab")
                    / (F.col("c_a") * F.col("c_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("t_a").asc(), F.col("t_b").asc()
    ).limit(50)


@query("cdc_chunk_dedup_stats")
def cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking proving SHIFT-ROBUST dedup: every 5th
    doc is re-ingested under a 3-char prefix ('zz ' — the classic
    insertion that defeats fixed-size chunking), the whole corpus is
    CDC-chunked (16-char rolling window, boundary ≡ 0 mod 64), and
    per-source chunk-hash dedup ratios drop below 1 exactly because
    shifted copies re-synchronize on the same boundaries. Output per
    source: chunks, distinct chunk hashes, dedup ratio, mean chunk
    length."""
    from ..operators.curation import content_defined_chunks

    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.col("n_chars") > 0)
    )
    mirrored = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.col("source"),
        F.concat(F.lit("zz "), F.col("text")).alias("text"),
    )
    corpus = d.select("doc_id", "source", "text").unionByName(mirrored)
    ch = content_defined_chunks(corpus)
    return ch.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("chunk_hash").alias("n_distinct_chunks"),
        F.round(F.countDistinct("chunk_hash") / F.count("*"), 4).alias(
            "dedup_ratio"
        ),
        F.round(F.avg("chunk_len"), 2).alias("mean_chunk_len"),
    )


@query("langid_confusion_matrix")
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation shape over the lang-ID heuristic: the
    (actual, predicted) confusion matrix with per-cell share of the
    actual class — how a pipeline validates a filter model against
    labels before trusting it to route 100 TB. Reuses the exact
    doc_language_id predicate; one aggregate."""
    from ..functions.text import langid_prediction

    d = load(spark, sf_dir, "documents")
    cells = d.select(
        F.col("lang").alias("actual"),
        langid_prediction(F.col("text")).alias("predicted"),
    )
    per_actual = Window.partitionBy("actual")
    return (
        cells.groupBy("actual", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "share_of_actual",
            F.round(F.col("n_docs") / F.sum("n_docs").over(per_actual), 4),
        )
    )


@query("bucketed_colocated_revenue")
def bucketed_colocated_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUCKETING story benched end-to-end (the join-side twin of
    pricing_summary_partitioned's pruning story): orders and customer
    are written bucketed+sorted by custkey into the session catalog
    (once per sf, `_SUCCESS`-style existence check on the table), and
    the revenue-by-segment query joins them EXCHANGE-FREE — the
    write-time shuffle amortized across every later query, which is
    the co-located-join contract a 100 TB warehouse runs on
    (tests/test_plans.py pins the no-Exchange plan)."""
    from ..sources.bucketing import write_bucketed
    from ..sources.catalog import layout_artifact

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    to, tc = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    for tbl, name in (("orders", to), ("customer", tc)):
        # Staleness via the shared layout_artifact rule, PLUS the
        # catalog check: a catalog hit alone is not enough — if the
        # source parquet is newer than the bucketed write's _SUCCESS
        # marker (sf_dir regenerated between sessions), rebuild with
        # mode=overwrite instead of silently serving stale buckets.
        # (saveAsTable overwrite also makes a concurrent-session race
        # converge on a full rewrite, not a mixed directory.)
        path, fresh = layout_artifact(
            sf_dir, f"spark_graft_bucketed_v2_{tbl}", tbl
        )
        if not (fresh and spark.catalog.tableExists(name)):
            df = load(spark, sf_dir, tbl)
            key = "o_custkey" if tbl == "orders" else "c_custkey"
            write_bucketed(df, name, [key], n_buckets=8, path=path)
    # differently-named keys → explicit equi-condition (colocated_join's
    # USING form needs identical names); the bucket specs still line up.
    j = spark.table(to).join(
        spark.table(tc), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            quantized_sum(F.col("o_totalprice"), 2).alias("total_revenue"),
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .withColumnRenamed("c_mktsegment", "segment")
    )


@query("events_stream_unattributed_views")
def events_stream_unattributed_views(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming LEFT OUTER stream-stream join gate: views with no
    same-user purchase within 30 minutes (the abandoned-intent feed) —
    the outer-join capability the inner attribution gate doesn't
    exercise: unmatched rows emit only after the watermark closes
    their horizon. Batch anti-join oracle."""
    from ..streaming.events import read_events_stream, run_to_completion, unattributed_views

    out = run_to_completion(
        unattributed_views(read_events_stream(spark, sf_dir)),
        "gate_unattributed_views",
        output_mode="append",
    )
    # exact epoch MICROS (the catalog's timestamp rule): seconds-level
    # division truncates while DuckDB's epoch() rounds the fraction —
    # off-by-one on any sub-second timestamp.
    return out.select(
        "user_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        "view_id",
    )


@query("table_profile_stats")
def table_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-shaped column profile of lineitem in ONE pass:
    per column, null count, distinct count, min/max (numeric columns
    as doubles) — the data-quality audit a pipeline runs before
    trusting a new 100 TB drop. Every column's stats come from a
    single aggregate row (no per-column scans), then unpivot to one
    row per column."""
    li = load(spark, sf_dir, "lineitem")
    num_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    str_cols = ["l_returnflag", "l_linestatus"]
    aggs = []
    for c in num_cols + str_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    for c in num_cols:
        aggs += [
            F.round(F.min(c).cast("double"), 4).alias(f"{c}__min"),
            F.round(F.max(c).cast("double"), 4).alias(f"{c}__max"),
        ]
    row = li.agg(*aggs)
    parts = []
    for c in num_cols:
        parts.append(
            row.select(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
        )
    for c in str_cols:
        parts.append(
            row.select(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_value"),
                F.lit(None).cast("double").alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query("table_profile_approx")
def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-default twin of ``table_profile_stats``: the exact
    multi-``countDistinct`` profile compiles to a ~7× Expand of the
    scan before the partial aggregate (fine at sf0.1, wrong at scale);
    this one profiles with ``approx_count_distinct`` (HyperLogLog++)
    so the whole per-column profile is ONE pass with map-side partial
    sketches and NO Expand (pinned by tests/test_plans.py).

    HLL estimates are not SQL-portable, so the gate follows the
    recall-invariant pattern (cf. minhash_lsh_fast_dup_recall): the
    deterministic stats (nulls, min/max) hash-match the oracle
    directly, and each HLL estimate is checked INSIDE the query
    against an exact per-column distinct side-pass (single-column
    countDistinct — two-phase partial agg, no Expand) and emitted as
    an ``approx_ok`` bound verdict the oracle asserts TRUE. The
    side-passes are gate verification, not the production shape — a
    real deployment runs only the first aggregate. rsd=0.02 with a
    ±10 % acceptance band: HLL++ is exact in sparse mode for every
    low-cardinality TPC-H domain column and well inside 5σ for
    l_extendedprice.

    Plan hygiene (pinned by tests/test_plans.py): selecting the 6
    output rows from the single profile row via a UNION of per-column
    selects would let the optimizer prune each branch into its own
    re-aggregation — 6 redundant scans of the fact table. Exploding an
    array of per-column structs keeps the profile ONE scan; only the
    6 exact verification aggs add scans (gate-only)."""
    li = load(spark, sf_dir, "lineitem")
    num_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    str_cols = ["l_returnflag", "l_linestatus"]
    aggs = []
    for c in num_cols + str_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(c, rsd=0.02).alias(f"{c}__approx"),
        ]
    for c in num_cols:
        aggs += [
            F.round(F.min(c).cast("double"), 4).alias(f"{c}__min"),
            F.round(F.max(c).cast("double"), 4).alias(f"{c}__max"),
        ]
    row = li.agg(*aggs)
    null_d = F.lit(None).cast("double")
    profile = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                        (
                            F.col(f"{c}__min") if c in num_cols else null_d
                        ).alias("min_value"),
                        (
                            F.col(f"{c}__max") if c in num_cols else null_d
                        ).alias("max_value"),
                        F.col(f"{c}__approx").alias("approx_distinct"),
                    )
                    for c in num_cols + str_cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    exact = None
    for c in num_cols + str_cols:
        e = (
            li.select(c)
            .agg(F.countDistinct(c).alias("exact_distinct"))
            .select(F.lit(c).alias("column_name"), "exact_distinct")
        )
        exact = e if exact is None else exact.unionByName(e)
    return profile.join(F.broadcast(exact), "column_name").select(
        "column_name",
        "n_nulls",
        "min_value",
        "max_value",
        (
            (F.col("approx_distinct") >= F.col("exact_distinct") * F.lit(0.9))
            & (
                F.col("approx_distinct")
                <= F.col("exact_distinct") * F.lit(1.1)
            )
        ).alias("approx_ok"),
    )


@query("value_mad_outliers")
def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: modified z-score
    |x − median| / (1.4826·MAD) > 3.5 (the Iglewicz-Hoaglin rule) —
    the heavy-tail-safe cousin of the z-score anomaly gate (means and
    stddevs are themselves corrupted by the outliers they hunt;
    medians are not). Output: per-type medians, MAD, outlier counts
    and share.

    Scale: two #type-bounded percentile aggregates (median, then MAD
    over |x−median|) + one flagging pass — the corpus shuffles on
    event_type with map-side partials; no row-level state."""
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = (
        e.join(F.broadcast(med), "event_type")
        .withColumn("absdev", F.abs(F.col("value") - F.col("med")))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad"),
        F.first("med").alias("med"),
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
    is_out = (
        F.col("absdev") > F.lit(3.5) * F.lit(1.4826) * F.col("mad")
    )
    return flagged.groupBy("event_type").agg(
        F.round(F.first("med"), 4).alias("median_value"),
        F.round(F.first("mad"), 4).alias("mad"),
        F.count("*").alias("n_events"),
        F.sum(is_out.cast("long")).alias("n_outliers"),
        F.round(F.sum(is_out.cast("long")) / F.count("*"), 6).alias(
            "outlier_share"
        ),
    )


def _timeline_halves(e: DataFrame) -> DataFrame:
    """Median-timestamp split shared by the drift / robust-stats gates
    (batch PSI, streaming PSI, streaming MAD): attaches ``half``
    (1 = reference population, 2 = live) using the round-to-bigint
    median cutoff with an INCLUSIVE ``<=`` — the exact convention every
    one of their oracles replays (``CAST(round(quantile_cont(us, 0.5))
    AS BIGINT)``, ``us <= m``). One copy so a cutoff change cannot
    leave a sibling gate silently diverged from its oracle."""
    from ..operators.scalars import broadcast_scalars

    ts_med = e.agg(
        F.percentile(F.unix_micros("ts"), F.lit(0.5)).alias("m")
    )
    return broadcast_scalars(
        e.withColumn("__us", F.unix_micros("ts")),
        ts_med.select(F.round("m").cast("bigint").alias("m")),
        "event_id",
        "m",
    ).withColumn(
        "half", F.when(F.col("__us") <= F.col("m"), 1).otherwise(2)
    )


@query("value_psi_drift")
def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second halves
    of the events timeline (split at the median ts): decile bins fit
    on the FIRST half, both halves histogrammed into them, PSI =
    Σ (p₂−p₁)·ln(p₂/p₁) with ε-floored shares — the standard ML-ops
    input-drift alarm (PSI > 0.2 ≈ shifted population), one per event
    type.

    Scale: bin edges are a #type×9 broadcast; each half histograms in
    one pass with map-side partials. Bin assignment uses the same
    quantile edges in both engines (exact percentile, round-9
    quantized) so bucket membership is identical."""
    e = load(spark, sf_dir, "events")
    halves = _timeline_halves(e)
    edges = (
        halves.where(F.col("half") == 1)
        .groupBy("event_type")
        .agg(
            F.transform(
                F.percentile(
                    "value",
                    F.lit([i / 10.0 for i in range(1, 10)]),
                ),
                lambda x: F.round(x, 9),
            ).alias("edges")
        )
    )
    binned = (
        halves.join(F.broadcast(edges), "event_type")
        .withColumn(
            "bin",
            F.aggregate(
                "edges",
                F.lit(0),
                lambda acc, ed: acc
                + F.when(F.col("value") > ed, 1).otherwise(0),
            ),
        )
    )
    # `counts` feeds both `tot` and the shares join, but a cache here
    # measured as pure overhead (r17 A/B): AQE's exchange reuse
    # already dedups the scan+histogram subtree below the aggregate.
    counts = binned.groupBy("event_type", "half", "bin").agg(
        F.count("*").alias("n")
    )
    tot = counts.groupBy("event_type", "half").agg(F.sum("n").alias("tot"))
    shares = counts.join(tot, ["event_type", "half"]).select(
        "event_type",
        "half",
        "bin",
        F.greatest(F.col("n") / F.col("tot"), F.lit(1e-6)).alias("p"),
    )
    p1 = shares.where(F.col("half") == 1).select(
        "event_type", "bin", F.col("p").alias("p1")
    )
    p2 = shares.where(F.col("half") == 2).select(
        "event_type", "bin", F.col("p").alias("p2")
    )
    joined = p1.join(p2, ["event_type", "bin"], "full_outer").select(
        "event_type",
        F.coalesce(F.col("p1"), F.lit(1e-6)).alias("p1"),
        F.coalesce(F.col("p2"), F.lit(1e-6)).alias("p2"),
    )
    return joined.groupBy("event_type").agg(
        F.round(
            F.sum(
                (F.col("p2") - F.col("p1"))
                * (F.log("p2") - F.log("p1"))
            ),
            6,
        ).alias("psi"),
        F.count("*").alias("n_bins"),
    )


@query("events_stream_psi_drift")
def events_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed input-drift monitoring ON THE STREAM (the round-4
    robust-stats family joined to the streaming surface — the shape an
    ML-ops pipeline actually runs): decile bin edges and reference
    shares are fit OFFLINE on the first half of the timeline (the
    "training population"), the live event stream is histogrammed
    against them per (day, event_type) via a stream-static broadcast
    join + windowed count, and each day's PSI vs the reference is the
    alert signal (PSI > 0.2 ≈ shifted inputs).

    The streaming stage is ``windowed_binned_counts`` (complete mode
    over the bounded source); the PSI arithmetic runs batch-side over
    the tiny aggregated counts — exactly where an alerting layer sits.
    Missing (day, type, bin) cells are completed from an exploded
    0..9 bin spine so the ε-floor applies to empty bins identically in
    both engines.

    Scale: stream state = #days×#types×10 rows in the horizon; edges
    and reference shares are #types×10 broadcasts; the PSI join and
    aggregate run on aggregated counts, not events."""
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        windowed_binned_counts,
    )

    e = load(spark, sf_dir, "events")
    first_half = _timeline_halves(e).where(F.col("half") == 1)
    # Cache the #types-row edge table: the stream-static join
    # re-resolves its static side PER MICRO-BATCH, and the batch-side
    # PSI frame references it again — without the cache each
    # resolution re-runs the full first-half percentile scan (guide
    # §5: reused + expensive to recompute). Values are unchanged
    # (deterministic percentile); release is scope-owned.
    edges = managed_cache(
        first_half.groupBy("event_type").agg(
            F.transform(
                F.percentile(
                    "value", F.lit([i / 10.0 for i in range(1, 10)])
                ),
                lambda x: F.round(x, 9),
            ).alias("edges")
        )
    )
    ref_binned = first_half.join(F.broadcast(edges), "event_type").select(
        "event_type",
        F.aggregate(
            "edges",
            F.lit(0),
            lambda acc, ed: acc
            + F.when(F.col("value") > ed, 1).otherwise(0),
        ).alias("bin"),
    )
    ref_counts = ref_binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("rn")
    )
    ref_tot = ref_counts.groupBy("event_type").agg(
        F.sum("rn").alias("rtot")
    )
    ref_shares = ref_counts.join(ref_tot, "event_type").select(
        "event_type",
        "bin",
        F.greatest(F.col("rn") / F.col("rtot"), F.lit(1e-6)).alias("p_ref"),
    )

    counts = run_to_completion(
        windowed_binned_counts(read_events_stream(spark, sf_dir), edges),
        "gate_psi_drift",
        output_mode="complete",
    )
    # one reference to the sink relation only: a spine join back onto
    # `counts` would self-join the streaming memory view, which defeats
    # attribute deduplication (internal "Conflicting attributes"
    # analyzer error) — so fold each group's bins into a map and
    # explode the 0..9 spine out of the SAME row instead.
    g = counts.groupBy("win_start", "event_type").agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "n"))).alias(
            "bn"
        ),
        F.sum("n").alias("tot"),
    )
    spine = g.select(
        "win_start",
        "event_type",
        "tot",
        "bn",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin"),
    )
    cells = spine.join(
        F.broadcast(ref_shares), ["event_type", "bin"], "left"
    ).select(
        "win_start",
        "event_type",
        "tot",
        F.greatest(
            F.coalesce(F.col("bn")[F.col("bin")], F.lit(0)) / F.col("tot"),
            F.lit(1e-6),
        ).alias("p"),
        F.coalesce(F.col("p_ref"), F.lit(1e-6)).alias("p_ref"),
    )
    return cells.groupBy("win_start", "event_type").agg(
        F.round(
            F.sum(
                (F.col("p") - F.col("p_ref"))
                * (F.log("p") - F.log("p_ref"))
            ),
            6,
        ).alias("psi"),
        F.first("tot").cast("bigint").alias("n_events"),
    ).select(
        (F.unix_micros("win_start") / F.lit(1_000_000))
        .cast("bigint")
        .alias("day_start_s"),
        "event_type",
        "psi",
        "n_events",
    )


@query("value_quantiles_approx")
def value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate quantiles (``percentile_approx``,
    Spark's mergeable quantile sketch) verified against the sketch's
    FORMAL guarantee — completing the approx-sketch family (HLL
    table_profile_approx, CMS, KMV) with the one every monitoring
    pipeline needs: percentiles without a full sort at 100 TB.

    Gate shape (the recall-invariant pattern): exact per-type
    ``percentile`` values hash-match the oracle directly; each GK
    estimate at accuracy=1000 (rank error ε ≤ 1/1000) is rank-checked
    INSIDE the query — the returned element's possible rank interval
    [#(<e)+1, #(≤e)] must intersect [(p−ε)·n, (p+ε)·n] — and crosses
    the hash as a ``rank_ok`` verdict the oracle asserts TRUE (GK
    output is implementation-defined, its guarantee is not).

    Scale: the GK sketch is one map-side-mergeable aggregate; the
    rank-check join-back is gate verification only (documented), and
    even it is a broadcast of #types×3 scalars against one scan."""
    e = load(spark, sf_dir, "events").select("event_type", "value")
    ps = [0.5, 0.9, 0.99]
    acc = 1000
    approx = (
        e.groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", F.lit(ps), F.lit(acc)
            ).alias("ap")
        )
        .select(
            "event_type",
            F.posexplode("ap").alias("pi", "approx_q"),
        )
    )
    ranks = (
        e.join(F.broadcast(approx), "event_type")
        .groupBy("event_type", "pi")
        .agg(
            F.sum((F.col("value") < F.col("approx_q")).cast("long")).alias(
                "n_lt"
            ),
            F.sum((F.col("value") <= F.col("approx_q")).cast("long")).alias(
                "n_le"
            ),
            F.count("*").alias("n"),
        )
    )
    # Spark's documented guarantee is rank ∈ [floor((p−ε)N),
    # ceil((p+ε)N)] — the floor/ceil matter (measured: the sketch
    # legitimately returns the element at exactly floor((p−ε)N), a
    # hair under the un-floored real bound); ±1 rank of slack encodes
    # the floor/ceil without re-importing the float-ceil boundary bug.
    p_col = F.element_at(F.lit(ps), F.col("pi") + 1)
    verdicts = ranks.select(
        "event_type",
        F.round(p_col, 2).alias("p"),
        (
            (F.col("n_lt") <= (p_col + 1.0 / acc) * F.col("n") + 1)
            & (F.col("n_le") >= (p_col - 1.0 / acc) * F.col("n") - 1)
        ).alias("rank_ok"),
    )
    exact = (
        e.groupBy("event_type")
        .agg(F.percentile("value", F.lit(ps)).alias("__q"))
        .select(
            "event_type",
            F.posexplode("__q").alias("pi", "__qv"),
        )
        .select(
            "event_type",
            F.round(F.element_at(F.lit(ps), F.col("pi") + 1), 2).alias("p"),
            F.round("__qv", 4).alias("exact_q"),
        )
    )
    return exact.join(verdicts, ["event_type", "p"]).select(
        "event_type", "p", "exact_q", "rank_ok"
    )


@query("gopher_quality_flags")
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-rule set (Rae et al. 2021,
    arXiv:2112.11446 Table A1) composed as corpus filters — the
    RULE-THRESHOLD layer on top of the raw metric gates (doc_quality,
    doc_repetition_stats): word count in [50, 100k], mean word length
    in [3, 10], symbol-to-word ratio (# and ellipsis) ≤ 0.1, ≥ 80 % of
    words alphabetic, ≥ 2 English stopword hits. Output per source:
    per-rule failure counts and the all-rules pass rate — the triage
    table a curation run reads before committing thresholds to 100 TB.

    Scale: one scan, all signals are JVM array arithmetic on the
    whitespace token array (shared tokenization convention with the
    dedup/curation stack); one groupBy(source) with map-side partials.
    """
    from ..functions.text import STOPWORDS, stopword_hits, tokens

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    mean_wl = F.aggregate(
        F.transform(toks, F.length),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / n_words
    alpha_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / n_words
    )
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    stop_hits = stopword_hits(F.col("text"), STOPWORDS["en"])
    sig = d.where(n_words > 0).select(
        "source",
        (~n_words.between(50, 100_000)).alias("f_words"),
        (~mean_wl.between(3.0, 10.0)).alias("f_wordlen"),
        (symbol_ratio > 0.1).alias("f_symbols"),
        (alpha_ratio < 0.8).alias("f_alpha"),
        (stop_hits < 2).alias("f_stopwords"),
    )
    passed = (
        ~F.col("f_words")
        & ~F.col("f_wordlen")
        & ~F.col("f_symbols")
        & ~F.col("f_alpha")
        & ~F.col("f_stopwords")
    )
    return sig.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("f_words").cast("long")).alias("fail_word_count"),
        F.sum(F.col("f_wordlen").cast("long")).alias("fail_mean_word_len"),
        F.sum(F.col("f_symbols").cast("long")).alias("fail_symbol_ratio"),
        F.sum(F.col("f_alpha").cast("long")).alias("fail_alpha_ratio"),
        F.sum(F.col("f_stopwords").cast("long")).alias("fail_stopwords"),
        F.round(F.sum(passed.cast("long")) / F.count("*"), 4).alias(
            "pass_rate"
        ),
    )


@query("events_stream_mad_outliers")
def events_stream_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming robust-outlier monitoring — the MAD sibling of
    events_stream_psi_drift, completing the robust-stats family on the
    streaming surface: per-type median and MAD are fit OFFLINE on the
    first half of the timeline (round-9 quantized so both engines
    apply the identical threshold double), broadcast into the stream,
    and each day's modified-z outlier count/share (Iglewicz-Hoaglin,
    |x−med| > 3.5·1.4826·MAD) is the alert feed.

    Scale: thresholds are #types rows broadcast per micro-batch (no
    join state); window state = #days×#types; the outlier test is one
    codegen'd comparison per event — no sketch, no second pass."""
    from ..streaming.events import (
        read_events_stream,
        run_to_completion,
        windowed_outlier_counts,
    )

    e = load(spark, sf_dir, "events")
    first_half = _timeline_halves(e).where(F.col("half") == 1)
    med = first_half.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 9).alias("med")
    )
    mad = (
        first_half.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("absdev"),
        )
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.round(F.percentile("absdev", F.lit(0.5)), 9).alias("mad"),
        )
    )
    # NOT cached (unlike the PSI gate's edges): this gate's bounded
    # source drains in one micro-batch and the thresholds have no
    # batch-side consumer, so the static side resolves once either
    # way — an r17 A/B measured the cache as pure overhead here.
    thresholds = mad.select(
        "event_type",
        "med",
        F.round(F.lit(3.5) * F.lit(1.4826) * F.col("mad"), 9).alias("thr"),
    )
    out = run_to_completion(
        windowed_outlier_counts(read_events_stream(spark, sf_dir), thresholds),
        "gate_mad_outliers",
        output_mode="complete",
    )
    return out.select(
        (F.unix_micros("win_start") / F.lit(1_000_000))
        .cast("bigint")
        .alias("day_start_s"),
        "event_type",
        "n_events",
        "n_outliers",
        F.round(F.col("n_outliers") / F.col("n_events"), 6).alias(
            "outlier_share"
        ),
    )


@query("ivf_recall_at_k")
def ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the IVF ANN path against exact brute force,
    per query vector — the accounting an ANN deployment publishes
    (recall@k is the contract; the speedup is only honest next to it).
    Composes the two existing oracle-replayable plans (cosine_topk,
    ivf_topk probing the label cell) and counts per-query overlap:
    recall@5 = |IVF top-5 ∩ exact top-5| / 5.

    Scale: both sides are the audited ANN plans (candidate set bounded
    by the probed cell, no cartesian); the overlap join runs on
    #queries×k rows."""
    from ..operators.similarity import cosine_topk, ivf_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    brute = cosine_topk(q, e, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(q, e, cell_col="label", k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    j = brute.join(approx, ["query_id", "neighbor_id"], "left")
    return j.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(
            "n_hits"
        ),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(5.0), 4
        ).alias("recall_at_5"),
    )


@query("leakage_safe_split")
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assign each NEAR-DUP CLUSTER
    (normalized-content hash, the dedup ladder's first rung) to a
    split by hashing the CLUSTER key — so normalization-equal variants
    of a document can never straddle train and test, the eval-
    contamination failure a row-level random split ships by default.
    80/10/10 via pmod(cluster_key, 100). Output per split: docs,
    clusters, doc share, plus ``n_straddling_clusters`` — clusters
    seen in >1 split — verified IN-QUERY (0 by construction since the
    split is a pure function of the cluster key; the column proves it
    rather than asserting it).

    Scale: split assignment is scan-stage arithmetic on the same
    normalized hash the dedup pass already computes; the stats are one
    groupBy(cluster) + one groupBy(split) — both map-side combinable."""
    from ..operators.dedup import portable_hash48

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    assigned = d.select(
        "doc_id", portable_hash48(norm).alias("cluster_key")
    ).withColumn(
        "split",
        F.when(F.pmod("cluster_key", F.lit(100)) < 80, "train")
        .when(F.pmod("cluster_key", F.lit(100)) < 90, "val")
        .otherwise("test"),
    )
    per_cluster = assigned.groupBy("cluster_key").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
        F.first("split").alias("split"),
    )
    from ..operators.scalars import broadcast_scalars

    tot = assigned.agg(F.count("*").alias("n_total"))
    stats = per_cluster.groupBy("split").agg(
        F.sum("n_docs").alias("n_docs"),
        F.count("*").alias("n_clusters"),
        F.sum((F.col("n_splits") > 1).cast("long")).alias(
            "n_straddling_clusters"
        ),
    )
    return broadcast_scalars(stats, tot, "n_docs", "n_total").select(
        "split",
        "n_docs",
        "n_clusters",
        "n_straddling_clusters",
        F.round(F.col("n_docs") / F.col("n_total"), 4).alias("doc_share"),
    )


@query("jsonl_ingest_stats")
def jsonl_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion end-to-end (the format 100 TB corpora actually
    arrive in): documents are dumped once per sf as sharded gzip JSONL
    (mtime-staleness rebuild, like the other layout builds), read back
    with a DECLARED schema — no inference pass — and profiled per
    (source, lang). The oracle computes the same profile from the
    parquet table, so the hash match proves round-trip fidelity
    (types, nulls, text bytes) — not just that something was read.

    Scale notes live in sources/jsonl.py: explicit schema avoids the
    full inference scan; gzip shards keep one-task-per-file
    parallelism."""
    from ..sources.catalog import layout_artifact
    from ..sources.jsonl import (
        DOCUMENTS_JSONL_SCHEMA,
        read_jsonl,
        write_jsonl,
    )

    path, fresh = layout_artifact(
        sf_dir, "spark_graft_docs_jsonl_v1", "documents"
    )
    if not fresh:
        write_jsonl(load(spark, sf_dir, "documents"), path)
    docs = read_jsonl(spark, path, DOCUMENTS_JSONL_SCHEMA)
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query("zorder_box_scan")
def zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-ORDER layout story benched end-to-end — third member of
    the layout trilogy (pricing_summary_partitioned: directory
    pruning; bucketed_colocated_revenue: exchange-free join): lineitem
    is rewritten once per sf Z-ordered on (l_partkey, l_suppkey)
    (sources/layout.write_clustered, Morton-interleaved sort key,
    bounded file sizes), and a 2-D box predicate — the query shape
    that defeats any single-column sort — aggregates over it. Values
    hash-match the raw-table oracle; the scan-efficiency evidence
    (box touches O(perimeter) files vs a linear layout's O(area)) is
    measured in tests/test_layout.py::
    test_zorder_layout_beats_linear_on_box_queries.

    Scale: at 100 TB two correlated range dims (time × key, geo × id)
    make Z-ordering the difference between reading hundreds and
    hundreds of thousands of row groups for box-shaped queries."""
    from ..sources.catalog import layout_artifact
    from ..sources.layout import write_clustered

    path, fresh = layout_artifact(
        sf_dir, "spark_graft_lineitem_zorder_v1", "lineitem"
    )
    if not fresh:
        li = load(spark, sf_dir, "lineitem").select(
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
        write_clustered(
            li,
            path,
            zorder_by=["l_partkey", "l_suppkey"],
            zorder_bits=16,
            max_records_per_file=20_000,
        )
    z = spark.read.parquet(path)
    box = z.where(
        F.col("l_partkey").between(100, 400)
        & F.col("l_suppkey").between(10, 60)
    )
    return box.agg(
        F.count("*").alias("n_items"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        quantized_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
        ).alias("revenue"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


#: Fixed BM25 query set shared by the lexical gate and the hybrid
#: fusion gate (and inlined as VALUES in both oracles).
_BM25_QUERIES = [
    ("q_join", ["spark", "join", "filter"]),
    ("q_scan", ["table", "scan", "merge"]),
    ("q_stream", ["stream", "window", "value"]),
]


def _bm25_rankings(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Shared BM25 top-k ranking (see bm25_topk_docs for the formula
    and scale notes) — one implementation for the lexical gate and the
    hybrid RRF fusion gate so the two cannot drift from each other or
    their oracles."""
    from ..functions.text import tokens
    from ..operators.scalars import broadcast_scalars

    k1, b = 1.2, 0.75
    qterms = spark.createDataFrame(
        [(q, t) for q, ts in _BM25_QUERIES for t in ts], ["query", "term"]
    )
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # ONE tokenization pass (guide §4: the Arrow tokenizer over the
    # full corpus is the dominant cost here, and `toks` used to feed
    # doclen AND tf as two separate evaluations): cache the per-doc
    # token arrays, derive dl as size() (no explode, no doc-level
    # shuffle — the old groupBy(doc_id).count over exploded rows), and
    # explode only for the postings side. dl semantics unchanged:
    # explode emitted no rows for zero-token docs, so doclen only ever
    # held dl > 0 docs — the size() form filters them explicitly.
    tokd = managed_cache(
        d.select("doc_id", tokens(F.col("text")).alias("__ts"))
    )
    toks = tokd.select("doc_id", F.explode("__ts").alias("term"))
    doclen = tokd.select(
        "doc_id", F.size("__ts").cast("bigint").alias("dl")
    ).where(F.col("dl") > 0)
    stats = doclen.agg(
        F.count("*").alias("n_corpus"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        toks.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(qterms), "term")
        .join(doclen, "doc_id")
    )
    scored = broadcast_scalars(scored, stats, "tf", "n_corpus")
    idf = F.log(
        (F.col("n_corpus") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfn = (
        F.col("tf")
        * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    per_doc = scored.groupBy("query", "doc_id").agg(
        F.round(F.sum(idf * tfn), 6).alias("score")
    )
    w = Window.partitionBy("query").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query", "doc_id", "score", F.col("rank").cast("int").alias("rank")
        )
    )


@query("bm25_topk_docs")
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 sparse retrieval (Robertson-Spärck Jones, k1=1.2 b=0.75):
    top-10 documents per query for a fixed query set — the lexical
    retrieval primitive next to the dense ANN ladder (hybrid search =
    this + knn_*). idf = ln((N−df+0.5)/(df+0.5)+1), per-term scores
    summed per (query, doc), round-6 quantized BEFORE ranking so both
    engines rank the same doubles; ties broken by doc_id.

    Scale: the corpus explode is FILTERED to query terms before any
    aggregation (the inverted-index access pattern — work scales with
    postings of the query terms, not the corpus vocabulary); N and
    avgdl attach as broadcast scalars; tf/df aggregates are map-side
    combinable."""
    return _bm25_rankings(spark, sf_dir, k=10)


@query("source_temperature_mix")
def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual /
    multi-source sampling standard, mT5/XLM-R family): tempered share
    q_s ∝ p_s^α flattens the natural source distribution so
    low-resource sources are upsampled. α = 0.5 here — inside the
    standard 0.2–0.7 band AND bit-reproducible across engines because
    p^0.5 = sqrt(p), which IEEE 754 rounds correctly (a general pow()
    carries no such guarantee, so two engines may disagree in the last
    ulp and break quantized ranking).

    A concrete 10k-example allocation is materialized by LARGEST
    REMAINDER: floor(q_s·10000) per source, the remaining seats
    assigned by fractional part desc (source asc tie-break) — the
    integer allocation that sums to exactly 10000, which 'round each
    share' does not.

    Scale: one groupBy(source) then arithmetic on #sources rows."""
    from ..operators.scalars import broadcast_scalars

    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.sqrt(F.col("n_docs"))).alias("z"),
    )
    s = broadcast_scalars(counts, tot, "n_docs", "n_total")
    # round-9 quantized BEFORE the floor/remainder arithmetic: z is an
    # order-sensitive float sum (partial aggregation vs DuckDB's
    # sequential fold can differ in the last ulp), and an unquantized
    # q*10000 sitting next to an integer could floor differently per
    # engine — the repo's quantize-before-rank rule applies to seat
    # allocation too.
    shares = s.select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_total"), 6).alias(
            "natural_share"
        ),
        F.round(F.sqrt(F.col("n_docs")) / F.col("z"), 9).alias("__q"),
    )
    seats = shares.withColumn(
        "__exact", F.col("__q") * 10_000
    ).withColumn("__floor", F.floor("__exact").cast("long"))
    rem_total = seats.agg(
        (F.lit(10_000) - F.sum("__floor")).alias("n_rem")
    )
    seats = broadcast_scalars(seats, rem_total, "n_docs", "n_rem")
    w = Window.orderBy(
        (F.col("__exact") - F.col("__floor")).desc(), F.col("source").asc()
    )
    return (
        seats.withColumn("__r", F.row_number().over(w))
        .select(
            "source",
            "n_docs",
            "natural_share",
            F.round("__q", 6).alias("tempered_share"),
            (
                F.col("__floor")
                + (F.col("__r") <= F.col("n_rem")).cast("long")
            ).alias("alloc_10k"),
        )
    )


@query("hybrid_rrf_fusion")
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the modern search stack in one gate: BM25
    lexical top-10 (shared _bm25_rankings) fused with a DENSE ranking
    by Reciprocal Rank Fusion (Cormack et al.: score = Σ 1/(60+rank),
    rank-only so the two scorers' incomparable score scales never
    matter). The dense query vector comes from pseudo-relevance
    feedback: each query's BM25 rank-1 document's embedding
    (vec_id == doc_id by fixture construction) retrieves cosine top-10
    via the audited GEMM cosine_topk plan.

    Scale: BM25 cost = query-term postings; dense cost = the audited
    batched-GEMM scan; the fusion itself is a full-outer join of two
    k-row lists per query."""
    from ..operators.similarity import cosine_topk

    # persisted: both fusion legs consume this 30-row frame (seeds AND
    # the lexical side) — without it the whole BM25 subtree executes
    # twice. Bounded like the other shared frames (CacheManager dedups
    # on analyzed-plan identity; ≤ #queries×k rows per sf).
    bm25 = managed_cache(_bm25_rankings(spark, sf_dir, k=10))
    emb = load(spark, sf_dir, "embeddings")
    # the GEMM path's output schema types query ids as long — map the
    # string query names onto stable ints for the dense leg and back.
    # Offset far above any corpus vec_id: the GEMM kernel nan-masks
    # self-matches by ID EQUALITY, and a low query id would silently
    # exclude the same-numbered corpus vector from that query's list.
    qid_map = {
        q: 1_000_000_001 + i for i, (q, _) in enumerate(_BM25_QUERIES)
    }
    qid_expr = F.create_map(
        *[F.lit(x) for kv in qid_map.items() for x in kv]
    )
    seeds = (
        bm25.where(F.col("rank") == 1)
        .select(
            qid_expr[F.col("query")].alias("qid"),
            F.col("doc_id").alias("vec_id"),
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(F.col("qid").alias("vec_id"), "embedding")
    )
    name_expr = F.create_map(
        *[F.lit(x) for k, v in qid_map.items() for x in (v, k)]
    )
    dense = cosine_topk(seeds, emb, k=10).select(
        name_expr[F.col("query_id")].alias("query"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("d_rank"),
    )
    lex = bm25.select("query", "doc_id", F.col("rank").alias("b_rank"))
    fused = (
        lex.join(dense, ["query", "doc_id"], "full_outer")
        .select(
            "query",
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("b_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("d_rank")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query",
            "doc_id",
            "rrf_score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


@query("k_anonymity_profile")
def k_anonymity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (governance check a
    pipeline runs before releasing derived datasets): customers
    grouped by the QI tuple (c_mktsegment, c_nationkey); a row is
    k-anonymous iff its QI group has ≥ k members. Output per k ∈
    {2, 5, 10}: violating groups, exposed rows, exposed share — the
    re-identification risk table.

    Scale: ONE groupBy over the QI tuple, then arithmetic on
    #groups×3 rows (the k fan-out happens after aggregation, never on
    the fact table)."""
    c = load(spark, sf_dir, "customer")
    groups = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("gsize")
    )
    from ..operators.scalars import broadcast_scalars

    tot = groups.agg(F.sum("gsize").alias("n_rows"))
    g = broadcast_scalars(groups, tot, "gsize", "n_rows")
    ks = g.select(
        "gsize",
        "n_rows",
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k"),
    )
    return (
        ks.groupBy("k")
        .agg(
            F.sum((F.col("gsize") < F.col("k")).cast("long")).alias(
                "violating_groups"
            ),
            F.sum(
                F.when(F.col("gsize") < F.col("k"), F.col("gsize")).otherwise(
                    0
                )
            ).cast("bigint").alias("exposed_rows"),
            F.round(
                F.sum(
                    F.when(
                        F.col("gsize") < F.col("k"), F.col("gsize")
                    ).otherwise(0)
                )
                / F.first("n_rows"),
                6,
            ).alias("exposed_share"),
        )
    )


@query("hourly_ewma_top_residuals")
def hourly_ewma_top_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA anomaly surfacing — the exponential-smoothing sibling of
    the z-score/MAD monitors: per event type, the hourly value series
    is smoothed with α = 0.5 and the 5 hours with the largest
    |x_t − EWMA_{t−1}| residuals are the anomaly report.

    α = 0.5 is deliberate: the recurrence multiplies only by 0.5
    (exact in binary), so the ONLY rounding is in the additions — and
    both engines run the identical sequential fold over the identical
    hour-sorted array (Spark ``F.aggregate``, DuckDB ``list_reduce``),
    making the whole series bit-reproducible. A general α (or a
    windowed running-sum formulation, which segment-tree window
    aggregates re-associate) carries no such guarantee. Hourly inputs
    are round-9 quantized first, the usual cross-engine float rule.

    Scale: one hourly aggregate (map-side partials), then the fold
    runs on #types arrays of #hours elements — series length, not
    event count; the final top-5 is a #types×#hours window."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.round(F.avg("value"), 9).alias("x"))
    arr = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hour", "x"))).alias("hs")
    )
    acc0 = F.struct(
        F.array().cast("array<double>").alias("arr"),
        F.lit(None).cast("double").alias("prev"),
    )
    folded = arr.withColumn(
        "ew",
        F.aggregate(
            "hs",
            acc0,
            lambda acc, s: F.struct(
                F.concat(
                    acc["arr"],
                    F.array(
                        F.when(
                            acc["prev"].isNull(), s["x"]
                        ).otherwise(0.5 * s["x"] + 0.5 * acc["prev"])
                    ),
                ).alias("arr"),
                F.when(acc["prev"].isNull(), s["x"])
                .otherwise(0.5 * s["x"] + 0.5 * acc["prev"])
                .alias("prev"),
            ),
            lambda acc: acc["arr"],
        ),
    )
    rows = folded.select(
        "event_type",
        F.posexplode(F.arrays_zip(F.col("hs"), F.col("ew"))).alias(
            "i", "z"
        ),
    ).select(
        "event_type",
        F.col("z.hs.hour").alias("hour"),
        F.col("z.hs.x").alias("x"),
        F.col("z.ew").alias("ewma"),
    )
    w_lag = Window.partitionBy("event_type").orderBy("hour")
    scored = rows.withColumn(
        "prev_ewma", F.lag("ewma").over(w_lag)
    ).where(F.col("prev_ewma").isNotNull()).select(
        "event_type",
        (F.unix_micros("hour") / F.lit(1_000_000))
        .cast("bigint")
        .alias("hour_s"),
        F.round("x", 6).alias("value"),
        F.round("ewma", 6).alias("ewma"),
        F.round(F.abs(F.col("x") - F.col("prev_ewma")), 6).alias(
            "abs_residual"
        ),
    )
    w_top = Window.partitionBy("event_type").orderBy(
        F.col("abs_residual").desc(), F.col("hour_s").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_top))
        .where(F.col("rk") <= 5)
        .select(
            "event_type",
            "hour_s",
            "value",
            "ewma",
            "abs_residual",
            F.col("rk").cast("int").alias("rk"),
        )
    )


@query("events_native_session_window")
def events_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-BOUNDARY verification of ``session_window``: the
    existing gate (events_sessionized_streamed) hash-checks only a
    per-user rollup, so the engine's window-merge arithmetic (start =
    first event, end = last event + gap, merges across micro-batch
    state) never itself crossed an oracle — this gate emits every
    session's exact boundary micros + value sum (≈10k rows at sf0.01)
    against a gap-islands batch replay. Complete mode over the
    bounded source."""
    from ..streaming.events import (
        native_session_windows,
        read_events_stream,
        run_to_completion,
    )

    out = run_to_completion(
        native_session_windows(read_events_stream(spark, sf_dir)),
        "gate_native_sessions",
        output_mode="complete",
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "total_value",
    )


@query("audio_feature_stats")
def audio_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction end-to-end (the multimodal DSP
    gate beside the image decoders): WAV payloads carrying a
    deterministic square wave (period 8, amplitude 1000) are built
    from (doc_id, n_chars), RIFF-walked to PCM, and reduced to
    RMS + strict zero-crossing counts per clip — aggregated per sample
    rate. The oracle recomputes every feature in closed form (RMS of a
    ±1000 square wave is exactly 1000; crossings of period-8 phase are
    (n−1) div 4), so an endianness, chunk-walk, or dtype bug in the
    DSP kernel breaks the hash.

    Scale: one fused build+extract mapInPandas pass, payloads never
    shuffle; only 3 numbers per clip reach the aggregate."""
    from ..sources.multimodal import (
        audio_features,
        demo_binary_media_from_documents,
    )

    d = load(spark, sf_dir, "documents")
    feats = audio_features(demo_binary_media_from_documents(d)).where(
        F.col("rate").isNotNull() & (F.col("n_samples") > 0)
    )
    return feats.groupBy("rate").agg(
        F.count("*").alias("n_clips"),
        F.sum("n_samples").alias("total_samples"),
        F.round(F.avg("rms"), 4).alias("mean_rms"),
        F.sum("n_crossings").alias("total_crossings"),
    )


@query("l_diversity_profile")
def l_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's necessary complement (a
    k-anonymous group whose SENSITIVE attribute is constant still
    leaks it): per quasi-identifier group (c_nationkey), the count of
    distinct sensitive values (c_mktsegment), profiled against
    l ∈ {2, 3, 5}: groups below l, rows in them, exposed share.

    Scale: one groupBy over (QI, sensitive) then a #groups-bounded
    rollup; the l fan-out happens after aggregation."""
    c = load(spark, sf_dir, "customer")
    per_qi = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("n"))
        .groupBy("c_nationkey")
        .agg(
            F.countDistinct("c_mktsegment").alias("l_distinct"),
            F.sum("n").alias("gsize"),
        )
    )
    from ..operators.scalars import broadcast_scalars

    tot = per_qi.agg(F.sum("gsize").alias("n_rows"))
    g = broadcast_scalars(per_qi, tot, "gsize", "n_rows")
    ks = g.select(
        "l_distinct",
        "gsize",
        "n_rows",
        F.explode(F.array(F.lit(2), F.lit(3), F.lit(5))).alias("l"),
    )
    return ks.groupBy("l").agg(
        F.sum((F.col("l_distinct") < F.col("l")).cast("long")).alias(
            "groups_below_l"
        ),
        F.sum(
            F.when(F.col("l_distinct") < F.col("l"), F.col("gsize")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("rows_below_l"),
        F.round(
            F.sum(
                F.when(
                    F.col("l_distinct") < F.col("l"), F.col("gsize")
                ).otherwise(0)
            )
            / F.first("n_rows"),
            6,
        ).alias("exposed_share"),
    )


@query("doc_skyline_frontier")
def doc_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) over curation metrics — the
    multi-criteria selection primitive (Börzsönyi et al., "The Skyline
    Operator"): documents not dominated in (token count, lexical
    diversity) by any other doc; the length-vs-diversity trade-off a
    curator actually weighs. Dominance = ≥ in both dims, > in at
    least one.

    Plan: NOT the naive O(n²) self-join — and NOT a global window over
    the doc table either (an unpartitioned window funnels every row
    through ONE task; a scale-killer at 100 TB, flagged by the round-5
    verdict). The two-phase form of pack_sequences_global
    (operators/curation.py:196-224): (1) groupBy(n_tokens) →
    per-length max diversity — distributed, map-side combinable;
    (2) suffix-max over that SUMMARY table (one row per DISTINCT
    length — thousands of rows, where a global range-frame window is
    genuinely fine); (3) broadcast the summary back onto the docs and
    apply the dominance test row-locally. A doc is dominated iff
    (a) some STRICTLY longer length bucket has best diversity ≥ its
    own (the suffix max) or (b) an equal-length peer has strictly
    greater diversity (the bucket max). Same rows as the textbook
    two-window form; no single-partition stage ever sees the corpus.

    Scale: the only unpartitioned window runs over the per-length
    aggregate; the corpus is touched by one map-side-combinable
    aggregation and one broadcast-join pass."""
    from ..functions.text import tokens

    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = tokens(F.col("text"))
    m = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks), 9
        ).alias("diversity"),
    ).where(F.col("n_tokens") > 0)
    w_suffix = Window.orderBy("n_tokens").rangeBetween(
        1, Window.unboundedFollowing
    )
    lengths = (
        m.groupBy("n_tokens")
        .agg(F.max("diversity").alias("best_peer"))
        .select(
            "n_tokens",
            "best_peer",
            F.max("best_peer").over(w_suffix).alias("best_longer"),
        )
    )
    flagged = m.join(F.broadcast(lengths), "n_tokens")
    dominated = (
        F.col("best_longer").isNotNull()
        & (F.col("best_longer") >= F.col("diversity"))
    ) | (F.col("best_peer") > F.col("diversity"))
    return (
        flagged.where(~dominated)
        .select(
            "doc_id",
            "n_tokens",
            F.round("diversity", 6).alias("diversity"),
        )
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
    )


@query("mergeable_profile_check")
def mergeable_profile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALGEBRAIC MERGE property verified as data — the reason
    map-side combining, per-partition sketches, and incremental stats
    maintenance work at all: lineitem split into deterministic halves
    (orderkey parity), each half profiled independently, the two
    profiles MERGED with the measure's merge operator (+ for counts
    and sums, least/greatest for min/max), and the merged profile
    compared against the whole-table profile in-query. Exact measures
    must match exactly; the float sum within 1e-6 relative (two group
    sums added vs one global sum differ only in summation order).

    Scale: this is the property that lets 100 TB statistics be
    maintained per-partition and per-increment instead of recomputed;
    the gate states it as a hash-checked invariant instead of a
    docstring claim."""
    li = load(spark, sf_dir, "lineitem")

    def prof(df):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").isNull().cast("long")).alias(
                "n_nulls"
            ),
            F.min("l_quantity").cast("double").alias("min_q"),
            F.max("l_quantity").cast("double").alias("max_q"),
            F.sum("l_extendedprice").alias("sum_price"),
        )
    a = prof(li.where(F.col("l_orderkey") % 2 == 0))
    b = prof(li.where(F.col("l_orderkey") % 2 == 1))
    whole = prof(li)
    from ..operators.scalars import broadcast_scalars

    ab = broadcast_scalars(
        a.select(
            F.col("n_rows").alias("a_rows"),
            F.col("n_nulls").alias("a_nulls"),
            F.col("min_q").alias("a_min"),
            F.col("max_q").alias("a_max"),
            F.col("sum_price").alias("a_sum"),
        ),
        b.select(
            F.col("n_rows").alias("b_rows"),
            F.col("n_nulls").alias("b_nulls"),
            F.col("min_q").alias("b_min"),
            F.col("max_q").alias("b_max"),
            F.col("sum_price").alias("b_sum"),
        ),
        "a_rows",
        "b_rows",
    )
    j = broadcast_scalars(ab, whole, "a_rows", "n_rows")
    return j.select(
        (F.col("a_rows") + F.col("b_rows")).alias("merged_rows"),
        F.round(F.least("a_min", "b_min"), 4).alias("merged_min"),
        F.round(F.greatest("a_max", "b_max"), 4).alias("merged_max"),
        (
            (F.col("a_rows") + F.col("b_rows") == F.col("n_rows"))
            & (F.col("a_nulls") + F.col("b_nulls") == F.col("n_nulls"))
            & (F.least("a_min", "b_min") == F.col("min_q"))
            & (F.greatest("a_max", "b_max") == F.col("max_q"))
        ).alias("exact_merge_ok"),
        (
            F.abs(F.col("a_sum") + F.col("b_sum") - F.col("sum_price"))
            <= F.lit(1e-6) * F.abs(F.col("sum_price"))
        ).alias("float_merge_ok"),
    )


@query("events_stream_restart_recovery")
def events_stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CRASH-RECOVERY gate (round 6, VERDICT r5 item 3): the
    events table lands in a file-source directory in two halves; the
    checkpointed per-type running-totals query runs over half A, is
    STOPPED, half B lands, and the query RESTARTS from the checkpoint.
    The returned totals equal the one-pass batch aggregate over all
    events iff the state store restored run-1 state (else undercount)
    AND the offset log skipped the already-read files (else double
    count) — exactly-once under restart, stated as a hash-checked
    gate instead of a docstring claim. ``recovered_in_run2`` pins, in
    the same hashed row, that each key's final value was produced by a
    post-restart micro-batch (checkpointed batch ids are monotone
    across restarts). See streaming/events.py:restart_recovery_totals
    for the mechanics.

    Scale: state = one row per group key; the restart contract is
    identical with Kafka offsets instead of file offsets."""
    import shutil
    import tempfile

    from ..streaming.events import restart_recovery_totals

    work = tempfile.mkdtemp(prefix="spark_graft_restart_gate_")
    try:
        final = restart_recovery_totals(spark, sf_dir, work)
        # ≤ #event-type rows: materialize so the scratch dirs can be
        # reclaimed before returning (bounded presentation-edge
        # collect; the heavy lifting already ran inside the streams).
        rows = [
            (r["event_type"], r["n_events"], r["sum_uid"], r["batch_id"] >= 1)
            for r in final.collect()
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, n_events bigint, sum_uid bigint, "
        "recovered_in_run2 boolean",
    )


@query("statestore_reader_recovery")
def statestore_reader_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER gate (VERDICT r6 item 3): after the
    checkpointed stop/restart run, ``spark.read.format("statestore")``
    opens the checkpoint's state files directly and hash-verifies the
    PERSISTED per-key aggregation buffers themselves — not just the
    sink output the restart gate checks. The state rows
    (key.event_type → value.count / value.sum) must equal the one-pass
    batch aggregate over all events: this pins that what survives on
    disk between runs is the exact recovered state, completing the
    crash-recovery story (events_stream_restart_recovery) at the
    storage layer.

    Scale: the reader scans only the latest state snapshot — one row
    per group key, partition-parallel over state-store shards; the
    same audit works unchanged on a production HDFS/S3 checkpoint.

    The checkpoint is a cached per-sf artifact (layout_artifact, the
    derived-layout gates' idiom): the two-run pipeline executes once
    per (sf, events-mtime) and later invocations audit the SAME
    persisted state — which is the point: state files on disk, not a
    fresh pipeline, are what's being verified. The restart gate above
    always runs the pipeline fresh."""
    import os
    import shutil

    from ..sources.catalog import layout_artifact
    from ..streaming.events import restart_recovery_totals

    work, fresh = layout_artifact(
        sf_dir, "spark_graft_restart_ckpt_v1", "events"
    )
    if not fresh:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work, exist_ok=True)
        # Drive the two-run checkpointed pipeline to completion; its
        # sink result is ignored — the gate reads the state files.
        restart_recovery_totals(spark, sf_dir, work).collect()
        open(os.path.join(work, "_SUCCESS"), "w").close()
    # The statestore reader resolves the StateStoreCoordinator RPC
    # endpoint, which only exists once a StreamingQueryManager has
    # been instantiated — on a fresh session reading a CACHED
    # checkpoint (no stream started yet) the read would fail with
    # RpcEndpointNotFoundException. Touching spark.streams creates it.
    _ = spark.streams.active
    return (
        spark.read.format("statestore")
        .load(os.path.join(work, "checkpoint"))
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.col("value.sum").alias("sum_uid"),
        )
    )


# --------------------------------------------------------------------------
# Round 9: corpus layout + incremental-ingest operators
# --------------------------------------------------------------------------


@query("rendezvous_shard_stats")
def rendezvous_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard assignment of the document corpus into 16
    shards, with per-shard placement accounting — the deterministic,
    minimal-remapping layout primitive a 100 TB corpus re-shard needs
    (dropping one shard moves ONLY that shard's keys; mod-N would
    remap ~15/16 of the corpus). Pure scan-stage column arithmetic —
    zero shuffle before the 16-group aggregate
    (operators/sharding.py)."""
    from ..operators.sharding import shard_accounting

    d = load(spark, sf_dir, "documents")
    return shard_accounting(
        d, "doc_id", n_shards=16, size_col="n_chars"
    ).select(
        "shard",
        F.col("n_keys").cast("bigint").alias("n_docs"),
        F.col("total_size").alias("total_chars"),
        F.col("min_key").cast("bigint").alias("min_doc_id"),
        F.col("max_key").cast("bigint").alias("max_doc_id"),
    )


@query("incremental_dedup_new_batch")
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: every 97th document plays the
    incoming batch, the rest the existing corpus; per batch doc, an
    exact content-hash hit flag, a MinHash-LSH near-dup hit flag
    (same 12-hash/4-band/trigram topology as minhash_lsh_docs), and
    the skip/review/ingest action. The corpus side never shuffles —
    both probes semi-join against the broadcast batch
    (operators/dedup.py incremental_dedup_flags)."""
    from ..operators.dedup import incremental_dedup_flags

    d = load(spark, sf_dir, "documents")
    return incremental_dedup_flags(d, F.col("doc_id") % 97 == 0)


@query("incremental_dedup_indexed")
def incremental_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of incremental ingest dedup (VERDICT r9
    item 4): the corpus's content-hash and MinHash band-row indexes
    are MAINTAINED AS TABLES — written once per corpus state, HRW-
    sharded by probe key (operators/dedup.py write_dedup_index) — and
    each batch probes the stored index instead of re-hashing the
    corpus (incremental_dedup_from_index). Same batch split, same
    flags, same oracle as incremental_dedup_new_batch; per-doc MinHash
    signatures are corpus-independent, so the two paths are
    value-identical while this one's per-ingest cost is
    O(batch + index probe) rather than O(corpus). The probe joins
    carry the writer's shard partition column (computed batch-side
    with the same rendezvous assignment), so partition pruning
    restricts the index scan to the shards the batch touches.

    Layout artifact: the index is (re)built once per (sf,
    documents-mtime), like the partitioned/bucketed/Z-order gates.
    The probe validates its params against the index's ``_META.json``
    (read_dedup_index) — a layout mismatch raises instead of silently
    flagging duplicates as 'ingest' (ADVICE r10)."""
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        write_dedup_index,
    )
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    # v2: layouts carry _META.json (+ pre-removed _SUCCESS); v1 dirs
    # predate the metadata contract and must not pass freshness.
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_dedup_index_v2", "documents"
    )
    if not fresh:
        write_dedup_index(d.where(F.col("doc_id") % 97 != 0), path)
    hashes, bands, meta = read_dedup_index(spark, path)
    return incremental_dedup_from_index(
        d.where(F.col("doc_id") % 97 == 0), hashes, bands, index_meta=meta
    )


@query("bpe_encode_token_counts")
def bpe_encode_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges (VERDICT r9 item 5): train the
    3-merge tokenizer on the corpus (the bpe_merge_symbol_stats
    trainer — one shared trainer, functions/text._bpe_train), then
    encode every document with the fixed merge list and emit per-doc
    whitespace word counts vs encoded BPE token counts. Encoding runs
    over the DISTINCT VOCABULARY (nested scan-stage replace fold, zero
    Python), then broadcast-joins back to one corpus explode — words
    are encoded once each, not once per occurrence."""
    from ..functions.text import bpe_encode_token_counts

    d = load(spark, sf_dir, "documents")
    return bpe_encode_token_counts(d, n_merges=3)


@query("scd2_user_event_history")
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from the events change feed: each
    user's event_type stream becomes validity intervals
    [effective_from, effective_to) with a current flag — same-ts ties
    keep the max value deterministically, no-op changes compress out.
    One key-partitioned exchange, three window passes over it
    (operators/scd.py)."""
    from ..operators.scd import scd2_history

    e = load(spark, sf_dir, "events")
    return scd2_history(e, "user_id", "ts", "event_type")


@query("end_to_end_incremental_ingest")
def end_to_end_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE daily-ingest loop, composed end to end (VERDICT
    r10 item 2 — the incremental-path analog of
    end_to_end_curation_stats): day-N batch (every 97th doc) against
    the day-N−1 corpus index:

    1. FLAGS — probe the stored index (incremental_dedup_from_index,
       base state only: a retried ingest must not see its own prior
       delta and reject everything);
    2. KEEP/DROP — accept action='ingest' docs;
    3. INDEX REFRESH — refresh_dedup_index appends the accepted docs
       as an O(batch) delta, idempotent per batch_id;
    4. RE-PROBE — the same batch against the refreshed index: every
       accepted doc must now hit itself (exact self-hash), proving
       the refresh landed — and intra-batch duplicates of accepted
       docs surface here;
    5. MEMBERSHIP SCD2 — scd2_history over the ingest's membership
       change feed (the accepted docs at day1 — an O(batch) window;
       the corpus's prior membership is stored history maintained
       with scd2_refresh, never re-windowed per ingest) yields each
       accepted doc's validity interval.

    Output grain: one row per batch doc — (action, reprobe_action,
    member_from_us, member_current) — hash-matched against a DuckDB
    oracle replaying the identical chain. Per-ingest cost is
    O(batch + probe): the corpus is scanned once EVER (index build),
    never per day."""
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )
    from ..operators.scd import scd2_history
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ingest_e2e_v1", "documents"
    )
    if not fresh:
        write_dedup_index(corpus, path)
    hashes, bands, meta = read_dedup_index(
        spark, path, include_deltas=False
    )
    # Flags feed the accept filter, the refresh write, the membership
    # feed, AND the output. NOT managed_cache: refresh_dedup_index
    # below calls catalog.refreshByPath(path), which invalidates any
    # cached plan reading that path — a cache here is silently dropped
    # mid-gate and the whole first probe recomputes for the output
    # join. localCheckpoint (eager) cuts the lineage to a
    # batch-sized LogicalRDD that survives the refresh.
    flags = incremental_dedup_from_index(
        batch, hashes, bands, index_meta=meta
    ).localCheckpoint(eager=True)
    accepted = batch.join(
        flags.where(F.col("action") == "ingest").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    refresh_dedup_index(accepted, path, batch_id="day1")
    h2, b2, meta2 = read_dedup_index(spark, path)
    reflags = incremental_dedup_from_index(
        batch, h2, b2, index_meta=meta2
    )
    # Membership feed: the day-N ingest's CHANGES are the accepted
    # docs only — the corpus's day-N−1 membership is stored history a
    # production pipeline maintains with scd2_refresh (gated
    # separately), never re-windowed per ingest, so this stays
    # O(batch). Instants via timestamp_seconds (tz-independent): the
    # gate must hash identically under any session time zone.
    day1 = F.timestamp_seconds(F.lit(1704153600))  # 2024-01-02 UTC
    feed = accepted.select(
        "doc_id", day1.alias("ts"), F.lit("member").alias("status")
    )
    membership = scd2_history(feed, "doc_id", "ts", "status").select(
        "doc_id",
        F.col("effective_from_us").alias("member_from_us"),
        F.col("is_current").alias("member_current"),
    )
    return (
        flags.select("doc_id", "action")
        .join(
            reflags.select(
                "doc_id", F.col("action").alias("reprobe_action")
            ),
            "doc_id",
        )
        .join(membership, "doc_id", "left")
        .select(
            "doc_id",
            "action",
            "reprobe_action",
            "member_from_us",
            F.coalesce("member_current", F.lit(False)).alias(
                "member_current"
            ),
        )
    )


@query("scd2_refresh_history")
def scd2_refresh_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (VERDICT r10 item 6): every 5th
    event plays the new CDC batch against a history built from the
    rest; scd2_refresh re-windows ONLY the touched users' feed slice
    (broadcast changed-key semi-join) and passes untouched history
    rows through verbatim — yet the result must hash-equal a full
    rebuild over the whole feed, so this gate shares
    scd2_user_event_history's oracle text (the same one-truth pattern
    as the indexed-dedup pair)."""
    from ..operators.scd import scd2_history, scd2_refresh

    e = load(spark, sf_dir, "events")
    feed = e.where(F.col("event_id") % 5 != 0)
    new = e.where(F.col("event_id") % 5 == 0)
    history = scd2_history(feed, "user_id", "ts", "event_type")
    return scd2_refresh(history, feed, new, "user_id", "ts", "event_type")


@query("scd2_refresh_pruned_history")
def scd2_refresh_pruned_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEYED-LAYOUT incremental SCD2 refresh (VERDICT r11
    item 6): same split as scd2_refresh_history, but the feed is
    persisted through write_scd2_feed (feed_rows/ partitioned by
    shard = HRW(user_id)) and the refresh's changed-key semi-join
    runs on (shard, key) against that layout — dynamic partition
    pruning turns the feed scan into a pruned READ of the touched
    shards (plan-pinned in tests/test_scd2.py). The result must
    still hash-equal the full rebuild over all events, so this gate
    shares scd2_user_event_history's oracle text."""
    from ..operators.scd import (
        read_scd2_feed,
        scd2_history,
        scd2_refresh,
        write_scd2_feed,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    feed = e.where(F.col("event_id") % 5 != 0)
    new = e.where(F.col("event_id") % 5 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_feed_v1", "events"
    )
    if not fresh:
        write_scd2_feed(feed, path, "user_id", "ts", "event_type")
    feed_sharded, meta = read_scd2_feed(spark, path)
    history = scd2_history(feed, "user_id", "ts", "event_type")
    return scd2_refresh(
        history,
        feed_sharded,
        new,
        "user_id",
        "ts",
        "event_type",
        feed_meta=meta,
    )


@query("scd2_cow_refresh_history")
def scd2_cow_refresh_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write SCD2 maintenance of a STORED history layout —
    the round-12 completion of the refresh story: scd2_refresh still
    scans (and, if persisted, rewrites) the full history for the
    untouched pass-through; scd2_refresh_in_place rewrites ONLY the
    touched shards of a write_scd2_history layout via a versioned
    partition rewrite (keepers = untouched keys inside touched
    shards carried forward; untouched shards never read, never
    written — the Hudi/Iceberg COW shape in plain parquet). The
    refreshed LAYOUT read back must hash-equal the full rebuild over
    all events — same one-truth oracle text as the other three SCD2
    gates. The refresh is idempotent per batch (re-drives re-derive
    the same shard contents), which is also its crash-recovery story."""
    from ..operators.scd import (
        read_scd2_history,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_history,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    feed = e.where(F.col("event_id") % 5 != 0)
    new = e.where(F.col("event_id") % 5 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_hist_v1", "events"
    )
    if not fresh:
        write_scd2_history(
            scd2_history(feed, "user_id", "ts", "event_type"),
            path,
            "user_id",
        )
    scd2_refresh_in_place(path, feed, new, "user_id", "ts", "event_type")
    hist, _ = read_scd2_history(spark, path)
    return hist.select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
    )


@query("scd2_two_day_cycle_history")
def scd2_two_day_cycle_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO consecutive daily SCD2 maintenance cycles against stored
    layouts — the composition that makes the single-day gates a real
    pipeline: day N's refresh re-windows touched keys from the FEED,
    so day N−1's batch must have landed there (refresh_scd2_feed
    delta append) or a key touched two days running silently loses
    day N−1 (pinned in tests/test_scd2.py). Per day: COW-refresh the
    history layout (touched shards only) with the feed read base +
    committed deltas, then append the day's batch as a feed delta.
    After day 2 the stored history must hash-equal the full rebuild
    over all events — the same one-truth oracle text, now reached
    through two feed deltas and two partial history rewrites. The
    whole cycle is idempotent per drive (deltas overwrite their own
    batch_ids; refreshes re-derive the same shard contents)."""
    from ..operators.scd import (
        read_scd2_feed,
        read_scd2_history,
        refresh_scd2_feed,
        scd2_history,
        scd2_refresh_in_place,
        write_scd2_feed,
        write_scd2_history,
    )
    from ..sources.catalog import layout_artifact

    from ..session import int_conf, scoped_conf

    e = load(spark, sf_dir, "events")
    feed0 = e.where(F.col("event_id") % 5 != 0)
    day1 = e.where(F.col("event_id") % 10 == 5)
    day2 = e.where(F.col("event_id") % 10 == 0)
    cols = ("user_id", "ts", "event_type")
    fpath, ffresh = layout_artifact(
        sf_dir, "spark_graft_scd2_cycle_feed_v1", "events"
    )
    hpath, hfresh = layout_artifact(
        sf_dir, "spark_graft_scd2_cycle_hist_v1", "events"
    )
    # Overhead discipline (VERDICT r12 item 5): every job in the
    # cycle is a window/shuffle over ≤ the history's row count, so 32
    # shuffle partitions are pure task overhead — scope them down for
    # the layout mutations (results are partitioning-invariant by the
    # catalog's determinism rules). 4 shards for the same reason: a
    # 10%-of-keys day touches every shard anyway, so fine shards buy
    # no pruning here and cost per-partition commit/file overhead in
    # all four mutations (the pruned-refresh gate keeps 16 and its
    # plan-pinned pruning).
    confs = {}
    cur = int_conf(spark, "spark.sql.shuffle.partitions")
    if cur is not None:
        confs["spark.sql.shuffle.partitions"] = str(min(cur, 8))
    with scoped_conf(spark, confs):
        if not ffresh:
            write_scd2_feed(feed0, fpath, *cols, n_shards=4)
        if not hfresh:
            write_scd2_history(
                scd2_history(feed0, *cols), hpath, "user_id", n_shards=4
            )
        # BOTH days' touched-shard sets in one job (touched_shard_sets
        # — the shared collect VERDICT r12 item 5 asked for), sized
        # from the HISTORY layout's recorded n_shards (a stale
        # artifact from an older round may still carry 16); each day
        # still re-reads the feed, which by then carries the prior
        # day's delta (the two-day contract).
        from ..operators.scd import touched_shard_sets

        _, hmeta = read_scd2_history(spark, hpath)
        shard_sets = touched_shard_sets(
            {"day1": day1, "day2": day2},
            "user_id",
            int(hmeta["n_shards"]),
        )
        # NOT overlapped (r17, tried and reverted): the history COW
        # rewrite and the feed delta append look independent (different
        # layouts), but on an idempotent RE-DRIVE the append overwrites
        # its own prior delta's part files while the refresh's feed
        # view — which on a re-drive includes that very delta — is
        # mid-read: FAILED_READ_FILE.FILE_NOT_EXIST. The serial order
        # is load-bearing.
        for day_df, batch_id in ((day1, "day1"), (day2, "day2")):
            feed_v, fmeta = read_scd2_feed(spark, fpath)
            scd2_refresh_in_place(
                hpath,
                feed_v,
                day_df,
                *cols,
                feed_meta=fmeta,
                touched_shards=shard_sets[batch_id],
            )
            refresh_scd2_feed(day_df, fpath, batch_id)
    hist, _ = read_scd2_history(spark, hpath)
    return hist.select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
    )


@query("neardup_canonical_keep")
def neardup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection over the near-dup clusters: per LSH/CC
    cluster keep the longest document (n_chars desc, doc_id tie) and
    drop the rest — the executable keep/drop list the cluster gate
    stops short of. One cluster-partitioned window; first(id) over
    the ordered frame is the canonical for every row (no
    rank-filter-join-back)."""
    from ..operators.dedup import canonical_keep, minhash_lsh_clusters

    d = load(spark, sf_dir, "documents")
    clusters = minhash_lsh_clusters(d, num_hashes=12, bands=4, shingle_k=3)
    return canonical_keep(clusters, d.select("doc_id", "n_chars"))


@query("ann_multiprobe_recall")
def ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall accounting for the STORED multiprobe ANN path (VERDICT
    r11 item 2): probe the persisted IVF-PQ index at nprobe ∈ {1,2,4}
    — nearest cells by stored coarse-centroid distance; production
    query vectors carry no precomputed cell, so the index assigns the
    probe set — and measure recall@5 of each ADC top-5 against the
    EXACT squared-L2 top-5 over raw embeddings, with the gain over
    nprobe=1 emitted in-query. At 100 TB cell boundaries are where
    neighbors hide; this is the table that says what each extra
    probed cell buys (recall@k is the ANN contract — the speedup is
    only honest next to it).

    Scale: the exact side is the documented brute-force baseline —
    the bounded query set broadcasts into ONE corpus pass
    (ordered-fold distances, no shuffle until the top-k window); each
    probe is the stored-index scorer (broadcast LUT, DPP-pruned code
    scan reading only the probed cells' partitions)."""
    from ..operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        write_ann_index,
    )
    from ..operators.scalars import broadcast_scalars
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select("vec_id", "embedding")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_index_v2", "embeddings"
    )
    if not fresh:
        write_ann_index(e, path, m=8, k=4, iters=2)
    codes, codebook, cells, meta = read_ann_index(spark, path)

    # Exact top-5 by squared L2: ordered folds are bit-exact across
    # engines, so the rank key needs no quantization (ties on the id).
    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    one = lambda c: F.pmod(  # noqa: E731
        F.crc32(c.cast("string")), F.lit(1)
    ).cast("int")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qe = q.select(
        F.col("vec_id").alias("q_id"), vec_d.alias("__qv")
    ).withColumn("__k", one(F.col("q_id")))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), vec_d.alias("__cv")
    ).withColumn("__k", one(F.col("neighbor_id")))
    w = Window.partitionBy("q_id").orderBy(
        F.col("__d").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        ce.join(F.broadcast(qe), "__k")
        .select("q_id", "neighbor_id", sq("__qv", "__cv").alias("__d"))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 5)
        .select("q_id", "neighbor_id")
    )
    # One shared-scan probe at every width (r17, VERDICT r16 item 5):
    # the list form ranks cells once at max(n), scores the codes once
    # with each candidate's cell rank as a passenger column, and
    # slices per width over the shared aggregate — ReuseExchange runs
    # the code scan + LUT join once instead of three times. Per-width
    # output is identical to the three single-width calls
    # (tests/test_ann_index.py pins the equality).
    approx = ivf_pq_topk_from_index(
        q, codes, codebook, m=8, k=4, iters=2, topk=5,
        index_meta=meta, cells=cells, nprobe=[1, 2, 4],
    ).select("nprobe", "q_id", F.col("vec_id").alias("neighbor_id"))
    hits = (
        approx.join(exact, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_hits"))
    )
    nq = exact.agg(F.countDistinct("q_id").alias("n_queries"))
    wg = Window.orderBy("nprobe")
    return (
        broadcast_scalars(hits, nq, "n_hits", "n_queries")
        .select(
            "nprobe",
            "n_queries",
            "n_hits",
            F.round(
                F.col("n_hits") / (F.col("n_queries") * 5), 4
            ).alias("recall_at_5"),
        )
        .select(
            "nprobe",
            "n_queries",
            "n_hits",
            "recall_at_5",
            F.round(
                F.col("recall_at_5")
                - F.first("recall_at_5").over(wg),
                4,
            ).alias("gain_vs_nprobe1"),
        )
    )


@query("ann_index_delta_topk")
def ann_index_delta_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ANN index maintenance end to end (the round-12
    completion of the index-lifecycle symmetry: the dedup index got
    refresh_dedup_index in r10, the ANN index gets refresh_ann_index
    here): the corpus split (every vec_id % 97 != 0) builds the stored
    IVF-PQ index; the held-out batch is appended as an O(batch) DELTA
    — encoded with the STORED codebook, placed by the STORED coarse
    centroids (the IVF insert; training never re-runs) — and the batch
    vectors then query base ∪ delta at nprobe=2. Batch vectors exist
    ONLY in the delta, so every batch id surfacing as a neighbor
    proves the delta is unioned and pruned-probed like the base. The
    DuckDB oracle replays the identical chain (corpus-trained
    codebooks + stored-codebook encode + nearest-cell insert +
    multiprobe ADC)."""
    from ..operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 97 != 0)
    batch = e.where(F.col("vec_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_delta_v1", "embeddings"
    )
    if not fresh:
        write_ann_index(corpus, path, m=8, k=4, iters=2)
    # Idempotent per (path, batch_id): a re-drive overwrites its own
    # delta — the crash-retry contract, exercised on every run.
    refresh_ann_index(batch, path, batch_id="day1")
    codes, codebook, cells, meta = read_ann_index(spark, path)
    return ivf_pq_topk_from_index(
        batch.select("vec_id", "embedding"),
        codes,
        codebook,
        m=8,
        k=4,
        iters=2,
        topk=5,
        index_meta=meta,
        cells=cells,
        nprobe=2,
    )


@query("ann_delta_recall")
def ann_delta_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall accounting for DELTA-INSERTED vectors — the number that
    prices refresh_ann_index's add-after-train trade: codebooks and
    cell centroids stay frozen between rebuilds, so late-inserted
    vectors carry whatever quantization/cell-boundary error the
    corpus-trained index assigns them. Each batch vector queries
    base ∪ delta at nprobe ∈ {1,2,4} and recall@5 is scored against
    the exact squared-L2 top-5 over ALL vectors (corpus ∪ batch) —
    when this table sags vs ann_multiprobe_recall's, it is rebuild
    time. Same layout artifact as ann_index_delta_topk (the gates
    share the stored index and its day-1 delta)."""
    from ..operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )
    from ..operators.scalars import broadcast_scalars
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 97 != 0)
    batch = e.where(F.col("vec_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_delta_v1", "embeddings"
    )
    if not fresh:
        write_ann_index(corpus, path, m=8, k=4, iters=2)
    refresh_ann_index(batch, path, batch_id="day1")
    codes, codebook, cells, meta = read_ann_index(spark, path)
    q = batch.select("vec_id", "embedding")

    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    one = lambda c: F.pmod(  # noqa: E731
        F.crc32(c.cast("string")), F.lit(1)
    ).cast("int")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qe = q.select(
        F.col("vec_id").alias("q_id"), vec_d.alias("__qv")
    ).withColumn("__k", one(F.col("q_id")))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), vec_d.alias("__cv")
    ).withColumn("__k", one(F.col("neighbor_id")))
    w = Window.partitionBy("q_id").orderBy(
        F.col("__d").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        ce.join(F.broadcast(qe), "__k")
        .select("q_id", "neighbor_id", sq("__qv", "__cv").alias("__d"))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 5)
        .select("q_id", "neighbor_id")
    )
    # Shared-scan multiprobe (r17, VERDICT r16 item 5) — same list
    # form as ann_multiprobe_recall: one code scan + LUT join at
    # max(n), per-width slices over the shared aggregate.
    approx = ivf_pq_topk_from_index(
        q, codes, codebook, m=8, k=4, iters=2, topk=5,
        index_meta=meta, cells=cells, nprobe=[1, 2, 4],
    ).select("nprobe", "q_id", F.col("vec_id").alias("neighbor_id"))
    hits = (
        approx.join(exact, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_hits"))
    )
    nq = exact.agg(F.countDistinct("q_id").alias("n_queries"))
    return (
        broadcast_scalars(hits, nq, "n_hits", "n_queries")
        .select(
            "nprobe",
            "n_queries",
            "n_hits",
            F.round(
                F.col("n_hits") / (F.col("n_queries") * 5), 4
            ).alias("recall_at_5"),
        )
    )


@query("e2e_ingest_neardup_resolution")
def e2e_ingest_neardup_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The decision the daily-ingest loop's ``review_near`` docs were
    waiting for (VERDICT r11 item 4): for every batch doc the stored
    index flagged as a NEAR duplicate (band-bucket hit, not exact),
    pull its colliding corpus members from the index's band rows
    (neardup_collisions_from_index — batch-side shard computation, DPP
    on the index scan), form the cluster {review doc} ∪ colliders, and
    run canonical_keep over it with n_chars quality — emitting an
    EXECUTABLE keep/drop per review doc: keep=true means the batch doc
    beats every stored collider (quality desc, id tie) and ingests as
    the new canonical; keep=false names the corpus doc that wins.

    Probes the BASE index state (a retried ingest must not see its own
    delta), sharing the e2e gate's stored layout. Per-ingest cost is
    O(batch + bucket collisions): the cluster membership comes from
    the index's band rows, never a corpus re-scan."""
    from ..operators.dedup import (
        canonical_keep,
        incremental_dedup_from_index,
        neardup_collisions_from_index,
        read_dedup_index,
        write_dedup_index,
    )
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ingest_e2e_v1", "documents"
    )
    if not fresh:
        write_dedup_index(corpus, path)
    hashes, bands, meta = read_dedup_index(
        spark, path, include_deltas=False
    )
    flags = incremental_dedup_from_index(
        batch, hashes, bands, index_meta=meta
    )
    review = flags.where(F.col("action") == "review_near").select(
        "doc_id"
    )
    review_docs = batch.join(review, "doc_id", "left_semi")
    pairs = neardup_collisions_from_index(
        review_docs, bands, index_meta=meta
    )
    # Cache the tiny cluster-membership frame: the returned plan
    # references it TWICE (canonical_keep + the per-cluster counts),
    # and everything above it — the batch LSH probe and the banded
    # collision pull — would otherwise execute twice in the sink
    # (guide §5: reused and expensive to recompute; ~review-docs ×
    # colliders rows, never corpus-sized). Downstream of the index
    # probes, so the DPP-on-probe rule (round 11) is untouched.
    members = managed_cache(
        review.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("doc_id").alias("member_id"),
        )
        .unionByName(
            pairs.select(
                F.col("doc_id").alias("cluster_id"), "member_id"
            )
        )
        .distinct()
    )
    decided = canonical_keep(
        members.select(F.col("member_id").alias("doc_id"), "cluster_id"),
        d.select("doc_id", "n_chars"),
    )
    counts = members.groupBy("cluster_id").agg(
        F.count("*").alias("n_members")
    )
    return (
        decided.where(F.col("doc_id") == F.col("cluster_id"))
        .join(counts, "cluster_id")
        .select("doc_id", "n_members", "canonical_id", "keep")
    )


def _gate_chain(
    spark: SparkSession,
    path: str,
    fresh: bool,
    mutate,
    state: dict | None = None,
) -> bool:
    """Run a gate's MULTI-STEP layout-mutation chain exactly once per
    artifact life, crash-safely. layout_artifact's freshness marker is
    the layout's own ``_SUCCESS``, which every intermediate step
    (base write, delta refresh, compaction) also touches — so a drive
    killed mid-chain leaves a fresh-looking but half-mutated layout
    that a naive ``if not fresh`` branch would then serve forever
    (round-13 review). The chain is DONE only when the gate's own
    ``_GATE_DONE`` sentinel exists beside a fresh artifact; anything
    else (stale, or fresh-but-sentinel-less = interrupted chain) is
    rebuilt from scratch: the whole layout directory is deleted and
    ``mutate()`` re-runs, with the sentinel written last. Returns
    True when the chain ran this drive.

    ``state`` (ADVICE r13): measurements that only exist the drive
    the chain runs (fold diffs, policy recalls) — ``mutate()`` fills
    the dict, the sentinel persists it as JSON, and a cached drive
    loads the RECORDED values back into it, so a gate's "measured"
    proof columns always re-emit the real measurement instead of a
    placeholder. A sentinel that fails to parse (pre-r14 empty file,
    torn write) is treated as chain-not-done and rebuilt."""
    import json
    import os

    from .. import fsutil

    done = os.path.join(path, "_GATE_DONE")
    if fresh and fsutil.exists(spark, done):
        if state is None:
            return False
        try:
            recorded = json.loads(fsutil.read_text(spark, done))
        except (OSError, ValueError):
            recorded = None
        if isinstance(recorded, dict):
            state.update(recorded)
            return False
        # Unparseable sentinel: fall through and re-run the chain so
        # the measurements exist again.
    fsutil.delete(spark, path)
    mutate()
    if state is None:
        fsutil.touch(spark, done)
    else:
        fsutil.write_text(spark, done, json.dumps(state))
    return True


def _layout_delta_residue(spark: SparkSession, path: str) -> int:
    """How many delta directories / commit markers remain under a
    stored layout — the compaction gates emit this as a hashed proof
    column (0 after a successful fold)."""
    from .. import fsutil

    return sum(
        1
        for n in fsutil.list_names(spark, path)
        if "_delta_" in n or n.startswith("_DELTA_")
    )


def _symmetric_diff_count(before: DataFrame, after: DataFrame) -> int:
    """|before △ after| under multiset semantics — the compaction
    gates' in-query equality witness (0 when the fold preserved the
    layout's row multiset exactly). Bounded: both sides are gate-sized
    probe outputs, not the corpus."""
    return (
        before.exceptAll(after).count() + after.exceptAll(before).count()
    )


@query("dedup_index_compaction_probe")
def dedup_index_compaction_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELTA COMPACTION of the stored dedup index (VERDICT r12
    item 1) — the closing arc of the index lifecycle: after two
    accepted ingest days land as deltas, compact_dedup_index folds
    them into the base shards as a pure partition-wise merge (no
    re-hashing, no re-shingling: delta rows carry their HRW shard
    from ingest time; untouched shards stay byte-identical —
    tests/test_compaction.py). The hashed row proves the fold three
    ways: ``final_action`` (the batch probed against the compacted
    base) must replay the pre-compaction base ∪ deltas probe the
    DuckDB oracle computes; ``n_diff_rows`` is the measured
    |before △ after| of the full flag tables across the fold (0);
    ``deltas_remaining`` counts surviving delta dirs/markers (0).

    100 TB story: a year of daily ingests is 365 delta directories —
    365 extra scans unioned into every probe. Compaction reclaims
    them for the cost of rewriting only the shards the deltas
    actually touch, while the layout stays readable throughout (the
    fold publishes one snapshot manifest; a crash leaves the old
    snapshot current and a re-run completes it)."""
    from ..operators.compaction import compact_dedup_index
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_dedup_compact_v1", "documents"
    )
    state = {"n_diff": 0}

    def mutate() -> None:
        write_dedup_index(corpus, path)
        h0, b0, m0 = read_dedup_index(spark, path, include_deltas=False)
        # Acceptance from the day-N−1 base state (the e2e gate's
        # contract); the accepted docs land as TWO deltas so the fold
        # exercises multi-batch merging.
        flags0 = incremental_dedup_from_index(
            batch, h0, b0, index_meta=m0
        ).localCheckpoint(eager=True)
        accepted = batch.join(
            flags0.where(F.col("action") == "ingest").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        refresh_dedup_index(
            accepted.where(F.expr("doc_id div 97") % 2 == 0),
            path,
            "day1",
        )
        refresh_dedup_index(
            accepted.where(F.expr("doc_id div 97") % 2 == 1),
            path,
            "day2",
        )
        h1, b1, m1 = read_dedup_index(spark, path)
        before = incremental_dedup_from_index(
            batch, h1, b1, index_meta=m1
        ).localCheckpoint(eager=True)
        compact_dedup_index(spark, path)
        h2, b2, m2 = read_dedup_index(spark, path)
        folded = incremental_dedup_from_index(
            batch, h2, b2, index_meta=m2
        )
        state["n_diff"] = _symmetric_diff_count(before, folded)

    # Crash-safe once-per-artifact mutation chain; on done drives the
    # compacted base IS corpus ∪ accepted and the probe replays the
    # same truth — n_diff is the RECORDED measurement from the drive
    # the fold ran, persisted in the sentinel (ADVICE r13), not a
    # placeholder literal.
    _gate_chain(spark, path, fresh, mutate, state)
    n_diff = state["n_diff"]
    h2, b2, m2 = read_dedup_index(spark, path)
    after = incremental_dedup_from_index(batch, h2, b2, index_meta=m2)
    return after.select(
        "doc_id",
        F.col("action").alias("final_action"),
        F.lit(n_diff).cast("int").alias("n_diff_rows"),
        F.lit(_layout_delta_residue(spark, path))
        .cast("int")
        .alias("deltas_remaining"),
    )


@query("ann_index_compaction_topk")
def ann_index_compaction_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELTA COMPACTION of the stored IVF-PQ index: the day-1 ingest
    delta (stored-codebook encode + frozen-centroid cell insert) is
    folded into the base ``codes`` partitions — maintenance, not
    retraining: codebook and coarse centroids keep their exact bytes
    (test-pinned), so compaction does NOT reset ann_delta_recall's
    drift accounting; it reclaims the per-probe delta-union fan-in.
    The hashed row is the post-compaction nprobe=2 ADC top-5 of the
    batch vectors (must replay the oracle's base ∪ delta probe) plus
    the measured |before △ after| and surviving-delta counts (0, 0).
    Own layout artifact: the ann_delta gates' layout must KEEP its
    delta (their contract states batch vectors live only there)."""
    from ..operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )
    from ..operators.compaction import compact_ann_index
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 97 != 0)
    batch = e.where(F.col("vec_id") % 97 == 0)
    q = batch.select("vec_id", "embedding")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_compact_v1", "embeddings"
    )

    def _probe():
        codes, codebook, cells, meta = read_ann_index(spark, path)
        return ivf_pq_topk_from_index(
            q, codes, codebook, m=8, k=4, iters=2, topk=5,
            index_meta=meta, cells=cells, nprobe=2,
        )

    state = {"n_diff": 0}

    def mutate() -> None:
        write_ann_index(corpus, path, m=8, k=4, iters=2)
        refresh_ann_index(batch, path, batch_id="day1")
        before = _probe().localCheckpoint(eager=True)
        compact_ann_index(spark, path)
        state["n_diff"] = _symmetric_diff_count(before, _probe())

    _gate_chain(spark, path, fresh, mutate, state)
    n_diff = state["n_diff"]
    after = _probe()
    return after.select(
        "q_id",
        "vec_id",
        "adc_dist",
        "rk",
        F.lit(n_diff).cast("int").alias("n_diff_rows"),
        F.lit(_layout_delta_residue(spark, path))
        .cast("int")
        .alias("deltas_remaining"),
    )


@query("scd2_feed_compaction_history")
def scd2_feed_compaction_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELTA COMPACTION of the keyed SCD2 feed layout: two daily
    appends fold into the base ``feed_rows`` shards (partition-wise,
    writer-sorted (key, ts) within each rewritten shard — the pruned
    refresh keeps decoding tight row groups). The hashed row is the
    SCD2 history windowed from the POST-compaction base-only feed —
    feed0 ∪ day1 ∪ day2 = all events, so it must land on the same
    one-truth full-rebuild oracle as the other SCD2 gates — plus the
    measured history |before △ after| across the fold and the
    surviving-delta count (0, 0). The stored HISTORY layout has no
    compaction twin by design: it is maintained copy-on-write and
    never grows deltas (read_scd2_history documents the asymmetry)."""
    from ..operators.compaction import compact_scd2_feed
    from ..operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        scd2_history,
        write_scd2_feed,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    cols = ("user_id", "ts", "event_type")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_compact_feed_v1", "events"
    )
    state = {"n_diff": 0}

    def mutate() -> None:
        write_scd2_feed(e.where(F.col("event_id") % 5 != 0), path, *cols)
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 5), path, "day1")
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 0), path, "day2")
        feed_b, _ = read_scd2_feed(spark, path)
        before = scd2_history(feed_b, *cols).localCheckpoint(eager=True)
        compact_scd2_feed(spark, path)
        feed_m, _ = read_scd2_feed(spark, path)
        state["n_diff"] = _symmetric_diff_count(
            before, scd2_history(feed_m, *cols)
        )

    _gate_chain(spark, path, fresh, mutate, state)
    n_diff = state["n_diff"]
    feed_a, _ = read_scd2_feed(spark, path)
    after = scd2_history(feed_a, *cols)
    return after.select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(n_diff).cast("int").alias("n_diff_rows"),
        F.lit(_layout_delta_residue(spark, path))
        .cast("int")
        .alias("deltas_remaining"),
    )


def _ann_policy_rows(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """The rebuild-trigger policy body, threshold-parameterized so the
    HOLD branch is unit-testable (the gate's data deterministically
    triggers REBUILD at its declared threshold): measure delta-recall
    at nprobe=2 against the exact top-5 over all vectors, collect the
    single-row scalar (bounded), rebuild over the full corpus when it
    crosses the threshold, and emit one accounting row per phase."""
    from ..operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )
    from ..operators.scalars import broadcast_scalars
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 97 != 0)
    batch = e.where(F.col("vec_id") % 97 == 0)
    q = batch.select("vec_id", "embedding")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_policy_v1", "embeddings"
    )
    def mutate() -> None:
        write_ann_index(corpus, path, m=8, k=4, iters=2)
        # TWO delta generations (VERDICT r12 item 3): the policy acts
        # on accumulated drift, not a single append.
        refresh_ann_index(
            batch.where(F.expr("vec_id div 97") % 2 == 0), path, "day1"
        )
        refresh_ann_index(
            batch.where(F.expr("vec_id div 97") % 2 == 1), path, "day2"
        )

    # Crash-safe once-per-artifact chain: a drive killed between the
    # base write and a delta refresh would otherwise leave a
    # fresh-looking layout with missing deltas that every later drive
    # would probe (round-13 review).
    _gate_chain(spark, path, fresh, mutate)

    # Exact squared-L2 top-5 over ALL vectors — the recall referee,
    # shared by both phases (the documented one-pass GEMM baseline:
    # bounded query set broadcast into one corpus scan).
    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    one = lambda c: F.pmod(  # noqa: E731
        F.crc32(c.cast("string")), F.lit(1)
    ).cast("int")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qe = q.select(
        F.col("vec_id").alias("q_id"), vec_d.alias("__qv")
    ).withColumn("__k", one(F.col("q_id")))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), vec_d.alias("__cv")
    ).withColumn("__k", one(F.col("neighbor_id")))
    w = Window.partitionBy("q_id").orderBy(
        F.col("__d").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        ce.join(F.broadcast(qe), "__k")
        .select("q_id", "neighbor_id", sq("__qv", "__cv").alias("__d"))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 5)
        .select("q_id", "neighbor_id")
    )

    def recall_row(index_path: str) -> DataFrame:
        codes, codebook, cells, meta = read_ann_index(spark, index_path)
        approx = ivf_pq_topk_from_index(
            q, codes, codebook, m=8, k=4, iters=2, topk=5,
            index_meta=meta, cells=cells, nprobe=2,
        ).select("q_id", F.col("vec_id").alias("neighbor_id"))
        hits = approx.join(exact, ["q_id", "neighbor_id"], "left_semi").agg(
            F.count("*").alias("n_hits")
        )
        nq = exact.agg(F.countDistinct("q_id").alias("n_queries"))
        return broadcast_scalars(hits, nq, "n_hits", "n_queries").select(
            "n_queries",
            "n_hits",
            F.round(F.col("n_hits") / (F.col("n_queries") * 5), 4).alias(
                "recall_at_5"
            ),
        )

    # 1-row collect: the trigger is a driver-side decision by design
    # (a production loop reads the drift metric, then acts).
    delta_row = recall_row(path).localCheckpoint(eager=True)
    delta_recall = delta_row.collect()[0]["recall_at_5"]
    rows = delta_row.select(F.lit("delta").alias("phase"), "*")
    if delta_recall < threshold:
        rpath, rfresh = layout_artifact(
            sf_dir, "spark_graft_ann_policy_rebuilt_v1", "embeddings"
        )
        if not rfresh:
            # Retrain over base ∪ deltas' VECTORS (the raw corpus —
            # codes alone cannot retrain); purges nothing at `path`:
            # the production swap would re-point readers and rebuild
            # the delta layout, which stays probe-able throughout.
            write_ann_index(e, rpath, m=8, k=4, iters=2)
        rows = rows.unionByName(
            recall_row(rpath).select(
                F.lit("post_rebuild").alias("phase"), "*"
            )
        )
    return rows.withColumn(
        "decision",
        F.when(F.col("recall_at_5") < threshold, F.lit("rebuild"))
        .otherwise(F.lit("hold")),
    )


@query("ann_rebuild_trigger_policy")
def ann_rebuild_trigger_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REBUILD-TRIGGER POLICY closing the loop ann_delta_recall opened
    (VERDICT r12 item 3): that gate prices the frozen-codebook drift
    of delta-inserted vectors; this one ACTS on it. Two delta
    generations accumulate on the stored index; the gate measures
    delta-recall@5 at nprobe=2 against the exact top-5 over all
    vectors, and when it crosses the declared threshold (0.5 — the
    drift at this data is ~0.3, deterministically below) REBUILDS:
    write_ann_index retrains codebook + coarse centroids over the
    full corpus, and the post-rebuild recall of the SAME queries is
    emitted beside the delta row — the accounting a production loop
    validates its rebuild with, in the same hashed output as the
    decision that bought it. (Honest scale note: at this synthetic
    size the post row's gain is within 6-query noise, and delta
    inserts are distance-OPTIMALLY placed — assign_ivf_cells puts a
    vector in exactly the cell its own query probes first — so
    self-recall does not rise on rebuild; what the hash pins is the
    POLICY LOOP: measured drift → replayed conditional → measured
    post state.)

    The DuckDB oracle replays both phases (corpus-trained index +
    frozen-codebook inserts for 'delta'; full-corpus retrain for
    'post_rebuild') and the CONDITIONAL itself: the post row exists
    in the oracle only where the replayed delta recall crosses the
    same threshold. The HOLD branch (no rebuild, one row) is pinned
    by tests/test_ann_index.py with a 0.0 threshold."""
    return _ann_policy_rows(spark, sf_dir, threshold=0.5)


@query("stream_feed_ingest_history")
def stream_feed_ingest_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING → STORED-LAYOUT composition (VERDICT r12 item 4): a
    checkpointed stream over the held-out events lands each
    micro-batch as an SCD2-feed delta through foreachBatch →
    refresh_scd2_feed, crash-restarts ONCE deterministically in the
    worst window (delta landed, checkpoint commit pending), and
    replays the batch idempotently under the same batch_id — the
    delta commit protocol IS the exactly-once ledger
    (streaming/events.py stream_feed_ingest_deltas). base ∪ streamed
    = all events, so the post-stream history must land on the SCD2
    family's one-truth full-rebuild oracle; ``feed_rows`` (must equal
    the full events count — a doubled or lost batch moves it),
    ``n_stream_deltas`` (3 micro-batches committed) and
    ``crash_replayed`` ride in the hashed row as proof columns.

    Always runs the pipeline fresh (the stream is the thing under
    test); scratch source+checkpoint dirs are reclaimed, the feed
    layout lives at a fixed per-sf path."""
    import shutil
    import tempfile

    from ..operators.scd import read_scd2_feed, scd2_history
    from ..sources.catalog import layout_artifact
    from ..streaming.events import stream_feed_ingest_deltas

    cols = ("user_id", "ts", "event_type")
    feed_path, fresh = layout_artifact(
        sf_dir, "spark_graft_stream_feed_v1", "events"
    )
    work = tempfile.mkdtemp(prefix="spark_graft_stream_ingest_")
    try:
        # The BASE feed is a cached per-sf artifact; the streamed
        # pipeline (source files, checkpoint, crash, replay, deltas)
        # runs fresh every drive — micro-batch ids restart at 0 on
        # the fresh checkpoint, so the deltas overwrite their own
        # prior batch_ids and the layout state stays deterministic.
        info = stream_feed_ingest_deltas(
            spark, sf_dir, work, feed_path, rebuild_base=not fresh
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    feed, _meta = read_scd2_feed(spark, feed_path)
    return scd2_history(feed, *cols).select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(info["n_deltas"]).cast("int").alias("n_stream_deltas"),
        F.lit(info["feed_rows"]).cast("bigint").alias("feed_rows"),
        F.lit(info["crashed_once"]).alias("crash_replayed"),
    )


# --------------------------------------------------------------------------
# Round 14: unified maintenance policy loop (VERDICT r13 item 1)
# --------------------------------------------------------------------------


@query("ann_maintenance_policy")
def ann_maintenance_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFIED MAINTENANCE LOOP for the stored ANN index (VERDICT r13
    item 1): round 13 left compact and rebuild as separate verbs — a
    HOLD decision accumulated deltas forever. ``maintain_ann_index``
    is one policy tick: measure recall drift, emit exactly ONE of
    hold / compact / rebuild, and EXECUTE it. The gate drives a
    layout through the loop's whole life and hashes the decision
    table:

    - ``day1``: one ingest delta → HOLD (below compact_after=2, and
      the drift arm is disabled at threshold 0.0 so the count policy
      is scale-independent);
    - ``day2``: two deltas → COMPACT, with recall re-measured across
      the fold — ``recall_after`` must EQUAL ``recall_before`` (the
      fold-invisibility witness, now measured inside the policy loop
      itself);
    - ``drift``: threshold raised to 0.5 (measured drift at this
      data is ~0.3, deterministically below) → REBUILD executes
      ``write_ann_index`` over the full corpus with the layout's own
      recorded params, and ``recall_after`` is the post-retrain
      measurement — the validation row a production loop records
      beside the decision that bought it.

    The DuckDB oracle replays every number: day1 recall = the
    frozen-codebook replay with only day1's vectors inserted (exact
    referee over corpus ∪ day1 — the corpus the index serves at that
    tick); day2/drift recall = the full-delta replay (exact referee
    over all vectors); post-rebuild recall = the full-corpus retrain
    replay; and the drift CONDITIONAL itself (decision and
    recall_after are CASE over the replayed recall — the r13
    policy-gate recipe). Decision rows are measurements recorded the
    drive the chain ran, persisted in the gate sentinel."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.clustering import refresh_ann_index, write_ann_index
    from ..operators.maintenance import maintain_ann_index
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 97 != 0)
    batch = e.where(F.col("vec_id") % 97 == 0)
    day1 = batch.where(F.expr("vec_id div 97") % 2 == 0)
    day2 = batch.where(F.expr("vec_id div 97") % 2 == 1)
    q = batch.select("vec_id", "embedding")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_maint_v1", "embeddings"
    )
    state: dict = {"rows": []}

    def tick(step: str, vectors, rebuild_below: float) -> None:
        r = maintain_ann_index(
            spark, path, q, vectors, rebuild_below, compact_after=2
        )
        state["rows"].append(
            [
                step,
                r["decision"],
                r["n_deltas"],
                r["n_queries"],
                r["n_hits"],
                r["recall_before"],
                r["recall_after"],
                r["deltas_remaining"],
            ]
        )

    def mutate() -> None:
        write_ann_index(corpus, path, m=8, k=4, iters=2)
        refresh_ann_index(day1, path, "day1")
        # The exact referee always covers the corpus the index SERVES
        # at this tick: corpus ∪ day1 here, everything after day2.
        tick("day1", corpus.unionByName(day1), rebuild_below=0.0)
        refresh_ann_index(day2, path, "day2")
        tick("day2", e, rebuild_below=0.0)
        tick("drift", e, rebuild_below=0.5)

    _gate_chain(spark, path, fresh, mutate, state)
    schema = StructType(
        [
            StructField("step", StringType()),
            StructField("decision", StringType()),
            StructField("n_deltas", IntegerType()),
            StructField("n_queries", LongType()),
            StructField("n_hits", LongType()),
            StructField("recall_before", DoubleType()),
            StructField("recall_after", DoubleType()),
            StructField("deltas_remaining", IntegerType()),
        ]
    )
    rows = [
        [
            r[0],
            r[1],
            int(r[2]),
            int(r[3]),
            int(r[4]),
            float(r[5]),
            float(r[6]),
            int(r[7]),
        ]
        for r in state["rows"]
    ]
    return spark.createDataFrame(rows, schema)


@query("dedup_index_maintenance")
def dedup_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFIED MAINTENANCE LOOP for the stored dedup index: three
    ingest days drive ``maintain_dedup_index`` through all three
    outcomes — day1 HOLD (one delta, below compact_after=2), day2
    COMPACT (fold both deltas into the base shards), day3 REBUILD via
    the rows-ratio drift arm (the ingested tail crossing
    ``rebuild_rows_over`` × base_rows = the corpus outgrowing the
    sharding the base was sized for; the rebuild re-shingles the full
    current corpus with the layout's own recorded params and purges
    the delta). The hashed row set is the batch probed against the
    FINAL layout state — hold, fold and rebuild must all land on the
    e2e ingest chain's one-truth reprobe (base ∪ accepted) — plus
    the recorded decision table as literal columns, with the day-3
    conditional replayed in the oracle from the same accepted-rows
    counts (CASE over day-split ingest counts; at a replica scale
    where day3 accepts zero docs the arm correctly holds and the
    oracle holds with it — deltas_remaining rides the same CASE)."""
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )
    from ..operators.maintenance import maintain_dedup_index
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_dedup_maint_v1", "documents"
    )
    state: dict = {"decisions": [], "d3": {}}

    def mutate() -> None:
        write_dedup_index(corpus, path)
        h0, b0, m0 = read_dedup_index(spark, path, include_deltas=False)
        flags0 = incremental_dedup_from_index(
            batch, h0, b0, index_meta=m0
        ).localCheckpoint(eager=True)
        accepted = batch.join(
            flags0.where(F.col("action") == "ingest").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        day = lambda k: accepted.where(  # noqa: E731
            F.expr("doc_id div 97") % 3 == k
        )
        refresh_dedup_index(day(0), path, "day1")
        m1 = maintain_dedup_index(spark, path, compact_after=2)
        refresh_dedup_index(day(1), path, "day2")
        m2 = maintain_dedup_index(spark, path, compact_after=2)
        refresh_dedup_index(day(2), path, "day3")
        # Drift arm armed: day3's rows against the (compacted) base.
        # The full current corpus backs the rebuild the arm may buy.
        m3 = maintain_dedup_index(
            spark,
            path,
            corpus=corpus.unionByName(accepted),
            rebuild_rows_over=0.001,
            compact_after=2,
        )
        state["decisions"] = [m1["decision"], m2["decision"], m3["decision"]]
        state["d3"] = {
            "base_rows": m3["base_rows"],
            "delta_rows": m3["delta_rows"],
            "deltas_remaining": m3["deltas_remaining"],
        }

    _gate_chain(spark, path, fresh, mutate, state)
    d1, d2, d3 = state["decisions"]
    h, b, m = read_dedup_index(spark, path)
    probe = incremental_dedup_from_index(batch, h, b, index_meta=m)
    return probe.select(
        "doc_id",
        F.col("action").alias("final_action"),
        F.lit(d1).alias("d1_decision"),
        F.lit(d2).alias("d2_decision"),
        F.lit(d3).alias("d3_decision"),
        F.lit(state["d3"]["base_rows"]).cast("bigint").alias("d3_base_rows"),
        F.lit(state["d3"]["delta_rows"])
        .cast("bigint")
        .alias("d3_delta_rows"),
        F.lit(state["d3"]["deltas_remaining"])
        .cast("int")
        .alias("deltas_remaining"),
    )


@query("scd2_feed_maintenance")
def scd2_feed_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFIED MAINTENANCE LOOP for the keyed SCD2 feed layout: day1
    HOLD, day2 COMPACT, then the RE-SHARD arm — ``maintain_scd2_feed``
    rebuilds the layout from its own read-back with DOUBLED shards
    when total rows per shard cross ``rebuild_rows_per_shard`` (the
    feed is self-contained, so unlike the index rebuilds no external
    corpus is needed; HRW keeps the assignment re-shard-stable). The
    hashed rows are the SCD2 history windowed from the FINAL layout —
    hold, fold and re-shard must all land on the family's one-truth
    full-rebuild oracle — plus the decision table and the re-shard
    CONDITIONAL replayed in the oracle from the same total-rows count
    (base ∪ day1 ∪ day2 = all events, so the trigger is CASE over
    count(events): at sf0.01's 10,000 events the 512-rows/shard bar
    over 16 shards trips and final_n_shards doubles to 32)."""
    from ..operators.maintenance import maintain_scd2_feed
    from ..operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        scd2_history,
        write_scd2_feed,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    cols = ("user_id", "ts", "event_type")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_maint_feed_v1", "events"
    )
    state: dict = {"decisions": [], "final": {}}

    def mutate() -> None:
        write_scd2_feed(e.where(F.col("event_id") % 5 != 0), path, *cols)
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 5), path, "day1")
        m1 = maintain_scd2_feed(spark, path, compact_after=2)
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 0), path, "day2")
        m2 = maintain_scd2_feed(spark, path, compact_after=2)
        m3 = maintain_scd2_feed(
            spark, path, rebuild_rows_per_shard=512, compact_after=2
        )
        state["decisions"] = [m1["decision"], m2["decision"], m3["decision"]]
        state["final"] = {
            "total_rows": m3["total_rows"],
            "n_shards": m3["n_shards_after"],
            "deltas_remaining": m3["deltas_remaining"],
        }

    _gate_chain(spark, path, fresh, mutate, state)
    d1, d2, d3 = state["decisions"]
    feed, _ = read_scd2_feed(spark, path)
    return scd2_history(feed, *cols).select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(d1).alias("d1_decision"),
        F.lit(d2).alias("d2_decision"),
        F.lit(d3).alias("d3_decision"),
        F.lit(state["final"]["total_rows"])
        .cast("bigint")
        .alias("total_rows"),
        F.lit(state["final"]["n_shards"]).cast("int").alias("final_n_shards"),
        F.lit(state["final"]["deltas_remaining"])
        .cast("int")
        .alias("deltas_remaining"),
    )


# --------------------------------------------------------------------------
# Round 14: retention / vacuum — the last lifecycle verb (VERDICT r13
# item 2)
# --------------------------------------------------------------------------


@query("layout_vacuum_sweep")
def layout_vacuum_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM of a stored layout's physical garbage
    (operators/vacuum.py): the gate builds a feed layout whose base ∪
    one COMMITTED delta = all events, plants the three garbage
    classes a year of crashes accumulates — an UNMARKED delta
    directory (refresh died before its commit marker), stale
    ``_staging`` (crashed base rebuild), stale ``_compact`` with no
    manifest (compaction died during STAGE) — with DECLARED byte
    sizes (synthetic files, so the oracle can assert the exact
    reclamation; realistic parquet-orphan flows are pinned in
    tests/test_vacuum.py), vacuums, and hashes the layout's LOGICAL
    read-back (the SCD2 one-truth history — a vacuum that touched
    any visible row would diverge) plus the measured accounting:
    ``files_removed=4``, ``bytes_reclaimed=480`` (256+128+64+32),
    ``orphan_deltas_removed=1``, ``staging_removed=2``,
    ``spark_staging_removed=1`` (round 15: killed-write
    ``.spark-staging-*`` residue is a fourth sweep class), and
    ``committed_deltas_kept=1`` — the committed delta must SURVIVE
    the sweep or the history hash loses its rows anyway. Round 15
    also plants a DECOY — ``notes_delta_old`` (user scratch whose
    name merely contains ``_delta_``) — which the ADVICE-r14-anchored
    match must leave alone: ``decoy_survived`` rides as a hashed
    column read back from the filesystem.

    100 TB story: the sweep is pure filesystem metadata (listing +
    content summaries + recursive deletes); nothing is read. The
    ``_compact`` plant is staging of a retired commit protocol, dead
    by definition; the snapshot-retire class is pinned in tests."""
    from ..operators.scd import read_scd2_feed, refresh_scd2_feed, scd2_history, write_scd2_feed
    from ..operators.vacuum import vacuum_layout
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    cols = ("user_id", "ts", "event_type")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_vacuum_v3", "events"
    )
    state: dict = {}

    def plant(rel: str, size: int) -> None:
        import pathlib

        p = pathlib.Path(path) / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"g" * size)

    def mutate() -> None:
        write_scd2_feed(
            e.where(F.col("event_id") % 5 != 0), path, *cols, n_shards=4
        )
        refresh_scd2_feed(
            e.where(F.col("event_id") % 5 == 0), path, "day1"
        )
        plant("feed_rows_delta_orphan9/part-dead.bin", 256)
        plant("_staging/feed_rows/part-stale.bin", 128)
        plant("_compact/feed_rows/part-stale.bin", 64)
        plant(".spark-staging-dead1/part-resid.bin", 32)
        plant("notes_delta_old/keep.bin", 40)
        info = vacuum_layout(spark, path, "scd2 feed layout")
        state.update(
            {
                "files_removed": info["files_removed"],
                "bytes_reclaimed": info["bytes_reclaimed"],
                "orphans": info["orphan_deltas_removed"],
                "staging": info["staging_removed"],
                "spark_staging": info["spark_staging_removed"],
            }
        )

    _gate_chain(spark, path, fresh, mutate, state)
    feed, _ = read_scd2_feed(spark, path)
    from .. import fsutil
    from ..operators.store import committed_delta_batches

    kept = len(committed_delta_batches(spark, path))
    decoy_survived = fsutil.exists(
        spark, os.path.join(path, "notes_delta_old", "keep.bin")
    )
    return scd2_history(feed, *cols).select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(state["files_removed"]).cast("int").alias("files_removed"),
        F.lit(state["bytes_reclaimed"])
        .cast("bigint")
        .alias("bytes_reclaimed"),
        F.lit(state["orphans"]).cast("int").alias("orphan_deltas_removed"),
        F.lit(state["staging"]).cast("int").alias("staging_removed"),
        F.lit(state["spark_staging"])
        .cast("int")
        .alias("spark_staging_removed"),
        F.lit(decoy_survived).alias("decoy_survived"),
        F.lit(kept).cast("int").alias("committed_deltas_kept"),
    )


@query("scd2_history_retention")
def scd2_history_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION over the stored SCD2 history layout
    (operators/vacuum.py expire_scd2_history): per user, keep the
    current row plus the single most recent closed version
    (retain_versions=1) and expire everything older — copy-on-write
    over only the shards holding expirable rows, the
    scd2_refresh_in_place discipline. The hashed rows are the
    post-expiry READ-BACK of the layout (external reader path, so the
    marker round-trip is exercised too) with ``rows_expired`` riding
    as a measured proof column; the DuckDB oracle replays the policy
    over the full-rebuild history (rank closed versions per key by
    effective_from_us DESC — unique per key by the scd2_history tie
    contract — keep rk <= 1 plus current, count the rest).

    100 TB story: the expiry is the history-side retention a year of
    daily CDC needs — the scan to FIND expirable keys is one pruned
    column read; the rewrite touches only shards with expired rows."""
    from ..operators.scd import (
        read_scd2_history,
        scd2_history,
        write_scd2_history,
    )
    from ..operators.vacuum import expire_scd2_history
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_retention_v2", "events"
    )
    state: dict = {"rows_expired": 0}

    def mutate() -> None:
        hist = scd2_history(e, "user_id", "ts", "event_type")
        write_scd2_history(hist, path, "user_id", n_shards=8)
        info = expire_scd2_history(spark, path, retain_versions=1)
        state["rows_expired"] = info["rows_expired"]

    _gate_chain(spark, path, fresh, mutate, state)
    hist, _meta = read_scd2_history(spark, path)
    return hist.select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(state["rows_expired"]).cast("bigint").alias("rows_expired"),
    )


@query("stream_dedup_ingest_probe")
def stream_dedup_ingest_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING → DEDUP-INDEX composition (VERDICT r13 item 4;
    replica-robust form per VERDICT r14 item 3): a checkpointed
    stream over the batch ids' id-salted NOVEL docs lands each
    micro-batch as an index delta through foreachBatch →
    refresh_dedup_index, crash-restarts ONCE deterministically in the
    worst window (two-table delta landed, checkpoint commit pending),
    and replays the batch idempotently under the same batch_id — the
    delta commit-marker protocol IS the exactly-once ledger
    (streaming/events.py stream_dedup_ingest_deltas; the SCD2-feed
    composition is the r13 template). The round-14 form streamed the
    ACCEPTED batch docs, which a replica-scaled corpus collapses to
    ~0 (every batch doc near-duplicates its replicas) — id-salted
    docs are novel at ANY replica scale, so the 3-file micro-batch
    contract and this oracle hold unchanged at 1x/10x/100x.

    The hashed rows are the STREAMED docs probed against the
    post-stream index — each must find its OWN rows (exact_dup =
    near_dup = TRUE, action = 'skip_exact'; a lost micro-batch flips
    its docs to 'ingest', strictly stronger than the round-14 probe,
    which only saw losses through the row count) — plus
    ``n_stream_deltas`` (3 micro-batches committed), ``index_rows``
    (content-hash rows = corpus + streamed = ALL docs; a doubled
    micro-batch moves it) and ``crash_replayed``.

    Always runs the stream fresh (the replay contract is the thing
    under test); scratch checkpoint dirs are reclaimed, the index
    layout lives at a fixed per-sf path."""
    import shutil
    import tempfile

    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
    )
    from ..sources.catalog import layout_artifact
    from ..streaming.events import (
        salted_stream_docs,
        stream_dedup_ingest_deltas,
    )

    path, fresh = layout_artifact(
        sf_dir, "spark_graft_stream_dedup_v2", "documents"
    )
    work = tempfile.mkdtemp(prefix="spark_graft_stream_dedup_")
    try:
        info = stream_dedup_ingest_deltas(
            spark, sf_dir, work, path, rebuild_base=not fresh
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    d = load(spark, sf_dir, "documents")
    streamed = salted_stream_docs(d.where(F.col("doc_id") % 97 == 0))
    h, b, m = read_dedup_index(spark, path)
    # Meta-driven params: the streamed layout is 4-sharded (the
    # appending stream's file-fan-out rule), not the probe default.
    probe = incremental_dedup_from_index(
        streamed, h, b, n_shards=int(m["n_shards"]), index_meta=m
    )
    return probe.select(
        "doc_id",
        "exact_dup",
        "near_dup",
        "action",
        F.lit(info["n_deltas"]).cast("int").alias("n_stream_deltas"),
        F.lit(info["index_rows"]).cast("bigint").alias("index_rows"),
        F.lit(info["crashed_once"]).alias("crash_replayed"),
    )


@query("compaction_ingest_interleave")
def compaction_ingest_interleave(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPACTION × CONCURRENT INGEST interleave (VERDICT r13
    item 5): the manifest folds exactly the batches the compaction
    opened, so a delta landing DURING compaction — between stage and
    publish, the widest window — must stay live and probe-able. The
    module claimed it; this gate PROVES it: day1+day2 fold while
    day3's refresh lands inside the window (via the compaction
    engine's ``on_staged`` hook, the supported-interleave seam), and
    the batch probed against the post-fold layout must land on the
    e2e chain's one-truth reprobe (base ∪ ALL THREE days' accepted
    docs — a commit that swept or half-saw day3 would flip its docs'
    flags back to 'ingest'). Proof columns: ``n_folded`` (exactly the
    2 folded batches), ``interleaved_committed`` (day3 is still a
    live batch: 1), ``fold_resumed`` (always false: a crashed fold
    is recovered by a plain re-run, there is no resume path; the
    crash interleave is pinned in tests/test_compaction.py)."""
    from ..operators.compaction import compact_dedup_index
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )
    from ..operators.store import committed_delta_batches
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_interleave_v1", "documents"
    )
    state: dict = {"n_folded": 0}

    def mutate() -> None:
        write_dedup_index(corpus, path)
        h0, b0, m0 = read_dedup_index(spark, path, include_deltas=False)
        flags0 = incremental_dedup_from_index(
            batch, h0, b0, index_meta=m0
        ).localCheckpoint(eager=True)
        accepted = batch.join(
            flags0.where(F.col("action") == "ingest").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        day = lambda k: accepted.where(  # noqa: E731
            F.expr("doc_id div 97") % 3 == k
        )
        refresh_dedup_index(day(0), path, "day1")
        refresh_dedup_index(day(1), path, "day2")
        info = compact_dedup_index(
            spark,
            path,
            # The concurrent ingest: day3 lands after the fold is
            # staged, before its manifest is published — exactly a
            # refresh racing the fold.
            on_staged=lambda: refresh_dedup_index(day(2), path, "day3"),
        )
        state["n_folded"] = info["n_deltas_folded"]

    _gate_chain(spark, path, fresh, mutate, state)
    surviving = committed_delta_batches(spark, path)
    h, b, m = read_dedup_index(spark, path)
    probe = incremental_dedup_from_index(batch, h, b, index_meta=m)
    return probe.select(
        "doc_id",
        F.col("action").alias("final_action"),
        F.lit(state["n_folded"]).cast("int").alias("n_folded"),
        F.lit(len(surviving)).cast("int").alias("interleaved_committed"),
        F.lit(False).alias("fold_resumed"),
    )


# --------------------------------------------------------------------------
# Round 14: targeted deletion / retraction (right-to-be-forgotten)
# --------------------------------------------------------------------------


@query("dedup_index_retraction")
def dedup_index_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED DELETION from the stored dedup index
    (operators/deletion.py): the corpus docs that are exact-content
    twins of the held-out batch are RETRACTED (a takedown of the very
    docs the batch would collide with) from an index whose corpus
    spans base AND a committed delta — the COW delete rewrites only
    the shards holding their rows, in both tables, in both
    directories. The hashed rows are the batch probed AFTERWARDS:
    every former 'skip_exact' collision must flip (its twin is gone),
    near-dup collisions survive only through OTHER corpus docs — the
    DuckDB oracle replays the probe against corpus MINUS twins.
    ``rows_deleted`` rides as the measured accounting: one
    content-hash row + `bands` band rows per retracted doc, so the
    oracle replays it as 5 × |twins|.

    100 TB story: retraction cost is the touched shards' rewrite —
    untouched shards stay byte-identical (tests pin it); probes need
    no tombstone filtering because the rows are physically gone."""
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )
    from ..operators.deletion import delete_from_dedup_index
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_dedup_retract_v2", "documents"
    )
    state: dict = {"rows_deleted": 0}

    def mutate() -> None:
        from ..operators.dedup import portable_hash48

        # The index corpus spans base + one committed delta, so the
        # delete must reach both directory generations.
        write_dedup_index(corpus.where(F.col("doc_id") % 2 == 1), path)
        refresh_dedup_index(
            corpus.where(F.col("doc_id") % 2 == 0), path, "day1"
        )
        ch = lambda df: df.select(  # noqa: E731
            "doc_id", portable_hash48(F.col("text")).alias("ch")
        )
        twins = (
            ch(corpus)
            .join(
                ch(batch).select("ch").distinct(),
                "ch",
                "left_semi",
            )
            .select("doc_id")
        )
        info = delete_from_dedup_index(spark, path, twins)
        state["rows_deleted"] = info["rows_deleted"]

    _gate_chain(spark, path, fresh, mutate, state)
    h, b, m = read_dedup_index(spark, path)
    probe = incremental_dedup_from_index(batch, h, b, index_meta=m)
    return probe.select(
        "doc_id",
        "exact_dup",
        "near_dup",
        "action",
        F.lit(state["rows_deleted"]).cast("bigint").alias("rows_deleted"),
    )


@query("ann_index_retraction")
def ann_index_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED DELETION from the stored IVF-PQ index: after both
    ingest days land as deltas, day1's vectors are RETRACTED — the
    COW delete rewrites only the cells holding their code rows,
    across base and both delta directories; codebook and coarse
    centroids stay (training statistics, not per-row state — a
    deletion-heavy layout retrains via the maintenance loop's rebuild
    arm). The hashed rows are the batch queries' nprobe=2 ADC top-5
    AFTERWARDS: the index now serves corpus ∪ day2 only, and the
    DuckDB oracle replays exactly that state (the frozen-codebook
    insert replay restricted to day2). ``rows_deleted`` = m(8) code
    rows per retracted vector, replayed as 8 × |day1|."""
    from ..operators.clustering import (
        ivf_pq_topk_from_index,
        read_ann_index,
        refresh_ann_index,
        write_ann_index,
    )
    from ..operators.deletion import delete_from_ann_index
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 97 != 0)
    batch = e.where(F.col("vec_id") % 97 == 0)
    day1 = batch.where(F.expr("vec_id div 97") % 2 == 0)
    day2 = batch.where(F.expr("vec_id div 97") % 2 == 1)
    q = batch.select("vec_id", "embedding")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_retract_v2", "embeddings"
    )
    state: dict = {"rows_deleted": 0}

    def mutate() -> None:
        write_ann_index(corpus, path, m=8, k=4, iters=2)
        refresh_ann_index(day1, path, "day1")
        refresh_ann_index(day2, path, "day2")
        info = delete_from_ann_index(spark, path, day1.select("vec_id"))
        state["rows_deleted"] = info["rows_deleted"]

    _gate_chain(spark, path, fresh, mutate, state)
    codes, codebook, cells, meta = read_ann_index(spark, path)
    topk = ivf_pq_topk_from_index(
        q, codes, codebook, m=8, k=4, iters=2, topk=5,
        index_meta=meta, cells=cells, nprobe=2,
    )
    return topk.select(
        "q_id",
        "vec_id",
        "adc_dist",
        "rk",
        F.lit(state["rows_deleted"]).cast("bigint").alias("rows_deleted"),
    )


@query("scd2_feed_key_deletion")
def scd2_feed_key_deletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED KEY ERASURE from the stored SCD2 feed (the GDPR
    shape): every row of the named users is deleted from base and
    both daily deltas — and because the feed shards BY the key, the
    touched-shard set comes from the keys alone (static HRW pruning,
    ZERO discovery scans: a handful of erasure requests against a
    100 TB feed reads only the shards those keys live in). The hashed
    rows are the SCD2 history windowed from the post-delete feed —
    exactly the one-truth full-rebuild history restricted to the
    surviving users (whole-key deletion commutes with the per-key
    window) — plus ``rows_deleted`` replayed as the erased users'
    event count."""
    from ..operators.deletion import delete_scd2_feed_keys
    from ..operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        scd2_history,
        write_scd2_feed,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    cols = ("user_id", "ts", "event_type")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_delete_v2", "events"
    )
    state: dict = {"rows_deleted": 0}

    def mutate() -> None:
        write_scd2_feed(e.where(F.col("event_id") % 5 != 0), path, *cols)
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 5), path, "day1")
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 0), path, "day2")
        erased = (
            e.where(F.col("user_id") % 17 == 3)
            .select("user_id")
            .distinct()
        )
        info = delete_scd2_feed_keys(spark, path, erased)
        state["rows_deleted"] = info["rows_deleted"]

    _gate_chain(spark, path, fresh, mutate, state)
    feed, _ = read_scd2_feed(spark, path)
    return scd2_history(feed, *cols).select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(state["rows_deleted"]).cast("bigint").alias("rows_deleted"),
    )


# --------------------------------------------------------------------------
# Round 15: complete erasure story + deletion-aware maintenance +
# sampled recall referee + the maintain_layout umbrella (VERDICT r14
# items 1, 2, 5, 6)
# --------------------------------------------------------------------------


@query("scd2_history_key_deletion")
def scd2_history_key_deletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED KEY ERASURE from the stored SCD2 HISTORY layout
    (VERDICT r14 item 1 — the feed verb's twin over the layout a
    serving deployment actually reads): every history row of the
    named users is deleted via the staged COW swap; the layout shards
    by HRW(key), so the touched-shard set comes from the keys alone
    (static pruning, zero discovery scans) and there are no deltas to
    reach (the history is COW-maintained). Whole-key erasure commutes
    with the per-key SCD2 window, so the hashed READ-BACK must equal
    the one-truth full-rebuild history restricted to surviving users;
    ``rows_deleted`` replays as the erased users' history-row count.

    100 TB story: a GDPR request against the serving history rewrites
    only the shards the keys live in — untouched shards byte-identical
    (tests/test_deletion.py pins it)."""
    from ..operators.deletion import delete_scd2_history_keys
    from ..operators.scd import (
        read_scd2_history,
        scd2_history,
        write_scd2_history,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_hist_delete_v2", "events"
    )
    state: dict = {"rows_deleted": 0}

    def mutate() -> None:
        hist = scd2_history(e, "user_id", "ts", "event_type")
        write_scd2_history(hist, path, "user_id", n_shards=8)
        erased = (
            e.where(F.col("user_id") % 17 == 3)
            .select("user_id")
            .distinct()
        )
        info = delete_scd2_history_keys(spark, path, erased)
        state["rows_deleted"] = info["rows_deleted"]

    _gate_chain(spark, path, fresh, mutate, state)
    hist, _meta = read_scd2_history(spark, path)
    return hist.select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(state["rows_deleted"]).cast("bigint").alias("rows_deleted"),
    )


@query("dedup_maintenance_deletion_drift")
def dedup_maintenance_deletion_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETION-AWARE maintenance drift for the stored dedup index
    (VERDICT r14 item 2): row counts never see deletions — the rows
    are physically gone — so the retraction verb records cumulative
    ``rows_deleted`` in ``_META.json`` and the tick's deletion arm
    reads it. The gate drives the flip the verdict asked for:

    - ``t1``: fresh index over the corpus, arm armed at
      ``rebuild_deleted_over=0.02``, zero deletions → HOLD;
    - retraction: every corpus doc with ``doc_id % 13 == 1`` is
      deleted (a delete-heavy layout — ~1/13 of the corpus at any
      replica scale, so the conditional's truth is scale-invariant);
    - ``t2``: deleted content rows ≥ 0.02 × live rows → REBUILD over
      the surviving docs (fresh metadata resets the counter);
    - ``t3``: counter reset → HOLD.

    Hashed rows: the held-out batch probed against the FINAL layout —
    exactly the incremental probe against corpus-minus-victims (the
    retraction family's truth) — plus the decision table with the t2
    CONDITIONAL replayed in the oracle from the same counts (victims
    vs surviving corpus rows)."""
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        write_dedup_index,
    )
    from ..operators.deletion import delete_from_dedup_index
    from ..operators.maintenance import maintain_dedup_index
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    victims = corpus.where(F.col("doc_id") % 13 == 1).select("doc_id")
    live = corpus.join(victims, "doc_id", "left_anti")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_dedup_del_drift_v2", "documents"
    )
    state: dict = {"decisions": [], "t2": {}}

    def mutate() -> None:
        write_dedup_index(corpus, path)
        t1 = maintain_dedup_index(spark, path, rebuild_deleted_over=0.02)
        delete_from_dedup_index(spark, path, victims)
        t2 = maintain_dedup_index(
            spark, path, corpus=live, rebuild_deleted_over=0.02
        )
        t3 = maintain_dedup_index(spark, path, rebuild_deleted_over=0.02)
        state["decisions"] = [t1["decision"], t2["decision"], t3["decision"]]
        state["t2"] = {
            "rows_deleted": t2["rows_deleted"],
            "live_rows": t2["base_rows"] + t2["delta_rows"],
        }

    _gate_chain(spark, path, fresh, mutate, state)
    d1, d2, d3 = state["decisions"]
    h, b, m = read_dedup_index(spark, path)
    probe = incremental_dedup_from_index(batch, h, b, index_meta=m)
    return probe.select(
        "doc_id",
        "exact_dup",
        "near_dup",
        "action",
        F.lit(d1).alias("t1_decision"),
        F.lit(d2).alias("t2_decision"),
        F.lit(d3).alias("t3_decision"),
        F.lit(state["t2"]["rows_deleted"])
        .cast("bigint")
        .alias("rows_deleted"),
        F.lit(state["t2"]["live_rows"]).cast("bigint").alias("live_rows"),
    )


@query("scd2_feed_deletion_drift")
def scd2_feed_deletion_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-AWARE maintenance drift for the keyed SCD2 feed
    (VERDICT r14 item 2): rows-per-shard never sees erasures — a
    delete-heavy feed erodes toward near-empty partitions with no
    trip wire. The erasure verb's cumulative ``rows_deleted`` counter
    arms the EROSION rebuild: rewrite from the feed's own read-back
    at the SAME shard count (the corpus shrank — doubling is the
    growth arm's move), resetting the counter.

    Chain: base ∪ day1 ∪ day2 = all events; ``t1`` HOLD (armed at
    ``rebuild_deleted_over=0.02``, nothing deleted; the count arm is
    silenced at compact_after=99 so the deletion arm is isolated);
    erase users ``% 17 == 3`` (~1/17 of rows at any replica scale);
    ``t2`` REBUILD at same n_shards; ``t3`` HOLD. Hashed rows: the
    SCD2 history windowed from the FINAL feed — the one-truth
    full-rebuild text over surviving users — plus the decision table
    with t2's conditional replayed from the same counts."""
    from ..operators.deletion import delete_scd2_feed_keys
    from ..operators.maintenance import maintain_scd2_feed
    from ..operators.scd import (
        read_scd2_feed,
        refresh_scd2_feed,
        scd2_history,
        write_scd2_feed,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    cols = ("user_id", "ts", "event_type")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_scd2_del_drift_v2", "events"
    )
    state: dict = {"decisions": [], "t2": {}}

    def mutate() -> None:
        write_scd2_feed(e.where(F.col("event_id") % 5 != 0), path, *cols)
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 5), path, "day1")
        refresh_scd2_feed(e.where(F.col("event_id") % 10 == 0), path, "day2")
        t1 = maintain_scd2_feed(
            spark, path, compact_after=99, rebuild_deleted_over=0.02
        )
        erased = (
            e.where(F.col("user_id") % 17 == 3)
            .select("user_id")
            .distinct()
        )
        delete_scd2_feed_keys(spark, path, erased)
        t2 = maintain_scd2_feed(
            spark, path, compact_after=99, rebuild_deleted_over=0.02
        )
        t3 = maintain_scd2_feed(
            spark, path, compact_after=99, rebuild_deleted_over=0.02
        )
        state["decisions"] = [t1["decision"], t2["decision"], t3["decision"]]
        state["t2"] = {
            "rows_deleted": t2["rows_deleted"],
            "total_rows": t2["total_rows"],
            "n_shards_after": t2["n_shards_after"],
        }

    _gate_chain(spark, path, fresh, mutate, state)
    d1, d2, d3 = state["decisions"]
    feed, _ = read_scd2_feed(spark, path)
    return scd2_history(feed, *cols).select(
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
        F.lit(d1).alias("t1_decision"),
        F.lit(d2).alias("t2_decision"),
        F.lit(d3).alias("t3_decision"),
        F.lit(state["t2"]["rows_deleted"])
        .cast("bigint")
        .alias("rows_deleted"),
        F.lit(state["t2"]["total_rows"]).cast("bigint").alias("total_rows"),
        F.lit(state["t2"]["n_shards_after"])
        .cast("int")
        .alias("final_n_shards"),
    )


@query("ann_sampled_recall_referee")
def ann_sampled_recall_referee(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAMPLED recall referee for the ANN maintenance tick (VERDICT
    r14 item 5): the exact referee of ``ann_recall_at_k`` is one full
    corpus scan per tick — honest, but at 100 TB the nightly HOLD
    tick for the ANN family pays a corpus-sized read the dedup/feed
    ticks don't. ``sample=(keep, mod)`` restricts BOTH sides to a
    deterministic hash-sample (portable_hash48 of the salted vec_id —
    the KMV/leakage gates' seeded-hash recipe, so the DuckDB oracle
    replays the SAME sample and the sampled recall is exact): the
    probe ranks only sampled code rows, the exact referee scans only
    sampled vectors — a well-defined recall over the sampled corpus,
    at keep/mod of the referee cost. A production loop picks keep/mod
    per tick as sample_budget / corpus_rows, making the tick
    corpus-FLAT (scripts/maintenance_probe.py --ann-sampled measures
    it); the full referee stays the rebuild-confirmation measurement
    (maintain_ann_index re-measures FULL after a rebuild).

    Hashed rows: the full-referee and 1/2-sampled measurements over
    the same stored base∪delta index state (the ann_delta family's
    shared artifact), plus ``recall_gap`` — sampled-vs-full agreement
    measured in-query and REPLAYED exactly (both chains run in the
    oracle; no tolerance, no hand-waving)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.clustering import refresh_ann_index, write_ann_index
    from ..operators.maintenance import ann_recall_at_k
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 97 != 0)
    batch = e.where(F.col("vec_id") % 97 == 0)
    q = batch.select("vec_id", "embedding")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_ann_delta_v1", "embeddings"
    )
    if not fresh:
        write_ann_index(corpus, path, m=8, k=4, iters=2)
    refresh_ann_index(batch, path, batch_id="day1")

    def row(mode: str, sample):
        r = ann_recall_at_k(spark, path, q, e, sample=sample).collect()[0]
        return [
            mode,
            int(r["n_queries"]),
            int(r["n_hits"]),
            float(r["recall_at_k"]),
        ]

    # The two referee measurements are INDEPENDENT collects over the
    # same committed index state — overlap them (guide §2.6) so the
    # sampled referee's tasks back-fill the full referee's stragglers
    # instead of paying the two chains' latencies end to end (r17).
    # Each runs in its own cache scope.
    from ..operators.store import run_concurrently

    full, sampled = run_concurrently(
        [lambda: row("full", None), lambda: row("sampled", (1, 2))]
    )
    schema = StructType(
        [
            StructField("mode", StringType()),
            StructField("n_queries", LongType()),
            StructField("n_hits", LongType()),
            StructField("recall_at_5", DoubleType()),
            StructField("recall_gap", DoubleType()),
        ]
    )
    gap = round(full[3] - sampled[3], 4)
    return spark.createDataFrame(
        [[*full, 0.0], [*sampled, gap]], schema
    )


@query("layout_maintenance_umbrella")
def layout_maintenance_umbrella(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE maintain_layout UMBRELLA (VERDICT r14 item 6): one call
    per layout path dispatches hold / compact / rebuild from
    ``_META.json``'s family field and vacuums the physical garbage
    the tick can reclaim — the nightly loop collapses from
    caller-picked family verbs to one verb. The gate drives a MIXED
    decision table:

    - a dedup index carrying two committed ingest deltas and a
      crashed rebuild's ``_staging`` residue (32 declared bytes) →
      family=dedup_index, COMPACT, staging swept;
    - an SCD2 feed carrying one committed delta and an UNMARKED
      orphan delta (24 declared bytes) → family=scd2_feed, HOLD
      (below compact_after), orphan swept, committed delta kept.

    Hashed anchors: ``rows_kept`` is the post-tick READ-BACK row
    count of each layout — the dedup fold must land on corpus ∪
    accepted (the e2e chain's truth), the feed on all events — so a
    fold or sweep that touched visible rows hash-diverges; the
    vacuum accounting replays the declared garbage exactly."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .. import fsutil
    from ..operators.dedup import (
        incremental_dedup_from_index,
        read_dedup_index,
        refresh_dedup_index,
        write_dedup_index,
    )
    from ..operators.maintenance import maintain_layout
    from ..operators.scd import read_scd2_feed, refresh_scd2_feed, write_scd2_feed
    from ..sources.catalog import layout_artifact

    d = load(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    batch = d.where(F.col("doc_id") % 97 == 0)
    e = load(spark, sf_dir, "events")
    root, fresh = layout_artifact(
        sf_dir, "spark_graft_maint_umbrella_v2", "documents"
    )
    idx = os.path.join(root, "idx")
    fp = os.path.join(root, "feed")
    state: dict = {"rows": []}

    def plant(rel: str, size: int) -> None:
        import pathlib

        p = pathlib.Path(root) / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"g" * size)

    def tick(path: str, **kw) -> None:
        r = maintain_layout(spark, path, **kw)
        state["rows"].append(
            [
                r["family"],
                r["decision"],
                int(r["deltas_remaining"]),
                int(r["vacuum_files_removed"]),
                int(r["vacuum_bytes_reclaimed"]),
                int(r["vacuum_staging_removed"]),
                int(r["vacuum_orphan_deltas_removed"]),
            ]
        )

    def mutate() -> None:
        write_dedup_index(corpus, idx)
        h0, b0, m0 = read_dedup_index(spark, idx, include_deltas=False)
        flags0 = incremental_dedup_from_index(
            batch, h0, b0, index_meta=m0
        ).localCheckpoint(eager=True)
        accepted = batch.join(
            flags0.where(F.col("action") == "ingest").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        refresh_dedup_index(
            accepted.where(F.expr("doc_id div 97") % 2 == 0), idx, "day1"
        )
        refresh_dedup_index(
            accepted.where(F.expr("doc_id div 97") % 2 == 1), idx, "day2"
        )
        plant("idx/_staging/junk.bin", 32)
        tick(idx)
        write_scd2_feed(
            e.where(F.col("event_id") % 5 != 0),
            fp,
            "user_id",
            "ts",
            "event_type",
        )
        refresh_scd2_feed(e.where(F.col("event_id") % 5 == 0), fp, "day1")
        plant("feed/feed_rows_delta_orphan9/dead.bin", 24)
        tick(fp)
        fsutil.touch(spark, os.path.join(root, "_SUCCESS"))

    _gate_chain(spark, root, fresh, mutate, state)
    h, _, _ = read_dedup_index(spark, idx)
    feed, _ = read_scd2_feed(spark, fp)
    kept = {
        "dedup_index": h.count(),
        "scd2_feed": feed.count(),
    }
    schema = StructType(
        [
            StructField("family", StringType()),
            StructField("decision", StringType()),
            StructField("deltas_remaining", IntegerType()),
            StructField("rows_kept", LongType()),
            StructField("vacuum_files_removed", IntegerType()),
            StructField("vacuum_bytes_reclaimed", LongType()),
            StructField("vacuum_staging_removed", IntegerType()),
            StructField("vacuum_orphan_deltas_removed", IntegerType()),
        ]
    )
    rows = [
        [r[0], r[1], r[2], int(kept[r[0]]), r[3], r[4], r[5], r[6]]
        for r in state["rows"]
    ]
    return spark.createDataFrame(rows, schema)


@query("scd2_erasure_end_to_end")
def scd2_erasure_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE WHOLE ERASURE STORY IN ONE CHAIN (round-15 capstone,
    beyond the verdict list): a production GDPR request hits BOTH
    SCD2 layouts — the keyed feed a pipeline refreshes from and the
    persisted history a deployment serves reads from — and the
    nightly loop must then notice the erosion. This gate composes the
    round's verbs end to end over ONE request:

    1. feed layout (base ∪ day1 delta = all events) + history layout
       (the full-rebuild history) both built;
    2. the SAME erasure request (users ``% 17 == 3``) runs
       ``delete_scd2_feed_keys`` AND ``delete_scd2_history_keys`` —
       static HRW pruning on both, staged COW swaps on both;
    3. one ``maintain_scd2_feed`` tick with the deletion arm armed —
       the erosion REBUILD fires (same shard count) and resets the
       counter;
    4. ``vacuum_layout`` sweeps both layouts — clean (all staging
       committed; a sweep that ate live state would break the hash).

    Hashed rows: the HISTORY LAYOUT's read-back (external reader
    path) — the one-truth full-rebuild history over survivors — plus
    measured proof columns the oracle replays: ``feed_rows_deleted``
    (the erased users' raw event count), ``hist_rows_deleted`` (their
    HISTORY-row count — a different number: the window compresses),
    ``tick_decision`` ('rebuild', conditional replayed from the same
    counts), and ``n_diff_rows`` — the measured |stored history △
    history re-derived from the post-erasure FEED| (0: the two
    independently-erased layouts must agree EXACTLY, the composition
    witness that whole-key erasure commutes with the per-key
    window)."""
    from ..operators.deletion import (
        delete_scd2_feed_keys,
        delete_scd2_history_keys,
    )
    from ..operators.maintenance import maintain_scd2_feed
    from ..operators.scd import (
        read_scd2_feed,
        read_scd2_history,
        refresh_scd2_feed,
        scd2_history,
        write_scd2_feed,
        write_scd2_history,
    )
    from ..operators.vacuum import vacuum_layout
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    cols = ("user_id", "ts", "event_type")
    root, fresh = layout_artifact(
        sf_dir, "spark_graft_erasure_e2e_v2", "events"
    )
    fp = os.path.join(root, "feed")
    hp = os.path.join(root, "hist")
    state: dict = {}

    def mutate() -> None:
        from .. import fsutil

        write_scd2_feed(e.where(F.col("event_id") % 5 != 0), fp, *cols)
        refresh_scd2_feed(e.where(F.col("event_id") % 5 == 0), fp, "day1")
        write_scd2_history(scd2_history(e, *cols), hp, "user_id")
        erased = (
            e.where(F.col("user_id") % 17 == 3)
            .select("user_id")
            .distinct()
        )
        fi = delete_scd2_feed_keys(spark, fp, erased)
        hi = delete_scd2_history_keys(spark, hp, erased)
        tick = maintain_scd2_feed(
            spark, fp, compact_after=99, rebuild_deleted_over=0.02
        )
        vacuum_layout(spark, fp, "scd2 feed layout")
        vacuum_layout(spark, hp, "scd2 history layout")
        state.update(
            {
                "feed_deleted": fi["rows_deleted"],
                "hist_deleted": hi["rows_deleted"],
                "decision": tick["decision"],
            }
        )
        fsutil.touch(spark, os.path.join(root, "_SUCCESS"))

    _gate_chain(spark, root, fresh, mutate, state)
    hist, _ = read_scd2_history(spark, hp)
    feed, _ = read_scd2_feed(spark, fp)
    out_cols = (
        "user_id",
        "event_type",
        "effective_from_us",
        "effective_to_us",
        "is_current",
    )
    stored = hist.select(*out_cols)
    derived = scd2_history(feed, *cols).select(*out_cols)
    n_diff = _symmetric_diff_count(stored, derived)
    return stored.select(
        *out_cols,
        F.lit(state["feed_deleted"])
        .cast("bigint")
        .alias("feed_rows_deleted"),
        F.lit(state["hist_deleted"])
        .cast("bigint")
        .alias("hist_rows_deleted"),
        F.lit(state["decision"]).alias("tick_decision"),
        F.lit(n_diff).cast("int").alias("n_diff_rows"),
    )


# --------------------------------------------------------------------------
# Round 16: versioned-manifest snapshot reads (VERDICT r15 item 2)


@query("snapshot_read_across_commit")
def snapshot_read_across_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT-ISOLATED reads across a COW commit (VERDICT r15 item
    2): a reader that resolved the layout's snapshot BEFORE an
    erasure commit and one that resolved AFTER both read exact,
    consistent states — no ``_SUCCESS`` outage, no refusal window.

    Chain: full events feed layout; resolve the pre-commit snapshot
    (version 0 — plain directories); run ``delete_scd2_feed_keys``
    for users ``% 17 == 3`` (a versioned COW commit: staged copies
    land in hidden ``__v1`` dirs and ``_MANIFEST_v1.json`` publishes
    atomically — the marker's mtime is pinned UNCHANGED through the
    whole commit, the in-query no-outage witness). Hashed rows: the
    SCD2 history windowed from BOTH reads — the version-0 time-travel
    read (the FULL pre-erasure history, byte-readable after the
    commit because superseded partition copies survive until vacuum)
    and the current read (survivors only) — tagged ``snapshot``
    'before'/'after', plus the replayed witness columns."""
    from ..operators import snapshot as snap_mod
    from ..operators.deletion import delete_scd2_feed_keys
    from ..operators.scd import (
        read_scd2_feed,
        scd2_history,
        write_scd2_feed,
    )
    from ..sources.catalog import layout_artifact

    e = load(spark, sf_dir, "events")
    cols = ("user_id", "ts", "event_type")
    path, fresh = layout_artifact(
        sf_dir, "spark_graft_snapread_v1", "events"
    )
    state: dict = {}

    def mutate() -> None:
        write_scd2_feed(e, path, *cols)
        marker = os.path.join(path, "_SUCCESS")
        m0 = os.path.getmtime(marker)
        pre = snap_mod.read_snapshot(spark, path)  # resolved pre-commit
        erased = (
            e.where(F.col("user_id") % 17 == 3)
            .select("user_id")
            .distinct()
        )
        info = delete_scd2_feed_keys(spark, path, erased)
        state.update(
            {
                "rows_deleted": info["rows_deleted"],
                "v_before": pre["version"],
                "v_after": snap_mod.current_version(spark, path),
                "marker_untouched": bool(
                    os.path.exists(marker)
                    and os.path.getmtime(marker) == m0
                ),
            }
        )

    _gate_chain(spark, path, fresh, mutate, state)
    before, _ = read_scd2_feed(
        spark, path, snapshot_version=int(state["v_before"])
    )
    after, _ = read_scd2_feed(spark, path)

    def tagged(feed: DataFrame, tag: str) -> DataFrame:
        return scd2_history(feed, *cols).select(
            "user_id",
            "event_type",
            "effective_from_us",
            "effective_to_us",
            "is_current",
            F.lit(tag).alias("snapshot"),
        )

    return (
        tagged(before, "before")
        .unionByName(tagged(after, "after"))
        .select(
            "*",
            F.lit(int(state["v_before"])).cast("int").alias("v_before"),
            F.lit(int(state["v_after"])).cast("int").alias("v_after"),
            F.lit(bool(state["marker_untouched"])).alias(
                "marker_untouched"
            ),
            F.lit(int(state["rows_deleted"]))
            .cast("bigint")
            .alias("rows_deleted"),
        )
    )
