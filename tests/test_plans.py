"""Physical-plan shape assertions (SURVEY.md §4): pin the scale-critical
properties — pushdown, pruning, broadcast, partial aggregation, top-k
and rank-limit pushdown — so a plan regression fails the suite."""

from __future__ import annotations

from pyspark.sql import functions as F

from cust_sagemaker_feature_store_spark.catalog import load_table
from cust_sagemaker_feature_store_spark.plans import (
    count_exchanges,
    has_partial_aggregate,
    has_window_group_limit,
    pushed_filters,
    read_schemas,
    uses_broadcast_join,
    uses_take_ordered,
)
from cust_sagemaker_feature_store_spark.queries import REGISTRY


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert pf and "l_quantity" in pf[0]  # filter reached parquet


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    rs = read_schemas(q)
    assert rs and "l_extendedprice" not in rs[0]  # only 2 cols scanned
    assert "l_orderkey" in rs[0] and "l_quantity" in rs[0]


def test_q1_partial_aggregation(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    assert has_partial_aggregate(df)  # map-side combine before exchange
    assert count_exchanges(df) == 1  # a single shuffle on the group keys


def test_q3_broadcasts_dimensions(spark, sf_dir):
    df = REGISTRY["q3_shipping_priority"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)  # fact table never shuffles for dims
    assert uses_take_ordered(df)  # top-10 without a global sort


def test_q5_star_join_all_broadcast(spark, sf_dir):
    df = REGISTRY["q5_region_revenue"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_topk_is_take_ordered(spark, sf_dir):
    df = REGISTRY["sort_topk_orders"].fn(spark, sf_dir)
    assert uses_take_ordered(df)
    assert count_exchanges(df) == 0


def test_sim_topk_no_shuffle(spark, sf_dir):
    df = REGISTRY["sim_cosine_topk"].fn(spark, sf_dir)
    assert uses_take_ordered(df)
    assert count_exchanges(df) == 0  # corpus scan only, k rows/partition


def test_latest_snapshot_rank_limit_pushed(spark, sf_dir):
    df = REGISTRY["fs_latest_snapshot"].fn(spark, sf_dir)
    # WindowGroupLimit keeps 1 row per key per partition BEFORE the
    # shuffle — the property that makes A1 viable on 100 TB of history
    assert has_window_group_limit(df)
    assert count_exchanges(df) == 1


def test_latest_maxby_partial_agg(spark, sf_dir):
    df = REGISTRY["fs_latest_snapshot_maxby"].fn(spark, sf_dir)
    assert has_partial_aggregate(df)
    assert count_exchanges(df) == 1


def test_fs_time_range_prunes_and_pushes(spark, sf_dir):
    # the ISO-string BETWEEN itself can't push (it's a derived column),
    # but the scan must stay narrow
    df = REGISTRY["fs_time_range"].fn(spark, sf_dir)
    rs = read_schemas(df)
    assert rs and "props" not in rs[0]  # unused JSON column pruned


def test_q7_fact_shuffles_once(spark, sf_dir):
    # five-way star: every dimension broadcasts, so the only hash
    # exchange is the final groupBy — lineitem never moves for a join
    df = REGISTRY["q7_nation_pair_revenue"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert count_exchanges(df) == 1


def test_q6_pure_scan_no_shuffle(spark, sf_dir):
    # single-group aggregate: partial on the scan, final on one row —
    # the exchange is a 1-row SinglePartition gather, and all three
    # predicates push to parquet
    df = REGISTRY["q6_forecast_revenue"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert pf and "l_shipdate" in pf[0] and "l_discount" in pf[0]
    assert has_partial_aggregate(df)


def test_minhash_signatures_no_shuffle(spark, sf_dir):
    # the map-side formulation: signature computation is a narrow
    # projection over the scan (modulo the small-file repartition that
    # disappears on a multi-split scan)
    from cust_sagemaker_feature_store_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").repartition(32)
    sig = D.minhash_signatures(docs)
    # repartition of the input is the only exchange; signatures add none
    assert count_exchanges(sig) <= 1


def test_window_zscore_single_shuffle(spark, sf_dir):
    df = REGISTRY["window_user_zscore"].fn(spark, sf_dir)
    assert count_exchanges(df) == 1  # one hash exchange on user_id


def test_q16_distinct_agg_partial(spark, sf_dir):
    df = REGISTRY["q16_supplier_count_by_brand"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)  # part dim broadcasts


def test_pack_bins_window_is_sharded(spark, sf_dir):
    # two-phase packing: the window over DATA rows must partition on
    # (source, __shard) — a plain per-source window is one task per
    # source, terabytes through a single task at 100 TB. The only
    # source-only window allowed is the one over the tiny per-shard
    # totals (below the broadcast of the offsets).
    from cust_sagemaker_feature_store_spark.plans import plan_string

    plan = plan_string(REGISTRY["text_pack_bins"].fn(spark, sf_dir))
    data_windows = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(source" in ln and "doc_id" in ln
    ]
    assert data_windows, "expected a running-sum window over data rows"
    assert all("__shard" in ln for ln in data_windows)


def test_q15_no_global_window(spark, sf_dir):
    # argmax via broadcast one-row max: no single-partition window
    from cust_sagemaker_feature_store_spark.plans import plan_string

    df = REGISTRY["q15_top_supplier"].fn(spark, sf_dir)
    assert "Window" not in plan_string(df)


def test_offline_store_partition_pruning(spark, tmp_path):
    # the single biggest 100 TB lever (SURVEY §4): history_between must
    # prune event_date partitions, not scan all history
    from cust_sagemaker_feature_store_spark.core import (
        FeatureDefinition,
        FeatureGroup,
        FeatureStore,
    )
    from cust_sagemaker_feature_store_spark.plans import partition_filters

    fs = FeatureStore(spark, str(tmp_path / "store"))
    fs.create_feature_group(
        FeatureGroup(
            name="PruneCheck",
            record_identifier="customer_id",
            event_time_feature="event_time",
            features=(
                FeatureDefinition("customer_id", "Integral"),
                FeatureDefinition("event_time", "String"),
                FeatureDefinition("latest_purchase_value", "Fractional"),
            ),
        )
    )
    rows = [
        (1, "2022-01-05T00:00:00Z", 1.0),
        (2, "2022-06-15T00:00:00Z", 2.0),
        (3, "2022-12-25T00:00:00Z", 3.0),
    ]
    fs.ingest(
        "PruneCheck",
        spark.createDataFrame(
            rows, "customer_id long, event_time string, latest_purchase_value double"
        ),
    )
    q = fs.history_between("PruneCheck", "2022-06-01T00:00:00Z", "2022-06-30T23:59:59Z")
    pf = partition_filters(q)
    assert pf and "event_date" in pf[0]  # pruning predicate reached the scan
    assert [r["customer_id"] for r in q.collect()] == [2]


def test_clean_corpus_bounded_shuffles(spark, sf_dir):
    # regression canary: the static plan re-states shared subtrees per
    # branch (d1 feeds both candidate generation and the anti-join), so
    # the count is 13 today; identical subtrees dedupe to ReusedExchange
    # at runtime. Growth here means a lost map-side computation.
    df = REGISTRY["pipeline_clean_corpus"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 13


def test_salted_agg_equals_direct(spark, sf_dir):
    # salting changes physical distribution only — results identical
    from cust_sagemaker_feature_store_spark.operators.skew import salted_agg

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    got = salted_agg(
        orders,
        ["o_orderstatus"],
        sum_exprs={"sum_cents": cents},
        n_salts=8,
    )
    direct = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sum_cents")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, direct.collect()))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # bucketBy co-locates both sides at write time: the sort-merge join
    # runs without any Exchange — the 100 TB recipe for repeated joins
    # on the same key (pay the shuffle once at layout time, never per
    # query)
    left = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    right = spark.range(0, 1000).withColumn("w", F.col("id") % 7)
    for name, df in [("bt_left", left), ("bt_right", right)]:
        df.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable(name)
    try:
        j = spark.table("bt_left").join(spark.table("bt_right"), "id")
        assert count_exchanges(j) == 0
        assert j.count() == 1000
    finally:
        for name in ("bt_left", "bt_right"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_salted_join_equals_direct(spark):
    # skewed big side: one hot key holds most rows; the salted join must
    # return exactly the direct join's multiset for inner and left
    from cust_sagemaker_feature_store_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 1000), (3, 2000), (9, 9000)],
        "k long, payload long",
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (4, "unmatched")], "k long, tag string"
    )
    for how in ("inner", "left"):
        direct = sorted(
            map(tuple, big.join(small, "k", how).select("k", "payload", "tag").collect())
        )
        salted = sorted(
            map(tuple, salted_join(big, small, "k", how=how).select("k", "payload", "tag").collect())
        )
        assert salted == direct, how


def test_zorder_clusters_every_dimension(spark, sf_dir):
    # The point of the Morton layout: after range-partitioning by the
    # interleaved key, EVERY participating dimension has narrow
    # per-partition ranges (a single-column sort gives one narrow dim
    # and leaves the other at ~full width). Dims are normalized to the
    # full 16-bit grid so the interleave weights them equally.
    from cust_sagemaker_feature_store_spark.catalog import load_table
    from cust_sagemaker_feature_store_spark.operators.layout import (
        zorder_repartition,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400").alias("day"),
    )
    lo_ck, hi_ck, lo_d, hi_d = orders.agg(
        F.min("ck"), F.max("ck"), F.min("day"), F.max("day")
    ).first()
    norm = orders.select(
        ((F.col("ck") - lo_ck) * 65535 / (hi_ck - lo_ck)).cast("long").alias("ck16"),
        ((F.col("day") - lo_d) * 65535 / (hi_d - lo_d)).cast("long").alias("day16"),
    )
    z = zorder_repartition(norm, [F.col("ck16"), F.col("day16")], n_partitions=16)
    spans = (
        z.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("ck16") - F.min("ck16")).alias("ck_span"),
            (F.max("day16") - F.min("day16")).alias("day_span"),
        )
        .agg(F.avg("ck_span"), F.avg("day_span"))
        .first()
    )
    # ideal for 16 partitions / 2 dims is ~65535/4 per dim; assert the
    # loose half-width bound that a single-dim sort cannot meet on both
    assert spans[0] < 65535 * 0.55, f"custkey span {spans[0]}"
    assert spans[1] < 65535 * 0.55, f"day span {spans[1]}"

    # contrast: sorting by ck16 alone leaves day16 at ~full width
    flat = norm.repartitionByRange(16, "ck16").sortWithinPartitions("ck16")
    flat_day = (
        flat.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg((F.max("day16") - F.min("day16")).alias("s"))
        .agg(F.avg("s"))
        .first()[0]
    )
    assert flat_day > 65535 * 0.8, f"single-dim sort day span {flat_day}"


def test_gram_matrix_single_exchange_partial_agg(spark, sf_dir):
    """The Gram matrix's only shuffle is the d(d+1)/2-cell partial-sum
    merge — partition-count-bounded, corpus-size-independent."""
    df = REGISTRY["sim_gram_matrix"].fn(spark, sf_dir)
    assert count_exchanges(df) == 1
    assert has_partial_aggregate(df)


def test_trailing_window_single_exchange(spark, sf_dir):
    """rangeBetween trailing window: one user-keyed exchange, nothing
    else."""
    df = REGISTRY["events_trailing_1h"].fn(spark, sf_dir)
    assert count_exchanges(df) == 1


def test_runtime_filter_reaches_fact_scan(spark, sf_dir):
    """Semi-join scan reduction: the region-filtered customer key set
    must arrive at the ORDERS parquet scan as a pushed IN predicate,
    and the semi join must be gone from the plan (IN-list regime)."""
    df = REGISTRY["join_runtime_filter_orders"].fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("o_custkey" in f and "In" in f for f in pf)
    from cust_sagemaker_feature_store_spark.plans import plan_string

    assert "Join" not in plan_string(df)


def test_runtime_filter_fallback_pushes_range_envelope(spark, sf_dir):
    """Past the IN-list cutoff, the operator must still push a sargable
    min/max envelope into the fact scan and keep an exact semi join."""
    from cust_sagemaker_feature_store_spark.operators.runtime_filter import (
        runtime_filtered_semi_join,
    )

    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 == 0
    )
    df = runtime_filtered_semi_join(
        orders, dim, "c_custkey", "o_custkey", max_in_keys=10
    )
    pf = pushed_filters(df)
    assert any("o_custkey" in f and "GreaterThanOrEqual" in f for f in pf)
    assert any("o_custkey" in f and "LessThanOrEqual" in f for f in pf)
    from cust_sagemaker_feature_store_spark.plans import plan_string

    assert "LeftSemi" in plan_string(df)


def test_asof_auto_unbounded_left_never_broadcasts_or_joins(spark, sf_dir):
    """The 100x-scale contract of the flagship operator: an UNBOUNDED
    left as-of probe must dispatch to the union-and-window path — no
    join operator of any kind (the probe x full-history cross product
    is what kills the join-then-rank plan at scale, broadcast or not)
    and exactly ONE exchange, on the key."""
    from cust_sagemaker_feature_store_spark.operators.asof import asof_join_auto
    from cust_sagemaker_feature_store_spark.plans import plan_string

    ev = load_table(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    feat = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    df = asof_join_auto(
        probe, feat, on="user_id", probe_time="purchase_ts",
        feature_time="click_ts", how="left", tie_breaker="click_id",
    )
    plan = plan_string(df)
    assert not uses_broadcast_join(df)
    assert "Join" not in plan  # union-and-window: no join at all
    assert count_exchanges(df) == 1


def test_contamination_benchmark_is_broadcast(spark, sf_dir):
    """Fixture (auto strategy, small benchmark): the benchmark gram set
    joins as a broadcast — the corpus side's raw grams never shuffle."""
    df = REGISTRY["text_contamination_overlap"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_contamination_shuffle_strategy_never_broadcasts(spark, sf_dir):
    """Corpus-scale benchmark escape hatch: strategy='shuffle' must not
    plan a BroadcastExchange (a TB-scale benchmark would OOM the
    driver) — both gram sides exchange on the gram key instead."""
    from cust_sagemaker_feature_store_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    df = T.contamination_overlap(
        docs, bench, exclude_same_id=True, strategy="shuffle"
    )
    assert not uses_broadcast_join(df)


def test_hilbert_matches_reference_and_is_a_true_curve(spark):
    """hilbert_value must equal the classic xy2d (n-1-flip orientation)
    on a full 4-bit grid, be bijective, and take only unit Manhattan
    steps — the locality property that distinguishes it from Z-order,
    which jumps diagonally at quadrant boundaries."""
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators.layout import hilbert_value

    N = 16  # bits=4
    pts = spark.createDataFrame([Row(x=x, y=y) for x in range(N) for y in range(N)])
    got = {
        (r["x"], r["y"]): r["h"]
        for r in pts.select(
            "x", "y", hilbert_value(F.col("x"), F.col("y"), bits=4).alias("h")
        ).collect()
    }

    def xy2d(bits, x, y):
        n1 = (1 << bits) - 1
        d = 0
        for lvl in range(bits - 1, -1, -1):
            s = 1 << lvl
            rx, ry = (x // s) % 2, (y // s) % 2
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                x, y = (n1 - y, n1 - x) if rx == 1 else (y, x)
        return d

    assert all(got[(x, y)] == xy2d(4, x, y) for x in range(N) for y in range(N))
    assert sorted(got.values()) == list(range(N * N)), "not bijective"
    inv = {v: k for k, v in got.items()}
    assert all(
        abs(inv[i][0] - inv[i + 1][0]) + abs(inv[i][1] - inv[i + 1][1]) == 1
        for i in range(N * N - 1)
    ), "consecutive Hilbert indexes must be adjacent cells"


def test_hilbert_clusters_every_dimension(spark, sf_dir):
    # Same contract as the Morton layout, same bound: after
    # range-partitioning by the Hilbert key, BOTH dimensions show
    # narrow per-partition spans.
    from cust_sagemaker_feature_store_spark.catalog import load_table
    from cust_sagemaker_feature_store_spark.operators.layout import (
        hilbert_repartition,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400").alias("day"),
    )
    lo_ck, hi_ck, lo_d, hi_d = orders.agg(
        F.min("ck"), F.max("ck"), F.min("day"), F.max("day")
    ).first()
    norm = orders.select(
        ((F.col("ck") - lo_ck) * 65535 / (hi_ck - lo_ck)).cast("long").alias("ck16"),
        ((F.col("day") - lo_d) * 65535 / (hi_d - lo_d)).cast("long").alias("day16"),
    )
    h = hilbert_repartition(norm, F.col("ck16"), F.col("day16"), n_partitions=16)
    spans = (
        h.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("ck16") - F.min("ck16")).alias("ck_span"),
            (F.max("day16") - F.min("day16")).alias("day_span"),
        )
        .agg(F.avg("ck_span"), F.avg("day_span"))
        .first()
    )
    assert spans[0] < 65535 * 0.55, f"custkey span {spans[0]}"
    assert spans[1] < 65535 * 0.55, f"day span {spans[1]}"


def test_inverted_index_caps_postings_with_window_group_limit(spark, sf_dir):
    """The postings cap must compile to WindowGroupLimit (rank filter
    pushed below the sort), so map tasks keep <= cap rows per term
    BEFORE the shuffle — the guard against unbounded stopword postings."""
    q = REGISTRY["text_inverted_index"].fn(spark, sf_dir)
    assert has_window_group_limit(q)


def test_bm25_broadcasts_query_side_stats(spark, sf_dir):
    """The per-term df table and the 1-row corpus stats are |query|-
    sized and must broadcast — the corpus-side tf relation never
    shuffles for the join."""
    q = REGISTRY["text_bm25_topk"].fn(spark, sf_dir)
    assert uses_broadcast_join(q)
    assert uses_take_ordered(q)  # top-k never sorts the full corpus


def test_semantic_dedup_broadcasts_centroids(spark, sf_dir):
    q = REGISTRY["sim_semantic_dedup"].fn(spark, sf_dir)
    assert uses_broadcast_join(q)


def test_hilbert_prunes_no_worse_than_zorder(spark, sf_dir):
    """Quantified locality: on deterministic 10%x10% rectangle
    predicates over 32 range partitions, the Hilbert layout must touch
    no more partitions than Z-order on average (measured 3.8 vs 5.2 of
    64 at sf0.1 — SCALING.md r5)."""
    import hashlib

    from cust_sagemaker_feature_store_spark.operators.layout import (
        hilbert_repartition,
        zorder_repartition,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400").alias("day"),
    )
    lo_ck, hi_ck, lo_d, hi_d = orders.agg(
        F.min("ck"), F.max("ck"), F.min("day"), F.max("day")
    ).first()
    norm = orders.select(
        ((F.col("ck") - lo_ck) * 65535 / (hi_ck - lo_ck)).cast("long").alias("x"),
        ((F.col("day") - lo_d) * 65535 / (hi_d - lo_d)).cast("long").alias("y"),
    )

    def part_boxes(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                F.min("x").alias("x0"), F.max("x").alias("x1"),
                F.min("y").alias("y0"), F.max("y").alias("y1"),
            )
            .collect()
        )

    z = part_boxes(zorder_repartition(norm, [F.col("x"), F.col("y")], n_partitions=32))
    h = part_boxes(hilbert_repartition(norm, F.col("x"), F.col("y"), n_partitions=32))

    w = 6553
    def avg_touched(parts):
        total = 0
        for i in range(100):
            qx = int(hashlib.md5(f"rx{i}".encode()).hexdigest()[:8], 16) % (65536 - w)
            qy = int(hashlib.md5(f"ry{i}".encode()).hexdigest()[:8], 16) % (65536 - w)
            total += sum(
                1 for p in parts
                if not (p["x1"] < qx or p["x0"] > qx + w
                        or p["y1"] < qy or p["y0"] > qy + w)
            )
        return total / 100

    assert avg_touched(h) <= avg_touched(z)


def test_ttl_snapshot_pushes_both_time_bounds(spark, sf_dir):
    """The TTL predicate must reach the parquet scan: expired history is
    pruned at the source, never shuffled into the window."""
    df = REGISTRY["fs_ttl_snapshot"].fn(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "ts" in pf
    assert pf.count("ts") >= 2  # both the as-of upper AND TTL lower bound


def test_seasonal_anomaly_broadcasts_baseline(spark, sf_dir):
    """The day-of-week baseline is 7 rows per series — it must join
    broadcast, and the daily count must partial-aggregate map-side."""
    df = REGISTRY["events_seasonal_anomaly"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_skew_profile_uses_take_ordered(spark, sf_dir):
    """Heavy-hitter extraction must be per-partition top-k merged on the
    driver (TakeOrderedAndProject), not a global sort of all keys."""
    df = REGISTRY["agg_key_skew_profile"].fn(spark, sf_dir)
    assert uses_take_ordered(df)


def test_drift_psi_partial_aggregates_scan(spark, sf_dir):
    """The only corpus-sized work in the drift monitor is the binned
    count — it must combine map-side before its exchange."""
    df = REGISTRY["fs_feature_drift_psi"].fn(spark, sf_dir)
    assert has_partial_aggregate(df)


def test_sq8_shortlist_is_take_ordered_and_broadcast_rerank(spark, sf_dir):
    """The SQ8 rungs' scale-critical shapes: the integer-score
    shortlist compiles to TakeOrderedAndProject (k rows per partition,
    no corpus shuffle), and the rerank joins the shortlist back by
    BROADCAST — the corpus is never shuffled for a probe."""
    q = REGISTRY["sim_sq8_recall_floor"].fn(spark, sf_dir)
    assert uses_take_ordered(q)
    assert uses_broadcast_join(q)


def test_kmv_minset_partial_aggregation(spark, sf_dir):
    """The KMV sketch's distinct-then-rank pipeline keeps map-side
    combine on the distinct (the shuffle carries hashes, deduped per
    partition first) and the per-group rank<=k compiles to
    WindowGroupLimit — each task keeps k hashes per group before the
    exchange."""
    q = REGISTRY["agg_kmv_distinct"].fn(spark, sf_dir)
    assert has_partial_aggregate(q)
    assert has_window_group_limit(q)


def test_neyman_draw_broadcasts_allocations(spark, sf_dir):
    """The Neyman allocation's per-stratum draw joins the
    strata-sized allocation table by BROADCAST before the rank
    filter — the fact table is never shuffled for the cut. (The
    rank <= n_alloc limit is a COLUMN, so it cannot compile to
    WindowGroupLimit the way a literal k does — the broadcast is
    the property that matters at scale.)"""
    q = REGISTRY["sample_neyman_allocation"].fn(spark, sf_dir)
    assert uses_broadcast_join(q)


def test_point_lookup_prunes_bucket_partitions(spark, tmp_path):
    """r13 verdict next-round #3: the serving path's bucket pruning,
    asserted on the ACTUAL plan — read_snapshot_bucket and the
    composed _serving_view must both carry a `bucket` partition filter
    so a point lookup scans ~1/n_buckets of the snapshot, and the
    pruned lookup must return exactly the full-scan answer."""
    from cust_sagemaker_feature_store_spark.core import (
        FeatureDefinition,
        FeatureGroup,
        FeatureStore,
    )
    from cust_sagemaker_feature_store_spark.core.online import (
        read_snapshot_bucket,
    )
    from cust_sagemaker_feature_store_spark.plans import partition_filters

    fs = FeatureStore(spark, str(tmp_path / "store"))
    fs.create_feature_group(
        FeatureGroup(
            name="LookupPlan",
            record_identifier="customer_id",
            event_time_feature="event_time",
            features=(
                FeatureDefinition("customer_id", "Integral"),
                FeatureDefinition("event_time", "String"),
                FeatureDefinition("v", "Fractional"),
            ),
        )
    )
    rows = [(i, f"2022-01-0{1 + i % 9}T00:00:00Z", float(i)) for i in range(40)]
    fs.ingest(
        "LookupPlan",
        spark.createDataFrame(rows, "customer_id long, event_time string, v double"),
    )
    fs.materialize_online("LookupPlan", n_buckets=16)

    snap_dir = fs.online_path("LookupPlan")
    pruned = read_snapshot_bucket(spark, snap_dir, ["customer_id"], [7])
    pf = partition_filters(pruned)
    assert pf and "bucket" in pf[0].lower()
    assert [r["customer_id"] for r in pruned.filter("customer_id = 7").collect()] == [7]

    serving = fs._serving_view("LookupPlan", [7])
    pf2 = partition_filters(serving)
    assert pf2 and "bucket" in pf2[0].lower()
    rec = {f["FeatureName"]: f["ValueAsString"] for f in fs.get_record("LookupPlan", 7)}
    assert rec["v"] == "7.0"

    # an int key column hashes differently from a long one: the pruned
    # buckets come from literals cast to the stored key type
    from cust_sagemaker_feature_store_spark.core.online import (
        upsert_bucketed_snapshot,
    )

    int_dir = str(tmp_path / "int_snapshot")
    upsert_bucketed_snapshot(
        spark,
        int_dir,
        spark.createDataFrame([(i, i % 5, i) for i in range(40)], "k int, t int, seq long"),
        "k", "t", "seq", n_buckets=16,
    )
    full = spark.read.parquet(int_dir)
    assert dict(full.dtypes)["k"] == "int"
    wanted = [3, 7, 29, 404]
    pruned = read_snapshot_bucket(spark, int_dir, "k", wanted)
    pf3 = partition_filters(pruned)
    assert pf3 and "bucket" in pf3[0].lower()
    got = sorted(map(tuple, pruned.filter(F.col("k").isin(wanted)).collect()))
    assert got == sorted(map(tuple, full.filter(F.col("k").isin(wanted)).collect()))
    assert [r[0] for r in got] == [3, 7, 29]


# -- eager-finisher audit hooks (r14 verdict items #1 and #2) ------------

# Queries whose result plan is VACUOUS (driver-built createDataFrame:
# no parquet scan, zero exchanges) — each MUST register an audit_frames
# hook so tools/plan_audit.py grades its real heavy-pass plans.
VACUOUS_EAGER = (
    "agg_freq_items_floor",
    "agg_hll_merge_floor",
    "graph_bfs_depths",
    "graph_kcore_floor",
    "graph_sssp_weighted",
    "ml_gbt_stumps",
    "ml_logreg_newton",
    "ml_permutation_importance",
    "sim_ivf_nprobe_sweep",
    "sim_pca_power_floor",
)


def test_vacuous_eager_queries_have_audit_hooks():
    missing = [n for n in VACUOUS_EAGER if REGISTRY[n].audit_frames is None]
    assert not missing, f"eager queries without audit_frames: {missing}"


def test_audit_hook_frames_are_not_vacuous(spark, sf_dir):
    # a hook returning another ExistingRDD-only frame would defeat the
    # audit; every exposed frame must reach a real parquet scan
    from cust_sagemaker_feature_store_spark.plans import plan_string

    for name in VACUOUS_EAGER:
        for label, frame in REGISTRY[name].audit_frames(spark, sf_dir).items():
            plan = plan_string(frame)
            assert "Scan parquet" in plan, f"{name}#{label} has no parquet scan"


def test_plans_md_has_no_unhooked_eager_rows():
    # plan_audit renders a vacuous result plan WITHOUT a hook as
    # 'EAGER!' — the committed artifact must never carry one (this is
    # how the next ml_permutation_importance-style blind spot fails
    # the suite instead of hiding)
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path) as f:
        rows = [ln for ln in f if ln.startswith("| `")]
    assert rows, "PLANS.md has no audit rows"
    bad = [ln for ln in rows if "EAGER!" in ln]
    assert not bad, f"unhooked vacuous eager rows: {bad}"


def test_perm_importance_shift_has_no_global_window(spark, sf_dir):
    # r14 verdict item #1: the cyclic shift must never run a
    # single-partition window over row-cardinality data. The lead()
    # window is partitioned by the hash-range bucket, and every
    # Exchange SinglePartition in the plan feeds a scalar/bounded
    # HashAggregate (the MSE rollup and the <=1024-row heads frame).
    from cust_sagemaker_feature_store_spark.plans import plan_string
    from cust_sagemaker_feature_store_spark.queries.relational7_q import (
        _perm_audit_frames,
    )

    frames = _perm_audit_frames(spark, sf_dir)
    plan = plan_string(frames["permute_mse"])
    # the row-cardinality lead() window carries a partition spec: its
    # windowspecdefinition starts with the bucket column, not an order
    import re

    lead_specs = re.findall(r"lead\(x1#\d+L.*?windowspecdefinition\((\w+)#", plan)
    assert lead_specs and all(c == "b" for c in lead_specs), plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            nxt = "\n".join(lines[i + 1 : i + 3])
            assert "HashAggregate" in nxt, f"unbounded single-partition exchange:\n{line}\n{nxt}"
