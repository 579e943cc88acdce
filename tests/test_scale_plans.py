"""Plan-level assertions: the optimizations the engine is designed
around must actually appear in the physical plan — partition pruning,
bucketed exchange-free joins, filter/projection pushdown, broadcast."""

import pytest
from pyspark.sql import functions as F

from etl_orders_to_bq_spark.sinks import write_bucketed_table, write_table
from etl_orders_to_bq_spark.sources.parquet import read_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_partitioned_write_prunes(spark, tmp_path):
    """Reading one partition of a partitionBy'd dataset must show
    PartitionFilters, not a full scan."""
    ev = read_table(spark, SF, "events").withColumn(
        "day", F.to_date("ts")
    )
    target = str(tmp_path / "events_partitioned")
    write_table(ev, target, partition_by=["day"])

    back = spark.read.parquet(target).filter(F.col("day") == "2024-01-05")
    plan = _optimized(back)
    assert "PartitionFilters" in plan
    # the partition filter must actually reference the day column
    assert plan.count("isnotnull(day") >= 1 or "day#" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert back.count() > 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with no
    Exchange (shuffle) in the plan."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = read_table(spark, SF, "orders")
        li = read_table(spark, SF, "lineitem")
        write_bucketed_table(o, "orders_b", ["o_orderkey"], num_buckets=4)
        write_bucketed_table(li, "lineitem_b", ["l_orderkey"], num_buckets=4)
        j = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("drop table if exists orders_b")
        spark.sql("drop table if exists lineitem_b")


def test_filter_and_projection_pushdown(spark):
    """A selective filter + narrow projection must reach the parquet
    scan: PushedFilters non-empty, ReadSchema only the needed columns."""
    li = read_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_shipdate") > "1996-01-01").select(
        "l_orderkey", "l_quantity"
    )
    plan = _optimized(q)
    scan = plan.split("PushedFilters")[1]
    assert "GreaterThan(l_shipdate" in scan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_small_dim_broadcasts_unaided(spark):
    """Catalyst must pick BroadcastHashJoin for a small dim with no
    explicit hint (autoBroadcastJoinThreshold at work)."""
    li = read_table(spark, SF, "lineitem")
    p = read_table(spark, SF, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_orders_products_join_follows_broadcast_threshold(spark, tmp_path):
    """OrdersEtl's products join carries no broadcast hint: it broadcasts
    within spark.sql.autoBroadcastJoinThreshold and sort-merges with the
    threshold at -1, the same bound that decides the lookup copy."""
    from etl_orders_to_bq_spark.pipeline import OrdersEtl
    from etl_orders_to_bq_spark.plans import join_strategies

    orders = tmp_path / "orders.csv"
    orders.write_text(
        ",order_source_id,order_created_datetime,customer_id,status,sum,"
        "quantity,name,surname,patronymic,product_id\n"
        "0,11,2019-04-28T18:20:05,1,Paid,100.5,1,Ivan,Petrenko,,42\n"
    )
    products = tmp_path / "products.csv"
    products.write_text("product_id,price,goods_group,manufacturer\n42,10.0,G,M\n")
    etl = OrdersEtl(spark, str(orders), str(products))
    assert join_strategies(etl.process()) == ["BroadcastHashJoin"]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert join_strategies(etl.process()) == ["SortMergeJoin"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_window_dedup_single_exchange(spark):
    """First-occurrence dedup must cost exactly one shuffle."""
    from etl_orders_to_bq_spark.operators.dedup import first_occurrence_dedup

    li = read_table(spark, SF, "lineitem")
    out = first_occurrence_dedup(
        li, ["l_orderkey", "l_partkey"], ["l_linenumber"]
    )
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Overwriting one partition must leave sibling partitions intact
    (the incremental-reload pattern for partitioned warehouses)."""
    target = str(tmp_path / "dpo")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        base = spark.createDataFrame(
            [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
             ("2024-01-02", 3, 30.0)],
            "day string, id long, v double",
        )
        write_table(base, target, partition_by=["day"])
        # reload ONLY day 1 with corrected values
        fix = spark.createDataFrame(
            [("2024-01-01", 1, 11.0)], "day string, id long, v double"
        )
        write_table(fix, target, partition_by=["day"], if_exists="replace")
        back = spark.read.parquet(target)
        assert back.count() == 2  # day1 replaced (1 row), day2 untouched
        vals = {r["id"]: r["v"] for r in back.collect()}
        assert vals == {1: 11.0, 3: 30.0}
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")


def test_plan_summary_helper(spark):
    """plans.inspect must report the shapes the other tests assert."""
    from etl_orders_to_bq_spark.plans import plan_summary

    li = read_table(spark, SF, "lineitem")
    p = read_table(spark, SF, "part")
    j = li.join(p, li.l_partkey == p.p_partkey).groupBy("p_brand").count()
    s = plan_summary(j)
    assert s["joins"] == ["BroadcastHashJoin"]
    assert s["exchanges"] == 1  # only the groupBy
    assert s["has_whole_stage_codegen"]

    top = li.orderBy(F.desc("l_extendedprice")).limit(3)
    assert plan_summary(top)["take_ordered"]


def test_compact_parquet(spark, tmp_path):
    """Compaction must reduce file count without changing data."""
    from etl_orders_to_bq_spark.sinks.maintenance import compact_parquet

    target = str(tmp_path / "frag")
    ev = read_table(spark, SF, "events")
    ev.repartition(37).write.mode("overwrite").parquet(target)  # fragment
    before = spark.read.parquet(target)
    n, s = before.count(), before.agg(F.sum("value")).first()[0]

    stats = compact_parquet(spark, target, target_mb=128)
    assert stats["files_before"] == 37
    assert stats["files_after"] == 1  # tiny data -> single file
    after = spark.read.parquet(target)
    assert after.count() == n
    assert abs(after.agg(F.sum("value")).first()[0] - s) < 1e-6


def test_join_hints_respected(spark):
    """A merge hint must override the broadcast default — the manual
    lever when a 'small' dim is too hot to broadcast."""
    from etl_orders_to_bq_spark.plans import join_strategies

    li = read_table(spark, SF, "lineitem")
    p = read_table(spark, SF, "part")
    j = li.join(p.hint("merge"), li.l_partkey == p.p_partkey)
    assert join_strategies(j) == ["SortMergeJoin"]
    j2 = li.join(p.hint("shuffle_hash"), li.l_partkey == p.p_partkey)
    assert join_strategies(j2) == ["ShuffledHashJoin"]


def test_range_sorted_write_gives_disjoint_file_ranges(spark, tmp_path):
    """write_range_sorted must produce files whose min/max footer stats
    are disjoint on the sort key — the property parquet data skipping
    needs to prune files on a key filter."""
    import glob

    import pyarrow.parquet as pq

    from etl_orders_to_bq_spark.sinks import write_range_sorted

    o = read_table(spark, SF, "orders")
    path = str(tmp_path / "range_sorted")
    write_range_sorted(o, path, ["o_orderkey"], num_files=4)

    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
            "o_orderkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2  # range partitioner actually split
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint: every file prunable by key filter


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """With a selective dim filter on a shuffle join, the optimizer
    must inject a bloom filter (bloom_filter_agg / might_contain) on
    the fact side — the runtime row-level pruning that cuts a 100 TB
    probe-side shuffle down to matching rows."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, SF, "lineitem")
        o = read_table(spark, SF, "orders").filter(F.col("o_totalprice") > 400000)
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_totalprice"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_write_narrows_both_dimensions(spark, tmp_path):
    """Sorting by the Morton key must narrow per-file min/max footer
    stats on BOTH interleaved columns (single-dim sort narrows only
    one) — the property that lets a filter on either column skip
    files."""
    import glob

    import pyarrow.parquet as pq

    from etl_orders_to_bq_spark.functions.zorder import (
        normalize_to_bits,
        zorder_key,
    )
    from etl_orders_to_bq_spark.sinks import write_range_sorted

    o = read_table(spark, SF, "orders")
    lo_hi = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    zkey = zorder_key(
        normalize_to_bits(F.col("o_custkey"), lo_hi[0], lo_hi[1]),
        normalize_to_bits(F.col("o_totalprice"), lo_hi[2], lo_hi[3]),
    )
    path = str(tmp_path / "zordered")
    write_range_sorted(o.withColumn("_z", zkey), path, ["_z"], num_files=8)

    def file_spans(column: str) -> list[float]:
        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            idx = names.index(column)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append(max(maxs) - min(mins))
        return spans

    n_files = len(glob.glob(path + "/*.parquet"))
    assert n_files >= 4
    cust_span = lo_hi[1] - lo_hi[0]
    price_span = lo_hi[3] - lo_hi[2]
    # average per-file coverage must be well under the full domain on
    # BOTH dimensions — the multi-dim skipping property
    avg_cust = sum(file_spans("o_custkey")) / n_files
    avg_price = sum(file_spans("o_totalprice")) / n_files
    assert avg_cust < 0.8 * cust_span
    assert avg_price < 0.8 * price_span


def test_zorder_key_bit_interleave_golden(spark):
    """Morton key golden values + normalization edges: clipping keeps
    stale stats safe, zero span degrades to a constant key."""
    from etl_orders_to_bq_spark.functions.zorder import (
        normalize_to_bits,
        zorder_key,
    )

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5)], "a long, b long"
    )
    got = [
        r["z"]
        for r in df.select(
            zorder_key(F.col("a"), F.col("b"), bits=4).alias("z")
        ).collect()
    ]
    # interleave(a,b): bit i of a at position 2i+1, bit i of b at 2i.
    # (3,5)=0b011,0b101 -> positions b0,a0,b1,a1,b2,a2 = 1,1,0,1,1,0
    # -> z = 0b011011 = 27
    assert got == [0, 2, 1, 27]

    edge = spark.createDataFrame([(-5.0,), (50.0,), (999.0,)], "x double")
    norm = [
        r["n"]
        for r in edge.select(
            normalize_to_bits(F.col("x"), 0.0, 100.0, bits=4).alias("n")
        ).collect()
    ]
    assert norm == [0, 8, 15]  # clipped low, mid-scale, clipped high
    const = edge.select(
        normalize_to_bits(F.col("x"), 7.0, 7.0, bits=4).alias("n")
    ).collect()
    assert [r["n"] for r in const] == [0, 0, 0]  # zero span -> constant


def test_ivf_search_path_has_no_kmeans_fit(spark, monkeypatch, tmp_path):
    """Build/search split (ADVICE r1): searching a prebuilt IVF index
    must trigger NO k-means fit — at scale a fit is a multi-pass ML job
    and must run only at index-build time. Also: the partitioned index
    write must let a search's cluster filter prune partitions."""
    from pyspark.ml.clustering import KMeans

    from etl_orders_to_bq_spark.operators.ann import (
        ann_topk_ivf,
        build_ivf_index,
        read_ivf_index,
        write_ivf_index,
    )

    emb = read_table(spark, SF, "embeddings")
    index = build_ivf_index(emb, n_clusters=4, cache=False)

    # once the index exists, any KMeans fit in the search path is a bug
    def _boom(self, *a, **k):
        raise AssertionError("KMeans.fit called in the IVF search path")

    monkeypatch.setattr(KMeans, "fit", _boom)
    q = [1.0, 0.0] * 32
    got = ann_topk_ivf(index, q, k=5, n_probe=2)
    assert got.count() == 5

    # persisted index: partitionBy(ivf_cluster) write, search prunes
    path = str(tmp_path / "ivf_index")
    write_ivf_index(index, path)
    back = read_ivf_index(spark, path)
    assert len(back.centroids) == 4
    got2 = ann_topk_ivf(back, q, k=5, n_probe=2)
    plan = _optimized(got2)
    assert "PartitionFilters" in plan and "ivf_cluster" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert got2.count() == 5


def test_embedding_neighbors_blocks_on_lsh_bucket(spark):
    """The near-dup pair join must key on the bounded LSH bucket, not a
    categorical label (ADVICE r1: a popular label is a near-cartesian
    join at scale)."""
    import __spark_entry__ as entry

    df = entry.queries()["embedding_neighbors"](spark, SF)
    plan = _plan(df)
    join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln and "bucket" in ln
    ]
    assert join_lines, plan
    assert "label" not in plan.lower().split("join")[0]


def test_minhash_banding_plan_shape(spark):
    """LSH banding must stay explode + groupBy: no Join nodes, at most
    two exchanges (bucket groupBy + pair distinct) regardless of band
    count — the r1 per-band self-join shape must not come back."""
    from etl_orders_to_bq_spark.operators.dedup import minhash_lsh_candidates

    docs = read_table(spark, SF, "documents")
    plan = _plan(minhash_lsh_candidates(docs, num_hashes=8, bands=4))
    assert "Join" not in plan, plan
    n_exchanges = sum(
        1 for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    )
    assert n_exchanges <= 2, plan


def test_global_ranking_without_single_partition_window(spark):
    """global_row_number / scalable_ntile must equal the global-window
    formulation row for row while keeping every stage partition-
    parallel (no Exchange SinglePartition feeding a Window)."""
    from pyspark.sql import Window

    from etl_orders_to_bq_spark.operators.ranking import (
        global_row_number,
        scalable_ntile,
    )

    o = read_table(spark, SF, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    order = [F.desc("spend"), F.asc("o_custkey")]

    w = Window.orderBy(*order)
    expected = {
        (r["o_custkey"], r["rn"], r["nt"])
        for r in spend.select(
            "o_custkey",
            F.row_number().over(w).alias("rn"),
            F.ntile(7).over(w).alias("nt"),
        ).collect()
    }
    ranked = global_row_number(spend, order, out_col="rn")
    tiled = scalable_ntile(spend, order, 7, out_col="nt")
    got = {
        (r["o_custkey"], r["rn"], r["nt"])
        for r in ranked.join(tiled.select("o_custkey", "nt"), "o_custkey")
        .select("o_custkey", "rn", "nt")
        .collect()
    }
    assert got == expected and len(got) > 0

    plan = _plan(ranked)
    import re

    # no single-partition exchange directly feeding the Window
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}?Window", plan), plan

    # empty input must not blow up
    empty = spend.filter(F.lit(False))
    assert global_row_number(empty, order).count() == 0


def test_bloom_filter_join_query_restores_confs(spark):
    """The bloom_filter_join gate query flips four optimizer confs for
    its eager materialization; none may leak into the shared session
    afterwards (same contract as the nanos parquet reader)."""
    from __spark_entry__ import q_bloom_filter_join

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    before = {k: spark.conf.get(k, None) for k in keys}
    out = q_bloom_filter_join(spark, SF)
    after = {k: spark.conf.get(k, None) for k in keys}
    assert after == before, (before, after)
    assert out.count() > 0  # staged frame stays usable post-restore


def test_global_ranking_property_matches_window(spark):
    """Property (hypothesis-driven): for arbitrary value lists and
    partition counts — including heavy ties, single rows, and more
    partitions than rows — global_row_number and scalable_ntile must
    equal the global-window formulation exactly (ties broken by the
    unique id column both paths order on)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from etl_orders_to_bq_spark.operators.ranking import (
        global_row_number,
        scalable_ntile,
    )

    vals = st.lists(
        st.integers(min_value=-5, max_value=5), min_size=1, max_size=30
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(vals, st.integers(min_value=1, max_value=8),
           st.integers(min_value=1, max_value=6))
    def check(values, n_parts, n_buckets):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "id long, v long"
        )
        order = [F.desc("v"), F.asc("id")]
        w = Window.orderBy(*order)
        expected = {
            (r["id"], r["rn"], r["nt"])
            for r in df.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.ntile(n_buckets).over(w).alias("nt"),
            ).collect()
        }
        ranked = global_row_number(df, order, num_partitions=n_parts)
        tiled = scalable_ntile(
            df, order, n_buckets, num_partitions=n_parts, out_col="nt"
        )
        got = {
            (r["id"], r["rn"], r["nt"])
            for r in ranked.join(tiled.select("id", "nt"), "id").collect()
        }
        assert got == expected, (values, n_parts, n_buckets)

    check()


def test_global_ranking_durable_staging_identical(spark, tmp_path):
    """The durable path (spark.graft.stagingDir) must number rows
    identically to the in-memory path (the __pid column is materialized
    data, so the parquet roundtrip preserves offset consistency)."""
    from etl_orders_to_bq_spark.operators.ranking import global_row_number
    from etl_orders_to_bq_spark.operators.staging import durable_staging

    o = read_table(spark, SF, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    order = [F.desc("spend"), F.asc("o_custkey")]
    mem = {
        (r["o_custkey"], r["rn"])
        for r in global_row_number(spend, order).collect()
    }
    with durable_staging(spark, str(tmp_path / "rank")):
        dur = {
            (r["o_custkey"], r["rn"])
            for r in global_row_number(spend, order).collect()
        }
    assert dur == mem and len(dur) > 0
    assert list((tmp_path / "rank").glob("ranked_input_*"))


def test_spread_helper_skips_shuffle_on_multisplit_input(spark, tmp_path):
    """The registry's CPU-spread repartition before shingling must be
    CONDITIONAL: a single-split local fixture gets spread across cores,
    but input that already has >= defaultParallelism splits (the 100 TB
    case) must NOT pay a gratuitous full shuffle of the corpus."""
    from __spark_entry__ import _spread_if_underpartitioned

    docs = read_table(spark, SF, "documents")
    target = spark.sparkContext.defaultParallelism

    single = docs.coalesce(1)
    spread = _spread_if_underpartitioned(spark, single)
    assert spread.rdd.getNumPartitions() == target

    multi_path = str(tmp_path / "multisplit")
    docs.repartition(target).write.parquet(multi_path)
    multi = spark.read.parquet(multi_path)
    assert multi.rdd.getNumPartitions() >= target
    passthrough = _spread_if_underpartitioned(spark, multi)
    assert passthrough is multi  # no exchange inserted at all


def test_pack_sequences_partitioned_window(spark):
    """Packing must never serialize on a global window: the running-sum
    window carries the bucket partition key."""
    from etl_orders_to_bq_spark.operators.chunk import chunk_documents
    from etl_orders_to_bq_spark.operators.pack import pack_sequences

    d = read_table(spark, SF, "documents")
    ch = chunk_documents(d, chunk_tokens=40, overlap=10).select(
        "doc_id", "chunk_idx", "n_tokens"
    )
    plan = _plan(pack_sequences(ch, capacity=512, buckets=8))
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines and all(
        "pack_bucket" in ln for ln in window_lines if "partition" in ln.lower()
        or "Window" in ln
    ), plan


def test_runtime_bloom_filters_inject_on_fact_joins(spark):
    """With scale-like thresholds (no broadcast — at 100 TB neither fact
    side fits; application-scan threshold 0 — locally the scans are
    tiny, at scale they are TBs), the optimizer must inject runtime
    bloom filters built from the selectively-filtered side into the
    other side's scan:

    - q12: date-filtered lineitem -> bloom on orders' o_orderkey (the
      fact-fact join key);
    - q3: segment-filtered customer -> bloom on orders' o_custkey.
    """
    import __spark_entry__ as entry

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        expected = {
            "q12_late_shipments": "o_orderkey",
            "q3_top_revenue": "o_custkey",
        }
        for name, key in expected.items():
            df = entry.queries()[name](spark, SF)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            filter_lines = [
                ln for ln in plan.splitlines() if "might_contain" in ln
            ]
            assert filter_lines, f"{name}: no runtime filter injected\n{plan}"
            assert any(key in ln for ln in filter_lines), (
                f"{name}: runtime filter not on {key}: {filter_lines}"
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q21_q20_decorrelate_to_semi_anti_joins(spark):
    """The hardest TPC-H subquery shapes must execute as decorrelated
    joins: Q21's EXISTS -> LEFT SEMI and NOT EXISTS -> LEFT ANTI, Q20's
    nested IN -> semi joins — never a per-row nested-loop subquery."""
    import __spark_entry__ as entry

    q21 = entry.queries()["q21_suppliers_waiting"](spark, SF)
    p21 = _plan(q21)
    assert "LeftSemi" in p21, p21
    assert "LeftAnti" in p21, p21
    assert "BroadcastNestedLoopJoin" not in p21, p21

    q20 = entry.queries()["q20_potential_promotion"](spark, SF)
    p20 = _plan(q20)
    assert "LeftSemi" in p20, p20
    assert "BroadcastNestedLoopJoin" not in p20, p20


def test_sql_udf_stays_in_codegen(spark):
    """A SQL-defined function must inline into Catalyst — no Python
    evaluation node may appear in the plan (that inlining is the whole
    reason to prefer it over a Python UDF for shared metric defs)."""
    spark.range(100).selectExpr("id", "cast(id as double) as p").createOrReplaceTempView(
        "v_sqludf_probe"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION probe_fn(x DOUBLE) "
        "RETURNS DOUBLE RETURN x * 2.0 + 1.0"
    )
    df = spark.sql("SELECT sum(probe_fn(p)) AS s FROM v_sqludf_probe")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    assert df.first()["s"] == sum(x * 2.0 + 1.0 for x in range(100))


def test_simhash_hamming_single_candidate_shuffle(spark):
    """The pigeonhole pair join must shuffle on the block key — and the
    verify must NOT introduce extra exchanges beyond the self-join +
    distinct pair."""
    from etl_orders_to_bq_spark.operators.dedup import simhash_hamming_pairs
    from etl_orders_to_bq_spark.plans import plan_summary

    docs = spark.createDataFrame(
        [(i, f"text body number {i} with shared words") for i in range(50)],
        "doc_id long, text string",
    )
    s = plan_summary(simhash_hamming_pairs(docs, bits=32, max_dist=3))
    # join exchange (both sides) + distinct exchange; no more
    assert s["exchanges"] <= 3
    assert not any("NestedLoop" in j for j in s["joins"])


def test_grid_radius_join_is_single_equijoin_shuffle(spark):
    """The spatial join must be a cell-key equi-join (hash-partitioned
    or broadcast) — never a cross/nested-loop product."""
    from etl_orders_to_bq_spark.operators.geo import grid_radius_join
    from etl_orders_to_bq_spark.plans import plan_summary

    left = spark.createDataFrame(
        [(i, 50.0 + i / 100.0, 8.0) for i in range(60)],
        "lid long, llat double, llon double",
    )
    right = spark.createDataFrame(
        [(j, 50.0 + j / 90.0, 8.1) for j in range(60)],
        "rid long, rlat double, rlon double",
    )
    s = plan_summary(
        grid_radius_join(left, right, 25.0, "llat", "llon", "rlat", "rlon")
    )
    assert not any("NestedLoop" in j or "Cartesian" in j for j in s["joins"])


def test_many_exchange_plans_shuffle_bounded_volume(spark):
    """Exchange COUNT is not shuffle COST: the three registry entries
    with the highest exchange counts (bm25_scores 8, incremental_refresh
    14, rolling_active_hll 8 — PLANS.md) must move only derived/
    aggregated rows through those exchanges, never a fact-table-sized
    volume. Bound: total shuffle records written across every final-plan
    exchange stays under 1.5x the driving table's row count at sf0.01
    (measured: 5.1k / 1.8k / 8.6k rows vs 60k lineitem / 15k docs)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"),
    )
    import __spark_entry__ as entry
    from plan_audit import shuffle_volume

    sf_dir = "/root/testdata/sf0.01"
    qs = entry.queries()
    # the driving volume is what the operator is LINEAR in: bm25
    # shuffles term-level posting rows, so its unit is corpus tokens,
    # not documents; the other two are row-driven
    n_tokens = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.size(F.split("text", r"\s+")).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    driving = {
        "bm25_scores": n_tokens,
        "incremental_refresh": spark.read.parquet(
            f"{sf_dir}/orders.parquet"
        ).count(),
        "rolling_active_hll": spark.read.parquet(
            f"{sf_dir}/events.parquet"
        ).count(),
    }
    for name, n_input in driving.items():
        df = qs[name](spark, sf_dir)
        df.collect()
        rec, _ = shuffle_volume(df)
        assert 0 < rec <= 1.5 * n_input, (
            f"{name}: {rec} rows shuffled vs {n_input} input rows"
        )


def test_quantile_normalize_plan_broadcast_grid_one_rank_shuffle(spark):
    """The grid must re-enter via a BROADCAST join (101 rows) and row
    data must shuffle only for the per-source rank window — never a
    global sort of the fact table."""
    from etl_orders_to_bq_spark.operators.quality import quantile_normalize
    from etl_orders_to_bq_spark.plans import plan_summary

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i % 37)) for i in range(500)],
        "event_id long, event_type string, value double",
    )
    out = quantile_normalize(df, "value", "event_type", "event_id")
    s = plan_summary(out)
    assert any("Broadcast" in j for j in s["joins"]), s["joins"]
    assert not any("NestedLoop" in j or "Cartesian" in j for j in s["joins"])
    # source-rank window + the single-row grid agg; no fact-table sort
    assert s["exchanges"] <= 4, s


def test_hashed_classifier_plan_broadcast_weights_no_python(spark):
    """Both hash families must stay pure-JVM (no Python eval at all)
    with the weight table entering via broadcast and the doc sum
    map-side combinable."""
    from etl_orders_to_bq_spark.operators.classifier import (
        hashed_linear_score,
        seeded_weights,
    )
    from etl_orders_to_bq_spark.plans import plan_summary

    docs = spark.createDataFrame(
        [(i, f"some document text number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    w = seeded_weights(256)
    for fn in ("md5", "xxhash64"):
        out = hashed_linear_score(docs, w, hash_fn=fn)
        s = plan_summary(out)
        assert any("BroadcastHashJoin" in j for j in s["joins"]), (fn, s)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, fn


def test_pq_encode_is_single_arrow_projection(spark):
    """PQ encode must be one Arrow-batched projection: zero shuffles,
    exactly one Python eval boundary."""
    from etl_orders_to_bq_spark.operators.ann import pq_codebooks, pq_encode
    from etl_orders_to_bq_spark.plans import plan_summary

    df = spark.createDataFrame(
        [(i, [float(j + i) for j in range(16)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    out = pq_encode(df, pq_codebooks(dim=16, subspaces=4, codewords=8))
    s = plan_summary(out)
    assert s["exchanges"] == 0, s
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_adamic_adar_no_nested_loop_and_bounded_exchanges(spark):
    """The wedge self-join must be a hash equi-join on the middle node
    (degree rides WITH the edge row — no third shuffle for degrees)."""
    from etl_orders_to_bq_spark.operators.graph import adamic_adar
    from etl_orders_to_bq_spark.plans import plan_summary

    edges = spark.createDataFrame(
        [(i % 17, 100 + (i * 7) % 23) for i in range(300)],
        "src long, dst long",
    )
    s = plan_summary(adamic_adar(edges))
    assert not any("NestedLoop" in j or "Cartesian" in j for j in s["joins"])
    # deg groupBy + deg join + wedge join + pair groupBy + anti join:
    # all reusing node-keyed partitioning where AQE allows
    assert s["exchanges"] <= 7, s


def test_stage_localcheckpoint_stats_do_not_compound(spark):
    """r12 regression: Dataset.localCheckpoint inherits the origin
    plan's Catalyst size estimate, and size-only estimation multiplies
    through joins — so staging a self-join output each round compounds
    the estimate geometrically (measured: millions of bits by round
    ~11, the driver 100% in BigInteger.multiply inside the stats
    visitor). stage() must strip the inherited estimate: after several
    join-then-stage rounds the staged frame's sizeInBytes stays a
    bounded default, not a compounding product."""
    from etl_orders_to_bq_spark.operators.staging import stage

    df = stage(spark.range(64).selectExpr("id as a", "id % 7 as b"), "s0")
    for r in range(5):
        nxt = (
            df.alias("l")
            .join(df.alias("r"), "b")
            .groupBy("b")
            .agg(F.count("*").alias("a"))
            .select("a", "b")
        )
        df = stage(nxt, f"s{r + 1}")
    bits = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()
    # pre-fix this compounds to thousands of bits by round 5; the
    # leaf default (and any honest size) stays under 64 bits
    assert bits <= 64
