"""Scale hygiene: the physical plans must show pushdown, pruning,
broadcast, and top-k patterns — not just correct answers.

These assertions are the local[*] stand-in for '1000 executors, 100 TB':
a plan that pushes filters, prunes columns, broadcasts dims, and avoids
global sorts scales; one that doesn't, doesn't.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_etl_spark.operators.filters import filter_isin, top_k
from azure_etl_spark.plans.queries import QUERIES
from azure_etl_spark.sources.files import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_isin_filter_pushed_to_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = filter_isin(li, "l_returnflag", ["A", "N"]).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters" in plan and "In(l_returnflag" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = _plan(li.select("l_orderkey", "l_quantity"))
    # ReadSchema must contain only the projected columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}


def test_topk_plans_take_ordered(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    df = top_k(o, 100, F.col("o_totalprice").desc())
    assert "TakeOrderedAndProject" in _plan(df)


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(QUERIES["join_revenue_per_nation"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_flagship_partial_aggregation(spark, sf_dir):
    """groupBy min/max must plan partial (map-side) + final hash
    aggregates so the shuffle carries one row per partition/key."""
    plan = _plan(QUERIES["flagship_gold_minmax"].fn(spark, sf_dir))
    assert "partial_min" in plan and "partial_max" in plan
    assert "HashAggregate" in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    df = QUERIES["tpch_q1ish"].fn(spark, sf_dir)
    df.collect()  # AQE: codegen spans only visible in the final plan
    plan = _plan(df)
    # executedPlan renders whole-stage-codegen stages as "*(n) Op"
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown litmus: ship-date range, discount range, and
    quantity bound must all reach the parquet scan."""
    df = QUERIES["tpch_q6ish"].fn(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert (
            f"GreaterThan({col}" in plan
            or f"LessThan({col}" in plan
            or f"GreaterThanOrEqual({col}" in plan
        ), (col, plan)


def test_range_join_broadcasts_tiny_side(spark, sf_dir):
    """Theta join against a 3-row table must be a broadcast nested loop,
    never a cartesian shuffle."""
    plan = _plan(QUERIES["range_join_value_tiers"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_winnow_fingerprints_no_shuffle(spark, sf_dir):
    """Fingerprinting is per-row array work — the plan up to the
    fingerprint column must contain no Exchange."""
    from azure_etl_spark.operators.dedup import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    plan = _plan(winnow_fingerprints(d).select("doc_id", "fps"))
    assert "Exchange" not in plan


def test_q18_aggregates_before_join(spark, sf_dir):
    """The HAVING subquery must aggregate lineitem BEFORE joining orders
    (shrink-then-join): the plan's first join input is an aggregate."""
    plan = _plan(QUERIES["tpch_q18ish"].fn(spark, sf_dir))
    agg_pos = plan.find("HashAggregate")
    assert agg_pos != -1
    assert "Filter" in plan  # having filter survives


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    """GROUPING SETS must plan one Expand + one aggregate pipeline, not
    a union of three scans."""
    df = QUERIES["grouping_sets_orders"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_runtime_bloom_filter_injected_for_shuffle_join(spark, sf_dir):
    """With broadcast disabled (the 100 TB fact-fact case), a selective
    dim filter must inject a runtime bloom filter that prunes the fact
    scan before its shuffle. Locally the application-side threshold
    (10 GB) never triggers, so it is lowered for the assertion only."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
        j = (
            li.join(p, li.l_partkey == p.p_partkey)
            .groupBy("p_brand")
            .agg(F.sum("l_quantity").alias("q"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in opt.lower(), opt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_contamination_broadcasts_eval_side_only(spark, sf_dir):
    """The corpus side of decontamination must never hit a wide shuffle:
    both joins (gram match, hit-count re-attach) build on the broadcast
    eval side."""
    from azure_etl_spark.plans.queries import QUERIES

    plan = (
        QUERIES["contamination_ngram_overlap"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_sample_take_ordered(spark, sf_dir):
    from azure_etl_spark.plans.queries import QUERIES

    plan = (
        QUERIES["weighted_sample_docs"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_pack_sequences_window_keyed_by_shard(spark, sf_dir):
    """Packing must window per shard key, not collapse to one partition
    (no empty-frame Window over a single global partition)."""
    from azure_etl_spark.plans.queries import QUERIES

    plan = (
        QUERIES["pack_sequences_budget"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "windowspecdefinition(source" in plan, plan


def test_partitioned_read_prunes_directories(spark, sf_dir, tmp_path):
    """A day-filter over a year/month/day-partitioned layout must reach
    the scan as PartitionFilters and read one directory, not the table."""
    from azure_etl_spark.sources.files import write_partitioned

    ev = load_table(spark, sf_dir, "events").withColumns(
        {"year": F.year("ts"), "month": F.month("ts"), "day": F.dayofmonth("ts")}
    )
    path = str(tmp_path / "events_part")
    write_partitioned(
        ev.repartition("year", "month", "day"), path,
        partition_by=["year", "month", "day"], fmt="parquet",
    )
    back = spark.read.parquet(path).filter(
        (F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 15)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:200], plan
    # and the filtered count matches a raw-table day filter
    raw = load_table(spark, sf_dir, "events").filter(F.to_date("ts") == "2024-01-15")
    assert back.count() == raw.count()


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """With AQE on, a 200-partition shuffle over a small aggregate must
    coalesce at runtime (AQEShuffleRead coalesced) instead of running
    200 tiny tasks — the mechanism that right-sizes shuffles per-stage
    at any scale."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_orderstatus")
            .agg(F.sum("o_totalprice").alias("s"))
        )
        df.collect()  # AQE finalizes the plan only after execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in plan and "coalesced" in plan, plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_cached_plan_output_partitioning_is_on_by_default(spark):
    """Both the engine's builder and ``configure_for_oracle`` (applied to
    the external driver's vanilla session) let AQE change a cached
    plan's output partitioning. Spark's default (false) pins every
    persisted stage at the initial shuffle partition count."""
    from azure_etl_spark.session import CACHED_PLAN_REPARTITION, configure_for_oracle

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert CACHED_PLAN_REPARTITION == key
    # the fixture session was started by session_builder: its builder
    # confs land in the SparkContext conf, which runtime sets never touch
    assert spark.sparkContext.getConf().get(key) == "true"
    vanilla = spark.newSession()
    vanilla.conf.unset(key)
    assert vanilla.conf.get(key) == "false"
    assert configure_for_oracle(vanilla).conf.get(key) == "true"


def test_persisted_stage_is_sized_by_aqe(spark):
    """A persisted aggregate over a few rows caches in fewer partitions
    than the session's initial shuffle count, so every re-read of it runs
    only the tasks its data needs."""
    initial = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = (
        spark.range(64)
        .withColumn("k", F.col("id") % 5)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        assert df.count() == 5
        assert df.rdd.getNumPartitions() < initial
    finally:
        df.unpersist()


def test_zstd_parquet_roundtrip(spark, sf_dir, tmp_path):
    """Column-store codec control: zstd-compressed parquet writes read
    back exactly (zstd trades ~10-20% cpu for better ratios than snappy
    — the archival-tier choice at 100 TB)."""
    from azure_etl_spark.sources.files import write_parquet

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    p = str(tmp_path / "zstd_out")
    write_parquet(li, p, compression="zstd")
    import glob as _glob

    assert any(".zstd." in f for f in _glob.glob(p + "/*.parquet"))
    assert spark.read.parquet(p).count() == li.count()


def _exchange_count(df) -> int:
    # pre-execution plan (isFinalPlan=false): one section, no Initial
    # Plan duplication — structural shuffle count
    plan = _plan(df).split("== Initial Plan ==")[0]
    return plan.count("Exchange rangepartitioning") + plan.count(
        "Exchange hashpartitioning"
    ) + plan.count("Exchange RoundRobinPartitioning") + plan.count(
        "Exchange SinglePartition"
    )


def test_skewed_join_salts_the_key(spark, sf_dir):
    """join_skewed_salted (round-9 bench entry): the plan must show the
    mitigation — the dim side replicated by an explode BEFORE its
    exchange and the join key extended with the salt column, so the
    hot key's rows spread over `salt` reducers instead of melting
    one."""
    plan = _plan(QUERIES["join_skewed_salted"].fn(spark, sf_dir))
    assert "__salt" in plan, "join key not extended with the salt"
    assert "explode" in plan.lower(), "dim side not replicated"


def test_shuffle_budgets_headline_queries(spark, sf_dir):
    """Structural shuffle ceilings for the queries whose SCALE.md story
    is 'few/no shuffles' — a regression here means a plan silently grew
    a new Exchange."""
    budgets = {
        "word_entropy_docs": 1,       # fan-out repartition only
        "dedup_distinct": 1,          # range-partition serves distinct + sort
        "flagship_gold_minmax": 2,    # agg + ordered output
        "cosine_topk": 0,             # map-only + TakeOrdered
        "hash_sample_orders": 2,      # agg + ordered group-sized output
        "text_token_stats": 1,        # fan-out only, stats in-row
    }
    for name, budget in budgets.items():
        n = _exchange_count(QUERIES[name].fn(spark, sf_dir))
        assert n <= budget, f"{name}: {budget} shuffle(s) budgeted, plan has {n}"


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """Correlated EXISTS through spark.sql must plan as a LeftSemi join
    (Catalyst decorrelation), never a per-row subquery re-execution."""
    plan = _plan(QUERIES["sql_exists_heavy_lineitem"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "Subquery" not in plan, plan  # nothing left running per row


def test_multi_exists_plans_semi_plus_anti(spark, sf_dir):
    """EXISTS + NOT EXISTS on the same fact must decorrelate into one
    LeftSemi and one LeftAnti join in a single plan."""
    plan = _plan(QUERIES["sql_multi_exists_customers"].fn(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "Subquery" not in plan, plan


def test_scalar_subquery_per_group_decorrelates_to_aggregate_join(spark, sf_dir):
    """The per-part scalar AVG subquery must decorrelate into ONE
    grouped aggregate over lineitem joined back on l_partkey — the
    executed plan carries a partial/final avg aggregate pair and an
    equi-join on the correlation key, and no per-row subquery node."""
    plan = _plan(QUERIES["sql_scalar_subquery_small_lot"].fn(spark, sf_dir))
    assert "partial_avg" in plan or "avg(" in plan, plan
    assert "Subquery" not in plan, plan
    assert "l_partkey" in plan and "Join" in plan, plan


def test_positional_delete_read_is_broadcast_anti_join(spark, tmp_path):
    """A positional merge-on-read delete (the deletion-vector shape)
    must read as a LeftAnti hash join against the tiny position
    sidecar — broadcast by AQE, with the covered-file scan never
    shuffling and NO join at all for uncovered files."""
    from azure_etl_spark.sources.snapshot import (
        _load_manifest,
        _manifest_files,
        delete_positions_from_snapshot,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    for lo, mode in ((0, "overwrite"), (50, "append")):
        write_snapshot(
            spark.range(lo, lo + 50).select(
                F.col("id"), (F.col("id") * 2).alias("val")
            ).coalesce(1),
            path,
            mode=mode,
        )
    m = _load_manifest(spark, path, 1)
    f0 = sorted(_manifest_files(spark, path, m)[0])[0]
    delete_positions_from_snapshot(spark, path, {f0: [1, 2]})
    df = read_snapshot(spark, path)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    # the anti join's build side is the sidecar: broadcast, no
    # fact-side Exchange anywhere in the read (ADVICE r10: asserted
    # separately — the old or-form passed vacuously whenever
    # BroadcastNestedLoop was absent)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert df.count() == 98


def test_exact_text_dedup_collapses_duplicates_map_side(spark, sf_dir):
    """VERDICT r10 #2: exact_text_dedup must not put a mega-duplicated
    document's every full-text copy on one task. The skew-safe plan is
    min_by(struct, id) grouped by the content hash: a partial (map-side)
    aggregate BEFORE the single Exchange — each map task forwards at
    most one candidate row per distinct hash — and no Window node
    (the round-10 row_number plan shuffled full duplicate rows to one
    window task)."""
    from azure_etl_spark.operators.dedup import exact_text_dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(exact_text_dedup(docs))
    assert "partial_min_by" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan
