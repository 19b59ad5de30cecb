"""Physical-plan shape assertions — the 100 TB claims, tested.

Each test pins a property the engine's scale story depends on (SURVEY §4):
small dims broadcast (no fact shuffle), filters reach the parquet scan,
scans prune to the referenced columns, and the encode plan contains exactly
the one explicit exchange (salted mode) or none (direct mode). A regression
here is invisible at sf0.01 but catastrophic at 1000 executors.
"""

from __future__ import annotations

import contextlib
import glob
import re
import sys
import uuid

import pytest

sys.path.insert(0, "/root/repo")

from flowforge import queries as Q  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark):
    plan = _formatted(Q.q_join_orders_by_nation(spark, SF_DIR))
    # formatted mode lists each node twice (tree + detail) — count detail rows
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    # the fact table must not shuffle for the join itself
    assert "Exchange hashpartitioning(o_custkey" not in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted(Q.q_filter_known_types(spark, SF_DIR))
    assert "PushedFilters: [In(event_type" in plan, plan


def test_column_pruning(spark):
    plan = _formatted(Q.q_token_counts(spark, SF_DIR))
    # ReadSchema must carry only the referenced columns
    lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert lines, plan
    assert "doc_id" in lines[0] and "text" in lines[0], lines
    assert "n_chars" not in lines[0] and "source" not in lines[0], lines


def test_partial_aggregation(spark):
    """groupBy compiles to partial (map-side) + final HashAggregate."""
    plan = _executed(Q.q_route_buckets(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan


def test_whole_stage_codegen_covers_expressions(spark):
    plan = _executed(Q.q_enrich_network(spark, SF_DIR))
    assert "*(1)" in plan, plan  # '*' prefix = inside a WholeStageCodegen stage
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time Python


def test_salted_encode_has_exactly_one_exchange(spark, tmpdir_clean):
    from flowforge import engine

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    lazy = engine.encode_table(spark, df, tmpdir_clean, salt_col="doc_id", buckets=8)
    plan = _formatted(lazy)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning" in plan, plan


def test_clustered_encode_has_exactly_one_exchange(spark, tmpdir_clean):
    """Clustered mode costs the same single shuffle as salted: the quantile
    bucket expression is a JVM-side aggregate over a literal boundary
    array, then one repartition onto bucket->task keys."""
    from flowforge import engine

    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    lazy = engine.encode_table(spark, df, tmpdir_clean, cluster_col="ts",
                               buckets=8)
    plan = _formatted(lazy)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    # no Python in the bucket assignment: the aggregate over boundaries is
    # a catalyst expression, not a UDF
    assert "BatchEvalPython" not in plan, plan


def test_murmur3_matches_spark_hash(spark):
    """The partitioner inversion rests on _murmur3_long == F.hash(long)."""
    import numpy as np
    from pyspark.sql import functions as F

    from flowforge import engine

    vals = list(range(64)) + [-1, -7, 2**40, -(2**40), 123456789012345]
    row = spark.range(1).select(
        *[F.hash(F.lit(v).cast("long")).alias(f"h{i}") for i, v in enumerate(vals)]
    ).collect()[0]
    mine = engine._murmur3_long(np.array(vals, dtype=np.int64))
    assert all(int(row[f"h{i}"]) == int(mine[i]) for i in range(len(vals)))


def test_bijective_partition_keys():
    import numpy as np

    from flowforge import engine

    for n in (1, 2, 7, 64, 1000):
        keys = engine._bijective_partition_keys(n)
        part = np.mod(engine._murmur3_long(keys).astype(np.int64), n)
        assert (part == np.arange(n)).all(), n


def test_encode_assigns_one_bucket_per_task(spark):
    """Each shuffle partition owns exactly one bucket — no balls-in-bins
    stragglers on the engine's only exchange (1000-executor layout)."""
    from pyspark.sql import functions as F

    from flowforge import engine

    df = spark.range(5_000).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(16)).alias(engine.BUCKET_COL)
    )
    planned = engine._partition_one_bucket_per_task(spark, df, list(range(16)), "id")
    dist = (
        planned.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct(engine.BUCKET_COL).alias("nb"))
        .collect()
    )
    assert len(dist) == 16
    assert all(r["nb"] == 1 for r in dist), dist
    # resume shape: sparse todo list still gets one bucket per task
    todo = [1, 5, 11, 15]
    sparse = df.filter(F.col(engine.BUCKET_COL).isin(todo))
    planned = engine._partition_one_bucket_per_task(spark, sparse, todo, "id")
    dist = (
        planned.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct(engine.BUCKET_COL).alias("nb"))
        .collect()
    )
    assert len(dist) == 4 and all(r["nb"] == 1 for r in dist), dist


def test_one_bucket_per_task_broadcast_path(spark, monkeypatch):
    """Above the literal-map threshold the mapping ships as a broadcast
    join — same 1:1 guarantee (the 10^5-bucket shape, shrunk)."""
    from pyspark.sql import functions as F

    from flowforge import engine

    monkeypatch.setattr(engine, "_PKEY_MAP_MAX", 4)
    df = spark.range(2_000).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(12)).alias(engine.BUCKET_COL)
    )
    planned = engine._partition_one_bucket_per_task(spark, df, list(range(12)), "id")
    dist = (
        planned.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct(engine.BUCKET_COL).alias("nb"))
        .collect()
    )
    assert len(dist) == 12 and all(r["nb"] == 1 for r in dist), dist
    # and the payload column survives the join+repartition+drop round trip
    assert set(planned.columns) == {"id", engine.BUCKET_COL}


def _assert_kernel_launch_only(plan: str) -> None:
    """A kernel frame is spark.range -> mapInArrow: no exchange of any
    kind, and no pickled Python-list scan (createDataFrame(list) plans a
    ``Scan ExistingRDD`` behind an identity-map Python stage)."""
    assert "Exchange" not in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_direct_encode_has_no_data_exchange(spark, tmpdir_clean):
    from flowforge import engine

    lazy = engine.encode_path(
        spark, f"{SF_DIR}/documents.parquet", tmpdir_clean, target_rows=10_000
    )
    plan = _formatted(lazy)
    _assert_kernel_launch_only(plan)
    assert "MapInArrow" in plan and "Range" in plan, plan


def test_resumed_noop_encode_is_a_local_scan(spark, tmpdir_clean):
    """A resumed direct encode with nothing left to do returns its empty
    metrics from a LocalTableScan: no Python stage, no task."""
    from flowforge import engine

    src = f"{SF_DIR}/documents.parquet"
    assert engine.run_encode_path(spark, src, tmpdir_clean, target_rows=10_000)
    lazy = engine.encode_path(spark, src, tmpdir_clean)
    plan = _formatted(lazy)
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan and "MapInArrow" not in plan, plan
    assert lazy.collect() == []


@contextlib.contextmanager
def _spark_jobs(spark):
    """Yields a list that, when the block exits, holds the ids of the Spark
    jobs the block ran (one job group, read from ``statusTracker`` after
    the listener bus has drained)."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_direct_encode_is_one_job(spark, tmpdir_clean):
    """The kernel's map stage is the only job: the Spark schema stored in
    table.json comes from the source's footer, not from the one-task
    schema-inference job of ``spark.read.parquet``."""
    from flowforge import engine

    with _spark_jobs(spark) as jobs:
        rows = engine.run_encode_path(spark, f"{SF_DIR}/documents.parquet",
                                      tmpdir_clean, target_rows=10_000)
    assert rows
    assert len(jobs) == 1, jobs


def test_resumed_noop_encode_runs_no_job(spark, tmpdir_clean):
    from flowforge import engine

    src = f"{SF_DIR}/documents.parquet"
    assert engine.run_encode_path(spark, src, tmpdir_clean, target_rows=10_000)
    with _spark_jobs(spark) as jobs:
        assert engine.run_encode_path(spark, src, tmpdir_clean) == []
    assert jobs == [], jobs


def test_unknown_encode_column_fails_before_any_job(spark, tmpdir_clean):
    from flowforge import engine
    from flowforge.catalog import Manifest

    with _spark_jobs(spark) as jobs:
        with pytest.raises(ValueError, match="no_such_col"):
            engine.encode_path(spark, f"{SF_DIR}/documents.parquet",
                               tmpdir_clean, target_rows=10_000,
                               columns=["doc_id", "no_such_col"])
    assert jobs == [], jobs
    assert Manifest(tmpdir_clean).try_read_table_meta() is None


def test_building_metrics_table_runs_no_job(spark, tmpdir_clean):
    """The compacted commit logs are read under their fixed schema: only
    an action on the frame runs a job."""
    from flowforge import engine

    engine.run_encode_path(spark, f"{SF_DIR}/documents.parquet",
                           tmpdir_clean, target_rows=10_000)
    assert glob.glob(f"{tmpdir_clean}/_manifest/compacted-*.parquet")
    with _spark_jobs(spark) as jobs:
        df = engine.metrics_table(spark, tmpdir_clean)
    assert jobs == [], jobs
    assert df.count() > 0


@pytest.fixture(scope="module")
def docs_store(spark, tmp_path_factory):
    """Four salted buckets: their zone maps are wide, so a range predicate
    leaves boundary buckets for the kernel."""
    from flowforge import engine

    out = str(tmp_path_factory.mktemp("plans")) + "/store"
    engine.run_encode(spark, spark.read.parquet(f"{SF_DIR}/documents.parquet"),
                      out, buckets=4, salt_col="doc_id")
    return out


def test_decode_has_no_exchange(spark, docs_store):
    from flowforge import engine

    df = engine.decode_table(spark, docs_store, ["doc_id", "lang"])
    _assert_kernel_launch_only(_formatted(df))
    assert df.count() == spark.read.parquet(
        f"{SF_DIR}/documents.parquet").count()


def test_topk_has_no_exchange(spark, docs_store):
    from flowforge import engine

    df = engine.topk_table(spark, docs_store, "n_chars", 5,
                           tie_col="doc_id", columns=["doc_id", "n_chars"])
    _assert_kernel_launch_only(_formatted(df))
    assert len(df.collect()) == 5


def test_boundary_group_multi_kernel_has_no_exchange(spark, docs_store):
    from flowforge import engine

    preds = {"n_chars": (100, 2000)}
    assert engine.count_plan(docs_store, preds)["partial"]  # boundary buckets
    kernel = engine.group_multi_table(spark, docs_store, ["lang"],
                                      predicates=preds, merge=False)
    _assert_kernel_launch_only(_formatted(kernel))


def test_bucketed_tables_join_without_exchange(spark, tmpdir_clean):
    """Co-located join via bucketing (SURVEY §2.2 / brief: 'bucketing for
    co-located joins'): two tables bucketed+sorted on the join key join
    with NO shuffle exchange and no explicit sort — at 100 TB this is how
    repeated joins against the same key amortize their shuffle to zero."""
    from pyspark.sql import functions as F

    spark.sql(f"CREATE DATABASE IF NOT EXISTS ffbt LOCATION '{tmpdir_clean}/wh'")
    # sf0.01 dims are broadcast-sized; disable auto-broadcast so the plan
    # shows the co-located (bucketed) sort-merge join large tables would use
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        (docs.select("doc_id", "lang", "n_chars").write.mode("overwrite")
         .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("ffbt.docs_a"))
        (docs.select("doc_id", "source").write.mode("overwrite")
         .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("ffbt.docs_b"))
        a = spark.table("ffbt.docs_a")
        b = spark.table("ffbt.docs_b")
        joined = a.join(b, "doc_id").groupBy("lang", "source").agg(
            F.count("*").alias("cnt"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning(doc_id" not in plan, plan
        assert joined.agg(F.sum("cnt")).collect()[0][0] == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS ffbt.docs_a")
        spark.sql("DROP TABLE IF EXISTS ffbt.docs_b")
        spark.sql("DROP DATABASE IF EXISTS ffbt")


def test_semi_and_anti_are_joins_not_products(spark):
    for q in (Q.q_semi_parts_shipped, Q.q_anti_customers_no_orders):
        plan = _formatted(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Join" in plan, plan


@pytest.mark.parametrize("qname", ["q_window_running", "q_topk_users"])
def test_window_and_topk_single_pass(spark, qname):
    plan = _formatted(getattr(Q, qname)(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_tpch_pricing_scan_shapes(spark):
    """Q1 analog: the shipdate filter reaches the parquet scan, the scan
    prunes to referenced columns, and aggregation is partial+final (the
    shuffle carries 6 groups, not 60k rows)."""
    df = Q.q_tpch_pricing(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "LessThanOrEqual(l_shipdate" in plan, plan
    lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert lines and "l_orderkey" not in lines[0] \
        and "l_partkey" not in lines[0], lines
    executed = _executed(df)
    assert executed.count("HashAggregate") >= 2, executed
    assert "BatchEvalPython" not in executed, executed


def test_tpch_shipping_broadcasts_customer(spark):
    """Q3 analog: the filtered customer dim broadcasts; the only
    hash-exchange keys are the fact-fact orderkey join (+ AQE coalesce)."""
    plan = _formatted(Q.q_tpch_shipping(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning(o_custkey" not in plan, plan


def test_tpch_region_volume_broadcasts_all_dims(spark):
    """Q5 analog: customer/supplier/nation/region all broadcast — four
    BroadcastHashJoins; the fact never hash-shuffles on a dim key."""
    plan = _formatted(Q.q_tpch_region_volume(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4, plan
    for key in ("o_custkey", "l_suppkey", "s_nationkey", "n_regionkey"):
        assert f"Exchange hashpartitioning({key}" not in plan, plan
