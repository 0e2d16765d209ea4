"""Pipeline tests: tier cardinalities, idempotent re-runs, and month-scoped
incremental loads under dynamic partition overwrite (reference S7 semantics,
SURVEY.md §5 'pipeline tests')."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from aws_glue_etl_sample_hist_spark.plans.medallion import run_medallion


@pytest.fixture(scope="module")
def pipeline_out(spark, sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("medallion"))
    timings = run_medallion(spark, sf_small, out)
    return out, timings


def _counts_by_month(spark, path):
    return {
        (r.purchase_year, r.purchase_month): r.n
        for r in spark.read.parquet(path)
        .groupBy("purchase_year", "purchase_month")
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_tier_cardinalities(spark, sf_small, pipeline_out):
    out, timings = pipeline_out
    n_lineitem = spark.read.parquet(os.path.join(sf_small, "lineitem.parquet")).count()
    bronze = spark.read.parquet(os.path.join(out, "bronze", "purchase"))
    silver = spark.read.parquet(os.path.join(out, "silver", "purchase_all_info"))
    # bronze is a full fact copy; all silver joins are left + unique right keys
    # (TPC-H PKs) -> cardinality preserved, no fan-out, no row loss
    assert bronze.count() == n_lineitem
    assert silver.count() == n_lineitem
    for mart in (
        "mart_salesbybrandtype",
        "mart_salesbysupplier",
        "mart_salesbydatetime",
        "mart_salesbyregion",
    ):
        assert spark.read.parquet(os.path.join(out, "gold", mart)).count() > 0
    assert set(timings) == {
        "t0.fact",
        "t0.dims",
        "t1.fulljoin",
        "t2.brandtype",
        "t2.supplier",
        "t2.datetime",
        "t2.region",
    }


def test_full_rerun_is_idempotent(spark, sf_small, pipeline_out):
    out, _ = pipeline_out
    before = _counts_by_month(spark, os.path.join(out, "bronze", "purchase"))
    run_medallion(spark, sf_small, out)
    after = _counts_by_month(spark, os.path.join(out, "bronze", "purchase"))
    assert before == after
    silver = spark.read.parquet(os.path.join(out, "silver", "purchase_all_info"))
    assert silver.count() == sum(before.values())


def _part_dir(tier_path, month):
    """A month's partition dir: every tier writes zero-padded month dirs."""
    return os.path.join(
        tier_path, f"purchase_year={month[0]}", f"purchase_month={month[1]:02d}"
    )


def _parquet_mtimes(path):
    return [os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(path, "*.parquet"))]


def test_incremental_month_overwrites_only_that_partition(spark, sf_small, pipeline_out):
    out, _ = pipeline_out
    bronze_path = os.path.join(out, "bronze", "purchase")
    silver_path = os.path.join(out, "silver", "purchase_all_info")
    mart_dir = os.path.join(out, "gold", "mart_salesbybrandtype")
    before = _counts_by_month(spark, bronze_path)
    # a single-digit month: read back from the partition dirs it is the int
    # 7, and only a zero-padded key matches the '199607' the caller passes
    month = min(m for m in before if m[1] < 10)
    yyyymm = f"{month[0]}{month[1]:02d}"
    mart_before = _counts_by_month(spark, mart_dir)
    written_before = {
        path: max(_parquet_mtimes(_part_dir(path, month)))
        for path in (silver_path, mart_dir)
    }
    # write a marker file inside a DIFFERENT month's partition dir; dynamic
    # overwrite of `month` must not touch it
    other = sorted(before)[-1]
    marker = os.path.join(_part_dir(bronze_path, other), "_marker")
    with open(marker, "w") as f:
        f.write("x")

    run_medallion(spark, sf_small, out, months=[yyyymm])

    after = _counts_by_month(spark, bronze_path)
    assert after == before  # same data: overwrite replaced like-for-like
    assert os.path.exists(marker)  # untouched partition dir survived
    os.remove(marker)
    # the reload really rewrote the month's silver and mart partitions
    for path, last_write in written_before.items():
        rewritten = _parquet_mtimes(_part_dir(path, month))
        assert rewritten and min(rewritten) > last_write, path
    # silver only rewrote the incremental month too
    assert _counts_by_month(spark, silver_path) == before
    assert _counts_by_month(spark, mart_dir) == mart_before
    # gold marts are month-partitioned as well: the incremental run replaced
    # ONLY the target month's mart partitions (marker in another month's dir
    # survives) -- incremental materialized-view maintenance
    mart_marker = os.path.join(_part_dir(mart_dir, other), "_m")
    with open(mart_marker, "w") as f:
        f.write("x")
    run_medallion(spark, sf_small, out, months=[yyyymm])
    assert os.path.exists(mart_marker)
    os.remove(mart_marker)
    mart_months = {
        (r.purchase_year, r.purchase_month)
        for r in spark.read.parquet(mart_dir)
        .select("purchase_year", "purchase_month").distinct().collect()
    }
    assert mart_months == set(before)  # full mart coverage preserved


def test_pipeline_retry_and_failure_propagation():
    from aws_glue_etl_sample_hist_spark.plans.pipeline import Pipeline

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    t = Pipeline(retries=2, retry_backoff_s=0.01).add_stage("s", flaky=flaky).run()
    assert calls["n"] == 3 and "s.flaky" in t

    def always_fails():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        Pipeline(retries=1, retry_backoff_s=0.01).add_stage("s", bad=always_fails).run()


def test_bucketed_medallion_matches_and_t1_join_is_shuffle_free(
    spark, sf_small, pipeline_out, tmp_path_factory
):
    """bucketed=True: identical silver output, and the T1 lineitem⋈orders
    bridge runs with ZERO shuffle exchange (bucket-aligned SMJ, no sort --
    both sides pre-sorted within buckets)."""
    from aws_glue_etl_sample_hist_spark.io.bucketing import drop_table
    from aws_glue_etl_sample_hist_spark.plans.medallion import (
        FACT_BKT_TABLE,
        ORDERS_BKT_TABLE,
    )

    plain_out, _ = pipeline_out
    out = str(tmp_path_factory.mktemp("medallion_bkt"))
    try:
        timings = run_medallion(spark, sf_small, out, bucketed=True)
        assert set(timings) == {
            "t0.fact", "t0.orders", "t0.dims", "t1.fulljoin",
            "t2.brandtype", "t2.supplier", "t2.datetime", "t2.region",
        }
        # silver output identical to the unbucketed pipeline's
        cols = ["l_orderkey", "l_linenumber", "o_custkey", "r_name", "l_extendedprice"]
        a = sorted(map(tuple, spark.read.parquet(
            os.path.join(out, "silver", "purchase_all_info")).select(*cols).collect()))
        b = sorted(map(tuple, spark.read.parquet(
            os.path.join(plain_out, "silver", "purchase_all_info")).select(*cols).collect()))
        assert a == b
        # plan of the bridge join over the bucketed bronze: no exchange at all
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            fact = spark.table(FACT_BKT_TABLE)
            orders = spark.table(ORDERS_BKT_TABLE)
            bridge = fact.join(
                orders.select("o_orderkey", "o_custkey"),
                fact.l_orderkey == F.col("o_orderkey"),
                "left",
            )
            plan = bridge._sc._jvm.PythonSQLUtils.explainString(
                bridge._jdf.queryExecution(), "formatted"
            )
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

        # auto slices_per_month: with a file-size target smaller than the
        # biggest month, the silver write must fan a month out over >1 task
        # (>1 file in that month's partition directory) -- the 100x-scale
        # behavior, exercised by shrinking the target instead of the data --
        # and the silver rows must be byte-identical to the single-slice run
        from aws_glue_etl_sample_hist_spark.plans.medallion import (
            PARTITION_COLS,
            silver_join_bucketed,
        )

        biggest = max(
            r["count"]
            for r in spark.table(FACT_BKT_TABLE).groupBy(*PARTITION_COLS).count().collect()
        )
        silver_join_bucketed(spark, out, rows_per_slice=max(1, biggest // 3))
        silver_dir = os.path.join(out, "silver", "purchase_all_info")
        per_month_files = [
            len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(os.path.join(silver_dir, "purchase_year=*", "purchase_month=*"))
        ]
        assert max(per_month_files) > 1, per_month_files
        c = sorted(map(tuple, spark.read.parquet(silver_dir).select(*cols).collect()))
        assert c == b
    finally:
        drop_table(spark, FACT_BKT_TABLE)
        drop_table(spark, ORDERS_BKT_TABLE)


def test_upsert_partitioned_touches_only_affected_partitions(spark, sf_small, tmp_path):
    """CDC upsert: update one row + insert one row in a single partition;
    that partition's rows are replaced by key, every other partition's
    directory (marker file) and data survive byte-untouched."""
    from aws_glue_etl_sample_hist_spark.catalog import load_table
    from aws_glue_etl_sample_hist_spark.io.sinks import upsert_partitioned, write_partitioned

    path = str(tmp_path / "events_lake")
    ev = load_table(spark, sf_small, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    write_partitioned(ev, path, partition_by=["event_date"])
    days = sorted(r.event_date for r in ev.select("event_date").distinct().collect())
    target, other = days[0], days[-1]
    marker = os.path.join(path, f"event_date={other}", "_marker")
    with open(marker, "w") as f:
        f.write("x")

    victim = ev.filter(F.col("event_date") == target).orderBy("event_id").limit(1).collect()[0]
    updates = spark.createDataFrame(
        [
            (victim.event_id, victim.ts, victim.user_id, "corrected", 99.5, victim.props, target),
            (10_000_001, victim.ts, victim.user_id, "late_arrival", 1.25, victim.props, target),
        ],
        ev.schema,
    )
    before_total = ev.count()
    upsert_partitioned(
        spark, path, updates, key_cols=["event_id"], partition_cols=["event_date"]
    )

    after = spark.read.parquet(path)
    assert after.count() == before_total + 1  # one update in place, one insert
    got = {r.event_id: (r.event_type, r.value) for r in
           after.filter(F.col("event_date") == target)
           .filter(F.col("event_id").isin([victim.event_id, 10_000_001])).collect()}
    assert got[victim.event_id] == ("corrected", 99.5)
    assert got[10_000_001] == ("late_arrival", 1.25)
    assert os.path.exists(marker)  # untouched partition dir survived


def test_observed_write_reports_metrics_without_second_scan(spark, tmp_path):
    """io.sinks.observed_write: volumetrics ride inside the write job
    (df.observe accumulators) and match a ground-truth recount."""
    from pyspark.sql import functions as F

    from aws_glue_etl_sample_hist_spark.io.sinks import observed_write

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, None, 4.0), (3, "c", None), (4, "d", 8.0)],
        ["id", "name", "val"],
    )
    out = str(tmp_path / "observed")
    got = observed_write(
        df,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_names": F.sum(F.col("name").isNull().cast("long")),
            "sum_val": F.sum("val"),
        },
    )
    assert got == {"n_rows": 4, "n_null_names": 1, "sum_val": 14.0}
    back = spark.read.parquet(out)
    assert back.count() == 4
