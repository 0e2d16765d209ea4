"""The catalog's schema memo: a warm load_table reuses the schema Spark
inferred on the first read and starts no Spark job; a rewritten file or a
schema-relevant conf change is inferred afresh; cold and warm reads are the
same table."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_glue_etl_sample_hist_spark import catalog
from aws_glue_etl_sample_hist_spark.catalog import load_table, table_path


def _jobs_during(spark, group: str, fn):
    """(fn(), ids of the Spark jobs fn started), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _write_events(sf_dir: str, n: int = 500) -> None:
    rng = np.random.default_rng(3)
    # TIMESTAMP(NANOS) with sub-microsecond digits, like the testdata
    ns = 1_700_000_000_000_000_000 + rng.integers(0, 10**15, n) * 1_000 + rng.integers(0, 1000, n)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n)),
                "user_id": pa.array(rng.integers(0, 50, n)),
                "ts": pa.array(ns, type=pa.timestamp("ns", tz="UTC")),
                "value": pa.array(rng.random(n) * 100),
            }
        ),
        table_path(sf_dir, "events"),
        version="2.6",
    )


def _write_documents(sf_dir: str, n: int = 2000) -> None:
    rng = np.random.default_rng(5)
    words = np.array([f"w{i}" for i in range(997)])
    text = [" ".join(rng.choice(words, 20)) for _ in range(n)]
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n)), "text": pa.array(text)}),
        table_path(sf_dir, "documents"),
        compression="none",
    )


@pytest.fixture()
def sf_dir(tmp_path):
    d = str(tmp_path)
    _write_events(d)
    _write_documents(d)
    yield d
    for name in ("events", "documents"):
        catalog._MEMO.pop(table_path(d, name), None)


def test_warm_load_table_starts_no_spark_job(spark, sf_dir):
    path = table_path(sf_dir, "events")
    catalog._MEMO.pop(path, None)
    _, cold = _jobs_during(spark, "catalog-cold", lambda: load_table(spark, sf_dir, "events"))
    assert cold, "the first read infers the schema with a Spark job"
    assert path in catalog._MEMO
    df, warm = _jobs_during(spark, "catalog-warm", lambda: load_table(spark, sf_dir, "events"))
    assert warm == []
    assert dict(df.dtypes)["ts"] == "timestamp"


@pytest.mark.parametrize("name", ["events", "documents"])
def test_cold_and_warm_reads_are_the_same_table(spark, sf_dir, name):
    catalog._MEMO.pop(table_path(sf_dir, name), None)
    cold = load_table(spark, sf_dir, name)
    warm = load_table(spark, sf_dir, name)
    assert warm.dtypes == cold.dtypes
    assert warm.rdd.getNumPartitions() == cold.rdd.getNumPartitions()
    assert sorted(warm.collect()) == sorted(cold.collect())
    if name == "documents":
        # big enough to be spread, so the layout came through the memo too
        assert cold.rdd.getNumPartitions() > 1
    else:
        # nanos truncated to micros, exactly as on the cold path
        exp = pq.read_table(table_path(sf_dir, "events")).column("ts").cast(pa.int64())
        got = sorted(r.us for r in warm.selectExpr("unix_micros(ts) AS us").collect())
        assert got == sorted(v // 1000 for v in exp.to_pylist())


def test_rewritten_file_comes_back_with_its_new_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "region")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, sf_dir, "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"], "r_comment": ["x", "y", "z"]}),
        path,
    )
    df = load_table(spark, sf_dir, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]
    catalog._MEMO.pop(path, None)


def test_schema_conf_change_is_inferred_afresh(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "part")
    pq.write_table(pa.table({"p_partkey": [1], "p_name": pa.array([b"bolt"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(load_table(spark, sf_dir, "part").dtypes)["p_name"] == "binary"
        spark.conf.set(key, "true")
        df = load_table(spark, sf_dir, "part")
        assert dict(df.dtypes)["p_name"] == "string"
        assert df.collect()[0].p_name == "bolt"
    finally:
        spark.conf.set(key, old)
        catalog._MEMO.pop(path, None)


def test_directory_table_skips_the_memo(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = table_path(sf_dir, "nation")
    spark.range(4).withColumnRenamed("id", "n_nationkey").write.parquet(path)
    assert load_table(spark, sf_dir, "nation").count() == 4
    assert path not in catalog._MEMO
