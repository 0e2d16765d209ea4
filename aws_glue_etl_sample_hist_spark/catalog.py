"""Table registry: name -> path/schema, replacing the Glue Data Catalog +
crawlers of the reference (document/glue_t0.md:95-99 — crawlers infer parquet
schema; scripts read catalog tables via create_dynamic_frame.from_catalog().toDF(),
jb_de_enhancement_t1_fulljoin_s2s.py:39-49).

Spark-first equivalent: parquet is self-describing and path-partitioned
layouts are discovered automatically, so the "catalog" is just a name->path
map plus per-table normalization (the one real fix-up: events.ts is stored as
parquet TIMESTAMP(NANOS), which Spark reads as long only under
``nanosAsLong`` — we convert back to a proper timestamp here, truncating to
microseconds exactly like DuckDB/Presto do).

Like the crawler, the catalog infers a table's schema once: load_table
memoizes the schema Spark inferred on a single-file table's first read, and
later reads pass it back so they start no Spark job (see "schema memo"
below). An entry is keyed by the file's (path, mtime, size) and the session
confs that change an inferred parquet schema, so a rewritten file or a
changed conf is inferred afresh.
"""

from __future__ import annotations

import json
import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

# the driver-generated star schema (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-built session (e.g. the driver's) able to read the
    testdata: UTC for deterministic timestamp formatting, nanosAsLong because
    events.parquet stores TIMESTAMP(NANOS). Both are runtime-settable."""
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


# ---- scan spread (r14 optimization, guide §2.5 "input skew") -------------
#
# Every testdata table is ONE parquet file with ONE row group, and a parquet
# row group is Spark's minimum scan granularity -- so every map-side stage
# (tokenize/explode passes, mapInPandas codecs, fold-cosine assignment)
# runs as a SINGLE task no matter how many cores the session has. At real
# scale a table arrives as many files/row groups and scans parallelize by
# themselves; the spread below is therefore gated on the FILE LAYOUT: only
# when the layout provides less parallelism than the session's cores does
# load_table add one round-robin repartition after the scan (deterministic:
# sort-before-repartition is on by default, SPARK-23207). Tiny
# broadcast-sized tables (< _SPREAD_MIN_BYTES) are never spread -- fanning
# 25 nation rows over 32 tasks only adds scheduling overhead. The layout
# (row groups, bytes, rows) is read from the parquet footer once per file
# version and kept in the schema memo below, under the same
# (path, mtime, size, confs) key as the memoized schema.
#
# Dial: SPARK_GRAFT_SCAN_SPREAD=off disables; =<int> forces that partition
# count; unset/auto = min(cores, row-count-derived cap) as described.
#
# WHY ONLY SOME TABLES (correctness, not performance): a round-robin
# repartition changes the ORDER doubles are added in downstream sums, and
# on money/time-series tables the summed values have fixed decimal
# granularity, so `round(sum(x), k)` has EXACT .5 ties that a one-ULP
# reassociation flips (measured: events_exp_smoothing went red the moment
# events was spread; its own docstring documents the tie structure). Worse,
# once the map side has >1 partition, the final-agg merge order follows
# shuffle-block arrival, which is not even run-to-run deterministic. The
# spread is therefore ON only for tables whose query surface is per-row,
# exact-integer/hash, or sums of UNSTRUCTURED floats (log-probs, random
# vectors) where a one-ULP reassociation cannot cross a 4-6dp rounding
# boundary: `documents` (text/dedup/corpus/multimodal pipelines) and
# `embeddings`. Money-granular tables (lineitem, orders, events, customer,
# ...) keep their exact pre-r14 single-partition sum order. Individual
# call sites whose downstream math is exact can opt in via
# ``load_table(..., spread=True)``.
_SPREAD_SAFE_TABLES = frozenset({"documents", "embeddings"})
_SPREAD_MIN_BYTES = 64 * 1024


# ---- schema memo (the crawler's infer-once) -------------------------------
#
# spark.read.parquet(path) starts one parquet-footer schema-inference Spark
# job per call, and register_views reads all 10 tables on every SQL query,
# so most of an interactive query's wall was re-inferring schemas that had
# not changed. _MEMO keeps, per single-file table, the schema Spark itself
# inferred on the first read (as JSON) and the file's scan layout
# (row_groups, bytes, rows) that the spread above is gated on; a hit reads
# with spark.read.schema(memoized), which starts no job. An entry is valid
# only for the same file version, (st_mtime_ns, st_size), and the same
# values of _SCHEMA_CONFS, the session confs that change what Spark infers
# for a parquet file; anything else re-infers and replaces the entry.
# Directory tables, and files whose footer pyarrow cannot read, are never
# memoized: they are read exactly as before, with the layout unknown.
# Pipeline tasks call load_table from several threads; the stamp is taken
# before the read and an entry is stored whole, so a race costs at most
# one extra inference, never a schema served for the wrong file version.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_UNKNOWN_LAYOUT = (1 << 30, 1 << 30, 1 << 30)  # never spread on doubt
# path -> (validity key, schema JSON, (row_groups, bytes, rows))
_MEMO: dict[str, tuple[tuple, str, tuple[int, int, int]]] = {}


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, tuple[int, int, int]]:
    """``spark.read.parquet(path)`` and the file's (row_groups, bytes, rows)
    layout, through the schema memo."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path), _UNKNOWN_LAYOUT
    key = (st.st_mtime_ns, st.st_size, *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = _MEMO.get(path)
    if hit is not None and hit[0] == key:
        schema = StructType.fromJson(json.loads(hit[1]))
        return spark.read.schema(schema).parquet(path), hit[2]
    df = spark.read.parquet(path)
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except (OSError, ValueError):  # unreadable footer: layout unknown, no entry
        return df, _UNKNOWN_LAYOUT
    layout = (md.num_row_groups, st.st_size, md.num_rows)
    _MEMO[path] = (key, df.schema.json(), layout)
    return df, layout


def _spread_partitions(spark: SparkSession, layout: tuple[int, int, int]) -> int:
    """How many partitions load_table should spread a scan with this
    (row_groups, bytes, rows) layout over; 0 = leave the scan alone (layout
    already parallel enough, table tiny, or the dial is off)."""
    dial = os.environ.get("SPARK_GRAFT_SCAN_SPREAD", "auto").strip().lower()
    if dial in ("off", "0", "false", "no"):
        return 0
    row_groups, nbytes, rows = layout
    cores = spark.sparkContext.defaultParallelism
    if dial not in ("", "auto"):
        n = int(dial)
        return n if row_groups < n else 0
    if nbytes < _SPREAD_MIN_BYTES:
        return 0
    # enough tasks to occupy the cores; capped so a small table still keeps
    # >= 64 rows per task (below that, per-task scheduling overhead dominates
    # any per-row work the downstream stage could amortize)
    target = min(cores, max(1, rows // 64))
    return target if row_groups < target and target > 1 else 0


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """Read one testdata table with schema normalization applied.

    ``spread``: None = spread only _SPREAD_SAFE_TABLES (see the correctness
    note above); True/False force it for one call site."""
    _ensure_session_confs(spark)
    df, layout = _read_parquet(spark, table_path(sf_dir, name))
    do_spread = name in _SPREAD_SAFE_TABLES if spread is None else spread
    n_spread = _spread_partitions(spark, layout) if do_spread else 0
    if n_spread:
        df = df.repartition(n_spread)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as long nanos; integer-divide to micros
            # (`div`, NOT `/` -- `/` is double division and loses precision
            # at ~1.7e18 ns, off-by-1us). All values are post-epoch, so
            # integer division == floor, matching DuckDB's micro-truncation.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet isAdjustedToUTC=false surfaces as TIMESTAMP_NTZ, which
            # half the epoch functions (unix_micros & co.) reject. Under the
            # pinned UTC session the cast keeps the same wall clock == same
            # instant, and matches how DuckDB treats the naive value.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every testdata table as a temp view (the rebuild's 'crawler')."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
