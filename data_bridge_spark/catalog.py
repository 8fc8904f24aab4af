"""Table catalog over the test parquet directories.

The reference materializes every extract eagerly (reference
``app/utils/extractor.py:96-105`` does ``fetchall()`` into pandas); here a
"table" is a lazy ``spark.read.parquet`` plan so Catalyst sees column
pruning and predicate pushdown opportunities across the whole query.
"""

from __future__ import annotations

import os
import stat
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["TABLE_NAMES", "Tables", "default_sf_dir"]

TABLE_NAMES = (
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


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame, as_ntz: bool = True) -> DataFrame:
    """Normalize events.ts to microsecond precision across data vintages.

    The testdata generator has written ts as either TIMESTAMP(NANOS) —
    which Spark's reader rejects unless nanos are read as long (legacy
    ``spark.sql.legacy.parquet.nanosAsLong``) and rebuilt, flooring to
    micros exactly as DuckDB does when fetching ns timestamps — or plain
    TIMESTAMP(MICROS)/NTZ. Branch on the scanned type so both vintages
    read identically, for batch and streaming scans alike. Floor division
    is done as ``(ts - pmod(ts, 1000)) DIV 1000`` — exact integer
    arithmetic that floors for negative (pre-epoch) nanos too, where a
    bare ``DIV`` would truncate toward zero and drift 1µs from DuckDB.

    ``as_ntz=True`` (batch/oracle path) yields TIMESTAMP_NTZ to match
    DuckDB's naive timestamps; ``as_ntz=False`` yields TIMESTAMP, which
    watermarks/event-time require (the session tz is pinned UTC, so the
    two render identical instants)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    target = "timestamp_ntz" if as_ntz else "timestamp"
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        micros = "timestamp_micros((ts - pmod(ts, 1000L)) DIV 1000)"
        return df.withColumn("ts", F.expr(f"CAST({micros} AS {target})"))
    return df.withColumn("ts", F.col("ts").cast(target))


# Post-scan widening: the test parquet files are single-row-group, so the
# scan is one task no matter spark.sql.files.maxPartitionBytes — every
# downstream expression would run on one core. Files in this size band get
# an explicit repartition to cluster width. On a real deployment (files
# with many row groups / many files) the scan is already wider than the
# core count and the widen never fires.
#
# r13: MAX tightened 2 GB -> 16 MB on direct interleaved evidence
# (widen on vs off between samples in one process; tools/ab.py
# reproduces it by rebinding _WIDEN_MAX_BYTES to 0). The widen trades one
# full-table exchange for parallelism of the scan-stage work; that trade
# inverts as the table grows — shipping every row costs more than the
# serial partial work it parallelizes.
# Measured: at sf0.1 (largest file 10.8 MB) widen-on wins 10.11->9.25 s
# over the 10-query probe set; at sf1 (lineitem 184 MB, orders 30 MB,
# events 21 MB) widen-on LOSES 16.36->18.55 s, with the losses exactly
# on the >16 MB tables (agg_report 0.71x, window_rank 0.68x,
# fk 0.88x). 16 MB keeps every sf0.1 file inside the band (driver bench
# behavior unchanged) and stops the mechanism where the decade of
# measurement says it hurts.
_WIDEN_MIN_BYTES = 150 * 1024
_WIDEN_MAX_BYTES = 16 * 1024**2

# r12 (optimization): the widen hash-partitions on each table's primary
# key instead of round-robin. A keyless repartition(n) costs an extra
# LOCAL SORT of its entire input inside the (single) scan task
# (spark.sql.execution.sortBeforeRepartition, on by default so retried
# tasks reproduce their row-to-partition assignment — a hash key is
# deterministic by construction, so it needs no such sort), and its
# RoundRobinPartitioning can never satisfy a downstream distribution
# requirement. HashPartitioning(pk, n) satisfies ClusteredDistribution
# for every aggregation/join keyed on the pk — EnsureRequirements then
# inserts NO exchange for the first keyed operation on the table (the
# measured flagship_report plan: scan→widen→agg→join ran 2 exchanges on
# lineitem before, 1 after). The keys are the near-unique primary keys,
# so the hash spreads uniformly (guide §2.5: use keys with far more
# distinct values than partitions). Skew on a real deployment is not a
# concern here — the widen never fires there.
_WIDEN_KEYS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "nation": "n_nationkey",
    "region": "r_regionkey",
}

# r12 (optimization): raw read plans are shared by every reader of one
# session. Each registered query's fn() builds a fresh Tables and each
# stream run extracts its files again, and every spark.read call costs a
# schema-inference round trip (a Spark job for parquet footers, a header
# read for CSV) — profiled at ~0.1 s per table per query BUILD
# (fk_integrity_audit: 7 tables, ~0.7 s of its 0.9 s build). A DataFrame
# is an immutable plan, so the read is reusable. The dict lives on the
# session object, so it dies with its session and a newSession() starts
# empty. It maps (path, plan) -> (mtime_ns, size, DataFrame), where plan
# is everything besides the file that determines the read's plan (format,
# options, schema, a normalization): a file regenerated in place replaces
# its entry instead of adding one.
PARQUET_PLAN = ("parquet", (), None)
_EVENTS_PLAN = (*PARQUET_PLAN, "normalize_event_ts")


def _raw_reads(spark: SparkSession) -> dict[tuple[str, tuple], tuple[int, int, DataFrame]]:
    if not hasattr(spark, "_databridge_raw_reads"):
        spark._databridge_raw_reads = {}
    return spark._databridge_raw_reads


def read_once(
    spark: SparkSession, path: str, plan: tuple, read: Callable[[], DataFrame]
) -> DataFrame:
    """``read()``, computed once per session, ``plan`` key and version of
    the file at ``path``. Only a regular local file is cached: a
    directory's file index is fixed when it is read (a cached frame would
    miss files added later), and a path ``os.stat`` cannot see (an object
    store URI) has no version to check."""
    try:
        st = os.stat(path)
    except OSError:
        return read()
    if not stat.S_ISREG(st.st_mode):
        return read()
    version = (st.st_mtime_ns, st.st_size)
    cache = _raw_reads(spark)
    hit = cache.get((path, plan))
    if hit is not None and hit[:2] == version:
        return hit[2]
    df = read()
    cache[(path, plan)] = (*version, df)
    return df


class Tables:
    """Lazy accessor: ``Tables(spark, sf_dir).lineitem`` → DataFrame plan.

    Each attribute is a fresh ``spark.read.parquet`` logical plan; no data
    moves until an action. ``view()`` registers temp views for SQL-form
    operators. Filters/projections still push into the scan below the
    widen repartition (Catalyst pushes predicates through Repartition).
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir or default_sf_dir()
        self._cache: dict[str, DataFrame] = {}
        # Pin the confs result-correctness depends on, so queries behave
        # identically on ANY caller-provided session (the grading driver
        # builds its own): UTC session tz (the events nanos→NTZ rebuild
        # renders instants in session tz) and NTZ inference for the
        # naive-timestamp parquet columns. Both are runtime-settable.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # The "spark" dialect of functions/templating.sql_literal doubles
        # backslashes on the assumption that the parser un-escapes them
        # (escapedStringLiterals false): with the legacy conf enabled, a
        # rendered value holding a backslash would reach the query
        # doubled. Pin it false (the default) alongside the other
        # correctness-critical confs.
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")

    def table(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
        if name not in self._cache:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            if name == "events":
                df = read_once(self.spark, path, _EVENTS_PLAN, lambda: self._read_events(path))
            else:
                df = read_once(self.spark, path, PARQUET_PLAN, lambda: self.spark.read.parquet(path))
            try:
                size = os.path.getsize(path)
            except OSError:
                size = 0
            if _WIDEN_MIN_BYTES <= size <= _WIDEN_MAX_BYTES:
                df = df.repartition(self.spark.sparkContext.defaultParallelism, _WIDEN_KEYS[name])
            self._cache[name] = df
        return self._cache[name]

    def _read_events(self, path: str) -> DataFrame:
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(self.spark.read.parquet(path))

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self.table(name)
        except KeyError as exc:  # pragma: no cover
            raise AttributeError(name) from exc

    def view(self, *names: str) -> None:
        """Register temp views (default: all tables) for spark.sql use."""
        for name in names or TABLE_NAMES:
            self.table(name).createOrReplaceTempView(name)
