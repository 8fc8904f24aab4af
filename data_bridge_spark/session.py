"""SparkSession factory.

The reference runs everything in one Python process (reference
``app/utils/datastream.py:27-53``); here the session is the engine. Defaults
are tuned so the same code is correct on ``local[N]`` for tests and on a
multi-executor cluster at 100 TB:

- AQE on (runtime join-strategy selection, skew splitting, partition
  coalescing) — the scale knobs the reference never had.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a higher initial number.
- Arrow on for every pandas-UDF edge.
- Session timezone UTC: test parquet stores naive (NTZ) timestamps and the
  DuckDB oracle is UTC-naive; UTC makes collected values identical.
- A codegen class cache that holds the registry's working set, so a
  long-lived process compiles each generated class once.
- No console progress bar: its ``[Stage N:>`` lines would fill stderr,
  which should carry only warnings.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "fence", "local_frame"]

# Entries of Spark's JVM-wide cache of compiled generated classes
# (spark.sql.codegen.cache.maxEntries, default 100). The engine re-runs
# the same queries in one process, so a cache smaller than their working
# set recompiles on every pass: a warm pass of the build-heavy bench trio
# (sf0.1) recompiles ~120 classes at the default and none at this cap.
# Sizing, measured on 4 cores: one sweep of the 233 registered queries at
# sf0.01 (dedup_ppjoin skipped) compiles ~2,480 distinct classes, and a
# second sweep in the same process recompiles 3,435 at the default cap,
# 113 at 4096 and 105 unbounded (the rest generate new source each run);
# metaspace is 197-215 MB either way. 4096 covers the registry.
# A static conf: read once per JVM when the code generator first runs,
# so it must be set when the session is created; extra_conf overrides it.
_CODEGEN_CACHE_ENTRIES = 4096


def _scratch_dir() -> str:
    """Spark scratch under the repo's gitignored .scale/ — a path with
    the same lifetime as the process owner, not /tmp's cleaner."""
    d = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sparktmp")
    os.makedirs(d, exist_ok=True)
    return d


def get_spark(
    app_name: str = "data_bridge_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` with a pre-set ``spark.master``
    in the environment, or hand in ``extra_conf``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # shuffle/blockmgr scratch OFF /tmp (r11): a multi-hour sf10 run
    # died mid-stage with "No such file or directory" on its own
    # blockmgr temp files — /tmp is subject to age-based cleaning
    # this process doesn't control, and an hour-old shuffle file is
    # exactly what a long scan needs back. Same class of choice as a
    # cluster's dedicated scratch volumes. SPARK_LOCAL_DIRS, when set,
    # wins without the conf: Spark reads the env var itself and warns
    # that it overrides spark.local.dir if both are given.
    if "SPARK_LOCAL_DIRS" not in os.environ:
        builder = builder.config("spark.local.dir", _scratch_dir())
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # Sweep hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" perturbs execution
    # (partition counts, AQE off, repartition sort) without code changes —
    # the determinism sweeps re-run the full oracle corpus under these.
    # Applied AFTER extra_conf: an explicit sweep perturbation must win over
    # caller defaults, else a sweep can report green while never actually
    # running under the perturbed conf. Overlaps are logged to stderr.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    env_pairs: dict[str, str] = {}
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        env_pairs[k.strip()] = v.strip()
    for k, v in env_pairs.items():
        if extra_conf and k in extra_conf and str(extra_conf[k]) != v:
            print(
                f"[data_bridge_spark.session] SPARK_GRAFT_EXTRA_CONF overrides "
                f"extra_conf {k}: {extra_conf[k]!r} -> {v!r}",
                file=sys.stderr,
            )
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if env_pairs:
        # getOrCreate ignores every builder conf when a session already
        # lives — and "already lives" includes the default session reused
        # for a thread where no session is ACTIVE, which a
        # getActiveSession() pre-check misses (r10, ADVICE). So always
        # compare the live conf against the sweep keys after getOrCreate:
        # a freshly created session matches and stays silent; any reuse
        # path that dropped a key fails loudly instead of letting a sweep
        # run unperturbed.
        stale = {
            k: spark.conf.get(k, None)
            for k, v in env_pairs.items()
            if spark.conf.get(k, None) != v
        }
        if stale:
            print(
                f"[data_bridge_spark.session] WARNING: pre-existing session "
                f"ignores SPARK_GRAFT_EXTRA_CONF keys {stale} — sweep conf "
                f"NOT applied",
                file=sys.stderr,
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def drop_dead_blocks(spark: SparkSession) -> None:
    """Blocking unpersist of every persisted RDD — long multi-query
    drivers (selfcheck sweeps, benches) otherwise accumulate gigabytes
    of orphaned localCheckpoint blocks whose GC pressure can wedge the
    JVM mid-run (an r5 sweep saw a 12 s query stall 80+ minutes). One
    shared implementation for every driver tool."""
    try:
        # clearCache first: persist fences register in the CacheManager
        # (keyed by canonicalized plan), and a later invocation of the
        # same query would otherwise MATCH the previous sample's entry —
        # every timed sample must recompute from the parquet inputs.
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
    except Exception:
        spark.catalog.clearCache()


def fence(df, *, cut: bool = False, eager: bool = False):
    """Compute ``df`` once for all of its consumers: the one "compute this
    once" point in a query plan.

    - ``cut=False`` (default) is ``persist()``. Lineage stays, so losing an
      executor recomputes the lost blocks instead of failing the query, and
      the fence costs nothing at build time. Use it for any subtree read by
      several branches.
    - ``cut=True`` is ``localCheckpoint(eager)``: the plan is truncated at
      the fence. Cut in the iterative loops (CC labels, PageRank), whose
      plan otherwise grows every round, and at the multi-consumer sites
      where an interleaved A/B measured the raw blocks faster to read back
      than the columnar persist cache (each such site cites it). A cut
      plans its subtree when the DataFrame is built, and its blocks are
      executor-local: losing an executor fails the query.
    - ``eager=True`` materializes at the call; persist is always lazy.

    Durability: when the conf ``spark.databridge.checkpointDir`` is set
    (runtime-settable, so a caller's own session can set it), every fence,
    cut or not, becomes a reliable ``checkpoint(eager)`` into that
    directory, which survives executor loss. This is the only place the
    conf is read. Multi-query drivers drop fenced blocks between queries
    with ``drop_dead_blocks``."""
    spark = df.sparkSession
    durable = spark.conf.get("spark.databridge.checkpointDir", None)
    if durable:
        spark.sparkContext.setCheckpointDir(durable)
        return df.checkpoint(eager=eager)
    if cut:
        return df.localCheckpoint(eager=eager)
    return df.persist()


def local_frame(spark: SparkSession, rows, schema):
    """Rows held in Python (tuples in ``schema`` order; ``schema`` is a
    StructType or a DDL string) as a DataFrame that never starts a Python
    worker.

    ``createDataFrame(list)`` goes through ``parallelize``: every
    evaluation of the frame, and of every plan built on it, runs Python
    worker tasks to deserialize the rows again. Handed one Arrow table
    instead, Spark converts the batches in the JVM into a
    ``LocalRelation`` (a JVM-side RDD past
    ``spark.sql.execution.arrow.localRelationThreshold``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)
