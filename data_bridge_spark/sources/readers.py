"""Source readers: distributed where the data is tabular, driver-side
transport only at the network edges (matching the reference's single-node
SFTP behavior, reference ``app/utils/extractor.py:39-50``).

The JDBC reader reproduces the reference's whole-query pushdown model
(``extractor.py:57-105``): the *plan is the SQL text*, executed by the
source database; Spark adds partitioned reads on top when a partition
column is provided.
"""

from __future__ import annotations

import os
import tempfile
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession

from data_bridge_spark.catalog import read_once
from data_bridge_spark.functions.templating import render_sql

if TYPE_CHECKING:
    from data_bridge_spark.plans.models import SourceFile, SourceSftp, SourceSql


def read_file_source(spark: SparkSession, src: "SourceFile", table: str | None = None) -> DataFrame:
    """Columnar scan of a file source; explicit schema wins over inference
    (the reference's declared-map idea, extractor.py:122-172).

    The read of a regular local file is shared through the session's
    raw-read cache (:func:`data_bridge_spark.catalog.read_once`), keyed by
    the path and by everything that determines the plan: format, options
    and schema. A stream extracting a file another step, another run or
    the catalog already read pays no second schema inference."""
    path = os.path.join(src.path, table) if table else src.path
    options = dict(src.options or {})
    if src.format == "csv":
        from data_bridge_spark.sinks.writers import CSV_READ_OPTIONS

        # src.options may override the fidelity defaults (external CSVs
        # that use a different null token)
        options = {**CSV_READ_OPTIONS, **options}

    def read() -> DataFrame:
        reader = spark.read.options(**options)
        if src.schema_ddl:
            reader = reader.schema(src.schema_ddl)
        if src.format == "parquet":
            return reader.parquet(path)
        if src.format == "csv":
            return reader.csv(path)
        return reader.json(path)

    plan = (src.format, tuple(sorted(options.items())), src.schema_ddl or None)
    return read_once(spark, path, plan, read)


def read_jdbc(
    spark: SparkSession,
    src: "SourceSql",
    query: str,
    params: dict[str, Any] | None = None,
    step_outputs: dict[str, Any] | None = None,
    custom_schema: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    push_down_predicate: bool = True,
    push_down_limit: bool = True,
    push_down_aggregate: bool = True,
) -> DataFrame:
    """Parameterized JDBC query scan (ref extractor.py:57-105, bugs fixed).

    The ::key:: template renders to literals (ref grammar, list params
    expand to IN lists) and the *whole query* pushes to the source DB —
    the reference's semantics exactly. With ``partition_column``/bounds,
    Spark splits the read into ``num_partitions`` parallel range scans,
    the distributed upgrade the reference's single fetchall() lacked.

    List params above ``MAX_INLINE_LIST`` raise: there is no temp-view
    escape hatch on a remote DB, and an unbounded IN-list blows up both
    the driver string and the remote parser. Stage oversize key sets to
    the cluster and join_semi instead.

    Literal rendering follows ``src.dialect`` — "backslash" for backends
    (MySQL/MariaDB) whose string literals process backslash escapes, so
    data-carrying params can't break out of their quotes there either.

    Pushdown knobs: ``push_down_predicate`` controls whether
    Spark-side filters layered ON TOP of the rendered query are pushed
    into the remote WHERE clause (on by default; the plan shows them as
    ``PushedFilters`` — tests/test_jdbc.py asserts both states against
    live Derby). ``push_down_limit`` / ``push_down_aggregate`` set the
    same-named JDBC options, which the V1 ``format("jdbc")`` relation
    does NOT consult — aggregate/limit pushdown only engages on the
    DataSource-V2 catalog path, where :func:`register_jdbc_catalog`
    takes the equivalent parameters. They are recorded here only so a
    reader spec carried over to V2 keeps its contract.
    """
    rendered = render_sql(
        query, params or {}, step_outputs, dialect=getattr(src, "dialect", "ansi")
    )
    reader = (
        spark.read.format("jdbc")
        .option("url", src.url)
        .option("query", rendered)
    )
    if src.driver:
        reader = reader.option("driver", src.driver)
    if src.user:
        reader = reader.option("user", src.user).option("password", src.password)
    if custom_schema:
        reader = reader.option("customSchema", custom_schema)
    if partition_column:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read requires lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    reader = (
        reader.option("pushDownPredicate", str(push_down_predicate).lower())
        .option("pushDownLimit", str(push_down_limit).lower())
        .option("pushDownAggregate", str(push_down_aggregate).lower())
    )
    return reader.load()


def register_jdbc_catalog(
    spark: SparkSession,
    name: str,
    src: "SourceSql",
    push_down_aggregate: bool = True,
    push_down_limit: bool = True,
) -> None:
    """Expose a JDBC source as a Spark SQL catalog (DataSource V2).

    ``spark.sql(f"SELECT ... FROM {name}.schema.table")`` then plans
    through ``JDBCTableCatalog``, the path where Spark's aggregate /
    limit / offset pushdown to the remote database actually engages
    (V1 ``format("jdbc")`` only pushes predicates). The upgrade over
    the reference's ship-SQL-text model (ref extractor.py:63,96): the
    user writes Spark SQL against remote tables and Catalyst decides
    per-plan what runs remotely — ``PushedAggregates``/``PushedFilters``
    appear in the scan node (asserted live in tests/test_jdbc.py)."""
    base = f"spark.sql.catalog.{name}"
    spark.conf.set(base, "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(f"{base}.url", src.url)
    spark.conf.set(f"{base}.pushDownAggregate", str(push_down_aggregate).lower())
    spark.conf.set(f"{base}.pushDownLimit", str(push_down_limit).lower())
    if src.driver:
        spark.conf.set(f"{base}.driver", src.driver)
    if src.user:
        spark.conf.set(f"{base}.user", src.user)
        spark.conf.set(f"{base}.password", src.password)


def read_sftp_source(
    spark: SparkSession,
    src: "SourceSftp",
    staging_dir: str | None = None,
    transport: Any | None = None,
) -> DataFrame:
    """SFTP fetch → local staging → distributed read.

    The network hop is driver-side (as in the reference,
    extractor.py:39-50 — the remote host is the bottleneck either way);
    everything after the staging file is a normal partitioned scan.
    ``transport`` is injectable for tests; the real one needs a pysftp/
    paramiko install, gated behind import.
    """
    staging_dir = staging_dir or tempfile.mkdtemp(prefix="dbs_sftp_")
    local = os.path.join(staging_dir, os.path.basename(src.remote_path))
    if transport is not None:
        transport.get(src.remote_path, local)
    else:  # pragma: no cover - needs a live SFTP peer
        from data_bridge_spark.sources.ssh import open_ssh_client

        try:
            client = open_ssh_client(
                src.host,
                port=src.port,
                user=src.user,
                password=src.password,
                host_key_fingerprint=src.host_key_fingerprint,
            )
        except ImportError as exc:
            raise NotImplementedError(
                "SFTP transport requires paramiko/pysftp (not in this environment); "
                "pass `transport=` explicitly"
            ) from exc
        sftp = client.open_sftp()
        try:
            sftp.get(src.remote_path, local)
        finally:
            sftp.close()
            client.close()
    if src.format == "parquet":
        return spark.read.parquet(local)
    if src.format == "csv":
        from data_bridge_spark.sinks.writers import CSV_READ_OPTIONS

        return spark.read.options(**CSV_READ_OPTIONS).csv(local)
    return spark.read.json(local)
