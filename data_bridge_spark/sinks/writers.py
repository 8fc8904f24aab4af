"""Sinks: deliver query results, returning a DestinationResponse receipt
per load (reference ``app/utils/loader.py:54-65``).

Two write shapes:

- **distributed**: ``df.write.*`` straight to the destination path —
  the 100 TB path, one file per partition.
- **single-file** (the reference's semantics: one CSV buffer per delivery,
  ``transformutils.py:7-13``): written distributed to a temp dir with
  ``coalesce(1)`` and the single part-file moved to the target name. The
  data still never collects onto the driver as rows.

SMTP/SFTP network hops are driver-side by design (the reference is
single-node there too, ``loader.py:26-65,141-172``); transports are
injectable so tests run without live peers.
"""

from __future__ import annotations

import glob
import os
import shutil
import smtplib
import tempfile
from email.message import EmailMessage
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.errors.exceptions.captured import AnalysisException

from data_bridge_spark.plans.models import DestinationResponse
from data_bridge_spark.session import fence, local_frame

if TYPE_CHECKING:
    from data_bridge_spark.plans.models import DestLake, DestSftp, DestSmtp


# CSV fidelity contract (r9, found by the edgevals fixture): NULL serializes
# as the \\N token so a reader can distinguish it from the quoted empty
# string (Spark's default nullValue "" conflates the two on read), and
# readers must pass multiLine=true or an embedded newline splits one record
# into two. Every CSV site in the engine uses these paired options.
#
# Residual conflation (documented, r10): a GENUINE string value '\\N' is
# written unescaped and reads back as NULL — Spark matches nullValue both
# unquoted and quoted on read, so no quoting escapes it. This is the
# standard trade of every sentinel-token CSV scheme (mysqldump, Hive text
# tables make the same one); the literal '\\N' string is in the edgevals
# VARCHAR corpus (tools/make_edgevals.py) so any CSV round-trip query
# surfaces it the day a workload actually carries that value. Lossless
# transport of arbitrary strings is what the parquet sinks are for.
CSV_NULL_TOKEN = "\\N"
CSV_WRITE_OPTIONS = {"header": "true", "nullValue": CSV_NULL_TOKEN}
CSV_READ_OPTIONS = {"header": "true", "nullValue": CSV_NULL_TOKEN, "multiLine": "true"}


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "csv",
    single_file: bool = False,
    mode: str = "overwrite",
) -> int:
    """Write a DataFrame to ``path``; returns rows written.

    ``single_file=True`` produces exactly one artifact at ``path`` (the
    reference's per-delivery CSV, A11); otherwise ``path`` is a directory
    of part files (distributed layout).

    The returned row count comes from ``df.observe`` metrics accumulated
    by the write job itself — one execution per delivery, and the receipt
    always describes the rows actually written (a separate ``count()``
    would re-run the plan and could disagree on non-deterministic plans).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))

    def observed() -> int:
        return int(obs.get["n"])

    if not single_file:
        writer = df.write.mode(mode)
        if fmt == "csv":
            writer.options(**CSV_WRITE_OPTIONS).csv(path)
        elif fmt == "parquet":
            writer.parquet(path)
        else:
            writer.json(path)
        return observed()

    tmp = tempfile.mkdtemp(prefix="dbs_sink_")
    try:
        out = os.path.join(tmp, "out")
        writer = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer.options(**CSV_WRITE_OPTIONS).csv(out)
            pattern = "part-*.csv"
        elif fmt == "parquet":
            writer.parquet(out)
            pattern = "part-*.parquet"
        else:
            writer.json(out)
            pattern = "part-*.json"
        parts = glob.glob(os.path.join(out, pattern))
        if len(parts) != 1:  # pragma: no cover
            raise RuntimeError(f"expected one part file, found {parts}")
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        shutil.move(parts[0], path)
        return observed()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _canon_partition_values(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Hive-layout canonicalization: an empty-string partition value is
    indistinguishable from NULL in the directory name (Spark writes both
    to __HIVE_DEFAULT_PARTITION__ and reads both back as NULL). Make the
    conflation explicit at write time so it is a documented contract of
    the partition KEY — value-bearing empty strings belong in data
    columns, not partition keys — and so the upsert's touched-partition
    derivation, its null-safe pruning filter, and the physical layout all
    agree on the same canonical value. Found by the r9 edgevals fixture
    (an '' o_orderstatus read back as NULL and failed the round trip)."""
    from pyspark.sql import functions as F

    types = dict(df.dtypes)
    for c in partition_cols:
        if types.get(c) == "string":
            df = df.withColumn(c, F.nullif(F.col(c), F.lit("")))
    return df


def write_partitioned_table(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> int:
    """Hive-style partitioned layout write; returns rows written.

    The 100 TB lakehouse write path: ``partitionBy`` lays data out as
    ``path/col=value/`` directories so later reads prune whole
    partitions at PLANNING time (``PartitionFilters`` in the scan — a
    filtered read lists only matching directories, it never opens the
    rest), and a filtered JOIN prunes them at RUNTIME via dynamic
    partition pruning (``dynamicpruning`` subquery in the scan node).
    Both behaviors are plan-asserted in tests/test_partitioning.py.

    ``sort_cols`` additionally sorts rows *within* each output file
    (``sortWithinPartitions``) so min/max row-group statistics on those
    columns become selective — the poor-man's clustering that lets
    parquet row-group skipping work on a second dimension the directory
    layout doesn't cover. Row count comes from the write job's own
    ``observe`` metrics, like :func:`write_table`.

    Task distribution: hashing on the partition columns alone would give
    each partition VALUE exactly one writer task — a straggler sorting
    one giant file per hot partition once the column is low-cardinality
    or skewed. With ``sort_cols`` the data is range-partitioned on
    (partition, sort) so a hot partition value splits across tasks by
    sort range and each task still emits one internally-sorted file;
    without them, a deterministic hash salt spreads each value over
    multiple writer tasks/files."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = _canon_partition_values(df, partition_cols)
    obs = Observation()
    pcols = [F.col(c) for c in partition_cols]
    if sort_cols:
        out = df.repartitionByRange(*pcols, *[F.col(c) for c in sort_cols])
        out = out.sortWithinPartitions(*[*partition_cols, *sort_cols])
    else:
        salt = F.pmod(F.abs(F.hash(*[F.col(c) for c in df.columns])), F.lit(64))
        out = df.repartition(*pcols, salt)
    out = out.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = out.write.mode(mode).partitionBy(*partition_cols)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.options(**CSV_WRITE_OPTIONS).csv(path)
    else:
        writer.json(path)
    return int(obs.get["n"])


def compact_partitioned_table(
    spark,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction for a Hive-partitioned parquet table.

    Streaming ingestion and salted writes both leave many small files
    per partition directory; at scale that turns every scan into a
    file-listing and task-scheduling problem (N tasks for N tiny files)
    and row-group statistics lose selectivity. Compaction rewrites the
    table through the same layout path (`write_partitioned_table`, so
    sort clustering is re-established) with ``maxRecordsPerFile``
    bounding file size, into a sibling temp directory, then swaps it in
    — readers see either the old table or the new one, never a partial
    rewrite. Returns rows rewritten.

    Concurrency note: the swap is near-atomic against READERS on a POSIX
    filesystem — it is two renames (live → ._replaced, then tmp → live),
    so a reader listing in the brief window between them sees the path
    absent; a concurrent WRITER to the old path is lost —
    at cluster scale pause ingestion or use a table format with commit
    logs (the streaming lake sink's ``_spark_metadata`` already gives
    single-writer atomicity)."""
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compacting"
    old = path.rstrip("/") + "._replaced"
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", None)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(max_records_per_file))
    try:
        n = write_partitioned_table(
            df, tmp, partition_cols=partition_cols, sort_cols=sort_cols
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        else:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return n


def _partition_leaf_rels(root: str, depth: int) -> list[str]:
    """Relative ``col=value/.../col=value`` leaf-directory paths under a
    Hive-layout table root, exactly as Spark wrote them (escaped names,
    ``__HIVE_DEFAULT_PARTITION__`` for NULL). Non-partition entries
    (_SUCCESS and friends) are skipped."""
    out: list[str] = []

    def _walk(rel: str, d: int) -> None:
        full = os.path.join(root, rel) if rel else root
        for entry in os.listdir(full):
            if "=" not in entry:
                continue
            sub = os.path.join(rel, entry) if rel else entry
            if d == 1:
                out.append(sub)
            else:
                _walk(sub, d - 1)

    _walk("", depth)
    return out


def emit_tombstones(
    spark,
    updates: DataFrame,
    path: str,
    partition_cols: list[str],
    key_cols: list[str],
) -> DataFrame:
    """(key_cols..., partition_cols...) rows for update keys whose NEW
    partition assignment differs from the one they currently occupy in
    the table at ``path`` — the partition columns in the output are the
    OLD (on-disk) values, i.e. exactly the leaves the upsert must also
    rewrite to delete the moved key's stale row.

    This closes the upsert's caller contract ("a key that moves
    partitions must ship the old partition's tombstone"): feed the
    result to :func:`upsert_partitioned_table`'s ``tombstones`` param
    and a moved key lands in its new partition without duplicating in
    its old one.

    Cost model: one scan of the existing table with the update key set
    broadcast (map-side hash probe — the big side never shuffles),
    output ∝ moved keys. At 100 TB you'd bound the scan further with a
    key→partition index or a table format's column stats; the plan
    shape here is the fallback that always works."""
    from pyspark.sql import functions as F

    new_assign = updates.select(
        *key_cols, *[F.col(c).alias(f"__new_{c}") for c in partition_cols]
    )
    try:
        existing = spark.read.parquet(path).select(*key_cols, *partition_cols)
    except AnalysisException:
        # empty table on disk (no data files): nothing can have moved
        return updates.select(*key_cols, *partition_cols).limit(0)
    moved = F.lit(False)
    for c in partition_cols:
        moved = moved | ~F.col(c).eqNullSafe(F.col(f"__new_{c}"))
    return (
        existing.join(F.broadcast(new_assign), key_cols)
        .filter(moved)
        .select(*key_cols, *partition_cols)
    )


def upsert_partitioned_table(
    spark,
    updates: DataFrame,
    path: str,
    partition_cols: list[str],
    key_cols: list[str],
    sort_cols: list[str] | None = None,
    tombstones: DataFrame | None = None,
) -> int:
    """Partition-scoped upsert (MERGE emulation without a table format):
    replace rows matching ``key_cols``, keep the partition's other rows,
    insert new rows — rewriting ONLY the ``col=value/`` leaf directories
    the updates touch. Untouched partitions' files are not read, not
    rewritten, not even listed by the merge: upsert cost is proportional
    to the churned partitions, not the table — the property that makes
    daily upserts into a 100 TB lake viable.

    Mechanics: the touched partition tuples come from the updates
    (distinct-collect — bounded by churn, a declared driver edge); the
    existing table is read with a partition-pruned filter (planning-time
    pruning, so only touched directories are listed); kept = existing
    anti-join updates on the key; merged = kept ∪ updates, written
    through :func:`write_partitioned_table` into a sibling temp dir; each
    written leaf directory is then swapped into the live table with
    renames (near-atomic per partition: the swap is two renames, so a
    concurrent POSIX reader listing in the brief window between them can
    see the leaf absent — the same contract as
    :func:`compact_partitioned_table`; on object stores use a commit-log
    table format instead). Returns rows written.

    Caller contract: ``key_cols`` are non-null. A key's partition
    assignment is assumed stable UNLESS ``tombstones`` is given: pass
    :func:`emit_tombstones`' output (update keys with their OLD on-disk
    partition values) and the moved keys' old leaves join the touched
    set, so the stale rows are dropped by the same key anti-join that
    replaces rows in-place — no duplicate survives a partition move.

    The change batch is computed once: it feeds the touched collect, the
    key anti-join, the range-partition sample and the write, so it is
    fenced for the length of the call (bounded by churn; a reliable
    checkpoint under ``spark.databridge.checkpointDir``). A batch the
    caller already cached is used as is and stays cached."""
    from pyspark import StorageLevel

    owned = updates.storageLevel == StorageLevel.NONE
    updates = _canon_partition_values(updates, partition_cols)
    if owned:
        # eager only matters for the durable checkpoint: written by the
        # job that computes the batch, not by a second pass after it
        updates = fence(updates, eager=True)
    try:
        return _upsert(spark, updates, path, partition_cols, key_cols, sort_cols, tombstones)
    finally:
        if owned:
            updates.unpersist()


def _upsert(
    spark,
    updates: DataFrame,
    path: str,
    partition_cols: list[str],
    key_cols: list[str],
    sort_cols: list[str] | None,
    tombstones: DataFrame | None,
) -> int:
    from functools import reduce
    from operator import and_, or_

    from pyspark.sql import functions as F

    if tombstones is not None:
        tombstones = _canon_partition_values(tombstones, partition_cols)
    touched_df = updates.select(*partition_cols)
    if tombstones is not None:
        touched_df = touched_df.unionByName(tombstones.select(*partition_cols))
    touched = [tuple(r) for r in touched_df.distinct().collect()]
    if not touched:
        return 0
    # an existing table that was written EMPTY has no data files (just
    # _SUCCESS), so schema inference fails — treat it as zero existing
    # rows with the updates' own schema (first real upsert populates it)
    try:
        existing = spark.read.parquet(path)
    except AnalysisException:
        existing = local_frame(spark, [], updates.schema)
    # eqNullSafe so a NULL partition value (written as
    # __HIVE_DEFAULT_PARTITION__) prunes in like any other; the isin
    # fast path only when no NULL is present (isin never matches NULL)
    if len(partition_cols) == 1 and not any(t[0] is None for t in touched):
        prune = F.col(partition_cols[0]).isin([t[0] for t in touched])
    else:
        prune = reduce(
            or_,
            [
                reduce(
                    and_,
                    [
                        F.col(c).eqNullSafe(F.lit(v))
                        for c, v in zip(partition_cols, t)
                    ],
                )
                for t in touched
            ],
        )
    kept = existing.filter(prune).join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    # align update columns to the existing table's physical types: without
    # the cast, a wider update type (double vs decimal) makes unionByName
    # coerce, and touched partitions would be rewritten with a different
    # parquet type than untouched ones — a later whole-table read then
    # fails on the mixed schema. A NullType existing column (a partition
    # column whose only on-disk value is __HIVE_DEFAULT_PARTITION__ infers
    # as VOID) carries no type information — keep the updates' type there
    # (unionByName coerces the kept side's VOID up to it).
    from pyspark.sql.types import NullType

    aligned = updates.select(
        *[
            (
                F.col(c)
                if isinstance(existing.schema[c].dataType, NullType)
                else F.col(c).cast(existing.schema[c].dataType)
            ).alias(c)
            for c in existing.columns
        ]
    )
    merged = kept.unionByName(aligned)
    tmp = path.rstrip("/") + "._upserting"
    n = write_partitioned_table(
        merged, tmp, partition_cols=partition_cols, sort_cols=sort_cols
    )
    # swap each written leaf dir (depth == len(partition_cols)) into place
    depth = len(partition_cols)
    leaves = _partition_leaf_rels(tmp, depth)
    for rel in leaves:
        src = os.path.join(tmp, rel)
        dst = os.path.join(path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        old = dst.rstrip("/") + "._replaced"
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)
    # a touched partition whose merged result is EMPTY (e.g. its only row
    # was a moved key's tombstone) writes no leaf above — drop the live
    # leaf too, or the stale row would survive the upsert. The touched
    # leaf names must match the on-disk layout BYTE-EXACTLY, and Spark
    # Hive-escapes partition values (%-encoding of ':','%','=', ...),
    # formats date/timestamp values specially, and writes NULL as
    # __HIVE_DEFAULT_PARTITION__ — so instead of re-implementing that
    # escaping, let Spark produce the names: write one dummy row per
    # touched tuple partitioned the same way and walk the result (cost
    # ∝ churned partitions, same bound as the touched collect above).
    # built from the COLLECTED tuples, not touched_df: that lineage can
    # read the live table (via tombstones) whose files were just swapped
    scratch = path.rstrip("/") + "._touchedleaves"
    part_schema = updates.select(*partition_cols).schema
    (
        local_frame(spark, touched, part_schema)
        .withColumn("__d", F.lit(1))
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(scratch)
    )
    touched_rels = _partition_leaf_rels(scratch, depth)
    shutil.rmtree(scratch, ignore_errors=True)
    written = set(leaves)
    for rel in touched_rels:
        live = os.path.join(path, rel)
        if rel not in written and os.path.isdir(live):
            shutil.rmtree(live, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return n


def write_fileshare(
    df: DataFrame,
    mount_path: str,
    remote_dir: str,
    file_name: str,
    fmt: str = "csv",
    single_file: bool = True,
    destination_name: str = "fileshare",
) -> DestinationResponse:
    """Mounted-share delivery (ref loader.py:111-139)."""
    target = os.path.join(mount_path, remote_dir, file_name)
    try:
        n = write_table(df, target, fmt=fmt, single_file=single_file)
        return DestinationResponse(
            destination_name=destination_name,
            status="success",
            message=f"wrote {target}",
            records_processed=n,
        )
    except Exception as exc:
        return DestinationResponse(
            destination_name=destination_name, status="failure", message=str(exc)
        )


def write_lake(
    df: DataFrame,
    dest: "DestLake",
    table_name: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    fmt: str = "parquet",
) -> DestinationResponse:
    """Partitioned lakehouse delivery: ``base_path/table_name/col=value/``
    directories via :func:`write_partitioned_table` — the distributed
    layout write, with the same observe-counted receipt as every other
    destination."""
    target = os.path.join(dest.base_path, table_name)
    try:
        if not partition_by:
            raise ValueError("lake destination requires partition_by")
        n = write_partitioned_table(
            df, target, partition_cols=partition_by, sort_cols=sort_by, fmt=fmt
        )
        return DestinationResponse(
            destination_name=dest.name,
            status="success",
            message=f"wrote {target} partitioned by {partition_by}",
            records_processed=n,
        )
    except Exception as exc:
        return DestinationResponse(
            destination_name=dest.name, status="failure", message=str(exc)
        )


def write_sftp(
    df: DataFrame,
    dest: "DestSftp",
    file_name: str,
    fmt: str = "csv",
    transport: Any | None = None,
) -> DestinationResponse:
    """SFTP delivery: write the single artifact locally, upload it
    (ref loader.py:141-172). ``transport.put(local, remote)`` injectable."""
    tmp = tempfile.mkdtemp(prefix="dbs_sftp_out_")
    local = os.path.join(tmp, file_name)
    try:
        n = write_table(df, local, fmt=fmt, single_file=True)
        remote = os.path.join(dest.remote_dir, file_name)
        if transport is not None:
            transport.put(local, remote)
        else:  # pragma: no cover - needs a live SFTP peer
            from data_bridge_spark.sources.ssh import open_ssh_client

            try:
                client = open_ssh_client(
                    dest.host,
                    port=dest.port,
                    user=dest.user,
                    password=dest.password,
                    host_key_fingerprint=dest.host_key_fingerprint,
                )
            except ImportError as exc:
                raise NotImplementedError(
                    "SFTP transport requires paramiko (not installed); pass transport="
                ) from exc
            sftp = client.open_sftp()
            try:
                sftp.put(local, remote)
            finally:
                sftp.close()
                client.close()
        return DestinationResponse(
            destination_name=dest.name,
            status="success",
            message=f"uploaded {remote}",
            records_processed=n,
        )
    except Exception as exc:
        return DestinationResponse(destination_name=dest.name, status="failure", message=str(exc))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def build_email(
    subject: str,
    sender: str,
    recipients: list[str],
    body: str,
    attachments: dict[str, bytes] | None = None,
) -> EmailMessage:
    """EmailMessage builder (ref transformutils.py:16-34 with bug #10
    fixed: attachments iterate correctly and None is allowed)."""
    msg = EmailMessage()
    msg["Subject"] = subject
    msg["From"] = sender
    msg["To"] = ", ".join(recipients)
    msg.set_content(body)
    for name, payload in (attachments or {}).items():
        msg.add_attachment(payload, maintype="application", subtype="octet-stream", filename=name)
    return msg


def write_smtp(
    df: DataFrame,
    dest: "DestSmtp",
    subject: str,
    sender: str,
    recipients: list[str],
    body: str,
    file_name: str = "report.csv",
    transport: Any | None = None,
) -> DestinationResponse:
    """Email the query result as a CSV attachment (ref loader.py:26-65).

    The attachment is one collected artifact by definition (an email is a
    driver-side object); the query itself still ran distributed.
    ``transport`` duck-types smtplib.SMTP for tests.
    """
    tmp = tempfile.mkdtemp(prefix="dbs_smtp_")
    local = os.path.join(tmp, file_name)
    try:
        n = write_table(df, local, fmt="csv", single_file=True)
        with open(local, "rb") as f:
            payload = f.read()
        msg = build_email(subject, sender, recipients, body, {file_name: payload})
        if transport is not None:
            transport.send_message(msg)
        else:  # pragma: no cover - needs a live SMTP peer
            with smtplib.SMTP(dest.host, dest.port) as smtp:
                if dest.use_tls:
                    smtp.starttls()
                if dest.user:
                    smtp.login(dest.user, dest.password)
                smtp.send_message(msg)
        return DestinationResponse(
            destination_name=dest.name,
            status="success",
            message=f"sent to {len(recipients)} recipients",
            records_processed=n,
        )
    except Exception as exc:
        return DestinationResponse(destination_name=dest.name, status="failure", message=str(exc))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
