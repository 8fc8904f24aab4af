"""The stream runner: a lazy re-imagining of the reference's interpreter.

The reference walks steps sequentially, fully materializing every output
into ``DataStore.step_outputs`` (reference ``app/utils/datastream.py:27-53``
+ ``models.py:308-321``). Here the same walk *builds plans*: extract steps
become ``spark.read`` DataFrames, transform steps compose more DataFrame
ops on top, and nothing executes until a load step triggers a write — so
Catalyst sees the whole multi-step DAG and optimizes across step
boundaries (filter pushdown through transforms into the scan, join
reordering over the entire pipeline). Only two things ever leave the
cluster: declared CollectStep edges (SURVEY §2B13) and the final delivery
artifacts.
"""

from __future__ import annotations

import datetime as dt
import logging
import uuid
from collections import Counter
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_bridge_spark.plans.models import (
    CollectStep,
    DestinationResponse,
    ExtractStep,
    LoadStep,
    RunResult,
    Stream,
    TransformStep,
)
from data_bridge_spark.session import fence
from data_bridge_spark.sources.readers import read_file_source, read_jdbc, read_sftp_source

logger = logging.getLogger("data_bridge_spark.runner")


class StreamRunner:
    """Execute one validated Stream on a SparkSession.

    ``transports`` optionally maps destination/source names to injectable
    transports (tests / air-gapped runs).
    """

    def __init__(
        self,
        spark: SparkSession,
        stream: Stream,
        transports: dict[str, Any] | None = None,
    ):
        self.spark = spark
        self.stream = stream
        self.transports = transports or {}
        self.step_outputs: dict[str, Any] = {}
        self._fanout = self._evaluation_counts()
        self.cached: list[str] = []

    @staticmethod
    def _inputs(step) -> list[str]:
        """The named outputs ``step`` reads."""
        if step.step_type == "extract":
            params = step.params.values()
            return [v[5:] for v in params if isinstance(v, str) and v.startswith("step:")]
        if step.step_type == "transform":
            return list(step.input)
        if step.step_type == "collect":
            return [step.input]
        return [step.input] + [r[5:] for r in step.recipients if r.startswith("step:")]

    def _evaluation_counts(self) -> Counter:
        """How many times the run would evaluate each named output if
        nothing were fenced. Outputs evaluated more than once get fenced —
        the fan-out pattern the reference re-materializes implicitly (its
        example_stream reads raw_grades_data_df from three transforms,
        sample.config.yaml:98-122); lazily that would re-run the upstream
        plan per evaluation. A transform's outputs are separate plans over
        its inputs, so it evaluates each input once per output that a
        later step reads (once if no step reads them: its outputs stay the
        run's result); every other step evaluates each input once."""
        steps = self.stream.steps
        reads = Counter(r for step in steps for r in self._inputs(step))
        counts: Counter = Counter()
        for step in steps:
            uses = 1
            if step.step_type == "transform":
                uses = max(1, sum(1 for o in step.output if reads[o]))
            for r in self._inputs(step):
                counts[r] += uses
        return counts

    def _store(self, name: str, value: Any) -> None:
        if isinstance(value, DataFrame) and self._fanout[name] > 1:
            value = fence(value)
            self.cached.append(name)
        self.step_outputs[name] = value

    # ------------------------------------------------------------- steps

    def _run_extract(self, step: ExtractStep) -> None:
        src = self.stream.source(step.source)
        if src.protocol == "file":
            df = read_file_source(self.spark, src, table=step.table)
            if step.query:
                # inline SQL over the file table: register + parameterized
                # sql. spark_sql_with_params renders literals Spark reads
                # back verbatim under either parser setting and flips
                # oversize step: IN-lists into a temp-view semi-join
                # instead of unbounded SQL text.
                from data_bridge_spark.functions.templating import spark_sql_with_params

                view = f"__{step.output}_src"
                df.createOrReplaceTempView(view)
                df = spark_sql_with_params(
                    self.spark,
                    step.query.replace("::table::", view),
                    step.params,
                    self.step_outputs,
                )
        elif src.protocol == "sql":
            query = step.query
            if step.query_file:
                from pathlib import Path

                query = Path(step.query_file).read_text()
            if not query:
                query = f"SELECT * FROM {step.table}"
            df = read_jdbc(
                self.spark, src, query, step.params, self.step_outputs
            )
        elif src.protocol == "sftp":
            df = read_sftp_source(
                self.spark, src, transport=self.transports.get(src.name)
            )
        else:
            raise NotImplementedError(f"source protocol {src.protocol!r} is a stub")
        self._store(step.output, df)

    def _run_transform(self, step: TransformStep) -> None:
        inputs = {name: self.step_outputs[name] for name in step.input}
        result = step.function(inputs)
        if not isinstance(result, dict):
            raise TypeError(
                f"transform {step.name!r} must return dict[str, DataFrame], got {type(result)}"
            )
        missing = set(step.output) - set(result)
        if missing:
            raise ValueError(f"transform {step.name!r} did not produce outputs {missing}")
        for name in step.output:
            self._store(name, result[name])

    def _run_collect(self, step: CollectStep) -> None:
        df = self.step_outputs[step.input]
        if not isinstance(df, DataFrame):
            raise TypeError(f"collect step {step.name!r} input is not a DataFrame")
        col = step.column or df.columns[0]
        rows = df.select(col).collect()
        values = [r[0] for r in rows]
        self._store(step.output, values[0] if step.mode == "scalar" else values)

    def _resolve_recipients(self, recipients: list[str]) -> list[str]:
        """Literal emails + ``step:<name>`` list expansion
        (ref loader.py:67-84 with bug #9 fixed)."""
        out: list[str] = []
        for r in recipients:
            if r.startswith("step:"):
                value = self.step_outputs[r[5:]]
                out.extend(value if isinstance(value, list) else [value])
            else:
                out.append(r)
        return out

    def _run_load(self, step: LoadStep) -> DestinationResponse:
        # imported here, not at module top: sinks.writers imports
        # plans.models, so a top-level import would close a cycle through
        # the plans package __init__
        from data_bridge_spark.sinks.writers import (
            write_fileshare,
            write_lake,
            write_sftp,
            write_smtp,
        )

        dest = self.stream.destination(step.destination)
        df = self.step_outputs[step.input]
        transport = self.transports.get(dest.name)
        if dest.protocol == "fileshare":
            return write_fileshare(
                df,
                dest.mount_path,
                dest.remote_dir,
                step.file_name,
                fmt=step.format or "csv",
                single_file=step.single_file,
                destination_name=dest.name,
            )
        if dest.protocol == "lake":
            return write_lake(
                df,
                dest,
                table_name=step.file_name,
                partition_by=step.partition_by,
                sort_by=step.sort_by or None,
                fmt=step.format or "parquet",
            )
        if dest.protocol == "sftp":
            return write_sftp(df, dest, step.file_name, fmt=step.format or "csv", transport=transport)
        if dest.protocol == "smtp":
            return write_smtp(
                df,
                dest,
                subject=step.subject,
                sender=step.sender,
                recipients=self._resolve_recipients(step.recipients),
                body=step.body,
                file_name=step.file_name,
                transport=transport,
            )
        raise NotImplementedError(f"destination protocol {dest.protocol!r} is a stub")

    # --------------------------------------------------------------- run

    def run(self) -> RunResult:
        result = RunResult(
            run_id=uuid.uuid4().hex,
            stream_name=self.stream.name,
            status="running",
            start_time=dt.datetime.now(),
        )
        try:
            for step in self.stream.steps:
                logger.info("step %s (%s)", step.name, step.step_type)
                if step.step_type == "extract":
                    self._run_extract(step)
                elif step.step_type == "transform":
                    self._run_transform(step)
                elif step.step_type == "collect":
                    self._run_collect(step)
                else:
                    response = self._run_load(step)
                    result.dest_responses.append(response)
                    if response.status == "failure":
                        raise RuntimeError(
                            f"load step {step.name!r} failed: {response.message}"
                        )
            result.status = "success"
        except Exception as exc:
            result.status = "failed"
            result.end_time = dt.datetime.now()
            # the partial result — earlier successful receipts plus the
            # failure receipt — stays reachable to callers, mirroring the
            # reference's persisted DataStore responses
            exc.run_result = result  # type: ignore[attr-defined]
            raise
        finally:
            for name in self.cached:
                out = self.step_outputs.get(name)
                if isinstance(out, DataFrame):
                    out.unpersist()
        result.end_time = dt.datetime.now()
        return result


def run_stream(
    spark: SparkSession,
    stream: Stream,
    transports: dict[str, Any] | None = None,
) -> RunResult:
    return StreamRunner(spark, stream, transports).run()
