"""End-to-end stream pipeline test (SURVEY §5.4).

Re-expresses the reference's 16-step `example_stream`
(reference sample.config.yaml:69-207) over the driver's test tables:
extract two tables, segment on an aggregate (high-achiever/at-risk
analog), collect an ID list into a `step:` param, suppression anti-join,
union of branches, CSV delivery to a fileshare, and an SMTP delivery with
`step:` recipients — with injectable transports, asserting delivered
artifacts and DestinationResponse receipts.
"""

from __future__ import annotations

import csv
import textwrap

import pytest
from pyspark.sql import functions as F

from data_bridge_spark.plans.config import ConfigError, load_stream_config, validate_dag
from data_bridge_spark.plans.models import (
    CollectStep,
    ExtractStep,
    LoadStep,
    Stream,
    TransformStep,
)
from data_bridge_spark.plans.runner import run_stream

CONFIG_YAML = textwrap.dedent(
    """
    streams:
      example_stream:
        sources:
          - {protocol: file, name: warehouse, path: "${TESTDATA_DIR}", format: parquet}
        destinations:
          - {protocol: fileshare, name: share, mount_path: "${OUT_DIR}", remote_dir: reports}
          - {protocol: smtp, name: mailer, host: localhost, port: 2525}
        steps:
          - {step_type: extract, name: get_orders, source: warehouse,
             table: orders.parquet, output: raw_orders}
          - {step_type: extract, name: get_customers, source: warehouse,
             table: customer.parquet, output: raw_customers}
          - {step_type: transform, name: segment_customers,
             input: [raw_orders, raw_customers],
             output: [high_value, at_risk]}
          - {step_type: collect, name: get_high_ids, input: high_value,
             output: high_id_list, column: c_custkey}
          - {step_type: extract, name: get_high_value_orders, source: warehouse,
             table: orders.parquet, output: high_orders,
             query: "SELECT o_orderkey, o_custkey, o_totalprice FROM ::table::
                     WHERE o_custkey IN (::ids::)",
             params: {ids: "step:high_id_list"}}
          - {step_type: transform, name: build_mailing_list,
             input: [high_value, at_risk],
             output: [mailing_list, recipient_emails]}
          - {step_type: collect, name: get_recipients, input: recipient_emails,
             output: recipient_list, column: email}
          - {step_type: load, name: deliver_report, destination: share,
             input: high_orders, file_name: high_orders.csv, format: csv}
          - {step_type: load, name: email_summary, destination: mailer,
             input: mailing_list, file_name: mailing.csv,
             subject: "Weekly segments", sender: "etl@example.com",
             recipients: ["admin@example.com", "step:recipient_list"],
             body: "attached"}
    """
)


def segment_customers(inputs):
    orders, customers = inputs["raw_orders"], inputs["raw_customers"]
    stats = orders.groupBy("o_custkey").agg(F.avg("o_totalprice").alias("avg_price"))
    joined = customers.join(stats, customers.c_custkey == stats.o_custkey, "left").na.fill(
        {"avg_price": 0.0}
    )
    return {
        "high_value": joined.filter(F.col("avg_price") > 150000).select(
            "c_custkey", "c_name", "avg_price"
        ),
        "at_risk": joined.filter(F.col("avg_price") < 100000).select(
            "c_custkey", "c_name", "avg_price"
        ),
    }


def build_mailing_list(inputs):
    # union of both segments (ref merges at-risk + high-achiever branches),
    # suppression anti-join (ref filter_mailing_list), synthesized emails
    high, risk = inputs["high_value"], inputs["at_risk"]
    everyone = high.unionByName(risk)
    suppression = everyone.filter(F.col("c_custkey") % 10 == 0).select("c_custkey")
    kept = everyone.join(suppression, "c_custkey", "left_anti")
    with_email = kept.withColumn(
        "email", F.concat(F.lit("cust"), F.col("c_custkey"), F.lit("@example.com"))
    )
    return {
        "mailing_list": with_email.select("c_custkey", "c_name", "email"),
        "recipient_emails": with_email.select("email").limit(3),
    }


FUNCTIONS = {
    "segment_customers": segment_customers,
    "build_mailing_list": build_mailing_list,
}


class FakeSmtp:
    def __init__(self):
        self.sent = []

    def send_message(self, msg):
        self.sent.append(msg)


@pytest.fixture()
def config_file(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(CONFIG_YAML)
    return str(p)


def test_example_stream_end_to_end(spark, tmp_path, config_file, sf_dir):
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    env = {"TESTDATA_DIR": sf_dir, "OUT_DIR": str(out_dir)}
    stream = load_stream_config("example_stream", config_file, FUNCTIONS, env)

    smtp = FakeSmtp()
    result = run_stream(spark, stream, transports={"mailer": smtp})

    assert result.status == "success"
    assert [r.status for r in result.dest_responses] == ["success", "success"]

    # delivered CSV exists, has a header and the right columns
    csv_path = out_dir / "reports" / "high_orders.csv"
    assert csv_path.exists()
    with open(csv_path) as f:
        rows = list(csv.DictReader(f))
    assert rows and set(rows[0]) == {"o_orderkey", "o_custkey", "o_totalprice"}
    assert result.dest_responses[0].records_processed == len(rows)

    # every delivered order belongs to a high-value customer
    high_ids = {
        r.c_custkey for r in segment_customers(
            {
                "raw_orders": spark.read.parquet(f"{sf_dir}/orders.parquet"),
                "raw_customers": spark.read.parquet(f"{sf_dir}/customer.parquet"),
            }
        )["high_value"].collect()
    }
    assert {int(r["o_custkey"]) for r in rows} <= high_ids

    # email went out with step:-resolved recipients + attachment
    assert len(smtp.sent) == 1
    msg = smtp.sent[0]
    to = msg["To"]
    assert "admin@example.com" in to and "@example.com" in to
    attachments = [part for part in msg.iter_attachments()]
    assert attachments and attachments[0].get_filename() == "mailing.csv"
    # suppression: no custkey divisible by 10 in the mailing list
    body = attachments[0].get_payload(decode=True).decode()
    mailing = list(csv.DictReader(body.splitlines()))
    assert mailing and all(int(r["c_custkey"]) % 10 != 0 for r in mailing)


def test_dag_validation_rejects_missing_producer():
    stream = Stream(
        name="bad",
        steps=[
            TransformStep(name="t", input=["nope"], output=["x"], function=lambda i: i),
        ],
    )
    with pytest.raises(ConfigError, match="consumes 'nope'"):
        validate_dag(stream)


def test_dag_validation_rejects_redefinition():
    stream = Stream(
        name="bad",
        sources=[{"protocol": "file", "name": "s", "path": "/tmp"}],
        steps=[
            ExtractStep(name="e1", source="s", table="t", output="x"),
            ExtractStep(name="e2", source="s", table="t", output="x"),
        ],
    )
    with pytest.raises(ConfigError, match="redefines"):
        validate_dag(stream)


def test_dag_validation_checks_step_params_and_recipients():
    stream = Stream(
        name="bad",
        sources=[{"protocol": "file", "name": "s", "path": "/tmp"}],
        destinations=[{"protocol": "smtp", "name": "m", "host": "h"}],
        steps=[
            ExtractStep(name="e", source="s", table="t", output="x",
                        params={"ids": "step:ghost"}),
        ],
    )
    with pytest.raises(ConfigError, match="ghost"):
        validate_dag(stream)
    stream2 = Stream(
        name="bad2",
        sources=[{"protocol": "file", "name": "s", "path": "/tmp"}],
        destinations=[{"protocol": "smtp", "name": "m", "host": "h"}],
        steps=[
            ExtractStep(name="e", source="s", table="t", output="x"),
            LoadStep(name="l", destination="m", input="x",
                     recipients=["step:ghost"], subject="s", sender="a@b.c"),
        ],
    )
    with pytest.raises(ConfigError, match="ghost"):
        validate_dag(stream2)


def test_env_substitution_errors_on_unset():
    from data_bridge_spark.plans.config import substitute_env

    with pytest.raises(ConfigError, match="NOT_SET_VAR"):
        substitute_env("path: ${NOT_SET_VAR}", {})


def test_failed_load_attaches_partial_run_result(spark, tmp_path, sf_dir):
    # a failed delivery must not strand the receipts: the raised exception
    # carries the RunResult with the earlier success AND the failure receipt
    class FailingSftp:
        def put(self, local, remote):
            raise OSError("connection refused")

    stream = Stream(
        name="s",
        sources=[{"protocol": "file", "name": "w", "path": sf_dir}],
        destinations=[
            {"protocol": "fileshare", "name": "share", "mount_path": str(tmp_path),
             "remote_dir": "reports"},
            {"protocol": "sftp", "name": "up", "host": "nowhere"},
        ],
        steps=[
            ExtractStep(name="e", source="w", table="region.parquet", output="regions"),
            LoadStep(name="ok", destination="share", input="regions",
                     file_name="r.csv", format="csv"),
            LoadStep(name="boom", destination="up", input="regions",
                     file_name="r.csv", format="csv"),
        ],
    )
    from data_bridge_spark.plans.runner import run_stream

    with pytest.raises(RuntimeError) as ei:
        run_stream(spark, stream, transports={"up": FailingSftp()})
    rr = ei.value.run_result
    assert rr.status == "failed"
    assert [r.status for r in rr.dest_responses] == ["success", "failure"]
    assert "connection refused" in rr.dest_responses[1].message


def test_runner_unpersists_cached_outputs(spark, sf_dir, tmp_path):
    # fan-out outputs are cached during the run and released afterwards
    # (a query extract: a bare file scan is re-read, not cached)
    stream = Stream(
        name="s",
        sources=[{"protocol": "file", "name": "w", "path": sf_dir}],
        destinations=[
            {"protocol": "fileshare", "name": "share", "mount_path": str(tmp_path),
             "remote_dir": "r"},
        ],
        steps=[
            ExtractStep(name="e", source="w", table="region.parquet", output="regions",
                        query="SELECT * FROM ::table::"),
            LoadStep(name="l1", destination="share", input="regions",
                     file_name="a.csv", format="csv"),
            LoadStep(name="l2", destination="share", input="regions",
                     file_name="b.csv", format="csv"),
        ],
    )
    from data_bridge_spark.plans.runner import StreamRunner

    runner = StreamRunner(spark, stream)
    runner.run()
    assert runner.cached == ["regions"]
    assert not runner.step_outputs["regions"].is_cached


def test_collect_scalar_mode(spark, sf_dir):
    stream = Stream(
        name="s",
        sources=[{"protocol": "file", "name": "w", "path": sf_dir}],
        steps=[
            ExtractStep(name="e", source="w", table="region.parquet", output="regions"),
            CollectStep(name="c", input="regions", output="n", column="r_regionkey",
                        mode="scalar"),
        ],
    )
    from data_bridge_spark.plans.runner import StreamRunner

    runner = StreamRunner(spark, stream)
    runner.run()
    assert isinstance(runner.step_outputs["n"], int)
