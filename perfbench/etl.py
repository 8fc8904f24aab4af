"""The ``etl_delivery_sf0.1`` workload: config-driven streams end to end.

One pass runs four operations in order:

a. ``example_stream`` -- the reference's sample shape: file extracts, a
   two-output transform, a collect edge feeding a ``step:`` IN-list into
   inline SQL, a single-file CSV to a fileshare and an SMTP delivery.
b. ``derby_sftp`` -- an in-memory Derby JDBC extract with ``::key::``
   scalar and list params, joined to parquet, delivered over SFTP.
c. ``lake_stream`` -- lineitem rolled up per supplier and ship year into
   a partitioned parquet lake, plus the same rows as a distributed CSV.
d. ``upsert`` -- a change batch merged into that lake by
   ``upsert_partitioned_table``.

SMTP and SFTP peers are in-process fakes. Every seeded value (key
sample, Derby rows, query params, change batch) comes from the run seed;
expected outputs are recomputed independently in DuckDB.
"""

from __future__ import annotations

import csv
import io
import os
import shutil
import textwrap

import numpy as np

from gen import run_rng

CONFIG = textwrap.dedent(
    """
    streams:
      example_stream:
        sources:
          - {protocol: file, name: warehouse, path: "${DATA_DIR}", format: parquet}
        destinations:
          - {protocol: fileshare, name: share, mount_path: "${OUT_DIR}", remote_dir: reports}
          - {protocol: smtp, name: mailer, host: localhost, port: 2525}
        steps:
          - {step_type: extract, name: get_orders, source: warehouse,
             table: orders.parquet, output: raw_orders}
          - {step_type: extract, name: get_customers, source: warehouse,
             table: customer.parquet, output: raw_customers}
          - {step_type: transform, name: segment_customers,
             input: [raw_orders, raw_customers], output: [high_value, at_risk]}
          - {step_type: collect, name: get_high_ids, input: high_value,
             output: high_id_list, column: c_custkey}
          - {step_type: extract, name: get_high_value_orders, source: warehouse,
             table: orders.parquet, output: high_orders,
             query: "SELECT o_orderkey, o_custkey, o_totalprice FROM ::table::
                     WHERE o_custkey IN (::ids::)",
             params: {ids: "step:high_id_list"}}
          - {step_type: transform, name: build_mailing_list,
             input: [high_value, at_risk], output: [mailing_list, recipient_emails]}
          - {step_type: collect, name: get_recipients, input: recipient_emails,
             output: recipient_list, column: email}
          - {step_type: load, name: deliver_report, destination: share,
             input: high_orders, file_name: high_orders.csv, format: csv}
          - {step_type: load, name: email_summary, destination: mailer,
             input: mailing_list, file_name: mailing.csv,
             subject: "Weekly segments", sender: "etl@example.com",
             recipients: ["admin@example.com", "step:recipient_list"], body: "attached"}
      derby_sftp:
        sources:
          - {protocol: sql, name: accounts_db, url: "${DERBY_URL}"}
          - {protocol: file, name: warehouse, path: "${DATA_DIR}", format: parquet}
        destinations:
          - {protocol: sftp, name: partner, host: sftp.invalid, remote_dir: inbound}
        steps:
          - {step_type: extract, name: get_accounts, source: accounts_db,
             output: accounts,
             query: "SELECT CUSTKEY, TIER, CREDIT FROM accounts
                     WHERE TIER = ::tier:: AND REGION IN (::regions::)",
             params: {tier: ${TIER}, regions: [${REGIONS}]}}
          - {step_type: extract, name: get_customers, source: warehouse,
             table: customer.parquet, output: customers}
          - {step_type: transform, name: enrich_accounts,
             input: [accounts, customers], output: [account_report]}
          - {step_type: load, name: deliver_partner, destination: partner,
             input: account_report, file_name: accounts.csv, format: csv}
      lake_stream:
        sources:
          - {protocol: file, name: warehouse, path: "${DATA_DIR}", format: parquet}
        destinations:
          - {protocol: lake, name: lake, base_path: "${LAKE_DIR}"}
          - {protocol: fileshare, name: share, mount_path: "${OUT_DIR}", remote_dir: exports}
        steps:
          - {step_type: extract, name: get_lineitem, source: warehouse,
             table: lineitem.parquet, output: lineitem}
          - {step_type: transform, name: supplier_rollup, input: [lineitem],
             output: [supplier_years]}
          - {step_type: load, name: to_lake, destination: lake, input: supplier_years,
             file_name: supplier_years, partition_by: [ship_year], sort_by: [l_suppkey]}
          - {step_type: load, name: to_share, destination: share, input: supplier_years,
             file_name: supplier_years_csv, format: csv, single_file: false}
    """
)

DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
HIGH, LOW = 300000.0, 200000.0
N_ACCOUNTS, N_CHANGED, N_NEW = 4000, 400, 50


class FakeSmtp:
    def __init__(self) -> None:
        self.sent: list = []

    def send_message(self, msg) -> None:
        self.sent.append(msg)


class FakeSftp:
    """``put`` copies into a local directory standing in for the peer."""

    def __init__(self, root: str) -> None:
        self.root = root

    def put(self, local: str, remote: str) -> None:
        dst = os.path.join(self.root, remote.lstrip("/"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(local, dst)


def _transforms(sample_mod: int, sample_res: int):
    from pyspark.sql import functions as F

    def segment_customers(inputs):
        orders, customers = inputs["raw_orders"], inputs["raw_customers"]
        stats = orders.groupBy("o_custkey").agg(F.avg("o_totalprice").alias("avg_price"))
        joined = customers.join(stats, customers.c_custkey == stats.o_custkey, "left").na.fill(
            {"avg_price": 0.0}
        )
        sampled = joined.filter(F.col("c_custkey") % sample_mod == sample_res)
        return {
            "high_value": sampled.filter(F.col("avg_price") > HIGH).select(
                "c_custkey", "c_name", "avg_price"
            ),
            "at_risk": sampled.filter(F.col("avg_price") < LOW).select(
                "c_custkey", "c_name", "avg_price"
            ),
        }

    def build_mailing_list(inputs):
        everyone = inputs["high_value"].unionByName(inputs["at_risk"])
        suppression = everyone.filter(F.col("c_custkey") % 10 == 0).select("c_custkey")
        kept = everyone.join(suppression, "c_custkey", "left_anti")
        with_email = kept.withColumn(
            "email", F.concat(F.lit("cust"), F.col("c_custkey"), F.lit("@example.com"))
        )
        return {
            "mailing_list": with_email.select("c_custkey", "c_name", "email"),
            "recipient_emails": with_email.select("email").orderBy("email").limit(3),
        }

    def enrich_accounts(inputs):
        acc, cust = inputs["accounts"], inputs["customers"]
        joined = acc.join(cust, acc.CUSTKEY == cust.c_custkey)
        return {
            "account_report": joined.select(
                "c_custkey", "c_name", "c_mktsegment", F.col("TIER").alias("tier"),
                F.col("CREDIT").alias("credit"),
            )
        }

    def supplier_rollup(inputs):
        li = inputs["lineitem"]
        return {
            "supplier_years": li.groupBy(
                "l_suppkey", F.year("l_shipdate").alias("ship_year")
            ).agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            )
        }

    return {
        "segment_customers": segment_customers,
        "build_mailing_list": build_mailing_list,
        "enrich_accounts": enrich_accounts,
        "supplier_rollup": supplier_rollup,
    }


def _csv_rows(text: str) -> list[dict]:
    return list(csv.DictReader(io.StringIO(text)))


class Etl:
    """Seeded stream inputs, the per-pass operations and their checks."""

    def __init__(self, spark, sf_dir: str, work: str, seed: int, con) -> None:
        self.spark, self.sf_dir, self.con = spark, sf_dir, con
        self.out = os.path.join(work, "etl_out")
        self.lake = os.path.join(self.out, "lake")
        self.sftp = FakeSftp(os.path.join(self.out, "sftp_peer"))
        self.smtp = FakeSmtp()
        rng = run_rng(seed, "etl")
        self.sample_mod = 16
        self.sample_res = int(rng.integers(0, self.sample_mod))
        self.tier = int(rng.integers(1, 4))
        self.regions = sorted(int(r) for r in rng.choice(8, size=3, replace=False))
        self.accounts = [
            (int(k), int(t), float(c), int(r))
            for k, t, c, r in zip(
                rng.choice(150_000, size=N_ACCOUNTS, replace=False),
                rng.integers(1, 4, N_ACCOUNTS),
                np.round(rng.uniform(0, 5000, N_ACCOUNTS), 2),
                rng.integers(0, 8, N_ACCOUNTS),
            )
        ]
        self.batch_rng = run_rng(seed, "upsert")
        os.makedirs(os.path.join(work, "etl_cfg"), exist_ok=True)
        self.config = os.path.join(work, "etl_cfg", "streams.yaml")
        with open(self.config, "w") as f:
            f.write(CONFIG)
        self.env = {
            "DATA_DIR": sf_dir,
            "OUT_DIR": self.out,
            "LAKE_DIR": self.lake,
            "DERBY_URL": DERBY_URL,
            "TIER": str(self.tier),
            "REGIONS": ", ".join(map(str, self.regions)),
        }
        self.functions = _transforms(self.sample_mod, self.sample_res)
        self._expected_lake()
        self.batch = self._make_batch()
        self.results: dict[str, object] = {}

    # ------------------------------------------------------------ inputs

    def seed_derby(self) -> None:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(DERBY_URL)
        st = conn.createStatement()
        st.executeUpdate(
            "CREATE TABLE accounts (CUSTKEY BIGINT, TIER INT, CREDIT DOUBLE, REGION INT)"
        )
        for i in range(0, len(self.accounts), 1000):
            values = ", ".join(f"({k}, {t}, {c!r}, {r})" for k, t, c, r in self.accounts[i : i + 1000])
            st.executeUpdate(f"INSERT INTO accounts VALUES {values}")
        st.close()
        conn.close()

    def _expected_lake(self) -> None:
        self.con.execute(
            "CREATE OR REPLACE TABLE lake_base AS SELECT l_suppkey, "
            "CAST(year(l_shipdate) AS INTEGER) ship_year, count(*) n_lines, "
            "sum(CAST(l_quantity AS BIGINT)) qty FROM lineitem GROUP BY 1, 2"
        )

    def _make_batch(self):
        """Changed rows of two seeded years plus rows of new suppliers;
        the key includes the partition column, so the merge is well
        defined."""
        rng = self.batch_rng
        years = [r[0] for r in self.con.execute("SELECT DISTINCT ship_year FROM lake_base ORDER BY 1").fetchall()]
        touched = sorted(int(y) for y in rng.choice(years, size=2, replace=False))
        rows = self.con.execute(
            f"SELECT l_suppkey, ship_year, n_lines, qty FROM lake_base "
            f"WHERE ship_year IN ({touched[0]}, {touched[1]}) ORDER BY 1, 2"
        ).fetchall()
        pick = rng.choice(len(rows), size=min(N_CHANGED, len(rows)), replace=False)
        batch = [
            (rows[i][0], rows[i][1], rows[i][2], rows[i][3] + int(rng.integers(1, 10)))
            for i in sorted(pick)
        ]
        base = 10_000_000
        batch += [
            (base + j, touched[j % 2], int(rng.integers(1, 8)), int(rng.integers(1, 300)))
            for j in range(N_NEW)
        ]
        self.con.execute(
            "CREATE OR REPLACE TABLE batch (l_suppkey BIGINT, ship_year INTEGER, "
            "n_lines BIGINT, qty BIGINT)"
        )
        self.con.executemany("INSERT INTO batch VALUES (?, ?, ?, ?)", batch)
        return batch

    # -------------------------------------------------------- operations

    def ops(self, cold: bool = False):
        return [
            ("example_stream", lambda: self._stream("example_stream", {"mailer": self.smtp})),
            ("derby_sftp", lambda: self._stream("derby_sftp", {"partner": self.sftp})),
            ("lake_stream", lambda: self._stream("lake_stream", {})),
            ("upsert", self._upsert),
        ]

    def reset_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        self.smtp.sent.clear()

    def _stream(self, name: str, transports: dict):
        from data_bridge_spark.plans import config, runner

        stream = config.load_stream_config(name, self.config, self.functions, self.env)
        r = runner.StreamRunner(self.spark, stream, transports=transports)
        result = r.run()
        collected = sum(
            len(v) for s in stream.steps if s.step_type == "collect"
            for v in [r.step_outputs.get(s.output)] if isinstance(v, list)
        )
        self.results[name] = result
        return {
            "rows_written": sum(d.records_processed for d in result.dest_responses),
            "collect_rows": collected,
            "cached_outputs": len(r.cached),
        }

    def _upsert(self):
        from data_bridge_spark.sinks import writers

        updates = self.spark.createDataFrame(
            self.batch, "l_suppkey bigint, ship_year int, n_lines bigint, qty bigint"
        )
        n = writers.upsert_partitioned_table(
            self.spark, updates, os.path.join(self.lake, "supplier_years"),
            partition_cols=["ship_year"], key_cols=["l_suppkey", "ship_year"],
            sort_cols=["l_suppkey"],
        )
        self.results["upsert"] = n
        return {"rows_written": n}

    def output_stats(self) -> tuple[int, int]:
        """(files, bytes) the sinks left in the output tree and the fakes."""
        files = size = 0
        for root, _, names in os.walk(self.out):
            for n in names:
                if n.startswith(("_", ".")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        for msg in self.smtp.sent:
            for part in msg.iter_attachments():
                files += 1
                size += len(part.get_payload(decode=True))
        return files, size

    # ------------------------------------------------------------ checks

    def verify(self) -> dict[str, list[str]]:
        """Problems per operation for the outputs of the last pass."""
        q = lambda sql: self.con.execute(sql).fetchall()  # noqa: E731
        probs: dict[str, list[str]] = {k: [] for k, _ in self.ops()}
        seg = (
            f"WITH s AS (SELECT c.c_custkey, c.c_name, coalesce(avg(o.o_totalprice), 0) p "
            f"FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
            f"WHERE c.c_custkey % {self.sample_mod} = {self.sample_res} GROUP BY 1, 2) "
        )
        # a: fileshare CSV and SMTP attachment
        res = self.results.get("example_stream")
        path = os.path.join(self.out, "reports", "high_orders.csv")
        if res is None or not os.path.exists(path):
            probs["example_stream"].append("no delivery")
        else:
            with open(path) as f:
                rows = _csv_rows(f.read())
            if res.dest_responses[0].records_processed != len(rows):
                probs["example_stream"].append("csv receipt != artifact rows")
            want = q(seg + f"SELECT o_orderkey FROM orders WHERE o_custkey IN "
                     f"(SELECT c_custkey FROM s WHERE p > {HIGH}) ORDER BY 1")
            if sorted(int(r["o_orderkey"]) for r in rows) != [w[0] for w in want]:
                probs["example_stream"].append("high_orders rows differ")
            mail = [p for m in self.smtp.sent for p in m.iter_attachments()]
            got = sorted(
                int(r["c_custkey"])
                for r in _csv_rows(mail[0].get_payload(decode=True).decode())
            ) if len(mail) == 1 else None
            want = q(seg + f"SELECT c_custkey FROM s WHERE (p > {HIGH} OR p < {LOW}) "
                     f"AND c_custkey % 10 <> 0 ORDER BY 1")
            if got != [w[0] for w in want]:
                probs["example_stream"].append("smtp attachment rows differ")
            if res.dest_responses[1].records_processed != len(want):
                probs["example_stream"].append("smtp receipt != attachment rows")
        # b: SFTP delivery of the Derby extract joined to customer
        res = self.results.get("derby_sftp")
        path = os.path.join(self.sftp.root, "inbound", "accounts.csv")
        if res is None or not os.path.exists(path):
            probs["derby_sftp"].append("no delivery")
        else:
            with open(path) as f:
                rows = _csv_rows(f.read())
            keys = sorted(
                k for k, t, _, r in self.accounts if t == self.tier and r in self.regions
            )
            cust = {c for (c,) in q("SELECT c_custkey FROM customer")}
            want = [k for k in keys if k in cust]
            if sorted(int(r["c_custkey"]) for r in rows) != want:
                probs["derby_sftp"].append("sftp rows differ")
            if res.dest_responses[0].records_processed != len(rows):
                probs["derby_sftp"].append("sftp receipt != artifact rows")
        # c: lake partitions and distributed CSV receipt
        res = self.results.get("lake_stream")
        n_base = q("SELECT count(*) FROM lake_base")[0][0]
        if res is None:
            probs["lake_stream"].append("no result")
        else:
            if [d.records_processed for d in res.dest_responses] != [n_base, n_base]:
                probs["lake_stream"].append("lake/csv receipts != rollup rows")
            csv_dir = os.path.join(self.out, "exports", "supplier_years_csv")
            n_csv = q(f"SELECT count(*) FROM read_csv('{csv_dir}/*.csv', header=true)")[0][0]
            if n_csv != n_base:
                probs["lake_stream"].append("distributed csv rows differ")
        # d: the lake after the upsert equals the expected merge
        lake = os.path.join(self.lake, "supplier_years")
        try:
            got_parts = sorted(
                int(d.split("=", 1)[1]) for d in os.listdir(lake) if d.startswith("ship_year=")
            )
            want_parts = [r[0] for r in q("SELECT DISTINCT ship_year FROM lake_base ORDER BY 1")]
            if got_parts != want_parts:
                probs["upsert"].append("lake partition set differs")
            merged = (
                "(SELECT * FROM lake_base l WHERE NOT EXISTS (SELECT 1 FROM batch b "
                "WHERE b.l_suppkey = l.l_suppkey AND b.ship_year = l.ship_year) "
                "UNION ALL SELECT * FROM batch)"
            )
            live = (
                f"(SELECT l_suppkey, CAST(ship_year AS INTEGER) ship_year, n_lines, qty "
                f"FROM read_parquet('{lake}/*/*.parquet', hive_partitioning=true))"
            )
            diff = q(f"SELECT (SELECT count(*) FROM ({merged} EXCEPT ALL {live})), "
                     f"(SELECT count(*) FROM ({live} EXCEPT ALL {merged}))")[0]
            if diff != (0, 0):
                probs["upsert"].append(f"lake differs from expected merge {diff}")
        except Exception as exc:  # noqa: BLE001
            probs["upsert"].append(f"lake unreadable: {exc}")
        return probs
