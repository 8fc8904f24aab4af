"""The repo benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run builds its inputs (once per
checkout, under ``perfbench/.work``), starts the engine, runs one cold
pass and then warm passes for ``--seconds`` (at least ``MIN_WARM``), each
pass executing the workload's operations one after another with a single
client. After the timers it checks every operation's output. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of a traced run (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# registered queries per pass; none means the ETL streams of etl.py
WORKLOADS = {
    "build_heavy_sf0.1": ("tpch_q11_important_stock", "text_collocations", "graph_pagerank"),
    "etl_delivery_sf0.1": (),
}
MIN_WARM = 3
MAX_WARM = 8

# (module, public function) whose calls open a span, per layer
TRACED = {
    "session": [("data_bridge_spark.session", "drop_dead_blocks")],
    "functions": [
        ("data_bridge_spark.functions.templating", "render_sql"),
        ("data_bridge_spark.functions.templating", "spark_sql_with_params"),
    ],
    "sources": [
        ("data_bridge_spark.sources.readers", f)
        for f in ("read_file_source", "read_jdbc", "read_sftp_source")
    ],
    "plans": [
        ("data_bridge_spark.plans.config", "load_stream_config"),
        ("data_bridge_spark.plans.runner", "StreamRunner.run"),
    ],
    "sinks": [
        ("data_bridge_spark.sinks.writers", f)
        for f in (
            "write_table", "write_partitioned_table", "upsert_partitioned_table",
            "write_fileshare", "write_lake", "write_sftp", "write_smtp",
        )
    ],
}

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.drop_dead_blocks_s": "s",
    "registry.load_all_s": "s",
    "catalog.table_first_s": "s",
    "catalog.table_repeat_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.tasks": "count",
    "operators.task_busy_s": "s",
    "operators.core_util": "ratio",
    "operators.input_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.gc_s": "s",
    "functions.render_sql_s": "s",
    "functions.render_sql_calls": "count",
    "sources.read_s": "s",
    "plans.load_config_s": "s",
    "plans.run_s": "s",
    "plans.self_s": "s",
    "plans.collect_rows": "count",
    "plans.cached_outputs": "count",
    "sinks.write_s": "s",
    "sinks.upsert_s": "s",
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written_mb": "MB",
    "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
    "trace.overhead_s": "s",
}
MB = 1024.0 * 1024.0


def peak_rss_mb() -> float:
    """VmHWM of this process plus every descendant (the JVM)."""
    parents: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    family, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in family:
                family.add(c)
                frontier.append(c)
    kb = 0
    for pid in family:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def stop_engine(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


class QueryOps:
    """Registered queries written to the ``noop`` sink."""

    def __init__(self, spark, reg, names, sf_dir, tracer, seed):
        from gen import run_rng

        self.spark, self.reg, self.names, self.sf_dir = spark, reg, names, sf_dir
        self.tracer, self.rng = tracer, run_rng(seed, "order")
        self.last: dict[str, object] = {}

    def ops(self, cold: bool = False):
        """The cold pass keeps the declared order, so which query pays the
        process's first-use costs does not vary with the seed."""
        order = self.names if cold else [self.names[i] for i in self.rng.permutation(len(self.names))]
        return [(n, lambda n=n: self._run(n)) for n in order]

    def _run(self, name: str) -> dict:
        sc, tr = self.spark.sparkContext, self.tracer
        with tr.span("operators.build"):
            if tr.enabled:
                sc.setJobGroup(f"{tr.op}:build", "build")
            df = self.reg[name].fn(self.spark, self.sf_dir)
        with tr.span("operators.exec"):
            if tr.enabled:
                sc.setJobGroup(f"{tr.op}:exec", "exec")
            df.write.format("noop").mode("overwrite").save()
        self.last[name] = df
        return {}


def layer_metrics(all_spans, first, op_stats, cores, spark) -> dict[str, float]:
    """Per-layer numbers of one traced pass (its spans start at ``first``)."""
    from spans import group_stats, self_times

    spans, own = all_spans[first:], self_times(all_spans)[first:]
    m = {k: 0.0 for k in PER_LAYER}

    def add(key, value):
        m[key] += value

    for s, st in zip(spans, own):
        dur = s.end - s.start
        if s.name == "operators.build":
            add("operators.build_s", dur)
        elif s.name == "operators.exec":
            add("operators.exec_s", dur)
        elif s.name == "session.drop_dead_blocks":
            add("session.drop_dead_blocks_s", st)
        elif s.layer == "functions":
            add("functions.render_sql_s", st)
            add("functions.render_sql_calls", 1)
        elif s.layer == "sources":
            add("sources.read_s", st)
        elif s.name == "plans.load_stream_config":
            add("plans.load_config_s", st)
        elif s.name == "plans.run":
            add("plans.run_s", dur)
            add("plans.self_s", st)
        elif s.name == "sinks.upsert_partitioned_table":
            add("sinks.upsert_s", st)
        elif s.layer == "sinks":
            add("sinks.write_s", st)
    for st in op_stats:
        for k in ("collect_rows", "cached_outputs"):
            add(f"plans.{k}", st.get(k, 0))
        add("sinks.rows_written", st.get("rows_written", 0))
        add("sinks.files_written", st.get("files", 0))
        add("sinks.bytes_written_mb", st.get("bytes", 0) / MB)
        for phase in ("build", "exec", ""):
            g = group_stats(spark, f"{st['group']}:{phase}" if phase else st["group"])
            if phase:
                add(f"operators.{phase}_jobs", g["jobs"])
            add("operators.tasks", g["tasks"])
            add("operators.task_busy_s", g["task_ms"] / 1000.0)
            add("operators.gc_s", g["gc_ms"] / 1000.0)
            add("operators.input_mb", g["input_b"] / MB)
            add("operators.shuffle_write_mb", g["shuffle_write_b"] / MB)
            add("operators.spill_mb", g["spill_b"] / MB)
    built = m["operators.build_s"] + m["operators.exec_s"]
    m["operators.build_share"] = m["operators.build_s"] / built if built else 0.0
    op_wall = sum(st["wall"] for st in op_stats)
    m["operators.core_util"] = m["operators.task_busy_s"] / (op_wall * cores) if op_wall else 0.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("data_bridge_spark/__init__.py", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    queries = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    # every scratch file of Python, the JVM, Spark and DuckDB stays in WORK
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tempfile.tempdir = os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "sparktmp")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    import gen

    sf_dir = gen.ensure_inputs(os.path.join(WORK, "sf0.1"))
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_sha256": gen.dir_digest(sf_dir),  # also reads every input once
        "nproc": cores, "loadavg": open("/proc/loadavg").read().split()[:3],
    }

    from spans import Tracer, install

    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from data_bridge_spark.session import get_spark

        spark = get_spark("perfbench")
    with tracer.span("registry.load_all"):
        from data_bridge_spark.registry import load_all

        reg = load_all()
    setup_s = time.perf_counter() - t0

    from check import duck_connect, oracle_problems
    from data_bridge_spark import session

    con = duck_connect(sf_dir, cores, os.path.join(tmp, "duckdb"))
    if queries:
        work = QueryOps(spark, reg, list(queries), sf_dir, tracer, args.seed)
    else:
        from etl import Etl

        work = Etl(spark, sf_dir, WORK, args.seed, con)
        work.seed_derby()

    probe = {}
    if args.trace:
        install(tracer, TRACED)
        from data_bridge_spark.catalog import TABLE_NAMES, Tables

        for key in ("catalog.table_first_s", "catalog.table_repeat_s"):
            a = time.perf_counter()
            with tracer.span(key.rsplit("_", 1)[0]):
                t = Tables(spark, sf_dir)
                for name in TABLE_NAMES:
                    t.table(name)
            probe[key] = time.perf_counter() - a

    attempted = 0
    failures: dict[tuple[int, str], str] = {}  # (pass, operation) -> reason
    problems: dict[tuple[int, str], list[str]] = {}
    check_s: dict[str, float] = {}

    def run_pass(k: int, traced: bool, check: bool):
        """One pass; its time is the sum of its operations' walls, so the
        inline output checks of the checked pass stay outside it."""
        nonlocal attempted
        first = len(tracer.spans)
        if hasattr(work, "reset_outputs"):
            work.reset_outputs()
        stats = []
        for name, fn in work.ops(cold=k == 0):
            tracer.enabled, tracer.op = traced, f"p{k}:{name}"
            attempted += 1
            if traced:
                spark.sparkContext.setJobGroup(tracer.op, "op")
            b = time.perf_counter()
            try:
                session.drop_dead_blocks(spark)
                st = fn() or {}
            except Exception:  # counted, and the pass goes on
                failures[k, name] = traceback.format_exc(limit=3)
                st = {}
            st = {**st, "op": name, "group": tracer.op, "wall": time.perf_counter() - b}
            tracer.enabled, tracer.op = False, ""
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            stats.append(st)
            if check and queries and name in work.last:
                # checked right away: the next operation's cleanup drops
                # this query's fence blocks
                c = time.perf_counter()
                try:
                    problems[k, name] = oracle_problems(
                        con, work.last[name], reg[name].oracle,
                        cache=os.path.join(WORK, "oracle", f"{name}-{info['input_sha256']}.parquet"),
                    )
                except Exception as exc:  # noqa: BLE001
                    problems[k, name] = [f"check raised {exc!r}"]
                check_s[name] = time.perf_counter() - c
        if traced and hasattr(work, "output_stats"):
            stats[-1]["files"], stats[-1]["bytes"] = work.output_stats()
        return sum(st["wall"] for st in stats), (first, stats)

    # a traced run alternates untraced and traced warm passes (U, T, U, T)
    min_warm = MIN_WARM + 1 if args.trace else MIN_WARM
    m_start = time.perf_counter()
    cold, (_, cold_stats) = run_pass(0, False, check=False)
    warm: list[tuple[float, bool, tuple]] = []
    while True:
        n = len(warm) + 1
        est = warm[-1][0] if warm else cold
        last = n >= min_warm and (
            n >= MAX_WARM or time.perf_counter() - m_start + est >= args.seconds
        )
        traced = bool(args.trace) and n % 2 == 0
        wall, detail = run_pass(n, traced, check=last)
        warm.append((wall, traced, detail))
        if last:
            break
    rss = peak_rss_mb()

    # ---- remaining output checks, outside every timer
    if not queries:
        problems = {(len(warm), name): p for name, p in work.verify().items()}
    for key, probs in problems.items():
        if probs:
            failures.setdefault(key, "; ".join(probs))
    for (k, name), why in sorted(failures.items()):
        print(f"perfbench: FAIL pass {k} {name}: {why}", file=sys.stderr)
    failed = len(failures)

    untraced = [w for w, t, _ in warm if not t]
    if args.trace:
        traced_passes = [(w, d) for w, t, d in warm if t]
        per = [layer_metrics(tracer.spans, f, st, cores, spark) for _, (f, st) in traced_passes]
        values = {k: statistics.median(p[k] for p in per) for k in PER_LAYER}
        for s in tracer.spans:
            if s.name == "session.get_spark":
                values["session.get_spark_s"] = s.end - s.start
            elif s.name == "registry.load_all":
                values["registry.load_all_s"] = s.end - s.start
        values.update(probe)
        values["peak_rss_mb"] = rss
        values["fail_ratio"] = failed / attempted
        values["trace.overhead_s"] = statistics.median(w for w, _ in traced_passes) - statistics.median(untraced)
        units = PER_LAYER
        trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.dump(trace_path)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        values = {
            "setup_s": setup_s,
            "cold_pass_s": cold,
            "pass_s": statistics.median(untraced),
        }
        units = END_TO_END
    info.update(warm_passes=[round(w, 4) for w in untraced], cold_pass_s=round(cold, 4),
                setup_s=round(setup_s, 4),
                cold_ops={s["op"]: round(s["wall"], 3) for s in cold_stats},
                last_ops={s["op"]: round(s["wall"], 3) for s in warm[-1][2][1]},
                check_s={k: round(v, 3) for k, v in check_s.items()},
                process_s=round(time.perf_counter() - T_START, 3))
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(info) + "\n")
    print(json.dumps({"run": info}))
    con.close()
    stop_engine(spark)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
