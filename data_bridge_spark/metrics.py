"""The query ledger: what one run of a query did, layer by layer.

``measure`` runs a query's build and a noop write of its result under
two job groups and reads what Spark recorded for them. It is the one
reader of Spark's metrics (codegen counters, the core and SQL status
stores, which work with the UI disabled); the tools time queries
through it.
"""

from __future__ import annotations

import re
import time
import uuid
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from data_bridge_spark.session import drop_dead_blocks

__all__ = ["Measurement", "measure"]

# "BroadcastHashJoin Inner BuildRight (43)" in a formatted plan tree
_JOIN = re.compile(r"\b(\w+Join|CartesianProduct)\b([^(]*)\(\d+\)")
# a tree line's indent and branch marks: its length grows with the depth
_TREE = re.compile(r"[\s:+\-]*")
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass(frozen=True)
class Measurement:
    build_s: float  # driver build: DataFrame construction, analysis, build-time jobs
    build_jobs: int
    exec_s: float  # the noop write
    exec_jobs: int
    rows: int
    compiles: int  # generated classes compiled during the run
    tasks: int  # the counters below sum the stages of build and exec jobs
    task_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int  # memory + disk
    joins: tuple[str, ...]  # AQE's final joins with build sides, in plan order

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


def _compiles(spark: SparkSession) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def measure(spark: SparkSession, build) -> Measurement:
    """Drop dead blocks, then time ``build()`` (a zero-argument callable
    returning the query's DataFrame) and a noop write of its result, each
    under its own job group; the caller's job group is restored after.
    Rows come from an ``observe`` read before returning."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    groups = tuple(f"measure-{uuid.uuid4().hex}-{layer}" for layer in ("build", "exec"))
    drop_dead_blocks(spark)
    c0 = _compiles(spark)
    try:
        sc.setJobGroup(groups[0], groups[0])
        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        sc.setJobGroup(groups[1], groups[1])
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    # the status stores are filled by the listener bus, which lags the action
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [sc.statusTracker().getJobIdsForGroup(g) for g in groups]
    # the noop write's SQL execution: a job group sets its description
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = (executions.apply(i) for i in reversed(range(executions.size())))
    plan = next((e.physicalPlanDescription() for e in plans if e.description() == groups[1]), "")
    return Measurement(
        build_s=build_s,
        build_jobs=len(jobs[0]),
        exec_s=exec_s,
        exec_jobs=len(jobs[1]),
        rows=int(obs.get["rows"]),
        compiles=_compiles(spark) - c0,
        **_stage_counters(sc, jobs[0] + jobs[1]),
        joins=plan_joins(plan),
    )


def _stage_counters(sc, job_ids) -> dict:
    """Task counters of every stage the jobs ran, each stage once (a
    stage skipped by a later job was run by an earlier one)."""
    store = sc._jsc.sc().statusStore()
    stages = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        stages.update(info.stageIds if info else ())
    out = dict(tasks=0, task_s=0.0, gc_s=0.0, shuffle_write_b=0, spill_b=0)
    for sid in stages:
        try:
            attempts = store.stageData(sid, False, None, False, None)
        except Py4JJavaError:  # stage evicted from the store
            continue
        for k in range(attempts.size()):
            a = attempts.apply(k)
            out["tasks"] += a.numCompleteTasks()
            out["task_s"] += a.executorRunTime() / 1000
            out["gc_s"] += a.jvmGcTime() / 1000
            out["shuffle_write_b"] += a.shuffleWriteBytes()
            out["spill_b"] += a.memoryBytesSpilled() + a.diskBytesSpilled()
    return out


def plan_joins(plan: str) -> tuple[str, ...]:
    """``"BroadcastHashJoin Inner BuildLeft"``-style strings for the joins
    of a formatted physical plan's tree, in plan order, skipping every
    adaptive plan's ``== Initial Plan ==`` (the lines indented under it)."""
    joins, initial = [], None
    for line in plan.split("\n\n", 1)[0].splitlines():
        col = len(_TREE.match(line).group(0))
        if initial is not None and col >= initial:
            continue
        initial = col if "== Initial Plan ==" in line else None
        joins += [" ".join(" ".join(m.group(1, 2)).split()) for m in _JOIN.finditer(line)]
    return tuple(joins)
