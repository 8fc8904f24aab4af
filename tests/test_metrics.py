"""The query ledger: ``metrics.measure`` splits a run into build and
execution, counts rows through ``observe`` and reads the final plan's
join strategies."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from data_bridge_spark.metrics import measure, plan_joins
from data_bridge_spark.registry import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REG = load_all()


def _measure(spark, name, sf_dir):
    return measure(spark, lambda: REG[name].fn(spark, sf_dir))


def test_rows_equal_count(spark, sf_dir):
    for name in ("agg_report", "join_broadcast", "udtf_expand"):
        m = _measure(spark, name, sf_dir)
        assert m.rows == REG[name].fn(spark, sf_dir).count() > 0, name
        assert m.exec_jobs > 0 and m.tasks > 0 and m.build_s > 0 and m.exec_s > 0, name


def test_build_jobs_split_from_execution(spark, sf_dir):
    _measure(spark, "agg_report", sf_dir)  # the catalog's first read
    assert _measure(spark, "agg_report", sf_dir).build_jobs == 0
    # the connected-components loop runs its rounds while it is built
    cc = _measure(spark, "dedup_clusters", sf_dir)
    assert cc.build_jobs > 0 and cc.exec_jobs > 0


def test_final_joins_and_job_group_restored(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller's group")
    try:
        m = _measure(spark, "join_broadcast", sf_dir)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's group"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert any(j.startswith("BroadcastHashJoin") for j in m.joins), m.joins


_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   * BroadcastHashJoin Inner BuildLeft (5)
   :- BroadcastQueryStage (2)
   :  +- InMemoryTableScan (1)
   :        +- AdaptiveSparkPlan (12)
   :           +- == Final Plan ==
   :              * SortMergeJoin LeftOuter (10)
   :           +- == Initial Plan ==
   :              SortMergeJoin LeftOuter (11)
   +- * ShuffledHashJoin LeftAnti BuildRight (4)
+- == Initial Plan ==
   BroadcastHashJoin Inner BuildRight (8)
   +- SortMergeJoin Inner (7)

(5) BroadcastHashJoin [codegen id : 1]
"""


def test_plan_joins_reads_only_final_plans():
    assert plan_joins(_PLAN) == (
        "BroadcastHashJoin Inner BuildLeft",
        "SortMergeJoin LeftOuter",
        "ShuffledHashJoin LeftAnti BuildRight",
    )
    assert plan_joins("== Physical Plan ==\n* SortMergeJoin Inner (3)\n") == ("SortMergeJoin Inner",)


def test_scaling_curve_smoke(sf_dir):
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_GRAFT_CPUS": "2",
    }
    names = ["agg_report", "join_inner"]
    out = subprocess.run(
        [sys.executable, "tools/scaling_curve.py", sf_dir, sf_dir, "-q", *names],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    per_dir = [json.loads(x) for x in lines if x.startswith("{")]
    assert len(per_dir) == 2
    for rec in per_dir:
        assert list(rec["queries"]) == names
        for name, q in rec["queries"].items():
            assert q["rows"] == per_dir[0]["queries"][name]["rows"] > 0, name
            assert q["s"] == round(q["build_s"] + q["exec_s"], 3), name
    assert any(x.startswith("| TOTAL |") for x in lines)
