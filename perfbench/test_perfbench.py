"""Tests of the benchmark itself: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import dataclasses
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, self_times  # noqa: E402


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """A small catalog with the benchmark's generator (sf 0.002)."""
    d = str(tmp_path_factory.mktemp("tiny") / "sf0.1")
    gen.make_base(d, sf=0.002)
    return d


def test_same_seed_gives_identical_inputs(tiny, tmp_path):
    again = str(tmp_path / "again")
    gen.make_base(again, sf=0.002)
    assert gen.dir_digest(again) == gen.dir_digest(tiny)

    from check import duck_connect
    from etl import Etl

    def seeded(seed):
        e = Etl(None, tiny, str(tmp_path / f"w{seed}"), seed, duck_connect(tiny, 1))
        order = [n for n, _ in run.QueryOps(None, None, list("abcdef"), tiny, None, seed).ops()]
        return e.accounts, e.batch, (e.sample_res, e.tier, e.regions), order

    assert seeded(7) == seeded(7)
    assert seeded(7) != seeded(8)


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("plans.run", 0.0, 10.0),
        Span("sources.read_file_source", 1.0, 3.0, parent=0),
        Span("sinks.write_fileshare", 4.0, 9.0, parent=0),
        Span("functions.render_sql", 5.0, 6.0, parent=2),
        Span("sinks.upsert_partitioned_table", 11.0, 12.5),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 4.0, 1.0, 1.5])


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for name in [*e2e, *layer, *run.WORKLOADS]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name


def test_wrong_result_is_counted_as_failed(tiny, monkeypatch, capsys):
    from data_bridge_spark import registry

    registry.load_all()
    name = "tpch_q9_profit"
    good = registry.REGISTRY[name]
    monkeypatch.setitem(
        registry.REGISTRY, name,
        dataclasses.replace(good, fn=lambda spark, sf: good.fn(spark, sf).limit(1)),
    )
    work = os.path.dirname(tiny)
    open(os.path.join(tiny, ".done"), "w").close()
    monkeypatch.setattr(run, "WORK", work)
    monkeypatch.setitem(run.WORKLOADS, "wrong", (name,))
    assert run.main(["--workload", "wrong", "--seed", "1", "--seconds", "1"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1 and result["attempted"] == 1 + run.MIN_WARM
    assert set(result["metrics"]) == set(run.END_TO_END)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build_heavy_sf0.1", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
