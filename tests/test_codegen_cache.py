"""Warm passes compile nothing: the engine's codegen class cache holds the
working set of the queries a long-lived process re-runs. Also the minhash
word set, computed once per row, against the per-hash expression it
replaced."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from data_bridge_spark.operators.dedup import _N_HASHES, _bands_long, _signatures, with_band_hash
from data_bridge_spark.session import _CODEGEN_CACHE_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The build-heavy bench trio: its generated sources outnumber Spark's
# default 100-entry cache, so under that cap every round recompiles.
TRIO = ("tpch_q11_important_stock", "text_collocations", "graph_pagerank")

# Two rounds of QUERIES to the noop sink in a fresh JVM; prints the
# classes compiled per round.
_ROUNDS = """
import json, sys
from data_bridge_spark.metrics import measure
from data_bridge_spark.registry import load_all
from data_bridge_spark.session import get_spark

sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark("codegen-cache", master="local[2]", shuffle_partitions=2)
reg = load_all()
counts = [
    sum(measure(spark, lambda: reg[name].fn(spark, sf_dir)).compiles for name in names)
    for _ in range(2)
]
print(json.dumps(counts))
spark.stop()
"""


def test_session_carries_codegen_cache_cap(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.sparkContext.getConf().get(key) == str(_CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get(key) == str(_CODEGEN_CACHE_ENTRIES)


def test_warm_round_compiles_nothing(sf_dir):
    # A fresh JVM: the cache is JVM-wide, and the suite's own session has
    # already compiled other tests' code, which would hide the first
    # round's working set.
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        "SPARK_DRIVER_MEMORY": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", _ROUNDS, sf_dir, *TRIO],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert first > 100, f"working set {first} fits the default cache; the test proves nothing"
    assert second == 0, f"warm round recompiled {second} of {first} classes"


_OLD_WORDS = r"array_distinct(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '))"


def test_words_once_signatures_equal_per_hash_expression(spark):
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, " \t\n  "), (3, "The  cat\tsat on THE mat "), (4, "a")],
        "doc_id int, text string",
    )
    per_hash = docs.select(
        "doc_id",
        *[
            F.expr(f"array_min(transform({_OLD_WORDS}, w -> md5(concat(w, '#{j}')))) AS mh_{j}")
            for j in range(_N_HASHES)
        ],
    )
    new = {r.doc_id: r for r in _signatures(docs, "doc_id").collect()}
    old = {r.doc_id: r for r in per_hash.collect()}
    assert new == old
    assert all(v is None for v in new[0][1:])  # NULL text: NULL signature
    assert new[1][1:] == new[2][1:]  # whitespace-only text: the empty text's signature

    banded = {r.doc_id: r.band_hash for r in _bands_long(docs).filter("band_idx = 0").collect()}
    streamed = {r.doc_id: r.band_hash for r in with_band_hash(docs).collect()}
    assert streamed == banded
