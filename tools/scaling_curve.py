"""Measure registered queries across data decades (sf0.1 → sf1 → sf10)
and print per-decade exponents.

bench.py owns the official headline record at one SF; this tool owns the
CROSS-SF story: each query's ``metrics.measure`` record (fastest of
``--samples``, after a warm pass) at each supplied data dir, with the
per-decade scaling exponent log10(t_hi/t_lo) for adjacent decades.
Exponent 0 = flat (overhead- or under-fed-core-bound), 1 = linear, >1 =
super-linear (a plan that will not survive the next decade). The queries
are the ``-q`` names, else SUBSET; `join_range_binned` is deliberately
not in SUBSET: its OUTPUT grows density^2 under the key-shifted upscale
(SCALE.md), so its wall measures the synthetic data's density artifact,
not the plan. ``--samples 1`` runs each query once, cold (no warm pass):
engine-only rows and seconds at a scale where one run takes hours.

Usage: python tools/scaling_curve.py DIR [DIR ...] [-q NAME ...] [--samples N]
Prints one JSON line per dir plus a final exponent table (markdown).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_bridge_spark.metrics import measure
from data_bridge_spark.registry import load_all
from data_bridge_spark.session import get_spark

SUBSET = (
    "flagship_report",
    "fk_integrity_audit",
    "text_lm_score",
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_pairs",
    "dedup_verified_pairs",
    # the iterative CC closure family (round 7: oracle-feasible at every
    # decade, so the loop's own scaling is now measured, not argued)
    "dedup_clusters",
    "split_leakage_free",
    "tpch_q21_waiting",
    "tpch_q18_large_orders",
    "tpch_q5_local_volume",
    "join_inner",
    "win_tumbling",
    "win_session",
    "events_rolling_active",
    "text_quality",
    "events_pivot",
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("-q", "--queries", nargs="+", default=list(SUBSET))
    ap.add_argument("--samples", type=int, default=2)
    args = ap.parse_args()
    registry = load_all()
    spark = get_spark("scaling_curve")

    def run(name, d):
        return measure(spark, lambda: registry[name].fn(spark, d))

    if args.samples > 1:  # amortize codegen out of the timings
        for name in args.queries:
            run(name, args.dirs[0])

    results: dict[str, dict[str, float]] = {}
    for d in args.dirs:
        records = {}
        for name in args.queries:
            m = min((run(name, d) for _ in range(args.samples)), key=lambda m: m.total_s)
            records[name] = {"s": round(m.total_s, 3), **dataclasses.asdict(m)}
        results[d] = {name: r["s"] for name, r in records.items()}
        print(json.dumps({"dir": d, "total": round(sum(results[d].values()), 3), "queries": records}), flush=True)

    headers = [os.path.basename(d.rstrip("/")) for d in args.dirs] + [
        f"exp d{i}" for i in range(1, len(args.dirs))
    ]
    print("\n| query | " + " | ".join(headers) + " |")
    print("|" + "---|" * (len(headers) + 1))
    for name in [*args.queries, "TOTAL"]:
        row = [
            sum(results[d].values()) if name == "TOTAL" else results[d][name]
            for d in args.dirs
        ]
        exps = [
            (math.log10(row[i] / row[i - 1]) if row[i - 1] > 0 else float("nan"))
            for i in range(1, len(row))
        ]
        cells = [f"{v:.2f}" for v in row] + [f"{e:.2f}" for e in exps]
        print(f"| {name} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
