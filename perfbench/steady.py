"""Steadiness check: repeated runs of the benchmark and their spread.

    python3 perfbench/steady.py run OUT.json [--workloads a,b] [--seeds 1-10]
    python3 perfbench/steady.py report SET_A.json SET_B.json

``run`` executes ``perfbench/run.py`` once per (workload, seed), one
after another, and stores every result line. ``report`` prints, for each
workload and end-to-end metric, both sets' medians, how far the second
median moved from the first, and each set's spread (interquartile
distance over the median), next to the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def run(out: str, workloads: list[str], seeds: list[int]) -> None:
    bench = spec()
    results = []
    for w in workloads:
        for seed in seeds:
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            results.append({"workload": w, "seed": seed, "rc": p.returncode,
                            "result": json.loads(last)})
            print(w, seed, p.returncode, last, flush=True)
            with open(out, "w") as f:
                json.dump(results, f, indent=1)


def report(paths: list[str]) -> None:
    bench = spec()
    sets = []
    for p in paths:
        with open(p) as f:
            sets.append(json.load(f))
    print("| workload | metric | bound | median A | median B | B vs A | spread A | spread B |")
    print("|---|---|---|---|---|---|---|---|")
    for w in (x["name"] for x in bench["workloads"]):
        for m in bench["end_to_end"]:
            meds, sprs = [], []
            for s in sets:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in s
                        if r["workload"] == w and r["rc"] == 0]
                meds.append(statistics.median(vals) if vals else float("nan"))
                sprs.append(spread(vals) if len(vals) >= 2 else float("nan"))
            shift = (meds[-1] - meds[0]) / meds[0]
            print(f"| {w} | {m['name']} | {m['bound']} | {meds[0]:.4g} | {meds[-1]:.4g} | "
                  f"{shift:+.1%} | {sprs[0]:.1%} | {sprs[-1]:.1%} |")


def main(argv: list[str]) -> int:
    if argv[:1] == ["run"]:
        args = dict(zip(argv[2::2], argv[3::2]))
        ws = args.get("--workloads", ",".join(x["name"] for x in spec()["workloads"]))
        lo, _, hi = args.get("--seeds", "1-10").partition("-")
        run(argv[1], ws.split(","), list(range(int(lo), int(hi or lo) + 1)))
        return 0
    if argv[:1] == ["report"]:
        report(argv[1:])
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
