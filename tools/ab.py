"""Interleaved in-process A/B: registered queries under N variants.

Each variant changes one thing for the length of a sample, in one Spark
session, so host drift hits every variant alike:

    NAME                         nothing changed (the code as written)
    NAME=conf:K=V[,K=V...]       runtime SQL confs
    NAME=env:K=V[,K=V...]        environment variables
    NAME=sym:MOD.ATTR=EXPR[;...] rebind a module symbol in MOD and in every
                                 data_bridge_spark module that imported it
                                 under the same name. EXPR is evaluated in
                                 MOD's namespace plus ``force``: force(fn,
                                 k=v) calls fn with k=v whatever the caller
                                 passed. MOD may drop the package prefix;
                                 a module outside the package (e.g.
                                 pyspark.sql.functions) is named in full.

Protocol: per variant, one warm-up run of every query (codegen); then
``--rounds`` rounds that each measure every query under every variant in
turn (``metrics.measure``: dead blocks dropped, build, noop sink), the
variant order reversed every other round; then one collect per (query,
variant) outside the timers, asserting every variant returns the first
variant's rows. Prints per variant the min/median seconds, the median
build and exec seconds and jobs, the codegen compiles of the timed rounds
(new generated code: a warm sample compiles nothing else) and the
speed-up on mins over the first variant; then each of AQE's final join
strategies that differs from the first variant's.

Examples (SF_DIR holds the catalog's parquet files):

    python tools/ab.py SF_DIR tpch_q11_important_stock \\
        -v as_written -v all_persist='sym:session.fence=force(fence, cut=False)'
    python tools/ab.py SF_DIR agg_report \\
        -v widen_on -v widen_off=sym:catalog._WIDEN_MAX_BYTES=0
    python tools/ab.py SF_DIR tpch_q11_important_stock \\
        -v as_written -v no_hints='sym:pyspark.sql.functions.broadcast=lambda df: df'
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import functools
import importlib
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_bridge_spark.metrics import measure
from data_bridge_spark.registry import load_all
from data_bridge_spark.session import drop_dead_blocks, get_spark
from selfcheck import rowset

_PKG = "data_bridge_spark"


def force(fn, **fixed):
    """``fn`` with the keyword arguments ``fixed`` overriding the caller's."""

    @functools.wraps(fn)
    def forced(*args, **kwargs):
        return fn(*args, **{**kwargs, **fixed})

    return forced


def _pairs(body: str, sep: str) -> list[tuple[str, str]]:
    return [tuple(p.split("=", 1)) for p in body.split(sep) if p.strip()]


def _module(name: str):
    """``name`` inside the package (the prefix may be dropped), else the
    module of that full name."""
    if name.startswith(_PKG):
        return importlib.import_module(name)
    try:
        return importlib.import_module(f"{_PKG}.{name}")
    except ModuleNotFoundError as e:
        if not (e.name or "").startswith(_PKG):
            raise
        return importlib.import_module(name)


@contextlib.contextmanager
def applied(spark, spec: str):
    """Apply one variant spec for the body of the ``with``, then undo it."""
    kind, _, body = spec.partition(":")
    undo = []

    def setting(get, put, drop, k, v):
        old = get(k)
        undo.append(lambda: drop(k) if old is None else put(k, old))
        put(k, v)

    try:
        if kind == "conf":
            for k, v in _pairs(body, ","):
                setting(lambda k: spark.conf.get(k, None), spark.conf.set, spark.conf.unset, k, v)
        elif kind == "env":
            for k, v in _pairs(body, ","):
                setting(os.environ.get, os.environ.__setitem__, os.environ.pop, k, v)
        elif kind == "sym":
            for target, expr in _pairs(body, ";"):
                mod_name, attr = target.strip().rsplit(".", 1)
                mod = _module(mod_name)
                orig = getattr(mod, attr)
                new = eval(expr, {**vars(mod), "force": force})
                for n, m in [(mod.__name__, mod), *sys.modules.items()]:
                    if (m is mod or n.startswith(_PKG)) and getattr(m, attr, new) is orig:
                        setattr(m, attr, new)
                        undo.append(lambda m=m, attr=attr, orig=orig: setattr(m, attr, orig))
        elif spec:
            raise ValueError(f"unknown variant kind {kind!r} in {spec!r}")
        yield
    finally:
        for fn in reversed(undo):
            fn()


def run(spark, sf_dir: str, names: list[str], variants: dict[str, str], rounds: int = 4, reg=None):
    """Measure ``names`` under ``variants`` ({name: spec}); return
    {(query, variant): [Measurement, ...]}, one per timed round. Raises
    AssertionError when a variant's rows differ from the first variant's."""
    reg = reg or load_all()
    for spec in variants.values():
        with applied(spark, spec):
            for name in names:
                measure(spark, lambda: reg[name].fn(spark, sf_dir))
    samples: dict[tuple[str, str], list] = {}
    for i in range(rounds):
        order = list(variants.items())
        for var, spec in order[::-1] if i % 2 else order:
            with applied(spark, spec):
                for name in names:
                    m = measure(spark, lambda: reg[name].fn(spark, sf_dir))
                    samples.setdefault((name, var), []).append(m)
    for name in names:
        rows = {}
        for var, spec in variants.items():
            with applied(spark, spec):
                df = reg[name].fn(spark, sf_dir)
                rows[var] = rowset(df.columns, df.collect())
                drop_dead_blocks(spark)
        first = next(iter(variants))
        for var, got in rows.items():
            if got != rows[first]:
                raise AssertionError(f"{name}: variant {var!r} rows differ from {first!r}")
    return samples


_MEDIANS = ("total_s", "build_s", "exec_s", "build_jobs", "exec_jobs")


def report(samples, names: list[str], variants: list[str]) -> None:
    first = variants[0]
    cols = ("min", "median", "build", "exec", "b.jobs", "e.jobs", "compiles")
    print(f"{'query':32s} {'variant':14s}" + "".join(f" {c:>8s}" for c in cols) + f"  vs {first}")
    tot = dict.fromkeys(variants, 0.0)
    for name in names:
        for v in variants:
            ms = samples[name, v]
            low = min(m.total_s for m in ms)
            tot[v] += low
            med = [statistics.median(getattr(m, f) for m in ms) for f in _MEDIANS]
            up = "" if v == first else f"{min(m.total_s for m in samples[name, first]) / low:.2f}x"
            print(f"{name if v == first else '':32s} {v:14s} {low:8.3f}" + "".join(f" {c:8.3f}" for c in med[:3])
                  + "".join(f" {c:8g}" for c in med[3:]) + f" {sum(m.compiles for m in ms):8d}  {up}")
        base = collections.Counter(samples[name, first][-1].joins)
        for v in variants[1:]:
            got = collections.Counter(samples[name, v][-1].joins)
            diff = [f"+{j} x{n}" for j, n in (got - base).items()] + [f"-{j} x{n}" for j, n in (base - got).items()]
            if diff:
                print(f"{'':32s} {v} final joins vs {first}: {', '.join(diff)}")
    print(f"{'TOTAL(min)':32s}" + "".join(f" {v}={tot[v]:.3f}" for v in variants))
    print(f"parity: every variant returned the {first!r} rows")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-v", "--variant", action="append", required=True, metavar="NAME[=SPEC]")
    ap.add_argument("--rounds", type=int, default=4)
    args = ap.parse_args()
    variants = dict(v.partition("=")[::2] for v in args.variant)
    reg = load_all()
    unknown = [n for n in args.queries if n not in reg]
    if unknown:
        ap.error(f"unregistered queries: {unknown}")
    spark = get_spark("ab")
    samples = run(spark, args.sf_dir, args.queries, variants, args.rounds, reg)
    report(samples, args.queries, list(variants))


if __name__ == "__main__":
    main()
