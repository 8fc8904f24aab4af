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
``--rounds`` rounds that each time every query under every variant in
turn, the variant order reversed every other round, with
``drop_dead_blocks`` before each sample and the noop sink as the action; then one collect per (query, variant) outside the timers,
asserting every variant returns the first variant's rows. Prints the
min/median seconds and the codegen compiles (classes compiled during the
timed rounds) per variant, and each variant's speed-up on mins over the
first. Compiles show when a variant moved the codegen layer; with the
engine's class cache sized to the working set, a warm sample compiles
nothing unless its generated code is new.

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
import contextlib
import functools
import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_bridge_spark.registry import load_all
from data_bridge_spark.session import codegen_compiles, drop_dead_blocks, get_spark
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


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, sf_dir: str, names: list[str], variants: dict[str, str], rounds: int = 4, reg=None):
    """Time ``names`` under ``variants`` ({name: spec}); return
    ({(query, variant): [seconds, ...]}, {(query, variant): compiles}),
    the compiles summed over the timed rounds. Raises AssertionError when
    a variant's rows differ from the first variant's."""
    reg = reg or load_all()
    for spec in variants.values():
        with applied(spark, spec):
            for name in names:
                _noop(reg[name].fn(spark, sf_dir))
                drop_dead_blocks(spark)
    samples: dict[tuple[str, str], list[float]] = {}
    compiles = dict.fromkeys([(n, v) for n in names for v in variants], 0)
    for i in range(rounds):
        order = list(variants.items())
        for var, spec in order[::-1] if i % 2 else order:
            with applied(spark, spec):
                for name in names:
                    drop_dead_blocks(spark)
                    spark.sparkContext.setJobDescription(f"{name}:{var}:{i}")
                    c0 = codegen_compiles(spark)
                    t0 = time.perf_counter()
                    _noop(reg[name].fn(spark, sf_dir))
                    samples.setdefault((name, var), []).append(time.perf_counter() - t0)
                    compiles[name, var] += codegen_compiles(spark) - c0
    spark.sparkContext.setJobDescription(None)
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
    return samples, compiles


def report(samples, compiles, names: list[str], variants: list[str]) -> None:
    first = variants[0]
    print(f"{'query':32s}" + "".join(f" {v + ' min/med compiles':>29s}" for v in variants) + "  speed-up vs " + first)
    tot = dict.fromkeys(variants, 0.0)
    for name in names:
        mins = {v: min(samples[name, v]) for v in variants}
        meds = {v: statistics.median(samples[name, v]) for v in variants}
        for v in variants:
            tot[v] += mins[v]
        cells = "".join(f" {mins[v]:10.3f}/{meds[v]:<9.3f}{compiles[name, v]:>8d}" for v in variants)
        ups = " ".join(f"{v}={mins[first] / mins[v]:.2f}x" for v in variants[1:])
        print(f"{name:32s}{cells}  {ups}")
    tot_c = {v: sum(compiles[n, v] for n in names) for v in variants}
    print(f"{'TOTAL(min)':32s}" + "".join(f" {tot[v]:20.3f}{tot_c[v]:>8d}" for v in variants))
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
    samples, compiles = run(spark, args.sf_dir, args.queries, variants, args.rounds, reg)
    report(samples, compiles, args.queries, list(variants))


if __name__ == "__main__":
    main()
