#!/usr/bin/env python
"""Time registry queries through the shared run loop (``plans/run.py``,
the same build + noop-sink span and pass order as ``bench.py``), or run
an interleaved A/B of one conf.

Usage:
    python tools/qtime.py q1 q2 ...                   # n=3 passes, sf0.1
    python tools/qtime.py --n 5 --sf DIR ALL          # every query
    python tools/qtime.py --a k=v q1 ...              # time under one conf value
    python tools/qtime.py --a k=v1 --b k=v2 q1 ...    # interleaved A/B

How an A/B applies the conf follows ``spark.conf.isModifiable(k)``:

- a runtime conf is flipped inside one session before each run, the two
  variants alternating ABBA across passes, and restored afterwards;
- a static conf (e.g. ``spark.io.compression.codec``) needs a fresh
  session per value: the tool re-runs itself with ``--a k=v --n 1`` as
  child sessions in ABBA order, ``--n`` sessions per variant.

ABBA order cancels a linear box-state drift between the variants; single
cross-session pairs are hopeless under 3-5x run-to-run noise.

Plans: ``python -m ohsome_planet_spark.cli explain <query>``. Python-side
profile: ``python -m cProfile -s cumulative tools/qtime.py ...``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _variant(text: str) -> tuple[str, str]:
    key, sep, value = text.partition("=")
    if not sep or not key or not value:
        raise argparse.ArgumentTypeError(f"expected key=value, got {text!r}")
    return key, value


def parse_args(argv: list[str] | None, known) -> argparse.Namespace:
    """Parse and validate the command line against the registry names
    ``known``; every bad input is a ``SystemExit`` with a usage message."""
    ap = argparse.ArgumentParser(prog="qtime")
    ap.add_argument("queries", nargs="+", help="registry query names, or ALL")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3,
                    help="passes (sessions per variant for a static conf)")
    ap.add_argument("--a", type=_variant, help="conf=value to time under")
    ap.add_argument("--b", type=_variant,
                    help="conf=value to A/B against --a (same conf key)")
    args = ap.parse_args(argv)
    if args.n < 1:
        ap.error(f"--n must be at least 1, got {args.n}")
    if args.b and not args.a:
        ap.error("--b needs --a")
    if args.a and args.b and args.a[0] != args.b[0]:
        ap.error(f"--a and --b set different confs: {args.a[0]} vs {args.b[0]}")
    if args.queries == ["ALL"]:
        args.queries = sorted(known)
    unknown = sorted(set(args.queries) - set(known))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    return args


def check_conf(spark, key: str, value: str) -> None:
    got = spark.conf.get(key, None)
    if got != value:
        raise SystemExit(f"conf {key} did not take: session has {got!r}, wanted {value!r}")


def report(times: dict[str, dict[str, list[float]]]) -> None:
    """Print per-query medians (with the b/a ratio of an A/B), then the raw
    run times as the final JSON line."""
    for name, a in sorted(times.get("a", {}).items()):
        line = f"{statistics.median(a):8.3f}  {name}  a {[round(t, 3) for t in a]}"
        if times.get("b", {}).get(name):
            b = times["b"][name]
            ratio = statistics.median(b) / statistics.median(a)
            line += f"  b {[round(t, 3) for t in b]}  b/a {ratio:.2f}"
        print(line)
    print(json.dumps(times), flush=True)


def static_ab(args) -> dict[str, dict[str, list[float]]]:
    """One fresh child session per run, A,B,B,A,A,B,... (``--n`` each)."""
    times: dict[str, dict[str, list[float]]] = {"a": {}, "b": {}}
    for i in range(args.n):
        for label in ("a", "b") if i % 2 == 0 else ("b", "a"):
            key, value = getattr(args, label)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--sf", args.sf,
                 "--n", "1", "--a", f"{key}={value}", *args.queries],
                capture_output=True, text=True, cwd=REPO, timeout=1800,
            )
            if proc.returncode:
                raise SystemExit(f"{key}={value} session failed:\n{proc.stderr[-2000:]}")
            for name, ts in json.loads(proc.stdout.splitlines()[-1])["a"].items():
                times[label].setdefault(name, []).extend(ts)
    return times


def main(argv: list[str] | None = None) -> int:
    from ohsome_planet_spark.plans.queries import all_queries
    from ohsome_planet_spark.plans.run import run_passes
    from ohsome_planet_spark.session import get_spark

    qs = all_queries()
    args = parse_args(argv, qs)
    key, value = args.a or (None, None)
    # one value: the session starts with it, static or runtime alike
    spark = get_spark(app_name="qtime", extra_conf={key: value} if args.a and not args.b else None)
    variants = None
    if args.b:
        if not spark.conf.isModifiable(key):
            spark.stop()
            report(static_ab(args))
            return 0
        original = spark.conf.get(key, None)
        variants = {
            label: lambda v=getattr(args, label)[1]: spark.conf.set(key, v)
            for label in ("a", "b")
        }
    elif args.a:
        check_conf(spark, key, value)

    spark.range(1000).selectExpr("sum(id)").collect()  # warm up, as bench.py
    try:
        records = run_passes(
            spark, {name: qs[name] for name in args.queries}, args.sf, args.n, variants
        )
    finally:
        if args.b:
            spark.conf.unset(key) if original is None else spark.conf.set(key, original)
    times: dict[str, dict[str, list[float]]] = {}
    for rec in records:
        if rec.ok:
            times.setdefault(rec.variant or "a", {}).setdefault(rec.name, []).append(rec.wall_s)
        else:
            print(f"{rec.name} FAILED:\n{rec.error}", file=sys.stderr)
    report(times)
    spark.stop()
    return 0 if all(rec.ok for rec in records) else 1


if __name__ == "__main__":
    raise SystemExit(main())
