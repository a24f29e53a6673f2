#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line.

Each query runs through ``plans/run.py``: build + noop-sink write timed,
cached intermediates released outside the timed span (count() alone would
let Catalyst prune most of the work).

Hardening (round-6):
- per-query error isolation: a failing query records an ``errors`` entry
  and the harness still prints its JSON line (round-5's single broken query
  zeroed the whole bench artifact);
- n>=3 runs with per-query medians (``$SPARK_GRAFT_BENCH_N``, default 3):
  sf0.1 timings are driver-bound with ~±50% single-run noise, so medians
  are the only way a round-over-round delta is meaningful.

Hardening (round-7): the driver captures only the LAST 2,000 characters of
stdout, and a 100-entry per-query map (~3.4 KB) pushed ``"metric"`` /
``"value"`` out of the captured tail, so rounds 5-6 recorded
``parsed: null``. The FINAL stdout line is now a compact summary
(guaranteed < 1,900 bytes; asserted by tests/test_bench_harness.py); the
full per-query map goes to the ``BENCH_DETAIL.json`` sidecar next to this
script and, for humans, to stderr.

Hardening (round-8): regression sensitivity. Two same-code runs disagreed
by 10% in round 7, so (a) default n raised to 5 medians, (b) an
idle-check preamble calibrates a fixed CPU job until its timing
stabilizes and records loadavg — a loaded box is LABELED in the artifact
("idle_check": {"stable": false}), (c) per-run samples ship in the
detail sidecar and every run appends its per-query median table +
git HEAD to ``BENCH_HISTORY.jsonl`` so round-over-round per-query deltas
survive the next overwrite.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ohsome_planet_spark.plans.queries import all_queries  # noqa: E402
from ohsome_planet_spark.plans.run import run_passes  # noqa: E402
from ohsome_planet_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "5")))


def idle_check(spark, max_wait_s: float = 90.0) -> dict:
    """Round-8 verdict item: the bench cannot detect a real ~10%
    regression if the box is loaded. Run a fixed CPU-bound calibration
    job until its timing stabilizes (CV of the last 3 < 10%) or the wait
    budget runs out; record the verdict so a noisy bench is LABELED noisy
    in the artifact instead of silently trusted."""
    times: list[float] = []
    deadline = time.time() + max_wait_s
    cv = 1.0
    while True:
        t0 = time.time()
        spark.range(30_000_000).selectExpr(
            "sum(cast(id as double) * cast(id as double))"
        ).collect()
        times.append(time.time() - t0)
        if len(times) >= 3:
            tail = times[-3:]
            mean = sum(tail) / 3
            cv = (sum((t - mean) ** 2 for t in tail) / 3) ** 0.5 / mean
            if cv < 0.10:
                break
        if time.time() > deadline:
            break
    try:
        load = list(os.getloadavg())
    except OSError:
        load = []
    return {
        "stable": cv < 0.10,
        "cv": round(cv, 4),
        "calibration_runs": len(times),
        "calibration_last": round(times[-1], 3),
        "loadavg": [round(x, 2) for x in load],
    }


def run_bench(spark, queries, sf_dir: str, n_runs: int) -> dict:
    """Run every query ``n_runs`` times; return the driver-contract dict.

    Never raises on a query failure: failures land in ``errors`` and the
    remaining queries still produce medians.
    """
    runs: dict[str, list[float]] = {name: [] for name in queries}
    errors: dict[str, str] = {}
    for rec in run_passes(spark, queries, sf_dir, n_runs):
        if rec.ok:
            runs[rec.name].append(rec.wall_s)
        else:
            errors[rec.name] = rec.error

    timings = {
        name: round(statistics.median(ts), 3) for name, ts in runs.items() if ts
    }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_query_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # full per-run samples: round-over-round deltas need the spread,
        # not just the median (a 10% drift is invisible inside ±50% noise)
        "samples": {
            name: [round(t, 3) for t in ts] for name, ts in runs.items() if ts
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
        "runs_per_query": n_runs,
    }
    if errors:
        out["errors"] = {
            name: err.strip().splitlines()[-1] for name, err in errors.items()
        }
        for name, err in errors.items():
            print(f"[bench] {name} FAILED:\n{err}", file=sys.stderr)
    return out


def compact_summary(out: dict) -> dict:
    """Driver-contract final stdout line: everything except the per-query
    map, guaranteed to serialize under 1,900 bytes so the driver's
    2,000-char stdout tail capture parses it (round-6 verdict item #1).

    ``errors`` is reduced to a count + (truncated) name list so even a
    catastrophic all-queries-failed run stays under the size cap.
    """
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "runs_per_query": out["runs_per_query"],
        "n_queries": len(out.get("queries", {})),
        "detail": "BENCH_DETAIL.json",
    }
    errs = out.get("errors")
    if errs:
        summary["n_errors"] = len(errs)
        names = sorted(errs)
        listed: list[str] = []
        for name in names:
            if sum(len(x) + 4 for x in listed) + len(name) > 1200:
                listed.append("...")
                break
            listed.append(name)
        summary["errors"] = listed
    return summary


def main() -> None:
    spark = get_spark(app_name="ohsome_planet_spark_bench")

    # warm up the JVM/session so per-query numbers measure the queries
    spark.range(1000).selectExpr("sum(id)").collect()
    idle = idle_check(spark)
    if not idle["stable"]:
        print(f"[bench] WARNING: machine not idle ({idle})", file=sys.stderr)

    out = run_bench(spark, all_queries(), SF_DIR, N_RUNS)
    out["idle_check"] = idle

    # Full detail (with the per-query map) goes to a sidecar + stderr; the
    # FINAL stdout line is the compact driver-contract summary, kept well
    # under the driver's 2,000-char stdout tail capture.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1)
    except Exception:
        print("[bench] could not write BENCH_DETAIL.json", file=sys.stderr)
    # append-only per-round history: BENCH_DETAIL.json is overwritten every
    # run, so round-over-round per-query tables need their own artifact
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip()
        hist = dict(out)
        hist.pop("samples", None)
        hist["head"] = head or "unknown"
        hist["wallclock"] = round(time.time(), 1)
        with open(detail_path.replace("BENCH_DETAIL.json", "BENCH_HISTORY.jsonl"), "a") as fh:
            fh.write(json.dumps(hist) + "\n")
    except Exception:
        print("[bench] could not append BENCH_HISTORY.jsonl", file=sys.stderr)
    print(json.dumps(out), file=sys.stderr)

    print(json.dumps(compact_summary(out)))
    spark.stop()


if __name__ == "__main__":
    main()
