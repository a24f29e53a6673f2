"""The one run loop: build a registry query, run an action on it, release.

Every instrument over the registry — ``bench.py``, the correctness gate,
the plan audit, ``tools/qtime.py``, the plan-hygiene and scale tests —
runs queries through :func:`run_one` (or :func:`run_passes` for repeated,
interleaved timing), so they all time the same span the same way:

- ``build_s`` is the builder call. With AQE a lazy ``localCheckpoint``
  materializes its query stages at build time, so build time is real
  work, not just planning; timing only the action would credit staged
  queries with work done before the clock started.
- ``action_s`` is the action on the returned frame (the noop sink by
  default, which forces the full plan; ``count()`` would let Catalyst
  prune most of it).
- the run's scope is released after the timed span, so a long session's
  storage memory stays flat and the next query starts clean.
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from ..session import run_scope


def noop_write(df) -> None:
    """Default action: run the whole plan through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class RunRecord:
    name: str
    variant: str | None = None
    build_s: float = 0.0
    action_s: float = 0.0
    result: object = None
    # executed-plan texts: the returned frame, then each pre-checkpoint
    # seam frame the run's scope registered (only when asked)
    plans: list[str] = field(default_factory=list)
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def run_one(
    spark,
    name: str,
    builder: Callable,
    sf_dir: str | None,
    action: Callable | None = noop_write,
    plans: bool = False,
    variant: str | None = None,
) -> RunRecord:
    """Build ``builder(spark, sf_dir)``, run ``action`` on the frame (none:
    build only), and release what the run staged.

    The run gets its own scope (``session.run_scope``), released after the
    timed span, so concurrent runs neither release nor audit each other's
    intermediates. Never raises for a failing query: the traceback lands
    in ``record.error``. With ``plans`` the record carries the
    executed-plan texts of the returned frame and of the seams its build
    registered, captured after the action."""
    rec = RunRecord(name, variant)
    try:
        with run_scope() as scope:
            spark.sparkContext.setJobDescription(name if variant is None else f"{name}:{variant}")
            t0 = time.perf_counter()
            df = builder(spark, sf_dir)
            t1 = time.perf_counter()
            rec.build_s = t1 - t0
            if action is not None:
                rec.result = action(df)
                rec.action_s = time.perf_counter() - t1
            if plans:
                rec.plans = [_plan_text(f) for f in [df, *scope.seams]]
    except Exception:
        # a failed release chains onto the run's own error, if any
        rec.error = traceback.format_exc()
    return rec


def run_passes(
    spark,
    queries: dict[str, Callable],
    sf_dir: str,
    n_passes: int,
    variants: dict[str, Callable[[], object]] | None = None,
) -> list[RunRecord]:
    """Run every query ``n_passes`` times through the noop sink; return the
    records in run order.

    Passes are the outer loop, so box-state drift over a long run hits
    every query alike; queries run in sorted order. ``variants`` maps a
    label to a callable that applies it (e.g. flips a runtime conf) before
    each run of that variant, outside the timed span; the variants of a
    query alternate in ABBA order across passes, which cancels a linear
    drift between them. A query that failed once is skipped after that.
    """
    order = list(variants) if variants else [None]
    failed: set[str] = set()
    records: list[RunRecord] = []
    for p in range(n_passes):
        for name in sorted(queries):
            for variant in order if p % 2 == 0 else order[::-1]:
                if name in failed:
                    break
                if variant is not None:
                    variants[variant]()
                rec = run_one(spark, name, queries[name], sf_dir, variant=variant)
                records.append(rec)
                if not rec.ok:
                    failed.add(name)
        # localCheckpoint blocks are only reclaimed when the JVM's
        # ContextCleaner sees their RDDs collected; over ~90 queries the
        # block manager otherwise accumulates dead checkpoint blocks and
        # later heavy queries pay eviction/GC stalls. One GC hint per
        # full pass keeps the session flat (measured, not speculative).
        spark._jvm.System.gc()
    return records


def plan_counts(plans: list[str]) -> dict[str, int]:
    """Plan-hygiene counts summed over a run's plan texts (the returned
    frame plus its seams): ``cartesian`` (an unbroadcast cross join) and
    ``row_python_udf`` (``BatchEvalPython``) are the flagged anti-patterns;
    Arrow-batched Python, exchanges and codegen spans are recorded so
    plan drift is visible."""
    def n(*tokens: str) -> int:
        return sum(p.count(t) for p in plans for t in tokens)

    return {
        "cartesian": n("CartesianProduct"),
        "row_python_udf": n("BatchEvalPython"),
        "arrow_python": n("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"),
        "exchanges": n("Exchange"),
        "codegen_spans": n("WholeStageCodegen"),
        "seams": len(plans) - 1,
    }
