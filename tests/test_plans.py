"""Physical-plan regression guards: the properties that make the 100 TB
story true must stay visible in the plan — filters reaching the parquet
scan, scans pruned to the referenced columns, broadcasts on dimension
joins. A refactor that silently breaks one of these passes value checks
but loses an order of magnitude at scale."""

import ast
import os

from pyspark.sql import functions as F

from ohsome_planet_spark.plans.queries import all_queries
from ohsome_planet_spark.plans.run import plan_counts, run_one

SF = "/root/testdata/sf0.001"


def _executed(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _scans(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_pricing_summary_scan_is_pruned_and_pushed(spark):
    plan = _executed(all_queries()["pricing_summary"](spark, SF))
    (scan,) = _scans(plan)
    # column pruning: the 16-column lineitem scan reads only the 5 used
    for col in ("l_returnflag", "l_linestatus", "l_quantity"):
        assert col in scan
    assert "l_orderkey" not in scan and "l_comment" not in scan
    # the shipdate filter reached the parquet reader
    assert "PushedFilters: [" in scan and "l_shipdate" in scan.split("PushedFilters")[1]


def test_snapshot_reads_staged_table_with_pushdown(spark):
    plan = _executed(all_queries()["snapshot_at_date"](spark, SF))
    scans = _scans(plan)
    assert scans, "snapshot must read the staged contributions parquet"
    staged = [s for s in scans if "valid_from" in s]
    assert staged, "scan must include the validity columns"
    pushed = staged[0].split("PushedFilters")[1]
    assert "valid_from" in pushed and "valid_to" in pushed
    # pruned: the staged table has ~20 columns; geometry/tags stay unread
    assert "geometry" not in staged[0] and "tags" not in staged[0]


def test_topk_uses_broadcast_for_dimension_join(spark):
    # staged_sort cuts lineage before the final orderBy, so the executed
    # plan of the returned frame is just Sort over the staged blocks; the
    # join lives in the drained pre-checkpoint seam plan.
    rec = run_one(
        spark, "region_nation_revenue", all_queries()["region_nation_revenue"],
        SF, plans=True,
    )
    assert rec.ok, rec.error
    seams = rec.plans[1:]
    assert seams, "staged_sort must register its pre-checkpoint frame"
    assert any(
        "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p for p in seams
    )


def test_dataset_split_is_map_side_only(spark):
    # bucketing + one small agg: exactly one shuffle, no join
    plan = _executed(all_queries()["dataset_split"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_registry_wide_plan_hygiene(spark):
    """Every registered query plans without row-at-a-time Python UDFs
    (BatchEvalPython — Arrow-batched ArrowEvalPython is the only allowed
    Python seam) and without CartesianProduct (broadcast nested-loop over
    a dimension side is fine; an unbroadcast cartesian is a scale-killer).
    Planning-only: no jobs run except queries that stage intermediates.
    The plans audited are the returned frame's plus every lineage seam
    (incl. staged_sort) registered during the build, the same set
    tools/plan_audit.py counts."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import ArrayType, MapType, StructType

    # Catalyst planning is JVM-side and py4j releases the GIL, so building
    # the 209 plans on a thread pool overlaps the planning + seam
    # materialization that dominated this test's 143 s wall (each run_one
    # has its own scope, so concurrent runs neither release nor audit each
    # other's seams).
    def build(item):
        name, fn = item
        return run_one(spark, name, fn, SF, action=lambda df: df.schema, plans=True)

    items = sorted(all_queries().items())
    # streaming_* builders scope session confs (shuffle width, checkpoint
    # location) around their availableNow run via _stream_conf — mutating
    # shared session state, so they must not overlap each other or the
    # batch builders. Run them sequentially after the pool.
    batch = [it for it in items if not it[0].startswith("streaming_")]
    streaming = [it for it in items if it[0].startswith("streaming_")]
    workers = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    with ThreadPoolExecutor(max_workers=workers) as ex:
        records = list(ex.map(build, batch))
    records += [build(it) for it in streaming]

    for rec in records:
        assert rec.ok, f"{rec.name}: {rec.error}"
        counts = plan_counts(rec.plans)
        assert not counts["row_python_udf"], f"{rec.name}: row-wise Python UDF"
        assert not counts["cartesian"], f"{rec.name}: cartesian product"
        # the driver's canonicalizer sort_values-es every output column and
        # cannot hash array/map/struct cells (round-1 lesson: two red rows
        # hidden by a stringifying hash) — registry outputs must be scalar
        nested = [
            f.name
            for f in rec.result.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not nested, f"{rec.name}: non-scalar output columns {nested}"


PLANS = os.path.join(
    os.path.dirname(__file__), "..", "ohsome_planet_spark", "plans"
)


def test_registry_surface():
    from ohsome_planet_spark.plans.queries import (  # noqa: F401
        QUERIES,
        all_oracles,
        contrib_nodes,
    )
    from ohsome_planet_spark.plans.osm_derive import _CONTRIB_ORACLE  # noqa: F401

    assert len(all_queries()) == len(all_oracles()) >= 209
    assert set(all_queries()) == set(all_oracles())


def test_register_refuses_duplicate_names():
    import pytest

    from ohsome_planet_spark.plans._registry import QUERIES, _register

    before = QUERIES["pricing_summary"]
    with pytest.raises(ValueError, match="pricing_summary"):
        _register("pricing_summary", "SELECT 1")(lambda spark, sf_dir: None)
    assert QUERIES["pricing_summary"] is before


def test_plans_modules_explicit_acyclic_and_bounded():
    """Family modules import each other explicitly (no ``import *``, no
    writes into another module's namespace), their import graph is
    acyclic, and none exceeds 3,000 lines."""
    graph = {}
    for fn in sorted(os.listdir(PLANS)):
        if not fn.endswith(".py"):
            continue
        mod = fn[:-3]
        src = open(os.path.join(PLANS, fn)).read()
        n = len(src.split("\n"))
        assert n <= 3000, f"{fn}: {n} lines"
        assert "globals()" not in src and "setattr(" not in src, fn
        deps = set()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and node.level == 1:
                assert all(a.name != "*" for a in node.names), fn
                if node.module:
                    deps.add(node.module)
                else:
                    deps |= {a.name for a in node.names}
        graph[mod] = deps

    done, visiting = set(), []

    def visit(mod):
        assert mod not in visiting, f"import cycle: {visiting + [mod]}"
        if mod in done:
            return
        visiting.append(mod)
        for dep in graph.get(mod, ()):
            visit(dep)
        visiting.pop()
        done.add(mod)

    for mod in graph:
        visit(mod)
