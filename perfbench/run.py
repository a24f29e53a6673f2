"""Product benchmark for ohsome_planet_spark.

    python3 perfbench/run.py --workload bulk_city --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts one Spark session, drives the product's public entry point
(``ohsome_planet_spark.cli.main``) until ``--seconds`` have passed (at
least the workload's ``min_ops`` operations), checks every output, and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` wraps the program's layer functions in spans, runs the layer probes
afterwards and reports the per-layer metrics. Spans, the environment,
loadavg and an idle calibration are written to
``.perfbench_out/<workload>-<seed>-trace<k>.json``. Everything the run
writes stays under the checkout; its scratch directory is removed at the
end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "bytes_per_input_row": ("B", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_BULK = "op_p50_s, op_cpu_s and rows_per_s on bulk_city"
_REPL = "op_p50_s, op_cpu_s and rows_per_s on replication_minutely"
_BOTH = "op_p50_s, op_cpu_s and rows_per_s on both workloads"
_READ = "reads of bulk_city's output (traced runs); no end-to-end metric"
# name -> (unit, better, the end-to-end metric the layer should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on both workloads"),
    "ops.count": ("count", "higher", "sample count behind op_p50_s"),
    "ops.warmup_s": ("s", "lower", "none: untimed warm-up of replication_minutely"),
    "pbf.read_s": ("s", "lower", f"{_BULK}; none on replication_minutely"),
    "pbf.decode_s": ("s", "lower", f"{_BULK}; none on replication_minutely"),
    "pbf.versions": ("count", "higher", "input size of bulk_city"),
    "pbf.blobs": ("count", "higher", "input size of bulk_city"),
    **{f"contributions.build_s.{t}": ("s", "lower", f"{_BULK}; {_REPL} via rebuilds")
       for t in ("node", "way", "relation")},
    **{f"contributions.run_s.{t}": ("s", "lower", _BULK)
       for t in ("node", "way", "relation")},
    **{f"contributions.rows.{t}": ("count", "higher", "bytes_per_input_row on bulk_city")
       for t in ("node", "way", "relation")},
    "contributions.enrich_s": ("s", "lower", _BOTH),
    "spatial.countries_s": ("s", "lower", _BOTH),
    "geoparquet.write_s": ("s", "lower", _BOTH),
    "geoparquet.files": ("count", "lower", "bytes_per_input_row on both workloads"),
    "geoparquet.bytes": ("B", "lower", "bytes_per_input_row on both workloads"),
    "geoparquet.data_bytes": ("B", "lower", "bytes_per_input_row on both workloads"),
    "geoparquet.overhead_ratio": ("ratio", "lower", "bytes_per_input_row on both workloads"),
    "server.fetch_s": ("s", "lower", _REPL),
    "osmxml.parse_s": ("s", "lower", _REPL),
    "osmxml.rows": ("count", "higher", "input size of replication_minutely"),
    "replication.apply_s": ("s", "lower", _REPL),
    "manager.update_s": ("s", "lower", _REPL),
    "manager.history_rows.node": ("count", "lower", _REPL),
    "manager.history_rows.way": ("count", "lower", _REPL),
    "manager.seq_growth": ("ratio", "lower", _REPL),
    "changesets.update_s": ("s", "lower", _REPL),
    "changesets.store_rows": ("count", "lower", _REPL),
    "cli.pass_other_s": ("s", "lower", _REPL),
    "views.register_s": ("s", "lower", _READ),
    "ohsome_filter.compile_s": ("s", "lower", _READ),
    "query.plan_s": ("s", "lower", _READ),
    "query.exec_s": ("s", "lower", _READ),
    "query.files_read": ("count", "lower", _READ),
    "query.count": ("count", "higher", _READ),
    "query.p50_s": ("s", "lower", _READ),
    "query.tail_pct": ("%", "higher", "highest percentile with ten queries beyond it"),
    "query.tail_s": ("s", "lower", _READ),
    "spark.stages": ("count", "lower", _BOTH),
    "spark.stages_skipped": ("count", "lower", _BOTH),
    "spark.tasks": ("count", "lower", _BOTH),
    "spark.executor_run_s": ("s", "lower", _BOTH),
    "spark.executor_cpu_s": ("s", "lower", _BOTH),
    "spark.gc_s": ("s", "lower", f"{_BOTH}; peak_rss_mb"),
    "spark.shuffle_bytes": ("B", "lower", f"{_BOTH}; peak_rss_mb"),
    "spark.spill_bytes": ("B", "lower", f"{_BOTH}; peak_rss_mb"),
    "py4j.calls": ("count", "lower", _BOTH),
    "trace.op_wall_s": ("s", "lower", "traced op_p50_s; minus it gives the tracing cost"),
    "trace.overhead_s": ("s", "lower", "none: cost of the spans and the py4j counter"),
    "trace.coverage": ("ratio", "higher", "none: share of the op wall under layer spans"),
    "trace.spans": ("count", "lower", "none: spans per operation"),
}

# span name -> per-layer metric its self time feeds (summed, per operation)
SPAN_METRICS = {
    "pbf.read": "pbf.read_s",
    **{f"contributions.{k}.{t}": f"contributions.build_s.{t}"
       for k in ("events", "synthesize") for t in ("node", "way", "relation")},
    "contributions.enrich": "contributions.enrich_s",
    "geoparquet.write": "geoparquet.write_s",
    "server.fetch": "server.fetch_s",
    "osmxml.parse": "osmxml.parse_s",
    "replication.apply": "replication.apply_s",
    "manager.update": "manager.update_s",
    "changesets.update": "changesets.update_s",
}

SETUP_REPEATS = 3


def pin_environment(work: str) -> dict[str, str]:
    """Fix what the program reads from the environment: CPU count, driver
    heap (an eighth of MemTotal, 1-4 GiB), Spark scratch and temp dirs
    inside the run's work dir, UTC.

    Spark gets half the cores (``local[nproc/2]``, as many shuffle
    partitions). The JVM's JIT and GC threads and the Python workers keep
    the rest busy: on a 4-vCPU VM a replication pass burns ~2.5
    CPU-seconds per wall second with 2 task slots. With a slot per core
    the threads outnumber the cores and the run measures the scheduler;
    it is slower too (a cold ``contributions`` run took 46 s with 4
    slots, 38 s with 2, back to back on that VM)."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, round(mem_kb / 1024**2 / 8)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the JVM spark-submit starts to build the driver command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    os.environ.update(env)
    time.tzset()
    return env


def start_session(work: str):
    """One SparkSession for the run, built by the program's own
    ``get_spark``. The package zip that ``ship_package`` would put in
    /tmp goes to the work dir instead.

    The driver heap is allocated and touched in full at start (``-Xms`` =
    the heap size, ``AlwaysPreTouch``): a growing heap's RSS depends on
    when the collector decides to expand it, which spread peak_rss_mb by
    ~15% between runs; a pinned heap reads the same every run, so the
    metric moves with what the program adds outside the heap (Python
    workers, JVM native memory). Heap pressure shows in spark.gc_s."""
    from ohsome_planet_spark import session

    pkg = os.path.join(ROOT, "ohsome_planet_spark")
    shipped: set[int] = set()

    def ship_into_work(spark) -> None:
        sc = spark.sparkContext
        if id(sc) in shipped:
            return
        zip_path = os.path.join(work, "ohsome_planet_spark.zip")
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg):
                for fn in sorted(files):
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.join("ohsome_planet_spark",
                                                    os.path.relpath(full, pkg)))
        sc.addPyFile(zip_path)
        shipped.add(id(sc))

    session.ship_package = ship_into_work
    tmp = os.environ["TMPDIR"]
    return session.get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers it forked to
    exit; whatever is left after 30 s is killed."""
    from pyspark import SparkContext

    from probes import proc_tree

    started = {pid: comm for pid, (comm, _kb) in proc_tree(os.getpid()).items()
               if pid != os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

    def alive(pid: int) -> bool:
        """Still running, and not a new process that reuses the pid."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
        except OSError:
            return False
        return comm == started[pid] and rest.split()[0] != "Z"

    deadline = time.monotonic() + 30
    while any(map(alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, started):
        os.kill(pid, signal.SIGKILL)


def layer_metrics(tracer, n_spans: int, ops, workload_metrics: dict, engine: dict,
                  py4j_calls: int, span_cost: float) -> dict[str, float]:
    """Every PER_LAYER metric; a layer the workload does not run reads 0."""
    n = len(ops)
    m = dict.fromkeys(PER_LAYER, 0.0)
    for name, secs in tracer.self_times().items():
        if name in SPAN_METRICS:
            m[SPAN_METRICS[name]] += secs / n
    totals = tracer.totals()
    op_spans = [i for i, s in enumerate(tracer.spans) if s.name == "op"]
    op_wall = sum(tracer.spans[i].end - tracer.spans[i].start for i in op_spans)
    covered = sum(s.end - s.start for s in tracer.spans if s.parent in set(op_spans))
    if "cli.run_replication_update" in totals:
        m["cli.pass_other_s"] = (op_wall - totals["cli.run_replication_update"]) / n
    m.update({k: v / n for k, v in engine.items()})
    m.update({
        "py4j.calls": py4j_calls / n,
        "trace.op_wall_s": op_wall / n,
        "trace.overhead_s": (n_spans + py4j_calls) * span_cost / n,
        "trace.coverage": covered / op_wall if op_wall else 0.0,
        "trace.spans": n_spans / n,
    })
    m.update(workload_metrics)
    return m


def result_line(failed: int, attempted: int, values: dict, table: dict) -> dict:
    """The benchmark's last stdout line: every metric of ``table``."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": v[0]} for k, v in table.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ohsome_planet_spark")):
        print(f"no ohsome_planet_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    sys.path.insert(0, ROOT)

    import probes
    import stats
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "env": env, "loadavg_before": os.getloadavg(),
                    "idle": probes.idle_calibration()}
    spark = None
    attempted = failed = 0
    errors: list[str] = []
    try:
        # peak RSS covers the product only: set-up, warm-up and the timed
        # operations, not the checks (DuckDB runs in this process)
        with probes.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work)
            session_s = time.perf_counter() - t0
            prep = []
            for r in range(SETUP_REPEATS):
                d = os.path.join(work, f"setup{r}")
                os.makedirs(d)
                t0 = time.perf_counter()
                wl.prepare(args.seed, d)
                prep.append(time.perf_counter() - t0)
            record["inputs"] = wl.inputs()

            warm = []
            for _ in range(wl.warmup_ops):
                attempted += 1
                t0 = time.perf_counter()
                wl.warmup(spark)
                warm.append(time.perf_counter() - t0)

            tracer = probes.Tracer(run_id=f"{args.workload}-{args.seed}")
            if args.trace:
                stage0 = probes.stage_snapshot(spark)
                wl.trace_targets(tracer)
                counter = probes.Py4jCounter()
            ops = []
            t_start = time.perf_counter()
            while len(ops) < wl.min_ops or time.perf_counter() - t_start < args.seconds:
                attempted += 1
                try:
                    cpu0, steal0 = probes.tree_cpu_s(os.getpid()), probes.steal_s()
                    with tracer.span("op"):
                        op = wl.op(spark, len(ops))
                    op.cpu_s = probes.tree_cpu_s(os.getpid()) - cpu0
                    op.meta["steal_s"] = probes.steal_s() - steal0
                    ops.append(op)
                except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
                    failed += 1
                    errors.append(f"op {len(ops)}: {type(e).__name__}: {e}")
                    break
            n_spans = len(tracer.spans)
            if args.trace:
                counter.close()
                tracer.restore()
                engine = probes.engine_counters(spark, stage0)

        for op in ops:
            attempted += 1
            problems = wl.check(op, work)
            failed += bool(problems)
            errors.extend(problems)
        if not ops:
            print("\n".join(errors), file=sys.stderr)
            return 1

        walls = [op.wall_s for op in ops]
        if args.trace:
            extra, problems = wl.layers(spark, tracer, work)
            attempted += 1
            failed += bool(problems)
            errors.extend(problems)
            extra.update({
                "session.start_s": session_s,
                "ops.count": len(ops),
                "ops.warmup_s": stats.median(warm) if warm else 0.0,
            })
            values = layer_metrics(tracer, n_spans, ops, extra, engine, counter.calls,
                                   probes.span_cost_s())
            table = PER_LAYER
        else:
            values = {
                "setup_s": session_s + stats.median(prep),
                "op_p50_s": stats.median(walls),
                "op_cpu_s": stats.median(op.cpu_s for op in ops),
                "rows_per_s": stats.median(op.rows_in / op.wall_s for op in ops),
                "bytes_per_input_row": sum(op.bytes_out for op in ops)
                / sum(op.rows_in for op in ops),
                "peak_rss_mb": rss.peak_kb / 1024,
            }
            table = END_TO_END
        record.update({
            "ops_s": walls, "ops_cpu_s": [op.cpu_s for op in ops],
            "ops_steal_s": [op.meta["steal_s"] for op in ops],
            "warmup_s": warm, "setup_prepare_s": prep,
            "session_s": session_s, "errors": errors,
            "digests": {op.meta["pin"]: op.meta["digest"] for op in ops if "pin" in op.meta},
            "loadavg_after": os.getloadavg(), "rss_kb_at_peak": rss.at_peak,
            "metrics": values, "spans": tracer.dump(),
        })
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in ("env", "loadavg_before", "idle", "inputs")}))
    print(json.dumps(result_line(failed, attempted, values, table)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
