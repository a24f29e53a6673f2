"""The benchmark's workloads.

Each workload has the same shape, which ``run.py`` drives:

- ``prepare(seed, dir)`` generates and seeds the inputs (repeated during
  set-up, so ``setup_s`` is a median);
- ``warmup(spark)`` runs one untimed operation (``warmup_ops`` of them
  precede the timed ones);
- ``op(spark, i)`` runs one timed operation through ``cli.main`` and
  returns an :class:`Op`;
- ``check(op, work)`` compares what the operation wrote with what the
  generator published and with the digest pinned for the seed, and
  returns a list of mismatches;
- ``trace_targets(tracer)`` (traced runs only) names the program functions
  to wrap in spans during the timed operations;
- ``layers(spark, tracer, work)`` (traced runs only) times layer probes
  that the CLI path does not separate, after the timed operations.

Sizes: with 2 task slots on 4 cores a cold ``contributions`` run costs
40-47 s whatever the city size (driver-side plan building dominates),
and a warm replication pass 12-15 s, so the inputs are kept small. A
bulk run (one operation) takes ~55 s and a replication run (one warm-up
pass, two timed) ~70 s, so 4 + 22 x 2 runs fit in 3420 s.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from ohsome_planet_spark.streaming.replication import ReplicationState, sequence_path
from stats import digest, median, percentile, tail_percentile

# Enough tagged corners and relations that every write task gets rows of
# every (layer, osm_type) partition: the number of files written, and with
# it the bytes (each file carries a ~1 MB osm_id bloom filter), is then the
# same for every seed.
BULK_CITY = gen.CityParams(grid=12, tagged_share=0.2, relations=24)
REPL_CITY = gen.CityParams(grid=16, tagged_share=0.25)
REPL_MINUTE = gen.MinuteParams(node_edits=8, changesets=5)


@dataclass
class Op:
    wall_s: float
    rows_in: int  # input rows the operation handled
    rows_out: int  # contribution rows written
    bytes_out: int  # parquet bytes written
    meta: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU seconds of the process tree, set by run.py


def cli(argv: list[str]) -> str:
    """``cli.main`` with its stdout captured; a non-zero exit raises."""
    from ohsome_planet_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"cli {argv[0]} exited {rc}: {buf.getvalue()[-500:]}")
    return buf.getvalue()


def parquet_stats(path: str) -> dict[str, int]:
    """Files, bytes on disk, row-group (data) bytes and rows of every
    ``*.parquet`` file under ``path``, from the footers."""
    out = {"files": 0, "bytes": 0, "data_bytes": 0, "rows": 0}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(root, f)
            md = pq.ParquetFile(full).metadata
            out["files"] += 1
            out["bytes"] += os.path.getsize(full)
            out["rows"] += md.num_rows
            out["data_bytes"] += sum(
                md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return out


def duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"temp_directory": os.path.join(work, "duckdb")})
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def check_pin(op: Op, key: str) -> list[str]:
    """Compare the op's output digest with the one pinned for ``key`` in
    digests.json (written by pin_digests.py); unpinned keys pass."""
    op.meta["pin"] = key
    with open(PINS) as f:
        want = json.load(f).get(key)
    if want is not None and want != op.meta["digest"]:
        return [f"output digest for {key} differs from the pinned one"]
    return []


def scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# --- bulk_city -----------------------------------------------------------


class BulkCity:
    """One ``contributions`` run per operation, with ``--changesets`` and
    ``--country-file``, into a fresh output directory."""

    name = "bulk_city"
    warmup_ops = 0
    min_ops = 1

    def prepare(self, seed: int, d: str) -> None:
        self.seed, self.dir = seed, d
        self.city = gen.make_city(seed, BULK_CITY)
        self.pbf = os.path.join(d, "city.osh.pbf")
        self.changesets = os.path.join(d, "changesets.parquet")
        self.countries = os.path.join(d, "countries.csv")
        gen.write_city_pbf(self.city, self.pbf)
        gen.write_changesets_parquet(self.city.changesets, self.changesets)
        gen.write_countries_csv(seed, BULK_CITY, self.countries)
        self.outs: list[str] = []

    def inputs(self) -> dict:
        return {**self.city.stats(), "pbf_bytes": os.path.getsize(self.pbf),
                "changesets_bytes": os.path.getsize(self.changesets)}

    def op(self, spark, i: int) -> Op:
        out = os.path.join(self.dir, f"out{i}")
        t0 = time.perf_counter()
        cli(["contributions", "--pbf", self.pbf, "--out", out,
             "--changesets", self.changesets, "--country-file", self.countries])
        wall = time.perf_counter() - t0
        self.outs.append(out)
        st = parquet_stats(out)
        return Op(wall, self.city.versions(), st["rows"], st["bytes"], {"out": out})

    def expected_versions(self) -> set[tuple[str, int, int]]:
        """Every version of an entity that has tags in some version: each
        one is a major contribution (osm_minor_version 0)."""
        tagged = {(t, e["osm_id"])
                  for t, es in (("node", self.city.nodes), ("way", self.city.ways),
                                ("relation", self.city.relations))
                  for e in es if e["tags"]}
        return {(t, e["osm_id"], e["version"])
                for t, es in (("node", self.city.nodes), ("way", self.city.ways),
                              ("relation", self.city.relations))
                for e in es if (t, e["osm_id"]) in tagged}

    def check(self, op: Op, work: str) -> list[str]:
        con = duck(work)
        keys = con.sql(
            "SELECT osm_type, osm_id, osm_version, osm_minor_version,"
            " strftime(valid_from, '%Y-%m-%dT%H:%M:%S'), contrib_type"
            f" FROM {scan(op.meta['out'])}").fetchall()
        con.close()
        op.meta["digest"] = digest(keys)
        errors = []
        majors = {(t, i, v) for t, i, v, minor, *_ in keys if minor == 0}
        want = self.expected_versions()
        if majors != want:
            errors.append(f"major versions differ: {len(majors - want)} unexpected,"
                          f" {len(want - majors)} missing")
        if len(keys) != op.rows_out:
            errors.append(f"footer rows {op.rows_out} != scanned rows {len(keys)}")
        errors.extend(check_pin(op, f"{self.name}/{self.seed}"))
        return errors

    def trace_targets(self, tracer) -> None:
        """Spans around the public functions ``cmd_contributions`` calls."""
        C = "ohsome_planet_spark.operators.contributions"

        def typed(t):
            def before(tr):
                tr.context["type"] = t
            return before

        tracer.wrap("ohsome_planet_spark.sources.pbf", "read_pbf", "pbf.read")
        for t in ("node", "way", "relation"):
            tracer.wrap(C, f"{t}_contribution_events", f"contributions.events.{t}",
                        before=typed(t))
        tracer.wrap(C, "synthesize_contributions",
                    lambda *a, **k: f"contributions.synthesize.{tracer.context.get('type')}")
        tracer.wrap(C, "with_changesets", "contributions.enrich")
        tracer.wrap("ohsome_planet_spark.operators.spatial", "geometry_countries_udf",
                    "spatial.countries_udf")
        tracer.wrap("ohsome_planet_spark.sources.geoparquet", "write_contributions",
                    "geoparquet.write")

    def layers(self, spark, tracer, work: str) -> tuple[dict, list[str]]:
        """Layer probes the CLI path runs fused: decode alone, each
        entity stream alone, the country lookup alone, and reads over the
        written dataset."""
        from pyspark.sql import functions as F

        from ohsome_planet_spark.cli import _load_country_csv
        from ohsome_planet_spark.operators import contributions as C
        from ohsome_planet_spark.operators.spatial import geometry_countries_udf
        from ohsome_planet_spark.sources.pbf import read_pbf, scan_blobs

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        m: dict[str, float] = {}
        entities = read_pbf(spark, self.pbf)
        m["pbf.decode_s"] = noop(entities)
        m["pbf.versions"] = self.city.versions()
        m["pbf.blobs"] = sum(r.header_type == "OSMData" for r in scan_blobs(self.pbf))
        nodes = entities.filter("osm_type = 'node'").drop("refs", "members", "osm_type")
        ways = entities.filter("osm_type = 'way'").drop("lon", "lat", "members", "osm_type")
        rels = entities.filter("osm_type = 'relation'").drop("lon", "lat", "refs", "osm_type")
        streams = {
            "node": lambda: C.synthesize_contributions(
                C.node_contribution_events(C.filter_tagged_histories(nodes))),
            "way": lambda: C.synthesize_contributions(
                C.way_contribution_events(C.filter_tagged_histories(ways), nodes)),
            "relation": lambda: C.synthesize_contributions(
                C.relation_contribution_events(rels, ways, nodes)),
        }
        from ohsome_planet_spark.session import release_cached

        for t, build in streams.items():
            m[f"contributions.run_s.{t}"] = noop(build())
            release_cached()
        out = self.outs[-1]
        feats = _load_country_csv(self.countries)
        written = spark.read.parquet(out)
        m["spatial.countries_s"] = noop(
            written.select(geometry_countries_udf(feats)(F.col("geometry"))))
        con = duck(work)
        for t, n in con.sql(f"SELECT osm_type, count(*) FROM {scan(out)} GROUP BY 1").fetchall():
            m[f"contributions.rows.{t}"] = n
        st = parquet_stats(out)
        m.update({"geoparquet.files": st["files"], "geoparquet.bytes": st["bytes"],
                  "geoparquet.data_bytes": st["data_bytes"],
                  "geoparquet.overhead_ratio": st["bytes"] / max(1, st["data_bytes"])})
        qm, errors = query_layer(spark, con, out, self.city, self.seed, tracer)
        con.close()
        m.update(qm)
        return m, errors


# --- reads over the written dataset (traced bulk_city runs) ----------------


def query_mix(city: gen.City, seed: int) -> list[tuple[str, str, str]]:
    """(name, Spark SQL or ``filter:`` + an ohsome filter, DuckDB SQL) over
    views of the same names on both engines."""
    import random

    rng = random.Random(seed ^ 0xC0FFEE)
    a = rng.choice(gen.AMENITIES)
    lon0, lat0 = gen.ORIGIN
    size = BULK_CITY.grid * gen.CELL_DEG
    x0, y0 = lon0 + size * rng.uniform(0, 0.5), lat0 + size * rng.uniform(0, 0.5)
    x1, y1 = x0 + size / 2, y0 + size / 2
    way_id = rng.choice(sorted(city.way_version))
    node_id = rng.choice(city.tagged_corners)
    bbox = (f"bbox.xmin >= {x0!r} AND bbox.xmax <= {x1!r}"
            f" AND bbox.ymin >= {y0!r} AND bbox.ymax <= {y1!r}")
    same = [
        ("count_by_type", "SELECT osm_type, count(*) FROM contributions GROUP BY osm_type"),
        ("bbox", f"SELECT osm_type, count(*) FROM contributions WHERE {bbox} GROUP BY 1"),
        ("way_lookup", "SELECT osm_version, osm_minor_version, contrib_type"
         f" FROM contributions WHERE osm_type = 'way' AND osm_id = {way_id}"),
        ("node_lookup", "SELECT osm_version, contrib_type FROM contributions"
         f" WHERE osm_type = 'node' AND osm_id = {node_id}"),
    ]
    return [(name, q, q) for name, q in same] + [
        ("latest_tag",
         f"SELECT count(*) FROM contributions_latest WHERE tags['amenity'] = '{a}'",
         "SELECT count(*) FROM contributions_latest"
         f" WHERE map_extract(tags, 'amenity')[1] = '{a}'"),
        ("monthly",
         "SELECT date_format(valid_from, 'yyyy-MM'), contrib_type, count(*)"
         " FROM contributions GROUP BY 1, 2",
         "SELECT strftime(valid_from, '%Y-%m'), contrib_type, count(*)"
         " FROM contributions GROUP BY 1, 2"),
        ("top_users",
         "SELECT user.id, count(*) c FROM contributions GROUP BY user.id"
         " ORDER BY c DESC, user.id LIMIT 5",
         'SELECT "user".id, count(*) c FROM contributions GROUP BY "user".id'
         ' ORDER BY c DESC, "user".id LIMIT 5'),
        ("filter_buildings", "filter:type:way and building=*",
         "SELECT count(*) FROM contributions WHERE osm_type = 'way'"
         " AND list_contains(map_keys(tags), 'building')"),
        ("filter_highways", "filter:highway in (residential, tertiary) and geometry:line",
         "SELECT count(*) FROM contributions WHERE map_extract(tags, 'highway')[1]"
         " IN ('residential', 'tertiary') AND geometry_type = 'LineString'"),
    ]


def _files_read(df) -> int:
    """``numFiles`` summed over the scans of an executed plan."""
    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            yield from walk(node.executedPlan())
            return
        if "QueryStage" in name:
            yield from walk(node.plan())
            return
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    total = 0
    for node in walk(df._jdf.queryExecution().executedPlan()):
        metrics = node.metrics()
        if metrics.contains("numFiles"):
            total += metrics.apply("numFiles").value()
    return total


def percentile_rule(values) -> tuple[float, float]:
    """(p, latency at p) for the highest percentile with ten samples
    beyond it; (0, 0) when there are too few samples."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p else (0.0, 0.0)


def _norm(rows) -> list[tuple]:
    return sorted((tuple(round(x, 6) if isinstance(x, float) else x for x in r)
                   for r in rows), key=repr)


def query_layer(spark, con, out: str, city, seed: int, tracer, rounds: int = 3):
    """Register the views, run the query mix ``rounds`` times, and compare
    each query's result with DuckDB over the same files."""
    from ohsome_planet_spark.functions.ohsome_filter import compile_filter
    from ohsome_planet_spark.sources.views import register_contribution_views

    t0 = time.perf_counter()
    register_contribution_views(spark, out)
    m = {"views.register_s": time.perf_counter() - t0}
    con.execute(f"CREATE OR REPLACE VIEW contributions AS SELECT * FROM {scan(out)}")
    con.execute("CREATE OR REPLACE VIEW contributions_latest AS"
                " SELECT * FROM contributions WHERE layer = 'latest'")
    plan, execs, compile_s, files = [], [], [], 0
    errors = []
    mix = query_mix(city, seed)
    for r in range(rounds):
        for name, q, dq in mix:
            with tracer.span(f"query.{name}"):
                t0 = time.perf_counter()
                if q.startswith("filter:"):
                    tc = time.perf_counter()
                    pred = compile_filter(q[len("filter:"):])
                    compile_s.append(time.perf_counter() - tc)
                    df = spark.table("contributions").filter(pred).groupBy().count()
                else:
                    df = spark.sql(q)
                df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                rows = [tuple(x) for x in df.collect()]
                t2 = time.perf_counter()
            plan.append(t1 - t0)
            execs.append(t2 - t1)
            if r == 0:
                files += _files_read(df)
                want = con.sql(dq).fetchall()
                if _norm(rows) != _norm(want):
                    errors.append(f"query {name}: spark {rows[:3]} != duckdb {want[:3]}")
    latency = [a + b for a, b in zip(plan, execs)]
    tail = percentile_rule(latency)
    m.update({"ohsome_filter.compile_s": median(compile_s), "query.plan_s": median(plan),
              "query.exec_s": median(execs), "query.files_read": files,
              "query.count": len(plan), "query.p50_s": median(latency),
              "query.tail_pct": tail[0], "query.tail_s": tail[1]})
    return m, errors


# --- replication_minutely --------------------------------------------------


class ReplicationMinutely:
    """A closed loop of: publish one minute to the ``file://`` mirror (both
    streams), run one ``replications`` pass, check the local state
    advanced. The first pass is a warm-up."""

    name = "replication_minutely"
    # The first pass loads and compiles most of Spark (~30 s). The JIT
    # keeps compiling through the timed passes (~42 then ~33 CPU-seconds,
    # ~25 once settled after a few more), by the same amount every run.
    warmup_ops = 1
    # The median of two is their mean: it averages the host's noise over
    # both passes (~28 s), which is what the run budget leaves after the
    # warm-up. manager.seq_growth compares the first and last third.
    min_ops = 2

    def prepare(self, seed: int, d: str) -> None:
        self.seed, self.dir = seed, d
        self.city = gen.make_city(seed, REPL_CITY)
        self.countries = os.path.join(d, "countries.csv")
        gen.write_countries_csv(seed, REPL_CITY, self.countries)
        self.mirror = gen.Mirror(os.path.join(d, "mirror"))
        self.mirror.publish_start(self.city)
        self.data = os.path.join(d, "data")
        self.updates = os.path.join(d, "updates")
        seed_replication_data(self.city, self.data)
        self.minutes = gen.make_minutes(seed, self.city, REPL_MINUTE)
        self.published: list[gen.Minute] = []

    def inputs(self) -> dict:
        return {**self.city.stats(), "node_edits_per_minute": REPL_MINUTE.node_edits,
                "changesets_per_minute": REPL_MINUTE.changesets}

    def _pass(self) -> tuple[gen.Minute, float, dict]:
        minute = next(self.minutes)
        self.published.append(minute)
        t0 = time.perf_counter()
        self.mirror.publish(minute)
        out = cli(["replications", "--data", self.data, "--parquet-data", self.updates,
                   "--endpoint", f"file://{self.mirror.minute}",
                   "--replication-changesets", f"file://{self.mirror.changesets}",
                   "--country-file", self.countries])
        wall = time.perf_counter() - t0
        report = json.loads(out.strip().splitlines()[-1])
        with open(os.path.join(self.data, "state.txt")) as f:
            report["local_state"] = ReplicationState.parse(f.read()).sequence
        return minute, wall, report

    def warmup(self, spark) -> None:
        self._pass()

    def op(self, spark, i: int) -> Op:
        minute, wall, report = self._pass()
        path = os.path.join(self.updates, f"{sequence_path(minute.sequence)}.opc.parquet")
        st = parquet_stats(path)
        return Op(wall, minute.rows_published, st["rows"], st["bytes"],
                  {"minute": minute, "report": report, "path": path})

    def check(self, op: Op, work: str) -> list[str]:
        minute, report = op.meta["minute"], op.meta["report"]
        errors = []
        if report["applied_sequences"] != [minute.sequence]:
            errors.append(f"applied {report['applied_sequences']} != [{minute.sequence}]")
        if report["contribution_state"] != minute.sequence:
            errors.append(f"contribution state {report['contribution_state']}")
        if report["changeset_state"] != minute.sequence:
            errors.append(f"changeset state {report['changeset_state']}")
        if report["local_state"] != minute.sequence:
            errors.append(f"local state.txt at {report['local_state']}")
        con = duck(work)
        rows = con.sql(
            "SELECT osm_type, osm_id, osm_version, osm_minor_version,"
            " strftime(valid_from, '%Y-%m-%dT%H:%M:%S')"
            f" FROM read_parquet('{op.meta['path']}/*.parquet')").fetchall()
        con.close()
        op.meta["digest"] = digest(rows)
        errors.extend(check_pin(op, f"{self.name}/{self.seed}/{minute.sequence}"))
        # each affected entity's whole history is rebuilt: its newest row
        # is the minute's edit at the entity's latest major version
        newest: dict[tuple[str, int], tuple[str, int]] = {}
        for t, i, v, _minor, ts in rows:
            newest[(t, i)] = max(newest.get((t, i), ("", 0)), (ts, v))
        edit = minute.edit_time.strftime("%Y-%m-%dT%H:%M:%S")
        want = {(t, i): (edit, v) for t, i, v in minute.expected}
        if newest != want:
            wrong = sorted(k for k in newest.keys() | want.keys() if newest.get(k) != want.get(k))
            errors.append(f"sequence {minute.sequence}: {len(wrong)} entities differ,"
                          f" e.g. {wrong[:3]}")
        return errors

    def trace_targets(self, tracer) -> None:
        S = "ohsome_planet_spark.streaming"
        tracer.wrap(f"{S}.server:Server", "get_replication_file", "server.fetch")
        tracer.wrap("ohsome_planet_spark.sources.osmxml", "parse_osc_bytes", "osmxml.parse")
        tracer.wrap(f"{S}.changesets", "parse_changesets_bytes", "osmxml.parse")
        tracer.wrap(f"{S}.replication:IncrementalUpdater", "apply_batch", "replication.apply")
        tracer.wrap(f"{S}.manager:ContributionReplicationManager", "update_to_remote_state",
                    "manager.update")
        for attr in ("update_to_remote_state", "update_unclosed_changesets"):
            tracer.wrap(f"{S}.changesets:ChangesetStateManager", attr, "changesets.update")
        tracer.wrap(f"{S}.manager", "run_replication_update", "cli.run_replication_update")
        tracer.wrap("ohsome_planet_spark.sources.geoparquet", "write_contributions",
                    "geoparquet.write")

    def layers(self, spark, tracer, work: str) -> tuple[dict, list[str]]:
        walls = [s.end - s.start for s in tracer.spans if s.name == "op"]
        third = max(1, len(walls) // 3)
        st = parquet_stats(self.updates)
        m = {
            "manager.history_rows.node": parquet_stats(os.path.join(self.data, "nodes"))["rows"],
            "manager.history_rows.way": parquet_stats(os.path.join(self.data, "ways"))["rows"],
            "changesets.store_rows": parquet_stats(os.path.join(self.data, "changesets"))["rows"],
            "manager.seq_growth": median(walls[-third:]) / median(walls[:third]),
            "osmxml.rows": sum(m.rows_published for m in self.published),
            "geoparquet.files": st["files"], "geoparquet.bytes": st["bytes"],
            "geoparquet.data_bytes": st["data_bytes"],
            "geoparquet.overhead_ratio": st["bytes"] / max(1, st["data_bytes"]),
        }
        return m, []


def seed_replication_data(city: gen.City, data: str) -> None:
    """The state a bulk ``contributions --replication-endpoint`` run
    leaves in ``<data>``: node and way history tables, the local state at
    the sequence the extract ends at, plus a changeset store with its
    state."""
    ts = pa.timestamp("us", tz="UTC")

    def history(rows: list[dict], kind: str) -> pa.Table:
        cols = {
            "osm_type": pa.array([kind] * len(rows)),
            "osm_id": pa.array([r["osm_id"] for r in rows], pa.int64()),
            "version": pa.array([r["version"] for r in rows], pa.int32()),
            "ts": pa.array([datetime.fromtimestamp(r["ts_ms"] / 1000, tz=timezone.utc)
                            for r in rows], ts),
            "changeset": pa.array([r["changeset"] for r in rows], pa.int64()),
            "user_id": pa.array([r["uid"] for r in rows], pa.int64()),
            "user_name": pa.array([r["user"] for r in rows]),
            "visible": pa.array([r["visible"] for r in rows]),
            "tags": pa.array([list(r["tags"].items()) for r in rows],
                             pa.map_(pa.string(), pa.string())),
        }
        if kind == "node":
            cols["lon"] = pa.array([r["lon"] for r in rows], pa.float64())
            cols["lat"] = pa.array([r["lat"] for r in rows], pa.float64())
        else:
            cols["refs"] = pa.array([r["refs"] for r in rows], pa.list_(pa.int64()))
        return pa.table(cols)

    for sub, rows, kind in (("nodes", city.nodes, "node"), ("ways", city.ways, "way")):
        os.makedirs(os.path.join(data, sub))
        pq.write_table(history(rows, kind), os.path.join(data, sub, "part-0.parquet"))
    os.makedirs(os.path.join(data, "changesets"))
    gen.write_changesets_parquet(city.changesets,
                                 os.path.join(data, "changesets", "part-0.parquet"),
                                 store=True)
    start = ReplicationState(gen.FIRST_SEQUENCE,
                             gen.state_time(gen.FIRST_SEQUENCE, city).isoformat()).format()
    with open(os.path.join(data, "state.txt"), "w") as f:
        f.write(start)
    with open(os.path.join(data, "changeset_state.txt"), "w") as f:
        f.write(start)


WORKLOADS = {w.name: w for w in (BulkCity, ReplicationMinutely)}
