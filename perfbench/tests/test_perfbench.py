"""Tests of the benchmark's own code: generator determinism, the mirror
layout the replication clients read, the percentile and sample-count
rule, and the metric names the benchmark prints against BENCHMARK.json.
None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import itertools
import json
import os
import re
import shutil
import subprocess
import sys

import gen
import probes
import run
import stats
from workloads import WORKLOADS, Op

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = gen.CityParams(grid=6, relations=2)
MINUTE = gen.MinuteParams(node_edits=3, changesets=2)


def _build(d, seed: int) -> dict[str, bytes]:
    os.makedirs(d)
    city = gen.make_city(seed, SMALL)
    gen.write_city_pbf(city, os.path.join(d, "city.osh.pbf"))
    gen.write_changesets_parquet(city.changesets, os.path.join(d, "cs.parquet"))
    gen.write_changesets_parquet(city.changesets, os.path.join(d, "store.parquet"), store=True)
    gen.write_countries_csv(seed, SMALL, os.path.join(d, "countries.csv"))
    mirror = gen.Mirror(os.path.join(d, "mirror"))
    mirror.publish_start(city)
    for minute in itertools.islice(gen.make_minutes(seed, city, MINUTE), 3):
        mirror.publish(minute)
    files = {}
    for root, _dirs, names in os.walk(d):
        for n in names:
            full = os.path.join(root, n)
            with open(full, "rb") as f:
                files[os.path.relpath(full, d)] = f.read()
    return files


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _build(str(tmp_path / "a"), 7)
    b = _build(str(tmp_path / "b"), 7)
    c = _build(str(tmp_path / "c"), 8)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_city_shape_follows_parameters():
    city = gen.make_city(3, SMALL)
    corners = (SMALL.grid + 1) ** 2
    assert {n["osm_id"] for n in city.nodes} >= set(range(1, corners + 1))
    assert all(1 <= v <= SMALL.max_versions for v in city.way_version.values())
    assert len({r["osm_id"] for r in city.relations}) == SMALL.relations
    assert all(r["tags"]["type"] == "multipolygon" for r in city.relations)
    # a history is sorted by version and every version is newer than the last
    for a, b in zip(city.nodes, city.nodes[1:]):
        if a["osm_id"] == b["osm_id"]:
            assert b["version"] == a["version"] + 1 and b["ts_ms"] >= a["ts_ms"]


def test_minutes_rebuild_the_ways_through_moved_nodes():
    city = gen.make_city(5, SMALL)
    for m in itertools.islice(gen.make_minutes(5, city, MINUTE), 4):
        nodes = [i for t, i, _ in m.expected if t == "node"]
        ways = {i for t, i, _ in m.expected if t == "way"}
        assert len(nodes) == MINUTE.node_edits and set(nodes) <= set(city.tagged_corners)
        assert ways == {w for n in nodes for w in city.ways_of_node.get(n, ())}
        assert m.rows_published == MINUTE.node_edits + MINUTE.changesets


def test_mirror_is_readable_by_the_replication_clients(tmp_path):
    from ohsome_planet_spark.sources.osmxml import parse_changesets_bytes, parse_osc_bytes
    from ohsome_planet_spark.streaming.server import changeset_server, entity_server, file_fetch

    city = gen.make_city(2, SMALL)
    mirror = gen.Mirror(str(tmp_path / "mirror"))
    mirror.publish_start(city)
    minutes = list(itertools.islice(gen.make_minutes(2, city, MINUTE), 2))
    for m in minutes:
        mirror.publish(m)
    last = gen.FIRST_SEQUENCE + 2
    entities = entity_server("local://mirror/", fetch=file_fetch(mirror.minute))
    assert entities.get_latest_remote_state().sequence == last
    rows = parse_osc_bytes(entities.get_replication_file(last))
    assert sorted(r["osm_id"] for r in rows) == sorted(
        i for t, i, _ in minutes[-1].expected if t == "node")
    changesets = changeset_server("local://mirror/", fetch=file_fetch(mirror.changesets))
    assert changesets.get_latest_remote_state().sequence == last
    # the changeset stream's file N carries state N-1
    assert changesets.get_remote_state(last + 1).sequence == last
    assert len(parse_changesets_bytes(changesets.get_replication_file(last + 1))) == 2


def test_percentiles_and_the_ten_beyond_rule():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    assert stats.percentile(range(1, 11), 50) == 5
    assert stats.percentile(range(1, 101), 95) == 95
    assert stats.tail_percentile(1) is None
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(199) == 90
    assert stats.tail_percentile(200) == 95
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(10000) == 99.9


def test_digest_ignores_row_order():
    rows = [("way", 2, None), ("node", 1, 3)]
    assert stats.digest(rows) == stats.digest(rows[::-1])
    assert stats.digest(rows) != stats.digest(rows[:1])


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_what_the_benchmark_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == {k: v[:2] for k, v in run.END_TO_END.items()}
    assert layers == {k: v[:2] for k, v in run.PER_LAYER.items()}
    for name, (unit, better) in {**e2e, **layers}.items():
        assert NAME.match(name) and UNIT.match(unit) and better in ("lower", "higher")
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")

    end_to_end = run.result_line(0, 1, dict.fromkeys(run.END_TO_END, 1.0), run.END_TO_END)
    assert set(end_to_end["metrics"]) == set(e2e)
    tracer = probes.Tracer()
    with tracer.span("op"):
        with tracer.span("geoparquet.write"):
            pass
    values = run.layer_metrics(tracer, len(tracer.spans), [Op(1.0, 10, 5, 100)],
                               {"pbf.versions": 3}, {}, 0, 1e-6)
    traced = run.result_line(0, 1, values, run.PER_LAYER)
    assert set(traced["metrics"]) == set(layers)
    assert traced["metrics"]["trace.coverage"]["value"] > 0


def test_exits_nonzero_without_a_result_when_the_program_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_city", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
