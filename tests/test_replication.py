"""Replication / incremental tests (FIXTURES.md §5 scenarios;
``ContributionUpdaterTest.java:20-56``)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.sources.osmxml import (
    bz2_stream_offsets,
    parse_changesets_bytes,
    parse_osc_bytes,
)
from ohsome_planet_spark.streaming.replication import (
    ReplicationState,
    dirty_parents,
    filter_diff_against_state,
    latest_state,
    merge_latest_state,
    rebuild_affected_ways,
    sequence_path,
)
from ohsome_planet_spark.schemas import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA, history_schema
from ohsome_planet_spark.streaming.manager import NODE_HISTORY_SCHEMA, WAY_HISTORY_SCHEMA


def ts(sec):
    return dt.datetime.fromtimestamp(sec, dt.timezone.utc).replace(tzinfo=None)


OSC = b"""<osmChange version="0.6">
  <create>
    <node id="1" version="1" timestamp="2024-01-01T00:00:00Z" changeset="5" uid="1" user="u" lat="49.0" lon="8.0">
      <tag k="amenity" v="cafe"/>
    </node>
  </create>
  <modify>
    <way id="10" version="2" timestamp="2024-01-01T00:01:00Z" changeset="6" uid="1" user="u">
      <nd ref="1"/><nd ref="2"/>
      <tag k="highway" v="path"/>
    </way>
  </modify>
  <delete>
    <node id="3" version="4" timestamp="2024-01-01T00:02:00Z" changeset="7" uid="2" user="v"/>
  </delete>
</osmChange>"""


def test_parse_osc():
    ents = parse_osc_bytes(OSC)
    assert len(ents) == 3
    assert ents[0]["visible"] is True and ents[0]["tags"] == {"amenity": "cafe"}
    assert ents[1]["refs"] == [1, 2]
    assert ents[2]["visible"] is False and ents[2]["osm_type"] == "node"


def test_parse_changesets():
    xml = b"""<osm><changeset id="42" created_at="2024-01-01T00:00:00Z"
        closed_at="2024-01-01T01:00:00Z" open="false" uid="7" user="u"
        min_lon="8.0" min_lat="49.0" max_lon="8.1" max_lat="49.1"
        num_changes="25" comments_count="3">
        <tag k="comment" v="mapping #streets today"/>
        <tag k="created_by" v="JOSM"/></changeset></osm>"""
    rows = parse_changesets_bytes(xml)
    assert rows[0]["id"] == 42
    assert rows[0]["tags"]["created_by"] == "JOSM"
    assert rows[0]["open"] is False
    # ChangesetXmlReader.java:65-66
    assert rows[0]["num_changes"] == 25
    assert rows[0]["comments_count"] == 3
    # absent attributes default to 0, matching the reference's int fields
    bare = parse_changesets_bytes(b'<osm><changeset id="1"/></osm>')
    assert bare[0]["num_changes"] == 0 and bare[0]["comments_count"] == 0


def test_split_bz2_streams_roundtrip(tmp_path):
    """The offset scan finds every stream header, at any compression
    level, and each offset range decompresses to its stream."""
    import bz2

    parts = [b"<osm>part one</osm>", b"<osm>part two</osm>", b"<osm>part three</osm>"]
    data = b"".join(bz2.compress(p, level) for p, level in zip(parts, (9, 1, 5)))
    path = tmp_path / "dump.osm.bz2"
    path.write_bytes(data)
    offsets = list(bz2_stream_offsets(str(path)))
    assert len(offsets) == 3 and offsets[0] == 0
    bounds = [*offsets, len(data)]
    assert [bz2.decompress(data[a:b]) for a, b in zip(bounds, bounds[1:])] == parts


def _node(nid, version, sec, visible=True, lon=8.0, lat=49.0, tags=None):
    return (nid, version, ts(sec), 1, 1, "u", visible, tags or {"a": "b"}, lon, lat)


class TestStateAndDiff:
    def test_diff_filter_semantics(self, spark):
        state = spark.createDataFrame(
            [_node(1, 2, 10), _node(2, 1, 10)], NODE_SCHEMA
        ).withColumn("osm_type", F.lit("node"))
        diff = spark.createDataFrame(
            [
                _node(1, 2, 10),  # replay (<= stored version) -> dropped
                _node(1, 3, 20),  # genuine new version -> kept
                _node(9, 5, 20, visible=False),  # delete without before -> dropped
                _node(8, 1, 20),  # brand-new create -> kept
            ],
            NODE_SCHEMA,
        ).withColumn("osm_type", F.lit("node"))
        kept = filter_diff_against_state(diff, state)
        assert {(r.osm_id, r.version) for r in kept.collect()} == {(1, 3), (8, 1)}

    def test_merge_latest_state(self, spark):
        state = spark.createDataFrame([_node(1, 2, 10)], NODE_SCHEMA).withColumn(
            "osm_type", F.lit("node")
        )
        new = spark.createDataFrame([_node(1, 3, 20), _node(2, 1, 20)], NODE_SCHEMA).withColumn(
            "osm_type", F.lit("node")
        )
        merged = {r.osm_id: r.version for r in merge_latest_state(state, new).collect()}
        assert merged == {1: 3, 2: 1}

    def test_dirty_propagation(self, spark):
        """Changed node dirties its way; way (changed or dirty) and node
        dirty their relations — transitively (ContributionUpdaterTest)."""
        ways = spark.createDataFrame(
            [
                (10, 1, ts(1), 1, 1, "u", True, {"h": "x"}, [1, 2]),
                (11, 1, ts(1), 1, 1, "u", True, {"h": "x"}, [5, 6]),
            ],
            WAY_SCHEMA,
        ).withColumn("osm_type", F.lit("way"))
        rels = spark.createDataFrame(
            [
                (20, 1, ts(1), 1, 1, "u", True, {"type": "route"},
                 [("way", 10, ""), ("node", 7, "stop")]),
                (21, 1, ts(1), 1, 1, "u", True, {"type": "route"},
                 [("way", 11, "")]),
            ],
            "osm_id bigint, version int, ts timestamp, changeset bigint, user_id int,"
            "user_name string, visible boolean, tags map<string,string>,"
            "members array<struct<type:string,id:bigint,role:string>>",
        ).withColumn("osm_type", F.lit("relation"))
        changed_nodes = spark.createDataFrame([(1,)], "osm_id bigint")
        changed_ways = spark.createDataFrame([], "osm_id bigint")
        dw, dr = dirty_parents(changed_nodes, changed_ways, ways, rels)
        assert {r.osm_id for r in dw.collect()} == {10}
        assert {r.osm_id for r in dr.collect()} == {20}

    def test_incremental_way_rebuild_minor_continuation(self, spark):
        """Node-only diff dirties a way; rebuilding the affected id yields
        the continued minor-version counter (scenario: minor continuation
        across batches)."""
        nodes_before = [
            _node(1, 1, 1, lon=0.0, lat=0.0, tags={}),
            _node(2, 1, 1, lon=1.0, lat=0.0, tags={}),
        ]
        ways = spark.createDataFrame(
            [(10, 1, ts(2), 1, 1, "u", True, {"highway": "x"}, [1, 2])], WAY_SCHEMA
        )
        # batch arrives: node 2 moves (changeset 9)
        node_hist = spark.createDataFrame(
            nodes_before + [(2, 2, ts(50), 9, 1, "u", True, {}, 2.0, 0.0)], NODE_SCHEMA
        )
        out = sorted(
            rebuild_affected_ways(ways, node_hist, {10}).collect(),
            key=lambda r: r.osm_edits,
        )
        assert [r.osm_minor_version for r in out] == [0, 1]
        assert out[1].valid_from == ts(50)
        assert out[0].valid_to == ts(50)
        assert out[1].contrib_type == "GEOMETRY"


def test_state_txt_roundtrip():
    text = "#Mon Jan 01 00:00:00 UTC 2024\nsequenceNumber=6824839\ntimestamp=2024-01-01T00\\:00\\:00Z\n"
    st = ReplicationState.parse(text)
    assert st.sequence == 6824839
    assert st.timestamp == "2024-01-01T00:00:00Z"
    assert ReplicationState.parse(st.format()) == st


def test_sequence_path():
    assert sequence_path(6824839) == "006/824/839"
    assert sequence_path(42) == "000/000/042"


def _ten_second_server(latest: int, earliest: int = 0, fetches: list | None = None):
    """An entity server whose state ``seq`` carries timestamp ``seq * 10``
    seconds, published from ``earliest`` up to ``latest``. ``fetches``
    records each request and stops a search that runs past 100 of them."""
    from ohsome_planet_spark.streaming.server import entity_server

    def state(seq):
        stamp = ts(seq * 10).strftime("%Y-%m-%dT%H\\:%M\\:%SZ")
        return f"sequenceNumber={seq}\ntimestamp={stamp}\n".encode()

    def fetch(url):
        if fetches is not None:
            fetches.append(url)
            if len(fetches) > 100:
                raise RuntimeError("unbounded search")
        rel = url[len("local://mirror/"):]
        if rel == "state.txt":
            return state(latest)
        seq = int(rel[: -len(".state.txt")].replace("/", ""))
        if not earliest <= seq <= latest:
            raise FileNotFoundError(url)
        return state(seq)

    # one attempt: the fetch cap must end the search, not be retried
    return entity_server("local://mirror/", fetch=fetch, max_attempts=1)


def test_bisection():
    # timestamps = seq * 10; find greatest seq with ts <= target
    server = _ten_second_server(100)
    latest = server.get_latest_remote_state()

    def find(target):
        return server.find_start_state_by_timestamp(ts(target), latest).sequence

    assert find(555) == 55
    assert find(9999) == 100
    assert find(0) == 0


@pytest.mark.parametrize("earliest", [100, 50])
def test_start_discovery_fails_when_older_states_expired(earliest):
    """A target older than every state the server still keeps ends the
    gap bisection within a few fetches and raises, naming the target and
    the earliest available sequence, instead of starting after it."""
    fetches = []
    server = _ten_second_server(100, earliest=earliest, fetches=fetches)
    with pytest.raises(ValueError, match=f"earliest available is sequence {earliest} "):
        server.find_start_state_by_timestamp(ts(5), server.get_latest_remote_state())
    assert len(fetches) <= 20, fetches


def test_changeset_lag_holdback(tmp_path):
    """R2: contributions held back to the changeset stream's timestamp
    unless that stream lags by more than 180 s."""
    from ohsome_planet_spark.streaming.manager import ContributionReplicationManager
    from ohsome_planet_spark.streaming.replication import process_until

    contrib_ts = ts(10_000)
    # changeset stream close behind (lag 60 s) -> hold back to its ts
    assert process_until(contrib_ts, ts(9_940)) == ts(9_940)
    # exactly the acceptable delay still holds back; one second more does not
    assert process_until(contrib_ts, ts(9_820)) == ts(9_820)
    assert process_until(contrib_ts, ts(9_819)) == contrib_ts
    # changeset stream far behind (lag 300 s) -> contributions run free
    assert process_until(contrib_ts, ts(9_700)) == contrib_ts

    # the manager walks its target back to the newest state at or before
    # the cutoff: with states every 10 s, 970 s -> 97; 8 s -> none applied
    def applied(until):
        server = _ten_second_server(100)
        manager = ContributionReplicationManager(
            server=server, spark=None, data_dir=str(tmp_path), out_dir=str(tmp_path),
            local_state=ReplicationState(90, ""),
        )
        done = []
        manager._process = lambda state: done.append(state.sequence)
        cutoff = ts(until).replace(tzinfo=dt.timezone.utc)
        assert manager.update_to_remote_state(process_until=cutoff) == len(done)
        return done

    assert applied(970) == list(range(91, 98))
    assert applied(8) == []


# --- Waiter (reference utils/Waiter.java, pinned by WaiterTest.java) --------


def test_waiter_backoff_doubles_and_caps():
    from ohsome_planet_spark.streaming.waiter import Waiter

    w = Waiter(clock=lambda: None)  # no real sleeping
    for _ in range(6):
        w.wait_for_retry()
    assert [s for s, _ in w.waits] == [5, 10, 20, 40, 60, 60]
    w.reset_retry()
    w.wait_for_retry()
    assert w.waits[-1][0] == 5


def test_waiter_sleep_interruptible():
    import threading
    import pytest
    from ohsome_planet_spark.streaming.waiter import Waiter

    stop = threading.Event()
    stop.set()
    w = Waiter(shutdown_event=stop, clock=lambda: None)
    with pytest.raises(InterruptedError):
        w.sleep(5, "test")


# --- relation support in the IncrementalUpdater: J6 filter on relation rows,
# J7 dirty propagation node -> way -> relation, R3 relation rebuild ---------

REL_HISTORY_SCHEMA = (
    "osm_type string, osm_id bigint, version int, ts timestamp,"
    " changeset bigint, user_id bigint, user_name string, visible boolean,"
    " tags map<string,string>,"
    " members array<struct<type:string,id:bigint,role:string>>"
)


def _mk_node(nid, ver, ts, lon, lat, cs=1):
    import datetime as dt

    return (
        "node", nid, ver, dt.datetime.fromtimestamp(ts, dt.timezone.utc)
        .replace(tzinfo=None), cs, 7, "u7", True, {}, lon, lat,
    )


def _diff_rows(*tuples, schema=NODE_HISTORY_SCHEMA):
    """History-shaped tuples → the driver rows a parsed diff is."""
    return [dict(zip(schema.fieldNames(), t)) for t in tuples]


class TestIncrementalRelations:
    @pytest.fixture()
    def seeded(self, spark):
        import datetime as dt

        t0 = 1_700_000_000

        def d(ts):
            return dt.datetime.fromtimestamp(ts, dt.timezone.utc).replace(
                tzinfo=None
            )

        nodes = spark.createDataFrame(
            [
                _mk_node(1, 1, t0, 0.0, 0.0),
                _mk_node(2, 1, t0, 1.0, 0.0),
                _mk_node(3, 1, t0, 1.0, 1.0),
                _mk_node(4, 1, t0, 0.0, 1.0),
            ],
            NODE_HISTORY_SCHEMA,
        )
        ways = spark.createDataFrame(
            [(
                "way", 100, 1, d(t0 + 10), 2, 7, "u7", True,
                {"building": "yes"}, [1, 2, 3, 4, 1],
            )],
            WAY_HISTORY_SCHEMA,
        )
        rels = spark.createDataFrame(
            [(
                "relation", 900, 1, d(t0 + 20), 3, 7, "u7", True,
                {"type": "multipolygon", "landuse": "forest"},
                [{"type": "way", "id": 100, "role": "outer"}],
            )],
            REL_HISTORY_SCHEMA,
        )
        return nodes, ways, rels, t0

    def test_node_move_propagates_to_relation(self, spark, seeded):
        from ohsome_planet_spark.streaming.replication import IncrementalUpdater

        nodes, ways, rels, t0 = seeded
        upd = IncrementalUpdater(spark, nodes, ways, rels)
        batch = upd.apply_batch(_diff_rows(_mk_node(3, 2, t0 + 1000, 1.5, 1.5, cs=9)))
        n_c, w_c, r_c = batch.contributions
        # the relation was NOT in the batch but its member way's node moved:
        # J7 must mark it dirty and R3 rebuild it with a minor version
        rrows = r_c.orderBy("valid_from").collect()
        assert [r.osm_id for r in rrows] == [900, 900]
        assert [r.osm_minor_version for r in rrows] == [0, 1]
        assert [r.osm_edits for r in rrows] == [1, 2]
        wrows = w_c.orderBy("valid_from").collect()
        assert [w.osm_minor_version for w in wrows] == [0, 1]
        # affected sets exposed for the delete-insert merge
        aff_n, aff_w, aff_r = batch.affected
        assert sorted(aff_r) == [900]

    def test_relation_version_replay_dropped(self, spark, seeded):
        from ohsome_planet_spark.streaming.replication import IncrementalUpdater

        nodes, ways, rels, t0 = seeded
        upd = IncrementalUpdater(spark, nodes, ways, rels)
        # replay of the stored relation v1 -> J6 drops it; nothing dirty,
        # so no relation pipeline is built and the delta is empty
        batch = upd.apply_batch([r.asDict(recursive=True) for r in rels.collect()])
        assert batch.contributions[2] is None
        assert batch.affected[2] == frozenset()
        assert [d.num_rows for d in batch.delta] == [0, 0, 0]


# --- keyed J6/J7 == the relational spec ---------------------------------------

_T0 = 1_700_000_000


def _row(kind, oid, version, visible=True, **payload):
    return {
        "osm_type": kind, "osm_id": oid, "version": version,
        "ts": ts(_T0 + 60 * version), "changeset": version, "user_id": 7,
        "user_name": "u", "visible": visible, "tags": {"k": "v"},
        "lon": payload.get("lon"), "lat": payload.get("lat"),
        "refs": payload.get("refs"), "members": payload.get("members"),
    }


def _payload(rng, kind, node_ids, way_ids):
    if kind == "node":
        return {"lon": rng.uniform(0, 1), "lat": rng.uniform(0, 1)}
    if kind == "way":
        return {"refs": rng.sample(node_ids, rng.randint(2, 4))}
    return {"members": [
        {"type": t, "id": rng.choice(node_ids if t == "node" else way_ids), "role": ""}
        for t in rng.choices(["node", "way"], k=rng.randint(1, 3))
    ]}


def _keyed_case(seed):
    """A seeded store and diff: random histories and edits (replays, new
    versions, several versions of one id, deletes with and without a
    before-state, creates), plus fixed cases on ids the random part never
    uses: way 150 dropped node 201 in its latest version before 201
    moves, node 202 gets two versions in the diff and relation 951 lists
    it as a member, node 203 is replayed and node 999 is deleted unseen."""
    import random

    rng = random.Random(seed)
    node_ids, way_ids, rel_ids = list(range(1, 25)), list(range(100, 112)), list(range(900, 905))
    store = {"node": [], "way": [], "relation": []}
    for kind, ids in (("node", node_ids), ("way", way_ids), ("relation", rel_ids)):
        for oid in ids:
            n = rng.randint(1, 3)
            for v in range(1, n + 1):
                visible = v < n or rng.random() > 0.15
                store[kind].append(_row(kind, oid, v, visible, **_payload(rng, kind, node_ids, way_ids)))
    store["node"] += [_row("node", n, 1, lon=0.5, lat=0.5) for n in (201, 202, 203)]
    store["way"] += [_row("way", 150, 1, refs=[201, 202]), _row("way", 150, 2, refs=[203])]
    store["relation"] += [
        _row("relation", 950, 1, members=[{"type": "way", "id": 150, "role": ""}]),
        _row("relation", 951, 1, members=[{"type": "node", "id": 202, "role": ""}]),
    ]

    diff = []
    for kind, ids in (("node", node_ids), ("way", way_ids), ("relation", rel_ids)):
        stored = {}
        for r in store[kind]:
            stored[r["osm_id"]] = max(stored.get(r["osm_id"], 0), r["version"])
        for oid in rng.sample(ids, len(ids) // 3):
            top = stored[oid]
            case = rng.choice(["replay", "new", "several", "delete"])
            if case == "replay":
                v = rng.randint(1, top)
                diff.append(next(r for r in store[kind] if r["osm_id"] == oid and r["version"] == v))
                continue
            for v in range(top + 1, top + (3 if case == "several" else 2)):
                diff.append(_row(kind, oid, v, case != "delete",
                                 **_payload(rng, kind, node_ids, way_ids)))
        unseen = max(ids) + 50
        diff.append(_row(kind, unseen, 1, **_payload(rng, kind, node_ids, way_ids)))
        diff.append(_row(kind, unseen + 1, 2, False))  # delete, no before-state
    diff += [
        _row("node", 201, 2, lon=0.7, lat=0.7),
        _row("node", 202, 2, lon=0.8, lat=0.8),
        _row("node", 202, 3, lon=0.9, lat=0.9),
        _row("node", 203, 1, lon=0.5, lat=0.5),
        _row("node", 999, 3, False),
    ]
    rng.shuffle(diff)
    return store, diff


_HISTORY_SCHEMAS = {
    "node": NODE_HISTORY_SCHEMA,
    "way": WAY_HISTORY_SCHEMA,
    "relation": history_schema(RELATION_SCHEMA),
}


def _frame(spark, kind, rows):
    schema = _HISTORY_SCHEMAS[kind]
    return spark.createDataFrame([tuple(r[n] for n in schema.fieldNames()) for r in rows], schema)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_keyed_advance_equals_relational_spec(spark, seed):
    """The keyed J6/J7 of ``apply_batch`` (driver rows, keyed reads,
    Python rules) keeps the same delta rows and finds the same affected
    node, way and relation ids as the relational spec
    (``filter_diff_against_state`` over ``latest_state``, then
    ``dirty_parents``)."""
    from ohsome_planet_spark.streaming.replication import IncrementalUpdater

    store, diff = _keyed_case(seed)
    kinds = ("node", "way", "relation")
    hist = {k: _frame(spark, k, store[k]) for k in kinds}

    # the spec
    new = {
        k: filter_diff_against_state(
            _frame(spark, k, [r for r in diff if r["osm_type"] == k]), latest_state(hist[k])
        )
        for k in kinds
    }
    changed = {k: new[k].select("osm_id").distinct() for k in kinds}
    dirty_ways, dirty_rels = dirty_parents(
        changed["node"], changed["way"],
        latest_state(hist["way"].unionByName(new["way"])),
        latest_state(hist["relation"].unionByName(new["relation"])).select(
            "osm_id", "visible", "members"
        ),
    )

    def ids(*frames):
        return {r.osm_id for f in frames for r in f.collect()}

    want_delta = {
        k: sorted((r.osm_id, r.version, r.visible) for r in new[k].collect()) for k in kinds
    }
    want_affected = (
        ids(changed["node"]),
        ids(changed["way"], dirty_ways),
        ids(changed["relation"], dirty_rels),
    )

    batch = IncrementalUpdater(spark, hist["node"], hist["way"], hist["relation"]).apply_batch(diff)
    affected = batch.affected
    got_delta = {
        k: sorted((r["osm_id"], r["version"], r["visible"]) for r in table.to_pylist())
        for k, table in zip(kinds, batch.delta)
    }
    assert got_delta == want_delta
    assert tuple(set(a) for a in affected) == want_affected

    # the fixed cases hold on every seed
    assert (202, 2, True) in got_delta["node"] and (202, 3, True) in got_delta["node"]
    assert not {203, 999} & {i for i, _, _ in got_delta["node"]}
    assert 150 not in affected[1] and 950 not in affected[2]
    assert 951 in affected[2]
