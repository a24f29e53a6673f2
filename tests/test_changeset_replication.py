"""R5 changeset replication + S12 server client.

Scenario coverage mirrors the reference's state-manager behavior:
``ChangesetDB.java:131-186`` (ON CONFLICT … WHERE open), ``:276-296``
(pending placeholders), ``ChangesetStateManager.java:79-140`` (500-seq
batches, >2h reconciliation), ``Server.java:111-132`` (retry/backoff).
"""

import gzip
from datetime import datetime, timezone

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from ohsome_planet_spark.sources.osmxml import CHANGESET_SCHEMA
from ohsome_planet_spark.streaming.changesets import (
    ChangesetStateManager,
    batch_winner,
    open_changesets_older_than,
    pending_changesets,
    upsert_changesets,
)
from ohsome_planet_spark.streaming.replication import ReplicationState, sequence_path
from ohsome_planet_spark.streaming.server import (
    Server,
    changeset_server,
    entity_server,
    file_fetch,
)

T0 = datetime(2025, 10, 1, 0, 0, tzinfo=timezone.utc)


def _ts(minute):
    return datetime(2025, 10, 1, minute // 60, minute % 60)


def _row(id, open, minute=0, user="u", pos=None):
    r = {
        "id": id,
        "user_id": 1,
        "created_at": _ts(minute),
        "closed_at": None if open else _ts(minute + 1),
        "open": open,
        "user_name": user,
        "tags": {},
        "hashtags": [],
        "min_lon": None,
        "min_lat": None,
        "max_lon": None,
        "max_lat": None,
        "geom": None,
    }
    if pos is not None:
        r["_pos"] = pos
    return r


def _df(spark, rows, with_pos=False):
    schema = StructType(
        CHANGESET_SCHEMA.fields + ([StructField("_pos", LongType())] if with_pos else [])
    )
    return spark.createDataFrame(
        [tuple(r.values()) for r in rows], schema
    )


def test_closed_rows_are_immutable(spark):
    """ON CONFLICT … WHERE changesets.open: a closed store row survives any
    later update; an open one is replaced."""
    state = _df(spark, [_row(1, open=False, minute=0), _row(2, open=True, minute=0)])
    batch = _df(
        spark,
        [_row(1, open=True, minute=5, user="late", pos=0),
         _row(2, open=True, minute=5, user="upd", pos=1),
         _row(3, open=False, minute=5, user="new", pos=2)],
        with_pos=True,
    )
    out = {r.id: r for r in upsert_changesets(state, batch).collect()}
    assert len(out) == 3
    assert out[1].user_name == "u" and out[1].open is False  # frozen
    assert out[2].user_name == "upd" and out[2].open is True  # replaced
    assert out[3].user_name == "new" and out[3].open is False  # inserted


def test_within_batch_first_close_freezes(spark):
    """executeBatch applies in order: the first closing row wins; later
    rows for the same id in the same batch are blocked by WHERE open."""
    batch = _df(
        spark,
        [_row(7, open=True, minute=1, user="a", pos=0),
         _row(7, open=False, minute=2, user="closer", pos=1),
         _row(7, open=True, minute=3, user="replay", pos=2)],
        with_pos=True,
    )
    w = batch_winner(batch).collect()
    assert len(w) == 1 and w[0].user_name == "closer" and w[0].open is False


def test_within_batch_no_close_last_wins(spark):
    batch = _df(
        spark,
        [_row(7, open=True, minute=1, user="a", pos=0),
         _row(7, open=True, minute=2, user="b", pos=1)],
        with_pos=True,
    )
    w = batch_winner(batch).collect()
    assert len(w) == 1 and w[0].user_name == "b"


def test_pending_placeholders_do_nothing_on_conflict(spark):
    state = _df(spark, [_row(1, open=False)])
    ids = spark.createDataFrame([(1,), (2,), (2,), (5,)], "id bigint")
    out = {r.id: r for r in pending_changesets(state, ids).collect()}
    assert sorted(out) == [1, 2, 5]
    assert out[1].user_name == "u"  # existing row untouched
    assert out[2].open is True
    assert out[2].created_at.year == 2000  # epoch-2000 placeholder
    assert out[2].tags == {} and out[2].hashtags == []


def test_open_older_than_two_hours(spark):
    now = datetime(2025, 10, 1, 3, 0, tzinfo=timezone.utc)
    state = _df(
        spark,
        [_row(1, open=True, minute=0),     # 3h old, open -> candidate
         _row(2, open=False, minute=0),    # closed -> no
         _row(3, open=True, minute=100)],  # 80min old -> no
    )
    ids = sorted(r.id for r in open_changesets_older_than(state, now).collect())
    assert ids == [1]


# --- server client (S12) -----------------------------------------------------


def _cs_xml(rows):
    body = "".join(
        f'<changeset id="{i}" created_at="2025-10-01T00:0{m}:00Z" '
        + (f'closed_at="2025-10-01T00:0{m + 1}:00Z" ' if not op else "")
        + f'open="{"true" if op else "false"}" uid="1" user="{u}"/>'
        for (i, op, m, u) in rows
    )
    return f"<osm>{body}</osm>".encode()


class _MapTransport:
    """In-memory transport: url suffix -> bytes; records requests."""

    def __init__(self, files):
        self.files = files
        self.requests = []

    def __call__(self, url):
        self.requests.append(url)
        for suffix, data in self.files.items():
            if url.endswith(suffix):
                return data
        raise FileNotFoundError(url)


def test_server_retry_backoff_then_success():
    calls = {"n": 0}
    sleeps = []

    def flaky(url):
        calls["n"] += 1
        if calls["n"] < 4:
            raise ConnectionError("transient")
        return b"sequenceNumber=9\ntimestamp=2025-10-01T00\\:00\\:00Z\n"

    srv = entity_server("https://x/", fetch=flaky, sleep=sleeps.append)
    st = srv.get_latest_remote_state()
    assert st.sequence == 9
    assert sleeps == [2.0, 4.0, 8.0]  # exponential from 2s


def test_server_backoff_caps_at_60():
    sleeps = []

    def always_fail(url):
        raise ConnectionError("down")

    srv = entity_server("https://x/", fetch=always_fail, sleep=sleeps.append, max_attempts=8)
    with pytest.raises(ConnectionError):
        srv.get_latest_remote_state()
    assert sleeps == [2.0, 4.0, 8.0, 16.0, 32.0, 60.0, 60.0]


def test_server_404_propagates_immediately():
    def nf(url):
        raise FileNotFoundError(url)

    srv = entity_server("https://x/", fetch=nf, sleep=lambda s: pytest.fail("slept"))
    with pytest.raises(FileNotFoundError):
        srv.get_remote_state(42)


def test_server_gunzips_replication_file():
    t = _MapTransport({"000/000/042.osc.gz": gzip.compress(b"<osmChange/>")})
    srv = entity_server("https://x/", fetch=t)
    assert srv.get_replication_file(42) == b"<osmChange/>"
    assert sequence_path(6824840) == "006/824/840"


def test_changeset_server_parses_state_yaml():
    yaml = b"---\nlast_run: 2016-10-11 00:47:02.043685000 +00:00\nsequence: 2010580\n"
    srv = changeset_server("https://x/", fetch=_MapTransport({"state.yaml": yaml}))
    st = srv.get_latest_remote_state()
    assert st.sequence == 2010580
    assert st.timestamp.startswith("2016-10-11T00:47:02.043685")


def _state_file(seq, iso_ts):
    return f"sequenceNumber={seq}\ntimestamp={iso_ts}\n".replace(":", "\\:").encode()


def test_find_start_state_by_timestamp_interpolates():
    # sequences 0..100, one per minute from T0
    files = {}
    for s in range(0, 101):
        iso = datetime(2025, 10, 1, s // 60, s % 60, tzinfo=timezone.utc).isoformat()
        files[sequence_path(s) + ".state.txt"] = _state_file(s, iso)
    t = _MapTransport(files)
    srv = entity_server("https://x/", fetch=t)
    remote = srv.get_remote_state(100)
    target = datetime(2025, 10, 1, 0, 37, 30, tzinfo=timezone.utc)
    found = srv.find_start_state_by_timestamp(target, remote)
    assert found.sequence == 37  # greatest state <= target
    # interpolation should need far fewer probes than a linear scan
    assert len(t.requests) < 25


# --- state manager loop (R5) -------------------------------------------------


def _manager_fixture(spark, n_seqs=3, batch_size=500):
    """Sequences 1..n, each replication file carrying two changeset rows:
    id=seq stays open, id=seq-1 closes (so each file closes the previous
    sequence's changeset)."""
    files = {}
    for s in range(0, n_seqs + 2):
        iso = datetime(2025, 10, 1, 0, s, tzinfo=timezone.utc).isoformat()
        files[sequence_path(s) + ".state.txt"] = _state_file(s, iso)
    for s in range(1, n_seqs + 1):
        rows = [(100 + s, True, s % 8, f"u{s}")]
        if s > 1:
            rows.append((100 + s - 1, False, (s - 1) % 8, f"u{s - 1}"))
        files[sequence_path(s) + ".osc.gz"] = gzip.compress(_cs_xml(rows))
    t = _MapTransport(files)
    # entity-server naming (state.txt / offset 0) keeps the fixture simple;
    # the batching logic under test is identical
    srv = entity_server("https://x/", fetch=t)
    mgr = ChangesetStateManager(
        srv, spark, local_state=ReplicationState(0, T0.isoformat()),
        batch_size=batch_size,
    )
    return mgr, t


def test_update_to_remote_state_batches_and_advances(spark):
    mgr, t = _manager_fixture(spark, n_seqs=3, batch_size=2)
    state = _df(spark, [])
    remote = mgr.server.get_remote_state(3)
    state = mgr.update_to_remote_state(state, remote)
    out = {r.id: r for r in state.collect()}
    # ids 101,102 closed by later files; 103 still open
    assert out[101].open is False and out[102].open is False
    assert out[103].open is True
    assert mgr.local_state.sequence == 3  # advanced to the batch tail
    # batch_size=2 -> two upsert batches: state fetches for seq 2 and 3
    state_fetches = [u for u in t.requests if u.endswith(".state.txt")]
    assert any(u.endswith("002.state.txt") for u in state_fetches)
    assert any(u.endswith("003.state.txt") for u in state_fetches)


def test_update_unclosed_changesets_reconciles(spark):
    mgr, _ = _manager_fixture(spark)
    now = datetime(2025, 10, 1, 12, 0, tzinfo=timezone.utc)
    state = _df(
        spark,
        [_row(201, open=True, minute=0),   # stale-open: API says closed
         _row(202, open=True, minute=0),   # stale-open: API says still open
         _row(203, open=False, minute=0)],
    )
    asked = []

    def api(ids):
        asked.append(sorted(ids))
        return _cs_xml([(201, False, 1, "api"), (202, True, 1, "api")])

    out = {r.id: r for r in mgr.update_unclosed_changesets(state, now, api).collect()}
    assert asked == [[201, 202]]
    assert out[201].open is False and out[201].user_name == "api"
    assert out[202].open is True
    assert out[203].user_name == "u"  # untouched


def test_update_unclosed_batches_of_100(spark):
    mgr, _ = _manager_fixture(spark)
    now = datetime(2025, 10, 1, 12, 0, tzinfo=timezone.utc)
    state = _df(spark, [_row(i, open=True, minute=0) for i in range(1, 251)])
    sizes = []

    def api(ids):
        ids = list(ids)
        sizes.append(len(ids))
        return _cs_xml([(i, False, 1, "api") for i in ids])

    out = mgr.update_unclosed_changesets(state, now, api)
    assert sorted(sizes, reverse=True) == [100, 100, 50]
    assert out.filter("open").count() == 0


def test_initialize_local_state_estimates_from_timestamp(spark, tmp_path):
    """Without a state row or a start sequence, ``load`` starts at the
    published state the store's newest changeset falls in."""
    files = {}
    for s in range(0, 61):
        iso = datetime(2025, 10, 1, s // 60, s % 60, tzinfo=timezone.utc).isoformat()
        files[sequence_path(s) + ".state.txt"] = _state_file(s, iso)
    files["state.txt"] = _state_file(60, datetime(2025, 10, 1, 1, 0, tzinfo=timezone.utc).isoformat())
    srv = entity_server("https://x/", fetch=_MapTransport(files))
    newest = _row(1, open=False, minute=42)
    newest["created_at"] = datetime(2025, 10, 1, 0, 42, 30)
    _df(spark, [_row(2, open=False, minute=7), newest]).write.parquet(
        str(tmp_path / "changesets")
    )
    mgr = ChangesetStateManager(srv, spark, data_dir=str(tmp_path))
    mgr.load()
    assert mgr.local_state.sequence == 42


def test_initialize_requires_bulk_load_first(spark, tmp_path):
    srv = entity_server("https://x/", fetch=_MapTransport({}))
    mgr = ChangesetStateManager(srv, spark, data_dir=str(tmp_path))
    with pytest.raises(ValueError, match="changeset command"):
        mgr.load()


# --- S16 JDBC drop-in (sources/jdbc.py) --------------------------------------


def test_jdbc_merge_sql_matches_reference_semantics():
    """The merge statement carries the reference's exact conflict clause
    (ChangesetDB.java:131-149): update only while the stored row is open."""
    from ohsome_planet_spark.sources.jdbc import changeset_merge_sql

    sql = changeset_merge_sql("changesets", "changesets_staging")
    assert "ON CONFLICT (id) DO UPDATE SET" in sql
    assert sql.strip().endswith("WHERE changesets.open")
    assert "open = EXCLUDED.open" in sql
    assert "id = EXCLUDED.id" not in sql  # key never updated


def test_jdbc_sink_upsert_stages_then_merges(spark):
    """upsert = distributed staging append, one merge, one truncate —
    verified through the injectable seams (no pg driver in the container)."""
    from ohsome_planet_spark.sources.jdbc import ChangesetJdbcSink

    appended = []

    def fake_append(df, url, table, options):
        appended.append((df.columns, url, table, dict(options), df.count()))

    sink = ChangesetJdbcSink(
        url="jdbc:postgresql://h/db",
        append=fake_append,
        execute=lambda sql: None,
    )
    sink.ensure_tables()
    batch = _df(spark, [_row(1, True), _row(2, False)])
    sink.upsert(batch)

    cols, url, table, options, cnt = appended[0]
    assert table == "changesets_staging" and url == "jdbc:postgresql://h/db"
    assert cnt == 2 and "tags" in cols and options["batchsize"] == "10000"
    # tags crossed the boundary as JSON text, not a Spark map
    tagged = batch.select("tags").schema[0].dataType.typeName()
    assert tagged == "map"  # store side stays a map
    assert [s.split("\n")[0] for s in sink.statements[2:]] == [
        "INSERT INTO changesets (id, user_id, created_at, closed_at, open,"
        " user_name, tags, hashtags, min_lon, min_lat, max_lon, max_lat)",
        "TRUNCATE changesets_staging",
    ]


def test_manager_mirrors_batches_into_jdbc_sink(spark):
    """With a jdbc_sink attached, every replication batch and every
    reconciliation reply is winner-resolved and mirrored."""
    from ohsome_planet_spark.sources.jdbc import ChangesetJdbcSink

    upserts = []

    class _Spy(ChangesetJdbcSink):
        def upsert(self, batch):
            upserts.append({r.id: r.open for r in batch.collect()})

    mgr, _ = _manager_fixture(spark, n_seqs=3, batch_size=2)
    mgr.jdbc_sink = _Spy(url="jdbc:postgresql://h/db", execute=lambda s: None)
    state = _df(spark, [])
    state = mgr.update_to_remote_state(state, mgr.server.get_remote_state(3))
    assert len(upserts) == 2  # two catch-up batches (2 seqs + 1 seq)
    # seq 2's file closes changeset 101 -> winner for 101 in batch 1 is closed
    assert upserts[0][101] is False and upserts[0][102] is True


def test_upsert_differential_500_random_scenarios(spark):
    """Differential check of the one-shuffle merge against a literal
    sequential replay of ``INSERT … ON CONFLICT (id) DO UPDATE … WHERE
    changesets.open`` (ChangesetDB.java:131-160): 500 independent ids with
    random prior-state presence/openness and 0-4 batch rows each, all
    packed into one DataFrame pair so the whole sweep is a single job."""
    import random

    rng = random.Random(42)
    state_rows, batch_rows, expected = [], [], {}
    for cid in range(500):
        stored = None
        if rng.random() < 0.7:
            stored = _row(cid, rng.random() < 0.5, minute=cid % 60, user=f"s{cid}")
            state_rows.append(stored)
        seq = [
            _row(cid, rng.random() < 0.6, minute=cid % 60, user=f"b{cid}_{k}", pos=cid * 10 + k)
            for k in range(rng.randint(0, 4))
        ]
        batch_rows.extend(seq)
        cur = stored
        for row in seq:  # executeBatch applies rows in order
            if cur is None or cur["open"]:
                cur = row
        if cur is not None:
            expected[cid] = (cur["open"], cur["user_name"])

    out = upsert_changesets(
        _df(spark, state_rows), _df(spark, batch_rows, with_pos=True)
    )
    got = {r.id: (r.open, r.user_name) for r in out.collect()}
    assert got == expected


def test_bbox_geom_wkb(spark):
    """The store's ``geom`` column is the reference's PostGIS bbox polygon
    (``OSMChangesets.getBBOXasWKT``): CCW WKB ring from min/max lon/lat,
    NULL when any coordinate is missing. The parse computes it."""
    import struct

    from ohsome_planet_spark.sources.osmxml import parse_changesets_bytes

    rows = {
        r["id"]: r["geom"]
        for r in parse_changesets_bytes(
            b'<osm><changeset id="1" min_lon="10.0" min_lat="20.0"'
            b' max_lon="11.0" max_lat="21.0"/>'
            b'<changeset id="2" min_lat="20.0" max_lon="11.0" max_lat="21.0"/></osm>'
        )
    }
    assert rows[2] is None
    wkb = rows[1]
    # little-endian, Polygon (3), one ring of five points
    assert wkb[0] == 1
    assert struct.unpack("<I", wkb[1:5])[0] == 3
    assert struct.unpack("<I", wkb[5:9])[0] == 1
    assert struct.unpack("<I", wkb[9:13])[0] == 5
    pts = struct.unpack("<10d", wkb[13:])
    assert pts == (10.0, 20.0, 11.0, 20.0, 11.0, 21.0, 10.0, 21.0, 10.0, 20.0)

    # the batch-ingest path carries the parsed column into the table
    from ohsome_planet_spark.sources.osmxml import changeset_frame

    frame = changeset_frame(
        spark, parse_changesets_bytes(
            b'<osm><changeset id="7" open="true" min_lon="1.0" min_lat="2.0"'
            b' max_lon="3.0" max_lat="4.0"/></osm>'
        )
    )
    # no Python UDF is left in the table's plan
    assert "EvalPython" not in frame._jdf.queryExecution().executedPlan().toString()
    out = {r.id: r.geom for r in frame.collect()}
    assert out == {7: bytes(wkb[:13]) + struct.pack(
        "<10d", 1.0, 2.0, 3.0, 2.0, 3.0, 4.0, 1.0, 4.0, 1.0, 2.0
    )}
