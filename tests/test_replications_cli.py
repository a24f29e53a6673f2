"""Integration test for the ``replications`` CLI command: drive three
replication sequences end-to-end through ``python -m ohsome_planet_spark.cli
replications`` against a file:// mirror and check the written parquet
matches the incremental updater applied batch by batch
(``cmd/Replications.java:27-130``, ``ReplicationManager.java:33-137``,
``ContributionStateManager.java:116-245``)."""

import gzip
import json
import os
from datetime import datetime, timezone
from types import SimpleNamespace

import pytest

from ohsome_planet_spark.cli import main
from ohsome_planet_spark.streaming.manager import run_replication_update
from ohsome_planet_spark.streaming.replication import ReplicationState
from ohsome_planet_spark.streaming.server import entity_server, file_fetch
from tests.test_incremental_e2e import _apply_in_order

OSC = {
    101: """<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="test">
  <create>
    <node id="1" version="1" timestamp="2025-10-22T09:01:00Z" uid="1" user="One" changeset="11" lat="1.0" lon="1.0">
      <tag k="amenity" v="cafe"/>
    </node>
    <node id="2" version="1" timestamp="2025-10-22T09:01:00Z" uid="1" user="One" changeset="11" lat="1.0" lon="2.0"/>
    <way id="10" version="1" timestamp="2025-10-22T09:01:00Z" uid="1" user="One" changeset="11">
      <nd ref="1"/><nd ref="2"/>
      <tag k="highway" v="residential"/>
    </way>
    <relation id="30" version="1" timestamp="2025-10-22T09:01:00Z" uid="1" user="One" changeset="11">
      <member type="way" ref="10" role=""/>
      <tag k="type" v="route"/><tag k="route" v="bus"/>
    </relation>
  </create>
</osmChange>""",
    102: """<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="test">
  <modify>
    <node id="1" version="2" timestamp="2025-10-22T09:02:00Z" uid="1" user="One" changeset="12" lat="1.5" lon="1.0">
      <tag k="amenity" v="cafe"/>
    </node>
  </modify>
</osmChange>""",
    103: """<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="test">
  <create>
    <node id="3" version="1" timestamp="2025-10-22T09:03:00Z" uid="2" user="Two" changeset="13" lat="1.0" lon="3.0"/>
  </create>
  <modify>
    <way id="10" version="2" timestamp="2025-10-22T09:03:00Z" uid="2" user="Two" changeset="13">
      <nd ref="1"/><nd ref="2"/><nd ref="3"/>
      <tag k="highway" v="primary"/>
    </way>
    <relation id="30" version="2" timestamp="2025-10-22T09:03:00Z" uid="2" user="Two" changeset="13">
      <member type="way" ref="10" role=""/>
      <tag k="type" v="route"/><tag k="route" v="tram"/>
    </relation>
  </modify>
</osmChange>""",
}
TS = {
    100: "2025-10-22T09:00:30Z",
    101: "2025-10-22T09:01:30Z",
    102: "2025-10-22T09:02:30Z",
    103: "2025-10-22T09:03:30Z",
}


@pytest.fixture()
def mirror(tmp_path):
    root = tmp_path / "mirror"
    seq_dir = root / "000" / "000"
    seq_dir.mkdir(parents=True)
    for seq, xml in OSC.items():
        (seq_dir / f"{seq:03d}.osc.gz").write_bytes(gzip.compress(xml.encode()))
    for seq, ts in TS.items():
        state = f"sequenceNumber={seq}\ntimestamp={ts.replace(':', chr(92) + ':')}\n"
        (seq_dir / f"{seq:03d}.state.txt").write_text(state)
        if seq == max(TS):
            (root / "state.txt").write_text(state)
    return str(root)


def _key_rows(df):
    return {
        (r.osm_type, r.osm_id, r.osm_version, r.osm_minor_version, r.osm_edits,
         str(r.valid_from), r.contrib_type)
        for r in df.collect()
    }


def test_replications_cli_three_sequences(spark, mirror, tmp_path, capsys):
    data = str(tmp_path / "data")
    out = str(tmp_path / "out")
    argv = [
        "replications", "--data", data, "--parquet-data", out,
        "--endpoint", f"file://{mirror}", "--jcb", "--start-sequence", "100",
    ]
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["applied_sequences"] == [101, 102, 103]
    assert report["contribution_state"] == 103

    # published artifacts (per-sequence parquet + state, top-level state)
    for seq in (101, 102, 103):
        assert os.path.isdir(os.path.join(out, f"000/000/{seq:03d}.opc.parquet"))
        assert os.path.exists(os.path.join(out, f"000/000/{seq:03d}.state.txt"))
    top = ReplicationState.parse(open(os.path.join(out, "state.txt")).read())
    assert top.sequence == 103
    csv_text = open(os.path.join(out, "state.csv")).read()
    assert "103" in csv_text and "103.opc.parquet" in csv_text
    local = ReplicationState.parse(open(os.path.join(data, "state.txt")).read())
    assert local.sequence == 103

    # the written parquet for each sequence matches the incremental
    # updater applied batch by batch (with the manager's F5 tag-less filter)
    server = entity_server("local://mirror/", fetch=file_fetch(mirror))
    from pyspark.sql import functions as F

    batches, _ = _apply_in_order(spark, server, [101, 102, 103])
    for seq, batch in zip((101, 102, 103), batches):
        node_c, way_c, rel_c = batch.contributions
        direct = node_c.unionByName(way_c, allowMissingColumns=True).unionByName(
            rel_c, allowMissingColumns=True
        ).filter(
            (F.size(F.coalesce("tags", F.create_map())) > 0)
            | (F.size(F.coalesce("tags_before", F.create_map())) > 0)
        )
        written = spark.read.parquet(os.path.join(out, f"000/000/{seq:03d}.opc.parquet"))
        assert _key_rows(written) == _key_rows(direct), f"seq {seq}"

    # seq 103 touches node 3 (untagged -> dropped by the F5 filter), way 10
    # and relation 30 (tagged -> rebuilt); node 1 is unaffected so not
    # re-emitted
    w103 = spark.read.parquet(os.path.join(out, "000/000/103.opc.parquet"))
    assert {r.osm_id for r in w103.select("osm_id").collect()} == {10, 30}

    # history tables are durable: way 10's latest stored version is 2
    ways = spark.read.parquet(os.path.join(data, "ways"))
    assert ways.filter("osm_id = 10").agg(F.max("version")).first()[0] == 2

    # the reference writes bloom filters on update files
    # (ContributionStateManager.java:159-174); assert they actually exist
    # in the written INCREMENTAL outputs' footers (parquet-mr via the JVM;
    # pyarrow 16 doesn't surface bloom offsets)
    for seq in (101, 102, 103):
        _assert_bloom_filter(
            spark, os.path.join(out, f"000/000/{seq:03d}.opc.parquet"), "osm_id"
        )


def _assert_bloom_filter(spark, directory: str, column: str) -> None:
    import glob

    files = [
        f for f in glob.glob(os.path.join(directory, "*.parquet"))
        if os.path.getsize(f) > 0
    ]
    assert files, f"no parquet files under {directory}"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    offsets = []
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path("file://" + os.path.abspath(f))
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            path, conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            for block in reader.getFooter().getBlocks():
                for col in block.getColumns():
                    if col.getPath().toDotString() == column:
                        offsets.append(col.getBloomFilterOffset())
        finally:
            reader.close()
    assert offsets and all(o >= 0 for o in offsets), (
        f"bloom filter missing for {column} in {directory}: {offsets}"
    )


def test_minute_appends_one_history_file_per_changed_table(
    spark, mirror, tmp_path, capsys, monkeypatch
):
    """The J6 delta of a sequence is appended from the driver as one file
    per non-empty history table, with no Spark write and no lineage
    checkpoint: a node-only minute (102) adds exactly one file to
    ``<data>/nodes`` and none to ``<data>/ways``, the file reads back with
    the history schema, and re-running the sequence (its state row not yet
    advanced) adds no history row."""
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from ohsome_planet_spark.streaming.manager import NODE_HISTORY_SCHEMA

    data = str(tmp_path / "data")
    nodes, ways = os.path.join(data, "nodes"), os.path.join(data, "ways")
    spark_writes = []
    real_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kwargs):
        spark_writes.append(path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    checkpoints = []
    real_checkpoint = DataFrame.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        checkpoints.append(self)
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording_checkpoint)
    argv = [
        "replications", "--data", data, "--parquet-data", str(tmp_path / "out"),
        "--endpoint", f"file://{mirror}", "--jcb", "--start-sequence", "100",
        "--size", "1",
    ]

    def one_pass():
        assert main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert one_pass()["applied_sequences"] == [101]
    before = {d: set(os.listdir(d)) for d in (nodes, ways)}
    assert one_pass()["applied_sequences"] == [102]
    added = {d: set(os.listdir(d)) - before[d] for d in (nodes, ways)}
    assert len(added[nodes]) == 1 and not added[ways]
    (name,) = added[nodes]
    delta = spark.read.schema(NODE_HISTORY_SCHEMA).parquet(os.path.join(nodes, name))
    assert [(r.osm_type, r.osm_id, r.version, r.lat) for r in delta.collect()] == [
        ("node", 1, 2, 1.5)
    ]
    assert not [p for p in spark_writes if p.startswith((nodes, ways))]
    assert not checkpoints

    def history_rows():
        return spark.read.schema(NODE_HISTORY_SCHEMA).parquet(nodes).count()

    rows = history_rows()
    with open(os.path.join(data, "state.txt"), "w") as f:
        f.write(ReplicationState(101, TS[101]).format())
    assert one_pass()["applied_sequences"] == [102]
    assert history_rows() == rows
    assert set(os.listdir(nodes)) == before[nodes] | added[nodes]


def test_replications_cli_noop_when_caught_up(spark, mirror, tmp_path, capsys):
    data = str(tmp_path / "data")
    argv = [
        "replications", "--data", data, "--parquet-data", str(tmp_path / "out"),
        "--endpoint", f"file://{mirror}", "--jcb", "--start-sequence", "100",
    ]
    assert main(argv) == 0
    capsys.readouterr()
    # second run: local == remote, nothing applied, state unchanged
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["applied_sequences"] == []
    assert report["contribution_state"] == 103


def test_holdback_logic_dual_stream():
    """R2 holdback wiring (``ReplicationManager.java:57-75``): when the
    changeset stream is keeping up (lag <= 180 s) contributions are held to
    its timestamp; when it lags badly, contributions run up to their own
    remote state. The changeset stream catches up first."""
    calls = {}

    class FakeContribs:
        changeset_store = None

        def fetch_remote_state(self):
            calls["order"].append("contributions")
            return ReplicationState(10, "2025-10-22T09:10:00+00:00")

        def update_to_remote_state(self, remote, process_until=None):
            calls["until"] = process_until
            return 0

    class FakeChangesets:
        store = "committed store"

        def __init__(self, ts):
            self.server = SimpleNamespace(
                get_latest_remote_state=lambda: ReplicationState(5, ts)
            )

        def catch_up(self, remote, now):
            calls["order"].append("changesets")

    # changeset stream 60 s behind -> holdback to its timestamp
    calls["order"] = []
    contribs = FakeContribs()
    run_replication_update(contribs, FakeChangesets("2025-10-22T09:09:00+00:00"))
    assert calls["until"] == datetime(2025, 10, 22, 9, 9, tzinfo=timezone.utc)
    assert calls["order"] == ["changesets", "contributions"]
    assert contribs.changeset_store == "committed store"

    # changeset stream 10 min behind -> no holdback
    run_replication_update(FakeContribs(), FakeChangesets("2025-10-22T09:00:00+00:00"))
    assert calls["until"] == datetime(2025, 10, 22, 9, 10, tzinfo=timezone.utc)


REF_FIXTURES = "/root/reference/ohsome-replication-update/src/test/resources/replication"


@pytest.mark.skipif(not os.path.isdir(REF_FIXTURES), reason="fixtures absent")
def test_replications_cli_dual_stream(spark, tmp_path, capsys):
    """Full dual-stream pass over the vendored public fixtures: changesets
    catch up (6737400-401), then contributions (6824840-842) run without
    holdback because the changeset stream lags by days
    (``ReplicationManager.update``). The >2 h open-changeset API
    reconciliation is unreachable through the file transport and must be
    skipped, not crash."""
    data = str(tmp_path / "data")
    argv = [
        "replications", "--data", data, "--parquet-data", str(tmp_path / "out"),
        "--endpoint", f"file://{REF_FIXTURES}/minute",
        "--replication-changesets", f"file://{REF_FIXTURES}/changesets",
        "--start-sequence", "6824839",
        "--changeset-start-sequence", "6737398",
    ]
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["applied_sequences"] == [6824840, 6824841, 6824842]
    assert report["contribution_state"] == 6824842
    # files 6737400-401 were applied; the stream's NNN.state.txt carries
    # sequence N-1 (offset-by-one convention), so the local state lands on
    # 6737400 == the remote state: caught up
    assert report["changeset_state"] == 6737400

    # the changeset store was materialized and carries real fixture rows
    store = spark.read.parquet(os.path.join(data, "changesets"))
    assert store.count() > 0
    assert "geom" in store.columns
    state_text = open(os.path.join(data, "changeset_state.txt")).read()
    assert "6737400" in state_text


def _publish_changesets(root, seq, ids):
    """One minute on a ``file://`` changeset stream: the ``.osm.gz`` for
    state ``seq`` (file N carries state N-1), its state, then ``state.yaml``."""
    from ohsome_planet_spark.streaming.replication import sequence_path

    rel = sequence_path(seq + 1)
    os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
    xml = "".join(
        f'<changeset id="{i}" created_at="2025-10-22T09:00:00Z" '
        f'closed_at="2025-10-22T09:01:00Z" open="false" uid="1" user="One" '
        f'min_lon="1.0" min_lat="1.0" max_lon="2.0" max_lat="2.0"/>'
        for i in ids
    )
    body = f"<?xml version='1.0' encoding='UTF-8'?><osm version=\"0.6\">{xml}</osm>"
    with open(os.path.join(root, f"{rel}.osm.gz"), "wb") as f:
        f.write(gzip.compress(body.encode()))
    state = f"---\nlast_run: 2025-10-22 09:0{seq % 10}:00.000000000 +00:00\nsequence: {seq}\n"
    for name in (f"{rel}.state.txt", "state.yaml"):
        with open(os.path.join(root, name), "w") as f:
            f.write(state)


def _changeset_pass(data, root):
    argv = [
        "replications", "--data", data, "--jcs",
        "--replication-changesets", f"file://{root}",
        "--changeset-start-sequence", "100",
    ]
    assert main(argv) == 0


def test_changeset_store_commits_once_by_rename(spark, tmp_path, monkeypatch):
    """Each pass writes the store once, beside the live one, and swaps it
    in by rename: no second write, and no ``.tmp``/``.old`` left behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    root, data = str(tmp_path / "changesets"), str(tmp_path / "data")
    store = os.path.join(data, "changesets")
    writes = []
    real_parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *args, **kwargs):
        if path.startswith(store):
            writes.append(path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    _publish_changesets(root, 100, [])
    for seq, ids in ((101, [1, 2]), (102, [3])):
        _publish_changesets(root, seq, ids)
        writes.clear()
        _changeset_pass(data, root)
        assert len(writes) == 1, writes
        assert sorted(n for n in os.listdir(data) if n.startswith("changesets")) == [
            "changesets"
        ]
    ids = {r.id for r in spark.read.parquet(store).select("id").collect()}
    assert ids == {1, 2, 3}


def test_changeset_store_recovers_from_interrupted_swap(spark, tmp_path):
    """A pass that died between the two renames leaves only
    ``changesets.old``; the next start resumes from it instead of an
    empty store."""
    root, data = str(tmp_path / "changesets"), str(tmp_path / "data")
    store = os.path.join(data, "changesets")
    _publish_changesets(root, 100, [])
    _publish_changesets(root, 101, [1, 2])
    _changeset_pass(data, root)
    os.rename(store, store + ".old")
    os.makedirs(store + ".tmp", exist_ok=True)

    _changeset_pass(data, root)  # caught up: the pass only recovers
    ids = {r.id for r in spark.read.parquet(store).select("id").collect()}
    assert ids == {1, 2}
    assert not os.path.exists(store + ".old")
    assert not os.path.exists(store + ".tmp")


def test_replication_store_peek(spark, mirror, tmp_path, capsys):
    """`replication-store` shows latest stored entity + derived
    back-references (UpdateStoreRocksDb.query:36-57, docs/CLI.md)."""
    data = str(tmp_path / "data")
    argv = [
        "replications", "--data", data, "--parquet-data", str(tmp_path / "out"),
        "--endpoint", f"file://{mirror}", "--jcb", "--start-sequence", "100",
    ]
    assert main(argv) == 0
    capsys.readouterr()

    assert main([
        "replication-store", "--data", data, "n/1", "n/3", "w/10", "r/30", "n/99", "r/99",
    ]) == 0
    out = json.loads(capsys.readouterr().out)

    # n/1: latest stored version is 2 (modified in seq 102), lat moved
    assert out["n/1"]["entity"]["version"] == 2
    assert out["n/1"]["entity"]["lat"] == 1.5
    # back-reference: way 10 contains node 1
    assert out["n/1"]["ways"] == [10]
    # n/3 was created untagged in 103 but IS in the node store (ways need it)
    assert out["n/3"]["entity"]["version"] == 1
    assert out["n/3"]["ways"] == [10]
    # w/10: latest version 2 with the 3-node ref list
    assert out["w/10"]["entity"]["version"] == 2
    assert out["w/10"]["entity"]["refs"] == [1, 2, 3]
    # r/30: latest version 2 (tags edited in 103), member way 10
    assert out["r/30"]["entity"]["version"] == 2
    assert out["r/30"]["entity"]["tags"] == {"type": "route", "route": "tram"}
    assert out["r/30"]["entity"]["members"] == [{"type": "way", "id": 10, "role": ""}]
    # unknown element -> explicit null, like the reference's -1 sentinels
    assert out["n/99"]["entity"] is None
    assert out["n/99"]["ways"] == []
    assert out["r/99"]["entity"] is None


HANDOFF_OSC_101 = """<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="test">
  <modify>
    <node id="5" version="2" timestamp="2025-10-22T09:01:00Z" uid="1" user="One" changeset="21" lat="3.5" lon="3.0">
      <tag k="amenity" v="cafe"/>
    </node>
  </modify>
</osmChange>"""


@pytest.fixture()
def handoff_mirror(tmp_path):
    root = tmp_path / "mirror2"
    seq_dir = root / "000" / "000"
    seq_dir.mkdir(parents=True)
    (seq_dir / "101.osc.gz").write_bytes(gzip.compress(HANDOFF_OSC_101.encode()))
    for seq, ts in ((100, "2025-10-22T09:00:30Z"), (101, "2025-10-22T09:01:30Z")):
        state = f"sequenceNumber={seq}\ntimestamp={ts.replace(':', chr(92) + ':')}\n"
        (seq_dir / f"{seq:03d}.state.txt").write_text(state)
        if seq == 101:
            (root / "state.txt").write_text(state)
    return str(root)


def _write_seed_pbf(tmp_path) -> str:
    """Nodes 5 (tagged) and 6 and way 20 over them, just before sequence
    100 of the handoff mirror."""
    from tests.pbf_encoder import encode_block, write_pbf

    def ms(iso):
        return int(datetime.fromisoformat(iso).replace(
            tzinfo=timezone.utc).timestamp() * 1000)

    nodes = [
        dict(osm_id=5, version=1, ts_ms=ms("2025-10-22T09:00:00"), changeset=20,
             uid=1, user="One", visible=True, tags={"amenity": "pub"},
             lon=3.0, lat=3.0),
        dict(osm_id=6, version=1, ts_ms=ms("2025-10-22T09:00:00"), changeset=20,
             uid=1, user="One", visible=True, tags={}, lon=4.0, lat=3.0),
    ]
    ways = [
        dict(osm_id=20, version=1, ts_ms=ms("2025-10-22T09:00:40"), changeset=20,
             uid=1, user="One", visible=True,
             tags={"highway": "residential"}, refs=[5, 6]),
    ]
    pbf = str(tmp_path / "seed.osh.pbf")
    write_pbf(pbf, [encode_block(dense_nodes=nodes), encode_block(ways=ways)])
    return pbf


def test_bulk_to_incremental_handoff(spark, handoff_mirror, tmp_path, capsys):
    """`contributions --replication-endpoint` seeds the replication stores
    and start state from the PBF; a later `replications` run continues
    seamlessly (docs/CLI.md "Initialize for Replication",
    Contributions2Parquet.java:109-201)."""
    pbf = _write_seed_pbf(tmp_path)

    out = str(tmp_path / "contribs")
    data = str(tmp_path / "data")
    assert main([
        "contributions", "--pbf", pbf, "--out", out,
        "--data", data, "--replication-endpoint", f"file://{handoff_mirror}",
    ]) == 0
    capsys.readouterr()

    # seeded stores + start state (greatest state ts <= max entity ts)
    st = ReplicationState.parse(open(os.path.join(data, "state.txt")).read())
    assert st.sequence == 100
    assert os.path.exists(os.path.join(out, "state.txt"))
    seeded_nodes = spark.read.parquet(os.path.join(data, "nodes"))
    assert {r.osm_id for r in seeded_nodes.select("osm_id").collect()} == {5, 6}

    # incremental continuation applies seq 101 against the seeded history
    out2 = str(tmp_path / "updates")
    assert main([
        "replications", "--data", data, "--parquet-data", out2,
        "--endpoint", f"file://{handoff_mirror}", "--jcb",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["applied_sequences"] == [101]

    w101 = spark.read.parquet(os.path.join(out2, "000/000/101.opc.parquet"))
    rows = {(r.osm_type, r.osm_id): r for r in w101.collect()}
    # node 5 v2: the seeded v1 history makes this the second edit
    n5 = rows[("node", 5)]
    assert n5.osm_version == 2 and n5.osm_edits == 2
    assert n5.contrib_type == "TAG_GEOMETRY"
    # dirty propagation rebuilt way 20 with node 5's new position
    w20 = rows[("way", 20)]
    assert w20.osm_version == 1 and w20.osm_minor_version == 1
    # replication-store peek sees the merged history
    capsys.readouterr()
    assert main(["replication-store", "--data", data, "n/5"]) == 0
    peek = json.loads(capsys.readouterr().out)
    assert peek["n/5"]["entity"]["version"] == 2
    assert peek["n/5"]["ways"] == [20]


def _column_types(spark, path):
    # the bulk layout's partition column is not a contribution column
    return {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(path).schema.fields
        if f.name != "layer"
    }


def test_contributions_only_pass_writes_the_bulk_schema(spark, mirror, tmp_path):
    """Without a changeset stream or a country file, a replication pass
    still writes the ``changeset`` struct (default records) and an empty
    ``countries`` array: the same columns and types as ``contributions``."""
    bulk = str(tmp_path / "bulk")
    assert main(["contributions", "--pbf", _write_seed_pbf(tmp_path), "--out", bulk]) == 0
    updates = str(tmp_path / "updates")
    assert main([
        "replications", "--data", str(tmp_path / "data"), "--parquet-data", updates,
        "--endpoint", f"file://{mirror}", "--jcb", "--start-sequence", "100",
    ]) == 0
    written = _column_types(spark, os.path.join(updates, "000/000/101.opc.parquet"))
    assert written == _column_types(spark, bulk)
    assert "changeset_id" not in written


def test_contributions_read_the_committed_changeset_store(
    spark, mirror, tmp_path, monkeypatch
):
    """A dual-stream pass commits the changeset store and its state row
    before the contribution stream writes anything."""
    from ohsome_planet_spark.sources import geoparquet

    root, data = str(tmp_path / "changesets"), str(tmp_path / "data")
    store = os.path.join(data, "changesets")
    for seq, ids in ((100, []), (101, [11]), (102, [12]), (103, [13]), (104, [])):
        _publish_changesets(root, seq, ids)

    seen = []
    real_write = geoparquet.write_contributions

    def spying_write(contribs, path, **kwargs):
        ids = (
            {r.id for r in spark.read.parquet(store).select("id").collect()}
            if os.path.isdir(store) else set()
        )
        state_file = os.path.join(data, "changeset_state.txt")
        state = (
            ReplicationState.parse(open(state_file).read()).sequence
            if os.path.exists(state_file) else None
        )
        seen.append((ids, state))
        return real_write(contribs, path, **kwargs)

    monkeypatch.setattr(geoparquet, "write_contributions", spying_write)
    assert main([
        "replications", "--data", data, "--parquet-data", str(tmp_path / "out"),
        "--endpoint", f"file://{mirror}", "--start-sequence", "100",
        "--replication-changesets", f"file://{root}",
        "--changeset-start-sequence", "100",
    ]) == 0
    # changesets at 09:04 are ahead of contributions at 09:03:30: no holdback
    assert len(seen) == 3
    assert all(ids == {11, 12, 13} and state == 104 for ids, state in seen), seen


def test_caught_up_changeset_pass_writes_nothing(spark, tmp_path, monkeypatch):
    """A pass whose changeset stream has not advanced leaves the store and
    its state row as they are: no parquet write into the store."""
    from pyspark.sql.readwriter import DataFrameWriter

    root, data = str(tmp_path / "changesets"), str(tmp_path / "data")
    store = os.path.join(data, "changesets")
    _publish_changesets(root, 100, [])
    _publish_changesets(root, 101, [1, 2])
    _changeset_pass(data, root)
    state_before = open(os.path.join(data, "changeset_state.txt")).read()

    writes = []
    real_parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *args, **kwargs):
        if path.startswith(store):
            writes.append(path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    _changeset_pass(data, root)
    assert writes == []
    assert open(os.path.join(data, "changeset_state.txt")).read() == state_before
    ids = {r.id for r in spark.read.parquet(store).select("id").collect()}
    assert ids == {1, 2}


def test_catch_up_releases_what_each_sequence_staged(spark, mirror, tmp_path):
    """Each sequence runs in its own run scope, so a catch-up leaves
    nothing registered in the caller's scope however many it applies."""
    from ohsome_planet_spark.session import run_scope
    from ohsome_planet_spark.streaming.manager import ContributionReplicationManager

    data = str(tmp_path / "data")
    os.makedirs(data)
    with open(os.path.join(data, "state.txt"), "w") as f:
        f.write(ReplicationState(100, "").format())
    manager = ContributionReplicationManager(
        server=entity_server("local://mirror/", fetch=file_fetch(mirror)),
        spark=spark,
        data_dir=data,
        out_dir=str(tmp_path / "out"),
    )
    with run_scope() as scope:
        assert manager.update_to_remote_state() == 3
        assert scope.cached == []
    assert manager.applied == [101, 102, 103]


def test_replication_store_peek_follows_each_ways_latest_version(spark, tmp_path, capsys):
    """A node's back-references are the ways whose latest version is
    visible and still references it (J7, as the update derives them): a
    way that dropped the node or was deleted no longer counts."""
    from ohsome_planet_spark.streaming.manager import (
        NODE_HISTORY_SCHEMA,
        WAY_HISTORY_SCHEMA,
    )

    data = str(tmp_path / "data")
    t = datetime(2025, 10, 22, 9, 0)

    def way(wid, version, refs, visible=True):
        tags = {"highway": "residential"} if visible else {}
        return ("way", wid, version, t.replace(minute=version), 1, 1, "One",
                visible, tags, refs)

    spark.createDataFrame(
        [("node", n, 1, t, 1, 1, "One", True, {}, 1.0, float(n)) for n in (1, 2, 3)],
        NODE_HISTORY_SCHEMA,
    ).write.parquet(os.path.join(data, "nodes"))
    spark.createDataFrame(
        [
            way(10, 1, [1, 2]), way(10, 2, [2, 3]),  # v2 drops node 1
            way(11, 1, [1, 2]), way(11, 2, [], visible=False),  # v2 deletes it
        ],
        WAY_HISTORY_SCHEMA,
    ).write.parquet(os.path.join(data, "ways"))

    assert main(["replication-store", "--data", data, "n/1", "n/2", "w/11"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["n/1"]["ways"] == []
    assert out["n/2"]["ways"] == [10]
    assert out["w/11"]["entity"]["version"] == 2
    assert out["w/11"]["entity"]["visible"] is False


def _dual_stream_argv(data, tmp_path, mirror, root):
    return [
        "replications", "--data", data, "--parquet-data", str(tmp_path / "out"),
        "--endpoint", f"file://{mirror}", "--start-sequence", "100",
        "--replication-changesets", f"file://{root}",
    ]


def test_dual_stream_pass_starts_changesets_from_the_store(spark, mirror, tmp_path, capsys):
    """Without ``changeset_state.txt`` or ``--changeset-start-sequence``, a
    dual-stream pass starts the changeset stream at the published state its
    store's newest changeset falls in (``ChangesetStateManager.java:44-57``)."""
    from ohsome_planet_spark.sources.osmxml import CHANGESET_SCHEMA

    root, data = str(tmp_path / "changesets"), str(tmp_path / "data")
    for seq, ids in ((100, []), (101, [11]), (102, [12]), (103, [13]), (104, [])):
        _publish_changesets(root, seq, ids)
    newest = datetime(2025, 10, 22, 9, 2)  # the timestamp of state 102
    spark.createDataFrame(
        [(10, 1, newest, newest, False, "One", {}, [], 1.0, 1.0, 2.0, 2.0, None)],
        CHANGESET_SCHEMA,
    ).write.parquet(os.path.join(data, "changesets"))

    assert main(_dual_stream_argv(data, tmp_path, mirror, root)) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["changeset_state"] == 104
    assert report["applied_sequences"] == [101, 102, 103]
    # the stream started at 102: the minutes up to it (11, 12) were skipped
    store = spark.read.parquet(os.path.join(data, "changesets"))
    assert {r.id for r in store.select("id").collect()} == {10, 13}


# one tagged closed changeset (the store's newest, at state 102's time) and
# one untagged open one; num_changes/comments_count are parsed, not stored
CHANGESET_DUMP = """<?xml version='1.0' encoding='UTF-8'?>
<osm version="0.6">
  <changeset id="10" created_at="2025-10-22T09:02:00Z" closed_at="2025-10-22T09:02:30Z"
      open="false" uid="7" user="Dump" num_changes="3" comments_count="1"
      min_lon="10.0" min_lat="20.0" max_lon="11.0" max_lat="21.0">
    <tag k="comment" v="add #mapathon"/>
    <tag k="created_by" v="JOSM"/>
  </changeset>
  <changeset id="12" created_at="2025-10-22T09:01:00Z" open="true" uid="8" user="Open"/>
</osm>"""


def test_changesets_cli_writes_the_changeset_table(spark, tmp_path, capsys):
    """``changesets`` writes the one changeset table: the store's columns
    and types, ``hashtags`` from the ``comment`` tag and ``geom`` the bbox
    polygon (NULL without a bbox)."""
    import struct

    dump, out = tmp_path / "dump.osm", str(tmp_path / "changesets")
    dump.write_text(CHANGESET_DUMP)
    assert main(["changesets", "--input", str(dump), "--out", out]) == 0
    assert "wrote 2 changesets" in capsys.readouterr().out

    from ohsome_planet_spark.sources.osmxml import CHANGESET_SCHEMA

    table = spark.read.parquet(out)
    assert [(f.name, f.dataType) for f in table.schema] == [
        (f.name, f.dataType) for f in CHANGESET_SCHEMA
    ]
    rows = {r.id: r for r in table.collect()}
    tagged, untagged = rows[10], rows[12]
    assert tagged.tags == {"comment": "add #mapathon", "created_by": "JOSM"}
    assert tagged.hashtags == ["mapathon"]
    assert (tagged.user_id, tagged.user_name, tagged.open) == (7, "Dump", False)
    assert tagged.created_at == datetime(2025, 10, 22, 9, 2)
    assert struct.unpack("<10d", tagged.geom[13:]) == (
        10.0, 20.0, 11.0, 20.0, 11.0, 21.0, 10.0, 21.0, 10.0, 20.0
    )
    assert untagged.tags == {} and untagged.hashtags == []
    assert untagged.open is True and untagged.closed_at is None
    assert untagged.geom is None


def test_bulk_changeset_load_seeds_the_store(spark, tmp_path, capsys):
    """``changesets --out <data>/changesets`` seeds the store that
    ``replications --jcs`` upserts: with no state row and no flag the stream
    starts at the state the store's newest changeset falls in (102), a
    changeset closed in the dump stays as the dump had it, an open one is
    replaced and a new one inserted."""
    root, data = str(tmp_path / "stream"), str(tmp_path / "data")
    dump = tmp_path / "dump.osm"
    dump.write_text(CHANGESET_DUMP)
    assert main([
        "changesets", "--input", str(dump), "--out", os.path.join(data, "changesets"),
    ]) == 0
    for seq, ids in ((100, []), (101, [11]), (102, []), (103, [10, 12]), (104, [13])):
        _publish_changesets(root, seq, ids)
    capsys.readouterr()

    assert main([
        "replications", "--data", data, "--jcs",
        "--replication-changesets", f"file://{root}",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["changeset_state"] == 104
    rows = {r.id: r for r in spark.read.parquet(os.path.join(data, "changesets")).collect()}
    assert set(rows) == {10, 12, 13}  # 11 was published before the start
    assert (rows[10].user_name, rows[10].hashtags) == ("Dump", ["mapathon"])
    assert (rows[12].user_name, rows[12].open) == ("One", False)
    assert (rows[13].user_name, rows[13].open) == ("One", False)


def test_dual_stream_pass_without_changeset_state_needs_a_store(spark, mirror, tmp_path):
    root, data = str(tmp_path / "changesets"), str(tmp_path / "data")
    for seq, ids in ((100, []), (101, [11])):
        _publish_changesets(root, seq, ids)
    with pytest.raises(ValueError, match="run the bulk changeset load first"):
        main(_dual_stream_argv(data, tmp_path, mirror, root))


def test_seeding_requires_data(tmp_path):
    assert main([
        "contributions", "--pbf", str(tmp_path / "missing.osh.pbf"),
        "--out", str(tmp_path / "out"), "--replication-endpoint", "file:///nowhere",
    ]) == 2


def test_seeding_refuses_a_non_empty_store(spark, handoff_mirror, tmp_path, capsys):
    """``Contributions2Parquet.java:137-141``: a ``<data>`` that already
    holds history is left exactly as it was."""
    data, out = tmp_path / "data", str(tmp_path / "contribs")
    (data / "nodes").mkdir(parents=True)
    (data / "nodes" / "part-0.parquet").write_bytes(b"kept")
    assert main([
        "contributions", "--pbf", _write_seed_pbf(tmp_path), "--out", out,
        "--data", str(data), "--replication-endpoint", f"file://{handoff_mirror}",
    ]) == 1
    assert "replication directory is not empty!" in capsys.readouterr().err
    assert os.listdir(data) == ["nodes"]
    assert (data / "nodes" / "part-0.parquet").read_bytes() == b"kept"
    assert not os.path.exists(os.path.join(out, "state.txt"))
    # refused before the bulk run: no contributions were written
    assert not [f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]


def test_seeding_refuses_an_empty_extract(spark, handoff_mirror, tmp_path, capsys):
    from tests.pbf_encoder import write_pbf

    pbf, data = str(tmp_path / "empty.osh.pbf"), str(tmp_path / "data")
    write_pbf(pbf, [])
    assert main([
        "contributions", "--pbf", pbf, "--out", str(tmp_path / "contribs"),
        "--data", data, "--replication-endpoint", f"file://{handoff_mirror}",
    ]) == 1
    assert "extract contains no entities" in capsys.readouterr().err
    assert not os.path.exists(os.path.join(data, "nodes"))


def _rows(spark, path, ids=None):
    """Every column of the contributions under ``path`` (the bulk layout's
    partition column dropped), optionally only the (type, id) in ``ids``,
    in a stable order."""
    frame = spark.read.parquet(path)
    rows = [
        {k: v for k, v in r.asDict(recursive=True).items() if k != "layer"}
        for r in frame.collect()
    ]
    if ids is not None:
        rows = [r for r in rows if (r["osm_type"], r["osm_id"]) in ids]
    return sorted(rows, key=lambda r: (r["osm_type"], r["osm_id"], r["osm_edits"]))


def test_rerun_after_an_interrupted_sequence_writes_the_same_output(
    spark, mirror, tmp_path, capsys
):
    """A crash after a sequence appended its history files but before its
    state row advanced: the re-run drops what the interrupted attempt
    appended, so it recomputes the same delta and rewrites the sequence's
    parquet with the same rows (not an empty J6 replay)."""
    data, out = str(tmp_path / "data"), str(tmp_path / "out")
    argv = [
        "replications", "--data", data, "--parquet-data", out,
        "--endpoint", f"file://{mirror}", "--jcb", "--start-sequence", "100",
    ]
    assert main(argv) == 0
    seq_103 = os.path.join(out, "000/000/103.opc.parquet")
    before = _rows(spark, seq_103)
    assert before

    def history_files():
        return {
            sub: sorted(os.listdir(path)) if os.path.isdir(path) else []
            for sub in ("nodes", "ways", "relations")
            for path in [os.path.join(data, sub)]
        }

    history = history_files()

    with open(os.path.join(data, "state.txt"), "w") as f:
        f.write(ReplicationState(102, TS[102]).format())
    capsys.readouterr()
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["applied_sequences"] == [103]
    assert _rows(spark, seq_103) == before
    assert history_files() == history


# a closed outer way (tagged, so both runs keep its contributions) and a
# multipolygon over it, before sequence 100 of the relation mirror
def _ms(iso):
    return int(datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp() * 1000)


_SQUARE = {1: (0.0, 0.0), 2: (1.0, 0.0), 3: (1.0, 1.0), 4: (0.0, 1.0)}
_SEED_HISTORY = {
    "nodes": [
        dict(osm_id=n, version=1, ts_ms=_ms("2025-10-22T09:00:00"), changeset=20, uid=1,
             user="One", visible=True, tags={}, lon=lon, lat=lat)
        for n, (lon, lat) in _SQUARE.items()
    ],
    "ways": [
        dict(osm_id=40, version=1, ts_ms=_ms("2025-10-22T09:00:10"), changeset=20, uid=1,
             user="One", visible=True, tags={"barrier": "fence"}, refs=[1, 2, 3, 4, 1]),
    ],
    "relations": [
        dict(osm_id=50, version=1, ts_ms=_ms("2025-10-22T09:00:20"), changeset=20, uid=1,
             user="One", visible=True, tags={"type": "multipolygon", "landuse": "forest"},
             members=[{"type": "way", "id": 40, "role": "outer"}]),
    ],
}
# sequence 101: node 3 of the outer way moves, then the relation's tags change
_MINUTE_HISTORY = {
    "nodes": [
        dict(osm_id=3, version=2, ts_ms=_ms("2025-10-22T09:01:00"), changeset=21, uid=2,
             user="Two", visible=True, tags={}, lon=1.5, lat=1.5),
    ],
    "ways": [],
    "relations": [
        dict(osm_id=50, version=2, ts_ms=_ms("2025-10-22T09:01:10"), changeset=22, uid=2,
             user="Two", visible=True, tags={"type": "multipolygon", "landuse": "meadow"},
             members=[{"type": "way", "id": 40, "role": "outer"}]),
    ],
}
RELATION_OSC_101 = """<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="test">
  <modify>
    <node id="3" version="2" timestamp="2025-10-22T09:01:00Z" uid="2" user="Two" changeset="21" lat="1.5" lon="1.5"/>
    <relation id="50" version="2" timestamp="2025-10-22T09:01:10Z" uid="2" user="Two" changeset="22">
      <member type="way" ref="40" role="outer"/>
      <tag k="type" v="multipolygon"/><tag k="landuse" v="meadow"/>
    </relation>
  </modify>
</osmChange>"""


def test_relation_edits_converge_to_the_bulk_run(spark, tmp_path, capsys):
    """Bulk ≡ incremental through the commands users run: a bulk run seeds
    the store (relations included), one sequence moves a node of the
    multipolygon's outer way and edits the relation's tags, and the pass's
    rows for the way and the relation equal a bulk run over the full
    history, every column."""
    from ohsome_planet_spark.sources.pbf_encoder import write_history_pbf

    root = tmp_path / "mirror"
    seq_dir = root / "000" / "000"
    seq_dir.mkdir(parents=True)
    (seq_dir / "101.osc.gz").write_bytes(gzip.compress(RELATION_OSC_101.encode()))
    for seq, ts in ((100, "2025-10-22T09:00:20Z"), (101, "2025-10-22T09:01:30Z")):
        state = ReplicationState(seq, ts).format()
        (seq_dir / f"{seq:03d}.state.txt").write_text(state)
        (root / "state.txt").write_text(state)

    seed_pbf, full_pbf = str(tmp_path / "seed.osh.pbf"), str(tmp_path / "full.osh.pbf")
    write_history_pbf(seed_pbf, *_SEED_HISTORY.values())
    write_history_pbf(full_pbf, *(
        sorted(_SEED_HISTORY[k] + _MINUTE_HISTORY[k], key=lambda e: (e["osm_id"], e["version"]))
        for k in ("nodes", "ways", "relations")
    ))

    data, updates, full = (str(tmp_path / d) for d in ("data", "updates", "full"))
    assert main([
        "contributions", "--pbf", seed_pbf, "--out", str(tmp_path / "bulk"),
        "--data", data, "--replication-endpoint", f"file://{root}",
    ]) == 0
    assert main([
        "replications", "--data", data, "--parquet-data", updates,
        "--endpoint", f"file://{root}", "--jcb",
    ]) == 0
    assert main(["contributions", "--pbf", full_pbf, "--out", full]) == 0
    capsys.readouterr()

    ids = {("way", 40), ("relation", 50)}
    got = _rows(spark, os.path.join(updates, "000/000/101.opc.parquet"), ids)
    want = _rows(spark, full, ids)
    assert {(r["osm_type"], r["osm_id"]) for r in want} == ids
    assert [(r["osm_type"], r["osm_minor_version"]) for r in want if r["osm_version"] == 1] == [
        ("relation", 0), ("relation", 1), ("way", 0), ("way", 1)
    ]
    assert got == want

    assert main(["replication-store", "--data", data, "r/50"]) == 0
    peek = json.loads(capsys.readouterr().out)
    assert peek["r/50"]["entity"]["version"] == 2
