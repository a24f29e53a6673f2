"""S12 end-to-end: drive the incremental update from the vendored public
replication fixtures (reference test resources
``ohsome-replication-update/src/test/resources/replication/minute``) and
the ``replications`` manager over a synthetic ``file://`` mirror,
reproducing the reference's minor/edits continuation behavior
(``ContributionUpdaterTest.java:20-56``)."""

import gzip
import os

import pytest

from ohsome_planet_spark.sources.osmxml import parse_osc_bytes
from ohsome_planet_spark.streaming.replication import (
    IncrementalUpdater,
    ReplicationState,
    sequence_path,
    with_delta,
)
from ohsome_planet_spark.streaming.server import entity_server, file_fetch

FIXTURES = (
    "/root/reference/ohsome-replication-update/src/test/resources/replication/minute"
)

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures not present"
)


@pytest.fixture()
def server():
    return entity_server("https://fixture/", fetch=file_fetch(FIXTURES))


def _empty_histories(spark):
    from ohsome_planet_spark.streaming.manager import HISTORIES

    return [spark.createDataFrame([], schema) for _, schema in HISTORIES]


def _apply_in_order(spark, server, seqs, histories=None):
    """Apply each sequence's diff in order, appending each batch's delta
    to the histories before the next; returns (batches, histories)."""
    histories = histories or _empty_histories(spark)
    batches = []
    for seq in seqs:
        batch = IncrementalUpdater(spark, *histories).apply_batch(
            parse_osc_bytes(server.get_replication_file(seq))
        )
        histories = [with_delta(spark, h, d) for h, d in zip(histories, batch.delta)]
        batches.append(batch)
    return batches, histories


@needs_fixtures
def test_fixture_states_parse(server):
    top = server.get_latest_remote_state()
    assert top.sequence == 6824842
    st = server.get_remote_state(6824839)
    assert st.sequence == 6824839
    assert st.timestamp.startswith("2025-10-22T09:01:43")


@needs_fixtures
def test_multi_batch_same_changeset_squash(spark, server):
    """Apply 840→842 one batch at a time. In the fixtures, node 2's moves
    share changeset 1 with way 1's creation, so the minors are squashed
    into the creation contribution (F4) and its geometry updates in place
    — the same collapse the reference's contribution builder performs for
    edits within one changeset."""
    local = ReplicationState(6824839, "2025-10-22T09:01:43Z")
    remote = server.get_latest_remote_state()
    seqs = range(local.sequence + 1, remote.sequence + 1)
    batches, histories = _apply_in_order(spark, server, seqs)
    results = [b.contributions for b in batches]
    assert len(results) == 3

    # way 1 stays one squashed contribution whose centroid tracks node 2
    centroids = []
    for _, way_c, _ in results:
        rows = sorted(way_c.collect(), key=lambda r: r.osm_edits)
        assert [(r.osm_version, r.osm_minor_version, r.osm_edits) for r in rows] == [
            (1, 0, 1)
        ]
        assert rows[0].contrib_type == "CREATION" and rows[0].status == "latest"
        centroids.append(rows[0].centroid.y)
    assert centroids == [1.0, 1.5, 2.0]

    # node 2's own history is fully rebuilt (its versions are distinct
    # contributions: version bump defeats the squash)
    node_c = results[2][0]
    n2 = sorted(
        (r for r in node_c.collect() if r.osm_id == 2), key=lambda r: r.osm_edits
    )
    assert [r.osm_version for r in n2] == [1, 2, 3]

    # final latest state: node 2 at version 3, lat 3.0
    from ohsome_planet_spark.streaming.replication import latest_state

    final = {r.osm_id: r for r in latest_state(histories[0]).collect()}
    assert final[2].version == 3 and final[2].lat == 3.0
    assert sorted(final) == [1, 2, 3]


def test_multi_batch_minor_continuation_distinct_changesets(spark, tmp_path):
    """ContributionUpdaterTest-shaped scenario with *distinct* changesets
    per batch, run through the ``replications`` manager over a ``file://``
    mirror: each node move lands as a new minor version of the way and
    the edit counter continues across sequences."""
    from ohsome_planet_spark.streaming.manager import ContributionReplicationManager

    def node(nid, v, minute, cs, lat):
        return (
            f'<node id="{nid}" version="{v}" timestamp="2025-10-01T00:{minute:02d}:00Z"'
            f' uid="1" user="u" changeset="{cs}" lat="{lat}" lon="{nid}.0"/>'
        )

    def way(v, minute, cs, tags):
        return (
            f'<way id="23" version="{v}" timestamp="2025-10-01T00:{minute:02d}:00Z" uid="1"'
            f' user="u" changeset="{cs}"><nd ref="1"/><nd ref="2"/>{tags}</way>'
        )

    fence = '<tag k="barrier" v="fence"/>'
    files = {
        1: "<create>" + node(1, 1, 0, 1, 1.0) + node(2, 1, 0, 1, 1.0)
        + way(1, 0, 1, fence) + "</create>",
        2: "<modify>" + node(1, 2, 2, 2, 2.0) + "</modify>",
        3: "<modify>" + node(1, 3, 3, 3, 3.0) + "</modify>",
        4: "<modify>" + node(1, 4, 4, 4, 4.0)
        + way(2, 4, 4, fence + '<tag k="h" v="x"/>') + "</modify>",
    }
    mirror = tmp_path / "mirror"
    for seq, body in {0: "", **files}.items():
        path = mirror / sequence_path(seq)
        path.parent.mkdir(parents=True, exist_ok=True)
        osc = f'<osmChange version="0.6">{body}</osmChange>'
        (mirror / f"{sequence_path(seq)}.osc.gz").write_bytes(gzip.compress(osc.encode()))
        state = ReplicationState(seq, f"2025-10-01T00:0{seq}:30Z").format()
        (mirror / f"{sequence_path(seq)}.state.txt").write_text(state)
        (mirror / "state.txt").write_text(state)

    out = str(tmp_path / "out")
    manager = ContributionReplicationManager(
        spark=spark,
        data_dir=str(tmp_path / "data"),
        server=entity_server("local://mirror/", fetch=file_fetch(str(mirror))),
        out_dir=out,
    )
    manager.load(0)
    assert manager.update_to_remote_state() == 4

    def way_rows(seq):
        written = spark.read.parquet(os.path.join(out, f"{sequence_path(seq)}.opc.parquet"))
        return sorted(
            ((r.osm_version, r.osm_minor_version, r.osm_edits, r.contrib_type)
             for r in written.filter("osm_type = 'way'").collect()),
            key=lambda t: t[2],
        )

    assert way_rows(1) == [(1, 0, 1, "CREATION")]
    # sequence 2: node 1 moved in cs 2 -> minor 1, edits continue at 2
    assert way_rows(2) == [(1, 0, 1, "CREATION"), (1, 1, 2, "GEOMETRY")]
    # sequence 3: another move -> minor 2, edits 3
    assert way_rows(3) == [
        (1, 0, 1, "CREATION"), (1, 1, 2, "GEOMETRY"), (1, 2, 3, "GEOMETRY"),
    ]
    # sequence 4: way major v2 (tag added) + node move in the same
    # changeset: the squash folds the simultaneous member move into the
    # major edit
    rows = way_rows(4)
    assert rows[:3] == [
        (1, 0, 1, "CREATION"), (1, 1, 2, "GEOMETRY"), (1, 2, 3, "GEOMETRY"),
    ]
    assert rows[3][0] == 2 and rows[3][1] == 0 and rows[3][2] == 4  # major v2, edits 4


@needs_fixtures
def test_replay_batch_is_idempotent(spark, server):
    _, histories = _apply_in_order(spark, server, [6824840, 6824841])
    # replaying 840 adds nothing: every version is <= the stored latest
    (batch,), _ = _apply_in_order(spark, server, [6824840], histories)
    assert [d.num_rows for d in batch.delta] == [0, 0, 0]
    assert batch.contributions[0].count() == 0  # no affected ids -> no rebuild work
