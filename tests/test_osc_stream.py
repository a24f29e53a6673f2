"""Structured-Streaming OSC ingestion: the file-source stream must apply
minute files exactly once (checkpointed across restarts) and reproduce the
batch updater's state."""

import os

from ohsome_planet_spark.streaming.osc_stream import stream_osc_directory
from ohsome_planet_spark.streaming.replication import (
    IncrementalUpdater,
    latest_state,
)
from tests.test_replications_cli import OSC

NODE_SCHEMA = (
    "osm_type string, osm_id bigint, version int, ts timestamp,"
    " changeset bigint, user_id int, user_name string, visible boolean,"
    " tags map<string,string>, lon double, lat double"
)
WAY_SCHEMA = (
    "osm_type string, osm_id bigint, version int, ts timestamp,"
    " changeset bigint, user_id int, user_name string, visible boolean,"
    " tags map<string,string>, refs array<bigint>"
)


def _updater(spark):
    return IncrementalUpdater(
        spark,
        spark.createDataFrame([], NODE_SCHEMA),
        spark.createDataFrame([], WAY_SCHEMA),
    )


def test_stream_applies_files_and_checkpoints(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    for seq in (101, 102):
        (land / f"{seq}.osc").write_text(OSC[seq])

    upd = _updater(spark)
    q = stream_osc_directory(spark, str(land), upd, ckpt)
    q.awaitTermination(120)

    state = {r.osm_id: r for r in latest_state(upd.node_history).collect()}
    assert state[1].version == 2 and state[1].lat == 1.5

    # restart with a NEW file: only 103 is applied (102/101 are in the
    # checkpoint's file log), and the updater continues from its state
    (land / "103.osc").write_text(OSC[103])
    applied = []
    orig = IncrementalUpdater.apply_batch

    def counting(self, rows):
        applied.append(len(rows))
        return orig(self, rows)

    IncrementalUpdater.apply_batch = counting
    try:
        q2 = stream_osc_directory(spark, str(land), upd, ckpt)
        q2.awaitTermination(120)
    finally:
        IncrementalUpdater.apply_batch = orig

    assert applied == [2]  # one batch, the 2 entities of 103.osc only

    ways = {r.osm_id: r for r in latest_state(upd.way_history).collect()}
    assert ways[10].version == 2 and ways[10].refs == [1, 2, 3]


def test_stream_state_matches_batch_application(spark, tmp_path):
    import gzip

    from ohsome_planet_spark.streaming.server import entity_server, file_fetch

    land = tmp_path / "landing"
    land.mkdir()
    for seq in (101, 102, 103):
        (land / f"{seq}.osc").write_text(OSC[seq])
    upd_stream = _updater(spark)
    q = stream_osc_directory(spark, str(land), upd_stream, str(tmp_path / "ck"))
    q.awaitTermination(120)

    # direct batch application over the same sequence files
    mirror = tmp_path / "mirror" / "000" / "000"
    mirror.mkdir(parents=True)
    for seq in (101, 102, 103):
        (mirror / f"{seq:03d}.osc.gz").write_bytes(gzip.compress(OSC[seq].encode()))
    server = entity_server("local://m/", fetch=file_fetch(str(tmp_path / "mirror")))
    upd_batch = _updater(spark)
    upd_batch.apply_sequences(server, [101, 102, 103])

    key = lambda df: sorted(
        (r.osm_type, r.osm_id, r.version, r.visible) for r in df.collect()
    )
    assert key(upd_stream.node_history) == key(upd_batch.node_history)
    assert key(upd_stream.way_history) == key(upd_batch.way_history)
