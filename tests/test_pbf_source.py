"""PBF source round-trip tests (SURVEY.md S1-S8): encode a history file
with the test encoder, read it back through the distributed source."""

import numpy as np
import pytest

from ohsome_planet_spark.sources.pbf import (
    decode_block,
    packed_sint_delta,
    packed_varints,
    read_header,
    read_pbf,
    scan_blobs,
)
from tests.pbf_encoder import encode_block, write_pbf


def test_packed_varint_vectorized_decode():
    from tests.pbf_encoder import packed

    buf = packed(1, [0, 1, 127, 128, 300, 2**40])
    # strip the field header (1 byte) + length varint
    payload = memoryview(buf)[2:]
    assert packed_varints(payload).tolist() == [0, 1, 127, 128, 300, 2**40]


def test_packed_sint_delta_roundtrip():
    from tests.pbf_encoder import packed_sint_delta as enc

    values = [5, 3, 10, -7, 10**12]
    buf = enc(1, values)
    payload = memoryview(buf)[2:]
    assert packed_sint_delta(payload).tolist() == values


NODES = [
    dict(osm_id=1, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={"amenity": "cafe"}, lon=8.4, lat=49.0),
    dict(osm_id=1, version=2, ts_ms=2_000_000, changeset=11, uid=7, user="alice",
         visible=True, tags={"amenity": "bar"}, lon=8.5, lat=49.1),
    dict(osm_id=2, version=1, ts_ms=1_500_000, changeset=10, uid=8, user="bob",
         visible=False, tags={}, lon=9.0, lat=50.0),
]
WAYS = [
    dict(osm_id=100, version=3, ts_ms=5_000_000, changeset=42, uid=7, user="alice",
         visible=True, tags={"highway": "residential"}, refs=[1, 2, 1]),
]
RELS = [
    dict(osm_id=200, version=1, ts_ms=6_000_000, changeset=43, uid=8, user="bob",
         visible=True, tags={"type": "multipolygon"},
         members=[{"type": "way", "id": 100, "role": "outer"},
                  {"type": "node", "id": 1, "role": ""}]),
]


def test_block_decode_roundtrip():
    block = encode_block(dense_nodes=NODES, ways=WAYS, relations=RELS)
    ents = decode_block(block)
    assert len(ents) == 5
    n1 = ents[0]
    assert (n1["osm_id"], n1["version"], n1["changeset"]) == (1, 1, 10)
    assert n1["user"] == "alice"
    assert n1["tags"] == {"amenity": "cafe"}
    assert n1["lon"] == pytest.approx(8.4)
    assert ents[2]["visible"] is False
    w = ents[3]
    assert w["refs"] == [1, 2, 1]
    assert w["tags"] == {"highway": "residential"}
    r = ents[4]
    assert r["members"][0] == {"type": "way", "id": 100, "role": "outer"}
    assert r["members"][1]["role"] == ""


def test_file_scan_and_header(tmp_path):
    path = str(tmp_path / "test.osh.pbf")
    write_pbf(path, [encode_block(dense_nodes=NODES), encode_block(ways=WAYS)])
    refs = scan_blobs(path)
    assert [r.header_type for r in refs] == ["OSMHeader", "OSMData", "OSMData"]
    hdr = read_header(path)
    assert "HistoricalInformation" in hdr["required_features"]


def test_spark_read_pbf(spark, tmp_path):
    path = str(tmp_path / "planet.osh.pbf")
    write_pbf(
        path,
        [encode_block(dense_nodes=NODES), encode_block(ways=WAYS, relations=RELS)],
    )
    df = read_pbf(spark, path)
    rows = {(r.osm_type, r.osm_id, r.version): r for r in df.collect()}
    assert len(rows) == 5
    n = rows[("node", 1, 2)]
    assert n.tags == {"amenity": "bar"}
    assert n.lat == pytest.approx(49.1)
    assert n.user_name == "alice"
    w = rows[("way", 100, 3)]
    assert w.refs == [1, 2, 1]
    r = rows[("relation", 200, 1)]
    assert r.members[0].asDict() == {"type": "way", "id": 100, "role": "outer"}
    # the node rows (split by filtering the one decode)
    assert df.filter("osm_type = 'node'").count() == 3


def test_granularity_offset_roundtrip_property():
    """Randomized non-default (granularity, lat/lon offset,
    date_granularity) blocks decode exactly: the (off + gran*x)/1e9 and
    ts*date_gran replays (Block.java:88-97) on real inputs, not just the
    defaults the old fixtures always used (round-10 verdict)."""
    import random

    rng = random.Random(0x0FF5E7)
    for _ in range(40):
        gran = rng.choice([1, 2, 5, 10, 25, 50, 100, 250, 1000, 12345])
        lat_off = rng.randrange(0, 10**9) // gran * gran  # keep on-grid
        lon_off = rng.randrange(0, 10**9) // gran * gran
        dg = rng.choice([1, 10, 1000, 2000, 60000])
        nodes = []
        for i in range(rng.randrange(1, 30)):
            klat = rng.randrange(-10**6, 10**6)
            klon = rng.randrange(-10**6, 10**6)
            nodes.append(
                dict(
                    osm_id=i + 1,
                    version=1 + i % 3,
                    ts_ms=rng.randrange(0, 10**9) * dg,
                    changeset=i,
                    uid=i,
                    user=f"u{i % 4}",
                    visible=i % 5 != 0,
                    tags={"k": str(i)},
                    lat=(lat_off + gran * klat) / 1e9,
                    lon=(lon_off + gran * klon) / 1e9,
                )
            )
        block = encode_block(
            dense_nodes=nodes,
            granularity=gran,
            lat_offset=lat_off,
            lon_offset=lon_off,
            date_granularity=dg,
        )
        ents = decode_block(block)
        assert len(ents) == len(nodes)
        for want, got in zip(nodes, ents):
            assert got["osm_id"] == want["osm_id"]
            assert got["ts_ms"] == want["ts_ms"]
            assert got["visible"] == want["visible"]
            # exact equality, not approx: the decode replay must land on
            # the identical IEEE double the fixture computed on-grid
            assert got["lat"] == want["lat"] and got["lon"] == want["lon"]


def test_default_encoding_bytes_unchanged():
    # the parametrized encoder must keep default-parameter output
    # byte-identical — every existing golden/fixture depends on it
    b1 = encode_block(dense_nodes=NODES, ways=WAYS, relations=RELS)
    b2 = encode_block(
        dense_nodes=NODES, ways=WAYS, relations=RELS,
        granularity=100, lat_offset=0, lon_offset=0, date_granularity=1000,
    )
    assert b1 == b2
