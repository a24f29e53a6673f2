"""format("osmpbf") Python Data Source, the reader behind read_pbf:
rows against a driver-side decode, plus S7 type-range blob pruning by
the entity_type option."""

import pytest

from ohsome_planet_spark.sources.pbf import decode_block, read_blob, read_pbf, scan_blobs
from ohsome_planet_spark.sources.pbf_datasource import register_pbf_source, type_range
from tests.pbf_encoder import encode_block, write_pbf
from tests.test_pbf_source import NODES, RELS, WAYS


@pytest.fixture()
def pbf_path(tmp_path):
    path = str(tmp_path / "planet.osh.pbf")
    write_pbf(
        path,
        [
            encode_block(dense_nodes=NODES),
            encode_block(ways=WAYS),
            encode_block(relations=RELS),
        ],
    )
    return path


def _key(r):
    return (r["osm_type"], r["osm_id"], r["version"])


def test_datasource_matches_read_pbf(spark, pbf_path):
    """read_pbf's rows are the driver-side decode of every data blob."""
    from datetime import datetime, timezone

    from ohsome_planet_spark.schemas import ENTITY_ROW_SCHEMA

    df = read_pbf(spark, pbf_path)
    assert df.schema == ENTITY_ROW_SCHEMA
    got = {_key(r.asDict()): r.asDict() for r in df.collect()}
    want = {}
    for ref in scan_blobs(pbf_path):
        if ref.header_type != "OSMData":
            continue
        for e in decode_block(read_blob(pbf_path, ref)):
            ts = datetime.fromtimestamp(e["ts_ms"] / 1000, timezone.utc).replace(tzinfo=None)
            want[(e["osm_type"], e["osm_id"], e["version"])] = {
                "osm_type": e["osm_type"], "osm_id": e["osm_id"], "version": e["version"],
                "ts": ts, "changeset": e["changeset"], "user_id": e["uid"],
                "user_name": e["user"], "visible": e["visible"], "tags": e["tags"],
                "lon": e.get("lon"), "lat": e.get("lat"), "refs": e.get("refs"),
                "members": [(m["type"], m["id"], m["role"]) for m in e["members"]]
                if "members" in e else None,
            }
    assert set(got) == set(want) and len(got) == 5
    for k in got:  # a member Row equals its tuple
        assert got[k] == want[k], k


def test_type_filters_on_one_frame_keep_every_row(spark, pbf_path):
    """Filtering one read by each type, in one plan or one query after
    another, reads every blob for every scan."""
    df = read_pbf(spark, pbf_path)
    by_type = [df.filter(f"osm_type = '{t}'") for t in ("node", "way", "relation")]
    assert by_type[0].unionByName(by_type[1]).unionByName(by_type[2]).count() == 5
    assert by_type[0].count() == 3 and df.count() == 5


def test_file_without_data_blobs_reads_empty(spark, tmp_path):
    path = str(tmp_path / "empty.osh.pbf")
    write_pbf(path, [])
    assert read_pbf(spark, path).count() == 0


def test_type_filter_semantics_preserved(spark, pbf_path):
    register_pbf_source(spark)
    ways = (
        spark.read.format("osmpbf")
        .load(pbf_path)
        .filter("osm_type = 'way'")
        .collect()
    )
    assert [(r.osm_id, r.refs) for r in ways] == [(100, [1, 2, 1])]


def test_type_range_prunes_blobs(pbf_path):
    refs = [r for r in scan_blobs(pbf_path) if r.header_type == "OSMData"]
    assert len(refs) == 3
    # the way range must exclude at least the relation blob (slices keep
    # one boundary blob on each side, so 2 of 3 here)
    pruned = type_range(pbf_path, refs, "way")
    assert len(pruned) < len(refs)
    assert refs[1] in pruned  # the blob that actually holds the ways
    # node range: starts at blob 0, never includes the relation blob
    nodes = type_range(pbf_path, refs, "node")
    assert refs[0] in nodes and refs[2] not in nodes


def test_entity_type_option_prunes_partitions(spark, pbf_path):
    """The entity_type option plans fewer partitions than the file has
    blobs, and with the type filter the rows are that type's."""
    blobs = sum(r.header_type == "OSMData" for r in scan_blobs(pbf_path))
    assert read_pbf(spark, pbf_path).rdd.getNumPartitions() == blobs == 3
    rels = spark.read.format("osmpbf").option("entity_type", "relation").load(pbf_path)
    assert rels.rdd.getNumPartitions() < blobs
    assert [r.osm_id for r in rels.filter("osm_type = 'relation'").collect()] == [
        e["osm_id"] for e in RELS
    ]
