"""End-to-end test of the bulk ``contributions`` CLI command (the
reference's primary entry point, ``cmd/Contributions.java`` /
``docs/CLI.md``): encode a history PBF, run the 5-stage dataflow through
``python -m ohsome_planet_spark.cli contributions`` with a country file,
and read the GeoParquet output back."""

import json
import os

import pyarrow.parquet as pq
import pytest

from ohsome_planet_spark.cli import main

NODES = [
    dict(osm_id=1, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={"amenity": "cafe"}, lon=1.0, lat=1.0),
    dict(osm_id=1, version=2, ts_ms=2_000_000, changeset=11, uid=7, user="alice",
         visible=True, tags={"amenity": "bar"}, lon=1.5, lat=1.5),
    dict(osm_id=2, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=2.0, lat=1.0),
    dict(osm_id=3, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=2.0, lat=2.0),
]
WAYS = [
    dict(osm_id=100, version=1, ts_ms=3_000_000, changeset=12, uid=7, user="alice",
         visible=True, tags={"highway": "residential"}, refs=[1, 2, 3]),
]


@pytest.fixture()
def pbf(tmp_path):
    from tests.pbf_encoder import encode_block, write_pbf

    path = str(tmp_path / "fixture.osh.pbf")
    write_pbf(path, [encode_block(dense_nodes=NODES), encode_block(ways=WAYS)])
    return path


@pytest.fixture()
def country_csv(tmp_path):
    p = tmp_path / "countries.csv"
    p.write_text(
        "id;wkt\n"
        "AAA;POLYGON((0 0, 3 0, 3 3, 0 3, 0 0))\n"
        "BBB;POLYGON((10 10, 11 10, 11 11, 10 11, 10 10))\n"
    )
    return str(p)


def test_contributions_cli_end_to_end(spark, pbf, country_csv, tmp_path, capsys):
    out = str(tmp_path / "contribs")
    assert main(["contributions", "--pbf", pbf, "--out", out, "--country-file", country_csv]) == 0

    df = spark.read.parquet(out)
    rows = {(r.osm_type, r.osm_id, r.osm_version): r for r in df.collect()}

    # node 1: two tagged versions -> two contributions; untagged nodes 2/3
    # survive only as way members (F1 drops their own histories)
    assert ("node", 1, 1) in rows and ("node", 1, 2) in rows
    assert not any(t == "node" and i in (2, 3) for t, i, _ in rows)
    n1v2 = rows[("node", 1, 2)]
    assert n1v2.contrib_type == "TAG_GEOMETRY"
    assert n1v2.countries == ["AAA"]

    # the way contribution exists with an assembled LineString geometry
    w = rows[("way", 100, 1)]
    assert w.geometry_type == "LineString"
    assert w.countries == ["AAA"]
    assert w.refs_count == 3

    # latest/history split layout (S13) is present
    layers = {os.path.relpath(p, out).split(os.sep)[0]
              for p, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")}
    assert "layer=latest" in layers and "layer=history" in layers

    # GeoParquet footer metadata with per-file bbox (S14/A13)
    part = next(
        os.path.join(p, f) for p, _, fs in os.walk(out) for f in fs
        if f.endswith(".parquet")
    )
    md = pq.read_schema(part).metadata or {}
    geo = json.loads(md[b"geo"])
    assert geo["primary_column"] == "geometry"
    assert "bbox" in geo["columns"]["geometry"]


def test_fileinfo_cli(pbf, capsys):
    assert main(["fileinfo", "--pbf", pbf]) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["data_blocks"] == 2
    assert "HistoricalInformation" in info["required_features"]


def test_contributions_cli_with_changeset_enrichment(spark, pbf, tmp_path):
    """--changesets wiring (J4): contribution rows carry the changeset's
    hashtags/editor; ids missing from the table get the reference's
    default record (epoch created_at, empty tags)."""
    from ohsome_planet_spark.sources.osmxml import CHANGESET_SCHEMA

    cs_path = str(tmp_path / "changesets.parquet")
    spark.createDataFrame(
        [
            (10, 7, None, None, False, "alice",
             {"comment": "x #fixit", "created_by": "JOSM"}, ["#fixit"],
             None, None, None, None, None),
        ],
        CHANGESET_SCHEMA,
    ).write.parquet(cs_path)

    out = str(tmp_path / "contribs")
    assert main(["contributions", "--pbf", pbf, "--out", out, "--changesets", cs_path]) == 0
    rows = {(r.osm_type, r.osm_id, r.osm_version): r
            for r in spark.read.parquet(out).collect()}

    enriched = rows[("node", 1, 1)]  # changeset 10: present in the table
    assert enriched.changeset.hashtags == ["#fixit"]
    assert enriched.changeset.editor == "JOSM"

    defaulted = rows[("node", 1, 2)]  # changeset 11: missing -> defaults
    assert defaulted.changeset.hashtags == []
    assert defaulted.changeset.editor is None


def test_contributions_cli_with_ohsome_filter(spark, pbf, tmp_path):
    out = str(tmp_path / "contribs_filtered")
    assert (
        main(
            [
                "contributions", "--pbf", pbf, "--out", out,
                "--filter", "amenity=* and not amenity=bar",
            ]
        )
        == 0
    )
    rows = [
        (r.osm_type, r.osm_id, r.osm_version)
        for r in spark.read.parquet(out).collect()
    ]
    # node 1 v1 (amenity=cafe) passes; v2 (amenity=bar) is excluded by the
    # not-clause; the untagged way has no amenity at all
    assert rows == [("node", 1, 1)]


# Shared-bundle fixture: the CLI stages one way merge and feeds it to both
# the way and the relation stream. Each history below takes a path where
# sharing could differ from building each stream on its own.
SHARED_NODES = [
    # ring of the multipolygon's untagged outer way 200; node 2 moves later
    dict(osm_id=1, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=0.0, lat=0.0),
    dict(osm_id=2, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=1.0, lat=0.0),
    dict(osm_id=2, version=2, ts_ms=6_000_000, changeset=16, uid=8, user="bob",
         visible=True, tags={}, lon=1.2, lat=0.1),
    dict(osm_id=3, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=1.0, lat=1.0),
    dict(osm_id=4, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=0.0, lat=1.0),
    # vertices of the tagged ways 100 and 101; node 6 moves under way 100
    dict(osm_id=5, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={"amenity": "bench"}, lon=2.0, lat=2.0),
    dict(osm_id=6, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=2.5, lat=2.0),
    dict(osm_id=6, version=2, ts_ms=4_000_000, changeset=13, uid=8, user="bob",
         visible=True, tags={}, lon=2.5, lat=2.5),
    dict(osm_id=7, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=3.0, lat=2.0),
]
SHARED_WAYS = [
    # tagged; node 6's move gives it a minor version
    dict(osm_id=100, version=1, ts_ms=2_000_000, changeset=11, uid=7, user="alice",
         visible=True, tags={"highway": "residential"}, refs=[5, 6]),
    # tagged in v1, loses its tags in v2
    dict(osm_id=101, version=1, ts_ms=2_000_000, changeset=11, uid=7, user="alice",
         visible=True, tags={"highway": "service"}, refs=[5, 7]),
    dict(osm_id=101, version=2, ts_ms=5_000_000, changeset=14, uid=7, user="alice",
         visible=True, tags={}, refs=[5, 7]),
    # never tagged: only the multipolygon's outer member
    dict(osm_id=200, version=1, ts_ms=2_000_000, changeset=11, uid=7, user="alice",
         visible=True, tags={}, refs=[1, 2, 3, 4, 1]),
]
SHARED_RELS = [
    dict(osm_id=300, version=1, ts_ms=3_000_000, changeset=12, uid=7, user="alice",
         visible=True, tags={"type": "multipolygon", "building": "yes"},
         members=[{"type": "way", "id": 200, "role": "outer"}]),
]


def _canonical_rows(spark, path):
    rows = spark.read.parquet(path).collect()
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=repr)
                  for r in rows)


def test_contributions_cli_shared_bundle_matches_unshared_streams(spark, tmp_path):
    """The CLI's one staged way merge gives, column for column, the rows
    of the way and relation streams each built from the raw histories."""
    from ohsome_planet_spark.operators.contributions import (
        enrich_contributions,
        filter_tagged_histories,
        node_contribution_events,
        relation_contribution_events,
        synthesize_contributions,
        way_contribution_events,
    )
    from ohsome_planet_spark.sources.geoparquet import write_contributions
    from ohsome_planet_spark.sources.pbf import read_pbf
    from tests.pbf_encoder import encode_block, write_pbf

    pbf = str(tmp_path / "shared.osh.pbf")
    write_pbf(pbf, [encode_block(dense_nodes=SHARED_NODES),
                    encode_block(ways=SHARED_WAYS, relations=SHARED_RELS)])
    out = str(tmp_path / "cli")
    assert main(["contributions", "--pbf", pbf, "--out", out]) == 0

    entities = read_pbf(spark, pbf)
    nodes = entities.filter("osm_type = 'node'").drop("refs", "members", "osm_type")
    ways = entities.filter("osm_type = 'way'").drop("lon", "lat", "members", "osm_type")
    rels = entities.filter("osm_type = 'relation'").drop("lon", "lat", "refs", "osm_type")
    unshared = (
        synthesize_contributions(node_contribution_events(filter_tagged_histories(nodes)))
        .unionByName(synthesize_contributions(
            way_contribution_events(filter_tagged_histories(ways), nodes)))
        .unionByName(synthesize_contributions(
            relation_contribution_events(rels, ways, nodes)))
    )
    want = str(tmp_path / "unshared")
    write_contributions(
        enrich_contributions(unshared).sortWithinPartitions("osm_id", "valid_from"),
        want,
        bloom_filter_columns=("osm_id",),
    )

    got = _canonical_rows(spark, out)
    assert got == _canonical_rows(spark, want)
    # the fixture reaches every case it is built for
    keys = {(r.osm_type, r.osm_id, r.osm_version, r.osm_minor_version)
            for r in spark.read.parquet(out).collect()}
    assert ("way", 100, 1, 1) in keys  # node 6 moved under way 100
    assert {k for k in keys if k[:2] == ("way", 101)} == {
        ("way", 101, 1, 0), ("way", 101, 2, 0)}
    assert not any(k[:2] == ("way", 200) for k in keys)
    assert ("relation", 300, 1, 0) in keys and ("relation", 300, 1, 1) in keys


def test_failed_contributions_run_releases_what_it_staged(spark, pbf, tmp_path, monkeypatch):
    """A run whose write raises leaves nothing staged in the root scope."""
    from ohsome_planet_spark import session
    from ohsome_planet_spark.sources import geoparquet

    def fail(*args, **kwargs):
        raise RuntimeError("write failed")

    monkeypatch.setattr(geoparquet, "write_contributions", fail)
    root = session._SCOPE.get()
    n_cached = len(root.cached)
    with pytest.raises(RuntimeError, match="write failed"):
        main(["contributions", "--pbf", pbf, "--out", str(tmp_path / "contribs")])
    assert session._SCOPE.get() is root
    assert len(root.cached) == n_cached


def test_contributions_runs_the_way_merge_once(spark, pbf, tmp_path, monkeypatch):
    """The way and relation streams share one way merge per run."""
    from ohsome_planet_spark.operators import temporal_merge

    calls = []
    merge = temporal_merge.way_contribution_instants

    def counted(*args, **kwargs):
        calls.append(args)
        return merge(*args, **kwargs)

    monkeypatch.setattr(temporal_merge, "way_contribution_instants", counted)
    assert main(["contributions", "--pbf", pbf, "--out", str(tmp_path / "contribs")]) == 0
    assert len(calls) == 1
