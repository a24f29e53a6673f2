"""Node contribution pipeline tests — ports of the reference's unit-test
scenarios (FIXTURES.md §1; ``ContributionsNodeTest.java``,
``ContributionsAvroConverterTest.java:21-53``)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.operators.contributions import (
    filter_tagged_histories,
    node_contribution_events,
    synthesize_contributions,
    with_changesets,
)
from ohsome_planet_spark.schemas import NODE_SCHEMA, VALID_TO_SENTINEL
from ohsome_planet_spark.sources.osmxml import CHANGESET_SCHEMA


def ts(s):
    return dt.datetime.fromisoformat(s)


def mk_nodes(spark, rows):
    return spark.createDataFrame(rows, NODE_SCHEMA)


def run(spark, rows):
    df = synthesize_contributions(node_contribution_events(mk_nodes(spark, rows)))
    return {
        (r.osm_id, r.osm_version, r.osm_minor_version): r
        for r in df.collect()
    }


def node(osm_id, version, t, changeset, lon, lat, visible=True, tags=None, uid=1, uname="u"):
    return (osm_id, version, ts(t), changeset, uid, uname, visible, tags or {}, lon, lat)


def test_multi_version_node_chain(spark):
    """Scenario 10: two versions → valid_to chain, CREATION then GEOMETRY."""
    out = run(
        spark,
        [
            node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"amenity": "cafe"}),
            node(1, 2, "2020-06-01T00:00:00", 200, 8.1, 49.1, tags={"amenity": "cafe"}),
        ],
    )
    v1 = out[(1, 1, 0)]
    v2 = out[(1, 2, 0)]
    assert v1.status == "history"
    assert v1.valid_to == ts("2020-06-01T00:00:00")
    assert v1.contrib_type == "CREATION"
    assert v1.osm_edits == 1
    assert v1.osm_last_edit is None
    assert v2.status == "latest"
    assert v2.valid_to == VALID_TO_SENTINEL
    assert v2.contrib_type == "GEOMETRY"
    assert v2.osm_edits == 2
    assert v2.osm_last_edit == ts("2020-01-01T00:00:00")
    assert v2.tags_before == {"amenity": "cafe"}
    assert v2.centroid.x == pytest.approx(8.1)
    assert v2.bbox.ymin == pytest.approx(49.1)


def test_tag_change_only(spark):
    out = run(
        spark,
        [
            node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"amenity": "cafe"}),
            node(1, 2, "2020-06-01T00:00:00", 200, 8.0, 49.0, tags={"amenity": "bar"}),
        ],
    )
    assert out[(1, 2, 0)].contrib_type == "TAG"


def test_tag_and_geometry_change(spark):
    out = run(
        spark,
        [
            node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"amenity": "cafe"}),
            node(1, 2, "2020-06-01T00:00:00", 200, 8.5, 49.0, tags={"amenity": "bar"}),
        ],
    )
    assert out[(1, 2, 0)].contrib_type == "TAG_GEOMETRY"


def test_deleted_node_inherits_geometry(spark):
    """Scenario 7: visible=false → status 'deleted', geometry inherited."""
    out = run(
        spark,
        [
            node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"a": "b"}),
            node(1, 2, "2020-06-01T00:00:00", 200, None, None, visible=False),
        ],
    )
    d = out[(1, 2, 0)]
    assert d.status == "deleted"
    assert d.contrib_type == "DELETION"
    assert d.geometry is not None  # inherited point WKB
    assert d.centroid.x == pytest.approx(8.0)
    assert d.area_delta == 0.0
    assert d.valid_to == VALID_TO_SENTINEL


def test_deleted_then_restored(spark):
    out = run(
        spark,
        [
            node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"a": "b"}),
            node(1, 2, "2020-02-01T00:00:00", 200, None, None, visible=False),
            node(1, 3, "2020-03-01T00:00:00", 300, 8.2, 49.2, tags={"a": "b"}),
        ],
    )
    assert out[(1, 2, 0)].status == "deleted"
    # restore after delete → CREATION again (prev raw version invisible)
    v3 = out[(1, 3, 0)]
    assert v3.contrib_type == "CREATION"
    assert v3.status == "latest"
    assert v3.centroid.x == pytest.approx(8.2)


def test_invalid_coordinates(spark):
    """Scenario 8: lon=360 → status 'invalid', xz level -1, no geometry."""
    out = run(
        spark,
        [
            node(1, 1, "2020-01-01T00:00:00", 100, 360.0, 49.0, tags={"a": "b"}),
            node(1, 2, "2020-02-01T00:00:00", 200, None, None, visible=False),
        ],
    )
    v1 = out[(1, 1, 0)]
    assert v1.status == "invalid"
    assert v1.geometry is None
    assert v1.bbox is None
    assert v1.xzcode.level == -1 and v1.xzcode.code == 0
    assert v1.area == 0.0 and v1.length == 0.0
    # the deletion inherits the (empty) geometry → stays 'deleted'
    v2 = out[(1, 2, 0)]
    assert v2.status == "deleted"
    assert v2.geometry is None


def test_untagged_history_filtered(spark):
    """Scenario 9 (F1): an id whose versions are all untagged is dropped."""
    nodes = mk_nodes(
        spark,
        [
            node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={}),
            node(1, 2, "2020-02-01T00:00:00", 200, 8.1, 49.0, tags={}),
            node(2, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"x": "y"}),
            node(2, 2, "2020-02-01T00:00:00", 200, 8.1, 49.0, tags={}),
        ],
    )
    kept = filter_tagged_histories(nodes)
    ids = {r.osm_id for r in kept.select("osm_id").distinct().collect()}
    assert ids == {2}
    # id 2 keeps ALL versions (history-level filter, not row-level)
    assert kept.filter(F.col("osm_id") == 2).count() == 2


def test_same_changeset_squash(spark):
    """F4: consecutive same-(version, changeset) rows collapse to the last;
    raw-predecessor lags still visible in tags_before/osm_last_edit."""
    rows = [
        node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"a": "1"}),
        # same version+changeset 'minor' moves (synthetic for nodes, but the
        # squash operator is shared with way/relation minor streams)
        node(1, 2, "2020-02-01T00:00:00", 200, 8.1, 49.0, tags={"a": "2"}),
        node(1, 2, "2020-02-01T00:05:00", 200, 8.2, 49.0, tags={"a": "2"}),
        node(1, 2, "2020-02-01T00:10:00", 200, 8.3, 49.0, tags={"a": "2"}),
    ]
    out = run(spark, rows)
    assert len(out) == 2
    v2 = out[(1, 2, 0)]
    assert v2.valid_from == ts("2020-02-01T00:10:00")
    # raw predecessor is the squashed-away 00:05 row
    assert v2.osm_last_edit == ts("2020-02-01T00:05:00")
    assert v2.osm_edits == 2
    # tags_before is the raw predecessor (same version → same tags → no TAG);
    # geometry compares against previous EMITTED (v1 @ 8.0) → GEOMETRY only
    assert v2.tags_before == {"a": "2"}
    assert v2.contrib_type == "GEOMETRY"


def test_changeset_enrichment_with_default(spark):
    contribs = synthesize_contributions(
        node_contribution_events(
            mk_nodes(
                spark,
                [
                    node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"a": "b"}),
                    node(2, 1, "2020-01-01T00:00:00", 999, 8.0, 49.0, tags={"a": "b"}),
                ],
            )
        )
    )
    changesets = spark.createDataFrame(
        [
            (
                100,
                1,
                ts("2019-12-31T23:00:00"),
                ts("2020-01-01T01:00:00"),
                False,
                "u",
                {"comment": "add #cafe", "created_by": "JOSM"},
                ["cafe"],
                None,
                None,
                None,
                None,
                None,
            )
        ],
        CHANGESET_SCHEMA,
    )
    out = {r.osm_id: r for r in with_changesets(contribs, changesets).collect()}
    assert out[1].changeset.id == 100
    assert out[1].changeset.editor == "JOSM"
    assert out[1].changeset.hashtags == ["cafe"]
    # missing changeset → default record (epoch created_at, empties)
    assert out[2].changeset.id == 999
    assert out[2].changeset.created_at == dt.datetime(1970, 1, 1)
    assert out[2].changeset.tags == {}
    assert out[2].changeset.hashtags == []
    assert out[2].changeset.editor is None


def test_xz_code_point_level(spark):
    out = run(spark, [node(1, 1, "2020-01-01T00:00:00", 100, 8.0, 49.0, tags={"a": "b"})])
    xz = out[(1, 1, 0)].xzcode
    assert xz.level == 16  # points always reach max resolution g=16
    assert xz.code > 0
