"""Contribution-synthesis rows: node/way/relation/polygon contributions
from derived histories and from real PBF fixtures, changeset and
hashtag enrichment, XZ/geodesic/spatial enrichment and the full-row
product schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.geodesic import SPHERE_FACT, segment_length_expr
from ..functions.hashtags import hashtags_expr
from ..functions.xz import G_DEFAULT, _n_elem, xz_code_expr, xz_level_expr
from ..operators.contributions import (
    node_contribution_events, relation_contribution_events,
    synthesize_contributions, way_contribution_events,
)
from ..operators.spatial import join_countries, rect_feature
from ..schemas import split_entities
from ..session import scratch

from ._registry import _produce_then_query, _register, _t, staged_sort
from .osm_derive import (
    _CONTRIB_ORACLE, _EPOCH_2020, _EPOCH_2024, _FULLROW_MOVE,
    _FULLROW_REL_TS, _WAY_INSTANT_CTES, _contrib_oracle_sql,
    _derived_fullrow_corpus, _derived_nodes, _derived_polygon_relations,
    _derived_polygon_ways, _derived_relations, _derived_way_inputs,
)


# contrib_from_pbf: same history, but every value must survive the PBF
# wire format exactly — timestamps at whole seconds (date_granularity
# 1000), coordinates on the half/quarter-degree grid (exact doubles,
# lossless through the 1e-7 nanodegree encoding).
_CONTRIB_FROM_PBF_ORACLE = _contrib_oracle_sql("""
WITH base AS (
  SELECT user_id AS osm_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         event_type, value
  FROM events WHERE user_id % 4 = 0
), ent AS (
  SELECT osm_id,
         TIMESTAMP '2015-01-01' + INTERVAL 1 MINUTE * seq              AS ts,
         CAST(((seq - 1) // 2) + 1 AS INT)            AS version,
         CAST((((seq - 1) // 2) + 1) % 7 AS BIGINT)   AS changeset,
         event_type <> 'error'                        AS visible,
         event_type                                   AS tagv,
         (abs(CAST(floor(value) AS BIGINT)) % 360) - 180 + 0.5         AS lon,
         (abs(CAST(floor(value * 7.0) AS BIGINT)) % 180) - 90 + 0.25   AS lat
  FROM base
)""")


@_register("contrib_nodes", _CONTRIB_ORACLE)
def contrib_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full node contribution pipeline (A1-A6, F3, F4) on
    derived histories, checked column-by-column against a window-SQL oracle."""
    nodes = _derived_nodes(spark, sf_dir)
    contribs = synthesize_contributions(node_contribution_events(nodes))
    return staged_sort(
        contribs.select(
        "status",
        "valid_from",
        "valid_to",
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "osm_last_edit",
        "contrib_type",
        F.round("centroid.x", 6).alias("cx"),
        F.round("centroid.y", 6).alias("cy"),
    ),
        "osm_id",
        "osm_edits",
    )


def _pbf_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build the deterministic ``.osh.pbf`` fixture for contrib_from_pbf:
    derive a bounded node history from events (25% of users), collect it,
    and encode real DenseNodes wire bytes. The collect is fixture
    construction, not pipeline shape — at 100 TB the PBF already exists
    (it is the planet dump); only the decode side below is the engine."""
    def write(path: str) -> None:
        from ..sources.pbf_encoder import write_node_history_pbf

        ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 4 == 0)
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        seq = F.row_number().over(w)
        version = (F.floor((seq - F.lit(1)) / 2) + 1).cast("int")
        rows = ev.select(
            F.col("user_id").alias("osm_id"),
            version.alias("version"),
            (F.lit(1420070400) + 60 * seq).alias("ts_s"),
            (version % 7).cast("bigint").alias("changeset"),
            (F.col("event_type") != "error").alias("visible"),
            F.col("event_type").alias("tagv"),
            (F.abs(F.floor("value").cast("bigint")) % 360 - 180 + 0.5).alias("lon"),
            (F.abs(F.floor(F.col("value") * 7.0).cast("bigint")) % 180 - 90 + 0.25).alias("lat"),
        ).orderBy("osm_id", "version", "ts_s").collect()
        nodes = [
            dict(
                osm_id=r.osm_id, version=r.version, ts_ms=r.ts_s * 1000,
                changeset=r.changeset, uid=0, user="u", visible=r.visible,
                tags={"t": r.tagv}, lon=r.lon, lat=r.lat,
            )
            for r in rows
        ]
        write_node_history_pbf(path, nodes)

    return scratch("nodes.osh.pbf", sf_dir, write)


def _pbf_node_contribs(spark: SparkSession, path: str) -> DataFrame:
    """Decode the node histories of the PBF at ``path`` and synthesize
    their contributions: the columns the PBF node rows compare."""
    from ..sources.pbf_datasource import register_pbf_source

    register_pbf_source(spark)
    # entity_type reads only the blobs that can hold nodes (S7); the
    # filter drops the ways a boundary blob may also hold
    ents = (
        spark.read.format("osmpbf").option("entity_type", "node").load(path)
        .filter(F.col("osm_type") == "node")
    )
    nodes = ents.select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "lon", "lat",
    )
    contribs = synthesize_contributions(node_contribution_events(nodes))
    return contribs.select(
        "status",
        "valid_from",
        "valid_to",
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "osm_last_edit",
        "contrib_type",
        F.round("centroid.x", 6).alias("cx"),
        F.round("centroid.y", 6).alias("cy"),
    )


@_register("contrib_from_pbf", _CONTRIB_FROM_PBF_ORACLE)
def contrib_from_pbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end S1-S6 + A1-A6 seam: real ``.osh.pbf`` bytes → distributed
    blob decode (the ``osmpbf`` data source behind ``read_pbf``: one task
    per blob, node blobs only by S7 pruning) → node contribution synthesis —
    the `Contributions2Parquet.call()` path
    (``Contributions2Parquet.java:125-207``) inside the hash-match gate.
    The oracle replays the same history from the events table in pure SQL;
    any decode bug (delta/zigzag, string table, info fields, granularity)
    breaks the hash."""
    return _pbf_node_contribs(spark, _pbf_fixture(spark, sf_dir)).orderBy(
        "osm_id", "osm_edits"
    )


# contrib_from_pbf_offset_grid: the SAME contribution semantics, but the
# wire bytes carry non-default granularity / lat_offset / lon_offset /
# date_granularity VARYING PER BLOCK (osm_id%3 picks the combo). The
# decoder's (off + gran*x)/1e9 replay (pbf.py, matching Block.java:88-97)
# was implemented-but-untested until this row: every fixture before it
# used the defaults (round-10 verdict, What's missing #1). Coordinates
# are multiples of 250 nanodegrees on each block's grid, so encode →
# decode → round(·,6) is lossless on both engines; timestamps are
# multiples of every date_granularity used.
_GRID_GRAN = "CASE osm_id % 3 WHEN 0 THEN 250 WHEN 1 THEN 500 ELSE 1250 END"
_GRID_LATO = "CASE osm_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 250000 ELSE 500000 END"
_GRID_LONO = "CASE osm_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 1250000 ELSE 750000 END"
_CONTRIB_PBF_OFFSET_ORACLE = _contrib_oracle_sql(f"""
WITH base AS (
  SELECT user_id AS osm_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         event_type
  FROM events WHERE user_id % 4 = 0
), grid AS (
  SELECT osm_id, seq, event_type,
         ((osm_id * 37 + seq * 11) % 720001) - 360000 AS klon,
         ((osm_id * 53 + seq * 13) % 360001) - 180000 AS klat
  FROM base
), ent AS (
  SELECT osm_id,
         TIMESTAMP '2015-01-01' + INTERVAL 1 MINUTE * seq              AS ts,
         CAST(((seq - 1) // 2) + 1 AS INT)            AS version,
         CAST((((seq - 1) // 2) + 1) % 7 AS BIGINT)   AS changeset,
         event_type <> 'error'                        AS visible,
         event_type                                   AS tagv,
         (({_GRID_LONO}) + ({_GRID_GRAN}) * klon) / 1e9 AS lon,
         (({_GRID_LATO}) + ({_GRID_GRAN}) * klat) / 1e9 AS lat
  FROM grid
)""")

_GRID_COMBOS = {
    # osm_id%3 → (granularity, lat_offset, lon_offset, date_granularity)
    0: (250, 0, 0, 1000),
    1: (500, 250_000, 1_250_000, 2000),
    2: (1250, 500_000, 750_000, 5000),
}


def _pbf_offset_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Encode the offset-grid ``.osh.pbf``: three interleaved block
    families, each with its own granularity/offsets/date_granularity
    (fields 17-20 on the wire). Coordinates are constructed ON the grid,
    so encoding is exact and the oracle recomputes them in closed form."""
    def write(path: str) -> None:
        import os
        import tempfile

        from ..sources.pbf_encoder import encode_block, write_pbf

        ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 4 == 0)
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        seq = F.row_number().over(w)
        version = (F.floor((seq - F.lit(1)) / 2) + 1).cast("int")
        rows = ev.select(
            F.col("user_id").alias("osm_id"),
            version.alias("version"),
            (F.lit(1420070400) + 60 * seq).alias("ts_s"),
            (version % 7).cast("bigint").alias("changeset"),
            (F.col("event_type") != "error").alias("visible"),
            F.col("event_type").alias("tagv"),
            ((F.col("user_id") * 37 + seq * 11) % 720001 - 360000).alias("klon"),
            ((F.col("user_id") * 53 + seq * 13) % 360001 - 180000).alias("klat"),
        ).orderBy("osm_id", "version", "ts_s").collect()
        by_combo: dict[int, list[dict]] = {0: [], 1: [], 2: []}
        for r in rows:
            gran, lat_o, lon_o, _dg = _GRID_COMBOS[r.osm_id % 3]
            by_combo[r.osm_id % 3].append(
                dict(
                    osm_id=r.osm_id, version=r.version, ts_ms=r.ts_s * 1000,
                    changeset=r.changeset, uid=0, user="u", visible=r.visible,
                    tags={"t": r.tagv},
                    lon=(lon_o + gran * r.klon) / 1e9,
                    lat=(lat_o + gran * r.klat) / 1e9,
                )
            )
        blocks = []
        for c, nodes in by_combo.items():
            gran, lat_o, lon_o, dg = _GRID_COMBOS[c]
            for i in range(0, max(len(nodes), 1), 4000):
                blocks.append(
                    encode_block(
                        dense_nodes=nodes[i : i + 4000],
                        granularity=gran,
                        lat_offset=lat_o,
                        lon_offset=lon_o,
                        date_granularity=dg,
                    )
                )
        fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir(), suffix=".pbf.tmp")
        os.close(fd)
        write_pbf(tmp, blocks)
        os.replace(tmp, path)

    return scratch("offset_grid.osh.pbf", sf_dir, write)


@_register("contrib_from_pbf_offset_grid", _CONTRIB_PBF_OFFSET_ORACLE)
def contrib_from_pbf_offset_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``contrib_from_pbf``'s wire-format-hardening twin: the same
    decode → synthesis pipeline over blocks that carry NON-DEFAULT
    granularity (250/500/1250), lat/lon offsets, and date_granularity
    (1000/2000/5000), varying per block. One wrong term in the
    ``(off + gran*x)/1e9`` or ``ts*date_gran`` replay (``sources/pbf.py``
    vs Block.java:88-97) shifts every coordinate/timestamp and breaks
    the hash."""
    return staged_sort(
        _pbf_node_contribs(spark, _pbf_offset_fixture(spark, sf_dir)),
        "osm_id",
        "osm_edits",
    )


_CONTRIB_CHANGESETS_ORACLE = """
WITH contribs AS (
  SELECT o_orderkey AS contrib_id, CAST(o_custkey AS BIGINT) AS changeset_id
  FROM orders
), cs AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         TIMESTAMP '2020-01-01' + INTERVAL 1 MINUTE * c_custkey AS created_at,
         TIMESTAMP '2020-01-01' + INTERVAL 1 MINUTE * (c_custkey + 120) AS closed_at,
         c_mktsegment AS editor,
         concat('h', CAST(c_custkey % 10 AS VARCHAR), ',',
                lower(c_mktsegment))                         AS hashtags
  FROM customer WHERE c_custkey % 3 <> 0
)
SELECT contrib_id,
       changeset_id,
       coalesce(cs.created_at, TIMESTAMP '1970-01-01')       AS cs_created_at,
       cs.closed_at                                          AS cs_closed_at,
       cs.editor                                             AS editor,
       coalesce(cs.hashtags, '')                             AS hashtags
FROM contribs LEFT JOIN cs ON contribs.changeset_id = cs.id
ORDER BY contrib_id
"""


def _orders_with_changesets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as contributions (o_custkey as changeset id) enriched by
    ``with_changesets`` against customer-derived changesets; every third
    changeset id is withheld."""
    from ..operators.contributions import with_changesets

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    contribs = orders.select(
        F.col("o_orderkey").alias("contrib_id"),
        F.col("o_custkey").cast("bigint").alias("changeset_id"),
    )
    changesets = customer.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").cast("bigint").alias("id"),
        F.expr(
            "timestamp'2020-01-01' + make_interval(0,0,0,0,0, c_custkey, 0)"
        ).alias("created_at"),
        F.expr(
            "timestamp'2020-01-01' + make_interval(0,0,0,0,0, c_custkey + 120, 0)"
        ).alias("closed_at"),
        F.create_map(F.lit("created_by"), F.col("c_mktsegment")).alias("tags"),
        F.array(
            F.concat(F.lit("h"), (F.col("c_custkey") % 10).cast("string")),
            F.lower("c_mktsegment"),
        ).alias("hashtags"),
    )
    return with_changesets(contribs, changesets)


@_register("contrib_changesets", _CONTRIB_CHANGESETS_ORACLE)
def contrib_changesets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 changeset enrichment: left join with the reference's default
    record for missing ids (``util/Utils.java:50-66``), editor from
    tags['created_by'] (A11, ``ChangesetDb.java:50``). Every third
    changeset id is withheld so the default-record path is exercised.
    Scale shape: one plain left equi-join, AQE-picked broadcast
    (see ``with_changesets``)."""
    out = _orders_with_changesets(spark, sf_dir)
    return out.select(
        "contrib_id",
        F.col("changeset.id").alias("changeset_id"),
        F.col("changeset.created_at").alias("cs_created_at"),
        F.col("changeset.closed_at").alias("cs_closed_at"),
        F.col("changeset.editor").alias("editor"),
        F.concat_ws(",", "changeset.hashtags").alias("hashtags"),
    ).orderBy("contrib_id")


# ===========================================================================
# scalar function surface: hashtags, xz, geodesic (A8-A11)
# ===========================================================================


_CAMPAIGN_ORACLE = """
WITH contribs AS (
  SELECT o_orderkey AS contrib_id, CAST(o_custkey AS BIGINT) AS changeset_id
  FROM orders
), cs AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         TIMESTAMP '2020-01-01' + INTERVAL 1 MINUTE * c_custkey AS created_at,
         [concat('h', CAST(c_custkey % 10 AS VARCHAR)),
          lower(c_mktsegment)]                                AS hashtags
  FROM customer WHERE c_custkey % 3 <> 0
), j AS (
  SELECT contrib_id, cs.id AS cs_id, cs.created_at,
         unnest(cs.hashtags) AS hashtag
  FROM contribs JOIN cs ON contribs.changeset_id = cs.id
)
SELECT hashtag,
       CAST(count(*) AS BIGINT)              AS n_contribs,
       CAST(count(DISTINCT cs_id) AS BIGINT) AS n_changesets,
       min(created_at)                       AS first_at,
       max(created_at)                       AS last_at
FROM j GROUP BY hashtag ORDER BY hashtag
"""


@_register("hashtag_campaign_stats", _CAMPAIGN_ORACLE)
def hashtag_campaign_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Campaign (mapathon) monitoring — the ohsome hashtag analytic the
    reference's changeset hashtags exist to serve: per hashtag, the
    contribution count, distinct changesets, and first/last changeset
    time. One explode + one map-side-combinable groupBy downstream of the
    J4 enrichment join; missing changesets carry the default record's
    empty hashtag list, so they drop out at the explode, matching the
    oracle's inner join."""
    enriched = _orders_with_changesets(spark, sf_dir)
    tagged = enriched.select(
        "contrib_id",
        F.col("changeset.id").alias("cs_id"),
        F.col("changeset.created_at").alias("created_at"),
        F.explode("changeset.hashtags").alias("hashtag"),
    )
    return (
        tagged.groupBy("hashtag")
        .agg(
            F.count(F.lit(1)).alias("n_contribs"),
            F.countDistinct("cs_id").alias("n_changesets"),
            F.min("created_at").alias("first_at"),
            F.max("created_at").alias("last_at"),
        )
        .orderBy("hashtag")
    )


def _hashtags_oracle() -> str:
    from ..functions.hashtags import HASHTAG_RE, URL_RE

    # HASHTAG_RE is built from literal codepoints, so it is valid RE2 as-is;
    # escape single quotes for the SQL literal
    pat = HASHTAG_RE.replace("'", "''")
    url = URL_RE
    return f"""
    WITH comments AS (
      SELECT doc_id,
             concat('Edit #', source, ' and #', lang, 'map see http://x.io/#ign ',
                    '#', CAST(doc_id % 100 AS VARCHAR), ' #ok') AS comment
      FROM documents
    ), extracted AS (
      SELECT doc_id,
             list_sort(list_distinct(list_filter(
               list_transform(
                 regexp_extract_all(regexp_replace(comment, '{url}', '', 'g'),
                   '{pat}'),
                 t -> t[2:]),
               t -> len(t) >= 2 AND NOT regexp_matches(t, '^[0-9]+$')))) AS hashtags
      FROM comments
    )
    SELECT doc_id, array_to_string(hashtags, ',') AS hashtags
    FROM extracted ORDER BY doc_id
    """


@_register("changeset_hashtags", _hashtags_oracle())
def changeset_hashtags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: hashtag derivation (URL stripping, ≥2 chars, non-numeric,
    distinct+sorted) on synthesized comment strings."""
    docs = _t(spark, sf_dir, "documents")
    comment = F.concat(
        F.lit("Edit #"),
        F.col("source"),
        F.lit(" and #"),
        F.col("lang"),
        F.lit("map see http://x.io/#ign "),
        F.lit("#"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" #ok"),
    )
    # The driver's canonicalizer sorts the result frame and cannot hash
    # array cells, so emit the hashtag list as a canonical comma-joined
    # string on both engines.
    return docs.select(
        "doc_id", F.concat_ws(",", hashtags_expr(comment)).alias("hashtags")
    ).orderBy("doc_id")


def _xz_oracle() -> str:
    g = G_DEFAULT
    n_elem = _n_elem(g)
    terms = []
    for i in range(g):
        scale = float(2 ** (i + 1))
        cap = 2 ** (i + 1) - 1
        bx = f"(least(CAST(floor(nx * {scale}) AS BIGINT), {cap}) % 2)"
        by = f"(least(CAST(floor(ny * {scale}) AS BIGINT), {cap}) % 2)"
        terms.append(
            f"CASE WHEN {i} < lvl THEN ({bx} + 2 * {by}) * {int(n_elem[i])} + 1 ELSE 0 END"
        )
    code_sum = " + ".join(terms)
    return f"""
    WITH boxes AS (
      SELECT c_custkey,
             CAST((c_custkey % 340) - 170 AS DOUBLE)      AS xmin,
             CAST(((c_custkey * 3) % 160) - 80 AS DOUBLE) AS ymin,
             CAST((c_custkey % 340) - 170 AS DOUBLE) + (abs(c_acctbal) % 10.0)      AS xmax,
             CAST(((c_custkey * 3) % 160) - 80 AS DOUBLE) + ((abs(c_acctbal) * 2.0) % 8.0) AS ymax
      FROM customer
    ), norm AS (
      SELECT c_custkey,
             (180.0 + xmin) / 360.0 AS nx, (90.0 + ymin) / 360.0 AS ny,
             (180.0 + xmax) / 360.0 AS nx2, (90.0 + ymax) / 360.0 AS ny2
      FROM boxes
    ), lvl1 AS (
      SELECT *, greatest(nx2 - nx, ny2 - ny) AS ext FROM norm
    ), lvl2 AS (
      SELECT *,
        CASE WHEN ext <= 0 THEN {g}
             ELSE CAST(floor(ln(ext) / ln(0.5)) AS BIGINT) END AS l1
      FROM lvl1
    ), lvl3 AS (
      SELECT *, power(0.5, l1 + 1) AS w2 FROM lvl2
    ), leveled AS (
      SELECT *,
        CAST(CASE WHEN l1 >= {g} THEN {g}
             WHEN (nx2 <= floor(nx / w2) * w2 + 2 * w2) AND (ny2 <= floor(ny / w2) * w2 + 2 * w2)
               THEN l1 + 1 ELSE l1 END AS INT) AS lvl
      FROM lvl3
    )
    SELECT c_custkey, lvl AS xz_level, CAST({code_sum} AS BIGINT) AS xz_code
    FROM leveled ORDER BY c_custkey
    """


@_register("xz_codes", _xz_oracle())
def xz_codes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: XZ-ordering codes as pure codegen expressions on derived bboxes."""
    c = _t(spark, sf_dir, "customer")
    xmin = ((F.col("c_custkey") % 340) - 170).cast("double")
    ymin = (((F.col("c_custkey") * 3) % 160) - 80).cast("double")
    xmax = xmin + (F.abs(F.col("c_acctbal")) % 10.0)
    ymax = ymin + ((F.abs(F.col("c_acctbal")) * 2.0) % 8.0)
    return staged_sort(
        c.select(
        "c_custkey",
        xz_level_expr(xmin, ymin, xmax, ymax).alias("xz_level"),
        xz_code_expr(xmin, ymin, xmax, ymax).alias("xz_code"),
    ),
        "c_custkey",
    )


@_register(
    "geodesic_tracks",
    f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             (value % 360.0) - 180.0        AS lon,
             ((value * 7.0) % 180.0) - 90.0 AS lat
      FROM events
    ), segs AS (
      SELECT user_id,
             lag(lon) OVER w AS lon1, lag(lat) OVER w AS lat1, lon AS lon2, lat AS lat2
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           round(sum(
             6371000.0 * sqrt(
               pow((radians(lon2) - radians(lon1))
                   * cos((atan({SPHERE_FACT!r} * tan(radians(lat1)))
                        + atan({SPHERE_FACT!r} * tan(radians(lat2)))) / 2), 2)
             + pow(atan({SPHERE_FACT!r} * tan(radians(lat2)))
                 - atan({SPHERE_FACT!r} * tan(radians(lat1))), 2))
           ) / 1000.0, 3) AS track_km,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM segs WHERE lon1 IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def geodesic_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: geodesic track length per user (WGS84-corrected spherical
    formula as native expressions + lag window)."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("value") % 360.0) - 180.0).alias("lon"),
        (((F.col("value") * 7.0) % 180.0) - 90.0).alias("lat"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    segs = pts.select(
        "user_id",
        F.lag("lon").over(w).alias("lon1"),
        F.lag("lat").over(w).alias("lat1"),
        F.col("lon").alias("lon2"),
        F.col("lat").alias("lat2"),
    ).filter(F.col("lon1").isNotNull())
    seg_len = segment_length_expr(
        F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")
    )
    return (
        segs.groupBy("user_id")
        .agg(
            F.round(F.sum(seg_len) / 1000.0, 3).alias("track_km"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        .orderBy("user_id")
    )


# ===========================================================================
# spatial join (J5)
# ===========================================================================

_GRID_FEATURES = [
    ("AAA", -170.0, -80.0, -50.0, 0.0),
    ("BBB", -50.0, -80.0, 60.0, 0.0),
    ("CCC", 60.0, -80.0, 170.0, 0.0),
    ("DDD", -170.0, 0.0, -50.0, 80.0),
    ("EEE", -50.0, 0.0, 60.0, 80.0),
    ("FFF", 60.0, 0.0, 170.0, 80.0),
]


# DuckDB twin of ``_grid_countries``: the list of grid boundaries that
# contain (lon, lat).
_GRID_CASES_SQL = " || ".join(
    f"CASE WHEN lon >= {x0!r} AND lon <= {x1!r} AND lat >= {y0!r} AND lat <= {y1!r} "
    f"THEN ['{fid}'] ELSE [] END"
    for fid, x0, y0, x1, y1 in _GRID_FEATURES
)


def _grid_countries(pts: DataFrame, *cols) -> DataFrame:
    """One row per ``_GRID_FEATURES`` boundary containing a ``pts`` row's
    (lon, lat): ``country`` followed by ``cols``."""
    feats = [rect_feature(*f) for f in _GRID_FEATURES]
    return join_countries(pts, feats).select(
        F.explode("countries").alias("country"), *cols
    )


def _grid_area_dim(spark: SparkSession) -> DataFrame:
    """(country, area_mkm2): the spherical area of each grid boundary in
    million km², from the engine's own ``ring_area``."""
    import numpy as np

    from ..functions.geodesic import ring_area

    return spark.createDataFrame(
        [
            (
                fid,
                float(
                    abs(
                        ring_area(
                            np.array([x0, x1, x1, x0, x0]),
                            np.array([y0, y0, y1, y1, y0]),
                        )
                    )
                )
                / 1e6
                / 1e6,
            )
            for fid, x0, y0, x1, y1 in _GRID_FEATURES
        ],
        "country string, area_mkm2 double",
    )


def _spatial_oracle() -> str:
    cases = _GRID_CASES_SQL
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 330) - 165.0 + 0.25        AS lon,
             ((c_custkey * 7) % 158) - 79.0 + 0.25   AS lat
      FROM customer
    )
    SELECT c_custkey, round(lon, 6) AS lon, round(lat, 6) AS lat,
           array_to_string(list_sort({cases}), ',') AS countries
    FROM pts ORDER BY c_custkey
    """


@_register("spatial_join_countries", _spatial_oracle())
def spatial_join_countries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: broadcast spatial join of derived points against rectangular
    'countries' (shared borders → points on the border match both sides)."""
    feats = [rect_feature(*f) for f in _GRID_FEATURES]
    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") % 330) - 165.0 + 0.25).alias("lon"),
        (((F.col("c_custkey") * 7) % 158) - 79.0 + 0.25).alias("lat"),
    )
    out = join_countries(pts, feats, "lon", "lat")
    # Array columns break the driver-side canonicalizer: join to a string.
    return out.select(
        "c_custkey",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        F.concat_ws(",", "countries").alias("countries"),
    ).orderBy("c_custkey")


_CONTRIB_WAYS_ORACLE = (
    _WAY_INSTANT_CTES
    + f"""
, measured AS (
  SELECT *, len(xs) AS nc,
    CASE WHEN len(xs) >= 2 THEN
      list_sum(list_transform(range(1, len(xs)), i -> 6371000.0 * sqrt(
        pow((radians(xs[i + 1]) - radians(xs[i]))
            * cos((atan({SPHERE_FACT!r} * tan(radians(ys[i])))
                 + atan({SPHERE_FACT!r} * tan(radians(ys[i + 1])))) / 2), 2)
        + pow(atan({SPHERE_FACT!r} * tan(radians(ys[i + 1])))
            - atan({SPHERE_FACT!r} * tan(radians(ys[i]))), 2))))
    ELSE 0.0 END AS length_m,
    CASE WHEN len(xs) >= 2 THEN
      list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2)) * (xs[i]+xs[i+1])/2))
      / list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2))))
    WHEN len(xs) = 1 THEN xs[1] ELSE NULL END AS cx,
    CASE WHEN len(xs) >= 2 THEN
      list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2)) * (ys[i]+ys[i+1])/2))
      / list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2))))
    WHEN len(xs) = 1 THEN ys[1] ELSE NULL END AS cy
  FROM geoms
), contribs AS (
  SELECT *,
    lead(inst_ts) OVER w AS next_ts,
    CAST(row_number() OVER (PARTITION BY wid, wv ORDER BY inst_ts, inst_cs) - 1 AS INT) AS osm_minor_version,
    CAST(row_number() OVER w AS INT) AS osm_edits,
    lag(xs) OVER w AS prev_xs, lag(ys) OVER w AS prev_ys,
    row_number() OVER w = 1 AS is_first
  FROM measured WINDOW w AS (PARTITION BY wid ORDER BY inst_ts, wv, inst_cs)
)
SELECT wid AS osm_id, wv AS osm_version, osm_minor_version, osm_edits,
       inst_ts AS valid_from,
       coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN nc = 0 THEN 'invalid'
            WHEN next_ts IS NOT NULL THEN 'history' ELSE 'latest' END AS status,
       CASE WHEN is_first THEN 'CREATION'
            ELSE nullif(concat_ws('_',
              CASE WHEN xs IS DISTINCT FROM prev_xs OR ys IS DISTINCT FROM prev_ys
                   THEN 'GEOMETRY' END), '') END AS contrib_type,
       CASE WHEN nc >= 2 THEN 'LineString' WHEN nc = 1 THEN 'Point' ELSE NULL END AS geometry_type,
       round(length_m, 2) AS length_m,
       round(cx, 6) AS cx, round(cy, 6) AS cy,
       3 AS refs_count
FROM contribs
ORDER BY osm_id, osm_edits
"""
)

# _CONTRIB_WAYS_ORACLE without its final SELECT: the prefix of every
# oracle over the derived way contributions.
_WAY_HISTORY_CTES = _CONTRIB_WAYS_ORACLE[
    : _CONTRIB_WAYS_ORACLE.index("SELECT wid AS osm_id")
]


@_register("contrib_ways", _CONTRIB_WAYS_ORACLE)
def contrib_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship #2: the temporal member merge (J3) + way geometry + full
    contribution synthesis, oracle-checked stage by stage — minor-version
    instants, as-of member states, geodesic lengths, lineal centroids,
    counters and contrib types."""
    from ..session import truncate_lineage_many

    # seam the window-derived input histories once: the merge consumes
    # each side through several branches, re-running the row_number
    # derivation per embedding (interleaved A/B at sf0.1: 0.90)
    ways, nodes = truncate_lineage_many(
        list(_derived_way_inputs(spark, sf_dir))
    )
    contribs = synthesize_contributions(way_contribution_events(ways, nodes))
    # staged_sort A/B'd at 1.23 here (regression): the merge pipeline is
    # already internally seamed, so the sampling pass re-runs only cheap
    # post-seam projection and the checkpoint write is pure overhead
    return contribs.select(
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "valid_from",
        "valid_to",
        "status",
        "contrib_type",
        "geometry_type",
        F.round("length", 2).alias("length_m"),
        F.round("centroid.x", 6).alias("cx"),
        F.round("centroid.y", 6).alias("cy"),
        "refs_count",
    ).orderBy("osm_id", "osm_edits")


def _polygon_area_ctes() -> str:
    """Shared oracle CTEs for the derived closed-way corpus: ways →
    per-version rings on the exact grid → spherical-excess areas
    (term-for-term replay of ``functions/geodesic.py::ring_area``)."""
    from ..functions.geodesic import (
        EARTH_INVERSE_FLATTENING as INVF,
        EARTH_RADIUS_EQUATOR as RE,
        F_UNDERSCORE as FU,
    )

    sinlat = (
        f"({FU!r} * tan(radians(ys[((i + 1) % 5) + 1]))"
        f" / sqrt(({FU!r} * tan(radians(ys[((i + 1) % 5) + 1])))"
        f" * ({FU!r} * tan(radians(ys[((i + 1) % 5) + 1]))) + 1.0))"
    )
    return f"""
WITH ways AS (
  SELECT CAST(n_nationkey AS BIGINT) AS wid, CAST(v AS INT) AS v,
         make_timestamp(({_EPOCH_2024} + n_nationkey * 60
                         + v * 7 * 86400) * 1000000) AS wts
  FROM nation, (SELECT unnest(range(1, 4)) AS v)
), rings AS (
  SELECT wid, v, wts,
         lead(wts) OVER (PARTITION BY wid ORDER BY wts, v) AS wts_end,
         CAST((wid * 7) % 340 - 170 AS DOUBLE) AS x0,
         CAST((wid * 11) % 160 - 80 AS DOUBLE) AS y0
  FROM ways
), coords AS (
  SELECT *,
         [x0, x0 + 0.5, x0 + 0.5, x0, x0] AS xs,
         CASE WHEN v % 2 = 1
              THEN [y0, y0, y0 + 0.25, y0 + 0.25, y0]
              ELSE [y0, y0, y0 + 0.25, y0 + 0.5, y0] END AS ys
  FROM rings
), areas AS (
  SELECT wid, v, wts, wts_end,
    abs(
      list_sum(list_transform(range(0, 5), i ->
        radians(xs[((i + 2) % 5) + 1] - xs[(i % 5) + 1]) * {sinlat}))
      * (0.5 * {RE!r} * {RE!r}
         * (1.0 - 1.0 / {INVF!r}
            * (cos(radians((list_max(ys) + list_min(ys)) / 2.0))
               * cos(radians((list_max(ys) + list_min(ys)) / 2.0)))))
    ) AS area_m2
  FROM coords
)"""


def _pbf_polygon_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Encode the derived closed-way corpus (ways + corner nodes) into a
    real ``.osh.pbf`` — per-type blocks, DenseNodes + way groups. Every
    value is PBF-representable by construction (whole-second timestamps,
    exact-grid coordinates), so the decode is lossless and the polygon
    oracle applies unchanged."""
    def write(path: str) -> None:
        from ..sources.pbf_encoder import write_history_pbf

        ways, nodes = _derived_polygon_ways(spark, sf_dir)
        rels = _derived_polygon_relations(spark, sf_dir)
        node_rows = [
            dict(
                osm_id=r.osm_id, version=r.version,
                ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
                uid=0, user="u", visible=True, tags={}, lon=r.lon, lat=r.lat,
            )
            for r in nodes.orderBy("osm_id").collect()
        ]
        way_rows = [
            dict(
                osm_id=r.osm_id, version=r.version,
                ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
                uid=0, user="u", visible=True, tags=dict(r.tags),
                refs=list(r.refs),
            )
            for r in ways.orderBy("osm_id", "version").collect()
        ]
        rel_rows = [
            dict(
                osm_id=r.osm_id, version=r.version,
                ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
                uid=0, user="u", visible=True, tags=dict(r.tags),
                members=[
                    {"type": m.type, "id": m.id, "role": m.role}
                    for m in r.members
                ],
            )
            for r in rels.orderBy("osm_id").collect()
        ]
        write_history_pbf(path, node_rows, ways=way_rows, relations=rel_rows)

    return scratch("poly2.osh.pbf", sf_dir, write)


def _contrib_polygons_from_pbf_oracle() -> str:
    return _polygon_area_ctes() + """
SELECT wid AS osm_id, v AS osm_version,
       wts AS valid_from,
       coalesce(wts_end, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN wts_end IS NULL THEN 'latest' ELSE 'history' END AS status,
       CASE WHEN v = 1 THEN 'CREATION' ELSE 'GEOMETRY' END AS contrib_type,
       'Polygon' AS geometry_type,
       round(area_m2 / 1000000.0, 6) AS area_km2
FROM areas
ORDER BY osm_id, osm_version
"""


@_register("contrib_polygons_from_pbf", _contrib_polygons_from_pbf_oracle())
def contrib_polygons_from_pbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAY half of the Contributions2Parquet seam end-to-end from wire
    bytes: real ``.osh.pbf`` (DenseNodes + way groups) → distributed blob
    decode → temporal member merge → way-polygon geometry (ring closure,
    polygon-feature predicate, spherical-excess area) → contribution
    synthesis. Complements ``contrib_from_pbf`` (nodes): together the two
    put decoder → J1/J3 merge → A2/A8 geometry inside the hash-match
    gate. The oracle replays ring areas term-for-term."""
    from ..sources.pbf import read_pbf
    from ..session import truncate_lineage

    path = _pbf_polygon_fixture(spark, sf_dir)
    # decode ONCE (same seam as contrib_full_row_from_pbf): the node and
    # way branches each feed the merge through several consumers, and
    # without a seam every consumer re-runs the Python blob-decode scan
    ents = truncate_lineage(read_pbf(spark, path))
    nodes = ents.filter(F.col("osm_type") == "node").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "lon", "lat",
    )
    ways = ents.filter(F.col("osm_type") == "way").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "refs",
    )
    contribs = synthesize_contributions(way_contribution_events(ways, nodes))
    return contribs.select(
        "osm_id",
        "osm_version",
        "valid_from",
        "valid_to",
        "status",
        "contrib_type",
        "geometry_type",
        F.round(F.col("area") / 1e6, 6).alias("area_km2"),
    ).orderBy("osm_id", "osm_version")


def _contrib_multipolygons_from_pbf_oracle() -> str:
    return _polygon_area_ctes() + f"""
, members AS (
  SELECT CAST(n_regionkey AS BIGINT) AS rid, CAST(n_nationkey AS BIGINT) AS wid
  FROM nation
), rel_instants AS (
  SELECT DISTINCT rid,
         make_timestamp({(_EPOCH_2024 + 10 * 86400) * 1000000}) AS inst_ts,
         CAST(5000 + rid AS BIGINT) AS inst_cs
  FROM members
  UNION ALL
  SELECT m.rid, a.wts AS inst_ts,
         CAST(1000 + a.wid * 10 + a.v AS BIGINT) AS inst_cs
  FROM members m JOIN areas a ON a.wid = m.wid
  WHERE a.wts > make_timestamp({(_EPOCH_2024 + 10 * 86400) * 1000000})
), assembled AS (
  SELECT i.rid, i.inst_ts, i.inst_cs,
         (SELECT sum(a.area_m2)
          FROM members m JOIN areas a ON a.wid = m.wid
          WHERE m.rid = i.rid AND a.wts <= i.inst_ts
            AND (a.wts_end IS NULL OR i.inst_ts < a.wts_end)) AS area_m2,
         lead(i.inst_ts) OVER (PARTITION BY i.rid
                               ORDER BY i.inst_ts, i.inst_cs) AS next_ts,
         row_number() OVER (PARTITION BY i.rid
                            ORDER BY i.inst_ts, i.inst_cs) AS rn
  FROM rel_instants i
)
SELECT rid AS osm_id, inst_ts AS valid_from,
       coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN next_ts IS NULL THEN 'latest' ELSE 'history' END AS status,
       CASE WHEN rn = 1 THEN 'CREATION' ELSE 'GEOMETRY' END AS contrib_type,
       'MultiPolygon' AS geometry_type,
       round(area_m2 / 1000000.0, 6) AS area_km2
FROM assembled
ORDER BY osm_id, valid_from
"""


@_register(
    "contrib_multipolygons_from_pbf", _contrib_multipolygons_from_pbf_oracle()
)
def contrib_multipolygons_from_pbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELATION third of the Contributions2Parquet seam from wire
    bytes: ``.osh.pbf`` with DenseNodes + way + relation groups →
    distributed decode → NESTED temporal merge (way streams feed relation
    streams, J2+J3) → multipolygon assembly from member outers → A8 areas
    → synthesis. Every member-way version lands as a relation minor whose
    assembled area the oracle recomputes from as-of ring areas."""
    from ..sources.pbf import read_pbf
    from ..session import truncate_lineage

    path = _pbf_polygon_fixture(spark, sf_dir)
    # decode ONCE (same seam as contrib_full_row_from_pbf): the nested
    # relation merge embeds the node/way/relation branches many times;
    # without a seam each embedding re-runs the Python blob-decode scan
    ents = truncate_lineage(read_pbf(spark, path))
    nodes = ents.filter(F.col("osm_type") == "node").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "lon", "lat",
    )
    ways = ents.filter(F.col("osm_type") == "way").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "refs",
    )
    rels = ents.filter(F.col("osm_type") == "relation").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "members",
    )
    contribs = synthesize_contributions(
        relation_contribution_events(rels, ways, nodes)
    )
    return staged_sort(contribs.select(
        "osm_id",
        "valid_from",
        "valid_to",
        "status",
        "contrib_type",
        "geometry_type",
        F.round(F.col("area") / 1e6, 6).alias("area_km2"),
    ), "osm_id", "valid_from")


# ===========================================================================
# relation contribution pipeline (flagship #3): nested member streams
# ===========================================================================

_CONTRIB_RELS_ORACLE = (
    _WAY_INSTANT_CTES
    + f"""
, way_events AS (
  -- member way streams = the ways' own contribution instants (with minors)
  SELECT wid, inst_ts AS wets, inst_cs AS wecs, xs, ys,
         CAST(row_number() OVER (PARTITION BY wid ORDER BY inst_ts, wv, inst_cs) AS INT) AS seq
  FROM geoms
), rels AS (
  SELECT CAST(n.n_regionkey AS BIGINT) AS rid,
         make_timestamp(CAST({_EPOCH_2024} + 8 * 86400 + 3600 AS BIGINT) * 1000000) AS rts,
         CAST(5000 + n.n_regionkey AS BIGINT) AS rcs,
         list_sort(array_agg(CAST(n.n_nationkey AS BIGINT))) AS member_ids
  FROM nation n GROUP BY n.n_regionkey
), rel_ev AS (
  -- relation cs (>= 5000) disjoint from every member cs -> no init fold
  SELECT r.rid, r.rts, r.rcs, e.wid, e.wets, e.wecs, e.xs, e.ys, e.seq,
         e.wets <= r.rts AS is_init
  FROM rels r, UNNEST(r.member_ids) AS t(mw)
  JOIN way_events e ON e.wid = t.mw
), rminor AS (
  SELECT *, sum(new_run) OVER (PARTITION BY rid ORDER BY wets, wecs, wid, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx
  FROM (
    SELECT *, CASE WHEN wecs IS DISTINCT FROM
                 lag(wecs) OVER (PARTITION BY rid ORDER BY wets, wecs, wid, seq)
               THEN 1 ELSE 0 END AS new_run
    FROM rel_ev WHERE NOT is_init
  )
), rruns AS (
  SELECT rid, run_idx, max(wets) AS inst_ts, min(wecs) AS inst_cs
  FROM rminor GROUP BY 1, 2
), rinstants AS (
  SELECT rid, CAST(0 AS BIGINT) AS run_idx, rts AS inst_ts, rcs AS inst_cs FROM rels
  UNION ALL SELECT rid, run_idx, inst_ts, inst_cs FROM rruns
), rstates AS (
  SELECT rid, wid, CAST(0 AS BIGINT) AS k, 0 AS probe, seq AS ord_s,
         struct_pack(sxs := xs, sys := ys) AS st
  FROM rel_ev WHERE is_init
  UNION ALL
  SELECT rid, wid, run_idx AS k, 0 AS probe, seq AS ord_s,
         struct_pack(sxs := xs, sys := ys) AS st
  FROM rminor
), rprobes AS (
  SELECT i.rid, t.mw AS wid, i.run_idx AS k, 1 AS probe, 2147483647 AS ord_s,
         CAST(NULL AS STRUCT(sxs DOUBLE[], sys DOUBLE[])) AS st
  FROM rinstants i JOIN rels r ON r.rid = i.rid, UNNEST(r.member_ids) AS t(mw)
), rresolved AS (
  SELECT *, last_value(st IGNORE NULLS) OVER (
           PARTITION BY rid, wid ORDER BY k, probe, ord_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_st
  FROM (SELECT * FROM rstates UNION ALL SELECT * FROM rprobes)
), rmembers AS (
  SELECT rid, k,
         CAST(count(*) AS INT) AS members_count,
         CAST(count(CASE WHEN asof_st IS NOT NULL AND len((asof_st).sxs) > 0 THEN 1 END) AS INT) AS n_geoms,
         min(list_min((asof_st).sxs)) AS bxmin,
         min(list_min((asof_st).sys)) AS bymin,
         max(list_max((asof_st).sxs)) AS bxmax,
         max(list_max((asof_st).sys)) AS bymax
  FROM rresolved WHERE probe = 1
  GROUP BY rid, k
), rcontribs AS (
  SELECT i.rid, i.inst_ts, i.inst_cs, m.members_count, m.n_geoms,
         m.bxmin, m.bymin, m.bxmax, m.bymax,
         lead(i.inst_ts) OVER w AS next_ts,
         CAST(row_number() OVER (PARTITION BY i.rid ORDER BY i.inst_ts, i.inst_cs) - 1 AS INT) AS osm_minor_version,
         CAST(row_number() OVER w AS INT) AS osm_edits
  FROM rinstants i JOIN rmembers m ON m.rid = i.rid AND m.k = i.run_idx
  WINDOW w AS (PARTITION BY i.rid ORDER BY i.inst_ts, i.inst_cs)
)
SELECT rid AS osm_id, 1 AS osm_version, osm_minor_version, osm_edits,
       inst_ts AS valid_from,
       coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN n_geoms = 0 THEN 'invalid'
            WHEN next_ts IS NOT NULL THEN 'history' ELSE 'latest' END AS status,
       members_count, n_geoms,
       round(bxmin, 6) AS bxmin, round(bymin, 6) AS bymin,
       round(bxmax, 6) AS bxmax, round(bymax, 6) AS bymax
FROM rcontribs
ORDER BY osm_id, osm_edits
"""
)


@_register("contrib_relations", _CONTRIB_RELS_ORACLE)
def contrib_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship #3: the NESTED temporal merge — relations whose member way
    streams carry their own minor versions, collection bbox/validity and
    counters oracle-checked stage by stage."""
    from ..session import truncate_lineage_many

    # seam all three derived input histories once: the nested merge
    # embeds each side many times, re-running the derivations per
    # embedding (interleaved A/B at sf0.1: 0.93 for the three-way seam;
    # ways+nodes alone measured a wash — the relation-side embeddings
    # carry the weight here)
    ways, nodes, rels = truncate_lineage_many([
        *_derived_way_inputs(spark, sf_dir),
        _derived_relations(spark, sf_dir),
    ])
    contribs = synthesize_contributions(relation_contribution_events(rels, ways, nodes))
    n_geoms = F.size(F.filter(F.col("members"), lambda m: m["geometry"].isNotNull()))
    return contribs.select(
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "valid_from",
        "valid_to",
        "status",
        "members_count",
        n_geoms.cast("int").alias("n_geoms"),
        F.round("bbox.xmin", 6).alias("bxmin"),
        F.round("bbox.ymin", 6).alias("bymin"),
        F.round("bbox.xmax", 6).alias("bxmax"),
        F.round("bbox.ymax", 6).alias("bymax"),
    ).orderBy("osm_id", "osm_edits")


# --- XZ-cell spatial rollup --------------------------------------------------


@_register(
    "xz_cell_stats",
    f"""
    WITH codes AS ({{inner}}),
    cells AS (
      SELECT xz_level, xz_code, CAST(count(*) AS BIGINT) AS n
      FROM codes GROUP BY xz_level, xz_code
    )
    SELECT xz_level,
           CAST(sum(n) AS BIGINT) AS n_features,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS max_cell,
           round(avg(n), 6) AS avg_cell
    FROM cells GROUP BY xz_level ORDER BY xz_level
    """.format(inner=_xz_oracle().replace("ORDER BY c_custkey", "")),
)
def xz_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial rollup on the XZ space-filling curve: features per curve
    cell, aggregated per level — the tiling histogram an OSM analytics
    deployment uses for spatial partitioning decisions. One combinable
    aggregation keyed on (level, code); the curve code itself is the
    shuffle key, which is the whole point of XZ ordering at scale."""
    c = _t(spark, sf_dir, "customer")
    xmin = ((F.col("c_custkey") % 340) - 170).cast("double")
    ymin = (((F.col("c_custkey") * 3) % 160) - 80).cast("double")
    xmax = xmin + (F.abs(F.col("c_acctbal")) % 10.0)
    ymax = ymin + ((F.abs(F.col("c_acctbal")) * 2.0) % 8.0)
    codes = c.select(
        xz_level_expr(xmin, ymin, xmax, ymax).alias("xz_level"),
        xz_code_expr(xmin, ymin, xmax, ymax).alias("xz_code"),
    )
    cells = codes.groupBy("xz_level", "xz_code").agg(
        F.count(F.lit(1)).alias("n")
    )
    return staged_sort(
        cells.groupBy("xz_level")
        .agg(
            F.sum("n").alias("n_features"),
            F.count(F.lit(1)).alias("n_cells"),
            F.max("n").alias("max_cell"),
            F.round(F.avg("n"), 6).alias("avg_cell"),
        ),
        "xz_level",
    )


def _pbf_fullrow_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Encode the full-variance corpus into real ``.osh.pbf`` wire bytes
    (per-type blocks, per-row uid/user/visible through the info fields)."""
    def write(path: str) -> None:
        from ..sources.pbf_encoder import write_history_pbf

        nodes, ways, rels = _derived_fullrow_corpus(spark, sf_dir)
        node_rows = [
            dict(
                osm_id=r.osm_id, version=r.version,
                ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
                uid=int(r.user_id), user=r.user_name, visible=bool(r.visible),
                tags=dict(r.tags), lon=r.lon, lat=r.lat,
            )
            for r in nodes.orderBy("osm_id", "version").collect()
        ]
        way_rows = [
            dict(
                osm_id=r.osm_id, version=r.version,
                ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
                uid=int(r.user_id), user=r.user_name, visible=bool(r.visible),
                tags=dict(r.tags), refs=list(r.refs),
            )
            for r in ways.orderBy("osm_id", "version").collect()
        ]
        rel_rows = [
            dict(
                osm_id=r.osm_id, version=r.version,
                ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
                uid=int(r.user_id), user=r.user_name, visible=bool(r.visible),
                tags=dict(r.tags),
                members=[{"type": m.type, "id": m.id, "role": m.role} for m in r.members],
            )
            for r in rels.orderBy("osm_id", "version").collect()
        ]
        write_history_pbf(path, node_rows, ways=way_rows, relations=rel_rows)

    return scratch("fullrow1.osh.pbf", sf_dir, write)


def _fullrow_changesets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changeset dimension for J4: way v1/v3 + even node-move + even
    relation changesets present; v2/v4/odd ids withheld so the reference's
    default record (``util/Utils.java:50-66``) is exercised in-gate."""
    nat = _t(spark, sf_dir, "nation")
    w = F.col("n_nationkey").cast("bigint")
    r = F.col("n_regionkey").cast("bigint")
    ids = (
        nat.select(
            F.explode(
                F.array(F.lit(1000) + w * 10 + 1, F.lit(1000) + w * 10 + 3)
            ).alias("id")
        )
        .unionByName(nat.filter(w % 2 == 0).select((F.lit(7000) + w).alias("id")))
        .unionByName(
            nat.select(r.alias("rr")).distinct()
            .filter(F.col("rr") % 2 == 0)
            .select((F.lit(5000) + F.col("rr")).alias("id"))
        )
    )
    i = F.col("id")
    return ids.select(
        i.cast("bigint").alias("id"),
        F.timestamp_seconds(F.lit(_EPOCH_2024) + i).alias("created_at"),
        F.timestamp_seconds(F.lit(_EPOCH_2024) + i + 3600).alias("closed_at"),
        F.create_map(
            F.lit("created_by"), F.concat(F.lit("ed"), (i % 3).cast("string"))
        ).alias("tags"),
        F.array(
            F.concat(F.lit("h"), (i % 10).cast("string")), F.lit("map")
        ).alias("hashtags"),
    )


def _dhex(v: str) -> str:
    """DuckDB expression: IEEE-754 big-endian hex (uppercase, 16 chars) of a
    DOUBLE expression whose value is a dyadic rational (multiple of 1/16,
    |v| < 512) — exact integer arithmetic, verified against
    ``struct.pack('>d')``. Mirrors the engine's JTS-style big-endian WKB
    coordinate encoding (``functions/wkb.py:49``)."""
    m = f"CAST(abs({v})*16 AS BIGINT)"
    e = f"(length(bin({m})) - 5)"
    return (
        f"(CASE WHEN ({v}) = 0 THEN '0000000000000000' ELSE "
        f"lpad(to_hex((CASE WHEN ({v}) < 0 THEN 2048 ELSE 0 END) + {e} + 1023), 3, '0')"
        f" || lpad(to_hex({m} * (CAST(1 AS BIGINT) << (48 - {e}))"
        f" - (CAST(1 AS BIGINT) << 52)), 13, '0') END)"
    )


def _fullrow_xz_stages(src: str, out: str) -> str:
    """Chained CTEs computing the XZ level from bxmin/bymin/bxmax/bymax
    columns of ``src`` — the same staged replay as the driver-green
    ``xz_codes`` oracle (functions/xz.py:86-107)."""
    return f"""
{out}_n AS (
  SELECT *, (180.0 + bxmin) / 360.0 AS nx, (90.0 + bymin) / 360.0 AS ny,
         (180.0 + bxmax) / 360.0 AS nx2, (90.0 + bymax) / 360.0 AS ny2
  FROM {src}
), {out}_l AS (
  SELECT *, CASE WHEN greatest(nx2 - nx, ny2 - ny) <= 0 THEN 16
                 ELSE CAST(floor(ln(greatest(nx2 - nx, ny2 - ny)) / ln(0.5)) AS BIGINT)
            END AS l1
  FROM {out}_n
), {out} AS (
  SELECT *, CAST(CASE WHEN l1 >= 16 THEN 16
    WHEN (nx2 <= floor(nx / power(0.5, l1 + 1)) * power(0.5, l1 + 1) + 2 * power(0.5, l1 + 1))
     AND (ny2 <= floor(ny / power(0.5, l1 + 1)) * power(0.5, l1 + 1) + 2 * power(0.5, l1 + 1))
      THEN l1 + 1 ELSE l1 END AS INT) AS xz_lvl
  FROM {out}_l
)"""


def _fullrow_xz_code() -> str:
    """The 16-term closed-form XZ code sum over nx/ny/xz_lvl columns."""
    g = G_DEFAULT
    n_elem = _n_elem(g)
    terms = []
    for i in range(g):
        scale = float(2 ** (i + 1))
        cap = 2 ** (i + 1) - 1
        bx = f"(least(CAST(floor(nx * {scale}) AS BIGINT), {cap}) % 2)"
        by = f"(least(CAST(floor(ny * {scale}) AS BIGINT), {cap}) % 2)"
        terms.append(
            f"CASE WHEN {i} < xz_lvl THEN ({bx} + 2 * {by}) * {int(n_elem[i])} + 1 ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _ring_hex_sql() -> str:
    """Big-endian single-ring Polygon WKB as hex, reconstructed from xs/ys
    list columns — byte-for-byte what ``wkb.encode`` emits for the ring."""
    return (
        "'0000000003' || '00000001' || '00000005' || "
        "array_to_string(list_transform(range(1, 6), i -> "
        + _dhex("xs[i]") + " || " + _dhex("ys[i]") + "), '')"
    )


def _fullrow_oracle() -> str:
    from ..functions.geodesic import (
        EARTH_INVERSE_FLATTENING as INVF,
        EARTH_RADIUS_EQUATOR as RE,
        F_UNDERSCORE as FU,
    )

    e20, e24 = _EPOCH_2020, _EPOCH_2024
    mv, rl = _FULLROW_MOVE, _FULLROW_REL_TS
    code = _fullrow_xz_code()
    sinlat = (
        f"({FU!r} * tan(radians(ys[((i + 1) % 5) + 1]))"
        f" / sqrt(({FU!r} * tan(radians(ys[((i + 1) % 5) + 1])))"
        f" * ({FU!r} * tan(radians(ys[((i + 1) % 5) + 1]))) + 1.0))"
    )
    # common enriched output tail: J4 changeset columns (default record for
    # missing ids) — identical join per branch
    cs_cols = """
       b.cs AS cs_id,
       coalesce(cs.created_at, TIMESTAMP '1970-01-01') AS cs_created_at,
       cs.closed_at AS cs_closed_at,
       coalesce(cs.tags_str, '') AS cs_tags,
       coalesce(cs.hashtags_str, '') AS cs_hashtags,
       cs.editor AS cs_editor"""

    return f"""
WITH par AS (
  SELECT CAST(n_nationkey AS BIGINT) AS w, CAST(n_regionkey AS BIGINT) AS r,
         CAST((n_nationkey * 7) % 340 - 170 AS DOUBLE) AS x0,
         CAST((n_nationkey * 11) % 160 - 80 AS DOUBLE) AS y0
  FROM nation
), rings_b AS (
  -- ring kinds: 1 = way v1, 2 = way v2 pre-move, 3 = post-move (v2 minor, v3)
  SELECT w, kind,
    CASE kind WHEN 3 THEN [x0, x0 + 0.5, x0 + 1.0, x0, x0]
              ELSE [x0, x0 + 0.5, x0 + 0.5, x0, x0] END AS xs,
    CASE kind WHEN 1 THEN [y0, y0, y0 + 0.25, y0 + 0.25, y0]
              ELSE [y0, y0, y0 + 0.25, y0 + 0.5, y0] END AS ys
  FROM par, (SELECT unnest([1, 2, 3]) AS kind)
), rings_m AS (
  -- _ring_moments replay (wkb.py:520): base-relative triangle fan
  SELECT w, kind, xs, ys,
    list_sum(list_transform(range(1, 5), i ->
      (xs[i] - xs[1]) * (ys[i + 1] - ys[1]) - (xs[i + 1] - xs[1]) * (ys[i] - ys[1])
    )) AS a2,
    list_sum(list_transform(range(1, 5), i ->
      ((xs[i] - xs[1]) * (ys[i + 1] - ys[1]) - (xs[i + 1] - xs[1]) * (ys[i] - ys[1]))
      * ((xs[i] - xs[1]) + (xs[i + 1] - xs[1]))
    )) AS mx,
    list_sum(list_transform(range(1, 5), i ->
      ((xs[i] - xs[1]) * (ys[i + 1] - ys[1]) - (xs[i + 1] - xs[1]) * (ys[i] - ys[1]))
      * ((ys[i] - ys[1]) + (ys[i + 1] - ys[1]))
    )) AS my
  FROM rings_b
), rings AS (
  -- geodesic spherical-excess area (geodesic.py:42, term-for-term) +
  -- ring centroid + big-endian polygon WKB hex (wkb.py:54)
  SELECT w, kind, xs, ys, abs(a2) AS a2a,
    xs[1] + mx / (3.0 * a2) AS cxr,
    ys[1] + my / (3.0 * a2) AS cyr,
    abs(
      list_sum(list_transform(range(0, 5), i ->
        radians(xs[((i + 2) % 5) + 1] - xs[(i % 5) + 1]) * {sinlat}))
      * (0.5 * {RE!r} * {RE!r}
         * (1.0 - 1.0 / {INVF!r}
            * (cos(radians((list_max(ys) + list_min(ys)) / 2.0))
               * cos(radians((list_max(ys) + list_min(ys)) / 2.0)))))
    ) AS area_m2,
    {_ring_hex_sql()} AS poly_hex
  FROM rings_m
), csd AS (
  SELECT CAST(1000 + w * 10 + vv AS BIGINT) AS id FROM par, (VALUES (1), (3)) t(vv)
  UNION ALL SELECT CAST(7000 + w AS BIGINT) FROM par WHERE w % 2 = 0
  UNION ALL SELECT CAST(5000 + r AS BIGINT) FROM (SELECT DISTINCT r FROM par) WHERE r % 2 = 0
), cs AS (
  SELECT id,
         make_timestamp(({e24} + id) * 1000000) AS created_at,
         make_timestamp(({e24} + id + 3600) * 1000000) AS closed_at,
         'created_by=ed' || CAST(id % 3 AS VARCHAR) AS tags_str,
         'h' || CAST(id % 10 AS VARCHAR) || ',map' AS hashtags_str,
         'ed' || CAST(id % 3 AS VARCHAR) AS editor
  FROM csd
), wev AS (
  -- one row per way contribution instant (majors + the node-move minor)
  SELECT w, r, x0, y0, 1 AS v, 0 AS minor,
         make_timestamp(({e24} + w * 60 + 7 * 86400) * 1000000) AS ts,
         CAST(1000 + w * 10 + 1 AS BIGINT) AS cs,
         CAST(100 + (w + 1) % 7 AS BIGINT) AS uid,
         1 AS kind, TRUE AS visible, 'building=yes' AS tags_str
  FROM par
  UNION ALL
  SELECT w, r, x0, y0, 2, 0,
         make_timestamp(({e24} + w * 60 + 14 * 86400) * 1000000),
         CAST(1000 + w * 10 + 2 AS BIGINT), CAST(100 + (w + 2) % 7 AS BIGINT),
         2, TRUE, 'building=yes'
  FROM par
  UNION ALL
  SELECT w, r, x0, y0, 2, 1,
         make_timestamp(({mv} + w * 60) * 1000000),
         CAST(7000 + w AS BIGINT), CAST(200 + w % 5 AS BIGINT),
         3, TRUE, 'building=yes'
  FROM par
  UNION ALL
  SELECT w, r, x0, y0, 3, 0,
         make_timestamp(({e24} + w * 60 + 21 * 86400) * 1000000),
         CAST(1000 + w * 10 + 3 AS BIGINT), CAST(100 + (w + 3) % 7 AS BIGINT),
         3, TRUE, 'building=yes&name=w' || CAST(w AS VARCHAR)
  FROM par
  UNION ALL
  SELECT w, r, x0, y0, 4, 0,
         make_timestamp(({e24} + w * 60 + 28 * 86400) * 1000000),
         CAST(1000 + w * 10 + 4 AS BIGINT), CAST(100 + (w + 4) % 7 AS BIGINT),
         NULL, FALSE, ''
  FROM par WHERE w % 5 = 0
), way_rows AS (
  SELECT e.*, g.area_m2, g.poly_hex, g.cxr, g.cyr, g.a2a,
         CASE coalesce(e.kind, 3) WHEN 3 THEN 1.0 ELSE 0.5 END AS xext,
         CASE coalesce(e.kind, 3) WHEN 1 THEN 0.25 ELSE 0.5 END AS yext
  FROM wev e JOIN rings g ON g.w = e.w AND g.kind = coalesce(e.kind, 3)
), way_win AS (
  SELECT *,
    lead(ts) OVER ww AS next_ts,
    lag(ts) OVER ww AS prev_ts,
    lag(tags_str) OVER ww AS prev_tags,
    lag(visible) OVER ww AS prev_vis,
    lag(poly_hex) OVER ww AS prev_hex,
    lag(area_m2, 1, 0.0) OVER ww AS prev_area,
    CAST(row_number() OVER (PARTITION BY w, v ORDER BY ts) - 1 AS INT) AS minor_v,
    CAST(row_number() OVER ww AS INT) AS edits
  FROM way_rows WINDOW ww AS (PARTITION BY w ORDER BY ts)
), way_pre AS (
  SELECT *, x0 AS bxmin, y0 AS bymin, x0 + xext AS bxmax, y0 + yext AS bymax
  FROM way_win
), {_fullrow_xz_stages("way_pre", "way_xz")}, way_final AS (
  SELECT
    CASE WHEN NOT b.visible THEN 'deleted'
         WHEN b.next_ts IS NOT NULL THEN 'history' ELSE 'latest' END AS status,
    b.ts AS valid_from,
    coalesce(b.next_ts, TIMESTAMP '2222-01-01') AS valid_to,
    'way' AS osm_type, b.w AS osm_id,
    CAST(b.v AS INT) AS osm_version, b.minor_v AS osm_minor_version,
    b.edits AS osm_edits, b.prev_ts AS osm_last_edit,
    CAST(b.uid AS INT) AS user_id, 'u' || CAST(b.uid AS VARCHAR) AS user_name,
    b.tags_str AS tags, coalesce(b.prev_tags, '') AS tags_before,
    {cs_cols},
    b.bxmin AS bbox_xmin, b.bymin AS bbox_ymin,
    b.bxmax AS bbox_xmax, b.bymax AS bbox_ymax,
    round((b.a2a * b.cxr) / b.a2a, 9) AS centroid_x,
    round((b.a2a * b.cyr) / b.a2a, 9) AS centroid_y,
    b.xz_lvl AS xz_level, {code} AS xz_code,
    'Polygon' AS geometry_type, b.poly_hex AS geometry_wkb,
    round(b.area_m2 / 1000000.0, 6) AS area,
    round((b.area_m2 - b.prev_area) / 1000000.0, 6) AS area_delta,
    CAST(0.0 AS DOUBLE) AS length, CAST(0.0 AS DOUBLE) AS length_delta,
    CASE WHEN NOT b.visible THEN 'DELETION'
         WHEN b.prev_vis IS NULL THEN 'CREATION'
         ELSE nullif(concat_ws('_',
                CASE WHEN b.tags_str <> b.prev_tags THEN 'TAG' END,
                CASE WHEN b.poly_hex <> b.prev_hex THEN 'GEOMETRY' END), '')
    END AS contrib_type,
    CAST(CASE WHEN b.v = 4 THEN 0 ELSE 5 END AS INT) AS refs_count,
    CASE WHEN b.v = 4 THEN ''
         WHEN b.v = 1 THEN array_to_string(
           [10000000 + b.w * 8, 10000000 + b.w * 8 + 1, 10000000 + b.w * 8 + 2,
            10000000 + b.w * 8 + 3, 10000000 + b.w * 8], ',')
         ELSE array_to_string(
           [10000000 + b.w * 8, 10000000 + b.w * 8 + 1, 10000000 + b.w * 8 + 2,
            10000000 + b.w * 8 + 4, 10000000 + b.w * 8], ',') END AS refs,
    CAST(NULL AS INT) AS members_count, CAST(NULL AS VARCHAR) AS members,
    concat_ws(',',
      CASE WHEN b.bxmin < -100.1 THEN 'AAA' END,
      CASE WHEN b.bxmax > -100.1 AND b.bxmin < -50.1 THEN 'BBB' END,
      CASE WHEN b.bxmax > -50.1 THEN 'CCC' END) AS countries,
    CAST(0 AS BIGINT) AS build_time
  FROM way_xz b LEFT JOIN cs ON cs.id = b.cs
), nev AS (
  SELECT 10000000 + w * 8 + k AS nid2, w, 1 AS ver,
         make_timestamp({e20} * 1000000::BIGINT) AS ts,
         CAST(900 AS BIGINT) AS cs, CAST(10 + k AS BIGINT) AS uid,
         x0 + ddx AS lon, y0 + ddy AS lat
  FROM par, (VALUES (0, 0.0, 0.0), (1, 0.5, 0.0), (2, 0.5, 0.25),
                    (3, 0.0, 0.25), (4, 0.0, 0.5)) c(k, ddx, ddy)
  UNION ALL
  SELECT 10000000 + w * 8 + 2, w, 2,
         make_timestamp(({mv} + w * 60) * 1000000),
         CAST(7000 + w AS BIGINT), CAST(200 + w % 5 AS BIGINT),
         x0 + 1.0, y0 + 0.25
  FROM par
), node_win AS (
  SELECT *,
    lead(ts) OVER nw AS next_ts,
    lag(ts) OVER nw AS prev_ts,
    lag(lon) OVER nw AS prev_lon,
    CAST(row_number() OVER nw AS INT) AS edits
  FROM nev WINDOW nw AS (PARTITION BY nid2 ORDER BY ts)
), node_pre AS (
  SELECT *, lon AS bxmin, lat AS bymin, lon AS bxmax, lat AS bymax
  FROM node_win
), {_fullrow_xz_stages("node_pre", "node_xz")}, node_final AS (
  SELECT
    CASE WHEN b.next_ts IS NOT NULL THEN 'history' ELSE 'latest' END AS status,
    b.ts AS valid_from,
    coalesce(b.next_ts, TIMESTAMP '2222-01-01') AS valid_to,
    'node' AS osm_type, b.nid2 AS osm_id,
    CAST(b.ver AS INT) AS osm_version, CAST(0 AS INT) AS osm_minor_version,
    b.edits AS osm_edits, b.prev_ts AS osm_last_edit,
    CAST(b.uid AS INT) AS user_id, 'u' || CAST(b.uid AS VARCHAR) AS user_name,
    '' AS tags, '' AS tags_before,
    {cs_cols},
    b.bxmin AS bbox_xmin, b.bymin AS bbox_ymin,
    b.bxmax AS bbox_xmax, b.bymax AS bbox_ymax,
    round(b.lon, 9) AS centroid_x, round(b.lat, 9) AS centroid_y,
    b.xz_lvl AS xz_level, {code} AS xz_code,
    'Point' AS geometry_type,
    '0000000001' || {_dhex("b.lon")} || {_dhex("b.lat")} AS geometry_wkb,
    CAST(0.0 AS DOUBLE) AS area, CAST(0.0 AS DOUBLE) AS area_delta,
    CAST(0.0 AS DOUBLE) AS length, CAST(0.0 AS DOUBLE) AS length_delta,
    CASE WHEN b.prev_lon IS NULL THEN 'CREATION' ELSE 'GEOMETRY' END AS contrib_type,
    CAST(NULL AS INT) AS refs_count, CAST(NULL AS VARCHAR) AS refs,
    CAST(NULL AS INT) AS members_count, CAST(NULL AS VARCHAR) AS members,
    concat_ws(',',
      CASE WHEN b.lon < -100.1 THEN 'AAA' END,
      CASE WHEN b.lon > -100.1 AND b.lon < -50.1 THEN 'BBB' END,
      CASE WHEN b.lon > -50.1 THEN 'CCC' END) AS countries,
    CAST(0 AS BIGINT) AS build_time
  FROM node_xz b LEFT JOIN cs ON cs.id = b.cs
), rinst AS (
  SELECT r, make_timestamp({rl} * 1000000::BIGINT) AS inst_ts,
         CAST(5000 + r AS BIGINT) AS inst_cs, CAST(50 + r AS BIGINT) AS inst_uid
  FROM (SELECT DISTINCT r FROM par)
  UNION ALL
  SELECT r, ts, cs, uid FROM wev
  WHERE ts > make_timestamp({rl} * 1000000::BIGINT)
), im AS (
  SELECT i.r, i.inst_ts, i.inst_cs, i.inst_uid, p.w, p.x0, p.y0
  FROM rinst i JOIN par p USING (r)
), mstate AS (
  SELECT im.*, e.ts AS m_ts, e.kind, e.visible
  FROM im ASOF JOIN wev e ON e.w = im.w AND e.ts <= im.inst_ts
), msj AS (
  SELECT m.*, g.area_m2, g.poly_hex, g.cxr, g.cyr, g.a2a,
         CASE m.kind WHEN 3 THEN 1.0 ELSE 0.5 END AS xext,
         CASE m.kind WHEN 1 THEN 0.25 ELSE 0.5 END AS yext
  FROM mstate m LEFT JOIN rings g ON g.w = m.w AND g.kind = m.kind
), minst AS (
  -- per relation instant: members in slot (w) order; multipolygon assembly
  -- replays build_multipolygon's stable planar-area-descending ring sort
  -- (multipolygon.py:514; kinds 3>2>1 by planar area)
  SELECT r, inst_ts, inst_cs, inst_uid,
    string_agg('way:' || CAST(w AS VARCHAR) || ':'
               || CAST(CAST(epoch(m_ts) AS BIGINT) AS VARCHAR) || ':outer:'
               || CASE WHEN visible THEN 'Polygon' ELSE '' END || ':'
               || CASE WHEN visible THEN poly_hex ELSE '' END,
               '|' ORDER BY w) AS members_str,
    CAST(count(*) AS INT) AS n_members,
    count(*) FILTER (WHERE visible) AS n_vis,
    string_agg(poly_hex, '' ORDER BY kind DESC, w) FILTER (WHERE visible) AS mp_body,
    list_sum(list(area_m2 ORDER BY kind DESC, w) FILTER (WHERE visible)) AS area_m2,
    list_sum(list(a2a ORDER BY kind DESC, w) FILTER (WHERE visible)) AS ca,
    list_sum(list(a2a * cxr ORDER BY kind DESC, w) FILTER (WHERE visible)) AS cmx,
    list_sum(list(a2a * cyr ORDER BY kind DESC, w) FILTER (WHERE visible)) AS cmy,
    min(x0) FILTER (WHERE visible) AS bxmin,
    min(y0) FILTER (WHERE visible) AS bymin,
    max(x0 + xext) FILTER (WHERE visible) AS bxmax,
    max(y0 + yext) FILTER (WHERE visible) AS bymax,
    bool_or(visible AND x0 < -100.1) AS has_aaa,
    bool_or(visible AND x0 + xext > -100.1 AND x0 < -50.1) AS has_bbb,
    bool_or(visible AND x0 + xext > -50.1) AS has_ccc
  FROM msj GROUP BY r, inst_ts, inst_cs, inst_uid
), rel_win AS (
  -- n_vis = 0 (every member deleted) is the reference's empty-multipolygon
  -- fallback: status 'invalid', empty-MP WKB, area 0, null bbox/centroid,
  -- xz (-1, 0) — geometry.py:290-307 / contributions.py:471-513
  SELECT *,
    '0000000006' || lpad(to_hex(n_vis), 8, '0') || coalesce(mp_body, '') AS mp_hex,
    coalesce(area_m2, 0.0) AS area_v,
    lead(inst_ts) OVER rw AS next_ts,
    lag(inst_ts) OVER rw AS prev_ts,
    lag('0000000006' || lpad(to_hex(n_vis), 8, '0') || coalesce(mp_body, '')) OVER rw AS prev_hex,
    lag(coalesce(area_m2, 0.0), 1, 0.0) OVER rw AS prev_area,
    CAST(row_number() OVER rw - 1 AS INT) AS minor_v,
    CAST(row_number() OVER rw AS INT) AS edits
  FROM minst WINDOW rw AS (PARTITION BY r ORDER BY inst_ts)
), rel_pre AS (SELECT * FROM rel_win),
{_fullrow_xz_stages("rel_pre", "rel_xz")}, rel_final AS (
  SELECT
    CASE WHEN b.n_vis = 0 THEN 'invalid'
         WHEN b.next_ts IS NOT NULL THEN 'history' ELSE 'latest' END AS status,
    b.inst_ts AS valid_from,
    coalesce(b.next_ts, TIMESTAMP '2222-01-01') AS valid_to,
    'relation' AS osm_type, b.r AS osm_id,
    CAST(1 AS INT) AS osm_version, b.minor_v AS osm_minor_version,
    b.edits AS osm_edits, b.prev_ts AS osm_last_edit,
    CAST(b.inst_uid AS INT) AS user_id,
    'u' || CAST(b.inst_uid AS VARCHAR) AS user_name,
    'landuse=forest&type=multipolygon' AS tags,
    CASE WHEN b.prev_ts IS NULL THEN ''
         ELSE 'landuse=forest&type=multipolygon' END AS tags_before,
    b.inst_cs AS cs_id,
    coalesce(cs.created_at, TIMESTAMP '1970-01-01') AS cs_created_at,
    cs.closed_at AS cs_closed_at,
    coalesce(cs.tags_str, '') AS cs_tags,
    coalesce(cs.hashtags_str, '') AS cs_hashtags,
    cs.editor AS cs_editor,
    b.bxmin AS bbox_xmin, b.bymin AS bbox_ymin,
    b.bxmax AS bbox_xmax, b.bymax AS bbox_ymax,
    round(b.cmx / b.ca, 9) AS centroid_x,
    round(b.cmy / b.ca, 9) AS centroid_y,
    CASE WHEN b.n_vis = 0 THEN -1 ELSE b.xz_lvl END AS xz_level,
    CASE WHEN b.n_vis = 0 THEN CAST(0 AS BIGINT) ELSE {code} END AS xz_code,
    'MultiPolygon' AS geometry_type, b.mp_hex AS geometry_wkb,
    round(b.area_v / 1000000.0, 6) AS area,
    round((b.area_v - b.prev_area) / 1000000.0, 6) AS area_delta,
    CAST(0.0 AS DOUBLE) AS length, CAST(0.0 AS DOUBLE) AS length_delta,
    CASE WHEN b.prev_ts IS NULL THEN 'CREATION'
         ELSE nullif(concat_ws('_',
                CASE WHEN b.mp_hex <> b.prev_hex THEN 'GEOMETRY' END), '')
    END AS contrib_type,
    CAST(NULL AS INT) AS refs_count, CAST(NULL AS VARCHAR) AS refs,
    b.n_members AS members_count, b.members_str AS members,
    concat_ws(',',
      CASE WHEN b.has_aaa THEN 'AAA' END,
      CASE WHEN b.has_bbb THEN 'BBB' END,
      CASE WHEN b.has_ccc THEN 'CCC' END) AS countries,
    CAST(0 AS BIGINT) AS build_time
  FROM rel_xz b LEFT JOIN cs ON cs.id = b.inst_cs
)
SELECT * FROM way_final
UNION ALL SELECT * FROM node_final
UNION ALL SELECT * FROM rel_final
ORDER BY osm_type, osm_id, osm_edits
"""


def _fullrow_build(nodes: DataFrame, ways: DataFrame, rels: DataFrame) -> DataFrame:
    """The bulk three-pipeline contribution build: the way merge + geometry
    bundle is computed ONCE and staged; the way pipeline projects
    contribution events from it and the relation pipeline consumes it as
    its member way streams (the reference's memoized way contributions,
    ``Contribution.java:26-28``)."""
    from ..operators.contributions import bundled_way_instants
    from ..session import truncate_lineage

    bundled = truncate_lineage(bundled_way_instants(ways, nodes))
    return (
        synthesize_contributions(node_contribution_events(nodes))
        .unionByName(
            synthesize_contributions(
                way_contribution_events(ways, nodes, bundled=bundled)
            )
        )
        .unionByName(
            synthesize_contributions(
                relation_contribution_events(rels, ways, nodes, bundled_ways=bundled)
            )
        )
    )


def _fullrow_enrich(spark: SparkSession, sf_dir: str, contribs: DataFrame) -> DataFrame:
    """J4 changeset enrichment + J5 country tagging over a (staged)
    contribution table — the produce path's enrichment stages."""
    from ..operators.contributions import with_changesets
    from ..operators.spatial import geometry_countries_udf

    contribs = with_changesets(contribs, _fullrow_changesets(spark, sf_dir))
    feats = [
        rect_feature("AAA", -180.0, -90.0, -100.1, 90.0),
        rect_feature("BBB", -100.1, -90.0, -50.1, 90.0),
        rect_feature("CCC", -50.1, -90.0, 10.0, 90.0),
    ]
    return contribs.withColumn(
        "countries", geometry_countries_udf(feats)(F.col("geometry"))
    )


def _fullrow_project(contribs: DataFrame) -> DataFrame:
    """Project EVERY ``contrib.avsc:1-387`` field into hashable columns
    (maps/arrays serialized canonically, WKB as hex)."""

    def tags_canon(c):
        return F.concat_ws(
            "&",
            F.array_sort(
                F.transform(
                    F.map_entries(c),
                    lambda e: F.concat(e["key"], F.lit("="), e["value"]),
                )
            ),
        )

    members_str = F.when(
        F.col("members").isNotNull(),
        F.concat_ws(
            "|",
            F.transform(
                "members",
                lambda m: F.concat_ws(
                    ":",
                    m["type"],
                    m["id"].cast("string"),
                    F.unix_timestamp(m["timestamp"]).cast("string"),
                    m["role"],
                    F.coalesce(m["geometry_type"], F.lit("")),
                    F.coalesce(F.hex(m["geometry"]), F.lit("")),
                ),
            ),
        ),
    )
    refs_str = F.when(
        F.col("refs").isNotNull(),
        F.concat_ws(",", F.transform("refs", lambda x: x.cast("string"))),
    )
    return staged_sort(contribs.select(
        "status",
        "valid_from",
        "valid_to",
        "osm_type",
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "osm_last_edit",
        F.col("user.id").alias("user_id"),
        F.col("user.name").alias("user_name"),
        tags_canon(F.col("tags")).alias("tags"),
        tags_canon(F.col("tags_before")).alias("tags_before"),
        F.col("changeset.id").alias("cs_id"),
        F.col("changeset.created_at").alias("cs_created_at"),
        F.col("changeset.closed_at").alias("cs_closed_at"),
        tags_canon(F.col("changeset.tags")).alias("cs_tags"),
        F.concat_ws(",", "changeset.hashtags").alias("cs_hashtags"),
        F.col("changeset.editor").alias("cs_editor"),
        F.col("bbox.xmin").alias("bbox_xmin"),
        F.col("bbox.ymin").alias("bbox_ymin"),
        F.col("bbox.xmax").alias("bbox_xmax"),
        F.col("bbox.ymax").alias("bbox_ymax"),
        F.round("centroid.x", 9).alias("centroid_x"),
        F.round("centroid.y", 9).alias("centroid_y"),
        F.col("xzcode.level").alias("xz_level"),
        F.col("xzcode.code").alias("xz_code"),
        "geometry_type",
        F.hex("geometry").alias("geometry_wkb"),
        F.round(F.col("area") / 1e6, 6).alias("area"),
        F.round(F.col("area_delta") / 1e6, 6).alias("area_delta"),
        "length",
        "length_delta",
        "contrib_type",
        "refs_count",
        refs_str.alias("refs"),
        "members_count",
        members_str.alias("members"),
        F.concat_ws(",", "countries").alias("countries"),
        "build_time",
    ), "osm_type", "osm_id", "osm_edits")


@_register("contrib_full_row_from_pbf", _fullrow_oracle())
def contrib_full_row_from_pbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE full-record parity gate: real ``.osh.pbf`` wire bytes → blob
    decode → node/way/relation contribution pipelines (J1+J2+J3 merges,
    geometry assembly) → J4 changeset enrichment → J5 country tagging —
    the reference's complete one-pass produce path
    (``Contributions2Parquet.java:125-207``, countries at ``:157-159``) —
    projecting EVERY ``contrib.avsc:1-387`` field into the hash: status,
    validity window, type/id/version/minor/edits, osm_last_edit, user
    struct, tags + tags_before, changeset struct (id/created_at/closed_at/
    tags/hashtags/editor), bbox, centroid, xzcode, geometry type + WKB
    bytes (as hex), area/length + deltas, contrib_type, refs(+count),
    members(+count, per-member type/id/timestamp/role/geometry), countries,
    build_time. Maps/arrays serialize canonically on both engines; the
    DuckDB oracle reconstructs polygon/multipolygon WKB hex byte-for-byte
    via exact IEEE-754 integer arithmetic."""
    from ..session import truncate_lineage
    from ..sources.pbf import read_pbf

    path = _pbf_fullrow_fixture(spark, sf_dir)
    # decode ONCE: the three entity-type pipelines (and the nested way
    # merge inside the relation pipeline) would otherwise each re-run the
    # blob-decode scan — at planet scale this is the staged decode table
    ents = truncate_lineage(read_pbf(spark, path))
    nodes, ways, rels = split_entities(ents)
    # stage the synthesized union before enrichment (the in-session analog
    # of the reference's produce-then-enrich staging)
    contribs = truncate_lineage(_fullrow_build(nodes, ways, rels))
    return _fullrow_project(_fullrow_enrich(spark, sf_dir, contribs))


def _osc_roundtrip_batch(wave: DataFrame) -> list[dict]:
    """Collect one wave (fixture-sized), write it as osmChange XML, parse
    it back, and return the driver rows — the .osc wire seam the
    production replication loop consumes (``ContributionReplicationManager``
    does the identical parse of each sequence it fetches)."""
    from ..sources.osmxml import encode_osc, parse_osc_bytes

    rows = [
        r.asDict(recursive=True)
        for r in wave.orderBy("osm_type", "osm_id", "version").collect()
    ]
    return parse_osc_bytes(encode_osc(rows))


@_register("contrib_full_row_incremental", _fullrow_oracle())
def contrib_full_row_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk ≡ incremental full-row equivalence gate — the reference's
    central operational promise: minutely updates converge to what a fresh
    bulk run would produce (``ContributionUpdater.java:297-319`` seeds
    setMinorAndEdits from the before-state precisely so counters continue;
    ``ContributionStateManager.java:176-245`` delete-inserts the rebuilt
    rows). Here: the same ``.osh.pbf`` wire bytes as the bulk gate →
    version-1 rows seed the histories and a bulk(0) build seeds the
    contribution table → the version-2/3/4 rows apply as two
    ``IncrementalUpdater`` batches (J6 replay filter, J7 dirty
    propagation to parent ways AND relations, R3 affected-only rebuild)
    with each batch's output delete-inserted into the contribution table
    by (osm_type, osm_id) → J4/J5 enrichment → the full 29-column
    contrib.avsc projection. The oracle is the BULK derivation (the exact
    SQL of ``contrib_full_row_from_pbf``), so a hash match proves
    bulk(0..N) == bulk(0) + incremental(1..N) field-for-field — a missed
    dirty parent, broken counter continuation, or stale merge leaves the
    un-rebuilt base rows in place and fails the hash.

    Scale shape: each batch costs |diff| + |affected id histories| (J6/J7
    are keyed reads decided on the driver, and the rebuilds filter every
    history to the affected ids); the merge drops the affected ids by one
    ``IN`` filter per type + union. The waves run one after another
    through ``IncrementalUpdater.apply_batch``, the one entry point the
    ``replications`` manager runs too; between them each history gains
    its wave's J6 delta by one union."""
    from ..session import truncate_lineage, truncate_lineage_many
    from ..sources.pbf import read_pbf
    from ..streaming.replication import IncrementalUpdater, ids_in, with_delta

    path = _pbf_fullrow_fixture(spark, sf_dir)
    # the decoded entity table and the bulk(0) seed are one-time
    # production artifacts — exactly the pre-existing bulk state
    # ContributionUpdater starts from — so they stage per session like
    # every other produce-then-query table; what this query MEASURES is
    # the incremental path: the .osc wire round-trip (S10), J6 filtering,
    # J7 propagation, R3 rebuilds and the R4 merge
    ents = _produce_then_query(
        spark, sf_dir, "fullrow_ents", lambda: read_pbf(spark, path)
    )
    seed = F.col("version") == 1
    histories = [h.filter(seed) for h in split_entities(ents)]
    contribs = _produce_then_query(
        spark, sf_dir, "fullrow_base", lambda: _fullrow_build(*histories)
    )
    # two replication waves, round-tripped through REAL osmChange wire
    # bytes (encode_osc -> parse_osc_bytes, the S10 seam) exactly like
    # minutely diffs arrive: the node-move wave (v2), then the tag-edit +
    # delete wave (v3+v4 in ONE batch — multiple versions of the same
    # entity inside a single .osc batch is a real minutely-diff shape and
    # exercises J6's multi-version keep). Every batch dirties essentially
    # the whole fixture (each way references a moved node), so per-batch
    # cost here is ~one bulk rebuild — the worst case, priced deliberately.
    # The driver-side encode is fixture construction (same documented
    # pattern as _pbf_fullrow_fixture) — the pipeline under test starts at
    # the parsed batch.
    for wave in (ents.filter(F.col("version") == 2), ents.filter(F.col("version") >= 3)):
        batch = IncrementalUpdater(spark, *histories).apply_batch(_osc_roundtrip_batch(wave))
        histories = [with_delta(spark, h, d) for h, d in zip(histories, batch.delta)]
        # R4 delete-insert merge: replace every affected id's rows with the
        # rebuilt ones (the affected ids are batch-sized driver sets -> one
        # IN filter per type)
        dropped = F.lit(False)
        for kind, ids in zip(("node", "way", "relation"), batch.affected):
            dropped = dropped | ((F.col("osm_type") == kind) & ids_in("osm_id", ids))
        contribs = contribs.filter(~dropped)
        # seam the rebuilt frames, materialized concurrently: the final
        # seam below then plans over their leaves instead of re-walking
        # every rebuild pipeline in one sequential Catalyst run (the
        # rebuilt frames are batch-sized, so the extra materialization is
        # bounded at any scale)
        for frame in truncate_lineage_many([f for f in batch.contributions if f is not None]):
            contribs = contribs.unionByName(frame)
    # stage the merged table once, after the LAST wave (intermediate
    # waves' rebuild pipelines execute exactly once either way — at the
    # final materialization); the staged result keeps the enrichment +
    # driver's double consumption from re-running the whole loop
    contribs = truncate_lineage(contribs)
    return _fullrow_project(_fullrow_enrich(spark, sf_dir, contribs))
