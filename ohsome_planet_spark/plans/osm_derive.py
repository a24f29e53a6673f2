"""Deterministic OSM histories derived from the ``events`` table, and the
contribution-synthesis oracle SQL that mirrors them. Every OSM row
(contributions, ohsome API, streaming replication) builds on these."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._registry import _t


# ===========================================================================
# OSM contribution pipeline on derived histories (flagship)
# ===========================================================================

def _contrib_oracle_sql(ent_cte: str) -> str:
    """The node-contribution window-SQL oracle, parameterized over the
    entity-derivation CTE (``contrib_nodes`` derives float coords and raw
    event timestamps; ``contrib_from_pbf`` derives PBF-representable
    second-resolution timestamps and 1e-7-exact coordinates)."""
    return _CONTRIB_ORACLE_BODY.replace("__ENT_CTE__", ent_cte)


_CONTRIB_ORACLE_BODY = """
__ENT_CTE__, raw AS (
  SELECT *,
         lag(ts)       OVER w AS prev_ts,
         lag(tagv)     OVER w AS prev_tagv,
         lag(visible)  OVER w AS prev_visible,
         lead(version)   OVER w AS next_version,
         lead(changeset) OVER w AS next_changeset
  FROM ent WINDOW w AS (PARTITION BY osm_id ORDER BY ts, version, changeset)
), squashed AS (
  SELECT * FROM raw
  WHERE next_version IS NULL
     OR NOT (next_version = version AND next_changeset = changeset)
), emitted AS (
  SELECT *,
         lead(ts) OVER w AS next_ts,
         last_value(CASE WHEN visible THEN struct_pack(lon := lon, lat := lat) END IGNORE NULLS)
           OVER (PARTITION BY osm_id ORDER BY ts, version, changeset
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)     AS eff,
         CAST(row_number() OVER (PARTITION BY osm_id, version ORDER BY ts, changeset) - 1 AS INT) AS osm_minor_version,
         CAST(row_number() OVER w AS INT) AS osm_edits
  FROM squashed WINDOW w AS (PARTITION BY osm_id ORDER BY ts, version, changeset)
), final AS (
  SELECT *, lag(eff) OVER (PARTITION BY osm_id ORDER BY ts, version, changeset) AS prev_eff
  FROM emitted
)
SELECT
  CASE WHEN NOT visible THEN 'deleted'
       WHEN eff IS NULL THEN 'invalid'
       WHEN next_ts IS NOT NULL THEN 'history'
       ELSE 'latest' END                                  AS status,
  ts                                                      AS valid_from,
  coalesce(next_ts, TIMESTAMP '2222-01-01')               AS valid_to,
  osm_id, version AS osm_version, osm_minor_version, osm_edits,
  prev_ts                                                 AS osm_last_edit,
  CASE WHEN NOT visible THEN 'DELETION'
       WHEN NOT coalesce(prev_visible, FALSE) THEN 'CREATION'
       ELSE nullif(concat_ws('_',
              CASE WHEN tagv IS DISTINCT FROM prev_tagv THEN 'TAG' END,
              CASE WHEN (eff).lon IS DISTINCT FROM (prev_eff).lon
                     OR (eff).lat IS DISTINCT FROM (prev_eff).lat THEN 'GEOMETRY' END), '')
  END                                                     AS contrib_type,
  round((eff).lon, 6)                                     AS cx,
  round((eff).lat, 6)                                     AS cy
FROM final
ORDER BY osm_id, osm_edits
"""

_CONTRIB_ORACLE = _contrib_oracle_sql("""
WITH base AS (
  SELECT user_id AS osm_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         event_type, value
  FROM events
), ent AS (
  SELECT osm_id, ts,
         CAST(((seq - 1) // 2) + 1 AS INT)            AS version,
         CAST((((seq - 1) // 2) + 1) % 7 AS BIGINT)   AS changeset,
         event_type <> 'error'                        AS visible,
         event_type                                   AS tagv,
         (value % 360.0) - 180.0                      AS lon,
         ((value * 7.0) % 180.0) - 90.0               AS lat
  FROM base
)""")

# The derivation CTEs of _CONTRIB_ORACLE without its final SELECT: the
# prefix of every oracle over the derived node contributions.
_NODE_HISTORY_CTES = _CONTRIB_ORACLE[
    : _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
]


def _derived_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic node-history derivation from the events table: two
    events per version (so same-changeset squash triggers), 'error' events
    are deletions."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = F.row_number().over(w)
    version = (F.floor((seq - 1) / 2) + 1).cast("int")
    return ev.select(
        F.col("user_id").alias("osm_id"),
        version.alias("version"),
        "ts",
        (version % 7).cast("bigint").alias("changeset"),
        F.lit(0).alias("user_id"),
        F.lit("u").alias("user_name"),
        (F.col("event_type") != "error").alias("visible"),
        F.create_map(F.lit("t"), F.col("event_type")).alias("tags"),
        ((F.col("value") % 360.0) - 180.0).alias("lon"),
        (((F.col("value") * 7.0) % 180.0) - 90.0).alias("lat"),
    )


# ===========================================================================
# way contribution pipeline: temporal member merge J3 (flagship #2)
# ===========================================================================

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

_WAY_INSTANT_CTES = f"""
WITH params AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM events
), nodes AS (
  SELECT user_id AS nid,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS n_version,
         ts AS nts,
         CAST(event_id % 13 AS BIGINT) AS ncs,
         (value % 360.0) - 180.0        AS lon,
         ((value * 7.0) % 180.0) - 90.0 AS lat
  FROM events
), ways AS (
  SELECT CAST(n_nationkey AS BIGINT) AS wid, CAST(v AS INT) AS wv,
         make_timestamp(({_EPOCH_2024} + v * 7 * 86400) * 1000000) AS wts,
         CAST(1000 + n_nationkey * 10 + v AS BIGINT) AS wcs,
         [CAST(n_nationkey % u AS BIGINT),
          CAST((n_nationkey + 7) % u AS BIGINT),
          CAST((n_nationkey + 13) % u AS BIGINT)] AS refs
  FROM nation, params, (SELECT unnest(range(1, 4)) AS v)
), majors AS (
  SELECT *, lead(wts) OVER (PARTITION BY wid ORDER BY wts, wv) AS wts_end FROM ways
), slots AS (
  SELECT wid, wv, unnest(refs) AS nid, generate_subscripts(refs, 1) AS pos FROM majors
), member_streams AS (
  SELECT DISTINCT m.wid, m.wv, m.wts, m.wts_end, m.wcs, s.nid
  FROM majors m JOIN slots s ON m.wid = s.wid AND m.wv = s.wv
), ev AS (
  -- node changesets < 13, way changesets >= 1000: the init changeset-fold
  -- can never trigger, so init-consumed == (nts <= wts)
  SELECT ms.*, n.n_version, n.nts, n.ncs, n.lon, n.lat,
         n.nts <= ms.wts AS is_init,
         n.nts > ms.wts AND (ms.wts_end IS NULL OR n.nts < ms.wts_end) AS is_minor
  FROM member_streams ms JOIN nodes n USING (nid)
), minor_ev AS (
  SELECT *, sum(new_run) OVER (PARTITION BY wid, wv ORDER BY nts, ncs, nid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx
  FROM (
    SELECT *, CASE WHEN ncs IS DISTINCT FROM
                 lag(ncs) OVER (PARTITION BY wid, wv ORDER BY nts, ncs, nid)
               THEN 1 ELSE 0 END AS new_run
    FROM ev WHERE is_minor
  )
), runs AS (
  SELECT wid, wv, run_idx, max(nts) AS inst_ts, min(ncs) AS inst_cs
  FROM minor_ev GROUP BY 1, 2, 3
), instants AS (
  SELECT wid, wv, CAST(0 AS BIGINT) AS run_idx, wts AS inst_ts, wcs AS inst_cs FROM majors
  UNION ALL
  SELECT wid, wv, run_idx, inst_ts, inst_cs FROM runs
), states AS (
  SELECT wid, wv, nid, CAST(0 AS BIGINT) AS k, 0 AS probe, n_version AS ord_v,
         struct_pack(vlon := lon, vlat := lat) AS st, CAST(NULL AS BIGINT) AS pos,
         CAST(NULL AS TIMESTAMP) AS inst_ts, CAST(NULL AS BIGINT) AS inst_cs
  FROM ev WHERE is_init
  UNION ALL
  SELECT wid, wv, nid, run_idx AS k, 0 AS probe, n_version AS ord_v,
         struct_pack(vlon := lon, vlat := lat) AS st, CAST(NULL AS BIGINT) AS pos,
         CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT)
  FROM minor_ev
), probes AS (
  SELECT i.wid, i.wv, s.nid, i.run_idx AS k, 1 AS probe, 2147483647 AS ord_v,
         CAST(NULL AS STRUCT(vlon DOUBLE, vlat DOUBLE)) AS st, s.pos,
         i.inst_ts, i.inst_cs
  FROM instants i JOIN slots s ON i.wid = s.wid AND i.wv = s.wv
), resolved AS (
  SELECT *, last_value(st IGNORE NULLS) OVER (
           PARTITION BY wid, wv, nid ORDER BY k, probe, ord_v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_st
  FROM (SELECT * FROM states UNION ALL SELECT * FROM probes)
), inst_members AS (
  SELECT wid, wv, k, inst_ts, inst_cs,
         list_transform(
           list_sort(array_agg(struct_pack(pos := pos, st := asof_st))),
           e -> e.st) AS sts
  FROM resolved WHERE probe = 1
  GROUP BY wid, wv, k, inst_ts, inst_cs
), geoms AS (
  SELECT wid, wv, k, inst_ts, inst_cs,
         list_transform(list_filter(sts, s -> s IS NOT NULL), s -> s.vlon) AS xs,
         list_transform(list_filter(sts, s -> s IS NOT NULL), s -> s.vlat) AS ys
  FROM inst_members
)"""


def _derived_way_inputs(spark: SparkSession, sf_dir: str):
    """Deterministic way/node histories: nodes from the events stream, one
    3-version way per nation referencing 3 user-nodes. Node changesets
    (< 13) are disjoint from way changesets (>= 1000), so the oracle can
    skip the init changeset-fold branch (it provably never fires)."""
    ev = _t(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    nodes = ev.select(
        F.col("user_id").alias("osm_id"),
        F.row_number().over(wseq).cast("int").alias("version"),
        "ts",
        (F.col("event_id") % 13).cast("bigint").alias("changeset"),
        F.lit(0).alias("user_id"),
        F.lit("u").alias("user_name"),
        F.lit(True).alias("visible"),
        F.expr("cast(map() as map<string,string>)").alias("tags"),
        ((F.col("value") % 360.0) - 180.0).alias("lon"),
        (((F.col("value") * 7.0) % 180.0) - 90.0).alias("lat"),
    )
    # the user count enters as a broadcast 1-row scalar instead of an eager
    # .first() — no blocking driver job, and the events scan it needs runs
    # inside the query's own DAG
    ucnt = ev.select(F.countDistinct("user_id").alias("_u"))
    nat = _t(spark, sf_dir, "nation")
    ways = (
        nat.select(F.col("n_nationkey").cast("bigint").alias("wid"))
        .crossJoin(F.broadcast(ucnt))
        .crossJoin(spark.range(1, 4).select(F.col("id").alias("v")))
        .select(
            F.col("wid").alias("osm_id"),
            F.col("v").cast("int").alias("version"),
            F.timestamp_seconds(F.lit(_EPOCH_2024) + F.col("v") * 7 * 86400).alias("ts"),
            (F.lit(1000) + F.col("wid") * 10 + F.col("v")).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.create_map(F.lit("name"), F.concat(F.lit("w"), F.col("wid"))).alias("tags"),
            F.array(
                (F.col("wid") % F.col("_u")).cast("bigint"),
                ((F.col("wid") + 7) % F.col("_u")).cast("bigint"),
                ((F.col("wid") + 13) % F.col("_u")).cast("bigint"),
            ).alias("refs"),
        )
    )
    return ways, nodes


# --- /elements/area + groupBy variants + /users/count ----------------------

_EPOCH_2020 = 1577836800  # 2020-01-01T00:00:00Z


def _derived_polygon_ways(spark: SparkSession, sf_dir: str):
    """Closed-way (building) histories: one 3-version way per nation whose
    5-slot ring [a,b,c,d,a] references single-version corner nodes on an
    exact grid (integer degrees + 0.5/0.25 offsets — lossless doubles).
    Odd versions use corner 3, even versions corner 4, so every version
    is a GEOMETRY contribution and the ring is always simple & convex."""
    nat = _t(spark, sf_dir, "nation")
    wid = F.col("n_nationkey").cast("bigint")
    base = nat.select(wid.alias("wid"))
    x0 = (F.col("wid") * 7 % 340 - 170).cast("double")
    y0 = (F.col("wid") * 11 % 160 - 80).cast("double")
    dx = F.array(*[F.lit(v) for v in (0.0, 0.5, 0.5, 0.0, 0.0)])
    dy = F.array(*[F.lit(v) for v in (0.0, 0.0, 0.25, 0.25, 0.5)])
    k = F.col("k").cast("int")
    nodes = (
        base.crossJoin(
            F.broadcast(spark.range(5).select(F.col("id").alias("k")))
        )
        .select(
            (F.lit(10_000_000) + F.col("wid") * 8 + F.col("k")).alias("osm_id"),
            F.lit(1).cast("int").alias("version"),
            F.timestamp_seconds(F.lit(_EPOCH_2020)).alias("ts"),
            F.lit(1).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.expr("cast(map() as map<string,string>)").alias("tags"),
            (x0 + F.element_at(dx, k + 1)).alias("lon"),
            (y0 + F.element_at(dy, k + 1)).alias("lat"),
        )
    )
    nid = F.lit(10_000_000) + F.col("wid") * 8
    v = F.col("v")
    ways = (
        base.crossJoin(spark.range(1, 4).select(F.col("id").alias("v")))
        .select(
            F.col("wid").alias("osm_id"),
            v.cast("int").alias("version"),
            # wid in MINUTES keeps every (wid, v) instant globally unique
            # (day-offset schemes collide across versions of different
            # ways, which would make relation minor-run windows ambiguous)
            F.timestamp_seconds(
                F.lit(_EPOCH_2024)
                + F.col("wid") * 60
                + v * 7 * 86400
            ).alias("ts"),
            (F.lit(1000) + F.col("wid") * 10 + v).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.create_map(F.lit("building"), F.lit("yes")).alias("tags"),
            F.array(
                nid, nid + 1, nid + 2,
                nid + F.when(v % 2 == 1, F.lit(3)).otherwise(F.lit(4)),
                nid,
            ).alias("refs"),
        )
    )
    return ways, nodes


def _region_relations(
    spark: SparkSession, sf_dir: str, role: str, ts: Column, tags: Column
) -> DataFrame:
    """One version-1 relation per region at ``ts`` with ``tags``: its
    members are the region's nations' ways, each with ``role``; relation
    changesets start at 5000, disjoint from the member ranges."""
    nat = _t(spark, sf_dir, "nation")
    member_struct = F.transform(
        F.col("member_ids"),
        lambda i: F.struct(
            F.lit("way").alias("type"), i.alias("id"), F.lit(role).alias("role")
        ),
    )
    return (
        nat.groupBy(F.col("n_regionkey").cast("bigint").alias("osm_id"))
        .agg(F.sort_array(F.collect_list(F.col("n_nationkey").cast("bigint"))).alias("member_ids"))
        .select(
            "osm_id",
            F.lit(1).cast("int").alias("version"),
            ts.alias("ts"),
            (F.lit(5000) + F.col("osm_id")).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            tags.alias("tags"),
            member_struct.alias("members"),
        )
    )


def _derived_polygon_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One type=multipolygon relation per region: members are the region's
    nations' closed ways (role outer), single relation version created
    AFTER every member way's v1 (epoch+10d) — so creation resolves all
    members and every later way version produces a relation minor."""
    return _region_relations(
        spark, sf_dir, "outer",
        F.timestamp_seconds(F.lit(_EPOCH_2024) + 10 * 86400),
        F.create_map(
            F.lit("type"), F.lit("multipolygon"),
            F.lit("landuse"), F.lit("forest"),
        ),
    )


def _derived_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One route-relation per region, its member ways the nations of that
    region (relation changesets >= 5000, disjoint from member ranges)."""
    return _region_relations(
        spark, sf_dir, "",
        F.timestamp_seconds(F.lit(_EPOCH_2024 + 8 * 86400 + 3600)),
        F.expr("map('type','route')"),
    )


# ===========================================================================
# contrib_full_row_from_pbf — the 29-column Contrib-row parity gate
# (VERDICT r8 item 1): PBF wire bytes → decode → J1/J2/J3 merge → geometry →
# synthesis → J4 changesets → J5 countries → EVERY contrib.avsc column
# (contrib.avsc:1-387) hashed, WKB geometry as hex, maps/arrays/structs via
# canonical scalar encodings (the driver hash compares scalar cells).
# ===========================================================================

_FULLROW_MOVE = _EPOCH_2024 + 17 * 86400  # corner-2 node move instant base
_FULLROW_REL_TS = _EPOCH_2024 + 10 * 86400  # relation v1 creation


def _derived_fullrow_corpus(spark: SparkSession, sf_dir: str):
    """Full-variance history corpus derived from nation (25 ways, 5
    multipolygon relations, 150 node versions) with every contrib.avsc
    field exercised: per-version users/changesets, a node move (way+relation
    minor versions), a tag-only edit (TAG contrib), deletions (status
    'deleted' with inherited geometry), empty refs/tags on deleted versions.
    All values PBF-representable exactly: whole-second timestamps,
    coordinates on the {int, int+0.25, int+0.5, int+1.0} grid."""
    nat = _t(spark, sf_dir, "nation")
    base = nat.select(
        F.col("n_nationkey").cast("bigint").alias("w"),
        F.col("n_regionkey").cast("bigint").alias("r"),
    )
    wb = base.select(
        "w",
        "r",
        (F.col("w") * 7 % 340 - 170).cast("double").alias("x0"),
        (F.col("w") * 11 % 160 - 80).cast("double").alias("y0"),
    )
    nid = F.lit(10_000_000) + F.col("w") * 8

    # --- nodes: 5 ring corners per way; corner 2 moves at +17d ------------
    k = F.col("k")
    dx = F.array(F.lit(0.0), F.lit(0.5), F.lit(0.5), F.lit(0.0), F.lit(0.0))
    dy = F.array(F.lit(0.0), F.lit(0.0), F.lit(0.25), F.lit(0.25), F.lit(0.5))
    corners = wb.crossJoin(
        F.broadcast(spark.range(5).select(F.col("id").cast("int").alias("k")))
    )
    uid1 = (F.lit(10) + k).cast("bigint")
    nodes_v1 = corners.select(
        (nid + k).alias("osm_id"),
        F.lit(1).cast("int").alias("version"),
        F.timestamp_seconds(F.lit(_EPOCH_2020)).alias("ts"),
        F.lit(900).cast("bigint").alias("changeset"),
        uid1.alias("user_id"),
        F.concat(F.lit("u"), uid1.cast("string")).alias("user_name"),
        F.lit(True).alias("visible"),
        F.expr("cast(map() as map<string,string>)").alias("tags"),
        (F.col("x0") + F.element_at(dx, k + 1)).alias("lon"),
        (F.col("y0") + F.element_at(dy, k + 1)).alias("lat"),
    )
    uid2 = (F.lit(200) + F.col("w") % 5).cast("bigint")
    movers_v2 = wb.select(
        (nid + 2).alias("osm_id"),
        F.lit(2).cast("int").alias("version"),
        F.timestamp_seconds(F.lit(_FULLROW_MOVE) + F.col("w") * 60).alias("ts"),
        (F.lit(7000) + F.col("w")).cast("bigint").alias("changeset"),
        uid2.alias("user_id"),
        F.concat(F.lit("u"), uid2.cast("string")).alias("user_name"),
        F.lit(True).alias("visible"),
        F.expr("cast(map() as map<string,string>)").alias("tags"),
        (F.col("x0") + 1.0).alias("lon"),
        (F.col("y0") + 0.25).alias("lat"),
    )
    nodes = nodes_v1.unionByName(movers_v2)

    # --- ways: v1 create, v2 geometry, v3 tag-only, v4 delete (w%5==0) ----
    vs = spark.range(1, 5).select(F.col("id").cast("int").alias("v"))
    wv = wb.crossJoin(F.broadcast(vs)).filter(
        (F.col("v") <= 3) | (F.col("w") % 5 == 0)
    )
    v = F.col("v")
    uidw = (F.lit(100) + (F.col("w") + v) % 7).cast("bigint")
    ways = wv.select(
        F.col("w").alias("osm_id"),
        v.alias("version"),
        F.timestamp_seconds(
            F.lit(_EPOCH_2024) + F.col("w") * 60 + v * 7 * 86400
        ).alias("ts"),
        (F.lit(1000) + F.col("w") * 10 + v).cast("bigint").alias("changeset"),
        uidw.alias("user_id"),
        F.concat(F.lit("u"), uidw.cast("string")).alias("user_name"),
        (v < 4).alias("visible"),
        F.when(
            v == 3,
            F.create_map(
                F.lit("building"), F.lit("yes"),
                F.lit("name"), F.concat(F.lit("w"), F.col("w").cast("string")),
            ),
        )
        .when(v == 4, F.expr("cast(map() as map<string,string>)"))
        .otherwise(F.create_map(F.lit("building"), F.lit("yes")))
        .alias("tags"),
        F.when(v == 1, F.array(nid, nid + 1, nid + 2, nid + 3, nid))
        .when(v == 4, F.array().cast("array<bigint>"))
        .otherwise(F.array(nid, nid + 1, nid + 2, nid + 4, nid))
        .alias("refs"),
    )

    # --- relations: one multipolygon per region over its nations' ways ----
    ruid = (F.lit(50) + F.col("osm_id")).cast("bigint")
    rels = (
        base.groupBy(F.col("r").alias("osm_id"))
        .agg(F.sort_array(F.collect_list("w")).alias("member_ids"))
        .select(
            "osm_id",
            F.lit(1).cast("int").alias("version"),
            F.timestamp_seconds(F.lit(_FULLROW_REL_TS)).alias("ts"),
            (F.lit(5000) + F.col("osm_id")).cast("bigint").alias("changeset"),
            ruid.alias("user_id"),
            F.concat(F.lit("u"), ruid.cast("string")).alias("user_name"),
            F.lit(True).alias("visible"),
            F.create_map(
                F.lit("type"), F.lit("multipolygon"),
                F.lit("landuse"), F.lit("forest"),
            ).alias("tags"),
            F.transform(
                "member_ids",
                lambda i: F.struct(
                    F.lit("way").alias("type"), i.alias("id"),
                    F.lit("outer").alias("role"),
                ),
            ).alias("members"),
        )
    )
    return nodes, ways, rels
