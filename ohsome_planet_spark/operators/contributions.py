"""Contribution synthesis — the window-function core of the engine.

Re-expresses the reference's sequential converter
(``ohsome-contributions/.../contrib/ContributionsAvroConverter.java:61-198``)
as declarative Spark windows (SURVEY.md A1–A6, F3–F5, §2.5):

- ``valid_to``        = lead(valid_from) else sentinel 2222-01-01 (A4)
- ``status``          = deleted / invalid / history / latest (A5, F3)
- ``osm_minor_version`` resets per major version (A1)
- ``osm_edits``       = running contribution counter (A1)
- ``tags_before`` / ``osm_last_edit`` = raw-predecessor lags (A3)
- ``area_delta`` / ``length_delta``   = value − previous emitted value (A2)
- ``contrib_type``    = CREATION/DELETION/TAG/GEOMETRY/TAG_GEOMETRY (A6)
- same-changeset squash (F4): consecutive rows with equal
  (osm_version, changeset) collapse to the last row of the run.

Semantic subtleties faithfully reproduced from the reference:

1. ``tags_before``, ``osm_last_edit`` and the CREATION test use the **raw**
   predecessor (including squashed-away rows — the converter advances
   ``contributionBefore`` inside its skip loop, lines 71-78).
2. ``geometryBefore``, ``areaBefore``/``lengthBefore`` compare against the
   previous **emitted** row (lines 159-164, 196).
3. Deleted versions inherit the previous emitted geometry (line 110) and all
   derived columns (bbox/centroid/xz/area/length) from it.
4. A visible row whose geometry is empty gets status 'invalid' (line 154-156)
   with xz level = -1 / code 0 and area = length = 0.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.xz import xz_code_expr, xz_level_expr
from ..schemas import VALID_TO_SENTINEL

EPOCH = dt.datetime(1970, 1, 1)

# empty MAP<STRING,STRING> literal (PySpark has no zero-arg create_map)
def _empty_tags():
    return F.expr("cast(map() as map<string,string>)")

# ---------------------------------------------------------------------------
# vectorized point-WKB encoder (big-endian, JTS WKBWriter-compatible)
# ---------------------------------------------------------------------------


@F.pandas_udf(T.BinaryType())
def point_wkb(lon: pd.Series, lat: pd.Series) -> pd.Series:
    n = len(lon)
    if n == 0:
        return pd.Series([], dtype=object)
    out = np.empty((n, 21), dtype=np.uint8)
    out[:, 0] = 0  # big-endian flag
    out[:, 1:5] = np.array([0, 0, 0, 1], dtype=np.uint8)  # type code 1 = Point
    lon_v = lon.to_numpy(dtype=np.float64, na_value=np.nan)
    lat_v = lat.to_numpy(dtype=np.float64, na_value=np.nan)
    out[:, 5:13] = lon_v.astype(">f8").view(np.uint8).reshape(n, 8)
    out[:, 13:21] = lat_v.astype(">f8").view(np.uint8).reshape(n, 8)
    buf = out.tobytes()
    isnan = np.isnan(lon_v) | np.isnan(lat_v)
    return pd.Series(
        [None if isnan[i] else buf[i * 21 : (i + 1) * 21] for i in range(n)], dtype=object
    )


# ---------------------------------------------------------------------------
# event-stream builders
# ---------------------------------------------------------------------------


def node_contribution_events(nodes: DataFrame) -> DataFrame:
    """Node history → contribution event stream with own-geometry bundle.

    Validity rule per ``ContributionGeometry.invalid`` (lines 187-189):
    coordinates outside [-180,180]×[-90,90] → empty geometry.
    """
    valid = (
        F.col("lon").isNotNull()
        & F.col("lat").isNotNull()
        & (F.col("lon") >= -180.0)
        & (F.col("lon") <= 180.0)
        & (F.col("lat") >= -90.0)
        & (F.col("lat") <= 90.0)
    )
    has_geom = F.col("visible") & valid
    return (
        nodes.withColumnRenamed("version", "osm_version")
        .withColumn("osm_type", F.lit("node"))
        .withColumn("geom_valid", has_geom)
        .withColumn("geom_wkb", F.when(has_geom, point_wkb("lon", "lat")))
        .withColumn("geom_type", F.when(has_geom, F.lit("Point")))
        .withColumn(
            "geom_bbox",
            F.when(
                has_geom,
                F.struct(
                    F.col("lon").alias("xmin"),
                    F.col("lat").alias("ymin"),
                    F.col("lon").alias("xmax"),
                    F.col("lat").alias("ymax"),
                ),
            ),
        )
        .withColumn(
            "geom_centroid",
            F.when(has_geom, F.struct(F.col("lon").alias("x"), F.col("lat").alias("y"))),
        )
        .withColumn("geom_area", F.when(has_geom, F.lit(0.0)))
        .withColumn("geom_length", F.when(has_geom, F.lit(0.0)))
        .withColumn("geom_key", F.col("geom_wkb"))
        .withColumn("refs", F.lit(None).cast("array<bigint>"))
        .withColumn("refs_count", F.lit(None).cast("int"))
        .withColumn(
            "members",
            F.lit(None).cast(
                "array<struct<type:string,id:bigint,timestamp:timestamp,"
                "role:string,geometry_type:string,geometry:binary>>"
            ),
        )
        .withColumn("members_count", F.lit(None).cast("int"))
        .drop("lon", "lat")
    )


def bundled_way_instants(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Way contribution instants + the way-geometry bundle, computed ONCE —
    the shareable intermediate both the way pipeline and the relation
    pipeline's member streams consume (the relational analog of the
    reference's per-contribution geometry memoization,
    ``Contribution.java:26-28``). Callers composing both pipelines should
    stage this (``truncate_lineage``) and pass it to
    :func:`way_contribution_events` / :func:`relation_contribution_events`
    so the way merge runs once, not twice. Three callers do: the bulk
    ``contributions`` CLI (``cli.cmd_contributions``), the registry's
    full-row build (``plans.osm_contrib._fullrow_build``) and the
    replication rebuild of a batch that affects relations
    (``IncrementalUpdater.apply_batch``)."""
    from ..functions.geometry import way_geom_bundle
    from .temporal_merge import way_contribution_instants

    inst = way_contribution_instants(ways, nodes)
    return inst.withColumn(
        "_bundle", way_geom_bundle(F.col("tags"), F.col("refs"), F.col("member_states"))
    )


def way_contribution_events(
    ways: DataFrame, nodes: DataFrame, bundled: DataFrame | None = None
) -> DataFrame:
    """Way history + node history → contribution event stream with geometry
    bundles (SURVEY.md Phase 2): temporal member merge (J3) for minor
    versions, then the way-geometry rules in one Arrow-batched UDF.
    ``bundled`` short-circuits with a precomputed
    :func:`bundled_way_instants` table."""
    bundled = bundled if bundled is not None else bundled_way_instants(ways, nodes)
    return bundled.select(
        "osm_id",
        F.lit("way").alias("osm_type"),
        "osm_version",
        "ts",
        "changeset",
        "user_id",
        "user_name",
        "visible",
        "tags",
        F.coalesce(F.col("_bundle.geom_valid"), F.lit(False)).alias("geom_valid"),
        F.col("_bundle.geom_wkb").alias("geom_wkb"),
        F.col("_bundle.geom_type").alias("geom_type"),
        F.col("_bundle.geom_bbox").alias("geom_bbox"),
        F.col("_bundle.geom_centroid").alias("geom_centroid"),
        F.col("_bundle.geom_area").alias("geom_area"),
        F.col("_bundle.geom_length").alias("geom_length"),
        F.col("_bundle.geom_key").alias("geom_key"),
        "refs",
        F.when(F.col("refs").isNotNull(), F.size("refs")).alias("refs_count"),
        F.lit(None)
        .cast(
            "array<struct<type:string,id:bigint,timestamp:timestamp,"
            "role:string,geometry_type:string,geometry:binary>>"
        )
        .alias("members"),
        F.lit(None).cast("int").alias("members_count"),
    )


def relation_contribution_events(
    relations: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    member_limit: int = 500,
    bundled_ways: DataFrame | None = None,
) -> DataFrame:
    """Relation history + way/node histories → contribution event stream
    (SURVEY.md Phase 3 / J2+J3).

    Member way streams are the ways' own CONTRIBUTION streams (with minor
    versions) — a node move inside a member way propagates into a relation
    minor version, exactly like the reference's nested Contributions
    composition (``Contributions2Parquet.java:379-405``). Nested relation
    members are carried in the member list but contribute no events
    (ignored, ``:389-391``).

    Scale note: only ways/nodes actually referenced are processed (semi-join
    pruning), and member geometries are built ONCE in the way stage and
    reused by reference — the relational analog of the reference's
    per-contribution geometry memoization (``Contribution.java:26-28``).
    """
    from ..functions.geometry import relation_geom_bundle, way_geom_bundle
    from .temporal_merge import (
        merge_member_streams,
        minor_relevant_node_versions,
        way_contribution_instants,
    )

    majors = relations.select(
        F.col("osm_id").alias("pid"),
        F.col("version").alias("pv"),
        F.col("ts").alias("pts"),
        F.col("changeset").alias("pcs"),
        F.col("user_id").alias("puid"),
        F.col("user_name").alias("puname"),
        F.col("visible").alias("rvis"),
        F.col("tags").alias("rtags"),
        F.col("members").alias("rmembers"),
    )
    slots = majors.select(
        "pid", "pv", F.posexplode("rmembers").alias("pos", "m")
    ).select(
        "pid",
        "pv",
        "pos",
        F.col("m.type").alias("mtype"),
        F.col("m.id").alias("mid"),
        F.col("m.role").alias("role"),
    )

    # prune member entity histories to what relations actually reference
    way_ids = slots.filter(F.col("mtype") == "way").select(
        F.col("mid").alias("osm_id")
    ).distinct()
    used_ways = ways.join(F.broadcast(way_ids), "osm_id", "left_semi")
    node_ids_direct = slots.filter(F.col("mtype") == "node").select(
        F.col("mid").alias("osm_id")
    )
    node_ids_via_ways = used_ways.select(F.explode("refs").alias("osm_id"))
    used_nodes = nodes.join(
        node_ids_direct.unionByName(node_ids_via_ways).distinct(), "osm_id", "left_semi"
    )

    # member way streams = way contribution instants + geometry. A caller
    # composing the way pipeline too passes its staged bundled_way_instants
    # so the way merge runs ONCE; unreferenced ways drop out at the
    # member-stream equi-join below.
    if bundled_ways is not None:
        way_bundled = bundled_ways.withColumnRenamed("_bundle", "_b")
    else:
        way_inst = way_contribution_instants(used_ways, used_nodes)
        way_bundled = way_inst.withColumn(
            "_b", way_geom_bundle(F.col("tags"), F.col("refs"), F.col("member_states"))
        )
    wseq = W.partitionBy("osm_id").orderBy("ts", "osm_version", "changeset")
    way_events = way_bundled.select(
        F.lit("way").alias("mtype"),
        F.col("osm_id").alias("mid"),
        F.row_number().over(wseq).alias("seq"),
        "ts",
        F.col("changeset").alias("cs"),
        F.col("user_id").alias("uid"),
        F.col("user_name").alias("uname"),
        F.struct(
            F.col("osm_version").cast("int").alias("version"),
            F.col("ts"),
            F.col("changeset"),
            F.col("visible"),
            F.col("_b.geom_wkb").alias("geom_wkb"),
            F.col("_b.geom_type").alias("geom_type"),
        ).alias("state"),
    )
    node_events = minor_relevant_node_versions(used_nodes).select(
        F.lit("node").alias("mtype"),
        F.col("osm_id").alias("mid"),
        F.col("version").alias("seq"),
        "ts",
        F.col("changeset").alias("cs"),
        F.col("user_id").alias("uid"),
        F.col("user_name").alias("uname"),
        F.struct(
            F.col("version"),
            F.col("ts"),
            F.col("changeset"),
            F.col("visible"),
            F.when(
                F.col("visible")
                & F.col("lon").between(-180.0, 180.0)
                & F.col("lat").between(-90.0, 90.0),
                point_wkb("lon", "lat"),
            ).alias("geom_wkb"),
            F.when(
                F.col("visible")
                & F.col("lon").between(-180.0, 180.0)
                & F.col("lat").between(-90.0, 90.0),
                F.lit("Point"),
            ).alias("geom_type"),
        ).alias("state"),
    )

    # Truncate lineage at the member-event stream: everything above this
    # point is the complete WAY pipeline (its own merge + geometry UDF),
    # and carrying it as lineage into the relation merge doubles every
    # downstream task binary and AQE re-plan. On a cluster this is the
    # staged-intermediate pattern (write members to a stage table, read
    # back); truncate_lineage is the in-session analog — localCheckpoint
    # single-process, reliable checkpoint() when a checkpoint dir is set
    # (cluster mode). eager=False so the materialization happens inside
    # the consuming job, not as an extra blocking action here.
    from ..session import truncate_lineage

    member_events = truncate_lineage(way_events.unionByName(node_events))

    merged = merge_member_streams(
        majors.select("pid", "pv", "pts", "pcs", "puid", "puname"),
        slots,
        member_events,
    )

    rw = W.partitionBy("pid").orderBy("inst_ts", "pv", "inst_cs")
    bundled = (
        merged.join(majors.select("pid", "pv", "rvis", "rtags", "rmembers"), ["pid", "pv"])
        # "latest" proxy for the over-limit multipolygon exception
        # (ContributionsAvroConverter.java:110-113): last instant + visible
        .withColumn("_is_latest", F.lead("inst_ts").over(rw).isNull() & F.col("rvis"))
        .withColumn(
            "_bundle",
            relation_geom_bundle(member_limit)(
                F.col("rtags"), F.col("members"), F.col("_is_latest")
            ),
        )
    )

    contrib_member = F.transform(
        F.col("members"),
        lambda m: F.struct(
            m["mtype"].alias("type"),
            m["mid"].alias("id"),
            F.coalesce(m["state"]["ts"], F.lit(EPOCH)).alias("timestamp"),
            m["role"].alias("role"),
            m["state"]["geom_type"].alias("geometry_type"),
            m["state"]["geom_wkb"].alias("geometry"),
        ),
    )

    return bundled.select(
        F.col("pid").alias("osm_id"),
        F.lit("relation").alias("osm_type"),
        F.col("pv").alias("osm_version"),
        F.col("inst_ts").alias("ts"),
        F.col("inst_cs").alias("changeset"),
        F.col("inst_uid").alias("user_id"),
        F.col("inst_uname").alias("user_name"),
        F.col("rvis").alias("visible"),
        F.col("rtags").alias("tags"),
        F.coalesce(F.col("_bundle.geom_valid"), F.lit(False)).alias("geom_valid"),
        F.col("_bundle.geom_wkb").alias("geom_wkb"),
        F.col("_bundle.geom_type").alias("geom_type"),
        F.col("_bundle.geom_bbox").alias("geom_bbox"),
        F.col("_bundle.geom_centroid").alias("geom_centroid"),
        F.col("_bundle.geom_area").alias("geom_area"),
        F.col("_bundle.geom_length").alias("geom_length"),
        F.col("_bundle.geom_key").alias("geom_key"),
        F.lit(None).cast("array<bigint>").alias("refs"),
        F.lit(None).cast("int").alias("refs_count"),
        contrib_member.alias("members"),
        F.size("members").cast("int").alias("members_count"),
    )


# ---------------------------------------------------------------------------
# filters (SURVEY.md F1/F2)
# ---------------------------------------------------------------------------


def filter_tagged_histories(entities: DataFrame) -> DataFrame:
    """F1 — drop an id's whole history if every version is untagged
    (``util/Utils.java:21-23``). Window-max avoids a self-join shuffle."""
    w = W.partitionBy("osm_id")
    return (
        entities.withColumn("_any_tags", F.max(F.size(F.coalesce("tags", _empty_tags()))).over(w))
        .filter(F.col("_any_tags") > 0)
        .drop("_any_tags")
    )


def filter_relation_tag_keys(relations: DataFrame, keys: list[str]) -> DataFrame:
    """F2 — keep a relation history only if any version has any listed tag
    key (``util/Utils.java:25-32``)."""
    if not keys:
        return relations
    w = W.partitionBy("osm_id")
    has_key = F.exists(
        F.map_keys(F.coalesce("tags", _empty_tags())), lambda k: k.isin(*keys)
    )
    return (
        relations.withColumn("_any_key", F.max(has_key.cast("int")).over(w))
        .filter(F.col("_any_key") > 0)
        .drop("_any_key")
    )


# ---------------------------------------------------------------------------
# the synthesis windows
# ---------------------------------------------------------------------------

_GEOM_FIELDS = (
    "geom_valid",
    "geom_wkb",
    "geom_type",
    "geom_bbox",
    "geom_centroid",
    "geom_area",
    "geom_length",
    "geom_key",
)


def synthesize_contributions(events: DataFrame) -> DataFrame:
    """Contribution event stream → contribution rows (pre-enrichment).

    ``events`` must carry: osm_id, osm_type, osm_version, ts, changeset,
    user_id, user_name, visible, tags, the ``geom_*`` bundle (null when the
    row's own geometry is empty/invalid), refs/refs_count/members/
    members_count.

    One shuffle: everything partitions by (osm_type, osm_id) and orders by
    (ts, osm_version, changeset) — all window specs share it, so Catalyst
    plans a single exchange + sort.
    """
    parts = _synth_exprs()
    # (1) raw-predecessor lags — BEFORE the squash filter (subtlety #1).
    df = events.withColumns(parts["raw_lags"])
    # (2) same-changeset squash (F4): keep only the LAST row of a
    # (osm_version, changeset) run.
    df = df.filter(parts["squash_keep"]).drop("_next_version", "_next_changeset")
    # (3) emitted-stream windows (all sharing ONE partitioning + sort).
    df = df.withColumns(parts["validity"]).withColumns(parts["derived"])
    return df.select(*parts["select"])


def _synth_exprs() -> dict:
    """The synthesis expression bundle — pure functions of fixed column
    names (Column trees are immutable JVM objects), so one process builds
    the few-hundred-node tree once instead of per pipeline invocation
    (the incremental updater synthesizes per affected type per batch;
    construction cost was measurable driver time at toy scale)."""
    if _SYNTH_EXPRS:
        return _SYNTH_EXPRS

    part = ["osm_type", "osm_id"]
    order = [F.col("ts"), F.col("osm_version"), F.col("changeset")]
    w_raw = W.partitionBy(*part).orderBy(*order)
    w = W.partitionBy(*part).orderBy(*order)
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_ver = W.partitionBy(*part, "osm_version").orderBy(*order)

    raw_lags = {
        "_prev_ts": F.lag("ts").over(w_raw),
        "_prev_tags": F.lag("tags").over(w_raw),
        "_prev_visible": F.lag("visible").over(w_raw),
        "_next_version": F.lead("osm_version").over(w_raw),
        "_next_changeset": F.lead("changeset").over(w_raw),
    }
    squash_keep = (
        ~(
            (F.col("_next_version") == F.col("osm_version"))
            & (F.col("_next_changeset") == F.col("changeset"))
        )
        | F.col("_next_version").isNull()
    )

    # geometry inheritance (subtlety #3): effective bundle = own when
    # visible, else the last visible row's own bundle.
    own_bundle = F.struct(*[F.col(c).alias(c) for c in _GEOM_FIELDS])
    validity = {
        "valid_to": F.lead("ts").over(w),
        "_has_next": F.lead("ts").over(w).isNotNull(),
        "_eff": F.last(
            F.when(F.col("visible"), own_bundle), ignorenulls=True
        ).over(w_run),
    }

    has_geom = F.coalesce(F.col("_eff.geom_valid"), F.lit(False))
    area = F.coalesce(F.col("_eff.geom_area"), F.lit(0.0))
    length = F.coalesce(F.col("_eff.geom_length"), F.lit(0.0))
    derived = {
        "_has_geom": has_geom,
        "area": area,
        "length": length,
        "_prev_wkb": F.lag("_eff.geom_key").over(w),
        "area_delta": area - F.lag(area, 1, 0.0).over(w),
        "length_delta": length - F.lag(length, 1, 0.0).over(w),
        "osm_minor_version": (F.row_number().over(w_ver) - F.lit(1)).cast("int"),
        "osm_edits": F.row_number().over(w).cast("int"),
    }

    status = (
        F.when(~F.col("visible"), F.lit("deleted"))
        .when(~F.col("_has_geom"), F.lit("invalid"))
        .when(F.col("_has_next"), F.lit("history"))
        .otherwise(F.lit("latest"))
    )

    tags = F.coalesce("tags", _empty_tags())
    tags_before = F.coalesce("_prev_tags", _empty_tags())
    # MAP has no ordering in Spark; equality via sorted entry arrays
    tags_changed = F.array_sort(F.map_entries(tags)) != F.array_sort(F.map_entries(tags_before))
    geom_changed = ~F.col("_eff.geom_key").eqNullSafe(F.col("_prev_wkb"))
    contrib_type = (
        F.when(~F.col("visible"), F.lit("DELETION"))
        .when(~F.coalesce("_prev_visible", F.lit(False)), F.lit("CREATION"))
        .otherwise(
            F.concat_ws(
                "_",
                F.when(tags_changed, F.lit("TAG")),
                F.when(geom_changed, F.lit("GEOMETRY")),
            )
        )
    )

    has_bbox = F.col("_eff.geom_bbox").isNotNull()
    xz_level = F.when(
        has_bbox,
        xz_level_expr(
            F.col("_eff.geom_bbox.xmin"),
            F.col("_eff.geom_bbox.ymin"),
            F.col("_eff.geom_bbox.xmax"),
            F.col("_eff.geom_bbox.ymax"),
        ),
    ).otherwise(F.lit(-1))
    xz_code = F.when(
        has_bbox,
        xz_code_expr(
            F.col("_eff.geom_bbox.xmin"),
            F.col("_eff.geom_bbox.ymin"),
            F.col("_eff.geom_bbox.xmax"),
            F.col("_eff.geom_bbox.ymax"),
        ),
    ).otherwise(F.lit(0).cast("bigint"))

    select = _synth_select_list(status, tags, tags_before, contrib_type, xz_level, xz_code)
    _SYNTH_EXPRS.update(
        raw_lags=raw_lags, squash_keep=squash_keep, validity=validity,
        derived=derived, select=select,
    )
    return _SYNTH_EXPRS


_SYNTH_EXPRS: dict = {}


def _synth_select_inner(*cols):
    return list(cols)


def _synth_select_list(status, tags, tags_before, contrib_type, xz_level, xz_code):
    return _synth_select_inner(
        status.alias("status"),
        F.col("ts").alias("valid_from"),
        F.coalesce("valid_to", F.lit(VALID_TO_SENTINEL)).alias("valid_to"),
        "osm_type",
        "osm_id",
        F.col("osm_version").cast("int").alias("osm_version"),
        "osm_minor_version",
        "osm_edits",
        F.col("_prev_ts").alias("osm_last_edit"),
        F.struct(
            F.col("user_id").cast("int").alias("id"), F.col("user_name").alias("name")
        ).alias("user"),
        tags.alias("tags"),
        tags_before.alias("tags_before"),
        F.col("changeset").alias("changeset_id"),
        F.col("_eff.geom_bbox").alias("bbox"),
        F.col("_eff.geom_centroid").alias("centroid"),
        F.struct(xz_level.alias("level"), xz_code.alias("code")).alias("xzcode"),
        F.col("_eff.geom_type").alias("geometry_type"),
        F.col("_eff.geom_wkb").alias("geometry"),
        "area",
        "area_delta",
        "length",
        "length_delta",
        F.nullif(contrib_type, F.lit("")).alias("contrib_type"),
        "refs_count",
        "refs",
        "members_count",
        "members",
        F.lit(0).cast("bigint").alias("build_time"),
    )


# ---------------------------------------------------------------------------
# changeset enrichment (J4) — left equi-join with default fallback
# ---------------------------------------------------------------------------


def with_changesets(contribs: DataFrame, changesets: DataFrame) -> DataFrame:
    """Join changeset metadata onto contributions (SURVEY.md J4): one plain
    left equi-join on ``changeset_id``, the same for the bulk run, the
    replication pass and the registry.

    Missing changeset ids fall back to the reference's default record —
    created_at = epoch, empty tags/hashtags, null editor
    (``util/Utils.java:50-66``). Editor = changeset tags['created_by'] (A11,
    ``ChangesetDb.java:50``).

    Scale shape: the planet changesets table is ~150 M rows, so it is never
    unconditionally broadcast; AQE picks a broadcast-hash join when the
    changesets side is dimension-sized at runtime, else a sort-merge join.
    A replication pass scans the whole store either way, so at planet
    scale the store's O(store) per-pass cost stays open; a semi-join to
    the referenced ids would not remove that scan.
    """
    cs = changesets.select(
        F.col("id").alias("_cs_id"),
        F.col("created_at").alias("_cs_created_at"),
        F.col("closed_at").alias("_cs_closed_at"),
        F.coalesce("tags", _empty_tags()).alias("_cs_tags"),
        F.coalesce("hashtags", F.array().cast("array<string>")).alias("_cs_hashtags"),
    )
    joined = contribs.join(cs, contribs["changeset_id"] == cs["_cs_id"], "left")
    changeset_struct = F.struct(
        F.col("changeset_id").alias("id"),
        F.coalesce("_cs_created_at", F.lit(EPOCH)).alias("created_at"),
        F.col("_cs_closed_at").alias("closed_at"),
        F.coalesce("_cs_tags", _empty_tags()).alias("tags"),
        F.coalesce("_cs_hashtags", F.array().cast("array<string>")).alias("hashtags"),
        F.col("_cs_tags").getItem("created_by").alias("editor"),
    )
    return joined.withColumn("changeset", changeset_struct).drop(
        "_cs_id", "_cs_created_at", "_cs_closed_at", "_cs_tags", "_cs_hashtags", "changeset_id"
    )


def enrich_contributions(
    contribs: DataFrame,
    changesets: DataFrame | None = None,
    country_features: list | None = None,
) -> DataFrame:
    """The output's two enrichments, one schema for the bulk and the
    replication writers: the J4 changeset join (no ``changesets`` joins an
    empty store, so every row gets the default record) and the country
    lookup (no ``country_features`` writes an empty ``countries`` array)."""
    if changesets is None:
        from ..sources.osmxml import changeset_frame

        changesets = changeset_frame(contribs.sparkSession, [])
    contribs = with_changesets(contribs, changesets)
    if country_features is None:
        return contribs.withColumn("countries", F.array().cast("array<string>"))
    from .spatial import geometry_countries_udf

    # full-geometry intersects like the reference (a way crossing a
    # border belongs to both countries even with no vertex inside)
    return contribs.withColumn(
        "countries", geometry_countries_udf(country_features)(F.col("geometry"))
    )
