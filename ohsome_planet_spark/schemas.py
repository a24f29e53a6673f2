"""Spark schemas for the OSM entity-history inputs and the contributions
output.

Mirrors the reference's data model:

- input entities: sealed interface ``OSMEntity`` with node/way/relation
  records (``osm-types/src/main/java/org/heigit/ohsome/osm/OSMEntity.java:39-109``);
- output: the 29-column ``Contrib`` Avro record
  (``ohsome-contributions/src/main/avro/contrib.avsc:1-387``,
  ``docs/data_description.md:5-55``).

The ``valid_to`` sentinel for latest/deleted rows is 2222-01-01T00:00:00Z
(``ContributionsAvroConverter.java:22``).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# valid_to sentinel for open-ended (latest / deleted) contributions.
VALID_TO_SENTINEL = _dt.datetime(2222, 1, 1, 0, 0, 0)
VALID_TO_SENTINEL_STR = "2222-01-01 00:00:00"

OSM_NODE, OSM_WAY, OSM_RELATION = "node", "way", "relation"

_OSM_TYPE_FIELD = T.StructField("osm_type", T.StringType(), True)

_COMMON_ENTITY_FIELDS = [
    T.StructField("osm_id", T.LongType(), False),
    T.StructField("version", T.IntegerType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("changeset", T.LongType(), True),
    # bigint: uid > int32 occurs on real wire input, and mixed-width parquet
    # histories fail the vectorized reader with
    # PARQUET_COLUMN_DATA_TYPE_MISMATCH
    T.StructField("user_id", T.LongType(), True),
    T.StructField("user_name", T.StringType(), True),
    T.StructField("visible", T.BooleanType(), False),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
]

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("id", T.LongType(), True),
        T.StructField("role", T.StringType(), True),
    ]
)

# each type's own columns, after the common ones
_NODE_FIELDS = [
    T.StructField("lon", T.DoubleType(), True),
    T.StructField("lat", T.DoubleType(), True),
]
_WAY_FIELDS = [T.StructField("refs", T.ArrayType(T.LongType()), True)]
_RELATION_FIELDS = [T.StructField("members", T.ArrayType(MEMBER_SCHEMA), True)]

# the per-type entity layouts: what the contribution operators read
NODE_SCHEMA = T.StructType(_COMMON_ENTITY_FIELDS + _NODE_FIELDS)
WAY_SCHEMA = T.StructType(_COMMON_ENTITY_FIELDS + _WAY_FIELDS)
RELATION_SCHEMA = T.StructType(_COMMON_ENTITY_FIELDS + _RELATION_FIELDS)

# the decoders' one row for every type (PBF blocks, osmChange diffs):
# ``osm_type``, the common columns, then every type's own columns, all
# nullable since a row fills only its own type's
ENTITY_ROW_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True)
        for f in [_OSM_TYPE_FIELD]
        + _COMMON_ENTITY_FIELDS
        + _NODE_FIELDS
        + _WAY_FIELDS
        + _RELATION_FIELDS
    ]
)


def history_schema(layout: T.StructType) -> T.StructType:
    """A history table's schema: ``osm_type`` then the type's layout (the
    replication store's ``<data>/nodes`` and ``<data>/ways``)."""
    return T.StructType([_OSM_TYPE_FIELD] + layout.fields)


def split_entities(entities: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """A decoded entity frame → its node, way and relation histories, each
    ``osm_type`` plus the type's layout (:func:`history_schema`)."""
    return tuple(
        entities.filter(F.col("osm_type") == kind).select(
            *history_schema(layout).fieldNames()
        )
        for kind, layout in (
            (OSM_NODE, NODE_SCHEMA),
            (OSM_WAY, WAY_SCHEMA),
            (OSM_RELATION, RELATION_SCHEMA),
        )
    )


# --- output -----------------------------------------------------------------

USER_STRUCT = T.StructType(
    [
        T.StructField("id", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
    ]
)

CHANGESET_STRUCT = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("closed_at", T.TimestampType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("hashtags", T.ArrayType(T.StringType()), True),
        T.StructField("editor", T.StringType(), True),
    ]
)

BBOX_STRUCT = T.StructType(
    [
        T.StructField("xmin", T.DoubleType(), True),
        T.StructField("ymin", T.DoubleType(), True),
        T.StructField("xmax", T.DoubleType(), True),
        T.StructField("ymax", T.DoubleType(), True),
    ]
)

CENTROID_STRUCT = T.StructType(
    [
        T.StructField("x", T.DoubleType(), True),
        T.StructField("y", T.DoubleType(), True),
    ]
)

XZCODE_STRUCT = T.StructType(
    [
        T.StructField("level", T.IntegerType(), True),
        T.StructField("code", T.LongType(), True),
    ]
)

CONTRIB_MEMBER_STRUCT = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("id", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("geometry_type", T.StringType(), True),
        T.StructField("geometry", T.BinaryType(), True),
    ]
)

CONTRIB_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType(), False),
        T.StructField("valid_from", T.TimestampType(), False),
        T.StructField("valid_to", T.TimestampType(), False),
        T.StructField("osm_type", T.StringType(), False),
        T.StructField("osm_id", T.LongType(), False),
        T.StructField("osm_version", T.IntegerType(), False),
        T.StructField("osm_minor_version", T.IntegerType(), False),
        T.StructField("osm_edits", T.IntegerType(), False),
        T.StructField("osm_last_edit", T.TimestampType(), True),
        T.StructField("user", USER_STRUCT, True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("tags_before", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("changeset", CHANGESET_STRUCT, True),
        T.StructField("bbox", BBOX_STRUCT, True),
        T.StructField("centroid", CENTROID_STRUCT, True),
        T.StructField("xzcode", XZCODE_STRUCT, True),
        T.StructField("geometry_type", T.StringType(), True),
        T.StructField("geometry", T.BinaryType(), True),
        T.StructField("area", T.DoubleType(), True),
        T.StructField("area_delta", T.DoubleType(), True),
        T.StructField("length", T.DoubleType(), True),
        T.StructField("length_delta", T.DoubleType(), True),
        T.StructField("contrib_type", T.StringType(), True),
        T.StructField("refs_count", T.IntegerType(), True),
        T.StructField("refs", T.ArrayType(T.LongType()), True),
        T.StructField("members_count", T.IntegerType(), True),
        T.StructField("members", T.ArrayType(CONTRIB_MEMBER_STRUCT), True),
        T.StructField("countries", T.ArrayType(T.StringType()), True),
        T.StructField("build_time", T.LongType(), True),
    ]
)

STATUS_LATEST = "latest"
STATUS_HISTORY = "history"
STATUS_DELETED = "deleted"
STATUS_INVALID = "invalid"

CONTRIB_CREATION = "CREATION"
CONTRIB_DELETION = "DELETION"
CONTRIB_TAG = "TAG"
CONTRIB_GEOMETRY = "GEOMETRY"
CONTRIB_TAG_GEOMETRY = "TAG_GEOMETRY"
