"""OSM XML sources (SURVEY.md S9/S10): osmChange (`.osc` / `.osc.gz`)
diffs, changeset XML parsing and the changeset table.

The reference uses StAX parsers (``osm-xml/.../OscParser.java:27-317``,
``OSMXmlEntityReader.java``, ``ChangesetXmlReader.java``); here the parse is
``xml.etree`` inside ``mapInPandas`` — diffs are tiny (one minute of planet
edits ≈ a few MB), so the Spark side is one narrow stage per file with no
shuffle. Changeset dumps (`.osm.bz2`, multi-stream) split on bz2 block
boundaries for parallel decompression like the reference's PBZ2Reader.

The reference keeps one ``changesets`` table: the bulk load fills it, the
replication stream upserts it and the contributions join it
(``ChangesetDB.java:127-296``). Here that table is :data:`CHANGESET_SCHEMA`,
and :func:`changeset_frame` is its one row builder: ``cli changesets``
(:func:`read_changesets`), the replication batches and the API
reconciliation (``streaming.changesets``) all write through it, so
``changesets --out <data>/changesets`` seeds the store ``replications``
upserts.
"""

from __future__ import annotations

import bz2
import gzip
import os
import struct
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import ENTITY_ROW_SCHEMA

_GZ_MAGIC = b"\x1f\x8b"


def _read_maybe_compressed(path: str) -> bytes:
    with open(path, "rb") as f:
        data = f.read()
    if data[:2] == _GZ_MAGIC:
        return gzip.decompress(data)
    if data[:3] == b"BZh":
        return bz2.decompress(data)
    return data


def _entity_from_elem(elem: ET.Element, visible: bool) -> dict:
    tags = {t.get("k"): t.get("v") for t in elem.findall("tag")}
    base = {
        "osm_type": elem.tag,
        "osm_id": int(elem.get("id")),
        "version": int(elem.get("version", "1")),
        "ts": pd.Timestamp(elem.get("timestamp")).tz_localize(None)
        if elem.get("timestamp")
        else pd.Timestamp(0),
        "changeset": int(elem.get("changeset", "0")),
        "user_id": int(elem.get("uid", "0")),
        "user_name": elem.get("user", ""),
        # explicit visible attribute wins over the osc operation default
        "visible": elem.get("visible", str(visible).lower()) == "true",
        "tags": tags,
        "lon": float(elem.get("lon")) if elem.get("lon") else None,
        "lat": float(elem.get("lat")) if elem.get("lat") else None,
        "refs": None,
        "members": None,
    }
    if elem.tag == "way":
        base["refs"] = [int(nd.get("ref")) for nd in elem.findall("nd")]
    elif elem.tag == "relation":
        base["members"] = [
            {"type": m.get("type"), "id": int(m.get("ref")), "role": m.get("role", "")}
            for m in elem.findall("member")
        ]
    return base


def parse_osc_bytes(data: bytes) -> list[dict]:
    """osmChange XML → entity dicts; <delete> sets visible=false
    (``OscParser.java``: create/modify → visible, delete → invisible)."""
    root = ET.fromstring(data)
    out = []
    for op in root:
        if op.tag not in ("create", "modify", "delete"):
            continue
        visible = op.tag != "delete"
        for elem in op:
            if elem.tag in ("node", "way", "relation"):
                out.append(_entity_from_elem(elem, visible))
    return out


def encode_osc(rows: list[dict]) -> bytes:
    """Entity dicts → osmChange XML bytes — the inverse of
    :func:`parse_osc_bytes` (fixture/round-trip writer: visible rows go
    under ``<modify>``, invisible under ``<delete>``, mirroring
    ``OscParser.java``'s operation semantics)."""
    root = ET.Element("osmChange", version="0.6")
    modify = ET.SubElement(root, "modify")
    delete = ET.SubElement(root, "delete")
    for r in rows:
        visible = bool(r.get("visible", True))
        elem = ET.SubElement(modify if visible else delete, r["osm_type"])
        elem.set("id", str(r["osm_id"]))
        elem.set("version", str(r["version"]))
        elem.set("timestamp", r["ts"].strftime("%Y-%m-%dT%H:%M:%SZ"))
        elem.set("changeset", str(r["changeset"]))
        elem.set("uid", str(r["user_id"]))
        elem.set("user", r.get("user_name") or "")
        elem.set("visible", "true" if visible else "false")
        if r["osm_type"] == "node" and r.get("lon") is not None:
            # repr: shortest round-trip float text (coordinates survive
            # encode -> parse bit-exactly)
            elem.set("lon", repr(float(r["lon"])))
            elem.set("lat", repr(float(r["lat"])))
        for k, v in (r.get("tags") or {}).items():
            ET.SubElement(elem, "tag", k=k, v=v)
        for ref in r.get("refs") or []:
            ET.SubElement(elem, "nd", ref=str(ref))
        for m in r.get("members") or []:
            ET.SubElement(
                elem, "member",
                type=m["type"], ref=str(m["id"]), role=m.get("role") or "",
            )
    return ET.tostring(root, encoding="utf-8", xml_declaration=True)


_COLUMNS = ENTITY_ROW_SCHEMA.fieldNames()


def read_osc(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """One or many .osc(.gz) files → entity DataFrame (S10)."""
    from ..session import ship_package

    ship_package(spark)
    paths = [paths] if isinstance(paths, str) else list(paths)
    index = spark.createDataFrame([(p,) for p in paths], "path string")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                rows.extend(parse_osc_bytes(_read_maybe_compressed(p)))
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return index.repartition(max(1, len(paths))).mapInPandas(parse, ENTITY_ROW_SCHEMA)


# --- changeset dumps (S9) ----------------------------------------------------

# The changeset table, as the reference's ``changesets`` table
# (setupChangesetDB.sql): id, user_id, created_at, closed_at, open,
# user_name, tags, hashtags, plus the raw bbox coords and the
# PostGIS-equivalent bbox polygon (``geom Polygon 4326``) as WKB.
CHANGESET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("closed_at", T.TimestampType()),
        T.StructField("open", T.BooleanType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("hashtags", T.ArrayType(T.StringType())),
        T.StructField("min_lon", T.DoubleType()),
        T.StructField("min_lat", T.DoubleType()),
        T.StructField("max_lon", T.DoubleType()),
        T.StructField("max_lat", T.DoubleType()),
        T.StructField("geom", T.BinaryType()),
    ]
)
# the parsed columns: the table without the one the builder derives
_PARSED_SCHEMA = T.StructType([f for f in CHANGESET_SCHEMA if f.name != "hashtags"])

_BZ2_STREAM_MAGIC = b"BZh91AY&SY"


def split_bz2_streams(data: bytes) -> list[bytes]:
    """Split a multi-stream bz2 file on the stream magic so streams
    decompress in parallel (``PBZ2Reader.java:24-150``)."""
    offsets = []
    start = 0
    while True:
        idx = data.find(_BZ2_STREAM_MAGIC, start)
        if idx < 0:
            break
        offsets.append(idx)
        start = idx + 1
    if not offsets:
        return []
    offsets.append(len(data))
    return [data[offsets[i] : offsets[i + 1]] for i in range(len(offsets) - 1)]


# little-endian WKB header: byteOrder=1, type=3 (Polygon), 1 ring, 5 points
_BBOX_WKB_HEADER = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"


def bbox_wkb(min_lon, min_lat, max_lon, max_lat) -> bytes | None:
    """WKB bbox polygon from min/max lon/lat — the store-write equivalent
    of the reference's ``getBBOXasWKT`` (``OSMChangesets.java:81-88`` /
    ``ChangesetDB.java:178``): CCW ring (min,min) → (max,min) → (max,max)
    → (min,max) → close, None when any coordinate is missing."""
    if None in (min_lon, min_lat, max_lon, max_lat):
        return None
    return _BBOX_WKB_HEADER + struct.pack(
        "<10d",
        min_lon, min_lat, max_lon, min_lat, max_lon, max_lat, min_lon, max_lat,
        min_lon, min_lat,
    )


def parse_changesets_bytes(data: bytes) -> list[dict]:
    """<changeset> elements → rows (``ChangesetXmlReader.java``), with the
    bbox polygon ``geom`` (:func:`bbox_wkb`) computed at the parse."""
    root = ET.fromstring(data)
    out = []
    for cs in root.iter("changeset"):
        bbox = [
            float(cs.get(k)) if cs.get(k) else None
            for k in ("min_lon", "min_lat", "max_lon", "max_lat")
        ]
        out.append(
            {
                "id": int(cs.get("id")),
                "created_at": pd.Timestamp(cs.get("created_at")).tz_localize(None)
                if cs.get("created_at")
                else None,
                "closed_at": pd.Timestamp(cs.get("closed_at")).tz_localize(None)
                if cs.get("closed_at")
                else None,
                "tags": {t.get("k"): t.get("v") for t in cs.findall("tag")},
                "user_id": int(cs.get("uid", "0")),
                "user_name": cs.get("user", ""),
                "open": cs.get("open", "false") == "true",
                **dict(zip(("min_lon", "min_lat", "max_lon", "max_lat"), bbox)),
                "geom": bbox_wkb(*bbox),
                # ChangesetXmlReader.java:65-66
                "num_changes": int(cs.get("num_changes", "0")),
                "comments_count": int(cs.get("comments_count", "0")),
            }
        )
    return out


def changeset_frame(
    spark: SparkSession, rows: list[dict] | DataFrame, with_pos: bool = False
) -> DataFrame:
    """The one builder of the changeset table: parsed changesets
    (:func:`parse_changesets_bytes` dicts, or a frame of them) → a
    :data:`CHANGESET_SCHEMA` frame, with ``hashtags`` derived from the
    ``comment`` tag (A10), a JVM expression, so building the table runs no
    Python worker. ``with_pos`` appends ``_pos``, the rows' apply order,
    for ``streaming.changesets.batch_winner``."""
    from ..functions.hashtags import hashtags_from_tags_expr
    from ..session import empty_frame

    if not isinstance(rows, DataFrame):
        schema = T.StructType(
            _PARSED_SCHEMA.fields + ([T.StructField("_pos", T.LongType())] if with_pos else [])
        )
        if rows:
            pdf = pd.DataFrame(rows, columns=_PARSED_SCHEMA.fieldNames())
            if with_pos:
                pdf["_pos"] = range(len(pdf))
            rows = spark.createDataFrame(pdf, schema)
        else:
            rows = empty_frame(spark, schema)
    return rows.withColumn("hashtags", hashtags_from_tags_expr(F.col("tags"))).select(
        *CHANGESET_SCHEMA.fieldNames(), *(["_pos"] if with_pos else [])
    )


def read_changesets(spark: SparkSession, path: str) -> DataFrame:
    """Changeset dump (.osm or multi-stream .osm.bz2) → the changeset
    table (:func:`changeset_frame`)."""
    from ..session import ship_package

    ship_package(spark)
    with open(path, "rb") as f:
        head = f.read(3)
    if head == b"BZh" and os.path.getsize(path) > 64 * 1024 * 1024:
        # large multi-stream dump: ship stream ranges to workers
        with open(path, "rb") as f:
            data = f.read()
        streams = split_bz2_streams(data)
        index = spark.createDataFrame(
            [(i,) for i in range(len(streams))], "stream_idx int"
        )
        bstreams = spark.sparkContext.broadcast(streams)
        columns = _PARSED_SCHEMA.fieldNames()

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for i in pdf["stream_idx"]:
                    rows.extend(parse_changesets_bytes(bz2.decompress(bstreams.value[i])))
                yield pd.DataFrame(rows, columns=columns)

        return changeset_frame(spark, index.mapInPandas(parse, _PARSED_SCHEMA))
    return changeset_frame(spark, parse_changesets_bytes(_read_maybe_compressed(path)))
