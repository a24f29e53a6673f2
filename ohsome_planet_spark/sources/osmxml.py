"""OSM XML sources (SURVEY.md S9/S10): osmChange (`.osc`) diffs,
changeset XML parsing, the changeset table and the changeset dump reader.

The reference uses StAX parsers (``osm-xml/.../OscParser.java:27-317``,
``OSMXmlEntityReader.java``, ``ChangesetXmlReader.java``); here the parse
is ``xml.etree``. A minutely diff is a few MB, so the replication pass
parses it on the driver (:func:`parse_osc_bytes`). A changeset dump is
read like the reference's ``PBZ2Reader``: the ``osmchangesets`` Data
Source has one partition per bz2 stream, parsed on the executors by
:func:`parse_changesets_bytes`, the parser the replication batches use.

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
import re
import struct
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema

_GZ_MAGIC = b"\x1f\x8b"


def _read_maybe_compressed(path: str) -> bytes:
    """A plain or gzip file's bytes (bz2 dumps are read by stream)."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:2] == _GZ_MAGIC:
        return gzip.decompress(data)
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
_PARSED_ARROW = to_arrow_schema(_PARSED_SCHEMA)

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


# --- the changeset dump as a Data Source (S9) -------------------------------

# a bz2 stream header: "BZh", the block-size level, the first block's magic
_BZ2_STREAM = re.compile(rb"BZh[1-9]1AY&SY")
_CHANGESET_START = re.compile(rb"<changeset[\s/>]")
# a whole element (an attribute value may hold '>'; changesets don't nest)
_CHANGESET = re.compile(
    rb"""<changeset(?:\s+[^\s=/>]+\s*=\s*(?:"[^"]*"|'[^']*'))*\s*"""
    rb"(?:/>|>.*?</changeset\s*>)",
    re.S,
)


def bz2_stream_offsets(path: str) -> Iterator[int]:
    """Byte offsets of the bz2 streams of ``path``, found by a chunked scan
    for the stream header, so the file is never held whole
    (``PBZ2Reader.java:24-150``)."""
    with open(path, "rb") as f:
        buf = b""
        while chunk := f.read(1 << 22):
            # keep the last 9 bytes: a header cut by the chunk edge
            buf = buf[-9:] + chunk
            start = f.tell() - len(buf)
            for m in _BZ2_STREAM.finditer(buf):
                yield start + m.start()


def _bz2_streams(path: str, offset: int) -> Iterator[bytes]:
    """The decompressed bz2 streams of ``path`` from ``offset`` on, one
    at a time."""
    with open(path, "rb") as f:
        f.seek(offset)
        dec, out = bz2.BZ2Decompressor(), []
        while chunk := f.read(1 << 20):
            while chunk:
                out.append(dec.decompress(chunk))
                if not dec.eof:
                    break
                yield b"".join(out)
                chunk, dec, out = dec.unused_data, bz2.BZ2Decompressor(), []
    if out:
        raise ValueError(f"{path}: the bz2 stream at the end is cut off")


def _owned_changesets(streams: Iterator[bytes]) -> bytes | None:
    """The ``<changeset>`` elements whose start tag begins in the first of
    ``streams``, as one ``<osm>`` document, or None when none does.

    A pbzip2-style dump compresses fixed-size input blocks as separate
    streams, so an element, or its start tag, may run on past the end of
    its stream; the following streams are read only until the last owned
    element closes."""
    buf = next(streams, b"")
    own = len(buf)
    lookahead = len(b"<changeset ")
    while len(buf) < own + lookahead and (more := next(streams, None)) is not None:
        buf += more
    found = _CHANGESET_START.finditer(buf, 0, own + lookahead)
    starts = [m.start() for m in found if m.start() < own]
    if not starts:
        return None
    while (last := _CHANGESET.match(buf, starts[-1])) is None:
        if (more := next(streams, None)) is None:
            raise ValueError("changeset dump ends inside a <changeset> element")
        buf += more
    return b"<osm>" + buf[starts[0] : last.end()] + b"</osm>"


@dataclass
class DumpPartition(InputPartition):
    path: str
    offset: int | None  # of the partition's bz2 stream; None: plain or gzip


class ChangesetDumpReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path

    def partitions(self):
        if not _is_bz2(self.path):
            return [DumpPartition(self.path, None)]
        offsets = list(bz2_stream_offsets(self.path))
        if not offsets:
            raise ValueError(f"{self.path}: no bz2 stream found")
        return [DumpPartition(self.path, o) for o in offsets]

    def read(self, partition: DumpPartition):
        if partition.offset is None:
            streams = iter([_read_maybe_compressed(partition.path)])
        else:
            streams = _bz2_streams(partition.path, partition.offset)
        if (doc := _owned_changesets(streams)) is not None:
            # the pandas → Arrow conversion of changeset_frame's createDataFrame
            pdf = pd.DataFrame(parse_changesets_bytes(doc), columns=_PARSED_SCHEMA.fieldNames())
            yield pa.RecordBatch.from_pandas(pdf, schema=_PARSED_ARROW, preserve_index=False)


class ChangesetDumpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "osmchangesets"

    def schema(self) -> T.StructType:
        return _PARSED_SCHEMA

    def reader(self, schema) -> ChangesetDumpReader:
        return ChangesetDumpReader(self.options["path"])


def _is_bz2(path: str) -> bool:
    with open(path, "rb") as f:
        return path.endswith(".bz2") or f.read(3) == b"BZh"


def read_changesets(spark: SparkSession, path: str) -> DataFrame:
    """Changeset dump (``.osm``, ``.osm.gz`` or multi-stream ``.osm.bz2``)
    → the changeset table (:func:`changeset_frame`), read by the
    ``osmchangesets`` data source: one partition per bz2 stream, parsed on
    the executors by :func:`parse_changesets_bytes`."""
    from ..session import register_source

    if _is_bz2(path) and next(bz2_stream_offsets(path), None) is None:
        raise ValueError(f"{path}: no bz2 stream found")
    register_source(spark, ChangesetDumpDataSource)
    return changeset_frame(spark, spark.read.format("osmchangesets").load(path))
