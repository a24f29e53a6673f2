"""OSM PBF source (SURVEY.md S1-S8).

Reads ``.osm.pbf`` / ``.osh.pbf`` files with a dependency-free protobuf
wire-format decoder (the OSM PBF format is published:
https://wiki.openstreetmap.org/wiki/PBF_Format; reference implementation
``osm-pbf/.../OSMPbf.java:107-250``, ``Block.java``, ``group/*.java``).

Spark shape:

- the driver scans only the blob FRAMING (4-byte length + BlobHeader) to
  build an index of (offset, size, type) ranges — O(#blobs) seeks, no
  decompression (S1/S7);
- the index becomes a DataFrame; ``mapInPandas`` partitions decode their
  blob ranges in parallel with numpy-vectorized delta/zigzag decoding of
  the packed columns (S3-S6);
- entity-type partition pruning falls out of a filter on the index
  DataFrame before the decode stage (S7) — Catalyst prunes whole blobs.

Scale: a planet history PBF is ~100 GB with ~50k blobs; the index is tiny,
decode parallelism = #blobs, and no shuffle happens until the caller groups
by id.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import ENTITY_ROW_SCHEMA

# --- protobuf wire primitives ------------------------------------------------


def read_varint(buf: memoryview, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def iter_fields(buf: memoryview) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value). LEN fields yield memoryview."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:  # VARINT
            val, pos = read_varint(buf, pos)
        elif wt == 1:  # I64
            val = struct.unpack_from("<q", buf, pos)[0]
            pos += 8
        elif wt == 2:  # LEN
            ln, pos = read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wt == 5:  # I32
            val = struct.unpack_from("<i", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, val


def packed_varints(buf: memoryview) -> np.ndarray:
    """Vectorized packed-varint decode: group continuation bytes with
    cumulative shifts (numpy), no per-int Python loop."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.nonzero((arr & 0x80) == 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    payload = (arr & 0x7F).astype(np.uint64)
    # value = sum payload[i] << (7 * (i - start))
    idx = np.arange(arr.size, dtype=np.int64)
    group = np.searchsorted(ends, idx)
    shift = (idx - starts[group]).astype(np.uint64) * np.uint64(7)
    shifted = payload << shift
    out = np.zeros(ends.size, dtype=np.uint64)
    np.add.at(out, group, shifted)
    return out.astype(np.int64)


def packed_sint_delta(buf: memoryview) -> np.ndarray:
    raw = packed_varints(buf).astype(np.uint64)
    dec = (raw >> np.uint64(1)).astype(np.int64) ^ -(raw & np.uint64(1)).astype(np.int64)
    return np.cumsum(dec)


# --- blob framing (S1/S2/S7) -------------------------------------------------


@dataclass
class BlobRef:
    index: int
    header_type: str
    offset: int  # offset of the blob payload
    size: int  # payload size


def scan_blobs(path: str) -> list[BlobRef]:
    """Driver-side index scan: framing only, no decompression."""
    refs = []
    i = 0
    with open(path, "rb") as f:
        while True:
            head = f.read(4)
            if len(head) < 4:
                break
            hlen = struct.unpack(">I", head)[0]
            hdr = memoryview(f.read(hlen))
            htype = ""
            dsize = 0
            for field, _wt, val in iter_fields(hdr):
                if field == 1:
                    htype = bytes(val).decode()
                elif field == 3:
                    dsize = val
            refs.append(BlobRef(i, htype, f.tell(), dsize))
            f.seek(dsize, 1)
            i += 1
    return refs


def read_blob(path: str, ref: BlobRef) -> bytes:
    with open(path, "rb") as f:
        f.seek(ref.offset)
        raw = f.read(ref.size)
    out = None
    for field, _wt, val in iter_fields(memoryview(raw)):
        if field == 1:  # raw
            out = bytes(val)
        elif field == 3:  # zlib_data
            out = zlib.decompress(bytes(val))
    if out is None:
        raise ValueError("unsupported blob compression")
    return out


def read_header(path: str) -> dict:
    """HeaderBlock: bbox, features, replication state (S2)."""
    refs = scan_blobs(path)
    hdr_ref = next(r for r in refs if r.header_type == "OSMHeader")
    block = memoryview(read_blob(path, hdr_ref))
    out: dict = {
        "required_features": [],
        "optional_features": [],
        "bbox": None,
        "replication_timestamp": None,
        "replication_sequence": None,
        "replication_base_url": None,
    }
    for field, _wt, val in iter_fields(block):
        if field == 1:
            bb = {}
            for f2, _w2, v2 in iter_fields(val):
                bb[f2] = zigzag(v2) / 1e9
            out["bbox"] = (bb.get(1), bb.get(3), bb.get(2), bb.get(4))
        elif field == 4:
            out["required_features"].append(bytes(val).decode())
        elif field == 5:
            out["optional_features"].append(bytes(val).decode())
        elif field == 32:
            out["replication_timestamp"] = val
        elif field == 33:
            out["replication_sequence"] = val
        elif field == 34:
            out["replication_base_url"] = bytes(val).decode()
    return out


# --- primitive block decode (S3-S6) ------------------------------------------


def decode_block(data: bytes) -> list[dict]:
    """PrimitiveBlock → list of entity dicts."""
    mv = memoryview(data)
    strings: list[str] = []
    groups = []
    granularity = 100
    lat_off = 0
    lon_off = 0
    date_gran = 1000
    for field, _wt, val in iter_fields(mv):
        if field == 1:
            for f2, _w2, v2 in iter_fields(val):
                if f2 == 1:
                    strings.append(bytes(v2).decode("utf-8", "replace"))
        elif field == 2:
            groups.append(val)
        elif field == 17:
            granularity = val
        elif field == 18:
            date_gran = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val

    out: list[dict] = []
    for grp in groups:
        for field, _wt, val in iter_fields(grp):
            if field == 1:  # plain nodes
                out.append(_decode_node(val, strings, granularity, lat_off, lon_off, date_gran))
            elif field == 2:  # dense
                out.extend(
                    _decode_dense(val, strings, granularity, lat_off, lon_off, date_gran)
                )
            elif field == 3:
                out.append(_decode_way(val, strings, date_gran))
            elif field == 4:
                out.append(_decode_relation(val, strings, date_gran))
    return out


def _decode_info(buf, strings, date_gran):
    info = {"version": 1, "ts_ms": 0, "changeset": 0, "uid": 0, "user": "", "visible": True}
    for field, _wt, val in iter_fields(buf):
        if field == 1:
            info["version"] = val
        elif field == 2:
            info["ts_ms"] = val * date_gran
        elif field == 3:
            info["changeset"] = val
        elif field == 4:
            info["uid"] = val
        elif field == 5:
            info["user"] = strings[val] if val < len(strings) else ""
        elif field == 6:
            info["visible"] = bool(val)
    return info


def _tags(keys, vals, strings):
    return {strings[k]: strings[v] for k, v in zip(keys, vals)}


def _decode_node(buf, strings, gran, lat_off, lon_off, date_gran):
    node = {"osm_type": "node", "tags": {}}
    keys = vals = ()
    info = {"version": 1, "ts_ms": 0, "changeset": 0, "uid": 0, "user": "", "visible": True}
    for field, _wt, val in iter_fields(buf):
        if field == 1:
            node["osm_id"] = zigzag(val)  # Node.id is sint64
        elif field == 2:
            keys = packed_varints(val)
        elif field == 3:
            vals = packed_varints(val)
        elif field == 4:
            info = _decode_info(val, strings, date_gran)
        elif field == 8:
            node["lat_raw"] = zigzag(val)
        elif field == 9:
            node["lon_raw"] = zigzag(val)
    node["tags"] = _tags(keys, vals, strings)
    node["lat"] = (lat_off + gran * node.pop("lat_raw", 0)) / 1e9
    node["lon"] = (lon_off + gran * node.pop("lon_raw", 0)) / 1e9
    node.update(info)
    return node


def _decode_dense(buf, strings, gran, lat_off, lon_off, date_gran):
    ids = lats = lons = None
    kv = np.zeros(0, dtype=np.int64)
    dense_info = {}
    for field, _wt, val in iter_fields(buf):
        if field == 1:
            ids = packed_sint_delta(val)
        elif field == 5:
            for f2, _w2, v2 in iter_fields(val):
                if f2 == 1:
                    dense_info["version"] = packed_varints(v2)
                elif f2 == 2:
                    dense_info["ts"] = packed_sint_delta(v2)
                elif f2 == 3:
                    dense_info["changeset"] = packed_sint_delta(v2)
                elif f2 == 4:
                    dense_info["uid"] = packed_sint_delta(v2)
                elif f2 == 5:
                    dense_info["user_sid"] = packed_sint_delta(v2)
                elif f2 == 6:
                    dense_info["visible"] = packed_varints(v2)
        elif field == 8:
            lats = packed_sint_delta(val)
        elif field == 9:
            lons = packed_sint_delta(val)
        elif field == 10:
            kv = packed_varints(val)
    n = ids.size if ids is not None else 0
    # split the 0-separated key/val stream per node
    tags_per_node: list[dict] = []
    pos = 0
    for _ in range(n):
        tags = {}
        while pos < kv.size and kv[pos] != 0:
            tags[strings[kv[pos]]] = strings[kv[pos + 1]]
            pos += 2
        pos += 1  # skip separator
        tags_per_node.append(tags)
    out = []
    for i in range(n):
        visible = True
        if "visible" in dense_info and i < len(dense_info["visible"]):
            visible = bool(dense_info["visible"][i])
        out.append(
            {
                "osm_type": "node",
                "osm_id": int(ids[i]),
                "version": int(dense_info.get("version", np.ones(n))[i]),
                "ts_ms": int(dense_info.get("ts", np.zeros(n))[i]) * date_gran,
                "changeset": int(dense_info.get("changeset", np.zeros(n))[i]),
                "uid": int(dense_info.get("uid", np.zeros(n))[i]),
                "user": strings[int(dense_info["user_sid"][i])]
                if "user_sid" in dense_info
                else "",
                "visible": visible,
                "tags": tags_per_node[i] if i < len(tags_per_node) else {},
                "lat": (lat_off + gran * int(lats[i])) / 1e9 if lats is not None else None,
                "lon": (lon_off + gran * int(lons[i])) / 1e9 if lons is not None else None,
            }
        )
    return out


def _decode_way(buf, strings, date_gran):
    way = {"osm_type": "way", "tags": {}, "refs": []}
    keys = vals = ()
    info = {"version": 1, "ts_ms": 0, "changeset": 0, "uid": 0, "user": "", "visible": True}
    for field, _wt, val in iter_fields(buf):
        if field == 1:
            way["osm_id"] = val
        elif field == 2:
            keys = packed_varints(val)
        elif field == 3:
            vals = packed_varints(val)
        elif field == 4:
            info = _decode_info(val, strings, date_gran)
        elif field == 8:
            way["refs"] = [int(x) for x in packed_sint_delta(val)]
    way["tags"] = _tags(keys, vals, strings)
    way.update(info)
    return way


_MEMBER_TYPES = {0: "node", 1: "way", 2: "relation"}


def _decode_relation(buf, strings, date_gran):
    rel = {"osm_type": "relation", "tags": {}, "members": []}
    keys = vals = ()
    roles = memids = types = None
    info = {"version": 1, "ts_ms": 0, "changeset": 0, "uid": 0, "user": "", "visible": True}
    for field, _wt, val in iter_fields(buf):
        if field == 1:
            rel["osm_id"] = val
        elif field == 2:
            keys = packed_varints(val)
        elif field == 3:
            vals = packed_varints(val)
        elif field == 4:
            info = _decode_info(val, strings, date_gran)
        elif field == 8:
            roles = packed_varints(val)
        elif field == 9:
            memids = packed_sint_delta(val)
        elif field == 10:
            types = packed_varints(val)
    if memids is not None:
        rel["members"] = [
            {
                "type": _MEMBER_TYPES.get(int(t), "node"),
                "id": int(m),
                "role": strings[int(r)] if r < len(strings) else "",
            }
            for r, m, t in zip(roles, memids, types)
        ]
    rel["tags"] = _tags(keys, vals, strings)
    rel.update(info)
    return rel


# --- Spark integration -------------------------------------------------------

def read_pbf(spark: SparkSession, path: str) -> DataFrame:
    """PBF file → unified entity DataFrame (``ENTITY_ROW_SCHEMA``; split it
    by type with :func:`..schemas.split_entities`).

    The blob index is computed driver-side; decode runs distributed via
    ``mapInPandas`` over index partitions. Every blob is decoded; the
    ``osmpbf`` data source (``pbf_datasource``) prunes whole blobs by type.
    """
    from ..session import ship_package

    ship_package(spark)
    refs = [r for r in scan_blobs(path) if r.header_type == "OSMData"]
    index = spark.createDataFrame(
        [(r.index, r.offset, r.size) for r in refs], "idx long, offset long, size long"
    )
    nparts = max(1, min(len(refs), spark.sparkContext.defaultParallelism))
    index = index.repartition(nparts)
    columns = ENTITY_ROW_SCHEMA.fieldNames()

    def decode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # note: r["size"], not r.size — Series.size is the element count
            for _, r in pdf.iterrows():
                data = read_blob(
                    path, BlobRef(int(r["idx"]), "OSMData", int(r["offset"]), int(r["size"]))
                )
                for e in decode_block(data):
                    rows.append(
                        {
                            "osm_type": e["osm_type"],
                            "osm_id": e.get("osm_id"),
                            "version": e.get("version", 1),
                            "ts": pd.Timestamp(e.get("ts_ms", 0), unit="ms"),
                            "changeset": e.get("changeset", 0),
                            "user_id": e.get("uid", 0),
                            "user_name": e.get("user", ""),
                            "visible": e.get("visible", True),
                            "tags": e.get("tags", {}),
                            "lon": e.get("lon"),
                            "lat": e.get("lat"),
                            "refs": e.get("refs"),
                            "members": e.get("members"),
                        }
                    )
            yield pd.DataFrame(rows, columns=columns)

    return index.mapInPandas(decode_partition, ENTITY_ROW_SCHEMA)
