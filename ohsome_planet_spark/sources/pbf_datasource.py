"""PBF as a Spark Python Data Source (Spark 4 API), the reader behind
``pbf.read_pbf``:

    df = read_pbf(spark, "planet.osh.pbf")  # format("osmpbf").load(path)
    nodes = (spark.read.format("osmpbf").option("entity_type", "node")
             .load(path).filter("osm_type = 'node'"))  # node blobs only (S7)

``partitions()`` is the blob index, one Spark task per blob (a planet
file's ~20k blobs give the scheduler its units), and :meth:`read` is the
one row converter. The ``entity_type`` option narrows the partitions via
the reference's S7 type-range strategy (``OSMPbf.java:138-191``): PBF
files sorted ``Sort.Type_then_ID`` store all nodes, then all ways, then
all relations, so the first-entity type of O(log n) bisected blobs
locates each type's blob range and every other blob is never read, let
alone inflated. A boundary blob may still hold the tail of the previous
type or the head of the next, so the caller keeps its ``osm_type``
filter: pruning is an optimization, never a semantics change.

Pruning is an option of the load, not a ``pushFilters`` of the reader:
Spark 4.1 keeps one pushed-down reader per loaded relation, so a frame
filtered by two types in one plan, or read whole after a filtered query,
would reuse one type's blob list for every scan of it.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from ..schemas import ENTITY_ROW_SCHEMA
from .pbf import BlobRef, decode_block, read_blob, scan_blobs

_TYPE_ORDER = {"node": 0, "way": 1, "relation": 2}
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


@dataclass
class BlobPartition(InputPartition):
    path: str
    idx: int
    offset: int
    size: int


def _first_type(path: str, ref) -> int:
    """Type rank of a blob's first entity (decodes one blob)."""
    entities = decode_block(read_blob(path, ref))
    if not entities:
        return -1
    return _TYPE_ORDER[entities[0]["osm_type"]]


def type_range(path: str, refs, wanted: str) -> list:
    """S7: the contiguous blob slice that can contain ``wanted`` entities,
    found by bisecting first-entity types over the sorted blob list. The
    slice starts one blob early (a blob may begin with the tail of the
    previous type and still contain the first ``wanted`` rows); no end
    padding — a blob whose first entity is already a later type cannot
    contain the wanted type in a Sort.Type_then_ID file.
    """
    rank = _TYPE_ORDER[wanted]
    cache: dict[int, int] = {}

    def ft(i: int) -> int:
        if i not in cache:
            cache[i] = _first_type(path, refs[i])
        return cache[i]

    def lower_bound(target: int) -> int:
        """First blob index whose first-entity rank >= target."""
        lo, hi = 0, len(refs)
        while lo < hi:
            mid = (lo + hi) // 2
            r = ft(mid)
            if r != -1 and r >= target:
                hi = mid
            else:
                lo = mid + 1
        return lo

    start = max(0, lower_bound(rank) - 1)
    end = lower_bound(rank + 1)
    return refs[start:end]


class OsmPbfReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osmpbf: .load(path) is required")
        self.wanted_type: str | None = options.get("entity_type")

    def partitions(self):
        refs = [r for r in scan_blobs(self.path) if r.header_type == "OSMData"]
        if self.wanted_type:
            refs = type_range(self.path, refs, self.wanted_type)
        return [
            BlobPartition(self.path, r.index, r.offset, r.size) for r in refs
        ]

    def read(self, partition: BlobPartition | None):
        if partition is None:  # Spark's one partition for a file without data blobs
            return
        data = read_blob(
            partition.path,
            BlobRef(partition.idx, "OSMData", partition.offset, partition.size),
        )
        for e in decode_block(data):
            yield (
                e["osm_type"],
                e.get("osm_id"),
                e.get("version", 1),
                # UTC-aware: a naive datetime would be read as local time
                _EPOCH + timedelta(milliseconds=e.get("ts_ms", 0)),
                e.get("changeset", 0),
                e.get("uid", 0),
                e.get("user", ""),
                e.get("visible", True),
                e.get("tags", {}),
                e.get("lon"),
                e.get("lat"),
                e.get("refs"),
                [(m["type"], m["id"], m["role"]) for m in e["members"]]
                if e.get("members") is not None
                else None,
            )


class OsmPbfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def schema(self) -> StructType:
        return ENTITY_ROW_SCHEMA

    def reader(self, schema) -> OsmPbfReader:
        return OsmPbfReader(self.options)


def register_pbf_source(spark) -> None:
    """Register ``format("osmpbf")`` on this session, once."""
    from ..session import register_source

    register_source(spark, OsmPbfDataSource)
