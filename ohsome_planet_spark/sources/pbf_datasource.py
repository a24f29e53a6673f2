"""PBF as a first-class Spark Python Data Source (Spark 4 API):

    register_pbf_source(spark)
    df = spark.read.format("osmpbf").load("planet.osh.pbf")
    ways = df.filter("osm_type = 'way'")   # prunes whole blobs (S7)

This is the declarative twin of ``read_pbf`` (same decoder, same schema):
the blob index becomes ``partitions()`` (one Spark task per blob — a
planet file's ~20k blobs give the scheduler its units), and an
``osm_type`` equality filter is pushed into partition planning via the
reference's S7 type-range strategy (``OSMPbf.java:138-191``): PBF files
sorted ``Sort.Type_then_ID`` store all nodes, then all ways, then all
relations, so the first-entity type of O(log n) bisected blobs locates
each type's blob range and every other blob is never read, let alone
inflated. The filter is still returned to Spark as unhandled, so the
boundary blob's leading tail of the previous type is filtered row-wise —
pruning is an optimization, never a semantics change.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schemas import ENTITY_ROW_SCHEMA
from .pbf import decode_block, read_blob, scan_blobs

_TYPE_ORDER = {"node": 0, "way": 1, "relation": 2}


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

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("osm_type",)
                and f.value in _TYPE_ORDER
            ):
                self.wanted_type = f.value
        # everything (including the type filter) stays Spark-applied:
        # pruning keeps whole-blob skipping an optimization only
        return filters

    def partitions(self):
        refs = [r for r in scan_blobs(self.path) if r.header_type == "OSMData"]
        if self.wanted_type:
            refs = type_range(self.path, refs, self.wanted_type)
        return [
            BlobPartition(self.path, r.index, r.offset, r.size) for r in refs
        ]

    def read(self, partition: BlobPartition):
        from datetime import datetime, timezone

        from .pbf import BlobRef

        data = read_blob(
            partition.path,
            BlobRef(partition.idx, "OSMData", partition.offset, partition.size),
        )
        for e in decode_block(data):
            yield (
                e["osm_type"],
                e.get("osm_id"),
                e.get("version", 1),
                datetime.fromtimestamp(
                    e.get("ts_ms", 0) / 1000.0, tz=timezone.utc
                ).replace(tzinfo=None),
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
    """Register ``format("osmpbf")`` on this session (workers import this
    module, so the package is shipped first)."""
    from ..session import ship_package

    ship_package(spark)
    # pushFilters() requires the (default-off) Python filter-pushdown flag
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OsmPbfDataSource)
