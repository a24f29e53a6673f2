"""Seeded input generator for the product benchmark.

Everything the program reads is made here from one integer seed: a
grid-city full-history ``.osh.pbf``, a changesets parquet table, a
countries CSV, a seed changeset store, and the minutes of a two-stream
replication mirror (entity ``.osc.gz`` + changeset ``.osm.gz``) laid out
like ``planet.openstreetmap.org/replication``. The same seed and
parameters give byte-identical files: one ``random.Random(seed)`` drives
every choice, gzip headers carry no mtime, and parquet files are written
by pyarrow with fixed settings.

The generator also returns what it published, so the benchmark can check
the program's outputs against an expectation it did not compute with the
program: the contribution versions a bulk run must emit, and per
replication minute the entities that must be rebuilt.
"""

from __future__ import annotations

import gzip
import itertools
import os
import random
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Iterator

from ohsome_planet_spark.sources.osmxml import encode_osc
from ohsome_planet_spark.sources.pbf_encoder import write_history_pbf
from ohsome_planet_spark.streaming.replication import ReplicationState, sequence_path

CELL_DEG = 0.001
ORIGIN = (8.60, 49.40)  # lon, lat of the city's south-west corner
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
EDITORS = ("JOSM/1.5 (19253 en)", "iD 2.30.4", "StreetComplete 59.1", "Vespucci 19.2")
HASHTAGS = ("#mapathon", "#buildings", "#roads", "#missingmaps")
AMENITIES = ("cafe", "bar", "school", "pharmacy", "bank", "restaurant")
LANDUSE = ("residential", "retail", "grass", "industrial")
USERS = 40
FIRST_SEQUENCE = 1000  # entity-stream sequence the seeded dataset ends at
BUILDING_SHARE = 0.5  # share of city cells holding a closed building way


@dataclass(frozen=True)
class CityParams:
    grid: int = 12  # cells per side; (grid+1)^2 street-corner nodes
    max_versions: int = 3  # every entity gets 1..max_versions versions
    tagged_share: float = 0.10  # share of street-corner nodes with tags
    way_length: int = 6  # street-corner nodes per highway segment
    relations: int = 6  # multipolygon relations
    relation_members: int = 2  # outer building ways per relation


@dataclass(frozen=True)
class MinuteParams:
    node_edits: int = 20  # tagged street corners moved per minute
    changesets: int = 5  # changesets published per minute


@dataclass
class City:
    """Generated entity histories plus the bookkeeping checks need."""

    nodes: list[dict]
    ways: list[dict]
    relations: list[dict]
    changesets: list[dict]
    tagged_corners: list[int]  # ids of street-corner nodes that carry tags
    max_ts_ms: int
    # current version of every entity the minute generator may touch
    node_version: dict[int, int] = field(default_factory=dict)
    node_pos: dict[int, tuple[float, float]] = field(default_factory=dict)
    node_tags: dict[int, dict] = field(default_factory=dict)
    way_version: dict[int, int] = field(default_factory=dict)
    ways_of_node: dict[int, list[int]] = field(default_factory=dict)

    def stats(self) -> dict:
        return {
            "node_versions": len(self.nodes),
            "way_versions": len(self.ways),
            "relation_versions": len(self.relations),
            "changesets": len(self.changesets),
        }

    def versions(self) -> int:
        return len(self.nodes) + len(self.ways) + len(self.relations)


def _ms(dt: datetime) -> int:
    return int(dt.timestamp() * 1000)


def _user(changeset: int) -> tuple[int, str]:
    uid = 1 + changeset % USERS
    return uid, f"mapper{uid}"


def make_city(seed: int, p: CityParams) -> City:
    """Entity histories of a ``grid`` x ``grid`` block city."""
    rng = random.Random(seed)
    n_changesets = max(4, p.grid * p.grid // 2)
    span_ms = 300 * 24 * 3600 * 1000  # histories spread over ~10 months

    def info(version: int, ts_ms: int) -> dict:
        cs = 1 + rng.randrange(n_changesets)
        uid, user = _user(cs)
        return dict(version=version, ts_ms=ts_ms, changeset=cs, uid=uid,
                    user=user, visible=True)

    def counts(n: int, most: int) -> list[int]:
        # version counts 1..most in equal shares, shuffled: the total is
        # the same for every seed, so every seed gives the same load
        c = [1 + k % most for k in range(n)]
        rng.shuffle(c)
        return c

    def stamps(n: int) -> list[int]:
        # whole seconds: the PBF stores timestamps at 1 s granularity
        base = _ms(EPOCH) // 1000
        return sorted(1000 * (base + rng.randrange(span_ms // 1000)) for _ in range(n))

    city = City([], [], [], [], [], 0)
    side = p.grid + 1
    lon0, lat0 = ORIGIN

    def add_node(nid: int, lon: float, lat: float, tags: dict | None,
                 versions: int) -> None:
        for v, ts in enumerate(stamps(versions), start=1):
            if v > 1:  # each later version moves the node a little
                lon += rng.uniform(-1, 1) * CELL_DEG * 0.05
                lat += rng.uniform(-1, 1) * CELL_DEG * 0.05
            t = dict(tags) if tags else {}
            if tags and v > 1 and rng.random() < 0.5:
                t["opening_hours"] = f"Mo-Fr {7 + v}:00-18:00"
            city.nodes.append(dict(osm_id=nid, lon=round(lon, 7), lat=round(lat, 7),
                                   tags=t, **info(v, ts)))
        city.node_version[nid] = versions
        city.node_pos[nid] = (round(lon, 7), round(lat, 7))
        city.node_tags[nid] = dict(city.nodes[-1]["tags"])

    # street corners: ids 1..side^2
    tagged = set(rng.sample(range(1, side * side + 1), round(p.tagged_share * side * side)))
    corner_versions = counts(side * side, p.max_versions)
    for j in range(side):
        for i in range(side):
            nid = 1 + j * side + i
            tags = {"amenity": rng.choice(AMENITIES)} if nid in tagged else None
            if tags:
                city.tagged_corners.append(nid)
            add_node(nid, lon0 + i * CELL_DEG, lat0 + j * CELL_DEG, tags,
                     corner_versions[nid - 1])

    def add_way(wid: int, refs: list[int], tag_versions: list[dict]) -> None:
        for v, ts in enumerate(stamps(len(tag_versions)), start=1):
            city.ways.append(dict(osm_id=wid, refs=refs, tags=tag_versions[v - 1],
                                  **info(v, ts)))
        city.way_version[wid] = len(tag_versions)
        for r in set(refs):
            city.ways_of_node.setdefault(r, []).append(wid)

    # highways: every street row and column, cut into way_length segments
    seg = max(2, p.way_length)
    segments = []
    for axis in ("row", "col"):
        for k in range(side):
            line = [1 + k * side + i if axis == "row" else 1 + i * side + k
                    for i in range(side)]
            segments += [(axis, k, line[s : s + seg]) for s in range(0, side - 1, seg - 1)]
    wid = 1
    for (axis, k, refs), n in zip(segments, counts(len(segments), p.max_versions)):
        cls = rng.choice(("residential", "tertiary", "secondary"))
        tv = [{"highway": cls, "name": f"{axis.title()} {k}"}]
        for v in range(2, n + 1):
            tv.append({**tv[-1], "maxspeed": str(20 + 10 * v)})
        add_way(wid, refs, tv)
        wid += 1

    # buildings: a closed 4-corner way inside some cells, own corner nodes
    nid = side * side + 1
    buildings = []
    cells = p.grid * p.grid
    built = sorted(rng.sample(range(cells), round(BUILDING_SHARE * cells)))
    corner_versions = counts(4 * len(built), 2)
    building_versions = counts(len(built), p.max_versions)
    for b, cell in enumerate(built):
        j, i = divmod(cell, p.grid)
        x0 = lon0 + (i + 0.2) * CELL_DEG
        y0 = lat0 + (j + 0.2) * CELL_DEG
        w = CELL_DEG * rng.uniform(0.3, 0.6)
        h = CELL_DEG * rng.uniform(0.3, 0.6)
        corners = []
        for k, (dx, dy) in enumerate(((0, 0), (w, 0), (w, h), (0, h))):
            add_node(nid, x0 + dx, y0 + dy, None, corner_versions[4 * b + k])
            corners.append(nid)
            nid += 1
        tv = [{"building": "yes"}]
        for v in range(2, building_versions[b] + 1):
            tv.append({"building": "house", "building:levels": str(v)})
        add_way(wid, corners + corners[:1], tv)
        buildings.append(wid)
        wid += 1

    # multipolygon relations over disjoint groups of building ways
    rng.shuffle(buildings)
    if p.relations * p.relation_members > len(buildings):
        raise ValueError("not enough buildings for the relations asked for")
    for rid, n in zip(range(1, p.relations + 1), counts(p.relations, p.max_versions)):
        group = buildings[(rid - 1) * p.relation_members : rid * p.relation_members]
        members = [{"type": "way", "id": w, "role": "outer"} for w in sorted(group)]
        for v, ts in enumerate(stamps(n), start=1):
            tags = {"type": "multipolygon", "landuse": LANDUSE[(rid + v) % len(LANDUSE)]}
            city.relations.append(dict(osm_id=rid, members=members, tags=tags,
                                       **info(v, ts)))

    city.nodes.sort(key=lambda e: (e["osm_id"], e["version"]))
    city.ways.sort(key=lambda e: (e["osm_id"], e["version"]))
    city.max_ts_ms = max(e["ts_ms"] for e in city.nodes + city.ways + city.relations)
    for cs in range(1, n_changesets + 1):
        city.changesets.append(_changeset(rng, cs, EPOCH + timedelta(hours=cs)))
    return city


def _changeset(rng: random.Random, cs: int, created: datetime) -> dict:
    uid, user = _user(cs)
    tag = rng.choice(HASHTAGS)
    lon, lat = ORIGIN
    return dict(
        id=cs, created_at=created, closed_at=created + timedelta(minutes=5),
        tags={"created_by": rng.choice(EDITORS), "comment": f"edits {tag}"},
        hashtags=[tag], user_id=uid, user_name=user, open=False,
        min_lon=lon, min_lat=lat, max_lon=lon + 0.01, max_lat=lat + 0.01,
    )


# --- files -----------------------------------------------------------------


def write_city_pbf(city: City, path: str) -> None:
    write_history_pbf(path, city.nodes, city.ways, city.relations, block_size=4000)


def _changeset_table(changesets: list[dict], store: bool):
    """Changesets as an arrow table: the ``--changesets`` input schema, or
    (``store``) the replication changeset-store schema with a WKB bbox."""
    import struct

    import pyarrow as pa

    ts = pa.timestamp("us", tz="UTC")
    cols = {
        "id": pa.array([c["id"] for c in changesets], pa.int64()),
        "created_at": pa.array([c["created_at"] for c in changesets], ts),
        "closed_at": pa.array([c["closed_at"] for c in changesets], ts),
        "tags": pa.array([list(c["tags"].items()) for c in changesets],
                         pa.map_(pa.string(), pa.string())),
        "hashtags": pa.array([c["hashtags"] for c in changesets], pa.list_(pa.string())),
        "user_id": pa.array([c["user_id"] for c in changesets], pa.int64()),
        "user_name": pa.array([c["user_name"] for c in changesets], pa.string()),
        "open": pa.array([c["open"] for c in changesets], pa.bool_()),
    }
    for k in ("min_lon", "min_lat", "max_lon", "max_lat"):
        cols[k] = pa.array([c[k] for c in changesets], pa.float64())
    if store:
        header = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"
        cols["geom"] = pa.array(
            [header + struct.pack("<10d", c["min_lon"], c["min_lat"], c["max_lon"],
                                  c["min_lat"], c["max_lon"], c["max_lat"],
                                  c["min_lon"], c["max_lat"], c["min_lon"], c["min_lat"])
             for c in changesets], pa.binary())
        order = ["id", "user_id", "created_at", "closed_at", "open", "user_name",
                 "tags", "hashtags", "min_lon", "min_lat", "max_lon", "max_lat", "geom"]
        cols = {k: cols[k] for k in order}
    return pa.table(cols)


def write_changesets_parquet(changesets: list[dict], path: str, store: bool = False) -> None:
    import pyarrow.parquet as pq

    pq.write_table(_changeset_table(changesets, store), path, compression="zstd")


def write_countries_csv(seed: int, p: CityParams, path: str) -> None:
    """Four 'countries' meeting at a seeded point inside the city, so ways
    crossing the borders belong to two of them."""
    rng = random.Random(seed ^ 0x5EED)
    lon0, lat0 = ORIGIN
    size = p.grid * CELL_DEG
    cx = lon0 + size * rng.uniform(0.3, 0.7)
    cy = lat0 + size * rng.uniform(0.3, 0.7)
    x0, y0, x1, y1 = lon0 - size, lat0 - size, lon0 + 2 * size, lat0 + 2 * size
    quads = {
        "SW": (x0, y0, cx, cy), "SE": (cx, y0, x1, cy),
        "NW": (x0, cy, cx, y1), "NE": (cx, cy, x1, y1),
    }
    lines = ["id;wkt"]
    for name, (a, b, c, d) in quads.items():
        lines.append(f"{name};POLYGON(({a!r} {b!r}, {c!r} {b!r}, {c!r} {d!r},"
                     f" {a!r} {d!r}, {a!r} {b!r}))")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


# --- the minutely mirror ---------------------------------------------------


@dataclass
class Minute:
    """One published replication minute and what it must produce."""

    sequence: int  # entity-stream sequence
    timestamp: datetime
    edit_time: datetime  # timestamp of every entity version in the minute
    osc_gz: bytes
    changesets_gz: bytes
    # (osm_type, osm_id, latest osm_version) of every entity whose history
    # this sequence must rebuild: the moved nodes and the ways through them
    expected: list[tuple[str, int, int]]
    rows_published: int  # entity + changeset elements in the minute


def state_time(sequence: int, city: City) -> datetime:
    """Entity-stream state timestamps: sequence FIRST_SEQUENCE carries the
    time of the newest version in the city, then one state per minute."""
    start = datetime.fromtimestamp(city.max_ts_ms / 1000, tz=timezone.utc)
    return start + timedelta(minutes=sequence - FIRST_SEQUENCE)


def make_minutes(seed: int, city: City, mp: MinuteParams) -> Iterator[Minute]:
    """The minutes after FIRST_SEQUENCE, without end. Each moves ``node_edits``
    distinct tagged street corners (a new major version of the node and a
    new minor version of every way through it) under ``changesets`` new
    closed changesets."""
    rng = random.Random(seed ^ 0x3141)
    version = dict(city.node_version)
    pos = dict(city.node_pos)
    next_cs = len(city.changesets) + 1
    for seq in itertools.count(FIRST_SEQUENCE + 1):
        ts = state_time(seq, city)
        edit_ts = ts - timedelta(seconds=20)
        cs_ids = list(range(next_cs, next_cs + mp.changesets))
        next_cs += mp.changesets
        rows, expected = [], []
        touched_ways: set[int] = set()
        for nid in sorted(rng.sample(city.tagged_corners, mp.node_edits)):
            version[nid] += 1
            lon, lat = pos[nid]
            lon = round(lon + rng.uniform(-1, 1) * CELL_DEG * 0.02, 7)
            lat = round(lat + rng.uniform(-1, 1) * CELL_DEG * 0.02, 7)
            pos[nid] = (lon, lat)
            cs = rng.choice(cs_ids)
            uid, user = _user(cs)
            rows.append(dict(osm_type="node", osm_id=nid, version=version[nid],
                             ts=edit_ts, changeset=cs, user_id=uid, user_name=user,
                             visible=True, tags=city.node_tags[nid], lon=lon, lat=lat))
            expected.append(("node", nid, version[nid]))
            touched_ways.update(city.ways_of_node.get(nid, ()))
        expected.extend(("way", w, city.way_version[w]) for w in sorted(touched_ways))
        changesets = [_changeset(rng, cs, edit_ts - timedelta(minutes=1)) for cs in cs_ids]
        yield Minute(seq, ts, edit_ts, _gz(encode_osc(rows)),
                     _gz(_changesets_xml(changesets)), sorted(expected),
                     len(rows) + len(changesets))


def _gz(data: bytes) -> bytes:
    return gzip.compress(data, mtime=0)


def _changesets_xml(changesets: list[dict]) -> bytes:
    root = ET.Element("osm", version="0.6")
    for c in changesets:
        e = ET.SubElement(
            root, "changeset", id=str(c["id"]),
            created_at=c["created_at"].strftime("%Y-%m-%dT%H:%M:%SZ"),
            closed_at=c["closed_at"].strftime("%Y-%m-%dT%H:%M:%SZ"),
            open="false", uid=str(c["user_id"]), user=c["user_name"],
            min_lon=repr(c["min_lon"]), min_lat=repr(c["min_lat"]),
            max_lon=repr(c["max_lon"]), max_lat=repr(c["max_lat"]),
        )
        for k, v in c["tags"].items():
            ET.SubElement(e, "tag", k=k, v=v)
    return ET.tostring(root, encoding="utf-8", xml_declaration=True)


def _changeset_state(sequence: int, ts: datetime) -> str:
    return f"---\nlast_run: {ts.strftime('%Y-%m-%d %H:%M:%S')}.000000000 +00:00\nsequence: {sequence}\n"


class Mirror:
    """A ``file://`` replication mirror with an entity stream under
    ``minute/`` and a changeset stream under ``changesets/``."""

    def __init__(self, root: str):
        self.minute = os.path.join(root, "minute")
        self.changesets = os.path.join(root, "changesets")

    def _write(self, base: str, rel: str, data: bytes | str) -> None:
        path = os.path.join(base, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data.encode() if isinstance(data, str) else data)
        os.replace(tmp, path)

    def publish_start(self, city: City) -> None:
        """Both streams at FIRST_SEQUENCE, where a seeded dataset resumes."""
        ts = state_time(FIRST_SEQUENCE, city)
        st = ReplicationState(FIRST_SEQUENCE, ts.isoformat()).format()
        self._write(self.minute, f"{sequence_path(FIRST_SEQUENCE)}.state.txt", st)
        self._write(self.minute, "state.txt", st)
        self._write(self.changesets, "state.yaml", _changeset_state(FIRST_SEQUENCE, ts))

    def publish(self, m: Minute) -> None:
        """Payloads first, then the per-sequence states, then the top-level
        states a client polls, like a real replication server."""
        rel = sequence_path(m.sequence)
        self._write(self.minute, f"{rel}.osc.gz", m.osc_gz)
        cs_rel = sequence_path(m.sequence + 1)  # file N carries state N-1
        self._write(self.changesets, f"{cs_rel}.osm.gz", m.changesets_gz)
        st = ReplicationState(m.sequence, m.timestamp.isoformat()).format()
        self._write(self.minute, f"{rel}.state.txt", st)
        cs_state = _changeset_state(m.sequence, m.timestamp)
        self._write(self.changesets, f"{cs_rel}.state.txt", cs_state)
        self._write(self.changesets, "state.yaml", cs_state)
        self._write(self.minute, "state.txt", st)
