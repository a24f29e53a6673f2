"""Polygon-feature rules (SURVEY.md F6): decides whether a closed way is an
area. This is the community-maintained OSM "polygon features" ruleset (see
https://github.com/tyrasd/osm-polygon-features; reference ships it as
``resources/polygon_features.csv``, applied in
``ContributionGeometry.java:24-56,163-172``).

Semantics: a tag (key, value) is a polygon feature if the key has a rule and
- rule 'all'        → any value matches,
- rule 'whitelist'  → value ∈ values,
- rule 'blacklist'  → value ∉ values.

A closed way is an area iff tags['area'] != 'no' (case-insensitive), it has
more than two refs with first == last, and ANY tag is a polygon feature.
"""

from __future__ import annotations

RULES: dict[str, tuple[str, frozenset[str]]] = {
    "building": ("all", frozenset()),
    "highway": ("whitelist", frozenset({"services", "rest_area", "escape", "elevator"})),
    "natural": ("blacklist", frozenset({"coastline", "cliff", "ridge", "arete", "tree_row"})),
    "landuse": ("all", frozenset()),
    "waterway": ("whitelist", frozenset({"riverbank", "dock", "boatyard", "dam"})),
    "amenity": ("all", frozenset()),
    "leisure": ("all", frozenset()),
    "barrier": (
        "whitelist",
        frozenset({"city_wall", "ditch", "hedge", "retaining_wall", "wall", "spikes"}),
    ),
    "railway": ("whitelist", frozenset({"station", "turntable", "roundhouse", "platform"})),
    "area": ("all", frozenset()),
    "boundary": ("all", frozenset()),
    "man_made": ("blacklist", frozenset({"cutline", "embankment", "pipeline"})),
    "power": ("whitelist", frozenset({"plant", "substation", "generator", "transformer"})),
    "place": ("all", frozenset()),
    "shop": ("all", frozenset()),
    "aeroway": ("blacklist", frozenset({"taxiway"})),
    "tourism": ("all", frozenset()),
    "historic": ("all", frozenset()),
    "public_transport": ("all", frozenset()),
    "office": ("all", frozenset()),
    "building:part": ("all", frozenset()),
    "military": ("all", frozenset()),
    "ruins": ("all", frozenset()),
    "area:highway": ("all", frozenset()),
    "craft": ("all", frozenset()),
    "golf": ("all", frozenset()),
    "indoor": ("all", frozenset()),
}


def test_polygon_feature(key: str, value: str) -> bool:
    rule = RULES.get(key)
    if rule is None:
        return False
    kind, values = rule
    if kind == "all":
        return True
    if kind == "whitelist":
        return value in values
    return value not in values


def tags_have_polygon_feature(tags: dict[str, str] | None) -> bool:
    if not tags:
        return False
    return any(test_polygon_feature(k, v) for k, v in tags.items())
