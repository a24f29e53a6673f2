"""``cli changesets`` over the dump shapes the reference reads (S9): a
pbzip2-style multi-stream ``.osm.bz2`` whose stream boundaries cut
elements, at any compression level, plain ``.osm`` and ``.osm.gz``. Each
bz2 stream is one partition of the ``osmchangesets`` source, and the table
equals one whole-file parse."""

import bz2
import gzip

import pytest

from ohsome_planet_spark.cli import main
from ohsome_planet_spark.sources.osmxml import parse_changesets_bytes


def _dump(n: int = 40) -> bytes:
    """A changeset dump: tagged, untagged (self-closing) and open
    changesets, one with a '>' inside an attribute value."""
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n'
           ' <bound box="-90,-180,90,180" origin="test"/>\n']
    for i in range(1, n + 1):
        attrs = (f'id="{i}" created_at="2024-01-01T00:{i % 60:02d}:00Z" uid="{i % 7}"'
                 f' user="{"a>b" if i == 5 else f"user{i}"}" num_changes="{i}"')
        if i % 4 == 0:
            out.append(f' <changeset {attrs} open="true"/>\n')
            continue
        out.append(f' <changeset {attrs} closed_at="2024-01-01T01:00:00Z" open="false"'
                   f' min_lon="{i / 100}" min_lat="1.0" max_lon="{i / 50}" max_lat="2.0">\n')
        out.append(f'  <tag k="comment" v="edit {i} #team{i % 3}"/>\n'
                   f'  <tag k="created_by" v="JOSM"/>\n </changeset>\n')
    out.append("</osm>\n")
    return "".join(out).encode()


def _cuts(xml: bytes) -> list[int]:
    """Stream boundaries like pbzip2's fixed-size input blocks, placed to
    cut a start tag after its '<', a start tag inside its attributes, an
    element's body, and one right at a start tag's '<'."""
    starts = [i for i in range(len(xml)) if xml.startswith(b"<changeset ", i)]
    cuts = [starts[3] + 1, starts[9] + 30, xml.index(b"<tag", starts[17]) + 8, starts[25]]
    assert not any(xml[c] == b"<"[0] for c in cuts[:3])
    return cuts


def _pbzip2(xml: bytes, cuts: list[int], level: int) -> bytes:
    bounds = [0, *cuts, len(xml)]
    return b"".join(bz2.compress(xml[a:b], level) for a, b in zip(bounds, bounds[1:]))


def _expected(xml: bytes) -> dict:
    return {r["id"]: r for r in parse_changesets_bytes(xml)}


def _check_table(spark, out: str, xml: bytes) -> None:
    want = _expected(xml)
    got = {r.id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == set(want)
    for cid, w in want.items():
        g = got[cid]
        assert (g.user_id, g.user_name, g.open, g.tags) == (
            w["user_id"], w["user_name"], w["open"], w["tags"]
        )
        assert g.created_at == w["created_at"].to_pydatetime()
        assert (g.min_lon, g.max_lon, g.geom) == (w["min_lon"], w["max_lon"], w["geom"])


def _partitions(spark, path: str) -> int:
    return spark.read.format("osmchangesets").load(path).rdd.getNumPartitions()


@pytest.mark.parametrize("level", [9, 1])
def test_multistream_dump_reads_one_partition_per_stream(spark, tmp_path, capsys, level):
    xml = _dump()
    cuts = _cuts(xml)
    dump, out = tmp_path / "dump.osm.bz2", str(tmp_path / "changesets")
    dump.write_bytes(_pbzip2(xml, cuts, level))
    assert bz2.decompress(dump.read_bytes()) == xml

    assert main(["changesets", "--input", str(dump), "--out", out]) == 0
    assert f"wrote {len(_expected(xml))} changesets" in capsys.readouterr().out
    assert _partitions(spark, str(dump)) == len(cuts) + 1
    _check_table(spark, out, xml)
    assert spark.read.parquet(out).filter("id = 5").first().user_name == "a>b"


@pytest.mark.parametrize("name", ["dump.osm", "dump.osm.gz", "single.osm.bz2"])
def test_single_stream_dumps_read_as_one_partition(spark, tmp_path, name):
    xml = _dump()
    pack = {"dump.osm": bytes, "dump.osm.gz": gzip.compress, "single.osm.bz2": bz2.compress}
    dump, out = tmp_path / name, str(tmp_path / "changesets")
    dump.write_bytes(pack[name](xml))

    assert main(["changesets", "--input", str(dump), "--out", out]) == 0
    assert _partitions(spark, str(dump)) == 1
    _check_table(spark, out, xml)


def test_bz2_dump_without_a_stream_raises(tmp_path):
    dump = tmp_path / "dump.osm.bz2"
    dump.write_bytes(_dump())  # named .bz2, but no bz2 stream in it
    with pytest.raises(ValueError, match="no bz2 stream"):
        main(["changesets", "--input", str(dump), "--out", str(tmp_path / "out")])
