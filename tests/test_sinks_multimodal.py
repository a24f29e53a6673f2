"""GeoParquet sink + multimodal plumbing tests."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.operators.contributions import (
    node_contribution_events,
    synthesize_contributions,
)
from ohsome_planet_spark.operators.multimodal import (
    decode_stub,
    frame_sample_plan,
    resize_plan,
    with_media_meta,
)
from ohsome_planet_spark.schemas import NODE_SCHEMA
from ohsome_planet_spark.sources.geoparquet import (
    read_geo_metadata,
    write_contributions,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_geoparquet_roundtrip(spark, tmp_path):
    nodes = spark.createDataFrame(
        [
            (1, 1, ts("2020-01-01T00:00:00"), 10, 1, "u", True, {"a": "b"}, 8.0, 49.0),
            (1, 2, ts("2020-06-01T00:00:00"), 11, 1, "u", True, {"a": "b"}, 8.5, 49.5),
            (2, 1, ts("2020-01-01T00:00:00"), 10, 1, "u", True, {"x": "y"}, -120.0, 30.0),
        ],
        NODE_SCHEMA,
    )
    contribs = synthesize_contributions(node_contribution_events(nodes))
    out = str(tmp_path / "contribs")
    write_contributions(contribs, out, bloom_filter_columns=("osm_id",))

    back = spark.read.parquet(out)
    assert back.count() == 3
    layers = {r.layer for r in back.select("layer").distinct().collect()}
    assert layers == {"latest", "history"}

    import glob

    import pyarrow.parquet as pq

    # every output file carries its OWN bbox/geometry_types (per-writer
    # Envelope semantics, AvroGeoParquetWriter.java:122-133), not the
    # dataset-level extent
    seen_bboxes = set()
    for f in glob.glob(out + "/**/*.parquet", recursive=True):
        geo = read_geo_metadata(f)
        assert geo["version"] == "1.1.0"
        assert geo["primary_column"] == "geometry"
        col = geo["columns"]["geometry"]
        t = pq.read_table(f, columns=["bbox", "geometry_type"])
        if len(t) == 0:
            assert "bbox" not in col
            continue
        b = t.column("bbox").combine_chunks()
        expect = [
            min(b.field("xmin").to_pylist()),
            min(b.field("ymin").to_pylist()),
            max(b.field("xmax").to_pylist()),
            max(b.field("ymax").to_pylist()),
        ]
        assert col["bbox"] == expect
        assert set(col["geometry_types"]) == {
            v for v in t.column("geometry_type").to_pylist() if v
        }
        assert col["covering"]["bbox"]["xmin"] == ["bbox", "xmin"]
        seen_bboxes.add(tuple(col["bbox"]))
    assert len(seen_bboxes) > 1  # files genuinely differ in extent
    # reread through spark still fine after footer rewrite
    assert spark.read.parquet(out).filter("status = 'latest'").count() == 2


def test_multimodal_pipeline(spark):
    df = spark.createDataFrame(
        [
            (1, b"\x89PNG\r\n" + b"x" * 100),
            (2, b"\xff\xd8\xff\xe0" + b"y" * 50),
            (3, b"plain"),
        ],
        "media_id bigint, media binary",
    )
    meta = with_media_meta(df)
    kinds = {r.media_id: r.kind for r in meta.collect()}
    assert kinds == {1: "png", 2: "jpeg", 3: "unknown"}

    decoded = decode_stub(meta)
    rows = {r.media_id: r for r in decoded.collect()}
    assert all(1 <= rows[i].fake_width <= 1920 for i in rows)
    # determinism
    again = {r.media_id: r for r in decode_stub(meta).collect()}
    assert all(again[i].fake_width == rows[i].fake_width for i in rows)

    resized = resize_plan(decoded, max_side=256)
    for r in resized.collect():
        assert max(r.target_width, r.target_height) <= 256
        assert r.target_width >= 1 and r.target_height >= 1

    frames = frame_sample_plan(df, every_n=10, max_frames=4)
    per_media = (
        frames.groupBy("media_id").agg(F.count("frame_idx").alias("n")).collect()
    )
    assert all(1 <= r.n <= 4 for r in per_media)


def test_bbox_covering_prunes_row_groups(spark, tmp_path):
    """GeoParquet 1.1 covering path (round-6 verdict item #6): with
    spatial sorting on the XZ code + small row groups, the per-row bbox
    struct's column statistics let a bbox filter skip row groups — and
    Spark pushes the nested bbox predicate down to the parquet scan."""
    import glob

    import pyarrow.parquet as pq

    # 120 nodes marching east along a line: spatially sortable, and any
    # small query window should only touch a few row groups
    rows = [
        (
            i, 1, ts("2020-01-01T00:00:00"), 10, 1, "u", True, {"a": "b"},
            -170.0 + i * 2.8, 10.0,
        )
        for i in range(120)
    ]
    nodes = spark.createDataFrame(rows, NODE_SCHEMA)
    contribs = synthesize_contributions(node_contribution_events(nodes)).coalesce(1)
    out = str(tmp_path / "spatial")
    write_contributions(
        contribs, out, split_latest=False, sort_spatially=True, row_group_size=10
    )

    qxmin, qxmax = 0.0, 20.0  # small window over the equator-line sweep
    total = scanned = kept_rows = 0
    for f in glob.glob(out + "/**/*.parquet", recursive=True):
        pf = pq.ParquetFile(f)
        ncols = {c: i for i, c in enumerate(pf.schema_arrow.names)}
        # locate the bbox.xmin/xmax leaf columns by path
        md = pf.metadata
        for rg in range(md.num_row_groups):
            total += 1
            stats = {}
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in ("bbox.xmin", "bbox.xmax"):
                    stats[col.path_in_schema] = col.statistics
            assert stats, "bbox leaf statistics missing"
            overlaps = (
                stats["bbox.xmin"].max >= qxmin and stats["bbox.xmax"].min <= qxmax
                and stats["bbox.xmin"].min <= qxmax and stats["bbox.xmax"].max >= qxmin
            )
            if overlaps:
                scanned += 1
                kept_rows += md.row_group(rg).num_rows
    assert total >= 10  # the small row_group_size took effect
    # spatial sort makes the window touch a small fraction of row groups
    assert scanned <= max(2, total // 4), (scanned, total)

    # Spark pushes the nested bbox predicate into the parquet scan
    df = spark.read.parquet(out).filter(
        (F.col("bbox.xmax") >= qxmin) & (F.col("bbox.xmin") <= qxmax)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bbox" in plan.split("PushedFilters")[1][:200]
    # and the filtered result is exactly the window's rows
    got = sorted(r.osm_id for r in df.collect())
    expect = sorted(
        i for i in range(120) if -170.0 + i * 2.8 >= qxmin - 1e-9 and -170.0 + i * 2.8 <= qxmax + 1e-9
    )
    assert got == expect


# ids at or above 2**32 reach parquet-mr as Java longs through py4j;
# smaller ones arrive as Integer and hash differently from the stored longs
BIG_ID = 2**32


def _parquet_files(out):
    import glob

    return sorted(glob.glob(out + "/**/*.parquet", recursive=True))


def _osm_id_blocks(spark, f, read_options=None):
    """(block, osm_id column chunk, reader) per row group parquet-mr keeps
    for ``f`` under ``read_options`` (all of them when None)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path("file://" + f)
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    if read_options is None:
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    else:
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            infile, read_options
        )
    blocks = []
    for block in reader.getRowGroups():
        for col in block.getColumns():
            if col.getPath().toDotString() == "osm_id":
                blocks.append((block, col))
    return blocks, reader


def _bloom_bitset_sizes(spark, out):
    sizes = []
    for f in _parquet_files(out):
        blocks, reader = _osm_id_blocks(spark, f)
        try:
            for block, col in blocks:
                bloom = reader.getBloomFilterDataReader(block).readBloomFilter(col)
                assert bloom is not None, f"no osm_id bloom filter in {f}"
                sizes.append(bloom.getBitsetSize())
        finally:
            reader.close()
    assert sizes
    return sizes


def test_bloom_filter_follows_rows(spark, tmp_path):
    """The osm_id filter is sized to the chunk's distinct ids: a small
    write gets a small bitset instead of parquet-mr's fixed 1 MiB, and a
    chunk too large for the 512 KiB candidate keeps the 1 MiB cap."""
    small = str(tmp_path / "small")
    write_contributions(
        spark.range(BIG_ID, BIG_ID + 300).withColumnRenamed("id", "osm_id"),
        small,
        bloom_filter_columns=("osm_id",),
        split_latest=False,
    )
    assert max(_bloom_bitset_sizes(spark, small)) <= 4 * 1024

    large = str(tmp_path / "large")
    write_contributions(
        spark.range(BIG_ID, BIG_ID + 600_000, numPartitions=1).withColumnRenamed(
            "id", "osm_id"
        ),
        large,
        bloom_filter_columns=("osm_id",),
        split_latest=False,
    )
    assert _bloom_bitset_sizes(spark, large) == [1024 * 1024]


def _spanning_groups(spark, out):
    """Four 10-row groups whose osm_id min/max all span BIG_ID+3 ..
    BIG_ID+1000, so statistics cannot prune a probe in between; BIG_ID+123
    sits in group 2 only."""
    ids = []
    for g in range(4):
        ids += [BIG_ID + g, BIG_ID + 1000 + g]
        ids += [BIG_ID + 100 + g * 10 + j for j in range(8)]
    df = spark.createDataFrame([(i,) for i in ids], "osm_id bigint").coalesce(1)
    write_contributions(
        df, out, bloom_filter_columns=("osm_id",), split_latest=False,
        row_group_size=10,
    )


def test_row_group_size_keeps_bloom_filters(spark, tmp_path):
    out = str(tmp_path / "groups")
    _spanning_groups(spark, out)
    (f,) = _parquet_files(out)
    blocks, reader = _osm_id_blocks(spark, f)
    reader.close()
    assert len(blocks) == 4  # the Spark writer capped the row groups
    assert all(col.getBloomFilterOffset() >= 0 for _block, col in blocks)
    assert read_geo_metadata(f)["version"] == "1.1.0"


def test_absent_id_lookup_prunes_through_bloom_filter(spark, tmp_path):
    out = str(tmp_path / "groups")
    _spanning_groups(spark, out)
    (f,) = _parquet_files(out)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    filters = jvm.org.apache.parquet.filter2.predicate.FilterApi
    compat = jvm.org.apache.parquet.filter2.compat.FilterCompat

    def kept(osm_id, use_bloom=True):
        pred = filters.eq(filters.longColumn("osm_id"), osm_id)
        opts = (
            jvm.org.apache.parquet.HadoopReadOptions.builder(conf)
            .withRecordFilter(compat.get(pred))
            .useBloomFilter(use_bloom)
            .build()
        )
        blocks, reader = _osm_id_blocks(spark, f, opts)
        reader.close()
        return len(blocks)

    assert kept(BIG_ID + 500) == 0
    assert kept(BIG_ID + 123) == 1
    assert kept(BIG_ID + 500, use_bloom=False) == 4


def test_footer_append_geo_is_o_footer(spark, tmp_path, monkeypatch):
    """The geo post-pass patches the footer in place: the bytes before the
    old footer are untouched and only the file's tail is read."""
    import builtins
    import os
    import struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ohsome_planet_spark.sources import geoparquet

    f = str(tmp_path / "big.parquet")
    n = 2000
    blobs = [os.urandom(700) for _ in range(n)]
    # no ARROW:schema key, like the files Spark writes (pyarrow would
    # otherwise rebuild the schema metadata from that key alone)
    pq.write_table(
        pa.table({"osm_id": list(range(n)), "blob": blobs}), f,
        compression="none", store_schema=False,
    )
    data = open(f, "rb").read()
    assert len(data) >= 1_000_000
    footer_start = len(data) - 8 - struct.unpack("<I", data[-8:-4])[0]

    read_bytes = []

    class CountingFile:
        def __init__(self, fh):
            self._fh = fh

        def read(self, *args):
            chunk = self._fh.read(*args)
            read_bytes.append(len(chunk))
            return chunk

        def __getattr__(self, name):
            return getattr(self._fh, name)

        def __enter__(self):
            self._fh.__enter__()
            return self

        def __exit__(self, *exc):
            return self._fh.__exit__(*exc)

    monkeypatch.setattr(
        geoparquet, "open",
        lambda *a, **k: CountingFile(builtins.open(*a, **k)), raising=False,
    )
    geo = geoparquet.geo_metadata((1.0, 2.0, 3.0, 4.0), ("Point",))
    geoparquet._footer_append_geo(spark, f, geo)
    monkeypatch.undo()

    assert read_bytes and sum(read_bytes) < 64 * 1024
    after = open(f, "rb").read()
    assert after[:footer_start] == data[:footer_start]
    assert read_geo_metadata(f) == geo
    assert pq.read_table(f).column("blob").to_pylist() == blobs


def test_geo_post_pass_is_visible_to_pyarrow_readers(spark, tmp_path):
    """A pyarrow-written input carries an ``ARROW:schema`` key; the post-pass
    drops it with the footer patch, so pyarrow readers see ``geo``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ohsome_planet_spark.sources import geoparquet

    f = str(tmp_path / "arrow.parquet")
    bbox = pa.array(
        [{"xmin": 1.0, "ymin": 2.0, "xmax": 3.0, "ymax": 4.0}],
        pa.struct([(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")]),
    )
    pq.write_table(
        pa.table({"osm_id": [1], "bbox": bbox, "geometry_type": ["Point"]}), f
    )
    assert b"ARROW:schema" in pq.ParquetFile(f).metadata.metadata

    geoparquet._attach_geo_file(spark, f)

    geo = read_geo_metadata(f)
    assert geo is not None
    assert geo["columns"]["geometry"]["bbox"] == [1.0, 2.0, 3.0, 4.0]
    assert geo["columns"]["geometry"]["geometry_types"] == ["Point"]
    assert pq.read_table(f).column("osm_id").to_pylist() == [1]
