"""GeoParquet sink (SURVEY.md S13/S14).

Writes the contributions dataset the way the reference does
(``ohsome-parquet/.../AvroGeoParquetWriter.java:92-134``, ``GeoParquet.java:40-116``,
``ContribUtil.java:28-53``):

- zstd compression, dictionary encoding disabled for ``osm_id``;
- optional bloom filters (update files use refs/user.id/changeset.id —
  ``ContributionStateManager.java:159-174``), each sized by parquet-mr to
  the distinct values of the column chunk it indexes, capped at the fixed
  1 MiB filter parquet-mr writes by default;
- GeoParquet 1.1.0 ``geo`` file metadata with each file's own bbox and
  geometry types, accumulated from that file's rows;
- ``latest/`` vs ``history/`` layout split on whether the row is currently
  valid (valid_to at the open-ended sentinel).

Spark writes every data page, index and bloom filter; the ``geo`` key is
then added by a post-pass that rewrites only each file's footer in place
(O(footer) per file), so nothing Spark wrote is re-encoded or dropped.
"""

from __future__ import annotations

import json
import os
import struct

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import VALID_TO_SENTINEL

GEO_VERSION = "1.1.0"

# Bloom filters are adaptive: parquet-mr builds BLOOM_CANDIDATES bitsets,
# halving from BLOOM_MAX_BYTES, and keeps the smallest whose expected NDV
# at the default 1% fpp covers the chunk's distinct values, so a minutely
# update file carries a filter of kilobytes, not a fixed megabyte. The cap
# is parquet-mr's default size (1 MiB, about 870k distinct ids at 1%), so
# planet-size chunks keep that filter and its false-positive rate;
# 11 candidates reach down to 1 KiB.
BLOOM_MAX_BYTES = 1024 * 1024
BLOOM_CANDIDATES = 11


def geo_metadata(
    bbox: tuple[float, float, float, float] | None,
    geometry_types: tuple[str, ...] = (),
    covering: bool = False,
) -> dict:
    col = {
        "encoding": "WKB",
        "geometry_types": sorted(geometry_types),
        "crs": None,  # OGC:CRS84 per GeoParquet default
    }
    if bbox is not None:
        col["bbox"] = list(bbox)
    if covering:
        # GeoParquet 1.1 bbox covering: points readers at the per-row bbox
        # struct (GeoParquet.java:65-70 coveringString)
        col["covering"] = {
            "bbox": {k: ["bbox", k] for k in ("xmin", "ymin", "xmax", "ymax")}
        }
    return {
        "version": GEO_VERSION,
        "primary_column": "geometry",
        "columns": {"geometry": col},
    }


def write_contributions(
    contribs: DataFrame,
    path: str,
    bloom_filter_columns: tuple[str, ...] = (),
    split_latest: bool = True,
    sort_spatially: bool = False,
    row_group_size: int | None = None,
) -> None:
    """``sort_spatially`` clusters rows by the XZ space-filling code
    within each output task before writing, so parquet row groups become
    spatially coherent and the per-row ``bbox`` struct's column statistics
    actually prune: a bbox-filtered 100 TB scan then skips whole row
    groups (and, with the file-level ``geo`` bbox, whole files) instead of
    decoding every page. This strictly extends the reference, which
    records file-level extents only (``GeoParquet.java:40-116``) —
    per-row ``covering`` + clustering is the GeoParquet 1.1 spec path.
    Sorting is within partitions only (no extra exchange).

    ``row_group_size`` caps rows per row group in the Spark writer —
    smaller groups = finer pruning granularity at slightly more footer
    overhead (the classic row-group-size tradeoff; parquet default ~1M).
    """
    df = contribs
    if sort_spatially:
        df = df.sortWithinPartitions(F.col("xzcode.code"))
    if split_latest:
        df = df.withColumn(
            "layer",
            F.when(F.col("valid_to") == F.lit(VALID_TO_SENTINEL), F.lit("latest")).otherwise(
                F.lit("history")
            ),
        )
    writer = df.write.mode("overwrite").option("compression", "zstd").option(
        "parquet.enable.dictionary#osm_id", "false"
    )
    if bloom_filter_columns:
        # parquet-mr 1.16 reads these two keys globally only (a ``#col``
        # form is silently ignored); the candidate count is per column
        writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true").option(
            "parquet.bloom.filter.max.bytes", str(BLOOM_MAX_BYTES)
        )
    for col in bloom_filter_columns:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true").option(
            f"parquet.bloom.filter.candidates.number#{col}", str(BLOOM_CANDIDATES)
        )
    if row_group_size is not None:
        writer = writer.option("parquet.block.row.count.limit", str(row_group_size))
    if split_latest:
        writer = writer.partitionBy("layer", "osm_type")
    writer.parquet(path)

    _attach_geo_metadata(contribs.sparkSession, path)


def _file_geo_metadata(table) -> dict:
    """Per-file ``geo`` metadata — bbox and geometry_types accumulated from
    this file's own rows, exactly like the reference's per-writer Envelope
    (``AvroGeoParquetWriter.java:122-133``: ``columnBBox`` lives on the
    writer, so every output file carries its own extent)."""
    import pyarrow.compute as pc

    bbox = None
    covering = "bbox" in table.column_names
    if covering and len(table):
        b = table.column("bbox").combine_chunks()
        vals = [
            pc.min(b.field("xmin")).as_py(),
            pc.min(b.field("ymin")).as_py(),
            pc.max(b.field("xmax")).as_py(),
            pc.max(b.field("ymax")).as_py(),
        ]
        if all(v is not None for v in vals):
            bbox = tuple(vals)
    gtypes: tuple[str, ...] = ()
    if "geometry_type" in table.column_names:
        gtypes = tuple(
            v
            for v in pc.unique(table.column("geometry_type")).to_pylist()
            if v
        )
    return geo_metadata(bbox, gtypes, covering=covering)


def _footer_append_geo(spark, full: str, geo: dict) -> None:
    """Metadata-only footer surgery: re-serialize the existing parquet
    footer with the ``geo`` key-value appended, leaving every data page,
    column/offset index and bloom filter byte untouched. The file is
    patched in place — read the 8-byte tail, overwrite from the old
    footer's start, truncate — so the I/O is O(footer) per file, like the
    reference's in-writer footer (``AvroGeoParquetWriter.java:122-133``),
    and a crash can only lose the footer, never the row groups."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path("file://" + os.path.abspath(full))
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        footer = reader.getFooter()
    finally:
        reader.close()
    conv = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter()
    fmd = conv.toParquetMetadata(1, footer)
    kvs = fmd.getKey_value_metadata()
    if kvs is not None:
        # idempotent: replace a pre-existing geo entry. A pyarrow-written
        # input also carries ARROW:schema, whose embedded metadata pyarrow
        # readers take instead of this list, so they would not see geo:
        # drop it too (readers then derive the schema from parquet types).
        it = kvs.iterator()
        while it.hasNext():
            if it.next().getKey() in ("geo", "ARROW:schema"):
                it.remove()
    kv = jvm.org.apache.parquet.format.KeyValue("geo")
    kv.setValue(json.dumps(geo))
    fmd.addToKey_value_metadata(kv)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.parquet.format.Util.writeFileMetaData(fmd, baos)
    new_footer = bytes(baos.toByteArray())
    with open(full, "r+b") as fh:
        end = fh.seek(-8, os.SEEK_END)
        tail = fh.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"{full}: not a parquet file")
        (old_len,) = struct.unpack("<I", tail[:4])
        fh.seek(end - old_len)
        fh.write(new_footer)
        fh.write(struct.pack("<I", len(new_footer)))
        fh.write(b"PAR1")
        fh.truncate()


def _attach_geo_file(spark, full: str) -> None:
    # only the columns the geo metadata needs (bbox struct +
    # geometry_type): metadata-sized I/O instead of decoding WKB blobs
    names = pq.read_schema(full).names
    table = pq.read_table(
        full, columns=[c for c in ("bbox", "geometry_type") if c in names]
    )
    _footer_append_geo(spark, full, _file_geo_metadata(table))


def _attach_geo_metadata(spark, path: str) -> None:
    from .output import is_local_path

    if not is_local_path(path):
        _attach_geo_metadata_hadoop(spark, path)
        return
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            _attach_geo_file(spark, os.path.join(root, fn))
            # the footer patch invalidates only THIS file's Hadoop .crc
            # sidecar; leave checksums of files we never touch (_SUCCESS,
            # ...) intact
            sidecar = os.path.join(root, f".{fn}.crc")
            if os.path.exists(sidecar):
                os.remove(sidecar)


def _attach_geo_metadata_hadoop(spark, path: str) -> None:
    """The footer post-pass for object-store / non-local outputs (S15):
    walk the dataset through the Hadoop FileSystem API (any scheme Spark
    can write — s3a, viewfs, hdfs), pull each file down, rewrite the
    footer locally, push it back. One round-trip per output file; files
    are processed independently, so at planet scale this parallelizes
    trivially (it is metadata-sized work compared to the write itself)."""
    import tempfile

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    targets = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if p.getName().endswith(".parquet"):
            targets.append(p)
    for p in targets:
        with tempfile.TemporaryDirectory() as td:
            local = os.path.join(td, p.getName())
            lpath = jvm.org.apache.hadoop.fs.Path("file:" + local)
            # useRawLocalFileSystem=True: no .crc sidecar for the temp copy
            fs.copyToLocalFile(False, p, lpath, True)
            _attach_geo_file(spark, local)
            fs.copyFromLocalFile(False, True, lpath, p)
            # drop only the rewritten file's now-stale checksum sidecar;
            # unrelated sidecars (_SUCCESS, ...) keep their integrity metadata
            sidecar = jvm.org.apache.hadoop.fs.Path(
                p.getParent(), "." + p.getName() + ".crc"
            )
            if fs.exists(sidecar):
                fs.delete(sidecar, False)


def read_geo_metadata(file_path: str) -> dict | None:
    md = pq.read_schema(file_path).metadata or {}
    raw = md.get(b"geo")
    return json.loads(raw) if raw else None
