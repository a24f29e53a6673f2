"""Command-line surface mirroring the reference's picocli commands
(``ohsome-planet-cli/.../OhsomePlanet.java:14-44``, ``docs/CLI.md``):

    python -m ohsome_planet_spark.cli contributions --pbf in.osh.pbf --out dir
        [--changesets changesets.parquet] [--country-file countries.csv]
        [--filter-relation-tag-keys k1,k2] [--multipolygon-member-limit N]
        [--data dir --replication-endpoint url]   # initialize for replication
    python -m ohsome_planet_spark.cli changesets --input dump.osm.bz2 --out dir
        # --out <data>/changesets seeds the store `replications` upserts
    python -m ohsome_planet_spark.cli replications --data dir [--endpoint url]
    python -m ohsome_planet_spark.cli fileinfo --pbf in.osh.pbf
    python -m ohsome_planet_spark.cli curate --input docs.parquet --out dir
        [--holdout eval.parquet] [--min-quality Q] [--contamination-max C]

The bulk `contributions` run is the reference's 5-stage dataflow
(SURVEY.md §3.1) as one Spark job: decode → nodes → ways → relations →
GeoParquet, with changeset/country enrichment joined in.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import sys

from pyspark.sql import functions as F

from .session import run_scope


# Each command that stages frames runs in its own run scope, so a run that
# raises still releases its persisted frames and checkpoint blocks.
@run_scope()
def cmd_contributions(args) -> int:
    from .operators.contributions import (
        bundled_way_instants,
        enrich_contributions,
        filter_relation_tag_keys,
        filter_tagged_histories,
        node_contribution_events,
        relation_contribution_events,
        synthesize_contributions,
        way_contribution_events,
    )
    from .schemas import split_entities
    from .session import get_spark, truncate_lineage
    from .sources.geoparquet import write_contributions
    from .sources.pbf import read_pbf

    if args.replication_endpoint and not args.data:
        print("--replication-endpoint requires --data", file=sys.stderr)
        return 2
    spark = get_spark(app_name="contributions")
    # S15: normalize s3:// -> s3a:// and map the reference's S3_* env
    # contract onto fs.s3a.* before any write (S3OutputLocationProvider)
    from .sources.output import resolve_output_location

    args.out = resolve_output_location(spark, args.out)
    manager = None
    if args.replication_endpoint:
        # bulk -> incremental handoff ("Initialize for Replication",
        # docs/CLI.md:74-127): a store that is already there is refused
        # before the bulk run
        from .streaming.manager import ContributionReplicationManager
        from .streaming.server import entity_server, server_for

        manager = ContributionReplicationManager(
            spark=spark,
            data_dir=args.data,
            server=server_for(args.replication_endpoint, entity_server),
            out_dir=args.out,
        )
        try:
            manager.check_empty()
        except ValueError as e:
            print(e, file=sys.stderr)
            return 1
    # Stage the decode and the way merge once each: every entity stream,
    # the enrichment and the replication seeding read the one decode, and
    # the way and relation streams share the one way merge. At small data
    # the stage count is the fixed cost, and each unstaged consumer reruns
    # the whole stage chain; at planet scale the decode is the big stage.
    # truncate_lineage turns into a reliable checkpoint when a checkpoint
    # dir is set.
    entities = truncate_lineage(read_pbf(spark, args.pbf))
    nodes, ways, rels = split_entities(entities)
    if args.filter_relation_tag_keys:
        rels = filter_relation_tag_keys(rels, args.filter_relation_tag_keys.split(","))
    bundled = truncate_lineage(bundled_way_instants(ways, nodes))

    streams = [
        synthesize_contributions(node_contribution_events(filter_tagged_histories(nodes))),
        # F1 over the instants equals F1 over the histories: every major
        # version is an instant carrying that version's tags
        synthesize_contributions(
            way_contribution_events(ways, nodes, bundled=filter_tagged_histories(bundled))
        ),
        # ways no relation references drop out at the member-stream join
        synthesize_contributions(
            relation_contribution_events(
                rels, ways, nodes, member_limit=args.multipolygon_member_limit,
                bundled_ways=bundled,
            )
        ),
    ]
    contribs = streams[0]
    for s in streams[1:]:
        contribs = contribs.unionByName(s)

    contribs = enrich_contributions(
        contribs,
        spark.read.parquet(args.changesets) if args.changesets else None,
        _load_country_csv(args.country_file) if args.country_file else None,
    )

    if getattr(args, "filter", None):
        # ohsome filter DSL (docs.ohsome.org filter parameter) compiled to
        # one Catalyst predicate — the downstream query language applied
        # at produce time so the written dataset is already filtered
        from .functions.ohsome_filter import compile_filter

        contribs = contribs.filter(compile_filter(args.filter))

    if getattr(args, "sort_spatially", False):
        # XZ-code clustering: spatially coherent row groups so the bbox
        # covering column prunes (see geoparquet.write_contributions)
        write_contributions(
            contribs, args.out, bloom_filter_columns=("osm_id",),
            sort_spatially=True,
        )
    else:
        write_contributions(
            contribs.sortWithinPartitions("osm_id", "valid_from"),
            args.out,
            bloom_filter_columns=("osm_id",),
        )
    print(f"wrote contributions to {args.out}")

    if manager is not None:
        # the manager seeds its store from the one decode and starts it at
        # the extract's newest entity
        try:
            start = manager.seed(entities)
        except ValueError as e:
            print(e, file=sys.stderr)
            return 1
        print(f"replication initialized at sequence {start.sequence}")
    return 0


def _load_country_csv(path: str):
    """--country-file CSV: id;wkt (``SpatialJoiner.readCSV``)."""
    feats = []
    with open(path) as f:
        for row in csv.reader(f, delimiter=";"):
            if len(row) < 2 or row[0] == "id":
                continue
            fid, wkt = row[0], row[1]
            feats.append(_wkt_to_feature(fid, wkt))
    return feats


def _wkt_to_feature(fid: str, wkt: str):
    """Minimal WKT POLYGON/MULTIPOLYGON reader (country files only)."""
    import re

    import numpy as np

    from .operators.spatial import Feature

    def parse_ring(text: str) -> np.ndarray:
        pts = []
        for pair in text.split(","):
            x, y = pair.strip().split()[:2]
            pts.append((float(x), float(y)))
        return np.asarray(pts, dtype=np.float64)

    body = wkt.strip()
    if body.upper().startswith("POLYGON"):
        rings = re.findall(r"\(([^()]+)\)", body)
        return Feature(fid, [[parse_ring(r) for r in rings]])
    if body.upper().startswith("MULTIPOLYGON"):
        parts = []
        for poly_txt in re.findall(r"\(\(.*?\)\)", body, flags=re.S):
            rings = re.findall(r"\(([^()]+)\)", poly_txt)
            parts.append([parse_ring(r) for r in rings])
        return Feature(fid, parts)
    raise ValueError(f"unsupported WKT for {fid}")


def cmd_changesets(args) -> int:
    from .session import get_spark
    from .sources.osmxml import read_changesets

    spark = get_spark(app_name="changesets")
    read_changesets(spark, args.input).write.mode("overwrite").parquet(args.out)
    written = spark.read.parquet(args.out)
    if getattr(args, "jdbc", None):
        # S16 drop-in: mirror the table into PostgreSQL with the
        # reference's conflict semantics (ChangesetDB.java:127-186)
        from .sources.jdbc import ChangesetJdbcSink

        sink = ChangesetJdbcSink(url=args.jdbc, table=args.jdbc_table)
        sink.ensure_tables()
        sink.upsert(written)
        print(f"upserted into {args.jdbc_table} via {args.jdbc}")
    print(f"wrote {written.count()} changesets to {args.out}")
    return 0


@run_scope()
def cmd_replications(args) -> int:
    """End-to-end replication catch-up (``cmd/Replications.java:27-130``,
    ``ReplicationManager.java:33-137``): keep a contributions dataset and a
    changeset store current against replication endpoints.

    ``file://`` endpoints route through the injectable file transport
    (offline mirrors, tests); anything else uses urllib with the
    reference's retry/backoff.
    """
    from datetime import datetime, timezone

    from .session import get_spark
    from .streaming.changesets import ChangesetStateManager
    from .streaming.manager import (
        ContributionReplicationManager,
        run_replication_update,
    )
    from .streaming.server import changeset_server, entity_server, server_for

    if args.just_changesets and args.just_contributions:
        # Replications.java:143-145
        raise SystemExit(
            "Either just-contributions or just-changesets can be specified"
        )

    spark = get_spark(app_name="replications")

    contribution_manager = None
    if not args.just_changesets:
        contribution_manager = ContributionReplicationManager(
            spark=spark,
            data_dir=args.data,
            server=server_for(args.endpoint, entity_server),
            out_dir=args.parquet_data,
            max_size=args.size,
            country_features=(
                _load_country_csv(args.country_file) if args.country_file else None
            ),
        )
        contribution_manager.load(args.start_sequence)

    changeset_manager = None
    if not args.just_contributions:
        changeset_manager = ChangesetStateManager(
            server=server_for(args.replication_changesets, changeset_server),
            spark=spark,
            data_dir=args.data,
        )
        changeset_manager.load(args.changeset_start_sequence)

    from .streaming.waiter import Waiter

    waiter = Waiter()
    last_applied = 0
    while True:
        run_replication_update(
            contribution_manager, changeset_manager, now=datetime.now(timezone.utc)
        )
        if not args.continuous:
            break
        # reference cadence (Waiter.java): exponential 5->60s backoff while
        # nothing changes, immediate next pass (reset) after progress;
        # --wait-time caps a single wait
        applied_now = len(contribution_manager.applied) if contribution_manager else 0
        if applied_now > last_applied:
            waiter.reset_retry()
            last_applied = applied_now
        else:
            waiter.retry_seconds = min(
                waiter.retry_seconds, max(1, int(args.wait_time))
            )
            try:
                waiter.wait_for_retry()
            except InterruptedError:
                break

    applied = contribution_manager.applied if contribution_manager else []
    print(
        json.dumps(
            {
                "applied_sequences": applied,
                "contribution_state": (
                    contribution_manager.local_state.sequence
                    if contribution_manager
                    else None
                ),
                "changeset_state": (
                    changeset_manager.local_state.sequence
                    if changeset_manager and changeset_manager.local_state
                    else None
                ),
            }
        )
    )
    return 0


def cmd_fileinfo(args) -> int:
    """S17: osmium-fileinfo workalike (``FileInfo.java:19-60``)."""
    from .sources.pbf import read_header, scan_blobs

    hdr = read_header(args.pbf)
    refs = scan_blobs(args.pbf)
    data_blobs = [r for r in refs if r.header_type == "OSMData"]
    print(json.dumps({
        "file": args.pbf,
        "bbox": hdr["bbox"],
        "required_features": hdr["required_features"],
        "optional_features": hdr["optional_features"],
        "replication": {
            "timestamp": hdr["replication_timestamp"],
            "sequence": hdr["replication_sequence"],
            "base_url": hdr["replication_base_url"],
        },
        "blocks": len(refs),
        "data_blocks": len(data_blobs),
    }, indent=2))
    if getattr(args, "blobs", False):
        # per-blob dump (the reference's Debug surface beyond the header):
        # offsets/sizes always; entity type counts + id ranges when
        # --decode is set (decodes every block — bounded by file size)
        from .sources.pbf import BlobRef, decode_block, read_blob

        for r in refs:
            row = {
                "idx": r.index,
                "type": r.header_type,
                "offset": r.offset,
                "size": r.size,
            }
            if getattr(args, "decode", False) and r.header_type == "OSMData":
                counts: dict[str, int] = {}
                lo = hi = None
                for e in decode_block(
                    read_blob(args.pbf, BlobRef(r.index, r.header_type, r.offset, r.size))
                ):
                    counts[e["osm_type"]] = counts.get(e["osm_type"], 0) + 1
                    oid = e.get("osm_id")
                    if oid is not None:
                        lo = oid if lo is None else min(lo, oid)
                        hi = oid if hi is None else max(hi, oid)
                row["entities"] = counts
                row["id_range"] = [lo, hi]
            print(json.dumps(row))
    return 0


def cmd_replication_store(args) -> int:
    """Peek into the replication store for individual OSM elements
    (``debug replication-store``, ``UpdateStoreRocksDb.query:36-57`` /
    ``docs/CLI.md §Inspect Replication Store``): each element's latest
    stored version, and for a node the ways that reference it, as
    :meth:`ContributionReplicationManager.lookup` answers them."""
    from .session import get_spark
    from .streaming.manager import ContributionReplicationManager

    manager = ContributionReplicationManager(
        spark=get_spark(app_name="replication-store"), data_dir=args.data
    )
    out = {}
    for param in args.elements:
        etype, _, sid = param.partition("/")
        kind = {"n": "node", "w": "way"}.get(etype[:1], "relation")
        out[param] = manager.lookup(kind, int(sid))
    print(json.dumps(out, indent=2, default=str))
    return 0


def cmd_curate(args) -> int:
    """Training-data curation funnel over a documents parquet: quality
    gate → exact dedup → repetition gate → optional holdout
    decontamination → deterministic split → partitioned parquet, with a
    one-line JSON funnel report (`operators/curation.py`)."""
    from .operators.curation import curate
    from .session import get_spark

    spark = get_spark(app_name="curate")
    docs = spark.read.parquet(args.input)
    holdout = spark.read.parquet(args.holdout) if args.holdout else None
    report = curate(
        docs,
        args.out,
        holdout,
        exact_substr_n=args.exact_substr_n,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        max_punct=args.max_punct,
        max_dup_token_frac=args.max_dup_token_frac,
        contamination_max=args.contamination_max,
    )
    print(json.dumps(report))
    return 0


def cmd_ccnet(args) -> int:
    """The CCNet pipeline (Wenzek et al. 2020) as a user surface:
    cross-corpus line (paragraph) dedup, then the per-language bigram-LM
    perplexity filter over the DEDUPED text — head/middle/tail buckets
    per language. Writes one parquet with the deduped text, both
    stages' counters, and the bucket/keep decision; prints a one-line
    JSON summary. ``--bucket-mode cutoff`` switches the bucketing to
    the broadcast percentile path (no per-language global sort — the
    planet-scale shape); ``rank`` (default) is exact equal thirds."""
    from pyspark.sql import Observation

    from .operators.curation import ccnet_lm_filter
    from .operators.dedup import line_dedup
    from .session import get_spark

    spark = get_spark(app_name="ccnet")
    docs = spark.read.parquet(args.input)
    dd = line_dedup(docs, args.id_col, args.text_col)
    langs = docs.select(
        F.col(args.id_col).alias("doc"), F.col(args.lang_col).alias("lang")
    )
    scored = ccnet_lm_filter(
        dd.join(langs, "doc"),
        id_col="doc",
        text_col="text",
        lang_col="lang",
        train_pct=args.train_pct,
        bucket_mode=args.bucket_mode,
    )
    out = scored.join(
        dd.select("doc", "n_lines", "n_kept", "text"), "doc"
    )
    obs = Observation("ccnet")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_kept").alias("n_kept_lines"),
    )
    out.write.mode("overwrite").parquet(args.out)
    m = obs.get
    print(json.dumps({
        "n_docs": m["n_docs"],
        "n_keep": m["n_keep"],
        "n_dropped": m["n_docs"] - m["n_keep"],
        "lines_total": m["n_lines"],
        "lines_kept": m["n_kept_lines"],
        "bucket_mode": args.bucket_mode,
        "out": args.out,
    }))
    return 0


def cmd_ingest_warc(args) -> int:
    """Common Crawl front half as a user entrypoint: a directory of WARC
    archives (plain or per-record gzip) → one parquet row per HTTP
    response with the extracted main text plus C4-style line filtering
    and quality columns — the documents table the curation funnel then
    consumes (`sources/warc.py`, `functions/html.py`, `operators/web.py`).
    Prints a one-line JSON ingest report."""
    import glob as _glob

    from pyspark.sql import functions as F

    from .functions.text import quality_score_expr, token_count_expr
    from .operators.curation import c4_line_filter
    from .operators.web import extract_main_text, warc_records
    from .session import get_spark

    spark = get_spark(app_name="ingest-warc")
    paths = sorted(_glob.glob(os.path.join(args.input, "*.warc*")))
    if not paths:
        print(json.dumps({"error": "no .warc files found", "dir": args.input}))
        return 2
    files = (
        spark.read.format("binaryFile")
        .load(paths)
        .select(
            F.col("path").alias("warc_path"), F.col("content").alias("warc")
        )
    )
    responses = warc_records(files, "warc").filter(
        F.col("warc_type") == "response"
    )
    extracted = (
        extract_main_text(responses, "payload", http=True)
        .filter(F.col("extracted_text").isNotNull())
        .withColumn(
            "uid", F.concat_ws("#", F.col("warc_path"), F.col("rec_idx"))
        )
    )
    filtered = c4_line_filter(
        extracted,
        "uid",
        "extracted_text",
        min_words_per_line=args.min_words_per_line,
        require_terminal_punct=not args.no_terminal_punct,
        min_kept_lines=args.min_kept_lines,
    ).join(
        extracted.select("uid", "warc_path", "rec_idx", "target_uri"),
        F.col("doc") == F.col("uid"),
    )
    out = filtered.select(
        "warc_path",
        "rec_idx",
        "target_uri",
        F.col("kept_text").alias("text"),
        "n_lines",
        "n_kept_lines",
        "keep_doc",
        token_count_expr(F.col("kept_text")).alias("n_tokens"),
        F.round(quality_score_expr(F.col("kept_text")), 6).alias("quality"),
    )
    out.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    report = {
        "archives": len(paths),
        "responses": back.count(),
        "kept": back.filter("keep_doc").count(),
        "out": args.out,
    }
    print(json.dumps(report))
    return 0


def cmd_pack(args) -> int:
    """Concat-and-chunk packing of a documents parquet into training
    shards: per-shard parquet (hive ``shard=`` partitions) holding the
    document payload plus its packing assignment, docs sorted by id
    within each shard so a sequential reader replays the exact token
    stream. Prints a one-line JSON yield report."""
    from .operators.packing import pack_sequences, packing_stats
    from .session import get_spark

    spark = get_spark(app_name="pack")
    docs = spark.read.parquet(args.input)
    packed = pack_sequences(
        docs, seq_len=args.seq_len, n_shards=args.shards
    )
    out_rows = docs.join(packed.drop("n_tokens"), "doc_id")
    (
        out_rows.repartition(args.shards, "shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(args.out)
    )
    stats = packing_stats(packed, seq_len=args.seq_len)
    agg = stats.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("total_tokens").alias("tokens"),
        F.sum("n_sequences").alias("sequences"),
        F.sum("n_split_docs").alias("split_docs"),
    ).collect()[0]
    fill = (
        float(agg.tokens) / (agg.sequences * args.seq_len) if agg.sequences else 0.0
    )
    print(json.dumps({
        "docs": agg.docs,
        "tokens": agg.tokens,
        "seq_len": args.seq_len,
        "shards": args.shards,
        "sequences": agg.sequences,
        "boundary_split_docs": agg.split_docs,
        "fill_ratio": round(fill, 6),
    }))
    return 0


def cmd_index(args) -> int:
    """Build and store an ANN index over an embeddings parquet — the
    stored-index contract as a user surface (FAISS's train/add/write
    cycle, Spark-shaped): k-means coarse centroids, optional PQ
    codebooks + code matrix (raw or residual encoding), each written as a
    parquet table a search job later reads instead of retraining. Prints
    a one-line JSON summary."""
    from .operators.similarity import (
        kmeans_iterate,
        pq_codebooks,
        pq_encode,
        residual_vectors,
    )
    from .session import get_spark

    spark = get_spark(app_name="ann_index")
    emb = spark.read.parquet(args.input)

    coarse = kmeans_iterate(
        emb, every=args.coarse_every, iters=args.train_iters,
        id_col=args.id_col, vec_col=args.vec_col,
    ).select("cid", "cv")
    coarse.write.mode("overwrite").parquet(os.path.join(args.out, "coarse"))
    coarse = spark.read.parquet(os.path.join(args.out, "coarse"))
    n_lists = coarse.count()

    summary = {
        "kind": args.kind,
        "n_lists": n_lists,
        "out": args.out,
    }
    if args.kind in ("ivfpq", "ivfpq_residual"):
        if args.kind == "ivfpq_residual":
            enc_input = residual_vectors(
                emb, coarse, id_col=args.id_col, vec_col=args.vec_col
            )
        else:
            from .operators.similarity import assign_nearest

            assigned = assign_nearest(emb, coarse, args.id_col, args.vec_col)
            enc_input = assigned.select(
                args.id_col, F.col("cid").alias("_list"), args.vec_col
            )
        cb = pq_codebooks(
            enc_input, m=args.pq_m, dim=args.dim, every=args.coarse_every,
            iters=args.train_iters, id_col=args.id_col, vec_col=args.vec_col,
        )
        cb.write.mode("overwrite").parquet(os.path.join(args.out, "codebooks"))
        cb = spark.read.parquet(os.path.join(args.out, "codebooks"))
        codes = pq_encode(
            enc_input, cb, m=args.pq_m, dim=args.dim,
            id_col=args.id_col, vec_col=args.vec_col,
        ).join(enc_input.select(args.id_col, "_list"), args.id_col)
        codes.write.mode("overwrite").parquet(os.path.join(args.out, "codes"))
        summary["n_codes"] = spark.read.parquet(
            os.path.join(args.out, "codes")
        ).count()
        summary["bytes_per_vector"] = args.pq_m

    print(json.dumps(summary))
    return 0


def cmd_dedup_embeddings(args) -> int:
    """Semantic (embedding-space) dedup over an embeddings parquet — the
    SemDeDup pipeline (Abbas et al. 2023) as a user surface: bucket-capped
    multi-table sign-LSH candidates → exact cosine ≥ threshold →
    connected components → per-vector cluster table written to
    ``<out>/clusters`` plus the canonical (keep) id set to
    ``<out>/keep``. Prints a one-line JSON summary. Pair work is bounded
    at ~N·cap per LSH table regardless of how the corpus clusters
    (SCALE_SMOKE pair-count evidence), so the same invocation shape holds
    at planet scale."""
    from .operators.dedup import dedup_clusters
    from .operators.similarity import lsh_nbits_for, semantic_dup_pairs
    from .session import get_spark

    spark = get_spark(app_name="dedup_embeddings")
    emb = spark.read.parquet(args.input)
    # row count from parquet FOOTERS (no Spark scan job — ADVICE r11);
    # falls back to a count() job only for stores pyarrow can't reach
    import pyarrow
    import pyarrow.dataset as _ds

    try:
        n = _ds.dataset(args.input, format="parquet").count_rows()
    except (OSError, pyarrow.ArrowException):
        n = emb.count()
    nbits = args.nbits if args.nbits is not None else lsh_nbits_for(n)
    pairs = semantic_dup_pairs(
        emb,
        threshold=args.threshold,
        nbits=nbits,
        ntables=args.ntables,
        dim=args.dim,
        id_col=args.id_col,
        vec_col=args.vec_col,
        bucket_cap=args.bucket_cap,
    )
    clusters = dedup_clusters(
        emb.select(F.col(args.id_col).alias("doc_id")), pairs, id_col="doc_id"
    ).withColumnRenamed("doc_id", args.id_col)
    clusters.write.mode("overwrite").parquet(
        os.path.join(args.out, "clusters")
    )
    # re-read is deliberate: the keep write scans the materialized table
    # instead of recomputing the CC iteration's whole lineage
    clusters = spark.read.parquet(os.path.join(args.out, "clusters"))
    from pyspark.sql import Observation

    obs = Observation("keep_count")
    keep = (
        clusters.filter("is_canonical")
        .select(args.id_col)
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    # n_kept rides the SAME job that writes 'keep' (ADVICE r11: no
    # re-read + re-count of what this job just produced)
    keep.write.mode("overwrite").parquet(os.path.join(args.out, "keep"))
    n_keep = obs.get["n"]
    print(
        json.dumps(
            {
                "n_vectors": n,
                "nbits": nbits,
                "threshold": args.threshold,
                "bucket_cap": args.bucket_cap,
                "n_kept": n_keep,
                "n_dropped": n - n_keep,
                "out": args.out,
            }
        )
    )
    return 0


def cmd_wds(args) -> int:
    """WebDataset shards as a user surface (`sources/tar.py`,
    `operators/webdataset.py`): `pack` turns a documents parquet into
    .tar shards (key.txt + key.json members, optional gzip), `list`
    inventories shards back into a samples parquet. Both print a
    one-line JSON report."""
    import glob as _glob

    from .session import get_spark

    spark = get_spark(app_name="wds")
    if args.wds_cmd == "pack":
        from .operators.webdataset import write_wds_shards

        docs = spark.read.parquet(args.input)
        rows = docs.select(
            F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("key"),
            F.col("text"),
            F.to_json(F.struct("doc_id", "lang", "source")).alias("meta"),
        ).repartition(args.partitions)
        report = write_wds_shards(
            rows,
            args.out,
            {"txt": "text", "json": "meta"},
            samples_per_shard=args.samples_per_shard,
            gzip_envelope=args.gzip,
        )
        agg = report.agg(
            F.count("*").alias("shards"),
            F.sum("n_samples").alias("samples"),
            F.sum("n_bytes").alias("bytes"),
        ).collect()[0]
        print(json.dumps({
            "shards": int(agg.shards),
            "samples": int(agg.samples or 0),
            "bytes": int(agg.bytes or 0),
            "out": args.out,
        }))
        return 0

    from .operators.webdataset import wds_samples

    paths = sorted(_glob.glob(os.path.join(args.input, "*.tar*")))
    if not paths:
        print(json.dumps({"error": "no .tar shards found", "dir": args.input}))
        return 2
    shards = (
        spark.read.format("binaryFile")
        .load(paths)
        .select(F.col("path").alias("shard_path"), F.col("content").alias("shard"))
    )
    samples = wds_samples(shards, "shard").select(
        "shard_path",
        "sample_idx",
        "key",
        "n_parts",
        F.concat_ws(",", "exts").alias("exts"),
    )
    if args.out:
        samples.write.mode("overwrite").parquet(args.out)
    agg = samples.agg(
        F.count("*").alias("samples"),
        F.countDistinct("shard_path").alias("shards"),
        F.sum("n_parts").alias("parts"),
    ).collect()[0]
    print(json.dumps({
        "shards": int(agg.shards),
        "samples": int(agg.samples),
        "parts": int(agg.parts or 0),
        "out": args.out,
    }))
    return 0


def cmd_sql(args) -> int:
    """Run SQL over a written contributions dataset — the tutorial's
    'explore the produced parquet with DuckDB' workflow
    (``docs/tutorial.md``, ``docs/useful_queries.md``) served by the
    same engine that wrote it: ``contributions`` / ``contributions_latest``
    temp views are registered (latest-layer reads prune on the hive
    partition), the query runs through Catalyst with full
    pushdown/pruning, and results go to stdout or ``--out`` parquet. An
    optional ``--filter`` composes an ohsome-filter-DSL predicate with
    the SQL's own WHERE clause."""
    from .session import get_spark
    from .sources.views import register_contribution_views

    spark = get_spark(app_name="sql")
    base = register_contribution_views(spark, args.data)
    if args.filter:
        # apply the DSL predicate to the source views, not the SQL result:
        # the user's query may aggregate or project away tags/osm_type, so
        # filtering the result frame would fail on perfectly valid SQL
        from .functions.ohsome_filter import compile_filter
        from .sources.views import VALID_TO_SENTINEL

        pred = compile_filter(args.filter)
        filtered = base.filter(pred)
        filtered.createOrReplaceTempView("contributions")
        if "layer" in filtered.columns:
            latest = filtered.filter(F.col("layer") == "latest")
        else:
            latest = filtered.filter(F.col("valid_to") == F.lit(VALID_TO_SENTINEL))
        latest.createOrReplaceTempView("contributions_latest")
    df = spark.sql(args.query)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=not args.wide)
    return 0


def cmd_explain(args) -> int:
    """Print the optimized physical plan of any registry query — the
    plan-hygiene contract (no row-wise Python, no cartesian products,
    wide WholeStageCodegen spans, pushed filters visible) as a user
    surface. ``--mode formatted`` is Spark's operator-tree + codegen
    annotation view."""
    from .plans.queries import QUERIES
    from .session import get_spark

    if args.query not in QUERIES:
        import difflib

        near = difflib.get_close_matches(args.query, QUERIES, n=3)
        hint = f" (did you mean: {', '.join(near)}?)" if near else ""
        print(f"unknown query {args.query!r}{hint}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="explain")
    df = QUERIES[args.query](spark, args.sf_dir)
    print(df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            args.mode
        )
    ))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="ohsome_planet_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("contributions", help="bulk PBF -> contributions GeoParquet")
    c.add_argument("--pbf", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--changesets")
    c.add_argument("--country-file")
    c.add_argument("--filter-relation-tag-keys")
    c.add_argument(
        "--filter",
        help="ohsome filter DSL applied to the produced contributions"
        " (e.g. \"building=* and geometry:polygon\")",
    )
    c.add_argument("--multipolygon-member-limit", type=int, default=500)
    c.add_argument("--data", help="working dir for replication seeding")
    c.add_argument(
        "--sort-spatially", action="store_true",
        help="cluster output rows by XZ code for bbox row-group pruning",
    )
    c.add_argument(
        "--replication-endpoint",
        help="seed <data>/ replication stores + state.txt for later `replications` runs",
    )
    c.set_defaults(fn=cmd_contributions)

    ch = sub.add_parser(
        "changesets",
        help="changeset dump -> changeset table (--out <data>/changesets seeds"
        " the store `replications` upserts)",
    )
    ch.add_argument("--input", required=True)
    ch.add_argument("--out", required=True)
    ch.add_argument("--jdbc", help="optional PostgreSQL JDBC url to mirror into (S16)")
    ch.add_argument("--jdbc-table", default="changesets")
    ch.set_defaults(fn=cmd_changesets)

    fi = sub.add_parser("fileinfo", help="print PBF header/blob summary")
    fi.add_argument("--pbf", required=True)
    fi.add_argument(
        "--blobs", action="store_true",
        help="dump one JSON line per blob (idx/type/offset/size)",
    )
    fi.add_argument(
        "--decode", action="store_true",
        help="with --blobs: decode each data block for entity counts + id range",
    )
    fi.set_defaults(fn=cmd_fileinfo)

    rs = sub.add_parser(
        "replication-store",
        help="peek into replication state tables for OSM elements (n/ID w/ID r/ID)",
    )
    rs.add_argument("--data", required=True, help="replications working dir")
    rs.add_argument("elements", nargs="+", help="e.g. n/1234 w/34565 r/42")
    rs.set_defaults(fn=cmd_replication_store)

    r = sub.add_parser(
        "replications",
        help="apply OSM replication .osc diffs: contributions parquet + changeset store",
    )
    r.add_argument("--data", required=True, help="working dir (state + history tables)")
    r.add_argument("--parquet-data", help="output dir (default <data>/updates)")
    r.add_argument(
        "--endpoint",
        default="https://planet.openstreetmap.org/replication/minute/",
        help="entity replication endpoint (file://DIR for offline mirrors)",
    )
    r.add_argument(
        "--replication-changesets",
        default="https://planet.openstreetmap.org/replication/changesets/",
    )
    r.add_argument("--size", type=int, default=0, help="max osc files per pass (0 = all)")
    r.add_argument("--country-file")
    r.add_argument("--jcs", "--just-changesets", dest="just_changesets", action="store_true")
    r.add_argument("--jcb", "--just-contributions", dest="just_contributions", action="store_true")
    r.add_argument("--continue", dest="continuous", action="store_true")
    r.add_argument("--wait-time", type=float, default=90.0)
    r.add_argument(
        "--start-sequence", type=int,
        help="contribution sequence to start from when <data> holds no state yet",
    )
    r.add_argument("--changeset-start-sequence", type=int)
    r.set_defaults(fn=cmd_replications)

    cu = sub.add_parser(
        "curate",
        help="documents parquet -> curated training dataset (quality/dedup/decontaminate/split)",
    )
    cu.add_argument("--input", required=True, help="documents parquet (doc_id, text, ...)")
    cu.add_argument("--out", required=True)
    cu.add_argument("--holdout", help="eval-corpus parquet to decontaminate against")
    cu.add_argument("--exact-substr-n", type=int, default=None,
                    help="cut cross-corpus duplicated n-gram spans from text before the gates")
    cu.add_argument("--min-quality", type=float, default=0.4)
    cu.add_argument("--min-tokens", type=int, default=10)
    cu.add_argument("--max-tokens", type=int, default=5000)
    cu.add_argument("--max-punct", type=float, default=0.25)
    cu.add_argument("--max-dup-token-frac", type=float, default=0.7)
    cu.add_argument("--contamination-max", type=float, default=0.8)
    cu.set_defaults(fn=cmd_curate)

    iw = sub.add_parser(
        "ingest-warc",
        help="WARC archives -> extracted-text documents parquet (CC front half)",
    )
    iw.add_argument("--input", required=True, help="directory of .warc / .warc.gz files")
    iw.add_argument("--out", required=True)
    iw.add_argument("--min-words-per-line", type=int, default=5)
    iw.add_argument("--min-kept-lines", type=int, default=3)
    iw.add_argument("--no-terminal-punct", action="store_true",
                    help="drop the terminal-punctuation line rule")
    iw.set_defaults(fn=cmd_ingest_warc)

    pk = sub.add_parser(
        "pack",
        help="documents parquet -> packed training shards (concat-and-chunk)",
    )
    pk.add_argument("--input", required=True)
    pk.add_argument("--out", required=True)
    pk.add_argument("--seq-len", type=int, default=2048)
    pk.add_argument("--shards", type=int, default=16)
    pk.set_defaults(fn=cmd_pack)

    ix = sub.add_parser(
        "index",
        help="embeddings parquet -> stored ANN index tables (IVF / IVF-PQ)",
    )
    ix.add_argument("--input", required=True)
    ix.add_argument("--out", required=True)
    ix.add_argument(
        "--kind", choices=("ivf", "ivfpq", "ivfpq_residual"), default="ivfpq_residual"
    )
    ix.add_argument("--dim", type=int, default=64)
    ix.add_argument("--pq-m", type=int, default=4)
    ix.add_argument("--coarse-every", type=int, default=64)
    ix.add_argument("--train-iters", type=int, default=2)
    ix.add_argument("--id-col", default="vec_id")
    ix.add_argument("--vec-col", default="embedding")
    ix.set_defaults(fn=cmd_index)

    de = sub.add_parser(
        "dedup-embeddings",
        help="embeddings parquet -> semantic-dedup cluster + keep tables"
        " (capped LSH + cosine threshold + connected components)",
    )
    de.add_argument("--input", required=True)
    de.add_argument("--out", required=True)
    de.add_argument("--threshold", type=float, default=0.99)
    de.add_argument("--nbits", type=int, default=None,
                    help="signature width (default: occupancy-scaled)")
    de.add_argument("--ntables", type=int, default=2)
    de.add_argument("--bucket-cap", type=int, default=32)
    de.add_argument("--dim", type=int, default=64)
    de.add_argument("--id-col", default="vec_id")
    de.add_argument("--vec-col", default="embedding")
    de.set_defaults(fn=cmd_dedup_embeddings)

    cc = sub.add_parser(
        "ccnet",
        help="documents parquet -> CCNet pipeline (cross-corpus line"
        " dedup + per-language LM perplexity head/middle/tail)",
    )
    cc.add_argument("--input", required=True)
    cc.add_argument("--out", required=True)
    cc.add_argument("--id-col", default="doc_id")
    cc.add_argument("--text-col", default="text")
    cc.add_argument("--lang-col", default="lang")
    cc.add_argument("--train-pct", type=int, default=80)
    cc.add_argument("--bucket-mode", choices=("rank", "cutoff"),
                    default="rank")
    cc.set_defaults(fn=cmd_ccnet)

    wd = sub.add_parser(
        "wds",
        help="WebDataset shards: pack a documents parquet / list shards",
    )
    wsub = wd.add_subparsers(dest="wds_cmd", required=True)
    wp = wsub.add_parser("pack", help="documents parquet -> .tar shards")
    wp.add_argument("--input", required=True, help="documents parquet")
    wp.add_argument("--out", required=True, help="shard output dir")
    wp.add_argument("--samples-per-shard", type=int, default=1000)
    wp.add_argument("--partitions", type=int, default=4)
    wp.add_argument("--gzip", action="store_true")
    wp.set_defaults(fn=cmd_wds)
    wl = wsub.add_parser("list", help="shard dir -> samples inventory")
    wl.add_argument("--input", required=True, help="dir of .tar shards")
    wl.add_argument("--out", help="write samples parquet here")
    wl.set_defaults(fn=cmd_wds)

    sq = sub.add_parser(
        "sql",
        help="run SQL over a written contributions dataset"
        " (views: contributions, contributions_latest)",
    )
    sq.add_argument("--data", required=True, help="contributions parquet dir")
    sq.add_argument("query", help="SQL text")
    sq.add_argument("--filter", help="ohsome filter DSL composed with the SQL")
    sq.add_argument("--out", help="write result parquet here instead of stdout")
    sq.add_argument("--limit", type=int, default=50)
    sq.add_argument("--wide", action="store_true", help="no column truncation")
    sq.set_defaults(fn=cmd_sql)

    ex = sub.add_parser(
        "explain",
        help="print a registry query's optimized physical plan",
    )
    ex.add_argument("query", help="registry query name (see docs/QUERIES.md)")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument(
        "--mode",
        default="formatted",
        choices=("formatted", "extended", "cost", "codegen", "simple"),
    )
    ex.set_defaults(fn=cmd_explain)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
