"""Round-9 differential oracles + regression tests.

1. DSIR importance weights get an INDEPENDENT pure-Python replay (verdict
   r8 item 3 — the DuckDB oracle is builder-written, so a co-authored
   semantics bug would hash-match; this twin re-derives the hashed-bigram
   log-likelihood-ratio scores from the raw parquet rows with none of the
   engine's code on the path).
2. ADVICE r8 fixes pinned: corrupt PNG payloads must not escape
   decode_media (zlib/struct errors), and the PBF fixture encoder's
   varint must fail fast on negative input instead of hanging.
"""

import math
import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
BUCKETS = 1024


def _hash60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _dsir_python_replay(rows):
    """Pure-Python DSIR: Java-regex word split ([^A-Za-z0-9_]+ — Spark's
    \\W is ASCII-classed, unlike Python's), md5-60bit bucket hashing,
    add-0.5-smoothed LLR between target (lang=en) and raw distributions."""
    split_re = re.compile(r"[^A-Za-z0-9_]+")
    per_doc: dict[int, list[int]] = {}
    is_target: dict[int, bool] = {}
    raw_c = [0] * BUCKETS
    tgt_c = [0] * BUCKETS
    for doc_id, lang, text in rows:
        toks = [t for t in split_re.split(text.lower()) if t != ""]
        buckets = [
            _hash60(f"{toks[i]} {toks[i + 1]}") % BUCKETS
            for i in range(len(toks) - 1)
        ]
        if not buckets:
            continue
        per_doc[doc_id] = buckets
        is_target[doc_id] = lang == "en"
        for b in buckets:
            raw_c[b] += 1
            if lang == "en":
                tgt_c[b] += 1
    r_total, t_total = sum(raw_c), sum(tgt_c)
    lr = [
        math.log((tgt_c[b] + 0.5) / (t_total + 0.5 * BUCKETS))
        - math.log((raw_c[b] + 0.5) / (r_total + 0.5 * BUCKETS))
        for b in range(BUCKETS)
    ]
    out = {}
    for doc_id, buckets in per_doc.items():
        s = sum(lr[b] for b in buckets)
        out[doc_id] = (len(buckets), s, s / len(buckets))
    return out


def test_dsir_importance_matches_python_replay(spark):
    from ohsome_planet_spark.plans.text import dsir_importance_weights
    from ohsome_planet_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR, "documents")
    rows = [
        (r.doc_id, r.lang, r.text)
        for r in docs.select("doc_id", "lang", "text").collect()
    ]
    expected = _dsir_python_replay(rows)

    got = {
        r.doc_id: (r.n_bigrams, r.importance, r.importance_per_ngram)
        for r in dsir_importance_weights(spark, SF_DIR).collect()
    }
    assert set(got) == set(expected)
    for doc_id, (n, imp, ipn) in expected.items():
        gn, gimp, gipn = got[doc_id]
        assert gn == n, doc_id
        # engine output is rounded to 6dp; JVM ln vs libm ln may differ by
        # 1 ulp per bucket term -> tolerance = half display quantum
        assert abs(gimp - imp) <= 5.1e-7, (doc_id, gimp, imp)
        assert abs(gipn - ipn) <= 5.1e-7, (doc_id, gipn, ipn)


def test_dsir_scores_separate_target_domain(spark):
    """Behavioral sanity on top of the bit-replay: English docs must score
    higher on average than non-English ones (that is DSIR's entire job)."""
    from ohsome_planet_spark.plans.text import dsir_importance_weights
    from ohsome_planet_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    scored = dsir_importance_weights(spark, SF_DIR).join(docs, "doc_id")
    means = {
        r.is_en: r.m
        for r in scored.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("importance_per_ngram").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_decode_media_survives_corrupt_png(spark):
    """A payload with a valid PNG signature but garbage chunk innards
    raises zlib.error/struct.error inside decode_png — decode_media must
    null the row out, not kill the task (ADVICE r8, medium)."""
    from ohsome_planet_spark.functions.png import PNG_SIGNATURE, encode_png
    from ohsome_planet_spark.operators.multimodal import decode_media

    good = encode_png(2, 2, [[1, 2], [3, 4]])
    # truncated IDAT: drop IEND (12 bytes) plus the tail of the IDAT
    # zlib stream so inflate fails mid-stream
    truncated = good[:-24]
    # garbage after signature: struct/zlib territory
    garbage = PNG_SIGNATURE + b"\x00\x01\x02\x03" * 6
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(truncated)), (3, bytearray(garbage))],
        "media_id int, media binary",
    )
    out = {r.media_id: (r.width, r.height, r.pixel_sum)
           for r in decode_media(df).collect()}
    assert out[1][0] == 2 and out[1][2] == 1 + 2 + 3 + 4
    assert out[2] == (None, None, None)
    assert out[3] == (None, None, None)


def test_varint_rejects_negative():
    from ohsome_planet_spark.sources.pbf_encoder import varint, zz

    with pytest.raises(ValueError):
        varint(-1)
    # zigzag first is the documented route for signed values
    assert varint(zz(-1)) == b"\x01"


class TestJpegHeader:
    """VERDICT r8 item 4: real SOF-marker width/height parsing."""

    def test_round_trip_baseline_and_progressive(self):
        from ohsome_planet_spark.functions.jpeg import (
            decode_jpeg_header, encode_jpeg_header,
        )

        for w, h, ch, prog, napp, com in [
            (1, 1, 1, False, 1, b""),
            (640, 480, 3, False, 3, b"hello"),
            (1920, 1080, 3, True, 4, b""),
            (65535, 65535, 4, True, 1, b"x" * 200),
        ]:
            buf = encode_jpeg_header(
                w, h, ch, progressive=prog, n_app_segments=napp, comment=com
            )
            assert decode_jpeg_header(buf) == (w, h, ch)

    def test_golden_bytes(self):
        """Hand-assembled minimal JPEG (independent of the encoder): SOI,
        APP0 JFIF, SOF0 with 8-bit precision, 2x3 px, 3 components."""
        import struct

        from ohsome_planet_spark.functions.jpeg import decode_jpeg_header

        jfif = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        sof = struct.pack(">BHHB", 8, 3, 2, 3) + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
        buf = (b"\xff\xd8"
               + b"\xff\xe0" + struct.pack(">H", len(jfif) + 2) + jfif
               + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
               + b"\xff\xd9")
        assert decode_jpeg_header(buf) == (2, 3, 3)

    def test_corrupt_rejected(self):
        from ohsome_planet_spark.functions.jpeg import (
            JpegFormatError, decode_jpeg_header, encode_jpeg_header,
        )

        good = encode_jpeg_header(10, 10)
        for bad in [b"", b"\xff\xd8", good[:12], b"\x89PNG" + good,
                    good[:2] + b"\x00\x00" + good[2:],
                    b"\xff\xd8\xff\xd9"]:
            with pytest.raises(JpegFormatError):
                decode_jpeg_header(bad)

    def test_decode_media_jpeg_real_dims(self, spark):
        from ohsome_planet_spark.functions.jpeg import encode_jpeg_header
        from ohsome_planet_spark.operators.multimodal import decode_media

        df = spark.createDataFrame(
            [(1, bytearray(encode_jpeg_header(320, 200, 3))),
             (2, bytearray(b"\xff\xd8corrupt"))],
            "media_id int, media binary",
        )
        out = {r.media_id: (r.width, r.height, r.channels, r.pixel_sum)
               for r in decode_media(df).collect()}
        assert out[1] == (320, 200, 3, None)
        assert out[2] == (None, None, None, None)


def test_knn_self_join_sqrt_centroids_recall(spark):
    """VERDICT r8 item 7: the sqrt-N centroid rule must not cost recall.
    At sf0.1 (N=2000) adaptive every=44 diverges from the old fixed 25;
    grade both against exact brute-force top-3 (dedup_recall_eval style)."""
    from ohsome_planet_spark.operators.similarity import (
        centroids_df, centroids_df_sqrt, knn_self_join,
    )
    from ohsome_planet_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")

    def pairs(df):
        return {(r.vec_id, r.neighbor_id) for r in df.collect()}

    # norms hoisted to one column per row instead of recomputed per pair
    # (N² pairs previously paid 2 sqrt-aggregates each — most of this
    # test's 93 s wall). sqrt(sum(x²)) per row is the same double as the
    # inline form, and the divide keeps the dot/(na*nb) operation order,
    # so every cosine is bit-identical to the old expression.
    def _norm(col):
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x * x),
                F.lit(0.0),
                lambda a_, x: a_ + x,
            )
        )

    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    cos = F.round(
        F.aggregate(
            F.zip_with("va", "vb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("na") * F.col("nb")),
        6,
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("ia").orderBy(F.desc("cosine"), F.col("ib"))
    truth = pairs(
        a.join(b, F.col("ia") != F.col("ib"))
        .select("ia", "ib", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(F.col("ia").alias("vec_id"), F.col("ib").alias("neighbor_id"))
    )
    fixed = pairs(knn_self_join(emb, centroids_df(emb, every=25), k=3))
    adaptive = pairs(knn_self_join(emb, centroids_df_sqrt(emb), k=3))
    r_fixed = len(fixed & truth) / len(truth)
    r_adaptive = len(adaptive & truth) / len(truth)
    # larger single-probe lists can only see MORE of each vector's true
    # neighborhood; allow a hair of tie-ordering slack. Absolute recall is
    # inherently low on these near-uniform synthetic embeddings (no cluster
    # structure for IVF to exploit) — the guard is against a REGRESSION
    # from the fixed-rate sampling, not an absolute quality bar.
    assert r_adaptive >= r_fixed - 0.01, (r_adaptive, r_fixed)
    assert r_adaptive >= 0.10, r_adaptive


class TestClipGeometry:
    """clipGeometry operator (Sutherland–Hodgman bbox clip)."""

    def test_rect_cases(self):
        from ohsome_planet_spark.functions.geometry import clip_ring_rect

        rect = [(0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
        # identity (4 non-binding passes rotate a 4-gon back to itself)
        assert clip_ring_rect(rect, -1, -1, 5, 3) == rect
        # straddling cut -> clamped rectangle
        out = clip_ring_rect(rect, 1.0, -1, 5, 3)
        assert out is not None and out[0] == out[-1]
        assert {p for p in out[:-1]} == {(1.0, 0.0), (4.0, 0.0), (4.0, 2.0), (1.0, 2.0)}
        # empty
        assert clip_ring_rect(rect, 10, 10, 20, 20) is None
        # degenerate: clip window touches only the edge x=4
        assert clip_ring_rect(rect, 4.0, -1, 5, 3) is None

    def test_geometry_kinds(self):
        from ohsome_planet_spark.functions.geometry import clip_geometry_bbox

        assert clip_geometry_bbox({"type": "Point", "coords": (1.0, 1.0)},
                                  (0, 0, 2, 2)) is not None
        assert clip_geometry_bbox({"type": "Point", "coords": (5.0, 1.0)},
                                  (0, 0, 2, 2)) is None
        mp = {"type": "MultiPolygon", "coords": [
            [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]],
            [[(10.0, 0.0), (11.0, 0.0), (11.0, 1.0), (10.0, 1.0), (10.0, 0.0)]],
        ]}
        out = clip_geometry_bbox(mp, (-1, -1, 2, 2))
        assert out["type"] == "MultiPolygon" and len(out["coords"]) == 1

    def test_polyline_clip(self):
        from ohsome_planet_spark.functions.geometry import (
            clip_geometry_bbox, clip_polyline_rect,
        )

        # in -> out -> in: two parts, cut points on the window edge
        zig = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
        parts = clip_polyline_rect(zig, -1.0, -1.0, 2.0, 5.0)
        assert len(parts) == 2
        assert parts[0] == [(0.0, 0.0), (2.0, 0.0)]
        assert parts[1] == [(2.0, 4.0), (0.0, 4.0)]
        # fully inside: one chained part with ORIGINAL vertices
        inside = clip_polyline_rect(zig, -10, -10, 10, 10)
        assert inside == [zig]
        # fully outside
        assert clip_polyline_rect(zig, 10, 10, 20, 20) == []
        out = clip_geometry_bbox(
            {"type": "LineString", "coords": zig}, (-1.0, -1.0, 2.0, 5.0)
        )
        assert out["type"] == "MultiLineString" and len(out["coords"]) == 2

    def test_hole_survives_clip(self):
        from ohsome_planet_spark.functions.geometry import clip_geometry_bbox

        poly = {"type": "Polygon", "coords": [
            [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)],
            [(2.0, 2.0), (3.0, 2.0), (3.0, 3.0), (2.0, 3.0), (2.0, 2.0)],
        ]}
        out = clip_geometry_bbox(poly, (-1.0, -1.0, 4.0, 4.0))
        assert len(out["coords"]) == 2  # hole inside window survives
        out2 = clip_geometry_bbox(poly, (4.0, 4.0, 9.0, 9.0))
        assert len(out2["coords"]) == 1  # hole clipped away entirely
