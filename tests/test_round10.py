"""Round-10 additions:

- clipGeometry edge semantics (ADVICE r9): all-inside n-gon identity
  (return-original, no vertex rotation) and bbox-inside-hole → empty;
- GeoJSON geometry serialization (independent referee: parse with the
  stdlib json module and compare VALUES, not strings, so the test shares
  no formatting code with the implementation);
- deterministic localCheckpoint block release via release_cached().
"""

import json

from pyspark.sql import functions as F


class TestClipAdviceFixes:
    def test_all_inside_pentagon_identity(self):
        """An n-gon (n != 4) fully inside the window must come back with
        the ORIGINAL vertex sequence — pre-fix, the four plane passes
        rotated it left by 4 mod n and changed its WKB bytes."""
        from ohsome_planet_spark.functions.geometry import clip_ring_rect

        pent = [(0.0, 0.0), (2.0, 0.0), (3.0, 1.0), (1.0, 2.0), (-1.0, 1.0),
                (0.0, 0.0)]
        assert clip_ring_rect(pent, -5, -5, 5, 5) == pent
        # and a 6-gon
        hexg = [(0.0, 0.0), (1.0, 0.0), (2.0, 1.0), (1.0, 2.0), (0.0, 2.0),
                (-1.0, 1.0), (0.0, 0.0)]
        assert clip_ring_rect(hexg, -5, -5, 5, 5) == hexg

    def test_partially_cut_ring_still_clips(self):
        from ohsome_planet_spark.functions.geometry import clip_ring_rect

        pent = [(0.0, 0.0), (2.0, 0.0), (3.0, 1.0), (1.0, 2.0), (-1.0, 1.0),
                (0.0, 0.0)]
        out = clip_ring_rect(pent, 0.0, -5.0, 5.0, 5.0)
        assert out is not None
        assert all(x >= 0.0 for x, _ in out)

    def test_bbox_inside_hole_is_empty(self):
        """Window entirely inside a polygon's hole: the true intersection
        is empty — pre-fix this returned a degenerate zero-area polygon
        whose hole ring coincided with the clipped exterior."""
        from ohsome_planet_spark.functions.geometry import clip_geometry_bbox

        donut = {
            "type": "Polygon",
            "coords": [
                [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)],
                [(2.0, 2.0), (2.0, 8.0), (8.0, 8.0), (8.0, 2.0), (2.0, 2.0)],
            ],
        }
        assert clip_geometry_bbox(donut, (4.0, 4.0, 6.0, 6.0)) is None
        # window overlapping the ring material still clips normally
        out = clip_geometry_bbox(donut, (-1.0, -1.0, 1.0, 1.0))
        assert out is not None and out["type"] == "Polygon"
        # window covering the whole donut returns it with the hole intact
        full = clip_geometry_bbox(donut, (-1.0, -1.0, 11.0, 11.0))
        assert full is not None and len(full["coords"]) == 2
        assert full["coords"] == donut["coords"]  # return-original semantics

    def test_multipolygon_part_with_covered_hole_drops(self):
        from ohsome_planet_spark.functions.geometry import clip_geometry_bbox

        mp = {
            "type": "MultiPolygon",
            "coords": [
                [
                    [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)],
                    [(2.0, 2.0), (2.0, 8.0), (8.0, 8.0), (8.0, 2.0), (2.0, 2.0)],
                ],
                [[(20.0, 4.0), (30.0, 4.0), (30.0, 6.0), (20.0, 6.0), (20.0, 4.0)]],
            ],
        }
        out = clip_geometry_bbox(mp, (4.0, 4.0, 25.0, 6.0))
        # first part's window slice lies inside its hole in y; but x range
        # extends past the hole (x in [8,10] is ring material) -> kept;
        # tighten to the hole to drop it
        out2 = clip_geometry_bbox(mp, (4.0, 4.0, 6.0, 6.0))
        assert out2 is None or all(
            len(p) >= 1 for p in out2["coords"]
        )  # never a degenerate covered part
        assert out is not None


class TestGeoJSON:
    def test_geojson_values_roundtrip(self):
        """Referee via stdlib json: parse the serialized document and
        compare VALUES against the input geometry dict."""
        from ohsome_planet_spark.functions.wkb import (
            decode,
            encode,
            geometry_to_geojson,
        )

        poly = {
            "type": "Polygon",
            "coords": [
                [(-119.0, 42.0), (-118.5, 42.0), (-118.5, 42.25),
                 (-119.0, 42.25), (-119.0, 42.0)]
            ],
        }
        s = geometry_to_geojson(decode(encode(poly)))
        doc = json.loads(s)
        assert doc["type"] == "Polygon"
        got = [tuple(p) for p in doc["coordinates"][0]]
        assert got == poly["coords"][0]
        # fixed %.7f formatting (deterministic bytes)
        assert '"coordinates":[[[-119.0000000,42.0000000]' in s

    def test_geojson_point_and_multipolygon(self):
        from ohsome_planet_spark.functions.wkb import geometry_to_geojson

        pt = geometry_to_geojson({"type": "Point", "coords": (1.5, -2.25)})
        assert json.loads(pt) == {
            "type": "Point", "coordinates": [1.5, -2.25]
        }
        mp = {
            "type": "MultiPolygon",
            "coords": [
                [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]],
                [[(5.0, 5.0), (6.0, 5.0), (6.0, 6.0), (5.0, 5.0)]],
            ],
        }
        doc = json.loads(geometry_to_geojson(mp))
        assert doc["type"] == "MultiPolygon"
        assert len(doc["coordinates"]) == 2
        assert doc["coordinates"][1][0][1] == [6.0, 5.0]
        assert geometry_to_geojson(None) is None


class TestJpegBaselineDecode:
    """Referees that do NOT replay the codec's own arithmetic:

    - a hand-crafted golden byte stream (huffman tables, entropy bits and
      the expected pixel value all derived from ITU-T T.81 by hand);
    - flat-block round-trips whose expected output is the input itself;
    - a bound on quant=1 round-trip error for arbitrary content (pure DCT
      rounding, independent of which side is wrong);
    - corrupt-input rejection.
    """

    def test_hand_crafted_golden_block(self):
        """8×8 grayscale, quant all-1, DC diff +64 → every pixel exactly
        64/8 + 128 = 136. Bytes written from the spec, not the encoder."""
        import struct

        from ohsome_planet_spark.functions.jpeg import decode_jpeg

        dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
        sof = (
            b"\xff\xc0" + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        )
        # DC table: single 1-bit code '0' -> category 7;
        # AC table: single 1-bit code '0' -> EOB
        dht = (
            b"\xff\xc4" + struct.pack(">H", 2 + 18 + 18)
            + b"\x00" + bytes([1] + [0] * 15) + bytes([7])
            + b"\x10" + bytes([1] + [0] * 15) + bytes([0])
        )
        sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0, 0, 63, 0])
        # bits: '0' (DC sym) + '1000000' (+64) + '0' (EOB), padded with 1s
        golden = (
            b"\xff\xd8" + dqt + sof + dht + sos
            + bytes([0x40, 0x7F]) + b"\xff\xd9"
        )
        w, h, c, rows = decode_jpeg(golden)
        assert (w, h, c) == (8, 8, 1)
        assert set(b"".join(rows)) == {136}

    def test_flat_block_roundtrip_exact(self):
        import numpy as np

        from ohsome_planet_spark.functions.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(11)
        for _ in range(3):
            bw, bh = int(rng.randint(1, 5)), int(rng.randint(1, 4))
            w, h = bw * 8, bh * 8
            img = np.zeros((h, w), dtype=np.uint8)
            for by in range(bh):
                for bx in range(bw):
                    img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = rng.randint(
                        0, 256
                    )
            rows = [bytes(img[r]) for r in range(h)]
            ww, hh, cc, out = decode_jpeg(encode_jpeg(w, h, rows, channels=1))
            got = np.frombuffer(b"".join(out), dtype=np.uint8).reshape(h, w)
            assert (ww, hh, cc) == (w, h, 1)
            assert np.array_equal(got, img)

    def test_flat_gray_rgb_through_420_exact(self):
        import numpy as np

        from ohsome_planet_spark.functions.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(13)
        img = np.zeros((16, 16, 3), dtype=np.uint8)
        for by in range(2):
            for bx in range(2):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] = rng.randint(
                    0, 256
                )
        rows = [bytes(img[r].reshape(-1)) for r in range(16)]
        w, h, c, out = decode_jpeg(
            encode_jpeg(16, 16, rows, channels=3, subsample=True)
        )
        got = np.frombuffer(b"".join(out), dtype=np.uint8).reshape(16, 16, 3)
        assert (w, h, c) == (16, 16, 3)
        assert np.array_equal(got, img)

    def test_random_content_quant1_error_bound(self):
        import numpy as np

        from ohsome_planet_spark.functions.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(17)
        img = rng.randint(0, 256, (17, 23, 3)).astype(np.uint8)
        rows = [bytes(img[r].reshape(-1)) for r in range(17)]
        w, h, c, out = decode_jpeg(encode_jpeg(23, 17, rows, channels=3))
        got = np.frombuffer(b"".join(out), dtype=np.uint8).reshape(17, 23, 3)
        # non-multiple-of-8 dims exercise edge padding; quant=1 round-trip
        # error is pure coefficient rounding (±0.5 per coef) — tiny
        assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= 3

    def test_restart_markers_resync(self):
        import numpy as np

        from ohsome_planet_spark.functions.jpeg import decode_jpeg, encode_jpeg

        img = np.zeros((8, 64), dtype=np.uint8)
        for bx in range(8):
            img[:, bx * 8 : bx * 8 + 8] = (bx * 37) % 256
        rows = [bytes(img[r]) for r in range(8)]
        w, h, c, out = decode_jpeg(
            encode_jpeg(64, 8, rows, channels=1, restart_interval=3)
        )
        got = np.frombuffer(b"".join(out), dtype=np.uint8).reshape(8, 64)
        assert np.array_equal(got, img)

    def test_corrupt_and_progressive_rejection(self):
        import numpy as np
        import pytest as _pytest

        from ohsome_planet_spark.functions.jpeg import (
            JpegFormatError,
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_header,
        )

        with _pytest.raises(JpegFormatError):
            decode_jpeg(b"\xff\xd8\xff\xee")  # truncated
        with _pytest.raises(JpegFormatError):
            decode_jpeg(encode_jpeg_header(8, 8, progressive=True))
        img = np.full((8, 8), 99, dtype=np.uint8)
        rows = [bytes(img[r]) for r in range(8)]
        data = bytearray(encode_jpeg(8, 8, rows, channels=1))
        data = data[: len(data) - 4]  # chop entropy tail + EOI
        with _pytest.raises(JpegFormatError):
            decode_jpeg(bytes(data))

    def test_progressive_equals_baseline(self):
        """The baseline decoder is already golden-tested; progressive and
        baseline encodings of the SAME image must decode identically (the
        quantized coefficients are identical, only scan scripting differs)
        — any error in the DC/AC first/refinement codecs breaks equality."""
        import numpy as np

        from ohsome_planet_spark.functions.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(23)
        for ch, sub, q, w, h in (
            (1, False, 1, 40, 24),
            (3, False, 1, 23, 17),
            (3, True, 1, 23, 17),
            (1, False, 16, 56, 40),  # coarse quant stresses refine paths
        ):
            img = rng.randint(0, 256, (h, w, ch)).astype(np.uint8)
            rows = [bytes(img[r].reshape(-1)) for r in range(h)]
            b = decode_jpeg(
                encode_jpeg(w, h, rows, channels=ch, quant=q, subsample=sub)
            )
            p = decode_jpeg(
                encode_jpeg(
                    w, h, rows, channels=ch, quant=q, subsample=sub,
                    progressive=True,
                )
            )
            assert b == p, (ch, sub, q)

    def test_progressive_sparse_eob_runs(self):
        """A near-flat image makes almost every AC block join long EOB
        runs (and the two bright pixels force ZRL + refinement bits)."""
        import numpy as np

        from ohsome_planet_spark.functions.jpeg import decode_jpeg, encode_jpeg

        img = np.full((32, 48), 128, dtype=np.uint8)
        img[5, 7] = 250
        img[20, 40] = 3
        rows = [bytes(img[r]) for r in range(32)]
        b = decode_jpeg(encode_jpeg(48, 32, rows, channels=1))
        p = decode_jpeg(encode_jpeg(48, 32, rows, channels=1, progressive=True))
        assert b == p

    def test_progressive_flat_blocks_exact(self):
        import numpy as np

        from ohsome_planet_spark.functions.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(29)
        img = np.zeros((16, 16, 3), dtype=np.uint8)
        for by in range(2):
            for bx in range(2):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] = rng.randint(
                    0, 256
                )
        rows = [bytes(img[r].reshape(-1)) for r in range(16)]
        w, h, c, out = decode_jpeg(
            encode_jpeg(16, 16, rows, channels=3, subsample=True,
                        progressive=True)
        )
        got = np.frombuffer(b"".join(out), dtype=np.uint8).reshape(16, 16, 3)
        assert np.array_equal(got, img)

    def test_media_seam_fallbacks(self):
        from ohsome_planet_spark.functions.jpeg import encode_jpeg, encode_jpeg_header
        from ohsome_planet_spark.operators.multimodal import _decode_media_real

        # baseline with scan data -> real pixel sum
        rows = [bytes([140] * 8) for _ in range(8)]
        w, h, c, s = _decode_media_real(encode_jpeg(8, 8, rows, channels=1))
        assert (w, h, c) == (8, 8, 1) and s == 64 * 140
        # header-only stream (no scan) -> dims real, pixel_sum null
        w, h, c, s = _decode_media_real(encode_jpeg_header(31, 17, channels=3))
        assert (w, h, c, s) == (31, 17, 3, None)
        # header-only progressive (no scan) -> dims real, pixel_sum null
        w, h, c, s = _decode_media_real(
            encode_jpeg_header(9, 9, channels=1, progressive=True)
        )
        assert (w, h, c, s) == (9, 9, 1, None)
        # REAL progressive stream -> real pixel sum
        rows = [bytes([140] * 8) for _ in range(8)]
        w, h, c, s = _decode_media_real(
            encode_jpeg(8, 8, rows, channels=1, progressive=True)
        )
        assert (w, h, c, s) == (8, 8, 1, 64 * 140)


class TestOscEncoder:
    def test_roundtrip_all_types(self):
        import datetime as dt

        from ohsome_planet_spark.sources.osmxml import encode_osc, parse_osc_bytes

        ts = dt.datetime(2024, 3, 1, 12, 30, 45)
        rows = [
            dict(osm_type="node", osm_id=5, version=2, ts=ts, changeset=9,
                 user_id=3, user_name="ann", visible=True,
                 tags={"amenity": "cafe"}, lon=-119.25, lat=42.0,
                 refs=None, members=None),
            dict(osm_type="way", osm_id=7, version=4, ts=ts, changeset=9,
                 user_id=3, user_name="ann", visible=False, tags={},
                 lon=None, lat=None, refs=[], members=None),
            dict(osm_type="relation", osm_id=1, version=1, ts=ts,
                 changeset=9, user_id=3, user_name="ann", visible=True,
                 tags={"type": "multipolygon"}, lon=None, lat=None,
                 refs=None,
                 members=[{"type": "way", "id": 7, "role": "outer"}]),
        ]
        back = parse_osc_bytes(encode_osc(rows))
        by_key = {(r["osm_type"], r["osm_id"]): r for r in back}
        n = by_key[("node", 5)]
        assert (n["lon"], n["lat"]) == (-119.25, 42.0)  # bit-exact coords
        assert n["tags"] == {"amenity": "cafe"} and n["visible"]
        assert pd_ts_naive(n["ts"]) == ts
        w = by_key[("way", 7)]
        assert w["visible"] is False and w["refs"] == []
        r = by_key[("relation", 1)]
        assert r["members"] == [{"type": "way", "id": 7, "role": "outer"}]


def pd_ts_naive(ts):
    import pandas as pd

    return pd.Timestamp(ts).to_pydatetime().replace(tzinfo=None)


class TestGifCodec:
    def test_roundtrip_random_grids(self):
        import numpy as np

        from ohsome_planet_spark.functions.gif import decode_gif, encode_gif

        rng = np.random.RandomState(5)
        for trial in range(12):
            w = int(rng.randint(1, 70))
            h = int(rng.randint(1, 40))
            ncol = [2, 4, 16, 256][trial % 4]
            pal = [
                (int(rng.randint(256)), int(rng.randint(256)),
                 int(rng.randint(256)))
                for _ in range(ncol)
            ]
            idx = [int(v) for v in rng.randint(0, ncol, w * h)]
            data = encode_gif(
                w, h, pal, idx,
                interlace=trial % 3 == 0, n_extensions=trial % 4,
            )
            ww, hh, cc, rows = decode_gif(data)
            assert (ww, hh, cc) == (w, h, 3)
            expect = [
                b"".join(bytes(pal[idx[y * w + x]]) for x in range(w))
                for y in range(h)
            ]
            assert rows == expect

    def test_dictionary_reset_long_stream(self):
        """>4096 distinct LZW codes forces a mid-stream dictionary reset
        on both sides."""
        import numpy as np

        from ohsome_planet_spark.functions.gif import decode_gif, encode_gif

        rng = np.random.RandomState(9)
        w, h = 200, 120
        pal = [(i, 255 - i, i // 2) for i in range(256)]
        idx = [int(v) for v in rng.randint(0, 256, w * h)]
        ww, hh, cc, rows = decode_gif(encode_gif(w, h, pal, idx))
        expect = [
            b"".join(bytes(pal[idx[y * w + x]]) for x in range(w))
            for y in range(h)
        ]
        assert rows == expect

    def test_interlace_row_order(self):
        """Row-gradient image: every row a distinct flat color, so a wrong
        interlace de-scramble puts the wrong COLOR on a row — checked
        against an expectation that never touches the codec's pass table."""
        from ohsome_planet_spark.functions.gif import decode_gif, encode_gif

        h, w = 13, 5
        pal = [(i * 10, 0, 0) for i in range(h)]
        idx = [y for y in range(h) for _ in range(w)]
        _, _, _, rows = decode_gif(encode_gif(w, h, pal, idx, interlace=True))
        for y in range(h):
            assert rows[y] == bytes((y * 10, 0, 0)) * w

    def test_rejections_and_media_seam(self):
        import pytest as _pytest

        from ohsome_planet_spark.functions.gif import (
            GifFormatError,
            decode_gif,
            encode_gif,
        )
        from ohsome_planet_spark.operators.multimodal import _decode_media_real

        with _pytest.raises(GifFormatError):
            decode_gif(b"NOTAGIF")
        good = encode_gif(4, 4, [(1, 2, 3), (4, 5, 6)], [0, 1] * 8)
        with _pytest.raises(GifFormatError):
            decode_gif(good[:-8])
        w, h, c, s = _decode_media_real(good)
        assert (w, h, c) == (4, 4, 3)
        assert s == 8 * (1 + 2 + 3) + 8 * (4 + 5 + 6)


class TestWavCodec:
    """The stdlib ``wave`` module is the independent referee: it shares no
    code with ``functions/wav.py``, so agreement pins the RIFF layout."""

    def test_roundtrip_against_stdlib_wave(self, tmp_path):
        import wave as stdwave

        from ohsome_planet_spark.functions.wav import decode_wav, encode_wav

        frames = [(i % 200 - 100, -(i % 150) + 50) for i in range(37)]
        mine = encode_wav(2, 16000, 16, frames)
        # stdlib reads ours
        p = tmp_path / "x.wav"
        p.write_bytes(mine)
        with stdwave.open(str(p)) as w:
            assert w.getnchannels() == 2
            assert w.getframerate() == 16000
            assert w.getsampwidth() == 2
            assert w.getnframes() == 37
            raw = w.readframes(37)
        import struct

        ref_sum = sum(struct.unpack(f"<{len(raw) // 2}h", raw))
        # we read ours and stdlib's output identically
        ch, rate, bits, n, total = decode_wav(mine)
        assert (ch, rate, bits, n) == (2, 16000, 16, 37)
        assert total == ref_sum == sum(a + b for a, b in frames)
        # stdlib writes, we read
        p2 = tmp_path / "y.wav"
        with stdwave.open(str(p2), "wb") as w:
            w.setnchannels(1)
            w.setframerate(8000)
            w.setsampwidth(1)
            w.writeframes(bytes(range(100, 150)))
        ch, rate, bits, n, total = decode_wav(p2.read_bytes())
        assert (ch, rate, bits, n) == (1, 8000, 8, 50)
        assert total == sum(range(100, 150))

    def test_rejections(self):
        import pytest as _pytest

        from ohsome_planet_spark.functions.wav import WavFormatError, decode_wav

        with _pytest.raises(WavFormatError):
            decode_wav(b"RIFFxxxxNOPE")
        with _pytest.raises(WavFormatError):
            decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data
        from ohsome_planet_spark.functions.wav import encode_wav

        good = bytearray(encode_wav(1, 8000, 16, [(1,), (2,), (3,)]))
        good[20] = 2  # format tag -> ADPCM
        with _pytest.raises(WavFormatError):
            decode_wav(bytes(good))


class TestIsoBmff:
    def test_probe_v0_v1(self):
        from ohsome_planet_spark.functions.isobmff import (
            encode_mp4_header,
            probe_mp4,
        )

        for version, timescale in ((0, 1000), (1, 600)):
            data = encode_mp4_header(
                1280, 720, duration=7200, timescale=timescale,
                version=version, extra_boxes=3,
            )
            w, h, dur, ts = probe_mp4(data)
            assert (w, h, dur, ts) == (1280, 720, 7200, timescale)

    def test_rejections(self):
        import pytest as _pytest

        from ohsome_planet_spark.functions.isobmff import (
            BmffFormatError,
            encode_mp4_header,
            probe_mp4,
        )

        with _pytest.raises(BmffFormatError):
            probe_mp4(b"\x00\x00\x00\x08free")  # no ftyp
        data = bytearray(encode_mp4_header(64, 64, duration=100))
        data[-120:] = b""  # chop moov
        with _pytest.raises(BmffFormatError):
            probe_mp4(bytes(data))

    def test_magic_kind_sniffing(self, spark):
        from ohsome_planet_spark.functions.isobmff import encode_mp4_header
        from ohsome_planet_spark.functions.wav import encode_wav
        from ohsome_planet_spark.operators.multimodal import with_media_meta

        rows = [
            (1, bytearray(encode_wav(1, 8000, 8, [(7,)]))),
            (2, bytearray(encode_mp4_header(8, 8, duration=10))),
            (3, bytearray(b"RIFF\x08\x00\x00\x00AVI LIST")),
        ]
        df = spark.createDataFrame(rows, "media_id int, media binary")
        kinds = {
            r.media_id: r.kind
            for r in with_media_meta(df).select("media_id", "kind").collect()
        }
        assert kinds == {1: "wav", 2: "mp4", 3: "riff"}


class TestCheckpointLifecycle:
    def test_release_cached_frees_checkpoint_blocks(self, spark):
        from ohsome_planet_spark.session import release_cached, truncate_lineage

        sc = spark.sparkContext

        def stored_ids():
            return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

        release_cached()  # release anything this module registered
        before = stored_ids()
        df = truncate_lineage(
            spark.range(50_000).selectExpr("id", "id * 2 AS x"), eager=True
        )
        assert df.count() == 50_000
        new = stored_ids() - before
        # delta-based: other suites sharing the session may hold their own
        # unregistered blocks — this test owns only the ones IT created
        assert new, "checkpoint produced no stored blocks"
        assert release_cached() >= 1
        assert not (stored_ids() & new), "checkpoint blocks survived release"

    def test_seams_land_in_the_run_scope(self, spark):
        from ohsome_planet_spark.session import _SCOPE, run_scope, truncate_lineage

        root = _SCOPE.get()
        n_root = len(root.seams)
        with run_scope() as scope:
            truncate_lineage(spark.range(10))
            assert len(scope.seams) == 1 and len(scope.cached) == 1
        # released on exit, and the root scope is current again, untouched
        assert not scope.seams and not scope.cached
        assert _SCOPE.get() is root and len(root.seams) == n_root
