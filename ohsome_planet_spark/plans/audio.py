"""Audio rows: PCM/G.711/ADPCM/FLAC decode, MPEG audio Layer I-III
decode, ADTS/Ogg probes and ID3 tags over generated fixtures."""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import fan_out

from ._registry import (
    _register, _t, decode_fixture, media_fixture, staged_sort,
)


@_register(
    "multimodal_wav_decode",
    """
    SELECT doc_id,
           CAST(doc_id % 2 + 1 AS INT) AS channels,
           CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INT) AS bits,
           CAST(doc_id % 50 + 1 AS INT) AS n_frames,
           CAST(list_sum(flatten(list_transform(range(0, doc_id % 50 + 1), f ->
             list_transform(range(0, doc_id % 2 + 1), c ->
               CASE WHEN doc_id % 3 = 0
                    THEN (doc_id * 13 + f * 7 + c * 3) % 256
                    ELSE (doc_id * 13 + f * 7 + c * 3) % 200 - 100 END))))
             AS BIGINT) AS sample_sum
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the multimodal seam: deterministic PCM
    frames (8-bit unsigned / 16-bit signed, mono and stereo) are written
    as genuine RIFF/WAVE bytes and decoded back by the stdlib parser
    behind :func:`operators.multimodal.decode_audio`. PCM is lossless, so
    the oracle computes the exact whole-stream sample sum arithmetically
    — a wrong byte order, chunk walk, or sign convention breaks the hash.
    Arrow-batched both ways; audio bytes never leave the executors."""
    from ..operators.multimodal import decode_audio

    def payload(d: int) -> bytes:
        from ..functions.wav import encode_wav

        ch, n = d % 2 + 1, d % 50 + 1
        bits = 8 if d % 3 == 0 else 16
        frames = [
            tuple(
                (d * 13 + f * 7 + c * 3) % 256
                if bits == 8
                else (d * 13 + f * 7 + c * 3) % 200 - 100
                for c in range(ch)
            )
            for f in range(n)
        ]
        return encode_wav(ch, 8000 + (d % 5) * 1000, bits, frames)

    media = media_fixture(spark, sf_dir, payload)
    return staged_sort(
        decode_audio(media)
        .select("doc_id", "channels", "sample_rate", "bits", "n_frames",
                "sample_sum"),
        "doc_id",
    )


_G711_BYTE = "(doc_id * 13 + f * 11) % 256"
_G711_ULAW = f"""(
  CASE WHEN (255 - ({_G711_BYTE})) >= 128 THEN -1 ELSE 1 END *
  ((((255 - ({_G711_BYTE})) % 16) * 8 + 132)
    * (1 << (((255 - ({_G711_BYTE})) // 16) % 8)) - 132)
)"""
_G711_ALAW = f"""(
  CASE WHEN xor({_G711_BYTE}, 85) >= 128 THEN 1 ELSE -1 END *
  (CASE WHEN ((xor({_G711_BYTE}, 85) // 16) % 8) = 0
        THEN (xor({_G711_BYTE}, 85) % 16) * 16 + 8
        ELSE ((xor({_G711_BYTE}, 85) % 16) * 16 + 264)
               * (1 << (((xor({_G711_BYTE}, 85) // 16) % 8) - 1)) END)
)"""


@_register(
    "multimodal_g711_decode",
    f"""
    SELECT doc_id,
           CAST(1 AS INT) AS channels,
           CAST(8000 AS INT) AS sample_rate,
           CAST(16 AS INT) AS bits,
           CAST(doc_id % 40 + 1 AS INT) AS n_frames,
           CAST(list_sum(list_transform(range(0, doc_id % 40 + 1), f ->
             CASE WHEN doc_id % 2 = 0 THEN {_G711_ULAW}
                  ELSE {_G711_ALAW} END)) AS BIGINT) AS sample_sum
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_g711_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-telephony decode through the multimodal seam:
    deterministic G.711 wire bytes wrap in RIFF/WAVE with format tag 7
    (µ-law, even docs) or 6 (A-law, odd docs) and expand to linear PCM
    through the stateless ITU segment/mantissa formulas inside the same
    ``decode_audio`` kernel. The oracle replays both expansion formulas
    byte-for-byte — a wrong complement mask, exponent shift or sign
    convention on either law breaks the hash."""
    from ..operators.multimodal import decode_audio

    def payload(d: int) -> bytes:
        from ..functions.wav import TAG_ALAW, TAG_ULAW, encode_wav_g711

        law = TAG_ULAW if d % 2 == 0 else TAG_ALAW
        raw = bytes((d * 13 + f * 11) % 256 for f in range(d % 40 + 1))
        return encode_wav_g711(1, 8000, law, raw)

    media = media_fixture(spark, sf_dir, payload)
    return staged_sort(
        decode_audio(media)
        .select("doc_id", "channels", "sample_rate", "bits", "n_frames",
                "sample_sum"),
        "doc_id",
    )


def _adpcm_oracle() -> str:
    from ..functions.wav import _IMA_INDEX_TABLE, _IMA_STEP_TABLE

    step_tbl = "[" + ", ".join(str(v) for v in _IMA_STEP_TABLE) + "]"
    idx_tbl = "[" + ", ".join(str(v) for v in _IMA_INDEX_TABLE) + "]"
    # the transition out of state f consumes nibble index f+1 - 0-based
    nib = "((s.doc_id * 7 + (s.f + 1) * 5) % 16)"
    step = f"({step_tbl}[s.idx + 1])"
    diff = (
        f"(({step} >> 3)"
        f" + CASE WHEN {nib} & 4 <> 0 THEN {step} ELSE 0 END"
        f" + CASE WHEN {nib} & 2 <> 0 THEN ({step} >> 1) ELSE 0 END"
        f" + CASE WHEN {nib} & 1 <> 0 THEN ({step} >> 2) ELSE 0 END)"
    )
    pred2 = (
        f"least(greatest(CASE WHEN {nib} & 8 <> 0"
        f" THEN s.pred - {diff} ELSE s.pred + {diff} END, -32768), 32767)"
    )
    idx2 = f"least(greatest(s.idx + {idx_tbl}[({nib} % 8) + 1], 0), 88)"
    return f"""
    WITH RECURSIVE st AS (
      SELECT doc_id,
             CAST((doc_id % 5 + 1) * 8 AS INT) AS n,
             -1 AS f,
             CAST((doc_id * 31) % 200 - 100 AS INT) AS pred,
             CAST((doc_id * 3) % 89 AS INT) AS idx,
             CAST((doc_id * 31) % 200 - 100 AS BIGINT) AS total
      FROM documents
      UNION ALL
      SELECT s.doc_id, s.n, s.f + 1,
             CAST({pred2} AS INT),
             CAST({idx2} AS INT),
             s.total + {pred2}
      FROM st s WHERE s.f + 1 < s.n
    )
    SELECT doc_id,
           CAST(1 AS INT) AS channels,
           CAST(8000 AS INT) AS sample_rate,
           CAST(16 AS INT) AS bits,
           CAST(n + 1 AS INT) AS n_frames,
           CAST(total AS BIGINT) AS sample_sum
    FROM st WHERE f = n - 1 ORDER BY doc_id
    """


@_register("multimodal_adpcm_decode", _adpcm_oracle())
def multimodal_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-compressed audio through the multimodal seam: IMA/DVI
    ADPCM (WAV format tag 0x11) — deterministic 4-bit nibble streams
    with per-doc seed (predictor, step index) decode through the exact
    integer state machine (``functions/wav.py::ima_adpcm_step``, pinned
    against stdlib audioop for every transition in tests). The oracle is
    a RECURSIVE CTE replaying the state machine transition-for-
    transition in DuckDB — the first sequential-state codec the gate
    hashes end-to-end."""
    from ..operators.multimodal import decode_audio

    def payload(d: int) -> bytes:
        from ..functions.wav import encode_wav_ima

        n = (d % 5 + 1) * 8
        nibs = [(d * 7 + f * 5) % 16 for f in range(n)]
        return encode_wav_ima(
            8000, (d * 31) % 200 - 100, (d * 3) % 89, nibs
        )

    media = media_fixture(spark, sf_dir, payload)
    return staged_sort(
        decode_audio(media)
        .select("doc_id", "channels", "sample_rate", "bits", "n_frames",
                "sample_sum"),
        "doc_id",
    )


_FLAC_SAMP = (
    "(doc_id * 31 + f * 17 + c * 11) % (CASE WHEN doc_id % 3 = 0 THEN 256 "
    "ELSE 65536 END) - (CASE WHEN doc_id % 3 = 0 THEN 128 ELSE 32768 END)"
)


@_register(
    "multimodal_flac_decode",
    f"""
    SELECT doc_id,
           CAST(doc_id % 2 + 1 AS INT) AS channels,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 11025 ELSE 44100 END AS INT)
             AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INT) AS bits,
           CAST(doc_id % 60 + 1 AS INT) AS n_frames,
           CAST(list_sum(flatten(list_transform(range(0, doc_id % 60 + 1), f ->
             list_transform(range(0, doc_id % 2 + 1), c -> {_FLAC_SAMP}))))
             AS BIGINT) AS sample_sum,
           CAST(list_sum(flatten(list_transform(range(0, doc_id % 60 + 1), f ->
             list_transform(range(0, doc_id % 2 + 1), c ->
               (f * (doc_id % 2 + 1) + c + 1) * ({_FLAC_SAMP})))))
             AS BIGINT) AS weighted_sum
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode through the multimodal seam:
    deterministic PCM signals are FLAC-encoded into genuine bitstreams —
    fixed predictors + Rice-partitioned residuals (4- and 5-bit
    parameters, raw-escape partitions), all four stereo channel
    assignments, odd block sizes, PADDING metadata blocks — and decoded
    back by ``functions/flac.py`` (CRC-8/CRC-16/MD5-verified). FLAC is
    lossless, so the oracle computes the exact sums arithmetically; the
    position-WEIGHTED sum is frame/channel-order-sensitive, so a wrong
    channel de-correlation (left/side vs mid/side) or frame order breaks
    the hash even though the plain sum wouldn't."""
    from ..functions.flac import (
        CH_LEFT_SIDE,
        CH_MID_SIDE,
        CH_RIGHT_SIDE,
        decode_flac,
        encode_flac,
    )

    modes = [None, CH_LEFT_SIDE, CH_RIGHT_SIDE, CH_MID_SIDE]
    rates = [8000, 16000, 11025, 44100]

    def payload(d: int) -> bytes:
        ch, n = d % 2 + 1, d % 60 + 1
        bits = 8 if d % 3 == 0 else 16
        half = 1 << (bits - 1)
        frames = [
            tuple(
                (d * 31 + f * 17 + c * 11) % (2 * half) - half
                for c in range(ch)
            )
            for f in range(n)
        ]
        return encode_flac(
            ch, rates[d % 4], bits, frames,
            block_size=16 + d % 50,
            stereo_mode=modes[(d // 2) % 4] if ch == 2 else None,
            partition_order=d % 3,
            rice2=d % 5 == 0,
            force_escape=d % 7 == 0,
            pad_metadata=(d % 4) * 3,
        )

    media = media_fixture(spark, sf_dir, payload)

    def decode(payload: bytes) -> tuple:
        ch, rate, bits, frames = decode_flac(payload)
        ss = 0
        ws = 0
        for f, fr in enumerate(frames):
            for c, s in enumerate(fr):
                ss += s
                ws += (f * ch + c + 1) * s
        return ch, rate, bits, len(frames), ss, ws

    return staged_sort(
        decode_fixture(
            media,
            decode,
            "channels int, sample_rate int, bits int, n_frames int,"
            " sample_sum bigint, weighted_sum bigint",
        )
        .select("doc_id", "channels", "sample_rate", "bits", "n_frames",
                "sample_sum", "weighted_sum"),
        "doc_id",
    )


@_register(
    "multimodal_audio_features",
    """
    WITH base AS (
      SELECT doc_id, doc_id % 2 + 1 AS ch, doc_id % 50 + 1 AS n
      FROM documents
    ), mono AS (
      SELECT doc_id, ch, n,
             list_transform(range(0, n), f ->
               CAST(floor(list_sum(list_transform(range(0, ch), c ->
                 (doc_id * 13 + f * 7 + c * 3) % 200 - 100))
                 / CAST(ch AS DOUBLE)) AS BIGINT)) AS m
      FROM base
    )
    SELECT doc_id,
           CAST(ceil(n / 16.0) AS INT) AS n_analysis_frames,
           CAST(list_sum(list_transform(m, v -> v * v)) AS BIGINT)
             AS energy_total,
           CAST(coalesce(list_sum(list_transform(range(1, n), i ->
               CASE WHEN (m[i] < 0) <> (m[i + 1] < 0) THEN 1 ELSE 0 END)), 0)
             AS INT) AS zero_crossings,
           CAST(list_max(list_transform(m, v -> abs(v))) AS BIGINT)
             AS peak_abs
    FROM mono ORDER BY doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction through the multimodal seam: the
    same deterministic 16-bit PCM signal family travels as RIFF/WAVE for
    even docs and as genuine FLAC (varying stereo decorrelation modes)
    for odd docs — the feature kernel magic-sniffs and decodes both —
    then integer-exact features: floor-downmixed mono lane, total energy
    (Σ s²), zero-crossing count and peak amplitude. The oracle replays
    every feature arithmetically; a wrong decode, downmix rounding or
    sign convention on either codec path breaks the hash."""
    from ..functions.flac import (
        CH_LEFT_SIDE,
        CH_MID_SIDE,
        CH_RIGHT_SIDE,
        encode_flac,
    )
    from ..functions.wav import encode_wav
    from ..operators.multimodal import audio_features

    modes = [None, CH_LEFT_SIDE, CH_RIGHT_SIDE, CH_MID_SIDE]

    def payload(d: int) -> bytes:
        ch, n = d % 2 + 1, d % 50 + 1
        frames = [
            tuple((d * 13 + f * 7 + c * 3) % 200 - 100
                  for c in range(ch))
            for f in range(n)
        ]
        if d % 2 == 0:
            return encode_wav(ch, 16000, 16, frames)
        else:
            return encode_flac(
                ch, 16000, 16, frames, block_size=16,
                stereo_mode=modes[(d // 2) % 4] if ch == 2 else None,
                partition_order=d % 2,
            )

    media = media_fixture(spark, sf_dir, payload)
    return staged_sort(
        audio_features(media, frame_len=16)
        .select("doc_id", "n_analysis_frames", "energy_total",
                "zero_crossings", "peak_abs"),
        "doc_id",
    )


_MP3_ORACLE = """
WITH cfg AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 0 END AS version,
    (doc_id // 3) % 3 AS layer,
    doc_id % 3 AS sr_idx,
    CAST(1 + doc_id % 2 AS INT) AS channels,
    CAST(doc_id % 25 + 1 AS INT) AS nf,
    doc_id % 256 AS padpat,
    doc_id % 4 = 0 AS vary
  FROM documents
),
t AS (
  SELECT *,
    CASE WHEN version = 3 THEN 0 ELSE 1 END AS vgroup,
    CAST(CASE version
      WHEN 3 THEN [44100, 48000, 32000][sr_idx + 1]
      WHEN 2 THEN [22050, 24000, 16000][sr_idx + 1]
      ELSE [11025, 12000, 8000][sr_idx + 1] END AS INT) AS rate
  FROM cfg
),
t2 AS (
  SELECT *,
    CASE
      WHEN vgroup = 0 AND layer = 0 THEN
        [0,32,64,96,128,160,192,224,256,288,320,352,384,416,448]
      WHEN vgroup = 0 AND layer = 1 THEN
        [0,32,48,56,64,80,96,112,128,160,192,224,256,320,384]
      WHEN vgroup = 0 THEN
        [0,32,40,48,56,64,80,96,112,128,160,192,224,256,320]
      WHEN layer = 0 THEN
        [0,32,48,56,64,80,96,112,128,144,160,176,192,224,256]
      ELSE [0,8,16,24,32,40,48,56,64,80,96,112,128,144,160]
    END AS brt,
    CASE WHEN layer = 0 THEN 384
         WHEN layer = 1 OR version = 3 THEN 1152
         ELSE 576 END AS spf
  FROM t
),
fr AS (
  SELECT *,
    list_transform(range(0, nf), k -> CASE
      WHEN vary THEN brt[5 + (doc_id + k) % 10 + 1]
      ELSE brt[1 + doc_id % 14 + 1] END * 1000) AS brs,
    list_transform(range(0, nf), k -> (padpat >> (k % 8)) & 1) AS pads
  FROM t2
),
fb AS (
  SELECT *,
    list_sum(list_transform(range(0, nf), k -> CASE
      WHEN layer = 0 THEN (12 * brs[k + 1] // rate + pads[k + 1]) * 4
      WHEN layer = 1 OR vgroup = 0 THEN 144 * brs[k + 1] // rate + pads[k + 1]
      ELSE 72 * brs[k + 1] // rate + pads[k + 1] END)) AS total_bytes
  FROM fr
)
SELECT doc_id, rate AS sample_rate, channels,
       nf AS n_frames,
       CAST(nf * (spf * 1000000 // rate) AS BIGINT) AS duration_us,
       CAST(CASE WHEN NOT vary OR nf = 1 THEN brs[1] // 1000
            ELSE total_bytes * 8 * rate // (nf * spf) // 1000
       END AS INT) AS bitrate_kbps,
       CASE WHEN vary AND nf >= 2 THEN true
            WHEN vary AND nf = 1 AND layer = 2 THEN true
            ELSE false END AS is_vbr
FROM fb ORDER BY doc_id
"""


@_register("multimodal_mp3_probe", _MP3_ORACLE)
def multimodal_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-audio frame walk through the multimodal seam
    (``functions/mp3.py``): genuine sync-word frame sequences rotate the
    published header tables — MPEG1/2/2.5 by doc%3, Layers I/II/III by
    (doc//3)%3, all three sample-rate slots, mono/stereo, per-frame
    padding bits from a doc-specific pattern, ID3v2 prefixes, and
    varying-bitrate sequences with a first-frame Xing header on Layer III
    — and the probe walks every frame (no size guessing). The oracle
    replays the ISO 11172-3/13818-3 bitrate/rate/frame-size arithmetic
    per frame, so one wrong table entry, slot rounding, or padding bit
    breaks the hash."""
    from ..operators.multimodal import probe_audio_stream

    def payload(d: int) -> bytes:
        from ..functions.mp3 import encode_mp3

        version = (3, 2, 0)[d % 3]
        layer = (d // 3) % 3
        nf = d % 25 + 1
        vary = d % 4 == 0
        if vary:
            brs = [5 + (d + k) % 10 for k in range(nf)]
        else:
            brs = [1 + d % 14] * nf
        return encode_mp3(
            version, layer, brs, d % 3,
            channels=1 + d % 2,
            padding_pattern=d % 256,
            id3_bytes=(d % 5) * 11,
            xing=vary and layer == 2,
        )

    media = media_fixture(spark, sf_dir, payload)
    return staged_sort(
        probe_audio_stream(media)
        .select("doc_id", "sample_rate", "channels", "n_frames",
                "duration_us", "bitrate_kbps", "is_vbr"),
        "doc_id",
    )


def _decode_subband_sums(media: DataFrame, layer: int) -> DataFrame:
    """Decode the Layer I/II fixtures in ``media``: rate, channels and
    frame count plus the rounded plain and position-weighted sums of
    every subband sample."""
    from ..functions.mp3 import decode_mp1_subbands, decode_mp2_subbands

    decoder, n_sb, n_s = (
        (decode_mp1_subbands, 32, 12) if layer == 1
        else (decode_mp2_subbands, 30, 36)
    )

    def decode(payload: bytes) -> tuple:
        rate, ch, nf, frames = decoder(payload)
        ss = 0.0
        ws = 0.0
        for f, chans in enumerate(frames):
            for c, sbs in enumerate(chans):
                for sb, vals in enumerate(sbs):
                    for s, v in enumerate(vals):
                        ss += v
                        ws += v * (((f * ch + c) * n_sb + sb) * n_s + s + 1)
        return rate, ch, nf, round(ss, 6), round(ws, 6)

    return staged_sort(
        decode_fixture(
            media,
            decode,
            "sample_rate int, channels int, n_frames int,"
            " sample_sum double, weighted_sum double",
        )
        .select("doc_id", "sample_rate", "channels", "n_frames",
                "sample_sum", "weighted_sum"),
        "doc_id",
    )


def _mp1_oracle() -> str:
    # replay of ISO 11172-3 §2.4.3.3 Layer I requantization with the
    # fixture's parameter functions; every step is IEEE-deterministic
    # (dyadic scalefactors, one division + two multiplies per sample)
    val = """
      (2.0 / CAST(1 << ((doc_id + sb + c) % 21) AS DOUBLE))
      * (CAST(1 << (((doc_id + sb + 2*c) % 3) + 1) AS DOUBLE)
         / CAST((1 << (((doc_id + sb + 2*c) % 3) + 1)) - 1 AS DOUBLE))
      * (CAST(xor((doc_id + f*7 + c*3 + sb*5 + s*11)
                  % (1 << (((doc_id + sb + 2*c) % 3) + 1)),
              1 << ((doc_id + sb + 2*c) % 3)) AS DOUBLE)
           / CAST(1 << ((doc_id + sb + 2*c) % 3) AS DOUBLE)
         - 1.0
         + 1.0 / CAST(1 << (((doc_id + sb + 2*c) % 3) + 1) AS DOUBLE))
    """
    w = "(((f * (1 + doc_id % 2) + c) * 32 + sb) * 12 + s + 1)"
    body = f"""
      flatten(list_transform(range(0, doc_id % 4 + 1), f ->
        flatten(list_transform(range(0, 1 + doc_id % 2), c ->
          flatten(list_transform(range(0, 32), sb ->
            CASE WHEN (doc_id + sb + 2*c) % 3 = 0
                 THEN CAST([] AS DOUBLE[])
                 ELSE list_transform(range(0, 12), s -> {{expr}})
            END))))))
    """
    return f"""
    SELECT doc_id,
           CAST([44100, 48000, 32000][doc_id % 3 + 1] AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(doc_id % 4 + 1 AS INT) AS n_frames,
           round(coalesce(list_sum({body.format(expr=val)}), 0.0), 6)
             AS sample_sum,
           round(coalesce(list_sum({body.format(expr=f"({val}) * {w}")}),
                          0.0), 6) AS weighted_sum
    FROM documents ORDER BY doc_id
    """


@_register("multimodal_mp1_decode", _mp1_oracle())
def multimodal_mp1_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer I SAMPLE decode through the multimodal seam
    (``functions/mp3.py::decode_mp1_subbands``): genuine Layer I frames —
    4-bit allocations, 6-bit scalefactors, MSB-packed raw samples — are
    requantized per ISO 11172-3 §2.4.3.3 in the subband domain. The
    fixture keeps every arithmetic step IEEE-deterministic (scalefactor
    indices are multiples of 3, so scf = 2·2^-k is an exact dyadic), and
    the oracle replays the requantization formula term-for-term; the
    position-WEIGHTED sum pins bit order, channel interleave, and frame
    order. The synthesis filterbank (the perceptual half) is documented
    out of scope — subband samples are the bitstream's exact content."""
    def payload(d: int) -> bytes:
        from ..functions.mp3 import encode_mp1

        ch = 1 + d % 2
        alloc = [
            [(d + sb + 2 * c) % 3 for sb in range(32)]
            for c in range(ch)
        ]
        scf = [
            [3 * ((d + sb + c) % 21) for sb in range(32)]
            for c in range(ch)
        ]

        def sample_fn(f, c, sb, s, d=d, alloc=alloc):
            nb = alloc[c][sb] + 1
            return (d + f * 7 + c * 3 + sb * 5 + s * 11) % (1 << nb)

        return encode_mp1(
            alloc, scf, None,
            sr_idx=d % 3, br_idx=14, channels=ch,
            n_frames=d % 4 + 1, sample_fn=sample_fn,
        )

    return _decode_subband_sums(
        media_fixture(spark, sf_dir, payload), layer=1
    )


def _mp2_nb_case() -> str:
    """SQL CASE mapping a Layer II step count ``m`` to its code bits."""
    from ..functions.mp3 import _MP2_NB

    return "CASE m " + " ".join(
        f"WHEN {m} THEN {nb}" for m, nb in sorted(_MP2_NB.items())
    ) + " END"


def _mp2_sample_sql(code: str) -> str:
    """One dequantized Layer II sample for sample ``code``: the
    scalefactor of the slot transmitted under scfsi = (d+sb+c)%4 times
    the requantization of the code."""
    # part -> transmitted scalefactor slot under scfsi=(d+sb+c)%4
    trans_idx = """
      CASE (doc_id + sb + c) % 4
        WHEN 0 THEN (s // 12)
        WHEN 1 THEN (CASE WHEN s // 12 <= 1 THEN 0 ELSE 1 END)
        WHEN 2 THEN 0
        ELSE (CASE WHEN s // 12 = 0 THEN 0 ELSE 1 END) END
    """
    scf = f"""
      (2.0 / CAST(1 << ((doc_id + sb + c + ({trans_idx})) % 21) AS DOUBLE))
    """
    return f"""
      ({scf}) * (
        (CAST(1 << nb AS DOUBLE) / CAST(m AS DOUBLE)) * (
          CAST(({code}) AS DOUBLE) / CAST(1 << (nb - 1) AS DOUBLE) - 1.0
          + CAST((1 << nb) - m + 1 AS DOUBLE) / CAST(1 << nb AS DOUBLE)
        )
      )
    """


def _mp2_oracle() -> str:
    """DuckDB replay of the Layer II fixture: allocation-table selection,
    per-(c,sb) allocation/scfsi/scalefactor derivation, group-code
    degrouping, and the §2.4.3.4 requantization — term-for-term the same
    IEEE arithmetic as ``decode_mp2_subbands`` (C = 2^nb/m and the
    dyadic D/scf/s''' terms are exact; the two multiplies round
    identically)."""
    from ..functions.mp3 import mp2_alloc_table, mp2_table_for

    rates = [44100, 48000, 32000]
    per_ch_kbps = [48, 64, 96, 160]
    tbl_names = []
    sblimits = []
    for r24 in range(24):
        rate = rates[r24 % 3]
        ch = 1 + r24 % 2
        name = mp2_table_for(rate, per_ch_kbps[r24 % 4])
        tbl_names.append("abcd".index(name))
        sblimits.append(len(mp2_alloc_table(name)))
    steps_all = "[" + ",".join(
        "[" + ",".join(
            "[" + ",".join(str(m) for m in sb_steps) + "]"
            for sb_steps in mp2_alloc_table(n)
        ) + "]"
        for n in "abcd"
    ) + "]"
    nb_case = _mp2_nb_case()

    idx_expr = """
      CASE WHEN (doc_id + sb + c) % 2 <> 0 THEN 0
           WHEN sb = doc_id % 3 THEN 3
           WHEN sb = 24 AND doc_id % 4 >= 2 AND (doc_id + c) % 5 = 2 THEN 3
           ELSE 1 + (doc_id + sb + 2*c) % 2 END
    """
    code = """
      CASE WHEN m IN (3, 5, 9)
           THEN ((doc_id + f*7 + (s//3)*5 + sb*11 + c*13) % (m*m*m))
                // CASE s % 3 WHEN 0 THEN 1 WHEN 1 THEN m ELSE m*m END % m
           ELSE (doc_id + f*7 + (s//3)*5 + (s%3)*3 + sb*11 + c*13) % m END
    """
    val = _mp2_sample_sql(code)
    w = "(((f * (1 + doc_id % 2) + c) * 30 + sb) * 36 + s + 1)"
    body = f"""
      flatten(list_transform(range(0, doc_id % 3 + 1), f ->
        flatten(list_transform(range(0, 1 + doc_id % 2), c ->
          flatten(list_transform(
            range(0, [{",".join(map(str, sblimits))}][doc_id % 24 + 1]),
            sb ->
            flatten(list_transform([{idx_expr}], idx ->
              CASE WHEN idx = 0
                   THEN list_transform(range(0, 36), s -> 0.0)
                   ELSE flatten(list_transform(
                     [({steps_all})
                       [[{",".join(map(str, tbl_names))}][doc_id % 24 + 1]
                        + 1][sb + 1][idx + 1]], m ->
                     flatten(list_transform([{nb_case}], nb ->
                       list_transform(range(0, 36), s -> {{expr}})
                     ))))
              END))))))))
    """
    return f"""
    SELECT doc_id,
           CAST([44100, 48000, 32000][doc_id % 3 + 1] AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(doc_id % 3 + 1 AS INT) AS n_frames,
           round(coalesce(list_sum({body.format(expr=val)}), 0.0), 6)
             AS sample_sum,
           round(coalesce(list_sum({body.format(expr=f"({val}) * {w}")}),
                          0.0), 6) AS weighted_sum
    FROM documents WHERE doc_id < 120 ORDER BY doc_id
    """


@_register("multimodal_mp2_decode", _mp2_oracle())
def multimodal_mp2_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer II SAMPLE decode through the multimodal seam
    (``functions/mp3.py::decode_mp2_subbands``): genuine Layer II frames
    — Annex-B table-selected allocations (all four tables B.2a-d are hit
    across the doc grid), scfsi-shared scalefactors, GROUPED 3/5/9-step
    codes degrouped least-significant-first, and ungrouped codes up to
    the 16-bit 65535-step class — requantized per ISO 11172-3 §2.4.3.4.
    Scalefactor indices are multiples of 3 (exact dyadics) and C/D are
    exact closed forms of the published Table 3-C.3 constants, so every
    arithmetic step is IEEE-deterministic; the oracle replays the decode
    term-for-term and the position-weighted sum pins bit order, channel
    interleave, scfsi sharing, and frame order.

    The grid is TRIMMED to doc_id < 120 (5 full cycles of the %24
    rate/channel/table matrix × every %5 residue — lcm(24,5)): the
    coverage property, not the doc count, is the referee
    (tests/test_mp2.py::test_gate_grid_coverage_at_120 asserts all four
    tables, both channel modes, all rates, all scfsi modes, grouped and
    max-step classes, and the sb-24 4th-slot case are still hit)."""
    from ..functions.mp3 import encode_mp2, mp2_alloc_table, mp2_table_for

    _BR_IDX = {(0, 1): 2, (0, 2): 6, (1, 1): 4, (1, 2): 8,
               (2, 1): 6, (2, 2): 10, (3, 1): 9, (3, 2): 13}

    def payload(d: int) -> bytes:
        ch = 1 + d % 2
        rate = [44100, 48000, 32000][d % 3]
        p = d % 4
        table = mp2_alloc_table(
            mp2_table_for(rate, [48, 64, 96, 160][p])
        )
        sblimit = len(table)

        def idx_fn(c, sb, d=d, p=p):
            if (d + sb + c) % 2 != 0:
                return 0
            if sb == d % 3:
                return 3
            if sb == 24 and p >= 2 and (d + c) % 5 == 2:
                return 3
            return 1 + (d + sb + 2 * c) % 2

        alloc = [
            [idx_fn(c, sb) for sb in range(sblimit)]
            for c in range(ch)
        ]
        scfsi = [
            [(d + sb + c) % 4 for sb in range(sblimit)]
            for c in range(ch)
        ]

        def code_fn(f, c, sb, g, k, d=d, table=table, alloc=alloc):
            m = table[sb][alloc[c][sb]]
            if m in (3, 5, 9):
                v = (d + f * 7 + g * 5 + sb * 11 + c * 13) % (
                    m * m * m
                )
                return (v // (m**k)) % m
            return (
                d + f * 7 + g * 5 + k * 3 + sb * 11 + c * 13
            ) % m

        return encode_mp2(
            alloc, scfsi,
            lambda c, sb, i, d=d: 3 * ((d + sb + c + i) % 21),
            code_fn,
            sr_idx=d % 3, br_idx=_BR_IDX[(p, ch)],
            channels=ch, n_frames=1 + d % 3,
        )

    return _decode_subband_sums(
        media_fixture(spark, sf_dir, payload, n_docs=120), layer=2
    )


def _mp2_joint_oracle() -> str:
    """DuckDB replay of the JOINT-stereo Layer II fixture: fixed table
    B.2a (48 kHz / 192 kbps-per-channel), per-doc intensity bound
    4·(doc%4+1). Below the bound everything is per-channel; at/above it
    allocation and sample codes drop their channel term (ONE shared code
    set) while scalefactors stay per-channel — the §A.2.2.2 sharing
    rule, hash-pinned."""
    from ..functions.mp3 import mp2_alloc_table

    steps_a = "[" + ",".join(
        "[" + ",".join(str(m) for m in sb_steps) + "]"
        for sb_steps in mp2_alloc_table("a")
    ) + "]"
    nb_case = _mp2_nb_case()
    bound = "(4 * (doc_id % 4) + 4)"
    idx_expr = f"""
      CASE WHEN sb < {bound}
           THEN CASE WHEN (doc_id + sb + c) % 2 <> 0 THEN 0
                     ELSE 1 + (doc_id + sb + 2*c) % 2 END
           ELSE CASE WHEN (doc_id + sb) % 2 <> 0 THEN 0
                     ELSE 1 + (doc_id + sb) % 2 END END
    """
    cc = f"(CASE WHEN sb < {bound} THEN c ELSE 0 END)"
    code = f"""
      CASE WHEN m IN (3, 5, 9)
           THEN ((doc_id + f*7 + (s//3)*5 + sb*11 + {cc}*13) % (m*m*m))
                // CASE s % 3 WHEN 0 THEN 1 WHEN 1 THEN m ELSE m*m END % m
           ELSE (doc_id + f*7 + (s//3)*5 + (s%3)*3 + sb*11 + {cc}*13) % m
      END
    """
    val = _mp2_sample_sql(code)
    w = "(((f * 2 + c) * 30 + sb) * 36 + s + 1)"
    body = f"""
      flatten(list_transform(range(0, doc_id % 2 + 1), f ->
        flatten(list_transform(range(0, 2), c ->
          flatten(list_transform(range(0, 27), sb ->
            flatten(list_transform([{idx_expr}], idx ->
              CASE WHEN idx = 0
                   THEN list_transform(range(0, 36), s -> 0.0)
                   ELSE flatten(list_transform(
                     [({steps_a})[sb + 1][idx + 1]], m ->
                     flatten(list_transform([{nb_case}], nb ->
                       list_transform(range(0, 36), s -> {{expr}})
                     ))))
              END))))))))
    """
    return f"""
    SELECT doc_id,
           CAST(48000 AS INT) AS sample_rate,
           CAST(2 AS INT) AS channels,
           CAST(doc_id % 2 + 1 AS INT) AS n_frames,
           round(coalesce(list_sum({body.format(expr=val)}), 0.0), 6)
             AS sample_sum,
           round(coalesce(list_sum({body.format(expr=f"({val}) * {w}")}),
                          0.0), 6) AS weighted_sum
    FROM documents WHERE doc_id < 120 ORDER BY doc_id
    """


@_register("multimodal_mp2_joint_decode", _mp2_joint_oracle())
def multimodal_mp2_joint_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOINT (intensity) stereo Layer II decode through the multimodal
    seam — mode 01, the dominant real-world stereo MP2 form: at and
    above the bound 4·(mode_extension+1) each subband carries ONE
    allocation and ONE code set shared by both channels while each
    channel applies its own scalefactors (ISO 11172-3 §A.2.2.2). The
    fixture varies the bound per doc (ext = doc%4) with per-channel
    content below it and shared content above; the oracle replays both
    regimes and the position-weighted sum pins exactly where the sharing
    starts — an off-by-one bound reads the whole rest of the frame
    desynced."""
    from ..functions.mp3 import encode_mp2, mp2_alloc_table

    table = mp2_alloc_table("a")

    def payload(d: int) -> bytes:
        ext = d % 4
        bound = 4 * (ext + 1)

        def idx_fn(c, sb, d=d, bound=bound):
            if sb < bound:
                if (d + sb + c) % 2 != 0:
                    return 0
                return 1 + (d + sb + 2 * c) % 2
            if (d + sb) % 2 != 0:
                return 0
            return 1 + (d + sb) % 2

        alloc = [
            [idx_fn(c, sb) for sb in range(27)] for c in range(2)
        ]
        scfsi = [
            [(d + sb + c) % 4 for sb in range(27)] for c in range(2)
        ]

        def code_fn(f, c, sb, g, k, d=d, table=table, alloc=alloc,
                    bound=bound):
            # the encoder calls with c=0 for shared subbands; the
            # cc term mirrors the oracle's CASE
            cc = c if sb < bound else 0
            m = table[sb][alloc[c][sb]]
            if m in (3, 5, 9):
                v = (d + f * 7 + g * 5 + sb * 11 + cc * 13) % (
                    m * m * m
                )
                return (v // (m**k)) % m
            return (
                d + f * 7 + g * 5 + k * 3 + sb * 11 + cc * 13
            ) % m

        return encode_mp2(
            alloc, scfsi,
            lambda c, sb, i, d=d: 3 * ((d + sb + c + i) % 21),
            code_fn,
            sr_idx=1, br_idx=13, channels=2,
            n_frames=1 + d % 2, joint_ext=ext,
        )

    return _decode_subband_sums(
        media_fixture(spark, sf_dir, payload, n_docs=120), layer=2
    )


# --- MPEG-1 Layer III sample decode (functions/mp3_l3.py) --------------------


def _l3_grid(d: int) -> dict:
    """Doc-grid parameters for the Layer III gate row — closed forms
    shared verbatim by the Spark fixture encoder and the DuckDB oracle
    (same discipline as the MP2 rows)."""
    return {
        "channels": 1 + d % 2,
        "sr_idx": d % 3,
        "n_frames": 1 + (d // 2) % 2,
        "ms": d % 4 == 3,
    }


# per-(d, gr) region table rotation; vmax is each table's largest legal
# magnitude (xlen-1, or 15 + 2^linbits - 1 for the ESC tables)
_L3_TSETS = [[1, 5, 2], [5, 13, 1], [13, 16, 5],
             [16, 24, 2], [24, 7, 1], [7, 15, 5]]
_L3_VMAX = {1: 1, 2: 2, 5: 3, 7: 5, 13: 15, 15: 15, 16: 16, 24: 30}


def _l3_granule(d: int, f: int, gr: int, c: int, sr: int) -> dict:
    from ..functions.mp3_l3 import SFB_LONG, SLEN

    bt = [0, 2, 1, 3][(d + 2 * f + gr) % 4]
    sc = (d + gr + c) % 16
    slen1, slen2 = SLEN[sc]
    npairs = 12 + ((d + gr) * 7) % 40
    nquads = (d + 2 * gr + c) % 6
    tsel = list(_L3_TSETS[(d + gr) % 6])
    if bt != 0:
        tsel = tsel[:2] + [0]
        r0e, r1e = 36, 576
    else:
        bands = SFB_LONG[sr]
        r0e, r1e = bands[8], bands[14]
    lines = []
    for i in range(2 * npairs):
        region = 0 if i < r0e else (1 if i < r1e else 2)
        vmax = _L3_VMAX[tsel[region]] if tsel[region] else 0
        m = (d + 11 * i + 3 * gr + 5 * c + f) % (vmax + 1)
        lines.append(-m if (d + i + gr) % 2 == 1 else m)
    quads = [
        tuple(((d + 5 * i + j + gr) % 3) - 1 for j in range(4))
        for i in range(nquads)
    ]
    g = {
        "block_type": bt,
        "global_gain": 200 + (d + 3 * f + 5 * gr + 7 * c) % 16,
        "scalefac_compress": sc,
        "preflag": (d + gr) % 2 if bt != 2 else 0,
        "scalefac_scale": (d + c) % 2,
        "subblock_gain": [(d + gr + w) % 3 for w in range(3)]
        if bt == 2 else [0, 0, 0],
        "table_select": tsel,
        "count1table_select": (d + gr) % 2,
        "lines": lines,
        "quads": quads,
    }
    if bt == 2:
        g["sf"] = [
            [(d + 3 * sfb + w + gr) % (1 << (slen1 if sfb < 6 else slen2))
             for w in range(3)]
            for sfb in range(12)
        ]
    else:
        g["sf"] = [
            (d + 3 * sfb + gr + 2 * c)
            % (1 << (slen1 if sfb < 11 else slen2))
            for sfb in range(21)
        ]
    return g


def _lit(xs) -> str:
    """A DuckDB list literal of ``xs`` (floats keep their full repr)."""
    return "[" + ",".join(
        repr(x) if isinstance(x, float) else str(x) for x in xs
    ) + "]"


def _lit2(xss) -> str:
    return "[" + ",".join(_lit(xs) for xs in xss) + "]"


def _sfb_of(bands, n: int) -> list[int]:
    """Scalefactor band index of each of the ``n`` lines."""
    out = []
    for sfb in range(len(bands) - 1):
        out += [sfb] * (bands[sfb + 1] - bands[sfb])
    assert len(out) == n
    return out


# sign(isv) * |isv|^(4/3): the requantized magnitude of spectral value isv.
_L3_POW43 = """(CASE WHEN isv < 0 THEN -1.0 ELSE 1.0 END)
          * pow(abs(CAST(isv AS DOUBLE)), 4.0 / 3.0)"""


def _mp3_l3_oracle() -> str:
    """DuckDB replay of the Layer III fixture grid, RELATIONAL form (one
    row per spectral line — the list-lambda form was quadratic in the
    engine): the intended huffman symbols from the closed forms,
    §2.4.3.4.7 requantization with preflag/pretab/subblock gains,
    short-block reorder (inlined permutation constants), MS stereo,
    the printed alias butterflies as self-joins on the partner line,
    the windowed 36/12-point IMDCT as a relational matmul against the
    unnested 36×18 matrices (imdct_matrix — pytest-refereed against an
    independent numpy derivation), overlap-add via a granule self-join,
    and frequency inversion — term-for-term what decode_mp3_subbands
    does from the genuine bitstream."""
    from ..functions.mp3_l3 import (
        ALIAS_CA,
        ALIAS_CS,
        PRETAB,
        SFB_LONG,
        SFB_SHORT,
        SLEN,
        imdct_matrix,
        reorder_permutation,
    )

    sfl = _lit2([_sfb_of(SFB_LONG[sr], 576) for sr in range(3)])
    sfs_t = _lit2([_sfb_of(SFB_SHORT[sr], 192) for sr in range(3)])
    perm = _lit2([reorder_permutation(sr) for sr in range(3)])
    mm = "[" + ",".join(_lit2(imdct_matrix(bt)) for bt in range(4)) + "]"
    cs, ca = _lit(ALIAS_CS), _lit(ALIAS_CA)
    pre = _lit(PRETAB)
    slen1 = _lit([s[0] for s in SLEN])
    slen2 = _lit([s[1] for s in SLEN])
    tset_v = _lit2([[_L3_VMAX.get(t, 0) for t in ts] for ts in _L3_TSETS])
    r1e_long = _lit([SFB_LONG[sr][14] for sr in range(3)])

    return f"""
    WITH params AS (
      SELECT doc_id AS d,
             CAST(1 + doc_id % 2 AS INT) AS ch,
             CAST(doc_id % 3 AS INT) AS sr,
             CAST(1 + (doc_id // 2) % 2 AS INT) AS nf,
             (doc_id % 4 = 3) AS ms
      FROM documents WHERE doc_id < 120
    ), base AS (
      SELECT d, ch, sr, nf, ms, g, g // 2 AS f, g % 2 AS gr, c,
             CAST([0,2,1,3][CAST((d + 2 * (g // 2) + g % 2) % 4 AS INT) + 1]
                  AS INT) AS bt,
             200 + (d + 3 * (g // 2) + 5 * (g % 2) + 7 * c) % 16 AS gg,
             CAST((d + g % 2 + c) % 16 AS INT) AS sc,
             (d + c) % 2 AS sfs_flag,
             12 + ((d + g % 2) * 7) % 40 AS npairs,
             (d + 2 * (g % 2) + c) % 6 AS nquads,
             CAST((d + g % 2) % 6 AS INT) AS tset
      FROM params,
           UNNEST(range(0, 2 * nf)) AS tg(g),
           UNNEST(range(0, ch)) AS tc(c)
    ), lines AS (
      SELECT b.*,
             CASE WHEN bt <> 2 THEN (d + gr) % 2 ELSE 0 END AS preflag,
             i,
             CASE WHEN bt = 2 THEN ({perm})[sr + 1][CAST(i AS INT) + 1]
                  ELSE i END AS hidx
      FROM base b, UNNEST(range(0, 576)) AS ti(i)
    ), symv AS (
      SELECT *,
        CASE
          WHEN hidx < 2 * npairs THEN
            (CASE WHEN (d + hidx + gr) % 2 = 1 THEN -1 ELSE 1 END)
            * ((d + 11 * hidx + 3 * gr + 5 * c + f)
               % (({tset_v})[tset + 1][
                    CASE WHEN hidx < 36 THEN 1
                         WHEN bt <> 0 THEN 2
                         WHEN hidx < ({r1e_long})[sr + 1] THEN 2
                         ELSE 3 END] + 1))
          WHEN hidx < 2 * npairs + 4 * nquads THEN
            ((d + 5 * ((hidx - 2 * npairs) // 4)
              + ((hidx - 2 * npairs) % 4) + gr) % 3) - 1
          ELSE 0 END AS isv
      FROM lines
    ), xr0 AS (
      SELECT d, ch, sr, nf, ms, g, c, bt, i,
        CASE WHEN isv = 0 THEN 0.0 ELSE {_L3_POW43}
          * pow(2.0,
              CASE WHEN bt = 2 THEN
                0.25 * (gg - 210)
                - 2.0 * ((d + gr + ((i % 18) // 6)) % 3)
                - 0.5 * (1 + sfs_flag) * (
                    CASE WHEN ({sfs_t})[sr + 1]
                              [CAST((i // 18) * 6 + (i % 6) AS INT) + 1] < 12
                    THEN (d + 3 * ({sfs_t})[sr + 1]
                                   [CAST((i // 18) * 6 + (i % 6) AS INT) + 1]
                          + ((i % 18) // 6) + gr)
                         % (1 << (CASE WHEN ({sfs_t})[sr + 1]
                                    [CAST((i // 18) * 6 + (i % 6) AS INT) + 1] < 6
                                  THEN ({slen1})[sc + 1]
                                  ELSE ({slen2})[sc + 1] END))
                    ELSE 0 END)
              ELSE
                0.25 * (gg - 210)
                - 0.5 * (1 + sfs_flag) * (
                    CASE WHEN ({sfl})[sr + 1][CAST(i AS INT) + 1] < 21
                    THEN (d + 3 * ({sfl})[sr + 1][CAST(i AS INT) + 1]
                          + gr + 2 * c)
                         % (1 << (CASE WHEN ({sfl})[sr + 1]
                                            [CAST(i AS INT) + 1] < 11
                                  THEN ({slen1})[sc + 1]
                                  ELSE ({slen2})[sc + 1] END))
                         + preflag * ({pre})[({sfl})[sr + 1]
                                             [CAST(i AS INT) + 1] + 1]
                    ELSE 0 END)
              END)
        END AS xr
      FROM symv
    ), xr1 AS (
      SELECT a.d, a.ch, a.sr, a.nf, a.g, a.bt, a.i, 0 AS c,
             (a.xr + b.xr) / sqrt(2.0) AS xr
      FROM xr0 a JOIN xr0 b
        ON a.d = b.d AND a.g = b.g AND a.i = b.i
       AND a.c = 0 AND b.c = 1 AND a.ms
      UNION ALL
      SELECT a.d, a.ch, a.sr, a.nf, a.g, a.bt, a.i, 1 AS c,
             (a.xr - b.xr) / sqrt(2.0) AS xr
      FROM xr0 a JOIN xr0 b
        ON a.d = b.d AND a.g = b.g AND a.i = b.i
       AND a.c = 0 AND b.c = 1 AND a.ms
      UNION ALL
      SELECT d, ch, sr, nf, g, bt, i, c, xr FROM xr0 WHERE NOT ms
    ), aax AS (
      SELECT x.d, x.ch, x.sr, x.nf, x.g, x.c, x.bt, x.i,
        CASE
          WHEN x.bt = 2 THEN x.xr
          WHEN (x.i % 18) >= 10 AND (x.i // 18) < 31 THEN
            x.xr * ({cs})[18 - CAST(x.i % 18 AS INT)]
            - hi.xr * ({ca})[18 - CAST(x.i % 18 AS INT)]
          WHEN (x.i % 18) <= 7 AND (x.i // 18) > 0 THEN
            x.xr * ({cs})[CAST(x.i % 18 AS INT) + 1]
            + lo.xr * ({ca})[CAST(x.i % 18 AS INT) + 1]
          ELSE x.xr END AS aa
      FROM xr1 x
      LEFT JOIN xr1 hi
        ON hi.d = x.d AND hi.g = x.g AND hi.c = x.c
       AND hi.i = x.i + 2 * (17 - (x.i % 18)) + 1
      LEFT JOIN xr1 lo
        ON lo.d = x.d AND lo.g = x.g AND lo.c = x.c
       AND lo.i = x.i - (2 * (x.i % 18) + 1)
    ), mmt AS (
      SELECT bt, n, k,
             ({mm})[CAST(bt AS INT) + 1][CAST(n AS INT) + 1]
                   [CAST(k AS INT) + 1] AS m
      FROM UNNEST(range(0, 4)) AS tb(bt),
           UNNEST(range(0, 36)) AS tn(n),
           UNNEST(range(0, 18)) AS tk(k)
    ), hyb AS (
      SELECT a.d, a.ch, a.sr, a.nf, a.g, a.c, a.i // 18 AS sb, t.n,
             sum(t.m * a.aa) AS raw
      FROM aax a JOIN mmt t ON t.bt = a.bt AND t.k = a.i % 18
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
    ), ov AS (
      SELECT h.d, h.ch, h.sr, h.nf, h.g, h.c, h.sb, h.n,
             h.raw + coalesce(p.raw, 0.0) AS s
      FROM hyb h LEFT JOIN hyb p
        ON p.d = h.d AND p.c = h.c AND p.sb = h.sb
       AND p.n = h.n + 18 AND p.g = h.g - 1
      WHERE h.n < 18
    ), vals AS (
      SELECT d, ch, sr, nf, g, c, sb, n,
             CASE WHEN sb % 2 = 1 AND n % 2 = 1 THEN -s ELSE s END AS v
      FROM ov
    )
    SELECT d AS doc_id,
           CAST(CASE max(sr) WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS INT) AS sample_rate,
           CAST(max(ch) AS INT) AS channels,
           CAST(2 * max(nf) AS INT) AS n_granules,
           -- per-value snap at 1e-4 then EXACT integer sums: the two
           -- engines' IMDCT matmuls drift by <=1.2e-13 (measured, from
           -- 18-term summation order), so a 6-dp rounded float sum was
           -- a genuine flake (caught round 12); at the 1e-4 grid a
           -- boundary flip needs a value within 1.2e-13 of a half-step
           -- (~1e-3 expected flips per FULL gate run) while any real
           -- decode bug moves values orders of magnitude more
           sum(CAST(floor(v * 10000 + 0.5) AS BIGINT)) / 10000.0
             AS sample_sum,
           sum(CAST(floor(v * 10000 + 0.5) AS BIGINT)
               * (((g * ch + c) * 32 + sb) * 18 + n + 1)) / 10000.0
             AS weighted_sum
    FROM vals GROUP BY d ORDER BY d
    """


def _l3_decode_rows(
    spark: SparkSession, sf_dir: str, stream: Callable[[int], dict]
) -> DataFrame:
    """Shared body of the Layer III decode rows: each of the first 120
    docs encodes one stream from ``stream(doc_id)`` (the keyword
    arguments of ``encode_mp3_l3``), decodes it back through
    ``decode_mp3_subbands`` and reports the snapped sample sums."""
    docs = (
        fan_out(_t(spark, sf_dir, "documents"))
        .select("doc_id")
        .filter(F.col("doc_id") < 120)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        from ..functions.mp3_l3 import decode_mp3_subbands, encode_mp3_l3

        for pdf in batches:
            cols = {k: [] for k in
                    ("sample_rate", "channels", "n_granules", "sample_sum",
                     "weighted_sum")}
            for doc_id in pdf["doc_id"]:
                payload = encode_mp3_l3(**stream(int(doc_id)))
                rate, ch, ng, grans = decode_mp3_subbands(payload)
                # per-value 1e-4 snap + exact integer sums mirrors the
                # oracle: accumulation order is irrelevant on BOTH
                # engines, and the snap grid sits ~9 orders above the
                # measured cross-engine IMDCT drift (<=1.2e-13)
                ss = ws = 0
                for g, chans_out in enumerate(grans):
                    for c, sbs in enumerate(chans_out):
                        for sb, vals in enumerate(sbs):
                            for n, v in enumerate(vals):
                                nv = math.floor(v * 10_000 + 0.5)
                                ss += nv
                                ws += nv * (
                                    ((g * ch + c) * 32 + sb) * 18 + n + 1
                                )
                cols["sample_rate"].append(rate)
                cols["channels"].append(ch)
                cols["n_granules"].append(ng)
                cols["sample_sum"].append(ss / 10_000)
                cols["weighted_sum"].append(ws / 10_000)
            out = pdf[["doc_id"]].copy()
            for k in ("sample_rate", "channels", "n_granules"):
                out[k] = pd.array(cols[k], dtype="Int32")
            for k in ("sample_sum", "weighted_sum"):
                out[k] = pd.array(cols[k], dtype="float64")
            yield out

    return staged_sort(
        docs.mapInPandas(
            run,
            "doc_id bigint, sample_rate int, channels int,"
            " n_granules int, sample_sum double, weighted_sum double",
        ),
        "doc_id",
    )


def _l3_stereo_stream(granule, intensity: bool = False):
    """``stream`` for the stereo Layer III rows: 3 rates, 1-2 frames, MS
    on even docs, granules from ``granule(d, f, gr, c, sr)``."""
    def stream(d: int) -> dict:
        sr = d % 3
        return dict(
            granule_fn=lambda f, gr, c: granule(d, f, gr, c, sr),
            sr_idx=sr,
            br_idx=14,
            channels=2,
            n_frames=1 + (d // 2) % 2,
            ms_stereo=d % 2 == 0,
            intensity=intensity,
        )

    return stream


@_register("multimodal_mp3_decode", _mp3_l3_oracle())
def multimodal_mp3_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer III SAMPLE decode through the multimodal seam
    (``functions/mp3_l3.py::decode_mp3_subbands``): genuine Layer III
    frames — side info, scalefactors, big-values/count1 huffman regions
    with linbits escapes (fixture-canonical codebooks over the published
    alphabet — see the module docstring), §2.4.3.4.7 requantization with
    preflag/pretab/subblock gains, short-block reorder, MS stereo, the
    printed alias butterflies, and the windowed 36/12-point IMDCT with
    window switching (all four block types across the grid), overlap-add
    and frequency inversion. 120-doc grid (the MP2 trim discipline)
    covering mono/stereo/MS × 3 rates × 1-2 frames × all block types ×
    six region-table rotations including both ESC classes. The oracle
    replays the entire synthesis term-for-term; the position-weighted
    sum pins granule order, channel interleave, reorder, overlap
    chaining, and the inversion pattern."""

    def stream(d: int) -> dict:
        p = _l3_grid(d)
        return dict(
            granule_fn=lambda f, gr, c: _l3_granule(d, f, gr, c, p["sr_idx"]),
            sr_idx=p["sr_idx"],
            br_idx=14,
            channels=p["channels"],
            n_frames=p["n_frames"],
            ms_stereo=p["ms"],
        )

    return _l3_decode_rows(spark, sf_dir, stream)


def _l3_intensity_granule(d: int, f: int, gr: int, c: int, sr: int) -> dict:
    """Intensity-row grid: all long blocks, stereo. The LEFT channel is a
    normal granule; the RIGHT channel's lines stop exactly at band
    boundary ``bound_sfb = 8 + d%6`` (its zero region starts there) and
    its scalefactor slots carry is_pos = (d + sfb + gr) % 8 — value 7
    exercises the illegal-position MS/LR fallback."""
    from ..functions.mp3_l3 import SFB_LONG, SLEN

    bands = SFB_LONG[sr]
    if c == 0:
        sc = (d + gr) % 16
        slen1, slen2 = SLEN[sc]
        tsel = list(_L3_TSETS[(d + gr) % 6])
        npairs = 12 + ((d + gr) * 7) % 40
        nquads = (d + gr) % 6
        r0e, r1e = bands[8], bands[14]
        lines = []
        for i in range(2 * npairs):
            region = 0 if i < r0e else (1 if i < r1e else 2)
            vmax = _L3_VMAX[tsel[region]] if tsel[region] else 0
            m = (d + 11 * i + 3 * gr + f) % (vmax + 1)
            lines.append(-m if (d + i + gr) % 2 == 1 else m)
        return {
            "block_type": 0,
            "global_gain": 200 + (d + 3 * f + 5 * gr) % 16,
            "scalefac_compress": sc,
            "preflag": (d + gr) % 2,
            "scalefac_scale": d % 2,
            "subblock_gain": [0, 0, 0],
            "table_select": tsel,
            "count1table_select": (d + gr) % 2,
            "lines": lines,
            "quads": [
                tuple(((d + 5 * i + j + gr) % 3) - 1 for j in range(4))
                for i in range(nquads)
            ],
            "sf": [
                (d + 3 * sfb + gr)
                % (1 << (slen1 if sfb < 11 else slen2))
                for sfb in range(21)
            ],
        }
    bound_sfb = 8 + d % 6
    npairs = bands[bound_sfb] // 2
    tsel = list(_L3_TSETS[(d + gr + 3) % 6])
    r0e, r1e = bands[8], bands[14]
    lines = []
    for i in range(2 * npairs):
        region = 0 if i < r0e else (1 if i < r1e else 2)
        vmax = _L3_VMAX[tsel[region]] if tsel[region] else 0
        m = (d + 7 * i + 3 * gr + f + 1) % (vmax + 1)
        lines.append(-m if (d + i + gr + 1) % 2 == 1 else m)
    return {
        "block_type": 0,
        "global_gain": 200 + (d + 3 * f + 5 * gr + 7) % 16,
        # (3, 3) slens: every is_pos 0..7 fits the scalefactor slots
        "scalefac_compress": 13,
        "preflag": 0,
        "scalefac_scale": (d + 1) % 2,
        "subblock_gain": [0, 0, 0],
        "table_select": tsel,
        "count1table_select": 0,
        "lines": lines,
        "quads": [],
        "sf": [(d + sfb + gr) % 8 for sfb in range(21)],
    }


# The stereo Layer III grid (120 docs, 3 rates, 1-2 frames, MS on even
# docs) every stereo oracle starts from.
_L3_STEREO_PARAMS = """params AS (
      SELECT doc_id AS d,
             CAST(doc_id % 3 AS INT) AS sr,
             CAST(1 + (doc_id // 2) % 2 AS INT) AS nf,
             (doc_id % 2 = 0) AS ms
      FROM documents WHERE doc_id < 120
    )"""

# Intensity-stereo left/right energy split per is_pos (7: no split).
_IS_TAN = [math.tan(p * math.pi / 12) for p in range(6)]
_IS_KL = _lit([t / (1 + t) for t in _IS_TAN] + [1.0])
_IS_KR = _lit([1 / (1 + t) for t in _IS_TAN] + [0.0])

# Overlap-add, frequency inversion and the snapped sums: the tail every
# stereo Layer III oracle shares after its ``hyb`` (IMDCT) step.
_L3_STEREO_TAIL = """
    ), ov AS (
      SELECT h.d, h.sr, h.nf, h.g, h.c, h.sb, h.n,
             h.raw + coalesce(p.raw, 0.0) AS s
      FROM hyb h LEFT JOIN hyb p
        ON p.d = h.d AND p.c = h.c AND p.sb = h.sb
       AND p.n = h.n + 18 AND p.g = h.g - 1
      WHERE h.n < 18
    ), vals AS (
      SELECT d, sr, nf, g, c, sb, n,
             CASE WHEN sb % 2 = 1 AND n % 2 = 1 THEN -s ELSE s END AS v
      FROM ov
    )
    SELECT d AS doc_id,
           CAST(CASE max(sr) WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS INT) AS sample_rate,
           CAST(2 AS INT) AS channels,
           CAST(2 * max(nf) AS INT) AS n_granules,
           -- per-value snap at 1e-4 then EXACT integer sums: the two
           -- engines' IMDCT matmuls drift by <=1.2e-13 (measured, from
           -- 18-term summation order), so a 6-dp rounded float sum was
           -- a genuine flake (caught round 12); at the 1e-4 grid a
           -- boundary flip needs a value within 1.2e-13 of a half-step
           -- (~1e-3 expected flips per FULL gate run) while any real
           -- decode bug moves values orders of magnitude more
           sum(CAST(floor(v * 10000 + 0.5) AS BIGINT)) / 10000.0
             AS sample_sum,
           sum(CAST(floor(v * 10000 + 0.5) AS BIGINT)
               * (((g * 2 + c) * 32 + sb) * 18 + n + 1)) / 10000.0
             AS weighted_sum
    FROM vals GROUP BY d ORDER BY d
"""


def _mp3_intensity_oracle() -> str:
    """Relational DuckDB replay of the intensity-stereo Layer III grid:
    both channels requantized (the right channel's scalefactors act as
    REAL scalefactors below its zero bound and as is_pos ABOVE it),
    then per line: MS below the bound when the MS flag is set, the
    tan(is_pos·π/12) energy split at/above it, is_pos 7 falling back to
    MS/LR — then the shared alias/IMDCT/overlap/inversion tail."""
    from ..functions.mp3_l3 import (
        ALIAS_CA,
        ALIAS_CS,
        PRETAB,
        SFB_LONG,
        SLEN,
        imdct_matrix,
    )

    sfl = _lit2([_sfb_of(SFB_LONG[sr], 576) for sr in range(3)])
    m0 = _lit2(imdct_matrix(0))
    cs, ca = _lit(ALIAS_CS), _lit(ALIAS_CA)
    pre = _lit(PRETAB)
    slen1 = _lit([s[0] for s in SLEN])
    slen2 = _lit([s[1] for s in SLEN])
    tset_v = _lit2([[_L3_VMAX.get(t, 0) for t in ts] for ts in _L3_TSETS])
    r1e_long = _lit([SFB_LONG[sr][14] for sr in range(3)])
    bounds = _lit2([[SFB_LONG[sr][8 + rem] for rem in range(6)]
                   for sr in range(3)])
    kl, kr = _IS_KL, _IS_KR

    return f"""
    WITH {_L3_STEREO_PARAMS}, base AS (
      SELECT d, sr, nf, ms, g, g // 2 AS f, g % 2 AS gr, c,
             ({bounds})[sr + 1][CAST(d % 6 AS INT) + 1] AS bound_line,
             CASE WHEN c = 0
                  THEN 200 + (d + 3 * (g // 2) + 5 * (g % 2)) % 16
                  ELSE 200 + (d + 3 * (g // 2) + 5 * (g % 2) + 7) % 16
             END AS gg,
             CASE WHEN c = 0 THEN CAST((d + g % 2) % 16 AS INT)
                  ELSE 13 END AS sc,
             CASE WHEN c = 0 THEN d % 2 ELSE (d + 1) % 2 END AS sfs_flag,
             CASE WHEN c = 0 THEN (d + g % 2) % 2 ELSE 0 END AS preflag,
             CASE WHEN c = 0 THEN 12 + ((d + g % 2) * 7) % 40
                  ELSE ({bounds})[sr + 1][CAST(d % 6 AS INT) + 1] // 2
             END AS npairs,
             CASE WHEN c = 0 THEN (d + g % 2) % 6 ELSE 0 END AS nquads,
             CASE WHEN c = 0 THEN CAST((d + g % 2) % 6 AS INT)
                  ELSE CAST((d + g % 2 + 3) % 6 AS INT) END AS tset
      FROM params,
           UNNEST(range(0, 2 * nf)) AS tg(g),
           UNNEST(range(0, 2)) AS tc(c)
    ), symv AS (
      SELECT b.*, i,
        CASE
          WHEN i < 2 * npairs THEN
            (CASE WHEN (d + i + gr + c) % 2 = 1 THEN -1 ELSE 1 END)
            * ((d + (CASE WHEN c = 0 THEN 11 ELSE 7 END) * i
                + 3 * gr + (CASE WHEN c = 0 THEN f ELSE f + 1 END))
               % (({tset_v})[tset + 1][
                    CASE WHEN i < 36 THEN 1
                         WHEN i < ({r1e_long})[sr + 1] THEN 2
                         ELSE 3 END] + 1))
          WHEN c = 0 AND i < 2 * npairs + 4 * nquads THEN
            ((d + 5 * ((i - 2 * npairs) // 4)
              + ((i - 2 * npairs) % 4) + gr) % 3) - 1
          ELSE 0 END AS isv
      FROM base b, UNNEST(range(0, 576)) AS ti(i)
    ), xr0 AS (
      SELECT d, sr, nf, ms, g, gr, c, i, bound_line,
        CASE WHEN isv = 0 THEN 0.0 ELSE {_L3_POW43}
          * pow(2.0,
              0.25 * (gg - 210)
              - 0.5 * (1 + sfs_flag) * (
                  CASE WHEN ({sfl})[sr + 1][CAST(i AS INT) + 1] < 21
                  THEN (CASE WHEN c = 0
                        THEN (d + 3 * ({sfl})[sr + 1][CAST(i AS INT) + 1]
                              + gr)
                             % (1 << (CASE WHEN ({sfl})[sr + 1]
                                           [CAST(i AS INT) + 1] < 11
                                      THEN ({slen1})[sc + 1]
                                      ELSE ({slen2})[sc + 1] END))
                        ELSE (d + ({sfl})[sr + 1][CAST(i AS INT) + 1]
                              + gr) % 8 END)
                       + preflag * ({pre})[({sfl})[sr + 1]
                                           [CAST(i AS INT) + 1] + 1]
                  ELSE 0 END))
        END AS xr
      FROM symv
    ), st AS (
      SELECT a.d, a.sr, a.nf, a.g, a.i, cc.c,
        CASE
          WHEN a.i >= a.bound_line THEN
            CASE WHEN (CASE WHEN ({sfl})[a.sr + 1]
                                 [CAST(a.i AS INT) + 1] < 21
                       THEN (a.d + ({sfl})[a.sr + 1]
                                   [CAST(a.i AS INT) + 1] + a.gr) % 8
                       ELSE 7 END) = 7
            THEN CASE WHEN a.ms
                 THEN CASE WHEN cc.c = 0
                      THEN (a.xr + b.xr) / sqrt(2.0)
                      ELSE (a.xr - b.xr) / sqrt(2.0) END
                 ELSE CASE WHEN cc.c = 0 THEN a.xr ELSE b.xr END END
            ELSE a.xr * (CASE WHEN cc.c = 0
                 THEN ({kl})[(CASE WHEN ({sfl})[a.sr + 1]
                                        [CAST(a.i AS INT) + 1] < 21
                              THEN (a.d + ({sfl})[a.sr + 1]
                                    [CAST(a.i AS INT) + 1] + a.gr) % 8
                              ELSE 7 END) + 1]
                 ELSE ({kr})[(CASE WHEN ({sfl})[a.sr + 1]
                                        [CAST(a.i AS INT) + 1] < 21
                              THEN (a.d + ({sfl})[a.sr + 1]
                                    [CAST(a.i AS INT) + 1] + a.gr) % 8
                              ELSE 7 END) + 1] END)
          END
          WHEN a.ms THEN
            CASE WHEN cc.c = 0 THEN (a.xr + b.xr) / sqrt(2.0)
                 ELSE (a.xr - b.xr) / sqrt(2.0) END
          ELSE CASE WHEN cc.c = 0 THEN a.xr ELSE b.xr END
        END AS xr
      FROM xr0 a
      JOIN xr0 b ON a.d = b.d AND a.g = b.g AND a.i = b.i
                AND a.c = 0 AND b.c = 1,
           UNNEST(range(0, 2)) AS cc(c)
    ), aax AS (
      SELECT x.d, x.sr, x.nf, x.g, x.c, x.i,
        CASE
          WHEN (x.i % 18) >= 10 AND (x.i // 18) < 31 THEN
            x.xr * ({cs})[18 - CAST(x.i % 18 AS INT)]
            - hi.xr * ({ca})[18 - CAST(x.i % 18 AS INT)]
          WHEN (x.i % 18) <= 7 AND (x.i // 18) > 0 THEN
            x.xr * ({cs})[CAST(x.i % 18 AS INT) + 1]
            + lo.xr * ({ca})[CAST(x.i % 18 AS INT) + 1]
          ELSE x.xr END AS aa
      FROM st x
      LEFT JOIN st hi
        ON hi.d = x.d AND hi.g = x.g AND hi.c = x.c
       AND hi.i = x.i + 2 * (17 - (x.i % 18)) + 1
      LEFT JOIN st lo
        ON lo.d = x.d AND lo.g = x.g AND lo.c = x.c
       AND lo.i = x.i - (2 * (x.i % 18) + 1)
    ), mmt AS (
      SELECT n, k,
             ({m0})[CAST(n AS INT) + 1][CAST(k AS INT) + 1] AS m
      FROM UNNEST(range(0, 36)) AS tn(n), UNNEST(range(0, 18)) AS tk(k)
    ), hyb AS (
      SELECT a.d, a.sr, a.nf, a.g, a.c, a.i // 18 AS sb, t.n,
             sum(t.m * a.aa) AS raw
      FROM aax a JOIN mmt t ON t.k = a.i % 18
      GROUP BY 1, 2, 3, 4, 5, 6, 7
    {_L3_STEREO_TAIL}
    """


@_register("multimodal_mp3_intensity_decode", _mp3_intensity_oracle())
def multimodal_mp3_intensity_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer III INTENSITY stereo decode (§2.4.3.4.9.3), the MP2 joint
    row's Layer III counterpart: every doc is a stereo long-block stream
    where the right channel's genuine lines stop exactly at a per-doc
    band boundary (bound_sfb = 8 + d%6) and its scalefactor slots above
    carry is_pos ∈ 0..7 — 7 exercising the illegal-position MS/LR
    fallback; half the docs also set the MS flag (mode_ext = 3), so the
    region below the bound processes as MS while the region above takes
    the tan(is_pos·π/12) energy split. The oracle replays both
    channels' requantization (the SAME right-channel scalefactor field
    acting as a real scalefactor below the bound and as a position
    above it), the per-line stereo decision, and the shared
    alias/IMDCT/overlap/inversion tail."""
    return _l3_decode_rows(
        spark, sf_dir, _l3_stereo_stream(_l3_intensity_granule, intensity=True)
    )


_ADTS_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id AS d,
    CAST(doc_id % 4 AS INT) AS profile,
    ['Main', 'LC', 'SSR', 'LTP'][doc_id % 4 + 1] AS profile_name,
    [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
     16000, 12000, 11025, 8000, 7350][doc_id % 13 + 1] AS rate,
    [1, 2, 3, 4, 5, 6, 8][doc_id % 7 + 1] AS channels,
    CAST(doc_id % 6 + 1 AS INT) AS nf,
    (doc_id // 2) % 4 + 1 AS blocks,
    doc_id % 3 = 0 AS crc
  FROM documents
), sized AS (
  SELECT *,
    list_sum(list_transform(range(0, nf), i ->
      (d * 13 + i * 29) % 300 + 20 + CASE WHEN crc THEN 9 ELSE 7 END))
      AS total_bytes,
    nf * blocks * 1024 AS n_samples
  FROM cfg
)
SELECT doc_id, profile, profile_name,
  CAST(rate AS INT) AS sample_rate,
  CAST(channels AS INT) AS channels,
  nf AS n_frames,
  CAST(n_samples AS INT) AS n_samples,
  CAST(nf * (blocks * 1024 * 1000000 // rate) AS BIGINT) AS duration_us,
  CAST(total_bytes * 8 * rate // n_samples // 1000 AS INT) AS bitrate_kbps,
  CAST(CASE WHEN crc THEN nf ELSE 0 END AS INT) AS crc_frames
FROM sized ORDER BY doc_id
"""


@_register("multimodal_adts_probe", _ADTS_ORACLE)
def multimodal_adts_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AAC ADTS transport probe through the multimodal seam:
    conformant fixture streams sweeping all four profiles, all 13
    sampling-frequency indices, channel configs 1-7 (incl. the 7→8
    channel mapping), CRC and CRC-less headers, 1-4 raw data blocks per
    frame and varying frame lengths are walked back by
    :func:`operators.multimodal.probe_adts_stream`. The oracle replays
    the header/duration/bitrate arithmetic; a wrong bit offset in the
    13-bit frame_length straddle or a missed CRC skip breaks byte
    positions for every following frame. Reference parity:
    ohsome-planet ships no audio codec; this row serves the
    training-data lane's metadata pass (the AAC filterbank stays behind
    the documented external-codec stub)."""
    from ..operators.multimodal import probe_adts_stream

    def payload(d: int) -> bytes:
        from ..functions.aac import encode_adts

        nf = d % 6 + 1
        return encode_adts(
            profile=d % 4,
            sf_index=d % 13,
            channel_config=d % 7 + 1,
            payload_sizes=tuple(
                (d * 13 + i * 29) % 300 + 20 for i in range(nf)
            ),
            mpeg2=d % 2,
            with_crc=d % 3 == 0,
            raw_blocks=(d // 2) % 4 + 1,
            seed=d,
        )

    media = media_fixture(spark, sf_dir, payload)
    return staged_sort(
        probe_adts_stream(media)
        .select(
            "doc_id",
            "profile",
            "profile_name",
            "sample_rate",
            "channels",
            "n_frames",
            "n_samples",
            "duration_us",
            "bitrate_kbps",
            "crc_frames",
        ),
        "doc_id",
    )


_OGG_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id AS d,
    doc_id % 2 = 0 AS is_opus,
    CAST(doc_id % 9 + 1 AS INT) AS na,
    doc_id % 3 + 1 AS ppp,
    doc_id % 4 = 0 AND doc_id % 9 + 1 > doc_id % 3 + 1 AS span
  FROM documents
), t AS (
  SELECT *,
    CASE WHEN is_opus THEN 'opus' ELSE 'vorbis' END AS codec,
    CASE WHEN is_opus THEN (d // 2) % 2 + 1
         ELSE (d // 2) % 4 + 1 END AS channels,
    CASE WHEN is_opus
      THEN [48000, 24000, 16000, 12000, 8000][d % 5 + 1]
      ELSE [44100, 22050, 32000, 16000, 11025][d % 5 + 1] END AS rate,
    CASE WHEN is_opus THEN d % 800 ELSE 0 END AS pre_skip
  FROM cfg
)
SELECT doc_id, codec,
  CAST(channels AS INT) AS channels,
  CAST(rate AS INT) AS sample_rate,
  CAST(pre_skip AS INT) AS pre_skip,
  CAST(2 + CASE WHEN span
        THEN 2 + ceil(greatest(0, na - ppp - 1) / CAST(ppp AS DOUBLE))
        ELSE ceil(na / CAST(ppp AS DOUBLE)) END AS INT) AS n_pages,
  CAST(CASE WHEN is_opus THEN 2 ELSE 3 END + na
       + CASE WHEN span THEN 1 ELSE 0 END AS INT) AS n_packets,
  CAST(CASE WHEN is_opus THEN na * 960 * CAST(1000000 AS BIGINT) // 48000
            ELSE na * 128 * CAST(1000000 AS BIGINT) // rate END AS BIGINT)
    AS duration_us,
  CAST(d % 100000 + 1 AS BIGINT) AS serial
FROM t ORDER BY doc_id
"""


@_register("multimodal_ogg_probe", _OGG_ORACLE)
def multimodal_ogg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Ogg/Opus/Vorbis probe through the multimodal seam:
    conformant fixture streams (correct page CRCs under the unreflected
    Ogg polynomial, rotating packets-per-page lacing, 255-run packets
    SPANNING page boundaries with the continued flag on every fourth
    doc, OpusHead pre-skip grid, Vorbis triple-header pages) are walked
    back by :func:`operators.multimodal.probe_ogg_stream`. The oracle
    replays page/packet counts and the granule-position duration
    arithmetic (48 kHz-fixed minus pre-skip for Opus, rate-relative for
    Vorbis); a lacing off-by-one, a CRC table slip or a wrong
    continuation merge shifts a count on a concrete row."""
    from ..operators.multimodal import probe_ogg_stream

    from ..functions.ogg import encode_ogg_opus, encode_ogg_vorbis

    def payload(d: int) -> bytes:
        na, ppp = d % 9 + 1, d % 3 + 1
        span = d % 4 == 0 and na > ppp
        if d % 2 == 0:
            return encode_ogg_opus(
                channels=(d // 2) % 2 + 1,
                input_rate=(48000, 24000, 16000, 12000, 8000)[d % 5],
                pre_skip=d % 800,
                n_audio=na,
                serial=d % 100000 + 1,
                seed=d,
                packets_per_page=ppp,
                span_page=span,
            )
        else:
            return encode_ogg_vorbis(
                channels=(d // 2) % 4 + 1,
                rate=(44100, 22050, 32000, 16000, 11025)[d % 5],
                n_audio=na,
                serial=d % 100000 + 1,
                seed=d,
                packets_per_page=ppp,
                span_page=span,
            )

    media = media_fixture(spark, sf_dir, payload)
    return staged_sort(
        probe_ogg_stream(media)
        .select(
            "doc_id",
            "codec",
            "channels",
            "sample_rate",
            "pre_skip",
            "n_pages",
            "n_packets",
            "duration_us",
            "serial",
        ),
        "doc_id",
    )


def _l3_short_is_layout(sr: int) -> tuple[list[int], list[int]]:
    """Huffman-order position → (sfb, window) for pure-short granules:
    per band, the band's lines for window 0, then 1, then 2."""
    from ..functions.mp3_l3 import SFB_SHORT

    bands = SFB_SHORT[sr]
    hsfb, hwin = [], []
    for sfb in range(13):
        width = bands[sfb + 1] - bands[sfb]
        for w in range(3):
            hsfb += [sfb] * width
            hwin += [w] * width
    return hsfb, hwin


def _l3_short_is_granule(d: int, f: int, gr: int, c: int, sr: int) -> dict:
    """Short-block intensity grid: BOTH channels pure short (bt=2),
    sc=13 (3,3 slens — every is_pos 0..7 fits). The RIGHT channel's
    huffman lines are zero at/above a PER-WINDOW band bound
    ``b_w = 5 + (d + w) % 4`` so the decoder's per-window zero scan
    lands on three different boundaries in one granule; its scalefactor
    slots double as is_pos above each bound."""
    from ..functions.mp3_l3 import SFB_SHORT

    bands = SFB_SHORT[sr]
    tsel = list(_L3_TSETS[(d + gr + 3 * c) % 6][:2]) + [0]
    if c == 0:
        npairs = 12 + ((d + gr) * 7) % 40
        lines = []
        for h in range(2 * npairs):
            vmax = _L3_VMAX[tsel[0 if h < 36 else 1]]
            m = (d + 11 * h + 3 * gr + f) % (vmax + 1)
            lines.append(-m if (d + h + gr) % 2 == 1 else m)
    else:
        hsfb, hwin = _l3_short_is_layout(sr)
        n_lines = 3 * bands[8]
        lines = []
        for h in range(n_lines):
            b_w = 5 + (d + hwin[h]) % 4
            if hsfb[h] >= b_w:
                lines.append(0)
                continue
            vmax = _L3_VMAX[tsel[0 if h < 36 else 1]]
            m = (d + 7 * h + 3 * gr + f) % vmax + 1
            lines.append(-m if (d + h + gr + 1) % 2 == 1 else m)
    return {
        "block_type": 2,
        "global_gain": 200 + (d + 3 * f + 5 * gr + 7 * c) % 16,
        "scalefac_compress": 13,
        "preflag": 0,
        "scalefac_scale": (d + c) % 2,
        "subblock_gain": [(d + gr + w + c) % 3 for w in range(3)],
        "table_select": tsel,
        "count1table_select": (d + gr) % 2,
        "lines": lines,
        "quads": [],
        "sf": [
            [(d + 3 * sfb + w + gr + 2 * c) % 8 for w in range(3)]
            for sfb in range(12)
        ],
    }


def _mp3_short_is_oracle() -> str:
    """Relational DuckDB replay of the SHORT-block intensity grid: both
    channels' short requantization (reorder permutation, subblock
    gains, the right channel's sf slots acting as REAL scalefactors
    below each window's bound), the per-window intensity decision
    (closed-form bounds replay the decoder's value scan because every
    line below a bound is nonzero by construction), tan(is_pos·π/12)
    splits with the is_pos-7 MS/LR fallback, then the shared
    IMDCT/overlap/inversion tail (short blocks skip alias reduction)."""
    from ..functions.mp3_l3 import (
        SFB_SHORT,
        imdct_matrix,
        reorder_permutation,
    )

    sfs_t = _lit2([_sfb_of(SFB_SHORT[sr], 192) for sr in range(3)])
    perm = _lit2([reorder_permutation(sr) for sr in range(3)])
    m2 = _lit2(imdct_matrix(2))
    tset_v = _lit2([[_L3_VMAX.get(t, 0) for t in ts[:2]] + [0]
                   for ts in _L3_TSETS])
    hsfb = _lit2([_l3_short_is_layout(sr)[0] for sr in range(3)])
    hwin = _lit2([_l3_short_is_layout(sr)[1] for sr in range(3)])
    nlin = _lit([3 * SFB_SHORT[sr][8] for sr in range(3)])
    kl, kr = _IS_KL, _IS_KR

    return f"""
    WITH {_L3_STEREO_PARAMS}, base AS (
      SELECT d, sr, nf, ms, g, g // 2 AS f, g % 2 AS gr, c,
             200 + (d + 3 * (g // 2) + 5 * (g % 2) + 7 * c) % 16 AS gg,
             (d + c) % 2 AS sfs_flag,
             12 + ((d + g % 2) * 7) % 40 AS npairs,
             CAST((d + g % 2 + 3 * c) % 6 AS INT) AS tset
      FROM params,
           UNNEST(range(0, 2 * nf)) AS tg(g),
           UNNEST(range(0, 2)) AS tc(c)
    ), lines AS (
      SELECT b.*, i,
             ({perm})[sr + 1][CAST(i AS INT) + 1] AS hidx
      FROM base b, UNNEST(range(0, 576)) AS ti(i)
    ), symv AS (
      SELECT *,
        CASE
          WHEN c = 0 AND hidx < 2 * npairs THEN
            (CASE WHEN (d + hidx + gr) % 2 = 1 THEN -1 ELSE 1 END)
            * ((d + 11 * hidx + 3 * gr + f)
               % (({tset_v})[tset + 1]
                            [CASE WHEN hidx < 36 THEN 1 ELSE 2 END] + 1))
          WHEN c = 1 AND hidx < ({nlin})[sr + 1]
               AND ({hsfb})[sr + 1][CAST(hidx AS INT) + 1]
                   < 5 + (d + ({hwin})[sr + 1][CAST(hidx AS INT) + 1]) % 4
          THEN
            (CASE WHEN (d + hidx + gr + 1) % 2 = 1 THEN -1 ELSE 1 END)
            * ((d + 7 * hidx + 3 * gr + f)
               % ({tset_v})[tset + 1]
                           [CASE WHEN hidx < 36 THEN 1 ELSE 2 END] + 1)
          ELSE 0 END AS isv
      FROM lines
    ), xr0 AS (
      SELECT d, sr, nf, ms, g, gr, c, i,
        CASE WHEN isv = 0 THEN 0.0 ELSE {_L3_POW43}
          * pow(2.0,
              0.25 * (gg - 210)
              - 2.0 * ((d + gr + ((i % 18) // 6) + c) % 3)
              - 0.5 * (1 + sfs_flag) * (
                  CASE WHEN ({sfs_t})[sr + 1]
                            [CAST((i // 18) * 6 + (i % 6) AS INT) + 1] < 12
                  THEN (d + 3 * ({sfs_t})[sr + 1]
                                 [CAST((i // 18) * 6 + (i % 6) AS INT) + 1]
                        + ((i % 18) // 6) + gr + 2 * c) % 8
                  ELSE 0 END))
        END AS xr
      FROM symv
    ), st AS (
      SELECT a.d, a.sr, a.nf, a.g, a.i,
             ((a.i % 18) // 6) AS win,
             ({sfs_t})[a.sr + 1]
                      [CAST((a.i // 18) * 6 + (a.i % 6) AS INT) + 1] AS sfb,
             a.gr, a.ms, a.xr AS lx, b.xr AS rx
      FROM xr0 a JOIN xr0 b
        ON a.d = b.d AND a.g = b.g AND a.i = b.i
       AND a.c = 0 AND b.c = 1
    ), dec AS (
      SELECT *,
        sfb < 5 + (d + win) % 4
          OR (CASE WHEN sfb < 12
                   THEN (d + 3 * sfb + win + gr + 2) % 8
                   ELSE 7 END) = 7 AS takes_ms,
        CASE WHEN sfb < 12
             THEN (d + 3 * sfb + win + gr + 2) % 8
             ELSE 7 END AS is_pos
      FROM st
    ), xr1 AS (
      SELECT d, sr, nf, g, i, 0 AS c,
        CASE WHEN takes_ms AND ms THEN (lx + rx) / sqrt(2.0)
             WHEN takes_ms THEN lx
             ELSE lx * ({kl})[is_pos + 1] END AS xr
      FROM dec
      UNION ALL
      SELECT d, sr, nf, g, i, 1 AS c,
        CASE WHEN takes_ms AND ms THEN (lx - rx) / sqrt(2.0)
             WHEN takes_ms THEN rx
             ELSE lx * ({kr})[is_pos + 1] END AS xr
      FROM dec
    ), mmt AS (
      SELECT n, k, ({m2})[CAST(n AS INT) + 1][CAST(k AS INT) + 1] AS m
      FROM UNNEST(range(0, 36)) AS tn(n), UNNEST(range(0, 18)) AS tk(k)
    ), hyb AS (
      SELECT a.d, a.sr, a.nf, a.g, a.c, a.i // 18 AS sb, t.n,
             sum(t.m * a.xr) AS raw
      FROM xr1 a JOIN mmt t ON t.k = a.i % 18
      GROUP BY 1, 2, 3, 4, 5, 6, 7
    {_L3_STEREO_TAIL}
    """


@_register("multimodal_mp3_short_intensity_decode", _mp3_short_is_oracle())
def multimodal_mp3_short_intensity_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer III SHORT-BLOCK intensity stereo decode — the last fenced
    stereo mode (§2.4.3.4.9.3 for block_type 2): the right channel's
    zero region is detected PER WINDOW (the fixture pins three
    different band bounds inside one granule via b_w = 5 + (d+w)%4),
    intensity positions live in the right channel's (sfb, window)
    scalefactor slots, is_pos 7 falls back to MS/LR, and bands below
    each window's bound process as MS when the MS flag is set (half the
    docs). The oracle replays both short requantizations (reorder,
    subblock gains), the per-window decision and the 12-point
    IMDCT/overlap tail term-for-term."""
    return _l3_decode_rows(
        spark, sf_dir, _l3_stereo_stream(_l3_short_is_granule, intensity=True)
    )


def _l3_mixed_granule(d: int, f: int, gr: int, c: int, sr: int) -> dict:
    """Mixed-block grid: BOTH channels mixed (two long subbands under a
    short granule), sc=13 (3,3 slens), preflag exercising pretab on the
    long region, per-window subblock gains on the short one."""
    npairs = 12 + ((d + gr) * 7) % 40
    nquads = (d + 2 * gr + c) % 6
    tsel = list(_L3_TSETS[(d + gr + 3 * c) % 6][:2]) + [0]
    lines = []
    for h in range(2 * npairs):
        vmax = _L3_VMAX[tsel[0 if h < 36 else 1]]
        m = (d + 11 * h + 3 * gr + 5 * c + f) % (vmax + 1)
        lines.append(-m if (d + h + gr) % 2 == 1 else m)
    return {
        "block_type": 2,
        "mixed_block_flag": 1,
        "global_gain": 200 + (d + 3 * f + 5 * gr + 7 * c) % 16,
        "scalefac_compress": 13,
        "preflag": (d + gr) % 2,
        "scalefac_scale": (d + c) % 2,
        "subblock_gain": [(d + gr + w + c) % 3 for w in range(3)],
        "table_select": tsel,
        "count1table_select": (d + gr) % 2,
        "lines": lines,
        "quads": [
            tuple(((d + 5 * i + j + gr) % 3) - 1 for j in range(4))
            for i in range(nquads)
        ],
        "sf_long": [(d + 3 * sfb + gr + 2 * c) % 8 for sfb in range(8)],
        "sf_short": [
            [(d + 3 * sfb + w + gr + 2 * c) % 8 for w in range(3)]
            for sfb in range(3, 12)
        ],
    }


def _mp3_mixed_oracle() -> str:
    """Relational DuckDB replay of the MIXED-block grid: the
    identity-below-36 reorder permutation, split requantization (long
    sfb 0..7 with preflag/pretab below line 36, short sfb 3..11 with
    subblock gains above), MS stereo, the SINGLE-boundary alias
    reduction (only the butterfly inside the two long subbands), and
    the per-subband window choice (long IMDCT matrix for subbands 0-1,
    short for the rest) — term-for-term what decode_mp3_subbands does
    from the genuine bitstream."""
    from ..functions.mp3_l3 import (
        ALIAS_CA,
        ALIAS_CS,
        PRETAB,
        SFB_LONG,
        SFB_SHORT,
        imdct_matrix,
        mixed_reorder_permutation,
    )

    sfl = _lit2([_sfb_of(SFB_LONG[sr], 576) for sr in range(3)])
    sfs_t = _lit2([_sfb_of(SFB_SHORT[sr], 192) for sr in range(3)])
    perm = _lit2([mixed_reorder_permutation(sr) for sr in range(3)])
    m0 = _lit2(imdct_matrix(0))
    m2 = _lit2(imdct_matrix(2))
    cs, ca = _lit(ALIAS_CS), _lit(ALIAS_CA)
    pre = _lit(PRETAB)
    tset_v = _lit2([[_L3_VMAX.get(t, 0) for t in ts[:2]] + [0]
                   for ts in _L3_TSETS])
    tan = None  # unused; mixed row carries no intensity
    del tan

    return f"""
    WITH {_L3_STEREO_PARAMS}, base AS (
      SELECT d, sr, nf, ms, g, g // 2 AS f, g % 2 AS gr, c,
             200 + (d + 3 * (g // 2) + 5 * (g % 2) + 7 * c) % 16 AS gg,
             (d + g % 2) % 2 AS preflag,
             (d + c) % 2 AS sfs_flag,
             12 + ((d + g % 2) * 7) % 40 AS npairs,
             (d + 2 * (g % 2) + c) % 6 AS nquads,
             CAST((d + g % 2 + 3 * c) % 6 AS INT) AS tset
      FROM params,
           UNNEST(range(0, 2 * nf)) AS tg(g),
           UNNEST(range(0, 2)) AS tc(c)
    ), lines AS (
      SELECT b.*, i,
             ({perm})[sr + 1][CAST(i AS INT) + 1] AS hidx
      FROM base b, UNNEST(range(0, 576)) AS ti(i)
    ), symv AS (
      SELECT *,
        CASE
          WHEN hidx < 2 * npairs THEN
            (CASE WHEN (d + hidx + gr) % 2 = 1 THEN -1 ELSE 1 END)
            * ((d + 11 * hidx + 3 * gr + 5 * c + f)
               % (({tset_v})[tset + 1]
                            [CASE WHEN hidx < 36 THEN 1 ELSE 2 END] + 1))
          WHEN hidx < 2 * npairs + 4 * nquads THEN
            ((d + 5 * ((hidx - 2 * npairs) // 4)
              + ((hidx - 2 * npairs) % 4) + gr) % 3) - 1
          ELSE 0 END AS isv
      FROM lines
    ), xr0 AS (
      SELECT d, sr, nf, ms, g, gr, c, i,
        CASE WHEN isv = 0 THEN 0.0 ELSE {_L3_POW43}
          * pow(2.0,
              CASE WHEN i < 36 THEN
                0.25 * (gg - 210)
                - 0.5 * (1 + sfs_flag) * (
                    (d + 3 * ({sfl})[sr + 1][CAST(i AS INT) + 1]
                     + gr + 2 * c) % 8
                    + preflag * ({pre})[({sfl})[sr + 1]
                                        [CAST(i AS INT) + 1] + 1])
              ELSE
                0.25 * (gg - 210)
                - 2.0 * ((d + gr + ((i % 18) // 6) + c) % 3)
                - 0.5 * (1 + sfs_flag) * (
                    CASE WHEN ({sfs_t})[sr + 1]
                              [CAST((i // 18) * 6 + (i % 6) AS INT) + 1] < 12
                    THEN (d + 3 * ({sfs_t})[sr + 1]
                                   [CAST((i // 18) * 6 + (i % 6) AS INT) + 1]
                          + ((i % 18) // 6) + gr + 2 * c) % 8
                    ELSE 0 END)
              END)
        END AS xr
      FROM symv
    ), xr1 AS (
      SELECT a.d, a.sr, a.nf, a.g, a.i, 0 AS c,
             (a.xr + b.xr) / sqrt(2.0) AS xr
      FROM xr0 a JOIN xr0 b
        ON a.d = b.d AND a.g = b.g AND a.i = b.i
       AND a.c = 0 AND b.c = 1 AND a.ms
      UNION ALL
      SELECT a.d, a.sr, a.nf, a.g, a.i, 1 AS c,
             (a.xr - b.xr) / sqrt(2.0) AS xr
      FROM xr0 a JOIN xr0 b
        ON a.d = b.d AND a.g = b.g AND a.i = b.i
       AND a.c = 0 AND b.c = 1 AND a.ms
      UNION ALL
      SELECT d, sr, nf, g, i, c, xr FROM xr0 WHERE NOT ms
    ), aax AS (
      SELECT x.d, x.sr, x.nf, x.g, x.c, x.i,
        CASE
          WHEN (x.i % 18) >= 10 AND (x.i // 18) = 0 THEN
            x.xr * ({cs})[18 - CAST(x.i % 18 AS INT)]
            - hi.xr * ({ca})[18 - CAST(x.i % 18 AS INT)]
          WHEN (x.i % 18) <= 7 AND (x.i // 18) = 1 THEN
            x.xr * ({cs})[CAST(x.i % 18 AS INT) + 1]
            + lo.xr * ({ca})[CAST(x.i % 18 AS INT) + 1]
          ELSE x.xr END AS aa
      FROM xr1 x
      LEFT JOIN xr1 hi
        ON hi.d = x.d AND hi.g = x.g AND hi.c = x.c
       AND hi.i = x.i + 2 * (17 - (x.i % 18)) + 1
      LEFT JOIN xr1 lo
        ON lo.d = x.d AND lo.g = x.g AND lo.c = x.c
       AND lo.i = x.i - (2 * (x.i % 18) + 1)
    ), mmt AS (
      SELECT part, n, k,
             CASE WHEN part = 0
                  THEN ({m0})[CAST(n AS INT) + 1][CAST(k AS INT) + 1]
                  ELSE ({m2})[CAST(n AS INT) + 1][CAST(k AS INT) + 1]
             END AS m
      FROM UNNEST(range(0, 2)) AS tp(part),
           UNNEST(range(0, 36)) AS tn(n),
           UNNEST(range(0, 18)) AS tk(k)
    ), hyb AS (
      SELECT a.d, a.sr, a.nf, a.g, a.c, a.i // 18 AS sb, t.n,
             sum(t.m * a.aa) AS raw
      FROM aax a JOIN mmt t
        ON t.k = a.i % 18
       AND t.part = CASE WHEN a.i // 18 < 2 THEN 0 ELSE 1 END
      GROUP BY 1, 2, 3, 4, 5, 6, 7
    {_L3_STEREO_TAIL}
    """


@_register("multimodal_mp3_mixed_decode", _mp3_mixed_oracle())
def multimodal_mp3_mixed_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer III MIXED-block decode (§2.4.2.7) — two long subbands under
    a short granule, the last fenced block structure: the 8-long +
    short-sfb-3..11 scalefactor layout, preflag/pretab acting on the
    long region while subblock gains act on the short one, the
    identity-below-36 reorder, alias reduction restricted to the one
    boundary inside the long region, and the per-subband window choice
    (long IMDCT for subbands 0-1, 12-point short above). Both channels
    mixed, MS on half the docs. The oracle replays the whole chain
    term-for-term; pytest referees additionally pin mixed long-region
    lines to a pure-long decode and mixed short-region lines to a
    pure-short decode (linearity cross-checks independent of the
    oracle)."""
    return _l3_decode_rows(
        spark, sf_dir, _l3_stereo_stream(_l3_mixed_granule)
    )


_ID3_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id AS d,
    string_split(text, ' ') AS w
  FROM documents
)
SELECT doc_id,
  CAST([2, 3, 4][d % 3 + 1] AS INT) AS version,
  CAST(7 AS INT) AS n_frames,
  array_to_string(w[1:3], ' ') AS title,
  'artist ' || CAST(d % 50 AS VARCHAR) AS artist,
  array_to_string(w[4:5], ' ') AS album,
  CAST(1970 + d % 55 AS VARCHAR) AS year,
  CAST(d % 20 + 1 AS VARCHAR) || '/' || CAST(d % 20 + 5 AS VARCHAR)
    AS track,
  ['rock', 'jazz', 'speech', 'ambient'][d % 4 + 1] AS genre,
  'comment ' || w[1] AS comment
FROM cfg ORDER BY doc_id
"""


@_register("id3_tags", _ID3_ORACLE)
def id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 tag extraction end-to-end: fixture tags sweep all three
    majors (v2.2 3-byte frames, v2.3 plain sizes, v2.4 syncsafe sizes),
    all four text encodings (Latin-1, UTF-16 BOM, UTF-16BE, UTF-8),
    whole-tag unsynchronization on every sixth doc, padding and a COMM
    comment with language + description — parsed back by
    :func:`operators.multimodal.audio_tags` in front of real audio
    bytes. The oracle replays every field; an encoding mixup, a
    syncsafe/plain size confusion or an unapplied de-unsync shifts a
    string on a concrete row."""
    from ..operators.multimodal import audio_tags

    from ..functions.id3 import encode_id3v2

    def payload(d: int, text: str) -> bytes:
        w = str(text).split(" ")
        fields = {
            "title": " ".join(w[0:3]),
            "artist": f"artist {d % 50}",
            "album": " ".join(w[3:5]),
            "year": str(1970 + d % 55),
            "track": f"{d % 20 + 1}/{d % 20 + 5}",
            "genre": ("rock", "jazz", "speech", "ambient")[d % 4],
        }
        major = (2, 3, 4)[d % 3]
        tag = encode_id3v2(
            fields,
            major=major,
            enc=d % 4,
            comment=f"comment {w[0]}",
            unsync=d % 6 == 0 and major < 4,
            padding=d % 40,
        )
        return tag + b"\xff\xfb\x90\x00" + bytes(8)

    media = media_fixture(spark, sf_dir, payload, cols=("text",))
    return staged_sort(
        audio_tags(media)
        .select(
            "doc_id",
            "version",
            "n_frames",
            "title",
            "artist",
            "album",
            "year",
            "track",
            "genre",
            "comment",
        ),
        "doc_id",
    )
