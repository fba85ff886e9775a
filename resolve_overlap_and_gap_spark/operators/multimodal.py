"""Multimodal columns: image/audio/video payloads as opaque binary columns
with typed metadata (training-data pipeline addition).

The Spark-side plumbing — schema, Arrow batch shape, mapInPandas iterator
contract, partition sizing — is real and tested, and so are the codecs:

* PNG via a stdlib-only decoder (zlib inflate + scanline unfiltering with
  the antidiagonal-wavefront Average/Paeth path; 8-bit gray/GA/RGB/RGBA,
  non-interlaced),
* JPEG via operators/jpeg.py — baseline (T.81 sequential DCT, Annex K
  tables, 4:4:4/4:2:2/4:2:0, restart intervals) AND progressive (SOF2,
  Annex G successive approximation),
* WAV/PCM16 audio via the RIFF parser below,
* MJPEG video in both AVI (RIFF walk) and ISO-BMFF/MP4 (stsz/stsc/stco
  sample-table arithmetic) containers, with O(1) frame seek.

Remaining exotic variants (arithmetic/12-bit JPEG, 16-bit/palette/
interlaced PNG, non-PCM WAV, H.264/HEVC video) raise
NotImplementedError at the decode boundary, exactly where a PIL/ffmpeg
call would slot in; the deterministic FAKEIMG format remains for
plumbing tests.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# deterministic fake format: b'FAKEIMG!' + u32 width + u32 height + u8 chan
_MAGIC = b"FAKEIMG!"
_HDR_FMT = "<8sIIB"
_HDR_SIZE = struct.calcsize(_HDR_FMT)

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}   # color type -> samples/pixel
_PNG_COLOR = {1: 0, 2: 4, 3: 2, 4: 6}      # channels -> color type


def _filter_row(row: np.ndarray, prev: np.ndarray, ft: int, c: int) -> np.ndarray:
    """Forward scanline filter (PNG spec §6) for the encoder: row/prev are
    uint8 (stride,); returns the filtered uint8 row."""
    r = row.astype(np.int32)
    up = prev.astype(np.int32)
    left = np.zeros_like(r)
    left[c:] = r[:-c]
    ul = np.zeros_like(r)
    ul[c:] = up[:-c]
    if ft == 0:
        return row
    if ft == 1:
        return ((r - left) & 0xFF).astype(np.uint8)
    if ft == 2:
        return ((r - up) & 0xFF).astype(np.uint8)
    if ft == 3:
        return ((r - ((left + up) >> 1)) & 0xFF).astype(np.uint8)
    pa = np.abs(up - ul)
    pb = np.abs(left - ul)
    pc = np.abs(left + up - 2 * ul)
    pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
    return ((r - pred) & 0xFF).astype(np.uint8)


def encode_png(img: np.ndarray, row_filters: int | str = 0) -> bytes:
    """Minimal PNG writer (8-bit, single IDAT): enough to synthesize real
    crawl-like payloads in tests and fixtures without an imaging library.

    row_filters: a fixed filter type 0-4 for every row, or 'cycle' — row y
    uses filter y % 5, so one image exercises every unfilter path (real
    crawl PNGs are mostly Paeth/adaptive-filtered; fixtures must pay the
    same decode cost the wild pays)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = _PNG_COLOR[c]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    stride = w * c
    flat = img.reshape(h, stride)
    prev = np.zeros(stride, np.uint8)
    parts = []
    for y in range(h):
        ft = (y % 5) if row_filters == "cycle" else int(row_filters)
        parts.append(bytes([ft]) + _filter_row(flat[y], prev, ft, c).tobytes())
        prev = flat[y]
    raw = b"".join(parts)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def _decode_png(buf: bytes) -> np.ndarray:
    """Stdlib PNG decoder: IHDR/IDAT walk, zlib inflate, inverse scanline
    filters 0-4 (None/Sub/Up/Average/Paeth, PNG spec §6).  Supports 8-bit
    gray / gray+alpha / RGB / RGBA, non-interlaced; everything else raises
    NotImplementedError (the documented codec boundary)."""
    if buf[:8] != PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, idat = 8, []
    w = h = depth = color = interlace = None
    while pos + 8 <= len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4:pos + 8]
        data = buf[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # length + tag + data + crc
        if tag == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    c = _PNG_CHANNELS.get(color)
    if w is None or depth != 8 or c is None or interlace != 0:
        raise NotImplementedError(
            f"PNG variant unsupported by the stdlib decoder "
            f"(depth={depth}, color={color}, interlace={interlace})")
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    fts = arr[:, 0].astype(np.int64)
    if fts.max(initial=0) > 4:
        raise NotImplementedError(f"PNG filter type {int(fts.max())}")
    data = arr[:, 1:]
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    y = 0
    while y < h:
        ft = int(fts[y])
        if ft >= 3:
            # Average/Paeth depend on the decoded LEFT neighbor — a naive
            # unfilter is a per-byte Python loop (the scale-killer flagged
            # in round 3).  Both filters share the dependency stencil
            # (r,p-1),(r-1,p),(r-1,p-1), so a maximal run of 3/4-filtered
            # rows decodes as an ANTIDIAGONAL WAVEFRONT: R+W-1 numpy steps
            # for an R x W block instead of R*W*c Python iterations.
            y2 = y + 1
            while y2 < h and fts[y2] >= 3:
                y2 += 1
            block = _unfilter_wavefront(
                data[y:y2].astype(np.int32), fts[y:y2], prev, c)
            out[y:y2] = block
            prev = block[-1].astype(np.int32)
            y = y2
            continue
        row = data[y].astype(np.int32)
        if ft == 1:      # Sub: prefix sum per channel lane (mod-256 is
            # associative, so one cumsum then mask is exact; int64 to
            # avoid overflow on very wide rows)
            row = np.cumsum(row.reshape(w, c), axis=0,
                            dtype=np.int64).reshape(stride) & 0xFF
        elif ft == 2:    # Up
            row = (row + prev) & 0xFF
        out[y] = row
        prev = out[y].astype(np.int32)
        y += 1
    return out.reshape(h, w, c)


def _unfilter_wavefront(block: np.ndarray, fts: np.ndarray,
                        prev: np.ndarray, c: int) -> np.ndarray:
    """Inverse Average(3)/Paeth(4) filters for a run of consecutive rows,
    vectorized over antidiagonals: cell (row r, pixel p) depends only on
    cells with smaller r+p, so each diagonal decodes in one numpy step
    (every channel lane is an independent recurrence).  block: (R, stride)
    int32 filtered bytes; fts: (R,) per-row filter ids; prev: (stride,)
    decoded predecessor row (zeros at image top)."""
    R, stride = block.shape
    W = stride // c
    b3 = block.reshape(R, W, c)
    # padded decode buffer: row 0 = the predecessor row, col 0 = zeros
    # (PNG treats bytes left of the row start as 0)
    out = np.zeros((R + 1, W + 1, c), np.int32)
    out[0, 1:] = prev.reshape(W, c)
    is_avg = (fts == 3)
    for d in range(R + W - 1):
        r0 = max(0, d - W + 1)
        rs = np.arange(r0, min(R - 1, d) + 1)
        ps = d - rs
        a = out[rs + 1, ps]    # decoded left
        b = out[rs, ps + 1]    # decoded up
        cc = out[rs, ps]       # decoded upper-left
        pa = np.abs(b - cc)
        pb = np.abs(a - cc)
        pc = np.abs(a + b - 2 * cc)
        paeth = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc))
        pred = np.where(is_avg[rs][:, None], (a + b) >> 1, paeth)
        out[rs + 1, ps + 1] = (b3[rs, ps] + pred) & 0xFF
    return out[1:, 1:].reshape(R, stride).astype(np.uint8)

# ------------------------------------------------------------ audio (WAV)
def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE writer (PCM 16-bit little-endian): enough to
    synthesize crawl-like audio payloads without an audio library.
    samples: int16 (n,) mono or (n, ch)."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 decoder (fully vectorized: header walk + one
    frombuffer).  Non-PCM / non-16-bit raise NotImplementedError — the
    documented audio codec boundary (plug ffmpeg for mp3/ogg there)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, rate, ch, data = 12, None, None, None
    while pos + 8 <= len(buf):
        tag = buf[pos:pos + 4]
        (ln,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8:pos + 8 + ln]
        pos += 8 + ln + (ln & 1)   # chunks are word-aligned
        if tag == b"fmt ":
            afmt, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if afmt != 1 or bits != 16:
                raise NotImplementedError(
                    f"WAV variant unsupported (fmt={afmt}, bits={bits}); "
                    "only PCM16 — plug ffmpeg/soundfile here")
        elif tag == b"data":
            data = body
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return np.frombuffer(data, "<i2").reshape(-1, ch), int(rate)


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("rate", T.IntegerType()),
    T.StructField("peak", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossings", T.LongType()),
])


def synthesize_audio(spark: SparkSession, n: int, partitions: int = 8,
                     content: str = "square") -> DataFrame:
    """Deterministic audio table: per media_id a +/-A square wave (PCM16
    mono) with amplitude A = 1000 + id % 2000, half-period 8 + id % 16 and
    length 2048 + id % 1024 — so peak == rms == A exactly and the
    zero-crossing count has the closed form floor((len-1)/half): the
    decode + feature pipeline is SQL-oracle-comparable (audio_invariants).

    content='am' amplitude-modulates the same square wave per 256-sample
    frame: amp_f = 1000 + 500 * ((id + f) % 3), so every frame's energy
    is EXACTLY 256 * amp_f^2 (partial last frame: rem * amp^2) and the
    energy-delta fingerprint (audio_fingerprint) has a closed form the
    SQL oracle recomputes without decoding."""
    base = spark.range(0, n, 1, partitions).select(
        F.col("id").alias("media_id"),
        F.lit("audio").alias("kind"),
        (F.pmod(F.col("id"), F.lit(2000)) + 1000).cast("int").alias("amp"),
        (F.pmod(F.col("id"), F.lit(16)) + 8).cast("int").alias("half"),
        (F.pmod(F.col("id"), F.lit(1024)) + 2048).cast("int").alias("length"),
    )

    @F.pandas_udf(T.BinaryType())
    def payload(mid: pd.Series, amp: pd.Series, half: pd.Series,
                length: pd.Series) -> pd.Series:
        out = []
        for m, a, hp, ln in zip(mid, amp, half, length):
            i = np.arange(int(ln), dtype=np.int64)
            sign = 1 - 2 * ((i // int(hp)) % 2)
            if content == "am":
                a_i = 1000 + 500 * ((int(m) + i // 256) % 3)
            else:
                a_i = int(a)
            s = (a_i * sign).astype(np.int16)
            out.append(encode_wav(s))
        return pd.Series(out)

    return base.select("media_id", "kind",
                       payload("media_id", "amp", "half",
                               "length").alias("payload"))


FP_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("fp_hi", T.LongType()),
    T.StructField("fp_lo", T.LongType()),
])


def audio_fingerprint(media: DataFrame, frame: int = 256,
                      nbits: int = 64) -> DataFrame:
    """Energy-delta acoustic fingerprint — the audio analog of
    image_dhash and the core move of landmark fingerprinting: bit f is
    set iff frame f+1 carries strictly more energy than frame f, where a
    frame's energy is the INTEGER sum of squared PCM16 samples (channel
    0) over `frame` samples and frames past the stream end count as
    energy 0.  Integer-exact by construction, invariant to polarity and
    phase (energy ignores sign), sensitive to the loudness envelope —
    re-encodings of one recording collide, different envelopes diverge.
    Returned as two unsigned-32 halves in bigints (same convention as
    image_dhash).  Same mapInPandas Arrow-batch shape as audio_features;
    the downstream dedup shuffles 8-byte hashes, never waveforms."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                s, _rate = _decode_wav(bytes(buf))
                x = s[:, 0].astype(np.int64)
                nf = nbits + 1
                pad = np.zeros(nf * frame, np.int64)
                m = min(len(x), nf * frame)
                pad[:m] = x[:m]
                e = (pad * pad).reshape(nf, frame).sum(axis=1)
                bits = e[1:] > e[:-1]
                v = 0
                for k, b in enumerate(bits):
                    if b:
                        v |= 1 << k
                rows.append((int(mid), len(x),
                             (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "fp_hi", "fp_lo"])

    return media.mapInPandas(run, FP_SCHEMA)


def audio_features(media: DataFrame) -> DataFrame:
    """Decode + audio feature extraction over mapInPandas (same Arrow-batch
    shape as extract_features): sample count, channels, rate, peak, RMS,
    zero crossings — all numpy-vectorized per payload."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                s, rate = _decode_wav(bytes(buf))
                x = s.astype(np.float64)
                rms = float(np.sqrt(np.mean(x * x)))
                zc = int(np.count_nonzero(s[1:, 0].astype(np.int64)
                                          * s[:-1, 0].astype(np.int64) < 0))
                rows.append((int(mid), s.shape[0], s.shape[1], rate,
                             int(np.abs(s).max(initial=0)), rms, zc))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "channels", "rate",
                               "peak", "rms", "zero_crossings"])

    return media.mapInPandas(run, AUDIO_FEATURE_SCHEMA)


# ------------------------------------------------------- video (MJPEG/AVI)
def encode_avi_mjpeg(frames: list, fps: int = 10) -> bytes:
    """Minimal AVI writer with MJPEG-compressed frames (each frame is an
    independent baseline JPEG via operators/jpeg.py) — the classic
    crawl-era video container whose frames seek in O(1)."""
    from resolve_overlap_and_gap_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("no frames")
    h, w = np.asarray(frames[0]).shape[:2]
    payloads = [encode_jpeg(np.asarray(f, np.uint8), quality=90) for f in frames]

    def chunk(tag: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return tag + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    avih = struct.pack("<IIIIIIIIIIIIII",
                       1000000 // fps, 0, 0, 0x10, len(payloads), 0, 1, 0,
                       w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII",
            0, 0, 0, 0, 1, fps, 0, len(payloads), 0, 0xFFFFFFFF, 0)
            + struct.pack("<HHHH", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24,
                       0x47504A4D, w * h * 3, 0, 0, 0, 0)  # 'MJPG'
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_frame_chunks(buf: bytes) -> tuple[list[tuple[int, int]], int]:
    """Walk the RIFF tree -> ([(offset, length) per frame], fps).  Only
    offsets are collected, so sampling every Nth frame decodes ONLY the
    sampled frames (real container seek, not decode-then-drop).  Non-MJPEG
    streams raise NotImplementedError (H.264 etc. need ffmpeg)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    frames: list[tuple[int, int]] = []
    fps = 0

    def walk(pos: int, end: int) -> None:
        nonlocal fps
        while pos + 8 <= end:
            tag = buf[pos:pos + 4]
            (ln,) = struct.unpack_from("<I", buf, pos + 4)
            body_at = pos + 8
            if tag == b"LIST":
                walk(body_at + 4, body_at + ln)
            elif tag == b"strh":
                if buf[body_at:body_at + 4] == b"vids":
                    if buf[body_at + 4:body_at + 8] not in (b"MJPG", b"mjpg"):
                        raise NotImplementedError(
                            "non-MJPEG video stream (H.264/VP9 need ffmpeg)")
                    scale, rate = struct.unpack_from("<II", buf, body_at + 20)
                    fps = rate // max(scale, 1)
            elif tag in (b"00dc", b"00db"):
                frames.append((body_at, ln))
            pos = body_at + ln + (ln & 1)

    # RIFF size counts from offset 8 (it includes the 4-byte 'AVI ' form
    # type), so the payload ends at 8 + size — clamped to the buffer so a
    # stream with trailing bytes never reads a garbage chunk header.
    walk(12, min(len(buf), 8 + struct.unpack_from("<I", buf, 4)[0]))
    return frames, fps


def encode_mp4_mjpeg(frames: list, fps: int = 10,
                     samples_per_chunk: int = 2) -> bytes:
    """Minimal ISO-BMFF (MP4) writer with motion-JPEG samples — the
    dominant wild video container.  Layout: ftyp + mdat (the JPEG frames,
    `samples_per_chunk` per chunk so the stsc walk is non-trivial) + moov
    with a real sample table: stsd('jpeg'), stts, stsc, stsz, stco.
    Frame seek therefore exercises the same stsz/stsc/stco arithmetic a
    real demuxer runs."""
    from resolve_overlap_and_gap_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("no frames")
    h, w = np.asarray(frames[0]).shape[:2]
    payloads = [encode_jpeg(np.asarray(f, np.uint8), quality=90)
                for f in frames]
    n = len(payloads)

    def box(tag: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data) + 8) + tag + data

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat_payload = b"".join(payloads)
    mdat = box(b"mdat", mdat_payload)
    # chunk offsets are absolute file offsets into mdat's payload
    base = len(ftyp) + 8
    sizes = [len(p) for p in payloads]
    chunk_offsets = []
    off = base
    for i in range(0, n, samples_per_chunk):
        chunk_offsets.append(off)
        off += sum(sizes[i:i + samples_per_chunk])
    nchunks = len(chunk_offsets)
    dur = n * 1000 // fps      # timescale 1000

    stsd = box(b"stsd", struct.pack(">II", 0, 1) + box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
        + struct.pack(">HH", w, h) + struct.pack(">II", 0x00480000, 0x00480000)
        + struct.pack(">IH", 0, 1) + b"\x00" * 32
        + struct.pack(">Hh", 24, -1)))
    stts = box(b"stts", struct.pack(">III I", 0, 1, n, 1000 // fps))
    # stsc: one entry when every chunk is full, plus a trailer entry when
    # the last chunk is short (first_chunk, samples_per_chunk, desc_id)
    ents = [(1, min(samples_per_chunk, n), 1)]
    rem = n % samples_per_chunk
    if rem and n > samples_per_chunk:
        ents.append((nchunks, rem, 1))
    stsc = box(b"stsc", struct.pack(">II", 0, len(ents))
               + b"".join(struct.pack(">III", *e) for e in ents))
    stsz = box(b"stsz", struct.pack(">III", 0, 0, n)
               + b"".join(struct.pack(">I", s) for s in sizes))
    stco = box(b"stco", struct.pack(">II", 0, nchunks)
               + b"".join(struct.pack(">I", o) for o in chunk_offsets))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    dinf = box(b"dinf", box(b"dref", struct.pack(">II", 0, 1)
                            + box(b"url ", struct.pack(">I", 1))))
    vmhd = box(b"vmhd", struct.pack(">IHHHH", 1, 0, 0, 0, 0))
    minf = box(b"minf", vmhd + dinf + stbl)
    hdlr = box(b"hdlr", struct.pack(">II", 0, 0) + b"vide"
               + b"\x00" * 12 + b"MJPEG\x00")
    mdhd = box(b"mdhd", struct.pack(">IIIIIHH", 0, 0, 0, 1000, dur, 0x55C4, 0))
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = box(b"tkhd", struct.pack(">IIIII", 7, 0, 0, 1, 0)
               + struct.pack(">I", dur) + b"\x00" * 8
               + struct.pack(">HHHH", 0, 0, 0, 0)
               + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                             0x40000000)
               + struct.pack(">II", w << 16, h << 16))
    trak = box(b"trak", tkhd + mdia)
    mvhd = box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, 1000, dur)
               + struct.pack(">IHH", 0x00010000, 0x0100, 0) + b"\x00" * 8
               + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                             0x40000000)
               + b"\x00" * 24 + struct.pack(">I", 2))
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _mp4_boxes(buf: bytes, pos: int, end: int):
    """Yield (tag, body_start, body_end) for the ISO-BMFF boxes in
    [pos, end); handles 64-bit largesize boxes."""
    while pos + 8 <= end:
        (ln,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4:pos + 8]
        body = pos + 8
        if ln == 1:
            (ln64,) = struct.unpack_from(">Q", buf, pos + 8)
            body, ln = pos + 16, ln64
        elif ln == 0:
            ln = end - pos
        if ln < 8:
            raise ValueError("corrupt MP4 box length")
        yield tag, body, min(pos + ln, end)
        pos += ln


def _mp4_frame_chunks(buf: bytes) -> tuple[list[tuple[int, int]], int]:
    """Real MP4 demuxer arithmetic -> ([(abs_offset, length) per sample],
    fps): find the video trak, then reconstruct per-sample absolute file
    offsets from stsz (sizes) x stsc (samples per chunk runs) x stco/co64
    (chunk offsets) and the rate from stts/mdhd.  Only motion-JPEG sample
    descriptions ('jpeg'/'mjpa'/'MJPG') decode here; AVC/HEVC/VP9 raise
    NotImplementedError at the ffmpeg boundary exactly like the AVI path."""
    if buf[4:8] != b"ftyp":
        raise ValueError("not an MP4 stream")
    stbl_found = {}
    fps = 0

    def walk(pos, end, in_video_trak):
        nonlocal fps
        for tag, b0, b1 in _mp4_boxes(buf, pos, end):
            if tag in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                walk(b0, b1, in_video_trak or tag == b"trak")
            elif tag == b"hdlr":
                if buf[b0 + 8:b0 + 12] != b"vide":
                    return   # not the video track: skip this trak subtree
            elif tag == b"mdhd":
                ver = buf[b0]
                ts, = struct.unpack_from(">I", buf, b0 + (20 if ver else 12))
                stbl_found["timescale"] = ts
            elif tag == b"stsd":
                fourcc = buf[b0 + 12:b0 + 16]
                if fourcc not in (b"jpeg", b"mjpa", b"MJPG"):
                    raise NotImplementedError(
                        f"non-MJPEG MP4 codec {fourcc!r} (needs ffmpeg)")
            elif tag == b"stts":
                (_, cnt) = struct.unpack_from(">II", buf, b0)
                if cnt:
                    _, delta = struct.unpack_from(">II", buf, b0 + 8)
                    stbl_found["delta"] = max(delta, 1)
            elif tag == b"stsz":
                _, uniform, n = struct.unpack_from(">III", buf, b0)
                if uniform:
                    stbl_found["sizes"] = [uniform] * n
                else:
                    stbl_found["sizes"] = list(
                        struct.unpack_from(f">{n}I", buf, b0 + 12))
            elif tag == b"stsc":
                _, cnt = struct.unpack_from(">II", buf, b0)
                stbl_found["stsc"] = [
                    struct.unpack_from(">III", buf, b0 + 8 + 12 * i)
                    for i in range(cnt)]
            elif tag in (b"stco", b"co64"):
                _, cnt = struct.unpack_from(">II", buf, b0)
                fmt = ">Q" if tag == b"co64" else ">I"
                w_ = 8 if tag == b"co64" else 4
                stbl_found["chunks"] = [
                    struct.unpack_from(fmt, buf, b0 + 8 + w_ * i)[0]
                    for i in range(cnt)]

    walk(0, len(buf), False)
    sizes = stbl_found.get("sizes")
    stsc = stbl_found.get("stsc")
    chunks = stbl_found.get("chunks")
    if not sizes or not stsc or not chunks:
        raise ValueError("MP4 missing sample table (stsz/stsc/stco)")
    ts = stbl_found.get("timescale", 1000)
    delta = stbl_found.get("delta", ts)
    fps = ts // max(delta, 1)
    # expand stsc runs: entry (first_chunk, spc, _) applies to chunks
    # first_chunk..next_first_chunk-1 (1-based)
    frames: list[tuple[int, int]] = []
    si = 0
    for ei, (first, spc, _d) in enumerate(stsc):
        last = (stsc[ei + 1][0] - 1) if ei + 1 < len(stsc) else len(chunks)
        for c in range(first - 1, last):
            off = chunks[c]
            for _ in range(spc):
                if si >= len(sizes):
                    break
                frames.append((off, sizes[si]))
                off += sizes[si]
                si += 1
    return frames, fps


VIDEO_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_byte", T.DoubleType()),
])


def _video_frame_chunks(buf: bytes) -> tuple[list[tuple[int, int]], int]:
    """Container sniff: RIFF/AVI or ISO-BMFF/MP4 -> per-frame
    (offset, length) + fps.  Both walks are parse-only (O(container
    metadata)); decode happens per sampled frame."""
    if buf[:4] == b"RIFF":
        return _avi_frame_chunks(buf)
    if buf[4:8] == b"ftyp":
        return _mp4_frame_chunks(buf)
    raise NotImplementedError("unsupported video container (need ffmpeg)")


def synthesize_video(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic MJPEG video table: per media_id, 4 + id % 4 constant-
    color 32x24 frames with pixel value (id*7 + frame*11) % 256, wrapped
    in AVI for even ids and ISO-BMFF/MP4 (real stsz/stsc/stco sample
    table) for odd ids — the frame-sample pipeline pays BOTH dominant
    container walks.  A constant block is DC-only and reconstructs
    EXACTLY at quality 90 (quant step 3 -> max DC error 3/16 < 1/2), so
    sampled frame means are integers with a SQL closed form
    (video_invariants), independent of container."""
    base = spark.range(0, n, 1, partitions).select(
        F.col("id").alias("media_id"), F.lit("video").alias("kind"))

    @F.pandas_udf(T.BinaryType())
    def payload(mid: pd.Series) -> pd.Series:
        out = []
        for m in mid:
            k = int(m)
            frames = [np.full((24, 32, 3), (k * 7 + f * 11) % 256, np.uint8)
                      for f in range(4 + k % 4)]
            if k % 2:
                out.append(encode_mp4_mjpeg(frames, fps=10))
            else:
                out.append(encode_avi_mjpeg(frames, fps=10))
        return pd.Series(out)

    return base.select("media_id", "kind", payload("media_id").alias("payload"))


def video_frame_sample(media: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling over MJPEG payloads in AVI or MP4 containers:
    the container walk (RIFF tree / stsz-stsc-stco sample table) yields
    frame offsets, so only every Nth frame is JPEG-decoded (container
    seek semantics — the ffmpeg '-vf select' shape) inside mapInPandas."""
    from resolve_overlap_and_gap_spark.operators.jpeg import decode_jpeg_batch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # container seek per video, then ALL sampled frames across the
            # Arrow batch decode as one vectorized cursor fleet
            keys, bufs = [], []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(buf)
                chunks, _fps = _video_frame_chunks(b)
                for fi in range(0, len(chunks), every):
                    off, ln = chunks[fi]
                    keys.append((int(mid), fi))
                    bufs.append(b[off:off + ln])
            rows = [
                (mid, fi, img.shape[1], img.shape[0], float(img.mean()))
                for (mid, fi), img in zip(keys, decode_jpeg_batch(bufs))
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "frame", "width", "height",
                               "mean_byte"])

    return media.mapInPandas(run, VIDEO_FRAME_SCHEMA)


MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta_w", T.IntegerType()),
    T.StructField("meta_h", T.IntegerType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("mean_byte", T.DoubleType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])

RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("mean_byte", T.DoubleType()),
    T.StructField("thumb", T.BinaryType()),
])


def box_downscale(img: np.ndarray, k: int) -> np.ndarray:
    """Exact k x k box-mean downscale (area averaging — what a thumbnail
    pipeline wants for anti-aliased shrink), whole-array numpy.  Edges
    short of a multiple of k are edge-padded first so every output pixel
    averages a full window; output dtype uint8 with round-half-away
    handled by the +0.5 floor on non-negative values."""
    if k <= 1:
        return img
    h, w, c = img.shape
    ph, pw = -(-h // k) * k, -(-w // k) * k
    p = np.pad(img, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    s = p.reshape(ph // k, k, pw // k, k, c).astype(np.float64).mean((1, 3))
    return np.floor(s + 0.5).astype(np.uint8)


def resize_images(media: DataFrame, factor: int = 2) -> DataFrame:
    """Decode + thumbnail over mapInPandas: JPEGs pool into one
    decode_jpeg_batch cursor fleet per Arrow batch, every image shrinks
    by `factor` with exact box-mean averaging, and the thumbnail ships
    back as a raw FAKEIMG payload (header + bytes) — the resize stage of
    a multimodal training pipeline with the 100 TB batch shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bufs = [bytes(b) for b in pdf["payload"]]
            imgs = _decode_image_batch(bufs)
            rows = []
            for i, mid in enumerate(pdf["media_id"]):
                th = box_downscale(imgs[i], factor)
                h2, w2, c2 = th.shape
                hdr = struct.pack(_HDR_FMT, _MAGIC, w2, h2, c2)
                rows.append((int(mid), w2, h2, c2, float(th.mean()),
                             hdr + th.tobytes()))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "channels",
                               "mean_byte", "thumb"])

    return media.mapInPandas(run, RESIZE_SCHEMA)


def synthesize_media(spark: SparkSession, n: int, partitions: int = 8,
                     fmt: str = "mixed", content: str = "noise") -> DataFrame:
    """Deterministic media table with seeded pixels, generated JVM-side
    except the payload bytes (Arrow-batched).  fmt: 'fake' (raw header +
    bytes), 'png' / 'jpeg' (real codec streams), or 'mixed' (the default
    crawl-like blend: media_id % 3 == 0 fake, == 1 PNG, == 2 JPEG —
    baseline 4:4:4 or 4:2:0 or PROGRESSIVE per the id rules below — so
    every pipeline over this table pays real decode costs for both major
    image formats and every JPEG layout).

    content: 'noise' (seeded RNG pixels), 'gradient' — pixel value
    x + y + (media_id % 96), identical channels; never wraps mod 256 at
    the 16-80 px sizes, so the decoded image MEAN has the closed form
    (w-1)/2 + (h-1)/2 + media_id % 96 and the whole encode -> decode ->
    feature pipeline becomes SQL-oracle-comparable (multimodal_invariants)
    while still exercising non-trivial Sub/Up/Average/Paeth filters — or
    'blockgrad': pixel value 8*(x//16) + 8*(y//16) + media_id % 96 on
    16-multiple dims, constant per 16x16 tile, so every luma AND
    subsampled-chroma block is DC-only and survives 4:2:0 JPEG EXACTLY
    (mean = 4*(w/16-1) + 4*(h/16-1) + id%96 — the
    multimodal_invariants_420 closed form).

    fmt='jpeg420' encodes baseline JPEG with 4:2:0 chroma subsampling and
    per-MCU restart markers; fmt='jpegprog' encodes PROGRESSIVE (SOF2)
    4:2:0 JPEG — the multi-scan successive-approximation layout most
    wild crawl JPEGs use.  fmt='mixed' gives its JPEG share (id%3==2)
    4:2:0 on odd multiples (id%6==5) so the blend pays the dominant wild
    layout, with restart markers feeding the vectorized batch decoder,
    and makes half of that 4:2:0 share (id%12==11) progressive so the
    blend pays the multi-scan decode path too."""
    if content == "blockgrad":
        wexpr = (F.pmod(F.col("id") * 37, F.lit(4)) * 16 + 16)
        hexpr = (F.pmod(F.col("id") * 53, F.lit(4)) * 16 + 16)
    else:
        wexpr = F.pmod(F.col("id") * 37, F.lit(64)) + 16
        hexpr = F.pmod(F.col("id") * 53, F.lit(64)) + 16
    base = spark.range(0, n, 1, partitions).select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("kind"),
        wexpr.cast("int").alias("meta_w"),
        hexpr.cast("int").alias("meta_h"),
    )

    @F.pandas_udf(T.BinaryType())
    def payload(mid: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = []
        for m, ww, hh in zip(mid, w, h):
            ww, hh = int(ww), int(hh)
            if content == "gradient":
                g = (np.arange(hh, dtype=np.int32)[:, None]
                     + np.arange(ww, dtype=np.int32)[None, :]
                     + int(m) % 96).astype(np.uint8)
                px = np.repeat(g[:, :, None], 3, axis=2)
            elif content == "blockgrad":
                g = (8 * (np.arange(hh, dtype=np.int32)[:, None] // 16)
                     + 8 * (np.arange(ww, dtype=np.int32)[None, :] // 16)
                     + int(m) % 96).astype(np.uint8)
                px = np.repeat(g[:, :, None], 3, axis=2)
            else:
                rng = np.random.default_rng(int(m))
                px = rng.integers(0, 256, (hh, ww, 3), dtype=np.uint8)
            if fmt in ("jpeg420", "jpegprog"):
                from resolve_overlap_and_gap_spark.operators.jpeg import (
                    encode_jpeg,
                )

                out.append(encode_jpeg(px, quality=85 + int(m) % 11,
                                       subsampling="420", restart_interval=1,
                                       progressive=fmt == "jpegprog"))
            elif fmt == "png" or (fmt == "mixed" and int(m) % 3 == 1):
                # per-IMAGE filter 0-4 (media_id % 5): the corpus exercises
                # every unfilter path incl. Average/Paeth, matching real
                # crawl PNGs (photographic content is typically one filter
                # for the whole image — the wavefront's long-run case)
                out.append(encode_png(px, row_filters=int(m) % 5))
            elif fmt == "jpeg" or (fmt == "mixed" and int(m) % 3 == 2):
                from resolve_overlap_and_gap_spark.operators.jpeg import (
                    encode_jpeg,
                )

                sub = "420" if (fmt == "mixed" and int(m) % 6 == 5) else "444"
                prog = fmt == "mixed" and int(m) % 12 == 11
                out.append(encode_jpeg(px, quality=85 + int(m) % 11,
                                       subsampling=sub, restart_interval=1,
                                       progressive=prog))
            else:
                hdr = struct.pack(_HDR_FMT, _MAGIC, ww, hh, 3)
                out.append(hdr + px.tobytes())
        return pd.Series(out)

    return base.withColumn("payload", payload("media_id", "meta_w", "meta_h"))


def _decode_image(buf: bytes) -> np.ndarray:
    """Format sniff + decode: PNG via the stdlib decoder, baseline JPEG
    via operators/jpeg.py, FAKEIMG via the header parse; video and
    non-baseline variants raise at this boundary (plug PIL/ffmpeg here
    when the environment has them)."""
    if buf[:8] == PNG_SIG:
        return _decode_png(buf)
    if buf[:2] == b"\xff\xd8":
        from resolve_overlap_and_gap_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(buf)
    if buf[:8] == _MAGIC:
        _, w, h, c = struct.unpack_from(_HDR_FMT, buf, 0)
        arr = np.frombuffer(buf, dtype=np.uint8, offset=_HDR_SIZE, count=w * h * c)
        return arr.reshape(h, w, c)
    raise NotImplementedError(
        "unsupported media format (video/exotic codecs need PIL/ffmpeg)"
    )


def _decode_image_batch(bufs: list) -> list:
    """Decode a whole Arrow batch of mixed-codec payloads, index-aligned:
    every JPEG in the batch decodes as ONE vectorized cursor fleet
    (decode_jpeg_batch pools all restart segments of all images); PNG/
    FAKEIMG decode per image via _decode_image.  The single dispatch
    point for every mapInPandas media operator — change the sniff or
    batching rule here, not per operator."""
    from resolve_overlap_and_gap_spark.operators.jpeg import decode_jpeg_batch

    jidx = [i for i, b in enumerate(bufs) if b[:2] == b"\xff\xd8"]
    imgs: dict[int, np.ndarray] = {}
    if jidx:
        for i, im in zip(jidx, decode_jpeg_batch([bufs[i] for i in jidx])):
            imgs[i] = im
    return [imgs[i] if i in imgs else _decode_image(b)
            for i, b in enumerate(bufs)]


DHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("dhash_hi", T.LongType()),
    T.StructField("dhash_lo", T.LongType()),
])


def image_dhash(media: DataFrame, grid_w: int = 9,
                grid_h: int = 8) -> DataFrame:
    """Perceptual difference hash (dHash) — the image analog of text
    near-dup fingerprinting: decode, pool to a grid_h x grid_w cell
    grid, and set one bit per horizontally adjacent cell pair where the
    right cell is strictly brighter.  Re-encodings of the same picture
    (PNG vs JPEG vs progressive, different qualities) land the same or
    near-identical 64-bit hash, so an exact or small-Hamming-radius
    equi-join dedups images across codecs the way simhash dedups text.

    INTEGER-EXACT by construction: cells are the np.array_split
    partition of rows/cols (first h%grid_h / w%grid_w groups one
    larger), brightness is the integer SUM of all channel bytes in the
    cell, and the comparison cross-multiplies sums by cell pixel counts
    (sum_r * n_l > sum_l * n_r) — no float means, so any engine (the
    DuckDB oracle recomputes the hash in closed form) lands the same
    bits.  Bit k = i*(grid_w-1) + j (row-major over comparisons),
    returned as two unsigned 32-bit halves in bigints to stay inside
    signed-64 SQL arithmetic.

    Scale shape: same mapInPandas iterator as extract_features — JPEGs
    in an Arrow batch decode as ONE vectorized cursor fleet, the hash is
    two np.add.reduceat passes + one integer compare per image; no
    per-row Python at the Spark level and no shuffle at all (the
    downstream dedup groupBy/join shuffles on the 8-byte hash, not the
    image)."""

    nbits = grid_h * (grid_w - 1)
    if nbits > 64:
        raise ValueError("dhash grid exceeds 64 bits")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bufs = [bytes(b) for b in pdf["payload"]]
            imgs = _decode_image_batch(bufs)
            rows = []
            for i, mid in enumerate(pdf["media_id"]):
                img = imgs[i]
                h, w, _c = img.shape
                a = img.astype(np.int64).sum(axis=2)
                # np.array_split boundaries: first r groups get q+1
                def starts(n, g):
                    q, r = divmod(n, g)
                    return np.array([k * q + min(k, r) for k in range(g)],
                                    dtype=np.int64)
                rs, cs = starts(h, grid_h), starts(w, grid_w)
                rn = np.diff(np.append(rs, h))
                cn = np.diff(np.append(cs, w))
                # tiny images (h < grid_h or w < grid_w, e.g. 1x1 tracking
                # pixels) produce empty np.array_split cells; reduceat
                # would raise on a start index == axis length, and with
                # duplicate indices it yields a[idx] rather than 0 — clamp
                # the indices and zero the empty cells explicitly, which
                # matches array_split semantics (empty cell sum 0, n 0, so
                # the bit comparison 0 > 0 is False on either side)
                rs_c = np.minimum(rs, max(h - 1, 0))
                cs_c = np.minimum(cs, max(w - 1, 0))
                s = np.add.reduceat(np.add.reduceat(a, rs_c, axis=0), cs_c, axis=1)
                s[rn == 0, :] = 0
                s[:, cn == 0] = 0
                n = np.outer(rn, cn)
                bits = (s[:, 1:] * n[:, :-1]) > (s[:, :-1] * n[:, 1:])
                v = 0
                for k, b in enumerate(bits.ravel()):
                    if b:
                        v |= 1 << k
                rows.append((int(mid), w, h,
                             (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height",
                               "dhash_hi", "dhash_lo"])

    return media.mapInPandas(run, DHASH_SCHEMA)


def extract_features(media: DataFrame, grid: int = 4) -> DataFrame:
    """Decode + pooled-feature extraction over mapInPandas: iterator of Arrow
    batches in, iterator out — the scale-path shape (no per-row Python at
    the Spark level; numpy vectorization inside the batch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bufs = [bytes(b) for b in pdf["payload"]]
            imgs = _decode_image_batch(bufs)
            rows = []
            for i, mid in enumerate(pdf["media_id"]):
                img = imgs[i]
                h, w, c = img.shape
                # grid-pooled mean feature (the resize/pool stand-in)
                ys = np.linspace(0, h, grid + 1).astype(int)
                xs = np.linspace(0, w, grid + 1).astype(int)
                feat = np.array([
                    img[ys[i2]:ys[i2 + 1], xs[j]:xs[j + 1]].mean()
                    for i2 in range(grid) for j in range(grid)
                ], dtype=np.float32) / 255.0
                rows.append((int(mid), w, h, c, float(img.mean()), feat.tolist()))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "channels",
                               "mean_byte", "feature"],
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


