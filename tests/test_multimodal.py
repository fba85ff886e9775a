from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.operators.multimodal import (
    PNG_SIG,
    _decode_image,
    _decode_png,
    encode_png,
    extract_features,
    synthesize_media,
)


@pytest.mark.spark
def test_feature_extraction_plumbing(spark):
    # default fmt='mixed': odd ids are REAL PNG streams, even ids FAKEIMG
    media = synthesize_media(spark, 50, partitions=4)
    feats = extract_features(media, grid=4)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.feature) == 16
        assert 16 <= r.width <= 80 and 16 <= r.height <= 80
        assert r.channels == 3
        assert 0.0 <= r.mean_byte <= 255.0


@pytest.mark.spark
def test_png_and_fake_payloads_give_identical_features(spark):
    """Same seeded pixels through the PNG codec and the raw plumbing format
    must decode to identical features — decode(encode(x)) == x end to end
    through the mapInPandas pipeline."""
    def feats(fmt):
        media = synthesize_media(spark, 20, partitions=2, fmt=fmt)
        return sorted(
            (r.media_id, r.width, r.height, r.channels, r.mean_byte,
             tuple(r.feature))
            for r in extract_features(media, grid=4).collect()
        )

    assert feats("png") == feats("fake")


def test_png_roundtrip_all_channel_counts():
    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        img = rng.integers(0, 256, (23, 17, c), dtype=np.uint8)
        assert np.array_equal(_decode_png(encode_png(img)), img)
    # 2-D grayscale input becomes (h, w, 1)
    g = rng.integers(0, 256, (9, 11), dtype=np.uint8)
    assert np.array_equal(_decode_png(encode_png(g)), g[:, :, None])


def _filtered_png(img: np.ndarray, ftype: int) -> bytes:
    """Hand-build a PNG whose every scanline uses the given filter type
    (the encoder only writes filter 0) — pins the inverse filters."""
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)
    rows = []
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        cur = flat[y]
        if ftype == 0:
            f = cur
        elif ftype == 1:
            left = np.concatenate([np.zeros(c, np.int32), cur[:-c]])
            f = cur - left
        elif ftype == 2:
            f = cur - prev
        elif ftype == 3:
            left = np.concatenate([np.zeros(c, np.int32), cur[:-c]])
            f = cur - ((left + prev) >> 1)
        elif ftype == 4:
            left = np.concatenate([np.zeros(c, np.int32), cur[:-c]])
            upleft = np.concatenate([np.zeros(c, np.int32), prev[:-c]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            f = cur - pred
        rows.append(bytes([ftype]) + (f & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_inverse_filters(ftype):
    rng = np.random.default_rng(ftype)
    img = rng.integers(0, 256, (13, 19, 3), dtype=np.uint8)
    assert np.array_equal(_decode_png(_filtered_png(img, ftype)), img)


@pytest.mark.parametrize("rf", [1, 2, 3, 4, "cycle"])
def test_png_roundtrip_encoder_filters(rf):
    """The encoder's forward filters against the wavefront unfilter:
    decode(encode(x, f)) == x for every filter type and for the 'cycle'
    mix (run boundaries between vectorized and wavefront paths)."""
    rng = np.random.default_rng(42)
    for c in (1, 3, 4):
        img = rng.integers(0, 256, (21, 15, c), dtype=np.uint8)
        assert np.array_equal(
            _decode_png(encode_png(img, row_filters=rf)), img)


def test_png_random_filter_sequences():
    """Arbitrary per-row filter sequences (incl. single-row runs, runs at
    the top, 1-pixel-wide images) round-trip exactly — pins the
    antidiagonal wavefront against the scalar spec semantics."""
    from resolve_overlap_and_gap_spark.operators.multimodal import _filter_row

    def encode_seq(img, fts):
        h, w, c = img.shape
        flat = img.reshape(h, w * c)
        prev = np.zeros(w * c, np.uint8)
        rows = []
        for y in range(h):
            rows.append(bytes([fts[y]])
                        + _filter_row(flat[y], prev, int(fts[y]), c).tobytes())
            prev = flat[y]

        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

        color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + chunk(b"IEND", b""))

    rng = np.random.default_rng(3)
    for _ in range(25):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 24))
        c = int(rng.choice([1, 2, 3, 4]))
        img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        fts = rng.integers(0, 5, h)
        assert np.array_equal(_decode_png(encode_seq(img, fts)), img)


def test_decode_rejects_unsupported_formats():
    # arithmetic-coded JPEG (SOF10): parse-level rejection, not silent
    # corruption (progressive SOF2 is supported since round 5)
    sof10 = (b"\xff\xd8"
             + struct.pack(">HH", 0xFFCA, 13)
             + struct.pack(">BHHB", 8, 4, 4, 1) + bytes([1, 0x11, 0]))
    with pytest.raises(NotImplementedError):
        _decode_image(sof10)
    # unknown container magic (video etc.)
    with pytest.raises(NotImplementedError):
        _decode_image(b"\x00\x00\x00\x18ftypmp42" + b"0" * 100)
    # 16-bit PNG: valid signature, unsupported depth
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    buf = (PNG_SIG + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
           + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
    with pytest.raises(NotImplementedError):
        _decode_image(buf)


@pytest.mark.spark
def test_text_passthrough_byte_identity(spark):
    """BASELINE.md invariant: per-url extracted text stays byte-identical
    through the geo-parse + cell-assign pipeline."""
    from tests.fixtures import synthesize_pages, with_point
    from resolve_overlap_and_gap_spark.operators.celljoin import points_with_cell

    pages = synthesize_pages(spark, 500, partitions=4)
    before = {r.url: r.text for r in pages.select("url", "text").collect()}
    out = points_with_cell(with_point(pages), res=8)
    after = {r.url: r.text for r in out.select("url", "text").collect()}
    assert before == after


def test_box_downscale_exact_and_edges():
    """Exact box-mean semantics: constants stay constant, odd dims pad
    with edge replication, rounding is half-away on the mean."""
    import numpy as np

    from resolve_overlap_and_gap_spark.operators.multimodal import box_downscale

    const = np.full((16, 16, 3), 77, np.uint8)
    assert (box_downscale(const, 2) == 77).all()
    assert box_downscale(const, 2).shape == (8, 8, 3)
    # odd dims: 5x3 by k=2 -> 3x2 (edge pad)
    img = np.arange(5 * 3 * 1, dtype=np.uint8).reshape(5, 3, 1)
    out = box_downscale(img, 2)
    assert out.shape == (3, 2, 1)
    # top-left window mean: pixels [[0,1],[3,4]] -> 2
    assert out[0, 0, 0] == 2
    # k=1 is identity
    assert box_downscale(img, 1) is img


@pytest.mark.spark
def test_resize_images_roundtrip(spark):
    """resize_images halves dims, emits decodable FAKEIMG thumbnails, and
    the thumbnail of a constant image is constant."""
    import numpy as np

    from resolve_overlap_and_gap_spark.operators.multimodal import (
        _decode_image,
        resize_images,
        synthesize_media,
    )

    media = synthesize_media(spark, 9, partitions=2, fmt="mixed",
                             content="blockgrad")
    rows = resize_images(media, factor=2).collect()
    assert len(rows) == 9
    for r in rows:
        th = _decode_image(bytes(r.thumb))
        assert th.shape == (r.height, r.width, r.channels)
        assert abs(float(th.mean()) - r.mean_byte) < 1e-9


def test_image_dhash_dedups_reencodings():
    """dHash is the cross-codec image near-dup key: the SAME picture
    re-encoded as PNG / baseline JPEG / 4:2:0 / progressive at different
    qualities lands within a small Hamming radius (smooth content:
    identical), while different pictures land far apart."""
    import numpy as np

    from resolve_overlap_and_gap_spark.operators.jpeg import encode_jpeg
    from resolve_overlap_and_gap_spark.operators.multimodal import (
        _decode_image,
        encode_png,
    )

    def dhash64(img, grid_w=9, grid_h=8):
        a = img.astype(np.int64).sum(axis=2)
        h, w = a.shape

        def starts(n, g):
            q, r = divmod(n, g)
            return np.array([k * q + min(k, r) for k in range(g)], np.int64)

        rs, cs = starts(h, grid_h), starts(w, grid_w)
        rn = np.diff(np.append(rs, h))
        cn = np.diff(np.append(cs, w))
        s = np.add.reduceat(np.add.reduceat(a, rs, axis=0), cs, axis=1)
        n = np.outer(rn, cn)
        bits = (s[:, 1:] * n[:, :-1]) > (s[:, :-1] * n[:, 1:])
        return sum(1 << k for k, b in enumerate(bits.ravel()) if b)

    # smooth photographic-like content: strong cell-margin differences
    yy, xx = np.mgrid[0:64, 0:96]
    smooth = np.clip(40 + xx + 0.5 * yy + 20 * np.sin(xx / 15.0), 0,
                     255).astype(np.uint8)
    img = np.stack([smooth, smooth // 2 + 30, 255 - smooth], axis=2)
    encs = [
        encode_png(img),
        encode_jpeg(img, 95),
        encode_jpeg(img, 85, subsampling="420", restart_interval=1),
        encode_jpeg(img, 90, subsampling="420", progressive=True),
        encode_jpeg(img, 75, subsampling="422", progressive=True,
                    eob_runs=True),
    ]
    hashes = [dhash64(_decode_image(b)) for b in encs]
    ref = hashes[0]
    for hv in hashes[1:]:
        assert bin(hv ^ ref).count("1") <= 6   # near-dup radius (of 64)
    # a genuinely different picture (inverted brightness gradient, so
    # every cell comparison flips) is far away
    far = dhash64(_decode_image(encode_png(255 - img)))
    assert bin(far ^ ref).count("1") > 16
