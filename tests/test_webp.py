"""VP8L (WebP-lossless) codec: encode→decode == ground truth across
every decoder path (prefix-code forms, LZ77 + distance map, color
cache, meta-prefix, all four transforms, all 14 predictor modes), plus
container negatives and the narrowed lossy boundary."""

from __future__ import annotations

import random
import struct

import pytest

from firefly_vcut_spark.operators.webp import (
    _DIST_MAP,
    decode_vp8l,
    encode_vp8l,
)


def _img(w, h, ncolors=None, seed=1):
    rng = random.Random(seed)
    if ncolors:
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256), 255)
            for _ in range(ncolors)
        ]
        px = [pal[rng.randrange(ncolors)] for _ in range(w * h)]
    else:
        px = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(w * h)
        ]
    return bytes(b for p in px for b in p)


MODES = [
    ("plain", {}),
    ("no_lz77", dict(lz77=False)),
    ("color_cache", dict(cache_bits=4)),
    ("meta_prefix", dict(use_meta=True)),
    ("subtract_green", dict(transform="subtract_green")),
    ("color_transform", dict(transform=("color", (17, 200, 5)))),
    ("palette", dict(transform="palette")),
] + [(f"predictor_{m}", dict(transform=("predictor", m))) for m in range(14)]


@pytest.mark.parametrize("name,kw", MODES, ids=[m[0] for m in MODES])
def test_roundtrip_every_mode(name, kw):
    for (w, h, nc, seed) in [(8, 6, None, 1), (13, 9, 3, 2), (16, 16, 14, 3), (5, 1, 2, 4), (1, 7, None, 5)]:
        rgba = _img(w, h, nc, seed)
        dw, dh, ch, out = decode_vp8l(encode_vp8l(rgba, w, h, **kw))
        assert (dw, dh, ch) == (w, h, 4)
        assert out == rgba, f"{name} {w}x{h}"


def test_lz77_vertical_runs_use_distance_map():
    """A vertically-striped image forces copy tokens at distance w
    (neighbor code (0,1)) and distance 1 — the distance-map decode
    path, not just literals."""
    w, h = 12, 10
    row = bytes(b for x in range(w) for b in ((x * 5) % 256, 7, 200, 255))
    rgba = row * h
    blob = encode_vp8l(rgba, w, h)
    assert decode_vp8l(blob)[3] == rgba
    # the stream with LZ77 must be much smaller than literals-only
    assert len(blob) < len(encode_vp8l(rgba, w, h, lz77=False))


def test_distance_map_spec_head():
    assert _DIST_MAP[:8] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2)
    ]
    assert len(_DIST_MAP) == 120
    assert len(set(_DIST_MAP)) == 120


def test_animated_vp8x_raises_declared_boundary():
    """Lossy VP8 and extended-alpha stills decode natively since r11
    (operators/vp8.py); the declared boundary narrows to animation."""
    payload = b"\x02" + b"\x00" * 9  # VP8X with the ANIM flag set
    chunk = b"VP8X" + struct.pack("<I", len(payload)) + payload
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(NotImplementedError):
        decode_vp8l(blob)
    # a still VP8X container with no image chunk is malformed instead
    payload = b"\x10" + b"\x00" * 9
    chunk = b"VP8X" + struct.pack("<I", len(payload)) + payload
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(ValueError):
        decode_vp8l(blob)
    # a junk lossy chunk routes to the real decoder and is malformed
    chunk = b"VP8 " + struct.pack("<I", 10) + b"\x00" * 10
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    with pytest.raises(ValueError):
        decode_vp8l(blob)


def test_not_webp_rejected():
    with pytest.raises(ValueError):
        decode_vp8l(b"RIFF\x04\x00\x00\x00WAVE")


def test_truncated_stream_rejected():
    blob = encode_vp8l(_img(8, 8), 8, 8)
    with pytest.raises(ValueError):
        decode_vp8l(blob[: len(blob) - 4])


def test_decode_image_real_sniffs_webp():
    from firefly_vcut_spark.operators.multimodal import decode_image_real

    rgba = _img(9, 4, seed=9)
    assert decode_image_real(encode_vp8l(rgba, 9, 4))[3] == rgba


try:
    from hypothesis import example, given, settings, strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False


if _HAS_HYPOTHESIS:

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 18),
        seed=st.integers(0, 2**31),
        ncolors=st.sampled_from([None, 2, 5, 16]),
        mode=st.integers(0, len(MODES) - 1),
    )
    @example(w=15, h=18, seed=0, ncolors=None, mode=6)  # 270 colors, palette mode
    def test_roundtrip_hypothesis(w, h, seed, ncolors, mode):
        """Property fuzz across geometry x palette x encode mode: the
        decoder must invert every spec-legal stream the encoder can
        produce, bit-exactly."""
        rgba = _img(w, h, ncolors, seed)
        name, kw = MODES[mode]
        if name == "palette" and len({rgba[i : i + 4] for i in range(0, len(rgba), 4)}) > 256:
            # a VP8L palette holds at most 256 colors: no legal stream
            # exists, and the encoder must refuse rather than emit one
            with pytest.raises(AssertionError, match="> 256 colors"):
                encode_vp8l(rgba, w, h, **kw)
            return
        dw, dh, ch, out = decode_vp8l(encode_vp8l(rgba, w, h, **kw))
        assert (dw, dh, ch) == (w, h, 4)
        assert out == rgba
