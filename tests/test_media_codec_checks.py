"""Input checks the JPEG, EXIF and GIF readers and writers share.

Every DCT encoder validates its quantization tables the same way, every
JPEG encoder refuses an empty image in the one frame-header writer, the
EXIF extractor walks markers like the decoder does (fill bytes
included) and labels every malformed payload, and animated-GIF frames
go through the same image checks as the first-image decoder. No Spark
session is started.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pipes_spark.operators import multimodal as mm

_BAD_QTABLE = [8] + [16] * 62 + [0]


@pytest.mark.parametrize(
    "encode",
    [
        lambda px: mm.jpeg_encode_gray(px[..., 0], _BAD_QTABLE),
        lambda px: mm.jpeg_encode_color(px, "420", _BAD_QTABLE),
        lambda px: mm.jpeg_encode_progressive(px[..., 0], _BAD_QTABLE),
        lambda px: mm.jpeg_encode_progressive_color(px, "420", _BAD_QTABLE),
        lambda px: mm.jpeg_encode_arith(px, "420", _BAD_QTABLE),
    ],
    ids=["gray", "color", "progressive", "progressive_color", "arith"],
)
def test_dct_encoders_refuse_a_zero_quantizer(encode):
    px = np.full((16, 16, 3), 90, np.uint8)
    with pytest.raises(ValueError, match="must be 1..255"):
        encode(px)


@pytest.mark.parametrize(
    "encode",
    [
        lambda px: mm.jpeg_encode_gray(px[..., 0]),
        lambda px: mm.jpeg_encode_color(px),
        lambda px: mm.jpeg_encode_progressive(px[..., 0]),
        lambda px: mm.jpeg_encode_progressive_color(px),
        lambda px: mm.jpeg_encode_arith(px),
        lambda px: mm.jpeg_encode_lossless(px[..., 0]),
        lambda px: mm.jpeg_encode_hierarchical(px[..., 0]),
    ],
    ids=[
        "gray", "color", "progressive", "progressive_color", "arith",
        "lossless", "hierarchical",
    ],
)
@pytest.mark.parametrize("shape", [(0, 5, 3), (5, 0, 3)])
def test_jpeg_encoders_refuse_a_zero_dimension(encode, shape):
    """A frame header's dimensions are 16-bit and nonzero: every encoder
    refuses an empty image the same way instead of writing a stream."""
    with pytest.raises(ValueError, match="image dimensions out of JPEG range"):
        encode(np.zeros(shape, np.uint8))


def test_exif_extract_labels_every_single_byte_corruption():
    """Flipping bits of any one byte of an EXIF JPEG either still parses
    or raises the extractor's labelled ValueError — never a bare
    struct.error from reading past the payload."""
    asset = mm._exif_jpeg_asset(5)
    for i in range(len(asset)):
        for mask in (0x01, 0x80, 0xFF):
            bad = bytearray(asset)
            bad[i] ^= mask
            try:
                mm.exif_extract(bytes(bad), label="asset 5")
            except ValueError as err:
                assert str(err).startswith("asset 5: "), (i, mask, err)


def test_exif_extract_skips_fill_bytes_before_app1():
    """T.81 lets any marker be preceded by extra 0xFF fill bytes."""
    plain = mm._exif_jpeg_asset(3)
    filled = plain[:2] + b"\xff" + plain[2:]
    assert mm.exif_extract(filled) == mm.exif_extract(plain)
    assert (mm.jpeg_decode(filled) == mm.jpeg_decode(plain)).all()
    assert mm.sniff_image_header(filled) == mm.sniff_image_header(plain)


def _two_color_gif(indices, w=2, h=2):
    """A one-frame GIF89a with a 2-entry global palette whose LZW data
    codes ``indices``."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80, 0, 0)  # GCT of 2 entries
    out += bytes([10, 0, 0, 200, 0, 0])
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(2)  # LZW minimum code size
    out += mm._gif_sub_blocks(mm._gif_lzw_encode(bytes(indices), 2))
    return bytes(out + b"\x3b")


def test_gif_frames_share_the_first_image_checks():
    good = _two_color_gif([0, 1, 1, 0])
    (frame,) = mm.gif_decode_frames(good)
    assert (frame == mm.gif_decode_gray(good)).all()
    assert frame.tolist() == [[10, 200], [200, 10]]

    beyond = _two_color_gif([0, 1, 3, 0])
    for decode in (mm.gif_decode_gray, mm.gif_decode_frames):
        with pytest.raises(ValueError, match="index beyond palette"):
            decode(beyond)

    short = _two_color_gif([0, 1, 1])
    for decode in (mm.gif_decode_gray, mm.gif_decode_frames):
        with pytest.raises(ValueError, match="decoded 3 pixels, expected 4"):
            decode(short)
