"""Byte pins for the seven JPEG encoders and the JPEG readers.

Each case encodes a small grid of images (sizes 1x1 to 33x40, block
lattice and seeded random content) with one option set and hashes the
streams, the :func:`jpeg_decode` pixels and the :func:`exif_extract`
rows of the stream with an APP1 segment spliced in before its first
SOS. A refactor of the codec must leave every digest unchanged. No
Spark session is started.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pipes_spark.operators import multimodal as mm

SIZES = ((1, 1), (7, 9), (8, 8), (17, 23), (33, 40))  # (h, w)


def _lattice(h, w, salt):
    return mm.block_gray_lattice(salt, w, h, seed_mul=3, cell_mul=37)


def _gray_images():
    for h, w in SIZES:
        yield _lattice(h, w, h + w)
        yield np.random.default_rng(h * 100 + w).integers(
            0, 256, (h, w), dtype=np.uint8
        )


def _rgb_images():
    for h, w in SIZES:
        yield np.stack([_lattice(h, w, h + w + 11 * c) for c in range(3)], 2)
        yield np.random.default_rng(h * 100 + w + 7).integers(
            0, 256, (h, w, 3), dtype=np.uint8
        )


def _cases():
    gray = mm.jpeg_encode_gray
    color = mm.jpeg_encode_color
    cases = {}
    for rst in (0, 3):
        for opt in (False, True):
            cases[f"gray-r{rst}-o{int(opt)}"] = (
                _gray_images,
                lambda px, rst=rst, opt=opt: gray(
                    px, restart_interval=rst, optimize_huffman=opt
                ),
            )
    for sub in ("444", "422", "420"):
        for rst in (0, 3):
            cases[f"color-{sub}-r{rst}"] = (
                _rgb_images,
                lambda px, sub=sub, rst=rst: color(px, sub, restart_interval=rst),
            )
        for deep in (False, True):
            scans = mm._JPEG_PROG_COLOR_DEEP_SCANS if deep else None
            cases[f"progcolor-{sub}-d{int(deep)}"] = (
                _rgb_images,
                lambda px, sub=sub, scans=scans: mm.jpeg_encode_progressive_color(
                    px, sub, scans=scans
                ),
            )
    cases["prog-default"] = (_gray_images, mm.jpeg_encode_progressive)
    cases["prog-deep"] = (
        _gray_images,
        lambda px: mm.jpeg_encode_progressive(px, scans=mm._JPEG_PROG_DEEP_SCANS),
    )
    arith_opts = (
        {},
        {"restart_interval": 3, "dc_conditioning": (1, 4), "ac_kx": 2},
        {"dc_conditioning": (0, 0), "ac_kx": 63},
    )
    for k, kw in enumerate(arith_opts):
        cases[f"arith-gray-{k}"] = (
            _gray_images,
            lambda px, kw=kw: mm.jpeg_encode_arith(px, **kw),
        )
        for sub in ("444", "420"):
            cases[f"arith-{sub}-{k}"] = (
                _rgb_images,
                lambda px, sub=sub, kw=kw: mm.jpeg_encode_arith(px, sub, **kw),
            )
    for pred in range(1, 8):
        for pt in (0, 2):
            cases[f"lossless-p{pred}-t{pt}"] = (
                _gray_images,
                lambda px, pred=pred, pt=pt: mm.jpeg_encode_lossless(px, pred, pt),
            )
    cases["hierarchical"] = (_gray_images, mm.jpeg_encode_hierarchical)
    return cases


CASES = _cases()

#: sha256 prefixes captured from the codec before the encoders and
#: readers were folded onto shared helpers: (streams, decoded pixels,
#: exif rows of the streams with an APP1 spliced before the first SOS)
PINNED = {
    "arith-420-0": (
        "ff5949a6dc77f579", "f35a1046c386bd48", "3f2c7790b76e51d3"
    ),
    "arith-420-1": (
        "7709b5403a21735a", "f35a1046c386bd48", "3f2c7790b76e51d3"
    ),
    "arith-420-2": (
        "d80be7c647843330", "f35a1046c386bd48", "3f2c7790b76e51d3"
    ),
    "arith-444-0": (
        "902fc27b25101564", "c8c77269e0a4be0e", "3f2c7790b76e51d3"
    ),
    "arith-444-1": (
        "1d8bad8dc8cd634f", "c8c77269e0a4be0e", "3f2c7790b76e51d3"
    ),
    "arith-444-2": (
        "ef68dc6bf616feff", "c8c77269e0a4be0e", "3f2c7790b76e51d3"
    ),
    "arith-gray-0": (
        "735fdb2a7cdda494", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "arith-gray-1": (
        "3e94ac33f142a4f1", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "arith-gray-2": (
        "cbfed5c842e17ddc", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "color-420-r0": (
        "5da7646b26e35bf8", "f35a1046c386bd48", "3f2c7790b76e51d3"
    ),
    "color-420-r3": (
        "018a52780df4a0b2", "f35a1046c386bd48", "3f2c7790b76e51d3"
    ),
    "color-422-r0": (
        "5216e793dc5243d6", "b7eabe58866b44e7", "3f2c7790b76e51d3"
    ),
    "color-422-r3": (
        "3a53c09bb635648a", "b7eabe58866b44e7", "3f2c7790b76e51d3"
    ),
    "color-444-r0": (
        "f7b6542ab52565c6", "c8c77269e0a4be0e", "3f2c7790b76e51d3"
    ),
    "color-444-r3": (
        "c262d13871916b4e", "c8c77269e0a4be0e", "3f2c7790b76e51d3"
    ),
    "gray-r0-o0": (
        "f5dea9c91e7a2d37", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "gray-r0-o1": (
        "16d542bcc9418ae6", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "gray-r3-o0": (
        "557820626e129599", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "gray-r3-o1": (
        "029a6401b8aecf53", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "hierarchical": (
        "5c28308210931d3b", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p1-t0": (
        "78bf47dabeb27afe", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p1-t2": (
        "995bd76d0ed7679c", "b62eb1d19e61ecd4", "3f2c7790b76e51d3"
    ),
    "lossless-p2-t0": (
        "3298d5bd8b0939c8", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p2-t2": (
        "9d2db3eccbea777b", "b62eb1d19e61ecd4", "3f2c7790b76e51d3"
    ),
    "lossless-p3-t0": (
        "389c6746a37a61b3", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p3-t2": (
        "532dfd3118770c6e", "b62eb1d19e61ecd4", "3f2c7790b76e51d3"
    ),
    "lossless-p4-t0": (
        "77bf6afb422ac715", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p4-t2": (
        "8e8ac9c034444a05", "b62eb1d19e61ecd4", "3f2c7790b76e51d3"
    ),
    "lossless-p5-t0": (
        "505521f3d3bc3b99", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p5-t2": (
        "db8831aaaee6f2d9", "b62eb1d19e61ecd4", "3f2c7790b76e51d3"
    ),
    "lossless-p6-t0": (
        "a9b3adb54a683aeb", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p6-t2": (
        "8aeaf6c4654f3fac", "b62eb1d19e61ecd4", "3f2c7790b76e51d3"
    ),
    "lossless-p7-t0": (
        "47292a490aadd6d0", "e069a99055a615c3", "3f2c7790b76e51d3"
    ),
    "lossless-p7-t2": (
        "aae335cf32f8dfac", "b62eb1d19e61ecd4", "3f2c7790b76e51d3"
    ),
    "prog-deep": (
        "0697f95f668d348d", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "prog-default": (
        "b788460cd5763f10", "2900d4ba2fcc789b", "3f2c7790b76e51d3"
    ),
    "progcolor-420-d0": (
        "3544766bce6f3b6a", "f35a1046c386bd48", "3f2c7790b76e51d3"
    ),
    "progcolor-420-d1": (
        "72714c7a510d945c", "f35a1046c386bd48", "3f2c7790b76e51d3"
    ),
    "progcolor-422-d0": (
        "3d42ce3a922957bb", "b7eabe58866b44e7", "3f2c7790b76e51d3"
    ),
    "progcolor-422-d1": (
        "7119d5094f8b21ca", "b7eabe58866b44e7", "3f2c7790b76e51d3"
    ),
    "progcolor-444-d0": (
        "64394d0786393d55", "c8c77269e0a4be0e", "3f2c7790b76e51d3"
    ),
    "progcolor-444-d1": (
        "765851f433ec1bb2", "c8c77269e0a4be0e", "3f2c7790b76e51d3"
    ),
}


def _digests(encode, images):
    app1 = mm.exif_app1_payload([(271, 2, "pin"), (274, 3, [3])], [(40962, 4, [9])])
    app1 = b"\xff\xe1" + (2 + len(app1)).to_bytes(2, "big") + app1
    enc, dec, exif = (hashlib.sha256() for _ in range(3))
    for k, px in enumerate(images()):
        stream = encode(px)
        enc.update(len(stream).to_bytes(4, "big") + stream)
        out = mm.jpeg_decode(stream)
        dec.update(repr(out.shape).encode() + out.tobytes())
        if k == 0:
            at = stream.index(b"\xff\xda")
            spliced = stream[:at] + app1 + stream[at:]
            exif.update(repr(mm.exif_extract(spliced)).encode())
            assert (mm.jpeg_decode(spliced) == out).all()
    return tuple(d.hexdigest()[:16] for d in (enc, dec, exif))


@pytest.mark.parametrize("case", sorted(CASES))
def test_jpeg_bytes_pinned(case):
    images, encode = CASES[case]
    assert _digests(encode, images) == PINNED[case]
