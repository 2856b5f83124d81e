"""Pure-stdlib PPM (P6) image codec — the real-bytes instance of the
multimodal decode seam.

The container images this engine ships in do not carry libjpeg/ffmpeg, so
the general media decode stays an explicit stub
(``operators.multimodal.extract_features(decode_stub='raise')``).  PPM P6
needs no codec library at all — header ``P6\\n<w> <h>\\n255\\n`` followed by
``w*h*3`` raw RGB bytes — which makes it the honest end-to-end proof that
the Arrow-batched ``mapInPandas`` plumbing decodes REAL image bytes with
correct schema, batching, and distribution (tests/test_text_multimodal.py).
Swapping these two functions for PIL/libjpeg calls is the only change a
JPEG pipeline needs.
"""

from __future__ import annotations

__all__ = ["encode_ppm", "decode_ppm"]


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """P6 header + raw RGB rows (no comments, maxval 255)."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} bytes, got {len(rgb)}")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(data: bytes) -> tuple[int, int, bytes]:
    """Parse a P6 image -> ``(width, height, rgb)``.

    Handles the standard header token stream (magic, width, height, maxval,
    single whitespace, pixel data) including ``#`` comment lines; rejects
    non-P6 magics and truncated pixel data with a clear error — the decode
    failure modes a real pipeline must surface per-row.
    """
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # tokenize the header: 3 integers after the magic, skipping comments
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    width, height, maxval = tokens
    if width <= 0 or height <= 0:
        # a zero/negative-pixel "image" must fail HERE like any other bad
        # payload — letting it through gives downstream feature math a
        # divide-by-zero that kills the whole mapInPandas task
        raise ValueError(f"non-positive PPM dimensions {width}x{height}")
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pos += 1  # exactly one whitespace byte separates header and pixels
    rgb = data[pos : pos + width * height * 3]
    if len(rgb) != width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return width, height, rgb
