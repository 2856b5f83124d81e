"""Text analysis + multimodal plumbing semantics."""

from __future__ import annotations

import pytest

from retailfeaturestore_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_payload,
    extract_features,
    payload_meta,
)
from retailfeaturestore_spark.operators.textops import (
    chunk_documents,
    lang_id,
    text_quality,
    token_counts,
)


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lang_id_markers_and_tie_precedence(spark):
    d = docs(
        spark,
        [
            (1, "the cat and the dog of a house"),   # en
            (2, "der hund und die katze und das"),   # de
            (3, "xxxx yyyy zzzz"),                   # no markers -> und
            (4, "la la"),                            # es/fr tie -> es (precedence)
        ],
    )
    out = {r.doc_id: r.lang_pred for r in lang_id(d).collect()}
    assert out == {1: "en", 2: "de", 3: "und", 4: "es"}


def test_quality_score_bounds_and_empty_doc(spark):
    d = docs(spark, [(1, "the " * 30 + "end"), (2, "")])
    out = {r.doc_id: r for r in text_quality(d).collect()}
    assert 0.0 <= out[1].quality_score <= 1.0
    assert out[2].quality_score >= 0.0  # guarded denominator, no null/inf


def test_chunk_documents_overlap_and_tail(spark):
    """32/24-style overlap windowing at toy scale: every token covered,
    consecutive chunks share chunk-stride tokens, trailing partial chunks
    emitted, one-token docs yield one chunk."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x")], "doc_id long, text string"
    )
    out = chunk_documents(docs, chunk_tokens=4, stride=2)
    by = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens) for r in out.collect()}
    assert by[(1, 0)] == ("a b c d", 4)
    assert by[(1, 1)] == ("c d e f", 4)   # overlap: shares c,d with chunk 0
    assert by[(1, 2)] == ("e f g", 3)     # trailing partial
    assert by[(1, 3)] == ("g", 1)
    assert by[(2, 0)] == ("x", 1)
    assert len(by) == 5
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, stride=0)


def test_token_counts(spark):
    d = docs(spark, [(1, "abcd efgh12345")])
    r = token_counts(d).collect()[0]
    assert r.n_ws_tokens == 2
    assert r.n_subword_est == 1 + 3  # ceil(4/4) + ceil(9/4)


def test_multimodal_payload_roundtrip_and_fake_features(spark):
    d = attach_payload(docs(spark, [(1, "hello world"), (2, "spark")]))
    meta = {r.doc_id: r for r in payload_meta(d).collect()}
    assert meta[1].n_bytes == 11 and meta[1].mime == "text/plain"
    feats = {r.doc_id: r for r in extract_features(d, decode_stub="fake").collect()}
    assert len(feats[1].features) == FEATURE_DIM
    assert feats[1].n_bytes == 11
    # deterministic: same input -> same features
    feats2 = {r.doc_id: r.features for r in extract_features(d, decode_stub="fake").collect()}
    assert feats2[1] == feats[1].features


def test_multimodal_raise_stub_marks_real_decoder_seam(spark):
    d = attach_payload(docs(spark, [(1, "x")]))
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_features(d, decode_stub="raise").collect()


def _ppm_frame(spark, images):
    """(doc_id, payload) frame of encoded PPM bytes."""
    return spark.createDataFrame(images, "doc_id long, payload binary")


def test_ppm_codec_roundtrip_and_errors():
    from retailfeaturestore_spark.functions.ppm import decode_ppm, encode_ppm

    rgb = bytes(range(2 * 2 * 3))
    data = encode_ppm(2, 2, rgb)
    assert decode_ppm(data) == (2, 2, rgb)
    # comment lines in the header parse; wrong magic / truncation raise
    commented = b"P6\n# a comment\n2 2\n255\n" + rgb
    assert decode_ppm(commented) == (2, 2, rgb)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P3\n1 1\n255\n\x00\x00\x00")
    with _pytest.raises(ValueError, match="truncated"):
        decode_ppm(data[:-1])


def test_extract_features_decodes_real_ppm_distributed(spark):
    """The multimodal decode seam on REAL image bytes (VERDICT r3 item 7):
    fixture PPMs decode through the Arrow mapInPandas path across multiple
    partitions, and the features are exact image statistics."""
    from retailfeaturestore_spark.functions.ppm import encode_ppm
    from retailfeaturestore_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        extract_features,
    )

    # 2x1 image: red + green pixels; 1x1 all-gray
    img1 = encode_ppm(2, 1, bytes([255, 0, 0, 0, 255, 0]))
    img2 = encode_ppm(1, 1, bytes([100, 100, 100]))
    d = _ppm_frame(spark, [(1, img1), (2, img2)]).repartition(3)
    out = extract_features(d, decode_stub="ppm")
    assert out.schema == FEATURE_SCHEMA
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_bytes == len(img1)
    # [w, h, n_pixels, meanR, meanG, meanB, min_luma, max_luma]
    assert rows[1].features == [2.0, 1.0, 2.0, 127.5, 127.5, 0.0, 85.0, 85.0]
    assert rows[2].features == [1.0, 1.0, 1.0, 100.0, 100.0, 100.0, 100.0, 100.0]


def test_pii_scrub_kinds_order_and_counts(spark):
    """Emails, spaced/dashed phones, and IPv4 literals scrub to typed
    placeholders with audit counts; the phone separators exclude '.' so
    dotted quads (incl. 3-digit middle octets) always classify as <IP>;
    clean text stays untouched."""
    from retailfeaturestore_spark.operators.textops import pii_scrub

    rows = [
        (1, "ask jo.doe+x@corp.io or b@x.org today"),
        (2, "call +1 555 123 4567 or 44-555-321-99 now"),
        (3, "host 192.168.0.1 and 10.0.255.254 up"),
        (4, "clean text with no identifiers at all"),
        (5, "gateway 192.168.100.12 pinged"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_scrub(d).collect()}
    assert out[1].clean_text == "ask <EMAIL> or <EMAIL> today"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 0, 0)
    assert out[2].clean_text == "call <PHONE> or <PHONE> now"
    assert out[2].n_phone == 2
    assert out[3].clean_text == "host <IP> and <IP> up"
    assert out[3].n_ipv4 == 2
    assert out[4].clean_text == rows[3][1]
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (0, 0, 0)
    # 3-digit middle octets must NOT be eaten by the phone rule
    assert out[5].clean_text == "gateway <IP> pinged"
    assert (out[5].n_phone, out[5].n_ipv4) == (0, 1)


def test_ppm_zero_dims_rejected_and_row_local(spark):
    """A zero-pixel P6 payload must fail decode cleanly and surface as a
    null-features ROW, never a task-killing ZeroDivisionError."""
    import pytest as _pytest

    from retailfeaturestore_spark.functions.ppm import decode_ppm

    with _pytest.raises(ValueError, match="non-positive"):
        decode_ppm(b"P6\n0 0\n255\n")

    good = b"P6\n1 1\n255\n\xff\x00\x00"
    d = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"P6\n0 5\n255\n"))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in extract_features(d, decode_stub="ppm").collect()}
    assert out[1].features is not None and out[1].features[0] == 1.0
    assert out[2].features is None


def test_png_codec_roundtrip_filters_and_errors():
    """Pure-stdlib PNG codec (VERDICT r5 #6): encoder round-trip, every
    scanline filter type unfiltered correctly, subset violations raise."""
    import struct
    import zlib

    import pytest as _pytest

    from retailfeaturestore_spark.functions.png import (
        decode_png,
        encode_png,
        png_to_rgb,
    )

    rgb = bytes(range(4 * 3 * 3))  # 4x3 with distinct byte values
    data = encode_png(4, 3, rgb)
    assert decode_png(data) == (4, 3, 3, rgb)
    assert png_to_rgb(data) == (4, 3, rgb)

    # hand-build an image exercising filters 1-4 (one per scanline) and
    # assert the unfiltered result matches the reference pixels
    w, h, bpp = 3, 4, 3
    ref = bytes((y * 40 + x * 7 + c) % 256 for y in range(h) for x in range(w) for c in range(bpp))
    stride = w * bpp

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    for y, ftype in enumerate((1, 2, 3, 4)):
        row = ref[y * stride : (y + 1) * stride]
        prev = ref[(y - 1) * stride : y * stride] if y else bytes(stride)
        raw.append(ftype)
        for x in range(stride):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            pred = {1: left, 2: up, 3: (left + up) >> 1, 4: paeth(left, up, ul)}[ftype]
            raw.append((row[x] - pred) & 0xFF)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    filtered = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(filtered) == (w, h, 3, ref)

    # greyscale (type 0) and RGBA (type 6) normalize to RGB
    grey = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x10\xf0"))
        + chunk(b"IEND", b"")
    )
    assert png_to_rgb(grey) == (2, 1, bytes([16, 16, 16, 240, 240, 240]))
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03\xff"))
        + chunk(b"IEND", b"")
    )
    assert png_to_rgb(rgba) == (1, 1, bytes([1, 2, 3]))
    # palette (type 3) expands through PLTE
    pal = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes([10, 20, 30, 40, 50, 60]))
        + chunk(b"IDAT", zlib.compress(b"\x00\x01\x00"))
        + chunk(b"IEND", b"")
    )
    assert png_to_rgb(pal) == (2, 1, bytes([40, 50, 60, 10, 20, 30]))

    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF....")
    with _pytest.raises(ValueError, match="CRC"):
        bad = bytearray(data)
        bad[-5] ^= 0xFF  # flip a byte inside IEND's CRC
        decode_png(bytes(bad))
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="interlaced"):
        decode_png(interlaced)
    with _pytest.raises(ValueError, match="bit depth"):
        decode_png(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0))
        )


def test_extract_features_decodes_real_png_distributed(spark):
    """VERDICT r5 #6 done-criterion: real zlib-compressed PNG bytes decode
    through the same Arrow mapInPandas seam as PPM, across partitions,
    with exact image statistics; a malformed payload nulls only its row;
    the 'image' dispatch handles a mixed PPM+PNG column."""
    from retailfeaturestore_spark.functions.png import encode_png
    from retailfeaturestore_spark.functions.ppm import encode_ppm
    from retailfeaturestore_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        extract_features,
    )

    img1 = encode_png(2, 1, bytes([255, 0, 0, 0, 255, 0]))  # red + green
    img2 = encode_png(1, 1, bytes([100, 100, 100]))
    bad = b"\x89PNG\r\n\x1a\n" + b"garbage"
    d = _ppm_frame(spark, [(1, img1), (2, img2), (3, bad)]).repartition(3)
    out = extract_features(d, decode_stub="png")
    assert out.schema == FEATURE_SCHEMA
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_bytes == len(img1)
    assert rows[1].features == [2.0, 1.0, 2.0, 127.5, 127.5, 0.0, 85.0, 85.0]
    assert rows[2].features == [1.0, 1.0, 1.0, 100.0, 100.0, 100.0, 100.0, 100.0]
    assert rows[3].features is None  # row-local failure, batch survives

    mixed = _ppm_frame(
        spark,
        [(10, encode_ppm(1, 1, bytes([9, 9, 9]))), (11, img2)],
    ).repartition(2)
    got = {r.doc_id: r.features for r in extract_features(mixed, decode_stub="image").collect()}
    assert got[10] == [1.0, 1.0, 1.0, 9.0, 9.0, 9.0, 9.0, 9.0]
    assert got[11] == [1.0, 1.0, 1.0, 100.0, 100.0, 100.0, 100.0, 100.0]


def test_bpe_learn_and_encode_classic_fixture():
    """Hand-verifiable BPE on the canonical low/lower/newest/widest corpus
    (Sennrich et al. ACL 2016, fig. 1 shape): merge order and encodings
    are deterministic and exactly the classic result."""
    from retailfeaturestore_spark.functions.bpe import (
        END_OF_WORD,
        encode_word,
        learn_bpe,
    )

    wc = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = learn_bpe(wc, 4)
    # counts: ('e','s')=9, ('s','t')=9, ('t','</w>')=9, ... tie broken
    # lexicographically -> ('e','s') first, then ('es','t'), ('est','</w>'),
    # then ('l','o')=7
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", END_OF_WORD),
        ("l", "o"),
    ]
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("newest", ranks) == ["n", "e", "w", "est</w>"]
    assert encode_word("lowest", ranks) == ["lo", "w", "est</w>"]
    assert encode_word("low", ranks) == ["lo", "w", END_OF_WORD]
    # unseen symbols pass through untouched
    assert encode_word("xyz", ranks) == ["x", "y", "z", END_OF_WORD]


def test_bpe_token_count_distributed_equals_python_replay(spark):
    """The registry query's distributed path (frozen-merge-table
    broadcast-ranks pandas UDF, r13) must equal a pure-Python replay of
    merge LEARNING + encoding over the same corpus — this both verifies
    the distributed encode and pins the provenance of the frozen table:
    training on this corpus with the documented parameters produces
    exactly queries._BPE_FROZEN_MERGES."""
    from retailfeaturestore_spark.functions.bpe import encode_word, learn_bpe
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.queries import _BPE_FROZEN_MERGES, REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in REGISTRY["bpe_token_count"].fn(spark, sf).collect()
    }

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf, "documents").select("doc_id", "text").collect()
    }
    from collections import Counter

    wc = Counter()
    for t in docs.values():
        for w in (t or "").split(" "):
            if w:
                wc[w] += 1
    vocab = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:4000]
    learned = learn_bpe(vocab, 40)
    # provenance pin: the frozen table the query (and its SQL oracle)
    # ship IS what training on this corpus produces
    assert tuple(learned) == _BPE_FROZEN_MERGES
    ranks = {p: i for i, p in enumerate(learned)}
    assert len(got) == len(docs)
    nontrivial = 0
    for doc_id, text in docs.items():
        words = [w for w in (text or "").split(" ") if w]
        want = sum(len(encode_word(w, ranks)) for w in words)
        assert got[doc_id] == (len(words), want), doc_id
        if want > len(words):
            nontrivial += 1
    # the statistic must be non-degenerate: BPE tokens != word count
    assert nontrivial > len(docs) // 2


def test_wav_codec_roundtrip_and_errors():
    """Pure-stdlib PCM16 WAV codec: round-trip, subset rejections."""
    import struct

    import pytest as _pytest

    from retailfeaturestore_spark.functions.wav import decode_wav, encode_wav

    samples = [0, 100, -100, 32767, -32768, 5, -5, 9]
    data = encode_wav(8000, 2, samples)
    assert decode_wav(data) == (8000, 2, samples)

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS....")
    # format code 2 (ADPCM) = compressed -> the documented plug point
    fmt = struct.pack("<HHIIHH", 2, 1, 8000, 16000, 2, 16)
    adpcm = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with _pytest.raises(ValueError, match="compressed WAV"):
        decode_wav(adpcm)
    with _pytest.raises(ValueError, match="bit depth"):
        decode_wav(encode_wav(8000, 1, [1, 2]).replace(
            struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16),
            struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 8),
        ))


def test_extract_audio_features_real_wav_distributed(spark):
    """Real audio bytes through the Arrow mapInPandas seam: exact sample
    statistics across partitions, malformed rows null only themselves."""
    import math

    from retailfeaturestore_spark.functions.wav import encode_wav
    from retailfeaturestore_spark.operators.multimodal import (
        AUDIO_SCHEMA,
        extract_audio_features,
    )

    # 1 second of a loud square-ish mono signal at 8 Hz "rate" (8 frames)
    s1 = [16384, -16384] * 4
    wav1 = encode_wav(8, 1, s1)
    # stereo, quiet
    s2 = [100, -100, 50, -50]
    wav2 = encode_wav(4, 2, s2)
    d = _ppm_frame(
        spark, [(1, wav1), (2, wav2), (3, b"not audio at all")]
    ).repartition(3)
    out = extract_audio_features(d)
    assert out.schema == AUDIO_SCHEMA
    rows = {r.doc_id: r for r in out.collect()}

    r1 = rows[1]
    assert (r1.sample_rate, r1.n_channels, r1.n_samples) == (8, 1, 8)
    assert r1.duration_ms == 1000
    assert r1.peak == 16384
    assert r1.rms_milli == math.floor(1000.0 * 16384.0 / 32768.0)  # 500

    r2 = rows[2]
    assert (r2.sample_rate, r2.n_channels, r2.n_samples) == (4, 2, 4)
    assert r2.duration_ms == 500  # 2 frames at 4 Hz
    assert r2.peak == 100

    assert rows[3].sample_rate is None and rows[3].n_bytes == 16


def test_bmp_codec_roundtrip_and_rejections():
    """24-bit BI_RGB round-trip (bottom-up AND top-down, padded odd widths);
    unsupported variants reject with reasons, never garbage pixels."""
    import pytest as _pytest

    from retailfeaturestore_spark.functions.bmp import decode_bmp, encode_bmp

    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9, 1, 2, 3, 250, 251, 252])
    for td in (False, True):
        data = encode_bmp(3, 2, rgb, top_down=td)
        assert decode_bmp(data) == (3, 2, rgb)
    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + b"\x00" * 60)
    with _pytest.raises(ValueError, match="bits-per-pixel"):
        bad = bytearray(encode_bmp(1, 1, bytes(3)))
        bad[28] = 8  # bpp field
        decode_bmp(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(encode_bmp(3, 2, rgb)[:-4])


def test_extract_features_decodes_real_bmp_distributed(spark):
    """BMP through the same Arrow seam: exact statistics, row-local failure,
    and three-way mixed-column dispatch (PNG + BMP + PPM)."""
    from retailfeaturestore_spark.functions.bmp import encode_bmp
    from retailfeaturestore_spark.functions.png import encode_png
    from retailfeaturestore_spark.functions.ppm import encode_ppm
    from retailfeaturestore_spark.operators.multimodal import extract_features

    img = encode_bmp(2, 1, bytes([255, 0, 0, 0, 255, 0]))
    bad = b"BM" + b"\x00" * 60
    d = _ppm_frame(spark, [(1, img), (2, bad)]).repartition(2)
    rows = {r.doc_id: r for r in extract_features(d, decode_stub="bmp").collect()}
    assert rows[1].features == [2.0, 1.0, 2.0, 127.5, 127.5, 0.0, 85.0, 85.0]
    assert rows[2].features is None

    mixed = _ppm_frame(
        spark,
        [
            (10, encode_ppm(1, 1, bytes([9, 9, 9]))),
            (11, encode_png(1, 1, bytes([100, 100, 100]))),
            (12, encode_bmp(1, 1, bytes([7, 8, 9]))),
        ],
    ).repartition(3)
    got = {
        r.doc_id: r.features
        for r in extract_features(mixed, decode_stub="image").collect()
    }
    assert got[10] == [1.0, 1.0, 1.0, 9.0, 9.0, 9.0, 9.0, 9.0]
    assert got[11] == [1.0, 1.0, 1.0, 100.0, 100.0, 100.0, 100.0, 100.0]
    assert got[12] == [1.0, 1.0, 1.0, 7.0, 8.0, 9.0, 8.0, 8.0]
