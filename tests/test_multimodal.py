"""Image-header parser units (pure Python, no Spark): real container
headers for PNG/GIF/BMP/JPEG built with struct, plus fallback behavior."""

import struct
import zlib

import pytest

from ethos_spark.ops.multimodal import parse_image_meta, synth_png


def test_png_header():
    p = synth_png(1234, 987)
    assert len(p) == 33
    m = parse_image_meta(p)
    assert (m["width"], m["height"], m["codec"]) == (1234, 987, "png")
    assert m["n_bytes"] == 33 and m["header_byte"] == 0x89
    # CRC is actually valid
    assert struct.unpack(">I", p[-4:])[0] == zlib.crc32(p[12:-4]) & 0xFFFFFFFF


def test_gif_header():
    p = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    m = parse_image_meta(p)
    assert (m["width"], m["height"], m["codec"]) == (320, 200, "gif")


def test_bmp_header():
    hdr = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 10
    m = parse_image_meta(hdr)
    # negative height = top-down DIB; reported as magnitude
    assert (m["width"], m["height"], m["codec"]) == (640, 480, "bmp")


def test_jpeg_sof_walk():
    # SOI, APP0 (16-byte payload), DQT (4-byte), SOF0 with h=480 w=640
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(
        ">HH", 480, 640
    ) + b"\x03" + b"\x00" * 9
    p = b"\xff\xd8" + app0 + dqt + sof0
    m = parse_image_meta(p)
    assert (m["width"], m["height"], m["codec"]) == (640, 480, "jpeg")
    # DHT (C4) must NOT be mistaken for a frame header
    dht = b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
    p2 = b"\xff\xd8" + dht + sof0
    m2 = parse_image_meta(p2)
    assert (m2["width"], m2["height"], m2["codec"]) == (640, 480, "jpeg")


def test_jpeg_fill_bytes_before_marker():
    # ITU T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker;
    # the walk must skip them, not read a bogus segment length
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(
        ">HH", 480, 640
    ) + b"\x03" + b"\x00" * 9
    p = b"\xff\xd8" + b"\xff\xff\xff" + sof0[1:]  # padded SOF marker
    m = parse_image_meta(p)
    assert (m["width"], m["height"], m["codec"]) == (640, 480, "jpeg")
    # padding before an intermediate segment too
    dqt = b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
    p2 = b"\xff\xd8" + b"\xff" + dqt[1:] + b"\xff\xff" + sof0[1:]
    m2 = parse_image_meta(p2)
    assert (m2["width"], m2["height"], m2["codec"]) == (640, 480, "jpeg")


def test_raw_fallback_and_truncation():
    payload = b"not an image at all"
    n = len(payload)
    m = parse_image_meta(payload)
    assert m["codec"] == "raw"
    assert (m["width"], m["height"]) == (n % 640, (n * 7) % 480)
    # truncated PNG signature → raw, no crash
    assert parse_image_meta(b"\x89PNG")["codec"] == "raw"
    assert parse_image_meta(b"")["codec"] == "raw"
    assert parse_image_meta(b"\xff\xd8\xff")["codec"] == "raw"


def test_wav_header():
    # minimal RIFF/WAVE: fmt (PCM stereo 44100, 16-bit) + 8 bytes of data
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    data = b"\x00" * 8
    riff = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    m = parse_image_meta(riff)
    assert m["codec"] == "wav"
    assert (m["sample_rate"], m["n_channels"], m["n_frames"]) == (44100, 2, 2)
    # images report NULL audio fields
    assert parse_image_meta(synth_png(4, 4))["sample_rate"] is None


def test_gif_lzw_roundtrip_and_width_growth():
    """GIF encoder/decoder pixel round-trip (VERDICT r4 item 6): small
    palette, large repeated-pattern image forcing LZW code-width growth
    past 9 bits, and the 4096-entry table freeze path."""
    import numpy as np

    from ethos_spark.ops.multimodal import (
        _lzw_compress,
        _lzw_decompress,
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )

    # raw LZW: deterministic pseudo-random indices, enough to grow the
    # table well past 512 entries (width 9->10+) and exercise freeze
    rng = np.random.default_rng(7)
    idx = rng.integers(0, 16, size=20000).tolist()
    assert _lzw_decompress(_lzw_compress(idx, 4), 4) == idx

    # full-container round trip: 40x40, 13 colors
    img = np.zeros((40, 40, 3), dtype=np.uint8)
    for y in range(40):
        for x in range(40):
            c = (y * 40 + x) % 13
            img[y, x] = (c * 19, 255 - c * 7, c)
    back = decode_gif(encode_gif(img))
    assert back.shape == (40, 40, 3)
    assert np.array_equal(back, img)

    # animation: 3 full frames round-trip in order
    frames = [np.full((6, 5, 3), v, dtype=np.uint8) for v in (10, 120, 250)]
    got = decode_gif_frames(encode_gif(frames))
    assert len(got) == 3
    for a, b in zip(got, frames):
        assert np.array_equal(a, b)


def test_gif_interlace_transparency_and_offset_frames():
    """Hand-built container features the encoder doesn't emit: interlaced
    row order, a transparent index, and a sub-rectangle second frame
    composited at an offset."""
    import struct as st

    import numpy as np

    from ethos_spark.ops.multimodal import (
        _lzw_compress,
        decode_gif_frames,
    )

    # palette: 0=black 1=red 2=green 3=blue
    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    w = h = 8
    base = np.arange(w * h) % 4  # row-major indices

    def img_block(indices, left, top, fw, fh, interlace=False):
        flags = 0x40 if interlace else 0x00
        comp = _lzw_compress([int(i) for i in indices], 2)
        sub = b"".join(
            bytes([len(comp[i : i + 255])]) + comp[i : i + 255]
            for i in range(0, len(comp), 255)
        )
        return (
            b"\x2c" + st.pack("<HHHH", left, top, fw, fh)
            + bytes([flags, 2]) + sub + b"\x00"
        )

    head = b"GIF89a" + st.pack("<HH", w, h) + bytes([0x81, 0, 0]) + pal

    # interlaced: serialize rows in 4-pass order; decoder must restore
    order = [0], [4], [2, 6], [1, 3, 5, 7]
    rows = base.reshape(h, w)
    inter = np.concatenate([rows[r] for grp in order for r in grp])
    gif = head + img_block(inter, 0, 0, w, h, interlace=True) + b"\x3b"
    f = decode_gif_frames(gif)[0]
    pal_np = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]])
    assert np.array_equal(f, pal_np[rows])

    # frame 2 at offset (2,3), 3x2, index 1 transparent (shows frame 1)
    gce = bytes([0x21, 0xF9, 4, 0x01, 0, 0, 1, 0])  # transparent idx 1
    patch = np.array([[3, 1], [1, 3], [3, 3]])  # 3 rows x 2 cols
    gif2 = (
        head
        + img_block(rows.ravel(), 0, 0, w, h)
        + gce
        + img_block(patch.ravel(), 3, 2, 2, 3)
        + b"\x3b"
    )
    fs = decode_gif_frames(gif2)
    assert len(fs) == 2
    expect = pal_np[rows].copy()
    for dy in range(3):
        for dx in range(2):
            if patch[dy, dx] != 1:  # transparent keeps underlying pixel
                expect[2 + dy, 3 + dx] = pal_np[patch[dy, dx]]
    assert np.array_equal(fs[1], expect)


def test_jpeg_roundtrip_and_independent_idct():
    """Baseline JPEG codec: constant blocks decode EXACTLY, smooth
    content at q=1 is within rounding, the decoder's matrix IDCT matches
    a textbook double-loop IDCT written independently here, and restart
    markers + grayscale both round-trip."""
    import numpy as np

    from ethos_spark.ops.multimodal import (
        _ZIGZAG,
        _dct_matrix,
        decode_jpeg,
        encode_jpeg,
        parse_image_meta,
    )

    # constant gray, even value → DC-only, exact reconstruction
    img = np.full((16, 24), 100, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality_q=16))
    assert out.shape == (16, 24, 3)
    assert np.abs(out.astype(int) - 100).max() == 0

    # color gradient at q=1: every pixel within rounding error
    h, w = 24, 17  # non-multiple-of-8 → exercises edge padding
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            rgb[y, x] = (min(255, 10 * y), min(255, 15 * x), 128)
    back = decode_jpeg(encode_jpeg(rgb, quality_q=1))
    assert back.shape == rgb.shape
    assert np.abs(back.astype(int) - rgb.astype(int)).max() <= 2

    # noise at q=8: quantization-bounded error
    rng = np.random.default_rng(0)
    noise = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    nb = decode_jpeg(encode_jpeg(noise, quality_q=8))
    err = np.abs(nb.astype(int) - noise.astype(int))
    assert err.mean() < 6 and err.max() < 40

    # restart markers: identical output to the unrestarted stream
    a = decode_jpeg(encode_jpeg(rgb, quality_q=4))
    b = decode_jpeg(encode_jpeg(rgb, quality_q=4, restart_interval=2))
    assert np.array_equal(a, b)

    # the decoder's M.T @ F @ M IDCT == the textbook loop formula
    # (independent implementation: different structure, same spec math)
    M = _dct_matrix()
    rngc = np.random.default_rng(7)
    F_ = rngc.integers(-200, 200, size=(8, 8)).astype(float)
    fast = M.T @ F_ @ M

    def C(u):
        return 1 / np.sqrt(2) if u == 0 else 1.0

    slow = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    s += (
                        C(u) * C(v) * F_[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            slow[x, y] = s / 4.0
    assert np.allclose(fast, slow, atol=1e-9)
    assert len(set(_ZIGZAG)) == 64  # zigzag is a permutation

    # header meta agrees with the decoder
    meta = parse_image_meta(encode_jpeg(rgb))
    assert (meta["codec"], meta["width"], meta["height"]) == ("jpeg", w, h)


def test_resize_media_decodes_real_jpeg_and_fences_nonbaseline():
    """The decode path on real JPEG payloads: the Spark decode stage reads
    the frame header of a baseline and a progressive (SOF2) file alike,
    the pixel decoder reconstructs the baseline file within codec loss,
    and the progressive file raises ValueError instead of decoding."""
    import numpy as np

    from ethos_spark.ops.multimodal import decode_jpeg, decode_media, encode_jpeg
    from ethos_spark.session import get_spark

    spark = get_spark("test-mm", master="local[2]", shuffle_partitions=2)
    h, w = 16, 16
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            rgb[y, x] = (y * 12, x * 12, (x + y) * 6)
    payload = encode_jpeg(rgb, quality_q=2)
    # progressive: same container, SOF2 marker instead of SOF0
    prog = bytearray(payload)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(bytes(prog)))],
        "doc_id long, media binary",
    )
    meta = {r.doc_id: r for r in decode_media(df).collect()}
    for doc_id in (1, 2):
        assert (meta[doc_id].codec, meta[doc_id].width, meta[doc_id].height) == (
            "jpeg", w, h
        )

    got = decode_jpeg(payload)
    assert got.shape == (h, w, 3)
    assert np.abs(got.astype(int) - rgb.astype(int)).max() <= 4
    with pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(bytes(prog))


def test_jpeg_420_subsampling():
    """4:2:0 chroma-subsampled JPEG (the dominant web configuration):
    constant colors round-trip near-exactly, luma stays within rounding
    on gradients (chroma is legitimately box-filtered), restart markers
    compose, and the resize pipeline decodes it."""
    import numpy as np

    from ethos_spark.ops.multimodal import decode_jpeg, encode_jpeg

    const = np.full((16, 16, 3), 120, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(const, quality_q=16, subsample=True))
    assert np.abs(out.astype(int) - 120).max() == 0

    h, w = 24, 17
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            rgb[y, x] = (min(255, 10 * y), min(255, 15 * x), 128)
    b420 = decode_jpeg(encode_jpeg(rgb, quality_q=1, subsample=True))
    assert b420.shape == (h, w, 3)
    # luma is full-resolution: reconstruct Y from both and compare
    ylum = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    ylum2 = (
        0.299 * b420[..., 0] + 0.587 * b420[..., 1] + 0.114 * b420[..., 2]
    )
    assert np.abs(ylum2 - ylum).max() <= 2.0
    # chroma bounded by the 2x2 box filter + quantization
    assert np.abs(b420.astype(int) - rgb.astype(int)).max() <= 16

    b420r = decode_jpeg(
        encode_jpeg(rgb, quality_q=1, subsample=True, restart_interval=1)
    )
    assert np.array_equal(b420, b420r)
