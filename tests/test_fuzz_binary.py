"""Property tests for the stdlib binary kernels: GIF and JPEG encode/decode
round-trips on arbitrary images, decode totality on garbage (raises
ValueError, never crashes differently or hangs), and WARC record framing
round-trips on arbitrary payloads."""

import numpy as np
from hypothesis import given, settings, strategies as st

from ethos_spark.sources.warc import _encode_record, _parse_members


@settings(max_examples=60, deadline=None)
@given(
    blob=st.binary(max_size=1024),
    url=st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1,
        max_size=80,
    ),
)
def test_warc_record_framing_roundtrip(blob, url):
    rec = _encode_record("https://x/" + url, blob, "2025-07-01T00:00:00Z")
    out = _parse_members(rec)
    assert len(out) == 1
    got_url, _date, rid, payload = out[0]
    assert got_url == "https://x/" + url
    assert payload == blob
    assert rid.startswith("<urn:uuid:")


@settings(max_examples=30, deadline=None)
@given(
    payloads=st.lists(st.binary(max_size=256), min_size=1, max_size=8),
)
def test_warc_multi_member_split(payloads):
    blob = b"".join(
        _encode_record(f"https://x/p{i}", p, "2025-07-01T00:00:00Z")
        for i, p in enumerate(payloads)
    )
    out = _parse_members(blob)
    assert [p for _u, _d, _r, p in out] == payloads


@given(blob=st.binary(max_size=512))
@settings(max_examples=200, deadline=None)
def test_gif_decode_total_on_garbage(blob):
    """decode_gif_frames is TOTAL on arbitrary bytes: ValueError or a
    valid frame list, never a crash/hang (the executor-task contract)."""
    from ethos_spark.ops.multimodal import decode_gif_frames

    for payload in (blob, b"GIF89a" + blob, b"GIF87a" + blob):
        try:
            frames = decode_gif_frames(payload)
            assert frames and all(f.ndim == 3 for f in frames)
        except ValueError:
            pass


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    n_colors=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_any_image(w, h, n_colors, seed):
    """encode_gif → decode_gif is the identity for any palette-bounded
    image (the synthetic-GIF-oracle pin, VERDICT r4 item 6)."""
    import numpy as np

    from ethos_spark.ops.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    colors = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    img = colors[rng.integers(0, n_colors, size=(h, w))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@given(blob=st.binary(max_size=256))
@settings(max_examples=150, deadline=None)
def test_jpeg_decode_total_on_garbage(blob):
    """decode_jpeg is TOTAL on arbitrary bytes: ValueError or a valid
    array, never a crash/hang."""
    from ethos_spark.ops.multimodal import decode_jpeg

    for payload in (blob, b"\xff\xd8" + blob):
        try:
            out = decode_jpeg(payload)
            assert out.ndim == 3 and out.shape[2] == 3
        except ValueError:
            pass


@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    q=st.sampled_from([1, 2, 4, 8]),
    seed=st.integers(0, 2**31 - 1),
    gray=st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_roundtrip_bounded_error_any_shape(w, h, q, seed, gray):
    """encode→decode error stays quantization-bounded for any dims
    (incl. non-multiple-of-8 edges) in gray and color."""
    import numpy as np

    from ethos_spark.ops.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    # smooth-ish content (random low-frequency mix) — the realistic case
    base = rng.integers(30, 220, size=(max(1, h // 4 + 1), max(1, w // 4 + 1), 3))
    img = np.kron(base, np.ones((4, 4, 1)))[:h, :w, :].astype(np.uint8)
    src = img[:, :, 0] if gray else img
    out = decode_jpeg(encode_jpeg(src, quality_q=q))
    assert out.shape == (h, w, 3)
    ref = np.repeat(img[:, :, :1], 3, axis=2) if gray else img
    assert np.abs(out.astype(int) - ref.astype(int)).max() <= 8 * q + 8
