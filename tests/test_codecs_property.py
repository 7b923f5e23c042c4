"""Property-based fuzzing of the baseline JPEG codec: exact roundtrips
on constant 8x8 blocks, bounded error on arbitrary content, for
arbitrary shapes and byte contents — the laws the oracle gate
exercises only at the fixture shape — plus its subset guards."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ast_data_pipeline_spark.operators.multimodal import _jpeg_decode, encode_jpeg

_grey = st.tuples(
    st.integers(1, 24), st.integers(1, 24), st.integers(0, 2**32 - 1)
)


@given(
    vals=st.lists(st.integers(0, 255), min_size=1, max_size=48),
    rows=st.integers(1, 3),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_constant_block_roundtrip_exact(vals, rows):
    # The oracle-gate law: an image of constant 8x8 blocks round-trips
    # EXACTLY through baseline JPEG with all-ones quantization (one
    # exact-integer DC coefficient per block, mathematically-zero ACs).
    v = np.array(vals, np.uint8)
    n = len(v)
    arr = np.repeat(v, 64).reshape(n, 8, 8)          # (n, 8, 8) blocks
    # lay blocks out on a rows x ceil(n/rows) grid (pad with last val)
    cols = -(-n // rows)
    grid = np.full((rows * cols,), int(v[-1]), np.uint8)
    grid[:n] = v
    img = (
        np.repeat(np.repeat(grid.reshape(rows, cols), 8, 0), 8, 1)
    )  # constant 8x8 blocks
    dec = _jpeg_decode(encode_jpeg(img))
    assert dec.shape == img.shape
    assert (dec == img).all()


@given(_grey)
@settings(max_examples=25, deadline=None)
def test_jpeg_lossy_roundtrip_bounded_error(shape):
    # General (non-constant) content: with all-ones quant tables the
    # only loss is coefficient rounding (each |dF| <= 0.5), so the
    # reconstruction error is tightly bounded — and dims need not be
    # multiples of 8 (edge-replicated padding).
    h, w, seed = shape
    arr = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.uint8)
    dec = _jpeg_decode(encode_jpeg(arr))
    assert dec.shape == arr.shape
    assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 8


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=15, deadline=None)
def test_jpeg_color_constant_mcu_near_exact(seed):
    # Color 4:2:0: constant 16x16 MCUs survive chroma subsampling, so
    # the only loss left is the RGB<->YCbCr rounding (<= 2 per channel
    # in the worst case across JFIF's two roundings).
    rng = np.random.RandomState(seed)
    n_mcus = int(rng.randint(1, 5))
    arr = np.zeros((16, 16 * n_mcus, 3), np.uint8)
    for i in range(n_mcus):
        arr[:, 16 * i : 16 * (i + 1)] = rng.randint(0, 256, 3)
    for subsample in (False, True):
        dec = _jpeg_decode(encode_jpeg(arr, subsample=subsample))
        assert dec.shape == arr.shape
        assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 2


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=10, deadline=None)
def test_jpeg_color_420_luma_preserved(seed):
    # 4:2:0 destroys chroma detail by design; luma must stay bounded
    # like the grayscale path (Y blocks are full-resolution).
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, (16, 32, 3)).astype(np.uint8)
    dec = _jpeg_decode(encode_jpeg(arr, subsample=True))
    to_y = np.array([0.299, 0.587, 0.114])
    y_src = arr.astype(float) @ to_y
    y_dec = dec.astype(float) @ to_y
    # luma error: coefficient rounding + chroma-leak through the
    # YCbCr->RGB->Y roundtrip; stays small even though RGB channels
    # individually diverge
    assert np.abs(y_src - y_dec).mean() <= 4.0


def test_jpeg_subset_guards():
    import pytest

    arr = np.zeros((8, 8), np.uint8)
    payload = bytearray(encode_jpeg(arr))
    # progressive SOF2 must raise, not mis-decode
    idx = payload.find(b"\xff\xc0")
    payload[idx + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        _jpeg_decode(bytes(payload))
    with pytest.raises(ValueError):
        _jpeg_decode(b"\x00\x01not a jpeg")


def test_jpeg_truncated_entropy_raises_valueerror():
    """A JPEG cut INSIDE the entropy-coded segment must surface as the
    ValueError contract the other codecs follow, not a raw IndexError
    (ADVICE r8: header-stage truncation was covered, entropy-stage was
    not)."""
    import pytest

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (24, 24), np.uint8)
    payload = encode_jpeg(arr)
    # cut after the SOS header so header parsing succeeds and the bit
    # reader runs off the end of the entropy data
    sos = payload.find(b"\xff\xda")
    assert sos > 0
    for cut in (sos + 16, len(payload) - 8):
        with pytest.raises(ValueError, match="truncated JPEG"):
            _jpeg_decode(payload[:cut])


def test_jpeg_multi_scan_guard():
    """First-SOS-only parsing must refuse a scan that does not cover
    every SOF component instead of silently leaving the unscanned
    planes all-zero (ADVICE r8)."""
    import pytest

    arr = np.zeros((8, 8, 3), np.uint8)
    payload = bytearray(encode_jpeg(arr))
    idx = payload.find(b"\xff\xda")
    seglen = (payload[idx + 2] << 8) | payload[idx + 3]
    ns = payload[idx + 4]
    assert ns == 3
    # shrink the scan header to a single component (a legal multi-scan
    # baseline layout would carry the other components in later SOS
    # segments, which the decoder does not parse)
    new_body = bytes([1]) + bytes(payload[idx + 5 : idx + 7])
    new_seg = (
        b"\xff\xda"
        + (len(new_body) + 2 + 3).to_bytes(2, "big")
        + new_body
        + payload[idx + 2 + seglen - 3 : idx + 2 + seglen]
    )
    mutated = bytes(payload[:idx]) + new_seg + bytes(payload[idx + 2 + seglen :])
    with pytest.raises(NotImplementedError, match="multi-scan"):
        _jpeg_decode(mutated)
