"""Batched payload decode (core.codec.decode_planes) against a
row-at-a-time reference, and its rejection of malformed payloads."""

import numpy as np
import pytest

from ionex_spark.core import codec
from ionex_spark.core.synth import image_pixels

SHAPES = [(64, 32), (20, 13), (33, 47), (8, 8)]


def _dct_decode_loop(data: bytes) -> np.ndarray:
    """Reference: one channel at a time through the same 8x8 kernels."""
    h, w = (int(x) for x in np.frombuffer(data, np.int32, 2, 4))
    H, W = h + ((-h) % 8), w + ((-w) % 8)
    nb = (H // 8) * (W // 8) * 64
    out = np.empty((h, w, 3), dtype=np.uint8)
    for ch in range(3):
        coef = np.frombuffer(
            data, np.int16, nb, 12 + ch * nb * 2
        ).astype(np.float64).reshape(H // 8, W // 8, 8, 8) * codec._Q
        blocks = codec._DCT8.T @ coef @ codec._DCT8
        plane = blocks.transpose(0, 2, 1, 3).reshape(H, W)[:h, :w] + 128.0
        out[:, :, ch] = np.clip(np.round(plane), 0, 255).astype(np.uint8)
    return out


@pytest.mark.parametrize("w,h", SHAPES)
def test_dct_batch_bit_identical_to_rows(w, h):
    payloads = [codec.dct_encode(image_pixels(i, w, h)) for i in range(7)]
    planes = codec.decode_planes(payloads, "dct", w, h)
    assert planes.shape == (7, 3, h, w) and planes.dtype == np.uint8
    for p, got in zip(payloads, planes):
        want = _dct_decode_loop(p)
        np.testing.assert_array_equal(got.transpose(1, 2, 0), want)
        np.testing.assert_array_equal(codec.dct_decode(p), want)


@pytest.mark.parametrize("w,h", SHAPES)
def test_ppm_batch_is_exact(w, h):
    imgs = [image_pixels(i, w, h) for i in range(5)]
    planes = codec.decode_planes(
        [codec.ppm_encode(im) for im in imgs], "ppm", w, h
    )
    for im, got in zip(imgs, planes):
        np.testing.assert_array_equal(got.transpose(1, 2, 0), im)


@pytest.mark.parametrize("fmt", ["ppm", "dct"])
def test_malformed_payloads_raise(fmt):
    good = codec.encode_image(image_pixels(3, 20, 13), fmt)
    with pytest.raises(ValueError):  # truncated body
        codec.decode_planes([good, good[:40]], fmt, 20, 13)
    with pytest.raises(ValueError):  # header disagrees with (w, h)
        codec.decode_planes([good], fmt, 13, 20)
    with pytest.raises(ValueError):  # wrong magic
        codec.decode_image(b"XX" + good[2:], fmt)
    with pytest.raises(NotImplementedError):
        codec.decode_planes([good], "jpeg", 20, 13)
