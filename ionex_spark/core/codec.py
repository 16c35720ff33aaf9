"""Image payload codecs — pure numpy, no external image libraries.

The sandbox has no PIL/opencv, so per SURVEY.md §7 the engine ships two
self-contained codecs that make the multimodal plumbing REAL (schema,
batching, verification) while staying deterministic:

- ``ppm`` — binary PPM (P6), lossless: the exact-pixel path.
- ``dct`` — a tiny 8x8 block-DCT codec with uniform quantization, lossy:
  exercises the PSNR >= 40 dB verification path of BASELINE.json.input_hint.

Both decode through one batched kernel, ``decode_planes`` (N same-shape
payloads per call); ``ppm_decode``/``dct_decode`` are its one-payload case.

Plus ``psnr`` and a 64-bit perceptual hash ``phash64`` (8x8 block-mean DCT
sign hash) used for dedup/verification.  Any *other* ``fmt`` value decodes
via NotImplementedError — the documented stub for real-world codecs that
need external libraries (jpeg/png/webp).
"""

from __future__ import annotations

import numpy as np

_Q = 6.0  # DCT quantization step: keeps PSNR well above 40 dB for smooth blocks


# ---------------------------------------------------------------- PPM (P6)

def _ppm_header(w: int, h: int) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h)


def ppm_encode(pixels: np.ndarray) -> bytes:
    """uint8 HxWx3 array -> binary PPM bytes."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    return _ppm_header(w, h) + pixels.tobytes()


def ppm_decode(data: bytes) -> np.ndarray:
    """Binary PPM bytes -> uint8 HxWx3 array."""
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    w, h = (int(x) for x in data.split(b"\n", 2)[1].split())
    return decode_planes([data], "ppm", w, h)[0].transpose(1, 2, 0)


# ------------------------------------------------------------- DCT (lossy)

def _dct_mat(n: int = 8) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


_DCT8 = _dct_mat(8)


def _blockify(img: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = img.shape
    ph, pw = (-h) % 8, (-w) % 8
    img = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    H, W = img.shape
    blocks = img.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    return blocks, h, w


def _dct_header(w: int, h: int) -> bytes:
    return b"DCT1" + np.array([h, w], dtype=np.int32).tobytes()


def dct_encode(pixels: np.ndarray) -> bytes:
    """uint8 HxWx3 -> quantized block-DCT bytes (int16 coefficients)."""
    h, w, _ = pixels.shape
    planes = []
    for ch in range(3):
        blocks, _, _ = _blockify(pixels[:, :, ch].astype(np.float64) - 128.0)
        coef = _DCT8 @ blocks @ _DCT8.T
        planes.append(np.round(coef / _Q).astype(np.int16))
    return _dct_header(w, h) + np.stack(planes).tobytes()


def dct_decode(data: bytes) -> np.ndarray:
    if not data.startswith(b"DCT1"):
        raise ValueError("not a DCT1 payload")
    h, w = (int(x) for x in np.frombuffer(data, np.int32, 2, 4))
    return np.ascontiguousarray(
        decode_planes([data], "dct", w, h)[0].transpose(1, 2, 0)
    )


# -------------------------------------------------------- batched decode

def decode_planes(payloads: list, fmt: str, w: int, h: int) -> np.ndarray:
    """Decode N same-shape payloads into (N, 3, h, w) uint8 channel
    planes with ONE batched pipeline; ppm_decode / dct_decode are its
    one-payload case.  Every payload must carry the header its codec
    writes for (w, h), else ValueError.  The dct path stacks all
    coefficient buffers and runs the per-8x8-block matmul kernels once
    (matmul broadcasts over leading axes with identical per-slice
    results), so a batch decodes bit-identically to its rows one by
    one."""
    if fmt not in ("ppm", "dct"):
        raise _unsupported(fmt)
    n = len(payloads)
    head = _ppm_header(w, h) if fmt == "ppm" else _dct_header(w, h)
    hl = len(head)
    if not all(p[:hl] == head for p in payloads):
        raise ValueError(f"payload header does not match {fmt} {w}x{h}")
    if fmt == "ppm":
        flat = np.stack([
            np.frombuffer(p, np.uint8, h * w * 3, hl) for p in payloads
        ])
        return flat.reshape(n, h, w, 3).transpose(0, 3, 1, 2)
    H, W = h + ((-h) % 8), w + ((-w) % 8)
    nb = (H // 8) * (W // 8) * 64
    coef = np.stack([
        np.frombuffer(p, np.int16, 3 * nb, hl) for p in payloads
    ]).astype(np.float64).reshape(n, 3, H // 8, W // 8, 8, 8) * _Q
    blocks = _DCT8.T @ coef @ _DCT8
    planes = blocks.transpose(0, 1, 2, 4, 3, 5).reshape(n, 3, H, W)
    planes = planes[:, :, :h, :w] + 128.0
    return np.clip(np.round(planes), 0, 255).astype(np.uint8)


# ------------------------------------------------------------ dispatch API

def _unsupported(fmt: str) -> NotImplementedError:
    return NotImplementedError(
        f"codec {fmt!r} requires an external image library (not in sandbox)"
    )


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "ppm":
        return ppm_encode(pixels)
    if fmt == "dct":
        return dct_encode(pixels)
    raise _unsupported(fmt)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "ppm":
        return ppm_decode(data)
    if fmt == "dct":
        return dct_decode(data)
    raise _unsupported(fmt)


# --------------------------------------------------------------- verify ops

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return float("inf")
    return float(10.0 * np.log10(255.0 ** 2 / mse))


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: grayscale -> 32x32 block-mean resize -> 8x8
    low-frequency DCT -> sign-vs-median bits.  Deterministic, pure numpy."""
    g = pixels.astype(np.float64).mean(axis=2)
    h, w = g.shape
    # block-mean resize to 32x32 via index mapping (handles any h, w)
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    small = g[np.ix_(yi, xi)]
    m = _dct_mat(32)
    coef = (m @ small @ m.T)[:8, :8].ravel()
    med = np.median(coef[1:])  # skip DC
    bits = (coef > med).astype(np.uint64)
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    return int(val.astype(np.int64))  # as signed int64 for the phash column
