"""Image payload codecs + perceptual hash — pure numpy (SURVEY.md §2.3).

No PIL/cv2 in this sandbox, so the codecs are implemented from scratch
(FIXTURES.md §B):

* ``raw``  — h*w*3 uint8, C-order. Lossless.
* ``ppm``  — binary P6 netpbm (public format). Lossless.
* ``png``  — real-world public format (RFC 2083), from-scratch decoder
             (all 5 filters, gray/RGB/palette/alpha) and encoder in
             kernels/png.py using stdlib zlib + numpy. Lossless.
* ``rle``  — byte run-length pairs (count,value) over the raw stream,
             prefixed with a 12-byte header. Lossless.
* ``qjpg`` — deterministic lossy: uniform quantization of each channel to
             6 bits (step 4, mid-rise reconstruction +2) then RLE.
             Max per-pixel error 2 → MSE ≤ 4·(1/4)+1·(1/4)… bounded by
             uniform-quant variance (step²/12 ≈ 1.33), PSNR ≥
             10·log10(255²/1.34) ≈ 46.8 dB — comfortably above the
             40 dB invariant (BASELINE.json:15).

The invariant surface (decode∘encode allclose for lossless, PSNR≥40 for
qjpg, caption untouched) is what BASELINE.json:6 requires; pytest enforces
it on seeded fixtures.
"""

from __future__ import annotations

import numpy as np

from .png import decode_png, encode_png

FORMATS = ("raw", "ppm", "rle", "qjpg", "png")
_MAGIC_RLE = b"GRLE"
_MAGIC_QJPG = b"GQJP"


# ---------------------------------------------------------------- raw / ppm

def _enc_raw(img: np.ndarray) -> bytes:
    return np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def _dec_raw(buf: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)


def _enc_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + _enc_raw(img)


def _dec_ppm(buf: bytes, w: int, h: int) -> np.ndarray:
    # header: magic, whitespace-separated w h maxval, single whitespace, raster
    idx, fields = 2, []
    while len(fields) < 3:
        while buf[idx : idx + 1].isspace():
            idx += 1
        start = idx
        while not buf[idx : idx + 1].isspace():
            idx += 1
        fields.append(int(buf[start:idx]))
    idx += 1  # the single whitespace after maxval
    pw, ph, _maxv = fields
    return np.frombuffer(buf, dtype=np.uint8, offset=idx).reshape(ph, pw, 3)


# ----------------------------------------------------------------------- rle

def _rle_encode_stream(flat: np.ndarray) -> bytes:
    """Byte RLE: (count uint8 in 1..255, value uint8) pairs. Vectorized."""
    if flat.size == 0:
        return b""
    change = np.nonzero(np.diff(flat) != 0)[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [flat.size]))
    lens = ends - starts
    vals = flat[starts]
    # split runs longer than 255 into chunks; chunks lay out sequentially,
    # so counts are 255 everywhere except each run's last chunk (= remainder)
    n_chunks = ((lens + 254) // 255).astype(np.int64)
    total = int(n_chunks.sum())
    counts = np.full(total, 255, dtype=np.uint16)
    last_of_run = np.cumsum(n_chunks) - 1
    rem = lens % 255
    has_rem = rem > 0
    counts[last_of_run[has_rem]] = rem[has_rem].astype(np.uint16)
    interleaved = np.empty(total * 2, dtype=np.uint8)
    interleaved[0::2] = counts.astype(np.uint8)
    interleaved[1::2] = np.repeat(vals, n_chunks)
    return interleaved.tobytes()


def _rle_decode_stream(buf: bytes, n: int) -> np.ndarray:
    pairs = np.frombuffer(buf, dtype=np.uint8)
    counts = pairs[0::2].astype(np.int64)
    vals = pairs[1::2]
    return np.repeat(vals, counts)[:n]


def _enc_rle(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    flat = np.ascontiguousarray(img, dtype=np.uint8).ravel()
    return _MAGIC_RLE + np.array([w, h], dtype="<u4").tobytes() + _rle_encode_stream(flat)


def _dec_rle(buf: bytes, w: int, h: int) -> np.ndarray:
    assert buf[:4] == _MAGIC_RLE
    pw, ph = np.frombuffer(buf, dtype="<u4", count=2, offset=4)
    flat = _rle_decode_stream(buf[12:], int(pw) * int(ph) * 3)
    return flat.reshape(int(ph), int(pw), 3)


# ---------------------------------------------------------------------- qjpg

_QSTEP = 4  # 6-bit uniform quantization; PSNR bound in module docstring


def _enc_qjpg(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    q = (np.ascontiguousarray(img, dtype=np.uint8) // _QSTEP).ravel()
    return _MAGIC_QJPG + np.array([w, h], dtype="<u4").tobytes() + _rle_encode_stream(q)


def _dec_qjpg(buf: bytes, w: int, h: int) -> np.ndarray:
    assert buf[:4] == _MAGIC_QJPG
    pw, ph = np.frombuffer(buf, dtype="<u4", count=2, offset=4)
    q = _rle_decode_stream(buf[12:], int(pw) * int(ph) * 3).astype(np.uint16)
    rec = np.minimum(q * _QSTEP + _QSTEP // 2, 255).astype(np.uint8)
    return rec.reshape(int(ph), int(pw), 3)


def _enc_tiff(img):
    from .tiff import encode_tiff
    return encode_tiff(img, compression="lzw")


def _dec_tiff(buf, w, h):
    from .tiff import decode_tiff
    return decode_tiff(buf)


def _enc_jpeg(img):
    # quality 98 is the measured floor for PSNR>=40dB on pure-noise
    # content (kernels/jpeg module docstring); natural images sit far
    # higher. Not in the hot FORMATS mix (python entropy coding).
    from .jpeg import encode_jpeg
    return encode_jpeg(img, quality=98)


def _dec_jpeg(buf, w, h):
    from .jpeg import decode_jpeg
    return decode_jpeg(buf)


def _enc_gif(img):
    # lossless for <=256-color images; raises for true color (GIF is
    # palette-indexed — an ingest format, not a mastering target)
    from .gif import encode_gif
    return encode_gif(img)


def _dec_gif(buf, w, h):
    from .gif import decode_gif
    return decode_gif(buf)


_ENCODERS = {"raw": _enc_raw, "ppm": _enc_ppm, "rle": _enc_rle,
             "qjpg": _enc_qjpg, "png": lambda img: encode_png(img),
             "tiff": _enc_tiff, "gif": _enc_gif, "jpeg": _enc_jpeg}
_DECODERS = {"raw": _dec_raw, "ppm": _dec_ppm, "rle": _dec_rle,
             "qjpg": _dec_qjpg, "png": lambda buf, w, h: decode_png(buf),
             "tiff": _dec_tiff, "gif": _dec_gif, "jpeg": _dec_jpeg}


def encode(img: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](img)


def decode(buf: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    return _DECODERS[fmt](bytes(buf), w, h)


def is_lossless(fmt: str) -> bool:
    return fmt not in ("qjpg", "jpeg")


# ------------------------------------------------------------------- metrics

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images (I5)."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


# ------------------------------------------------------------------- resize

def _area_weights(src: int, dst: int) -> np.ndarray:
    """[dst, src] row matrix of exact area-overlap fractions: target cell
    i covers source interval [i*s, (i+1)*s), s = src/dst; each weight is
    overlap length / s. Rows sum to 1 exactly (up to fp), so W @ img is
    the exact area-average resample — equal to the blockwise mean when
    dst divides src."""
    s = src / dst
    i = np.arange(dst, dtype=np.float64)
    lo, hi = i * s, (i + 1) * s
    y = np.arange(src, dtype=np.float64)
    ov = np.minimum(hi[:, None], y[None, :] + 1.0) - np.maximum(lo[:, None], y[None, :])
    return np.clip(ov, 0.0, 1.0) / s


def resize_area(img: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Deterministic area-average resize to [th, tw, 3] uint8 (I3
    generalized past the 2x box filter: arbitrary targets, down or up).
    Half-up rounding for cross-platform determinism."""
    h, w = img.shape[:2]
    wy = _area_weights(h, th)
    wx = _area_weights(w, tw).T
    out = np.einsum("ty,yxc,xs->tsc", wy, img.astype(np.float64), wx,
                    optimize=True)
    return np.floor(out + 0.5).clip(0, 255).astype(np.uint8)


# -------------------------------------------------------------------- phash

_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)[:, None]
        x = np.arange(n)[None, :]
        m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * k / (2 * n))
        m[0] /= np.sqrt(2.0)
        _DCT32 = m
    return _DCT32


def _resize_gray_32(img: np.ndarray) -> np.ndarray:
    """Area-style resample to 32x32 grayscale, deterministic, any h,w."""
    g = (299 * img[:, :, 0].astype(np.uint32)
         + 587 * img[:, :, 1].astype(np.uint32)
         + 114 * img[:, :, 2].astype(np.uint32)) // 1000
    h, w = g.shape
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    return g[np.ix_(yi, xi)].astype(np.float64)


def phash64(img: np.ndarray) -> int:
    """Perceptual hash (I4): 32x32 gray → 2D DCT-II → 8x8 low-frequency
    block (DC excluded from the median) → 64-bit sign pattern."""
    d = _dct_matrix()
    coef = d @ _resize_gray_32(img) @ d.T
    block = coef[:8, :8].copy()
    med = np.median(np.concatenate([block.ravel()[1:]]))
    bits = (block.ravel() > med).astype(np.uint64)
    h = np.uint64(0)
    for b in bits:
        h = (h << np.uint64(1)) | b
    return int(h.astype(np.int64))


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    x = (np.asarray(a).astype(np.int64) ^ np.asarray(b).astype(np.int64)).astype(np.uint64)
    cnt = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        cnt += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    return cnt
