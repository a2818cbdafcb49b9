"""Deterministic image codecs + PSNR + perceptual hash (pure numpy).

The input contract (BASELINE.json::input_hint) is a table of image+caption
pairs ``(image_id, bytes, w, h, fmt, caption, phash)``. No image libraries
(PIL/cv2) exist in this environment, so the codecs are from-scratch,
deterministic, and simple — the engine cares about the *plumbing* (binary
columns, Arrow batch shape, vectorized decode in mapInPandas), and the
per-row invariant: decode(encode(img)) exact for lossless fmts, PSNR>=40 dB
for the lossy fmt, caption byte-equality.

Pixel model: single-band uint8 grayscale, row-major, shape (h, w).

Formats:
  raw   — header + raw bytes (lossless)
  rle   — header + byte-level run-length encoding (lossless)
  quant — header + 6-bit uniform quantization, RLE-packed codes (lossy;
          max abs error <= 2 => worst-case PSNR = 20*log10(255/2) ≈ 42.1 dB,
          satisfying the >=40 dB invariant unconditionally)
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"KZ"
FMT_RAW, FMT_RLE, FMT_QUANT = 0, 1, 2
_FMT_CODE = {"raw": FMT_RAW, "rle": FMT_RLE, "quant": FMT_QUANT}
_FMT_NAME = {v: k for k, v in _FMT_CODE.items()}
_QBITS = 6
_QLEVELS = 1 << _QBITS
_QSTEP = 255.0 / (_QLEVELS - 1)


def _rle_encode(data: bytes) -> bytes:
    a = np.frombuffer(data, dtype=np.uint8)
    if len(a) == 0:
        return b""
    change = np.flatnonzero(np.diff(a)) + 1
    starts = np.concatenate([[0], change])
    ends = np.concatenate([change, [len(a)]])
    runs = ends - starts
    vals = a[starts]
    if runs.max() > 255:
        # split long runs into k×255 + remainder chunks, fully vectorized
        n_full = runs // 255
        rem = runs % 255
        reps = n_full + (rem > 0)
        vals_out = np.repeat(vals, reps)
        counts = np.full(int(reps.sum()), 255, dtype=np.uint8)
        last = np.cumsum(reps) - 1
        has_rem = rem > 0
        counts[last[has_rem]] = rem[has_rem]
    else:
        counts = runs.astype(np.uint8)
        vals_out = vals
    out = np.empty(counts.size * 2, dtype=np.uint8)
    out[0::2] = counts
    out[1::2] = vals_out
    return out.tobytes()


def _rle_decode(data: bytes) -> np.ndarray:
    b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 2)
    return np.repeat(b[:, 1], b[:, 0])


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels (h, w) uint8 -> bytes with header (magic, fmt, w, h)."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = pixels.shape
    code = _FMT_CODE[fmt]
    header = MAGIC + struct.pack("<BII", code, w, h)
    if code == FMT_RAW:
        return header + pixels.tobytes()
    if code == FMT_RLE:
        return header + _rle_encode(pixels.tobytes())
    q = np.round(pixels.astype(np.float64) / _QSTEP).astype(np.uint8)
    return header + _rle_encode(q.tobytes())


def decode(data: bytes) -> tuple[np.ndarray, str]:
    """bytes -> (pixels (h, w) uint8, fmt name)."""
    if data[:2] != MAGIC:
        raise ValueError("bad magic")
    code, w, h = struct.unpack("<BII", data[2:11])
    body = data[11:]
    if code == FMT_RAW:
        px = np.frombuffer(body, dtype=np.uint8).reshape(h, w)
    elif code == FMT_RLE:
        px = _rle_decode(body).reshape(h, w)
    elif code == FMT_QUANT:
        q = _rle_decode(body).reshape(h, w).astype(np.float64)
        px = np.clip(np.round(q * _QSTEP), 0, 255).astype(np.uint8)
    else:
        raise ValueError(f"unknown fmt code {code}")
    return px, _FMT_NAME[code]


def arrow_views(arr):
    """Zero-copy ``(data, offsets)`` numpy views of a null-free Arrow
    ``binary``/``string`` array (int32 offsets): ``data`` is the uint8
    data buffer, ``offsets[i]:offsets[i+1]`` the i-th value, offsets
    widened to int64. Returns None for any other array (``large_*``
    64-bit offsets, nulls, other types) so the caller takes its object
    path."""
    import pyarrow as pa

    if (not (pa.types.is_binary(arr.type) or pa.types.is_string(arr.type))
            or arr.null_count):
        return None
    _, obuf, dbuf = arr.buffers()
    off = np.frombuffer(obuf, dtype=np.int32)[
        arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
    return np.frombuffer(dbuf, dtype=np.uint8), off


def decode_batch(blobs) -> tuple[list, list]:
    """Decode a list of encoded images -> (pixels list, fmt-name list):
    the blobs are concatenated into one buffer and decoded by
    :func:`decode_batch_views`."""
    off = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=off[1:])
    return decode_batch_views(np.frombuffer(b"".join(blobs), dtype=np.uint8),
                              off)


def decode_batch_views(data: np.ndarray, off: np.ndarray) -> tuple[list, list]:
    """Decode a batch of encoded images held in one buffer -> (pixels
    list, fmt-name list): ``data`` is the batch's contiguous uint8 data
    (an Arrow binary data buffer, see :func:`arrow_views`),
    ``off[i]:off[i+1]`` the i-th blob.

    Bit-identical to per-image :func:`decode` (tested), and raises
    ValueError on every blob :func:`decode` rejects. Headers parse as one
    vectorized (n, 11) gather; the RLE/quant run expansion happens ONCE
    over each format group's concatenated bodies instead of 3 tiny numpy
    calls per image (per-image numpy dispatch dominates at 256-4096-byte
    payloads). Each image's run lengths must sum to its h·w: without that
    check one malformed body would shift pixels into every later image
    of its group. Raw images stay per-image no-copy views."""
    n = len(off) - 1
    if n == 0:
        return [], []
    starts = np.asarray(off[:-1], dtype=np.int64)
    ends = np.asarray(off[1:], dtype=np.int64)
    if (ends - starts < 11).any():
        raise ValueError("truncated header")
    hdr = data[starts[:, None] + np.arange(11)]
    if not ((hdr[:, 0] == MAGIC[0]) & (hdr[:, 1] == MAGIC[1])).all():
        raise ValueError("bad magic")
    codes = hdr[:, 2]
    bad = np.flatnonzero(~np.isin(codes, list(_FMT_NAME)))
    if len(bad):
        raise ValueError(f"unknown fmt code {int(codes[bad[0]])}")
    ws = np.ascontiguousarray(hdr[:, 3:7]).view("<u4").ravel().astype(np.int64)
    hs = np.ascontiguousarray(hdr[:, 7:11]).view("<u4").ravel().astype(np.int64)
    pixels: list = [None] * n
    fmts = [_FMT_NAME[int(c)] for c in codes]
    for i in np.flatnonzero(codes == FMT_RAW):
        pixels[i] = data[starts[i] + 11: ends[i]].reshape(hs[i], ws[i])
    for code in (FMT_RLE, FMT_QUANT):
        idxs = np.flatnonzero(codes == code)
        if not len(idxs):
            continue
        body = ends[idxs] - starts[idxs] - 11
        if (body % 2).any():
            raise ValueError("RLE body of odd length")
        runs = np.concatenate(
            [data[starts[i] + 11: ends[i]] for i in idxs]).reshape(-1, 2)
        # each image's run lengths must add up to exactly its h·w
        npix = hs[idxs] * ws[idxs]
        got = np.zeros(len(idxs), dtype=np.int64)
        nz = body > 0               # reduceat cannot sum an empty segment
        if nz.any():
            first_run = np.cumsum(body // 2) - body // 2
            got[nz] = np.add.reduceat(runs[:, 0], first_run[nz],
                                      dtype=np.int64)
        wrong = np.flatnonzero(got != npix)
        if len(wrong):
            i = idxs[wrong[0]]
            raise ValueError(
                f"image {i}: RLE body expands to {int(got[wrong[0]])} "
                f"pixels, header says {int(hs[i])}x{int(ws[i])}")
        flat = np.repeat(runs[:, 1], runs[:, 0])
        if code == FMT_QUANT:
            flat = np.clip(np.round(flat.astype(np.float64) * _QSTEP),
                           0, 255).astype(np.uint8)
        px_at = np.concatenate([[0], np.cumsum(npix)])
        for k, i in enumerate(idxs):
            pixels[i] = flat[px_at[k]:px_at[k + 1]].reshape(hs[i], ws[i])
    return pixels, fmts


def resize_area(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic resize, pure numpy. Downscale: exact mean over the
    integer pixel box [floor(i·h/oh), floor((i+1)·h/oh)) per output cell
    (area resampling via two reduceat passes — no Python loop). Upscale
    (per axis): nearest-neighbor index map. Rounded half-to-even
    (np.round banker's rounding: exact .5 box means go to the even
    neighbor) to uint8."""
    p = pixels.astype(np.float64)
    h, w = p.shape

    def axis_reduce(a: np.ndarray, n_in: int, n_out: int, axis: int) -> np.ndarray:
        if n_out <= n_in:  # box mean
            bounds = (np.arange(n_out + 1) * n_in) // n_out
            sums = np.add.reduceat(a, bounds[:-1], axis=axis)
            sizes = (bounds[1:] - bounds[:-1]).astype(np.float64)
            shape = [1, 1]
            shape[axis] = n_out
            return sums / sizes.reshape(shape)
        idx = (np.arange(n_out) * n_in) // n_out  # nearest
        return np.take(a, idx, axis=axis)

    out = axis_reduce(axis_reduce(p, h, out_h, 0), w, out_w, 1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def resize_area_batch(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """resize_area over a (n, h, w) stack — same boxes, vectorized over n
    (bit-identical to the scalar version, tested)."""
    p = px.astype(np.float64)
    n, h, w = p.shape

    def axis_reduce(a, n_in, n_out, axis):
        if n_out <= n_in:
            bounds = (np.arange(n_out + 1) * n_in) // n_out
            sums = np.add.reduceat(a, bounds[:-1], axis=axis)
            sizes = (bounds[1:] - bounds[:-1]).astype(np.float64)
            shape = [1, 1, 1]
            shape[axis] = n_out
            return sums / sizes.reshape(shape)
        idx = (np.arange(n_out) * n_in) // n_out
        return np.take(a, idx, axis=axis)

    out = axis_reduce(axis_reduce(p, h, out_h, 1), w, out_w, 2)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# ------------------------------------------------- multi-frame container ----

VMAGIC = b"KV"


def pack_frames(frames: list[bytes]) -> bytes:
    """Deterministic multi-frame (video stand-in) container: magic +
    u32 frame count + [u32 length | frame bytes]*. Frames are any encoded
    image payloads from this codec."""
    out = [VMAGIC, struct.pack("<I", len(frames))]
    for fr in frames:
        out.append(struct.pack("<I", len(fr)))
        out.append(fr)
    return b"".join(out)


def frame_count(data: bytes) -> int:
    if data[:2] != VMAGIC:
        raise ValueError("bad video magic")
    return struct.unpack("<I", data[2:6])[0]


def iter_frames(data: bytes):
    """Yield (frame_index, frame_bytes) without copying the whole buffer
    more than once — O(total bytes) single pass."""
    n = frame_count(data)
    off = 6
    for i in range(n):
        (ln,) = struct.unpack("<I", data[off:off + 4])
        off += 4
        yield i, data[off:off + ln]
        off += ln


def decode_video(data: bytes, fmt: str = "kzv"):
    """Decode a video payload to an iterator of (frame_idx, pixels).

    Only the deterministic stand-in container ('kzv') decodes here — real
    video codecs (h264/vp9/av1) need libraries absent from this container,
    so they are an explicit stub: the Spark-side plumbing (binary column,
    schema, mapInPandas batch shape, frame sampling) is identical either
    way, and a real decoder drops in by replacing this function."""
    if fmt != "kzv":
        raise NotImplementedError(
            f"video codec {fmt!r}: real decoders (h264/vp9/av1) are not "
            "available in this environment; only the deterministic 'kzv' "
            "stand-in container is implemented")
    for i, fr in iter_frames(data):
        yield i, decode(fr)[0]


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    d = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(d * d))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual-style hash: 8x8 block-mean downsample, threshold
    by median, pack bits MSB-first. Deterministic, numpy-only."""
    p = pixels.astype(np.float64)
    h, w = p.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    small = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blk = p[ys[i]:max(ys[i + 1], ys[i] + 1), xs[j]:max(xs[j + 1], xs[j] + 1)]
            small[i, j] = blk.mean()
    bits = (small > np.median(small)).ravel()
    v = np.uint64(0)
    for b in bits:
        v = (v << np.uint64(1)) | np.uint64(bool(b))
    return int(v.astype(np.int64))


def phash64_batch(px: np.ndarray) -> np.ndarray:
    """Vectorized phash64 over a (n, h, w) stack (h, w divisible by 8).
    Bit-identical to the scalar phash64 (tested)."""
    n, h, w = px.shape
    # mean with dtype=f8 accumulates in float64 without materializing a
    # float64 copy of the stack (bandwidth-bound kernel)
    small = px.reshape(n, 8, h // 8, 8, w // 8).mean(axis=(2, 4), dtype=np.float64)
    flat = small.reshape(n, 64)
    med = np.median(flat, axis=1)
    bits = (flat > med[:, None]).astype(np.uint64)
    weights = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)
    return (bits * weights[None, :]).sum(axis=1, dtype=np.uint64).astype(np.int64)


def _popcount_inplace(x: np.ndarray) -> np.ndarray:
    """SWAR popcount of a uint64 array, mutating x — in-place ops keep
    the working set to one buffer (the naive expression materializes ~6
    full-size temporaries and is memory-bandwidth-bound: measured 14×
    slower on (1000, 8000) matrices)."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    t = x >> np.uint64(1)
    t &= m1
    x -= t
    np.right_shift(x, np.uint64(2), out=t)
    t &= m2
    x &= m2
    x += t
    np.right_shift(x, np.uint64(4), out=t)
    x += t
    x &= m4
    x *= np.uint64(0x0101010101010101)
    x >>= np.uint64(56)
    return x


def hamming64(a, b) -> np.ndarray:
    """Vectorized Hamming distance between int64 hash arrays (broadcast).
    Large 2-D outputs are processed in row chunks so the 6 SWAR passes
    reuse cache instead of streaming a full-size matrix each pass
    (another ~2× on kNN-sized blocks)."""
    av = np.asarray(a).astype(np.int64).astype(np.uint64)
    bv = np.asarray(b).astype(np.int64).astype(np.uint64)
    shape = np.broadcast_shapes(av.shape, bv.shape)
    n_elem = int(np.prod(shape))
    if len(shape) != 2 or n_elem <= 1 << 20:
        return _popcount_inplace((av ^ bv).copy()).astype(np.int64)
    out = np.empty(shape, dtype=np.int64)
    rows = max(1, (1 << 20) // max(shape[1], 1))
    ab = np.broadcast_to(av, shape)
    bb = np.broadcast_to(bv, shape)
    for s in range(0, shape[0], rows):
        out[s:s + rows] = _popcount_inplace(
            ab[s:s + rows] ^ bb[s:s + rows])
    return out
