"""Pure-python (stdlib-only) media codecs: PNG, WAV, and baseline JPEG.

The multimodal column contract (operators/multimodal.py) treats media as
opaque binary + typed metadata, with decode as a pandas-UDF kernel.  The
container ships no PIL/ffmpeg, so these decoders make the decode seam
REAL for the formats that need nothing beyond ``zlib``/``struct``/numpy:

- PNG (RFC 2083): 1/2/4/8/16-bit greyscale, 8/16-bit grey+alpha / RGB
  / RGBA, 1/2/4/8-bit palette (PLTE, optional tRNS), Adam7
  interlacing, all five scanline filter types
  (None/Sub/Up/Average/Paeth).  Sub-byte greyscale/palette samples are
  returned RAW (0..2^d-1, no scaling to 8-bit) — greyscale scaling is
  the consumer's choice; palette indices feed the PLTE lookup exactly.
- WAV (RIFF): PCM 8/16/24/32-bit, IEEE float32, and G.711 a-law /
  u-law companding (byte-exact with the CCITT reference), any channel
  count/rate (ADPCM and friends raise).
- JPEG (ITU-T T.81): sequential (SOF0 baseline / SOF1 extended — the
  encoder auto-selects SOF1 when a Pq=1 quant table is required, since
  baseline forbids it) AND progressive (SOF2
  — spectral selection + successive approximation, EOBn run-length,
  correction bits), 8-bit, greyscale or YCbCr at 4:4:4 / 4:2:2 / 4:2:0
  chroma sampling (MCU-interleaved scan; box-mean chroma downsample on
  encode, replication upsample on decode), restart intervals
  (DRI/RSTn with DC-prediction reset), canonical Annex K huffman
  tables, byte stuffing, zigzag, DC prediction, real float DCT/IDCT.
  8- AND 16-bit quant tables (DQT Pq=0/1).
  Hierarchical/lossless/arithmetic SOFs raise NotImplementedError (the
  remaining documented seam).

Encoders exist so tests and datagen can synthesize REAL files
deterministically (PNG rows cycle all 5 filter types; JPEG emits a real
entropy-coded scan); they are not a pipeline stage.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> PNG color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> channels

# Adam7 interlace passes: (x0, y0, dx, dy) per PNG spec 8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)
# decode budget: IHDR may declare at most this many pixels (an 8K frame
# fits), and IDAT inflates to at most the length IHDR implies
PNG_MAX_PIXELS = 1 << 25


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec 6.6), vectorized over a scanline."""
    a16 = a.astype(np.int16)
    b16 = b.astype(np.int16)
    c16 = c.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _filter_lines(rows: np.ndarray, bpp: int, f0: int = 0) -> bytearray:
    """Filter (h, stride) byte rows for encoding; scanline r uses filter
    type (f0 + r) % 5, so round-trips prove every unfilter branch."""
    h = rows.shape[0]
    stride = rows.shape[1] if h else 0
    raw = bytearray()
    prev = np.zeros(stride, np.uint8)
    for r in range(h):
        line = rows[r]
        f = (f0 + r) % 5
        left = np.concatenate([np.zeros(bpp, np.uint8), line[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
        if f == 0:
            enc = line
        elif f == 1:
            enc = line - left
        elif f == 2:
            enc = line - prev
        elif f == 3:
            enc = line - ((left.astype(np.uint16) + prev) // 2).astype(np.uint8)
        else:
            enc = line - _paeth(left, prev, upleft)
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line
    return raw


def _pack_bits(vals: np.ndarray, depth: int) -> np.ndarray:
    """(h, w) uint8 sub-byte samples -> (h, ceil(w*depth/8)) packed
    scanline bytes, MSB-first within each byte (PNG spec 7.2; the last
    byte of a scanline is zero-padded on the right)."""
    h, w = vals.shape
    shifts = np.arange(depth - 1, -1, -1, dtype=np.uint8)
    bits = ((vals[:, :, None] >> shifts) & 1).reshape(h, w * depth)
    return np.packbits(bits, axis=1)  # pads the tail bits with zeros


def _unpack_bits(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, stride) packed scanline bytes -> (h, w) uint8 samples."""
    h = rows.shape[0]
    bits = np.unpackbits(rows, axis=1)[:, : w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2).astype(np.uint8)


def _byte_rows(px: np.ndarray) -> tuple[np.ndarray, int, int]:
    """(h, w, c) uint8/uint16 pixels -> ((h, w, bypp) big-endian sample
    bytes, depth, bytes-per-pixel)."""
    h, w, ch = px.shape
    if px.dtype == np.uint16:
        return (
            px.astype(">u2").view(np.uint8).reshape(h, w, ch * 2), 16, ch * 2
        )
    return px.astype(np.uint8).reshape(h, w, ch), 8, ch


def _idat_payload(grid: np.ndarray, interlace: bool, pack) -> bytearray:
    """Filtered IDAT payload: ``grid`` is the per-pixel sample grid
    (first two axes = y, x); ``pack(sub)`` turns a (sub-)image into
    ((h, stride) scanline bytes, filter bpp).  One place owns the
    Adam7 pass geometry and the filter-type cycle continuation (f0)
    for every color layout."""
    if not interlace:
        rows, bpp = pack(grid)
        return _filter_lines(rows, bpp)
    raw = bytearray()
    f0 = 0
    for x0, y0, dx, dy in _ADAM7:
        sub = grid[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        rows, bpp = pack(sub)
        raw.extend(_filter_lines(rows, bpp, f0))
        f0 += sub.shape[0]
    return raw


def _subbyte_idat(px: np.ndarray, depth: int, interlace: bool) -> bytearray:
    """Sub-byte (1/2/4-bit) single-channel samples: scanlines pack to
    ceil(w*depth/8) bytes and filter with bpp=1 (PNG spec 9.2: filters
    act on bytes, not samples)."""
    return _idat_payload(px, interlace, lambda s: (_pack_bits(s, depth), 1))


def png_encode(
    pixels: np.ndarray, interlace: bool = False, depth: int | None = None
) -> bytes:
    """(h, w) or (h, w, c) uint8 (8-bit) or uint16 (16-bit) -> PNG
    bytes, optionally Adam7-interlaced.  ``depth`` of 1/2/4 packs
    single-channel greyscale samples sub-byte (values must fit the
    depth).  Filter types cycle across scanlines (continuing across
    interlace passes)."""
    px = np.asarray(pixels)
    if px.dtype not in (np.uint8, np.uint16):
        px = px.astype(np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    if ch not in _COLOR_TYPE:
        raise NotImplementedError(f"png_encode: {ch} channels unsupported")
    if depth in (1, 2, 4):
        if ch != 1 or px.dtype != np.uint8:
            raise ValueError("sub-byte depth needs single-channel uint8")
        if int(px.max(initial=0)) >= (1 << depth):
            raise ValueError(f"sample out of range for depth {depth}")
        ihdr = struct.pack(
            ">IIBBBBB", w, h, depth, 0, 0, 0, 1 if interlace else 0
        )
        raw = _subbyte_idat(px.reshape(h, w), depth, interlace)
        return (
            PNG_MAGIC
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
    rows, depth, bypp = _byte_rows(px)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, _COLOR_TYPE[ch], 0, 0, 1 if interlace else 0
    )
    raw = _idat_payload(
        rows, interlace,
        lambda s2: (s2.reshape(s2.shape[0], s2.shape[1] * bypp), bypp),
    )
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def png_encode_palette(
    indices: np.ndarray,
    palette: np.ndarray,
    trns: np.ndarray | None = None,
    interlace: bool = False,
    depth: int = 8,
) -> bytes:
    """(h, w) uint8 palette indices + (n, 3) uint8 palette (+ optional
    (m,) uint8 per-entry alpha) -> color-type-3 PNG bytes; ``depth`` of
    1/2/4 packs the indices sub-byte."""
    idx = np.asarray(indices, np.uint8)
    pal = np.asarray(palette, np.uint8)
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette depth {depth}")
    if pal.ndim != 2 or pal.shape[1] != 3 or not (1 <= pal.shape[0] <= 256):
        raise ValueError("palette must be (n, 3) uint8, 1 <= n <= 256")
    if int(idx.max(initial=0)) >= min(pal.shape[0], 1 << depth):
        raise ValueError("palette index out of range")
    if trns is not None and len(np.asarray(trns)) > pal.shape[0]:
        raise ValueError("tRNS longer than PLTE")
    h, w = idx.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 1 if interlace else 0)
    if depth != 8:
        raw = _subbyte_idat(idx, depth, interlace)
    else:
        raw = _idat_payload(idx, interlace, lambda s2: (s2, 1))
    out = PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", pal.tobytes())
    if trns is not None:
        out += _chunk(b"tRNS", np.asarray(trns, np.uint8).tobytes())
    return out + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")


def _unfilter(raw: bytes, h: int, stride: int, bpp: int, off: int) -> np.ndarray:
    """Unfilter ``h`` scanlines of ``stride`` bytes (``bpp`` bytes per
    pixel) starting at byte ``off`` of the decompressed IDAT stream.
    Returns (h, stride) uint8."""
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for r in range(h):
        f = raw[off + r * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, offset=off + r * (stride + 1) + 1
        ).copy()
        if f == 0:
            pass
        elif f == 2:  # Up — vectorizable
            line += prev
        elif f == 3:  # Average — left-dependence forces the pixel scan
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (int(line[i]) + ((int(a) + int(prev[i])) >> 1)) & 0xFF
        elif f == 1:  # Sub — per-byte-lane prefix sum mod 256
            line = line.reshape(-1, bpp).cumsum(axis=0, dtype=np.int64)
            line = (line & 0xFF).astype(np.uint8).reshape(-1)
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {f}")
        out[r] = line
        prev = out[r]
    return out


def png_decode(payload: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, channels) uint8 or uint16.  1/2/4/8/16-bit
    grey, 8/16-bit grey+alpha / RGB / RGBA, 1/2/4/8-bit palette (PLTE +
    optional tRNS -> RGB/RGBA), Adam7 interlacing, every scanline
    filter type.  Palette output is uint8 RGB, or RGBA when tRNS is
    present; other color types (whose tRNS is skipped) return the
    file's own channel count at its own depth — sub-byte greyscale
    comes back RAW (0..2^d-1, unscaled)."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    w = h = None
    depth = interlace = 0
    color = -1
    ch = 0
    idat = bytearray()
    ended = False
    plte: np.ndarray | None = None
    trns: np.ndarray | None = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            # bounds BEFORE the CRC slice: a truncated file must raise
            # the codec's ValueError contract, not struct.error (and a
            # short final chunk must not be misreported as a bad CRC)
            raise ValueError(f"PNG: truncated {tag!r} chunk")
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG: bad CRC in {tag!r} chunk")
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if color not in _CHANNELS:
                raise NotImplementedError(f"png_decode: color type {color}")
            ok = depth in (8, 16) or (depth in (1, 2, 4) and color in (0, 3))
            if not ok or (color == 3 and depth == 16):
                raise NotImplementedError(
                    f"png_decode: bit depth {depth} for color type {color}"
                )
            ch = _CHANNELS[color]
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS" and color == 3:
            # grey/RGB tRNS holds one 16-bit transparent sample value
            # (PNG 11.3.2); those outputs carry no alpha plane, so the
            # chunk is skipped like any other ancillary chunk
            trns = np.frombuffer(body, np.uint8)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            ended = True
            break
    if w is None:
        raise ValueError("not a PNG: missing IHDR")
    if not ended:
        # the walk ran off the end mid-header: every valid PNG closes
        # with IEND, so a missing one means the file was cut short
        raise ValueError("PNG: truncated stream (no IEND)")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    if w * h > PNG_MAX_PIXELS:
        raise ValueError(f"PNG: {w}x{h} exceeds {PNG_MAX_PIXELS} pixels")
    # the filtered scanlines IHDR implies (a filter byte + stride per
    # row of each pass); inflating one byte past them detects a longer
    # stream without materializing it (an inflate bomb)
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    expected = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if ph > 0 and (pw > 0 or not interlace):
            expected += ph * (-(-pw * ch * depth // 8) + 1)
    inflate = zlib.decompressobj()
    raw = inflate.decompress(bytes(idat), expected + 1)
    if len(raw) <= expected and not inflate.eof:
        raise zlib.error(
            "Error -5 while decompressing data: incomplete or truncated stream"
        )
    if len(raw) != expected:
        raise ValueError("PNG data length mismatch")
    if depth in (1, 2, 4):  # single-channel sub-byte: unfilter packed
        if not interlace:  # bytes (bpp=1), then unpack samples
            stride = -(-w * depth // 8)
            rows = _unpack_bits(_unfilter(raw, h, stride, 1, 0), w, depth)
        else:
            rows = np.zeros((h, w), np.uint8)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                stride = -(-pw * depth // 8)
                rows[y0::dy, x0::dx] = _unpack_bits(
                    _unfilter(raw, ph, stride, 1, off), pw, depth
                )
                off += ph * (stride + 1)
        rows = rows.reshape(h, w, 1)
        bypp = 1
    elif not interlace:
        bypp = ch * (depth // 8)
        rows = _unfilter(raw, h, w * bypp, bypp, 0).reshape(h, w, bypp)
    else:  # Adam7: 7 independently-filtered sub-images, scattered back
        bypp = ch * (depth // 8)
        rows = np.zeros((h, w, bypp), np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = pw * bypp
            rows[y0::dy, x0::dx] = _unfilter(raw, ph, stride, bypp, off).reshape(
                ph, pw, bypp
            )
            off += ph * (stride + 1)
    if depth == 16:
        out = (
            rows.reshape(h, w, ch, 2)[..., 0].astype(np.uint16) << 8
        ) | rows.reshape(h, w, ch, 2)[..., 1]
        return out
    if color == 3:
        idx = rows.reshape(h, w)
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("palette index out of range")
        rgb = plte[idx]  # (h, w, 3)
        if trns is None:
            return rgb
        alpha = np.full(plte.shape[0], 255, np.uint8)
        if len(trns) > plte.shape[0]:
            raise ValueError("PNG: tRNS longer than PLTE")
        alpha[: len(trns)] = trns
        return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
    return rows.reshape(h, w, ch)


WAV_MAGIC = b"RIFF"


# G.711 companding (µ-law format code 7, a-law code 6), pure numpy.
# Table-driven both ways; tests pin byte-exact parity with the stdlib
# audioop implementation across the full 8-bit / 16-bit domains.
_ULAW_BIAS = 0x84


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """(ulaw_decode[256] int16, alaw_decode[256] int16)."""
    c = np.arange(256)
    u = ~c & 0xFF
    mag = (((u & 0xF) << 3) + _ULAW_BIAS) << ((u >> 4) & 7)
    ulaw = np.where(u & 0x80, _ULAW_BIAS - mag, mag - _ULAW_BIAS)
    a = c ^ 0x55
    exp = (a >> 4) & 7
    mant = a & 0xF
    mag = np.where(exp, ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
                   (mant << 4) + 8)
    alaw = np.where(a & 0x80, mag, -mag)
    return ulaw.astype(np.int16), alaw.astype(np.int16)


_ULAW_DEC, _ALAW_DEC = _g711_tables()


_SEG_UEND = np.array([0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF])
_SEG_AEND = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF])


def ulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 -> µ-law bytes — the CCITT g711.c segment-search
    algorithm on the 14-bit pre-shifted sample (byte-exact with the
    stdlib audioop.lin2ulaw, pinned in pytest)."""
    pcm = np.asarray(samples, np.int32) >> 2  # 14-bit domain
    neg = pcm < 0
    mask = np.where(neg, 0x7F, 0xFF)
    pcm = np.where(neg, -pcm, pcm)
    pcm = np.minimum(pcm, 8159) + (_ULAW_BIAS >> 2)
    seg = np.searchsorted(_SEG_UEND, pcm, side="left")
    segc = np.minimum(seg, 7)
    uval = np.where(
        seg >= 8, 0x7F, (segc << 4) | ((pcm >> (segc + 1)) & 0xF)
    )
    return (uval ^ mask).astype(np.uint8)


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 -> a-law bytes — CCITT g711.c on the 13-bit pre-shifted
    sample (byte-exact with audioop.lin2alaw, pinned in pytest)."""
    pcm = np.asarray(samples, np.int32) >> 3  # 13-bit domain
    nonneg = pcm >= 0
    mask = np.where(nonneg, 0xD5, 0x55)
    pcm = np.where(nonneg, pcm, -pcm - 1)
    seg = np.searchsorted(_SEG_AEND, pcm, side="left")
    segc = np.minimum(seg, 7)
    aval = (segc << 4) | np.where(
        segc < 2, (pcm >> 1) & 0xF, (pcm >> segc) & 0xF
    )
    aval = np.where(seg >= 8, 0x7F, aval)
    return (aval ^ mask).astype(np.uint8)


def wav_encode(
    samples: np.ndarray, sample_rate: int = 16000, fmt: str = "pcm16"
) -> bytes:
    """(n,) or (n, channels) samples -> RIFF WAV bytes.  ``fmt``:
    pcm16 (int16, the default and the q92 hash path), pcm8 (unsigned
    offset-binary per the spec), pcm24 (3-byte LE from int32), pcm32
    (int32), float32 (IEEE format code 3), alaw/ulaw (G.711 companded
    from int16)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if fmt == "pcm16":
        code, bits, data = 1, 16, s.astype("<i2").tobytes()
    elif fmt == "pcm8":
        code, bits, data = 1, 8, s.astype(np.uint8).tobytes()
    elif fmt == "pcm24":
        le32 = s.astype("<i4").view(np.uint8).reshape(n, ch, 4)
        code, bits, data = 1, 24, le32[:, :, :3].tobytes()  # low 3 bytes
    elif fmt == "pcm32":
        code, bits, data = 1, 32, s.astype("<i4").tobytes()
    elif fmt == "float32":
        code, bits, data = 3, 32, s.astype("<f4").tobytes()
    elif fmt == "alaw":
        code, bits, data = 6, 8, alaw_encode(s).tobytes()
    elif fmt == "ulaw":
        code, bits, data = 7, 8, ulaw_encode(s).tobytes()
    else:
        raise NotImplementedError(f"wav_encode: format {fmt!r}")
    bypp = bits // 8
    fmtc = struct.pack(
        "<HHIIHH", code, ch, sample_rate, sample_rate * ch * bypp,
        ch * bypp, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmtc)) + fmtc
        + b"data" + struct.pack("<I", len(data)) + data
    )
    if len(data) & 1:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_format(payload: bytes) -> tuple[int, int]:
    """WAV bytes -> (format code, bits per sample) from the fmt chunk
    — lets feature extractors pick the right full-scale normalizer for
    whatever wav_decode returns."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)
        if tag == b"fmt ":
            (code,) = struct.unpack("<H", body[:2])
            (bits,) = struct.unpack("<H", body[14:16])
            return code, bits
    raise ValueError("not a WAV: missing fmt chunk")


def wav_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> ((n, channels) samples, sample_rate).  PCM 8-bit
    (returned uint8, offset-binary as stored), 16-bit (int16), 24-bit
    (sign-extended int32), 32-bit (int32), IEEE float32 (format code
    3), and G.711 a-law/u-law (codes 6/7, expanded to linear int16).
    Other format codes (ADPCM, ...) raise — the documented seam."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    rate = None
    ch = None
    data = None
    audio_fmt = bits = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            audio_fmt, ch, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            ok = (
                (audio_fmt == 1 and bits in (8, 16, 24, 32))
                or (audio_fmt == 3 and bits == 32)
                or (audio_fmt in (6, 7) and bits == 8)  # G.711 a/µ-law
            )
            if not ok:
                raise NotImplementedError(
                    f"wav_decode: format {audio_fmt}/{bits}-bit"
                )
        elif tag == b"data":
            data = body
    if rate is None or data is None:
        raise ValueError("not a WAV: missing fmt/data chunk")
    if audio_fmt == 3:
        s = np.frombuffer(data, "<f4")
    elif audio_fmt == 6:  # a-law -> linear int16
        s = _ALAW_DEC[np.frombuffer(data, np.uint8)]
    elif audio_fmt == 7:  # µ-law -> linear int16
        s = _ULAW_DEC[np.frombuffer(data, np.uint8)]
    elif bits == 8:
        s = np.frombuffer(data, np.uint8)
    elif bits == 16:
        s = np.frombuffer(data, "<i2")
    elif bits == 32:
        s = np.frombuffer(data, "<i4")
    else:  # 24-bit: widen to int32 with sign extension
        tri = np.frombuffer(data, np.uint8).reshape(-1, 3)
        wide = np.zeros((tri.shape[0], 4), np.uint8)
        wide[:, :3] = tri
        s = wide.view("<u4").reshape(-1).astype(np.int64)
        s = np.where(s >= 1 << 23, s - (1 << 24), s).astype(np.int32)
    return s.reshape(-1, ch), rate


# ---------------------------------------------------------------------------
# AVI (RIFF 'AVI '): uncompressed 24-bit DIB video, pure python.
#
# Scope: the canonical uncompressed layout — one 'vids'/'DIB ' stream,
# BI_RGB BITMAPINFOHEADER, '00db'/'00dc' frame chunks holding bottom-up
# BGR rows with 4-byte row stride.  Compressed codecs (MJPG, h264, ...)
# raise NotImplementedError — the seam where pyav/ffmpeg plugs in.
# This makes the VIDEO decode + frame-sample path real end-to-end for
# the container a test/datagen pipeline can synthesize deterministically.
# ---------------------------------------------------------------------------


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) & 1 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _riff_list(listtype: bytes, children: bytes) -> bytes:
    return _riff_chunk(b"LIST", listtype + children)


def avi_encode(frames: np.ndarray, fps: int = 10) -> bytes:
    """(n, h, w, 3) uint8 RGB frames -> uncompressed AVI bytes
    (RIFF/AVI, BI_RGB bottom-up BGR DIB frames, 4-byte row stride)."""
    fr = np.asarray(frames, np.uint8)
    if fr.ndim != 4 or fr.shape[3] != 3:
        raise ValueError("avi_encode: frames must be (n, h, w, 3) uint8")
    n, h, w, _ = fr.shape
    stride = (w * 3 + 3) & ~3
    avih = struct.pack(
        "<14I", 1_000_000 // fps, stride * h * fps, 0, 0, n, 0, 1,
        stride * h, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHH", 0, 0, 0)
        + struct.pack("<7I", 0, 1, fps, 0, n, stride * h, 0)
        + struct.pack("<I", 0) + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = bytearray()
    pad_cols = stride - w * 3
    for f in range(n):
        bgr = fr[f, ::-1, :, ::-1]  # bottom-up rows, BGR samples
        rows = bgr.reshape(h, w * 3)
        if pad_cols:
            rows = np.concatenate(
                [rows, np.zeros((h, pad_cols), np.uint8)], axis=1
            )
        movi += _riff_chunk(b"00db", rows.tobytes())
    body = b"AVI " + hdrl + _riff_list(b"movi", bytes(movi))
    return b"RIFF" + struct.pack("<I", len(body)) + body


# real AVIs nest LISTs at most ~4 deep (RIFF > hdrl > strl, movi > rec);
# the cap keeps a crafted deep nest from exhausting the Python stack
_AVI_MAX_LIST_DEPTH = 16


def avi_decode(payload: bytes) -> tuple[np.ndarray, float]:
    """Uncompressed AVI bytes -> ((n, h, w, 3) uint8 RGB frames, fps).
    Walks the RIFF tree for avih (dims), strh (rate/scale), strf
    (BI_RGB 24-bit check) and every '..db'/'..dc' frame chunk in the
    movi list; compressed streams raise NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF/AVI header")
    w = h = None
    fps = 0.0
    stream_type = b""  # fccType of the enclosing strl's strh
    frames: list[np.ndarray] = []

    def walk(lo: int, hi: int, depth: int) -> None:
        # offset-based walk: no intermediate byte copies — a large
        # uncompressed AVI would otherwise be duplicated per nesting
        # level (payload -> LIST body -> movi body -> frame)
        nonlocal w, h, fps, stream_type
        if depth > _AVI_MAX_LIST_DEPTH:
            raise ValueError(f"AVI: LIST nesting deeper than {_AVI_MAX_LIST_DEPTH}")
        p = lo
        while p + 8 <= hi:
            fourcc = payload[p : p + 4]
            (ln,) = struct.unpack("<I", payload[p + 4 : p + 8])
            d0, d1 = p + 8, min(p + 8 + ln, hi)
            p += 8 + ln + (ln & 1)
            if fourcc == b"LIST":
                walk(d0 + 4, d1, depth + 1)
            elif fourcc == b"avih":
                vals = struct.unpack("<14I", payload[d0 : d0 + 56])
                w, h = vals[8], vals[9]
            elif fourcc == b"strh":
                stream_type = payload[d0 : d0 + 4]
                if stream_type == b"vids":
                    scale, rate = struct.unpack(
                        "<II", payload[d0 + 20 : d0 + 28]
                    )
                    fps = rate / scale if scale else 0.0
            elif fourcc == b"strf" and stream_type == b"vids":
                # only the video stream's strf is a BITMAPINFOHEADER;
                # an audio strl's strf (WAVEFORMATEX) has a different
                # layout and must not be parsed as bits/compression
                bits, comp = struct.unpack(
                    "<HI", payload[d0 + 14 : d0 + 20]
                )
                if comp != 0 or bits != 24:
                    raise NotImplementedError(
                        f"avi_decode: compression {comp}/{bits}-bit "
                        "(uncompressed 24-bit BI_RGB only)"
                    )
            elif fourcc[2:] in (b"db", b"dc"):
                if w is None:
                    raise ValueError("AVI: frame before headers")
                stride = (w * 3 + 3) & ~3
                if d1 - d0 != stride * h:
                    raise ValueError("AVI: frame size mismatch")
                rows = np.frombuffer(
                    payload, np.uint8, stride * h, offset=d0
                ).reshape(h, stride)
                bgr = rows[:, : w * 3].reshape(h, w, 3)
                frames.append(bgr[::-1, :, ::-1].copy())  # top-down, RGB

    walk(12, len(payload), 0)
    if w is None or not frames:
        raise ValueError("AVI: missing headers or frames")
    return np.stack(frames), fps


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81): pure-python encoder + decoder.
#
# Scope (documented seam boundaries, like PNG's): baseline sequential
# DCT, 8-bit, 1 component (greyscale) or 3 components YCbCr at 4:4:4 /
# 4:2:2 / 4:2:0 sampling, interleaved single scan, restart intervals
# (DRI/RSTn), standard Annex K huffman tables.  Progressive (SOF2),
# and extended/lossless SOFs raise NotImplementedError.  The encoder exists so tests/datagen synthesize
# REAL bitstreams deterministically (headers, canonical huffman,
# byte-stuffing, zigzag, DC prediction all on the hash path).
# ---------------------------------------------------------------------------

JPEG_MAGIC = b"\xff\xd8\xff"

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], np.int64)

# Annex K.3 typical huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
assert len(_AC_LUMA[1]) == sum(_AC_LUMA[0]) == 162
assert len(_AC_CHROMA[1]) == sum(_AC_CHROMA[0]) == 162

# flat-8 default quant tables: near-lossless at 8-bit inputs AND exact
# for flat blocks (DC = 8*(v-128) / 8 = v-128; see q94's closed form)
_Q_FLAT8 = np.full(64, 8, np.int64)


def _dct_basis() -> np.ndarray:
    """C[u, x] = a(u)/2 * cos((2x+1) u pi / 16); F = C f C^T, f = C^T F C."""
    u = np.arange(8)[:, None].astype(np.float64)
    x = np.arange(8)[None, :].astype(np.float64)
    c = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    c[0] /= np.sqrt(2.0)
    return c


_DCT_C = _dct_basis()


def _canonical_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits), canonical JPEG assignment (T.81 C.2)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for n in range(1, 17):
        for _ in range(bits[n - 1]):
            out[huffval[k]] = (code, n)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], huffval: list[int]) -> dict[tuple[int, int], int]:
    """(nbits, code) -> symbol, inverse of _canonical_codes."""
    return {(n, c): s for s, (c, n) in _canonical_codes(bits, huffval).items()}


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (code & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def pad(self) -> None:
        """Pad the partial byte with 1-bits (T.81 F.1.2.3 / before a
        restart marker, B.2.1.2).  Exactly 8-n bits: the historical
        ``7 - ((n-1) % 8) + 1`` padded 9-n, leaving a stray bit in the
        accumulator — harmless at flush (dropped) but corrupting for
        anything written after the pad."""
        if self.n:
            self.put(0x7F, 8 - self.n)

    def restart(self, m: int) -> None:
        """Byte-align and emit RSTm; markers are never byte-stuffed."""
        self.pad()
        self.buf += bytes([0xFF, 0xD0 + (m & 7)])

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(bw: _BitWriter, zz: np.ndarray, prev_dc: int, dc_codes, ac_codes) -> int:
    diff = int(zz[0]) - prev_dc
    size = _category(diff)
    code, n = dc_codes[size]
    bw.put(code, n)
    if size:
        bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, n = ac_codes[0xF0]  # ZRL
            bw.put(code, n)
            run -= 16
        size = _category(v)
        code, n = ac_codes[(run << 4) | size]
        bw.put(code, n)
        bw.put(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, n = ac_codes[0x00]  # EOB
        bw.put(code, n)
    return int(zz[0])


def _chroma_downsample(plane: np.ndarray, hs: int, vs: int) -> np.ndarray:
    """Box-mean chroma downsample by (hs, vs) with edge-replicate pad
    to full sampling cells (the common encoder convention; a flat cell
    downsamples exactly to its value, which q96's oracle relies on)."""
    h, w = plane.shape
    ph, pw = -(-h // vs) * vs, -(-w // hs) * hs
    p = np.empty((ph, pw), np.float64)
    p[:h, :w] = plane
    p[h:, :w] = plane[h - 1 : h, :w]
    p[:, w:] = p[:, w - 1 : w]
    return np.rint(p.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3)))


def _component_blocks(
    plane: np.ndarray, q: np.ndarray, mult: tuple[int, int] = (1, 1)
) -> np.ndarray:
    """(h, w) uint8 plane -> [bh, bw, 64] zigzagged quantized coeffs;
    the block grid rounds up to multiples of ``mult`` = (v, h) sampling
    factors so MCUs are always complete (T.81 A.2.4)."""
    h, w = plane.shape
    mv, mh = mult
    bh = -(-(-(-h // 8)) // mv) * mv
    bw = -(-(-(-w // 8)) // mh) * mh
    padded = np.empty((bh * 8, bw * 8), np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = plane[-1:, :]  # edge-replicate pad
    padded[:, w:] = padded[:, w - 1 : w]
    padded -= 128.0
    out = np.empty((bh, bw, 64), np.int64)
    qz = q.reshape(8, 8)
    for by in range(bh):
        for bx in range(bw):
            f = _DCT_C @ padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] @ _DCT_C.T
            out[by, bx] = np.rint(f / qz).astype(np.int64).reshape(-1)[_ZIGZAG]
    return out


def _jpeg_components(
    px: np.ndarray,
    quant_luma: np.ndarray | None,
    quant_chroma: np.ndarray | None,
    subsampling: str,
):
    """Shared encoder front half: pixels -> per-component quantized
    coefficient grids (+ resolved quant tables and sampling layout)."""
    grey = px.ndim == 2
    if not grey and px.shape[2] != 3:
        raise NotImplementedError(f"jpeg_encode: {px.shape[2]} channels")
    if subsampling not in ("444", "422", "420"):
        raise NotImplementedError(f"jpeg_encode: subsampling {subsampling!r}")
    hs, vs = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    if grey:
        hs = vs = 1
    ql = (_Q_FLAT8 if quant_luma is None else np.asarray(quant_luma, np.int64)).reshape(-1)
    qc = (_Q_FLAT8 if quant_chroma is None else np.asarray(quant_chroma, np.int64)).reshape(-1)
    if grey:
        comps = [_component_blocks(px.astype(np.float64), ql)]
    else:
        r, g, b = (px[..., i].astype(np.float64) for i in range(3))
        y = np.clip(np.rint(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
        cb = np.clip(np.rint(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255)
        cr = np.clip(np.rint(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255)
        if hs > 1 or vs > 1:
            cb = _chroma_downsample(cb, hs, vs)
            cr = _chroma_downsample(cr, hs, vs)
        comps = [
            _component_blocks(y, ql, (vs, hs)),
            _component_blocks(cb, qc),
            _component_blocks(cr, qc),
        ]
    return comps, ql, qc, hs, vs, grey


def _dqt_segment(tq: int, q: np.ndarray) -> bytes:
    """DQT marker segment; entries over 255 switch to 16-bit precision
    (Pq=1, big-endian) automatically."""
    vals = [int(q[_ZIGZAG[k]]) for k in range(64)]
    if max(vals) > 255:
        body = bytes([(1 << 4) | tq]) + b"".join(
            struct.pack(">H", v) for v in vals
        )
    else:
        body = bytes([tq]) + bytes(vals)
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def jpeg_encode(
    pixels: np.ndarray,
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w) grey or (h, w, 3) RGB uint8 -> baseline JPEG bytes
    (Annex K huffman tables, flat-8 quant by default; ``subsampling``
    picks the chroma layout: '444', '422', or '420' — the 4:4:4 scan
    is byte-identical to the pre-subsampling encoder).  A positive
    ``restart_interval`` emits a DRI segment and an RSTn marker (with
    byte-align padding and DC-prediction reset) every that many MCUs."""
    px = np.asarray(pixels, np.uint8)
    comps, ql, qc, hs, vs, grey = _jpeg_components(
        px, quant_luma, quant_chroma, subsampling
    )
    h, w = px.shape[:2]

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT (8-bit precision)
    for tq, q in ([(0, ql)] if grey else [(0, ql), (1, qc)]):
        out += _dqt_segment(tq, q)
    # SOF0 — or SOF1 (extended sequential) when a quant entry exceeds
    # 255: T.81 B.2.4.1 forbids Pq=1 DQT in a baseline stream, and the
    # entropy-coded scan is bit-identical between the two modes at
    # 8-bit precision, so the switch only changes the SOF marker
    ncomp = 1 if grey else 3
    pq16 = int(ql.max()) > 255 or (not grey and int(qc.max()) > 255)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        samp = ((hs << 4) | vs) if ci == 0 else 0x11
        sof += bytes([ci + 1, samp, 0 if ci == 0 else 1])
    out += (b"\xff\xc1" if pq16 else b"\xff\xc0") + struct.pack(
        ">H", len(sof) + 2
    ) + sof
    # DHT
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if not grey:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tcth, (bits, vals) in tables:
        body = bytes([tcth]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    # DRI (B.2.4.4) — restart every `restart_interval` MCUs
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    # interleaved entropy-coded scan (one block per component per MCU)
    dc_codes = [_canonical_codes(*(_DC_LUMA if i == 0 else _DC_CHROMA)) for i in range(ncomp)]
    ac_codes = [_canonical_codes(*(_AC_LUMA if i == 0 else _AC_CHROMA)) for i in range(ncomp)]
    # MCU-interleaved scan (T.81 A.2.3): (vs*hs) luma blocks in raster
    # order within the MCU, then one block per chroma component
    mcuy = comps[0].shape[0] // vs
    mcux = comps[0].shape[1] // hs
    bwriter = _BitWriter()
    prev = [0] * ncomp
    mcu_n = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                bwriter.restart(mcu_n // restart_interval - 1)
                prev = [0] * ncomp
            mcu_n += 1
            for v in range(vs):
                for hh in range(hs):
                    prev[0] = _encode_block(
                        bwriter, comps[0][by * vs + v, bx * hs + hh],
                        prev[0], dc_codes[0], ac_codes[0],
                    )
            for ci in range(1, ncomp):
                prev[ci] = _encode_block(
                    bwriter, comps[ci][by, bx], prev[ci], dc_codes[ci], ac_codes[ci]
                )
    out += bwriter.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# Progressive scans use EOBn symbols (r<<4 with s=0, r<15) that the
# sequential Annex K AC tables don't carry, so the progressive encoder
# ships simple uniform tables covering every possible symbol: all 256
# byte values at 9/10 bits (canonical, never the all-ones code).
_UNIFORM_AC = ([0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0],
               list(range(256)))
_UNIFORM_DC = ([0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
               list(range(12)))


def _prog_default_scans(ncomp: int) -> list[tuple]:
    """Complete successive-approximation scan script (libjpeg-style):
    every band refines down to Al=0, so the final coefficients equal
    the sequential encoder's exactly.  Entries: (comp_ids, Ss, Se, Ah,
    Al); comp_ids=None means all components (DC scans only)."""
    if ncomp == 1:
        return [
            (None, 0, 0, 0, 1),   # DC first, point-transformed
            ([0], 1, 5, 0, 2),    # AC band 1-5 first at Al=2
            ([0], 6, 63, 0, 2),   # AC band 6-63 first at Al=2
            ([0], 1, 63, 2, 1),   # AC refine Al 2->1
            (None, 0, 0, 1, 0),   # DC refine
            ([0], 1, 63, 1, 0),   # AC refine Al 1->0
        ]
    return [
        (None, 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([1], 1, 63, 0, 1),
        ([2], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        (None, 0, 0, 1, 0),
        ([0], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([2], 1, 63, 1, 0),
    ]


def _comp_block_grid(h: int, w: int, hi: int, vi: int, hmax: int, vmax: int):
    """Non-interleaved scan geometry (T.81 A.2.2): the component's OWN
    block grid — ceil over its scaled pixel dims, NOT the MCU grid."""
    cw = -(-w * hi // hmax)
    ch_ = -(-h * vi // vmax)
    return -(-ch_ // 8), -(-cw // 8)


class _AcRefineState:
    """Pending EOB-run state for an AC refinement scan (the mirror of
    T.81 G.1.2.3, two correction-bit pools like libjpeg's jcphuff):
    ``be`` holds the correction bits of blocks ALREADY folded into the
    pending EOB run (emitted right after the EOBn symbol); the current
    block's bits live in a local buffer and are emitted after the next
    in-block symbol (ZRL / newly-nonzero) — mixing the pools would make
    the decoder read a finished block's tail bits as the next block's
    huffman symbol."""

    def __init__(self):
        self.eobrun = 0
        self.be: list[int] = []


def _emit_eobrun(bw: _BitWriter, ac_codes, st) -> None:
    """Flush a pending EOB run: EOBn symbol + extra bits, then the
    run's buffered correction bits.  No-op when no run is pending."""
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        code, n = ac_codes[nbits << 4]
        bw.put(code, n)
        if nbits:
            bw.put(st.eobrun & ((1 << nbits) - 1), nbits)
        st.eobrun = 0
        for b in st.be:
            bw.put(b, 1)
        st.be = []


def _encode_ac_first(
    bw: _BitWriter, zz: np.ndarray, ss: int, se: int, al: int, ac_codes, st
) -> None:
    """One block of an AC first scan (Ah=0): EOBn run-length across
    blocks, point transform |v| >> Al with sign restored."""
    r = 0
    vals = []
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = (abs(v) >> al)
        vals.append(-t if v < 0 else t)
    last_nz = -1
    for i, t in enumerate(vals):
        if t:
            last_nz = i
    if last_nz < 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _emit_eobrun(bw, ac_codes, st)
        return
    _emit_eobrun(bw, ac_codes, st)
    for i in range(last_nz + 1):
        t = vals[i]
        if t == 0:
            r += 1
            continue
        while r > 15:
            code, n = ac_codes[0xF0]
            bw.put(code, n)
            r -= 16
        size = _category(t)
        code, n = ac_codes[(r << 4) | size]
        bw.put(code, n)
        bw.put(t if t >= 0 else t + (1 << size) - 1, size)
        r = 0
    if last_nz < len(vals) - 1:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _emit_eobrun(bw, ac_codes, st)


def _encode_ac_refine(
    bw: _BitWriter, zz: np.ndarray, ss: int, se: int, al: int, ac_codes, st
) -> None:
    """One block of an AC refinement scan (Ah = Al+1): newly-nonzero
    coefficients code as (r<<4)|1 + sign, history coefficients append
    correction bits, trailing content folds into the EOB run."""
    absvals = []
    for k in range(ss, se + 1):
        absvals.append(abs(int(zz[k])) >> al)
    eob = -1
    for i, t in enumerate(absvals):
        if t == 1:
            eob = i
    r = 0
    br: list[int] = []  # the CURRENT block's correction bits
    for i, t in enumerate(absvals):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            _emit_eobrun(bw, ac_codes, st)
            code, n = ac_codes[0xF0]
            bw.put(code, n)
            r -= 16
            for b in br:
                bw.put(b, 1)
            br = []
        if t > 1:  # history coefficient: buffered correction bit
            br.append(t & 1)
            continue
        _emit_eobrun(bw, ac_codes, st)
        code, n = ac_codes[(r << 4) | 1]
        bw.put(code, n)
        bw.put(0 if int(zz[ss + i]) < 0 else 1, 1)
        for b in br:
            bw.put(b, 1)
        br = []
        r = 0
    if r > 0 or br:  # tail joins the EOB run; its bits follow the EOBn
        st.eobrun += 1
        st.be.extend(br)
        if st.eobrun == 0x7FFF:
            _emit_eobrun(bw, ac_codes, st)


def jpeg_encode_progressive(
    pixels: np.ndarray,
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
    scans: list[tuple] | None = None,
) -> bytes:
    """(h, w) grey or (h, w, 3) RGB uint8 -> PROGRESSIVE JPEG bytes
    (SOF2): spectral selection + successive approximation per the
    default libjpeg-style scan script (or a caller ``scans`` list of
    (comp_ids|None, Ss, Se, Ah, Al)).  The script refines every band
    to Al=0, so the decoded coefficients are IDENTICAL to
    ``jpeg_encode``'s for the same pixels — the parity the tests pin.
    Restart intervals apply per scan (MCU = one block in the
    non-interleaved AC scans)."""
    px = np.asarray(pixels, np.uint8)
    comps, ql, qc, hs, vs, grey = _jpeg_components(
        px, quant_luma, quant_chroma, subsampling
    )
    h, w = px.shape[:2]
    ncomp = len(comps)
    samps = [(hs, vs) if ci == 0 else (1, 1) for ci in range(ncomp)]
    scans = _prog_default_scans(ncomp) if scans is None else scans

    out = bytearray(b"\xff\xd8")
    for tq, q in ([(0, ql)] if grey else [(0, ql), (1, qc)]):
        out += _dqt_segment(tq, q)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        samp = ((hs << 4) | vs) if ci == 0 else 0x11
        sof += bytes([ci + 1, samp, 0 if ci == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # SOF2
    for tcth, (bits, vals) in ((0x00, _UNIFORM_DC), (0x10, _UNIFORM_AC)):
        body = bytes([tcth]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    dc_codes = _canonical_codes(*_UNIFORM_DC)
    ac_codes = _canonical_codes(*_UNIFORM_AC)

    mcuy = comps[0].shape[0] // vs
    mcux = comps[0].shape[1] // hs
    for comp_ids, ss, se, ah, al in scans:
        ids = list(range(ncomp)) if comp_ids is None else list(comp_ids)
        sos = bytes([len(ids)])
        for ci in ids:
            sos += bytes([ci + 1, 0x00])  # both tables are table 0
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        bw = _BitWriter()
        st = _AcRefineState()
        if ss == 0:  # DC scan: MCU-interleaved (ns>1) or the single
            # component's own grid (ns=1, T.81 A.2.2) — mirroring the
            # decoder's geometry exactly
            prev = [0] * ncomp
            single = len(ids) == 1
            if single:
                gh, gw = _comp_block_grid(h, w, *samps[ids[0]], hs, vs)
            else:
                gh, gw = mcuy, mcux
            mcu_n = 0
            for by in range(gh):
                for bx in range(gw):
                    if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                        bw.restart(mcu_n // restart_interval - 1)
                        prev = [0] * ncomp
                    mcu_n += 1
                    for ci in ids:
                        hi, vi = (1, 1) if single else samps[ci]
                        for v in range(vi):
                            for hh in range(hi):
                                dc = int(comps[ci][by * vi + v, bx * hi + hh][0])
                                if ah == 0:  # first: diff of dc >> Al
                                    tv = dc >> al  # arithmetic shift (F.1.4.1)
                                    diff = tv - prev[ci]
                                    prev[ci] = tv
                                    size = _category(diff)
                                    code, n = dc_codes[size]
                                    bw.put(code, n)
                                    if size:
                                        bw.put(
                                            diff if diff >= 0 else diff + (1 << size) - 1,
                                            size,
                                        )
                                else:  # refinement: one raw bit
                                    bw.put((dc >> al) & 1, 1)
        else:  # AC scan: non-interleaved, the component's own grid
            if len(ids) != 1:
                raise ValueError(
                    "progressive AC scan must be single-component (A.2.2)"
                )
            ci = ids[0]
            hi, vi = samps[ci]
            hb, wb = _comp_block_grid(h, w, hi, vi, hs, vs)
            enc = _encode_ac_first if ah == 0 else _encode_ac_refine
            mcu_n = 0
            for by in range(hb):
                for bx in range(wb):
                    if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                        _emit_eobrun(bw, ac_codes, st)
                        bw.restart(mcu_n // restart_interval - 1)
                    mcu_n += 1
                    enc(bw, comps[ci][by, bx], ss, se, al, ac_codes, st)
            _emit_eobrun(bw, ac_codes, st)
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG: entropy data exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _read_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for n in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((n, code))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _entropy_segments(payload: bytes, start: int):
    """Unstuff entropy-coded data from ``start`` to the next true
    marker; RSTn markers split it into independently byte-aligned
    segments (E.2.4).  Returns (segments, position of next marker)."""
    segments: list[bytes] = []
    raw = bytearray()
    p = start
    while p < len(payload):
        b = payload[p]
        if b == 0xFF:
            nxt = payload[p + 1] if p + 1 < len(payload) else 0xD9
            if nxt == 0x00:
                raw.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(raw))
                raw = bytearray()
                p += 2
                continue
            break  # EOI or next marker
        raw.append(b)
        p += 1
    segments.append(bytes(raw))
    return segments, p


def _dec_ac_first(br, zz, ss, se, al, actab, eobrun):
    """AC first scan, one block (G.1.2.2): EOBn run-length across
    blocks; values arrive point-transformed, reconstruct << Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(br, actab)
        r, s = sym >> 4, sym & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += br.bits(r)
            return eobrun - 1  # current block consumed by the run
        k += r
        if k > se:
            raise ValueError("JPEG: AC index overflow")
        zz[k] = _extend(br.bits(s), s) << al
        k += 1
    return 0


def _dec_ac_refine(br, zz, ss, se, al, actab, eobrun):
    """AC refinement scan, one block (G.1.2.3): newly-nonzero
    coefficients land at the (r+1)-th zero-HISTORY position; every
    already-nonzero position passed consumes a correction bit that
    pushes the magnitude up by 1<<Al."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(br, actab)
            r, s = sym >> 4, sym & 15
            val = 0
            if s:
                if s != 1:
                    raise ValueError("JPEG: bad refinement symbol")
                val = p1 if br.bit() else m1
            elif r != 15:  # EOBn: rest of block joins the run below
                eobrun = 1 << r
                if r:
                    eobrun += br.bits(r)
                break
            # advance over r zero-history positions (16 for ZRL),
            # correcting the nonzero ones along the way
            while k <= se:
                if zz[k] != 0:
                    if br.bit() and (int(zz[k]) & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB-run tail: corrections only
            if zz[k] != 0:
                if br.bit() and (int(zz[k]) & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def jpeg_decode_coeffs(payload: bytes):
    """Parse a sequential (SOF0/SOF1) or progressive (SOF2) JPEG down to its
    quantized coefficient blocks: returns (h, w, [per-component
    [bh, bw, 64] zigzag coeff arrays], [per-component dequant tables],
    [per-component (h_i, v_i) sampling factors]).  Progressive files
    walk EVERY scan — DC/AC first passes and successive-approximation
    refinements (T.81 G.1.2), with per-scan restart intervals —
    accumulating into the same coefficient arrays, so the return value
    is scan-script-independent.  Split from jpeg_decode so tests can
    pin the bitstream layer EXACTLY against the encoder's
    coefficients, independent of IDCT float tolerance."""
    if payload[:3] != JPEG_MAGIC[:3] or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    ri = 0  # restart interval in MCUs (0 = none)
    h = w = None
    progressive = False
    comps: list[tuple[int, int, int]] = []  # (id, tq, sampling)
    samps: list[tuple[int, int]] = []
    blocks: list[np.ndarray] | None = None
    hmax = vmax = mcux = mcuy = 0
    seen_scan = False

    def _decode_scan(segments, scan, ss, se, ah, al):
        state = {"i": 0, "br": _BitReader(segments[0])}

        def advance():
            state["i"] += 1
            if state["i"] >= len(segments):
                raise ValueError("JPEG: missing restart segment")
            state["br"] = _BitReader(segments[state["i"]])

        if not progressive:  # baseline: one full interleaved scan
            prev = [0] * len(comps)

            def _block(zz, tdc, tac, idx):
                br = state["br"]
                size = _read_symbol(br, huff[(0, tdc)])
                if size > 11:
                    # T.81 F.1.2.1.1: DC diff categories 0-11 at 8-bit
                    # precision; a larger "category" only arises from a
                    # corrupt stream and would build an unbounded Python
                    # int (-> OverflowError on the int64 store)
                    raise ValueError("JPEG: invalid DC size category")
                diff = _extend(br.bits(size), size) if size else 0
                prev[idx] += diff
                zz[0] = prev[idx]
                k = 1
                while k < 64:
                    sym = _read_symbol(br, huff[(1, tac)])
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += sym >> 4
                    size = sym & 0xF
                    if k > 63:
                        raise ValueError("JPEG: AC index overflow")
                    zz[k] = _extend(br.bits(size), size)
                    k += 1

            # a 1-component scan is non-interleaved: one block per MCU
            # over the component's OWN grid (T.81 A.2.2) — multi-scan
            # baseline files from other encoders use this layout
            single = len(scan) == 1
            if single:
                gh, gw = _comp_block_grid(h, w, *samps[scan[0][0]], hmax, vmax)
            else:
                gh, gw = mcuy, mcux
            mcu_n = 0
            for by in range(gh):
                for bx in range(gw):
                    if ri and mcu_n and mcu_n % ri == 0:
                        advance()  # realign + reset DC prediction
                        prev = [0] * len(comps)
                    mcu_n += 1
                    for idx, tdc, tac in scan:
                        hi, vi = (1, 1) if single else samps[idx]
                        for v in range(vi):
                            for hh in range(hi):
                                _block(
                                    blocks[idx][by * vi + v, bx * hi + hh],
                                    tdc, tac, idx,
                                )
            return

        if ss == 0:  # progressive DC scan (first or refinement)
            if se != 0:
                raise ValueError("JPEG: progressive scan mixes DC and AC")
            prev = [0] * len(comps)
            single = len(scan) == 1
            if single:
                idx0 = scan[0][0]
                hb, wb = _comp_block_grid(h, w, *samps[idx0], hmax, vmax)
            else:
                hb, wb = mcuy, mcux
            mcu_n = 0
            for by in range(hb):
                for bx in range(wb):
                    if ri and mcu_n and mcu_n % ri == 0:
                        advance()
                        prev = [0] * len(comps)
                    mcu_n += 1
                    for idx, tdc, _tac in scan:
                        hi, vi = (1, 1) if single else samps[idx]
                        for v in range(vi):
                            for hh in range(hi):
                                zz = blocks[idx][by * vi + v, bx * hi + hh]
                                br = state["br"]
                                if ah == 0:
                                    size = _read_symbol(br, huff[(0, tdc)])
                                    if size > 11:
                                        # T.81 F.1.2.1.1 (see baseline)
                                        raise ValueError(
                                            "JPEG: invalid DC size category"
                                        )
                                    diff = (
                                        _extend(br.bits(size), size)
                                        if size
                                        else 0
                                    )
                                    prev[idx] += diff
                                    zz[0] = prev[idx] << al
                                elif br.bit():
                                    zz[0] = int(zz[0]) | (1 << al)
            return

        # progressive AC scan: non-interleaved, one component
        if len(scan) != 1:
            raise ValueError("JPEG: progressive AC scan must be 1-component")
        idx, _tdc, tac = scan[0]
        actab = huff[(1, tac)]
        hb, wb = _comp_block_grid(h, w, *samps[idx], hmax, vmax)
        dec = _dec_ac_first if ah == 0 else _dec_ac_refine
        eobrun = 0
        mcu_n = 0
        for by in range(hb):
            for bx in range(wb):
                if ri and mcu_n and mcu_n % ri == 0:
                    advance()
                    eobrun = 0
                mcu_n += 1
                eobrun = dec(
                    state["br"], blocks[idx][by, bx], ss, se, al, actab, eobrun
                )

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        m = payload[pos + 1]
        if m == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if m == 0xDB:  # DQT (Pq=0: 8-bit entries; Pq=1: 16-bit BE)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq not in (0, 1):
                    raise ValueError(f"jpeg_decode: DQT precision {pq}")
                if pq:
                    zz = np.frombuffer(body[o + 1 : o + 129], ">u2").astype(np.int64)
                else:
                    zz = np.frombuffer(body[o + 1 : o + 65], np.uint8).astype(np.int64)
                q = np.zeros(64, np.int64)
                q[_ZIGZAG] = zz
                qt[tq] = q
                o += 129 if pq else 65
        elif m == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1 : o + 17])
                nv = sum(bits)
                vals = list(body[o + 17 : o + 17 + nv])
                huff[(tc, th)] = _decode_table(bits, vals)
                o += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive — at 8-bit precision SOF1 decodes exactly
            # like SOF0 (same huffman scan), it merely licenses Pq=1
            # quant tables that baseline forbids
            progressive = m == 0xC2
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if _prec != 8:
                # SOF1/SOF2 license 12-bit precision (T.81 Table B.2);
                # this decoder's huffman/IDCT path is 8-bit only — a
                # 12-bit stream must quarantine, not clip to garbage
                raise NotImplementedError(
                    f"jpeg_decode: {_prec}-bit precision (8-bit only)"
                )
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0xF
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise NotImplementedError(
                        f"jpeg_decode: sampling factors {hi}x{vi}"
                    )
                comps.append((cid, tq, samp))
            samps = [(c[2] >> 4, c[2] & 0xF) for c in comps]
            hmax = max(s[0] for s in samps)
            vmax = max(s[1] for s in samps)
            # MCU grid (A.1.1/A.2.4): MCU-padded storage; decode crops
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            blocks = [
                np.zeros((mcuy * vi, mcux * hi, 64), np.int64)
                for hi, vi in samps
            ]
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"jpeg_decode: SOF marker 0xFF{m:02X} (SOF0/SOF1/SOF2 only)"
            )
        elif m == 0xDD:  # DRI
            (ri,) = struct.unpack(">H", body[:2])
        elif m == 0xDA:  # SOS
            if blocks is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = body[0]
            scan = []
            for si in range(ns):
                cid, tabs = body[1 + 2 * si], body[2 + 2 * si]
                matches = [i for i, c in enumerate(comps) if c[0] == cid]
                if not matches:
                    # a StopIteration here would escape the quarantine
                    # contract (and inside a generator would be
                    # swallowed as exhaustion)
                    raise ValueError(
                        f"JPEG: scan references unknown component id {cid}"
                    )
                scan.append((matches[0], tabs >> 4, tabs & 0xF))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            segments, pos = _entropy_segments(payload, pos)
            _decode_scan(segments, scan, ss, se, ahal >> 4, ahal & 0xF)
            seen_scan = True
        # APPn / COM / others: skipped
    if h is None or not seen_scan:
        raise ValueError("JPEG: missing SOF/SOS")
    return h, w, blocks, [qt[c[1]] for c in comps], samps


def jpeg_decode(payload: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> (h, w, channels) uint8 (1 or 3 channels;
    3-component output is RGB via the JFIF YCbCr transform; subsampled
    components upsample by pixel replication)."""
    h, w, blocks, quants, samps = jpeg_decode_coeffs(payload)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    planes = []
    for coeffs, q, (hi, vi) in zip(blocks, quants, samps):
        bh, bw = coeffs.shape[:2]
        plane = np.empty((bh * 8, bw * 8), np.float64)
        qz = q.reshape(8, 8)
        for by in range(bh):
            for bx in range(bw):
                f = np.zeros(64, np.float64)
                f[_ZIGZAG] = coeffs[by, bx].astype(np.float64)
                f = f.reshape(8, 8) * qz
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _DCT_C.T @ f @ _DCT_C
                )
        if hi < hmax or vi < vmax:  # replication upsample to full grid
            plane = np.repeat(np.repeat(plane, vmax // vi, 0), hmax // hi, 1)
        planes.append(plane[:h, :w] + 128.0)
    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
