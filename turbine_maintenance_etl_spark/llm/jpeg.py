"""Baseline + progressive JPEG codec, stdlib + numpy only — closes the
honest codec gaps in the multimodal pipeline (round-6 verdict stretch
item 8, extended round 8: no PIL/libjpeg/ffmpeg in this container, so
both decode paths are written from the public JPEG spec, ITU-T T.81 /
ISO 10918-1; the progressive scan algorithms follow Annex G.1.2).

Scope — what a bulk feature-extraction pipeline actually meets:
- DECODE: baseline sequential DCT (SOF0) AND progressive DCT (SOF2 —
  spectral selection, successive approximation, EOB runs, DC/AC
  refinement scans, interleaved DC + non-interleaved AC block orders),
  8-bit samples, Huffman entropy coding, grayscale or YCbCr (any h/v
  sampling factors in {1, 2} — 4:4:4, 4:2:2, 4:2:0), restart markers,
  JFIF/EXIF headers skipped. ARITHMETIC entropy coding (SOF9
  extended-sequential + SOF10 progressive, DAC conditioning) is
  handled by the Annex D/F/G implementation in ``jpeg_arith.py``.
  12-BIT precision decodes in the extended/progressive modes (SOF1/
  SOF2/SOF9/SOF10, Pq=1 16-bit quantization tables, level shift 2048)
  — ``decode_jpeg_pixels`` downconverts to the uint8 pipeline
  contract, ``decode_jpeg_pixels_native`` keeps uint16. LOSSLESS
  (SOF3, Annex H — all 7 predictors, precisions 2..16, the DICOM
  mode) decodes exactly. Only hierarchical mode raises
  NotImplementedError — the callers' poison-pill handling turns that
  into a tagged NULL row, same as any other unsupported input.
- ENCODE: baseline sequential, Annex K quantization tables scaled by
  the libjpeg quality formula, Annex K "typical" Huffman tables,
  4:4:4 or 4:2:0; plus a progressive encoder (DC-first + spectral
  bands + successive-approximation refinement script) whose whole
  purpose is giving the progressive decoder a real in-container
  producer. Both encoders exist so the decoders are testable here
  (round-trip vs quantization error bounds; progressive decode must
  equal baseline decode BIT-exactly — the two modes transmit identical
  quantized coefficients) and so the synthetic-media fixtures can
  produce REAL JPEG bytes.

Like the PNG/WAV paths, this is a per-record kernel invoked inside
Arrow-batched ``mapInPandas`` operators — the Spark-side contract
(schema, batching, partitioning, poison-pill rows) is identical; only
the byte-level codec differs.
"""

from __future__ import annotations

import struct
from array import array

import numpy as np

# ---------------------------------------------------------------- tables

# zigzag scan order: index in scan order -> linear position (r*8+c)
_ZZ = []
for _s in range(15):
    _pts = [(r, _s - r) for r in range(8) if 0 <= _s - r < 8]
    _ZZ.extend(_pts if _s % 2 else _pts[::-1])
ZIGZAG = np.array([r * 8 + c for r, c in _ZZ], dtype=np.int64)
del _ZZ, _s, _pts

# orthonormal 8x8 DCT-II basis: forward F = C @ B @ C.T, inverse C.T @ F @ C
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(1.0 / 8) if _u == 0 else np.sqrt(2.0 / 8)
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)
del _u, _a, _x

# ITU-T T.81 Annex K.1 — example quantization tables (in zigzag order
# they are usually printed; these are in NATURAL row-major order)
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 — "typical" Huffman tables: (bits[1..16], values)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _canonical_codes(bits: list[int], vals: list[int]):
    """(bits[16], values) -> {symbol: (code, length)} canonical codes."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffTable:
    """Decode-side Huffman table: the round-10 ``{(length, code): sym}``
    map plus a flat 16-bit-window LUT (round 11). ``lut_sym[w]`` /
    ``lut_len[w]`` decode the NEXT 16 entropy bits ``w`` in one list
    index each — every window whose prefix is a valid code maps to that
    code (prefix property makes it unique), windows matching no code
    have length 0. One lookup replaces the per-bit walk (up to 16 list
    reads + dict gets per symbol)."""

    __slots__ = ("map", "lut_sym", "lut_len")

    def __init__(self, decode_map: dict):
        self.map = decode_map
        sym_a = np.zeros(1 << 16, dtype=np.int32)
        len_a = np.zeros(1 << 16, dtype=np.int32)
        # longest codes first, so shorter codes (written last) win any
        # overlap — not that canonical codes can overlap, but the order
        # makes the invariant self-evident
        for (ln, code), sym in sorted(decode_map.items(), reverse=True):
            lo = code << (16 - ln)
            hi = lo + (1 << (16 - ln))
            sym_a[lo:hi] = sym
            len_a[lo:hi] = ln
        self.lut_sym = sym_a.tolist()
        self.lut_len = len_a.tolist()

    def get(self, key, default=None):  # dict-compat for callers/tests
        return self.map.get(key, default)


# LUT construction is ~1 ms (two 65536-slot arrays); the repo's own
# encoders use fixed Annex-K (+ one fixed progressive AC) tables, so a
# small memo amortizes it to zero per worker process. Bounded so a
# stream defining endless distinct tables (DHT is re-definable per
# scan) cannot grow memory — overflow just skips caching (the
# adversarial stream pays its own build cost, nothing accumulates).
_HUFF_TABLE_CACHE: dict = {}
_HUFF_TABLE_CACHE_MAX = 32


def _decode_map(bits: list[int], vals: list[int]) -> _HuffTable:
    """(bits[16], values) -> decode table (dict map + 16-bit LUT)."""
    key = (bytes(bits), bytes(vals))
    hit = _HUFF_TABLE_CACHE.get(key)
    if hit is not None:
        return hit
    tbl = _HuffTable(
        {(ln, code): sym for sym, (code, ln) in _canonical_codes(bits, vals).items()}
    )
    if len(_HUFF_TABLE_CACHE) < _HUFF_TABLE_CACHE_MAX:
        _HUFF_TABLE_CACHE[key] = tbl
    return tbl


_WIN_SHIFTS = (8 - np.arange(8, dtype=np.uint32))[None, :]


def _bit_windows(buf: np.ndarray, byte0: int, nbytes: int):
    """16-bit big-endian bit windows of ``buf[byte0 : byte0+nbytes]``:
    ``win[i]`` holds bits ``[8*byte0+i, 8*byte0+i+16)`` of ``buf``, with
    up to 2 LOOKAHEAD bytes read past the chunk (zero-padded past the
    end of ``buf``), so every entry is a complete window regardless of
    chunk boundaries. Built vectorized (one uint32 staggered-shift
    pass), shipped as ``array('H')`` via ``tobytes`` — a C memcpy
    instead of boxing every entry (``tolist`` measured 13x slower to
    build at chunk size); subscripting an array is one int box per
    READ, and reads are ~4x rarer than bits (one per symbol/field)."""
    n = min(nbytes, int(buf.size) - byte0)
    if n <= 0:
        return array("H")
    chunk = buf[byte0 : byte0 + n + 2].astype(np.uint32)
    if chunk.size < n + 2:
        chunk = np.concatenate(
            [chunk, np.zeros(n + 2 - chunk.size, dtype=np.uint32)]
        )
    u24 = (chunk[:n] << 16) | (chunk[1 : n + 1] << 8) | chunk[2 : n + 2]
    win = (u24[:, None] >> _WIN_SHIFTS) & 0xFFFF
    if n <= 256:  # tiny segment: boxing a short list beats the astype+
        # memcpy detour AND list reads are ~35 ns cheaper each
        return win.ravel().tolist()
    return array("H", win.astype(np.uint16).tobytes())


# ---------------------------------------------------------------- decode


class _BitReader:
    """MSB-first reader over entropy-coded bytes, handling 0xFF00 byte
    stuffing and stopping (raising _SegmentEnd) at any real marker.

    Round-9 destuffed one whole restart segment up front
    (``_destuff_to_marker``) and served bits from a whole-segment
    Python list; round-10 bounded that to a fixed byte WINDOW at a
    time. Round-11 changes the unpacked representation from single
    bits to 16-bit LOOKAHEAD WINDOWS (``bits[i]`` = the next 16 bits
    at bit offset i, built vectorized with 2 real lookahead bytes past
    the chunk): ``read_bits(n)`` becomes one list index + one shift
    instead of n list reads, and ``_huff_decode`` resolves a whole
    symbol from ``bits[p]`` through a flat LUT instead of walking bit
    by bit. Memory stays window-bounded (~36 B/window entry vs ~8 B/bit
    — the window is 4x smaller for the same footprint). Semantics are
    unchanged: reading past the segment's entropy bits raises
    _SegmentEnd exactly where the old reader met the marker, and
    ``pos`` exposes the raw stream position of that marker for
    ``_next_marker``."""

    _WINDOW_BYTES = 1 << 14  # destuffed bytes per unpacked window chunk

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self._load(pos)

    def _load(self, pos: int) -> None:
        """Destuff the WHOLE remaining scan region — through any RSTn
        markers, up to the first real marker — in one pass (r11): a
        restart-heavy stream has thousands of tiny segments, and paying
        a destuff + window build PER SEGMENT costs more than the
        segment's decode. Per-segment bit budgets live in ``_bounds``;
        ``align_to_marker`` just moves the cursor. Reads are guarded by
        the CURRENT segment's ``_nbits``, so a window that happens to
        contain the next segment's bits can never leak them: a code or
        field that fits inside the segment is determined by the
        segment's own bits alone (prefix property), and one that would
        cross the boundary errors exactly where the per-segment reader
        ended."""
        buf, bounds, markers, mposs = _destuff_scan(self.data, pos)
        self._buf = np.frombuffer(buf, np.uint8)
        self._bounds = bounds
        self._markers = markers
        self._mposs = mposs
        self._seg = 0
        self._nbits = bounds[0] * 8
        self._mpos = mposs[0]
        self.marker = markers[0]
        self._fill(0)

    def _fill(self, abs_bit: int) -> None:
        """Unpack the chunk holding absolute bit ``abs_bit`` to a
        16-bit-window LIST. Every entry is a complete window (2
        lookahead bytes are read past the chunk, zero-padded only past
        the segment's last byte), so chunk boundaries never split a
        read — only position bookkeeping changes at a refill. ``self.p``
        is chunk-relative; ``self._base`` its absolute bit offset."""
        byte0 = abs_bit >> 3
        self._base = byte0 << 3
        self.bits = _bit_windows(self._buf, byte0, self._WINDOW_BYTES)
        self.p = abs_bit - self._base

    def _advance(self) -> None:
        """Chunk exhausted at ``self.p``: refill from the next bit, or
        raise once the segment's entropy bits are spent — the old
        byte-wise reader met the terminating marker here (_SegmentEnd),
        or ran off a truncated stream (ValueError)."""
        abs_bit = self._base + self.p
        if abs_bit >= self._nbits:
            self._end()
        self._fill(abs_bit)

    def _end(self):
        if self._mpos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        raise _SegmentEnd()

    @property
    def pos(self) -> int:
        """Raw stream position of the current segment's terminator —
        any marker scan from here finds the same marker the old
        byte-wise reader would have stopped at."""
        return self._mpos

    def read_bit(self) -> int:
        p = self.p
        if p >= len(self.bits):
            self._advance()  # raises at segment end; else p < len(bits)
            p = self.p
        if self._base + p >= self._nbits:
            # the window may already hold the NEXT segment's bits (the
            # scan is destuffed whole): stop at this segment's budget
            self._end()
        self.p = p + 1
        return (self.bits[p] >> 15) & 1

    def read_bits(self, n: int) -> int:
        if n <= 0:
            return 0
        p = self.p
        if p >= len(self.bits):
            self._advance()
            p = self.p
        if self._base + p + n > self._nbits:
            self._end()
        self.p = p + n
        return self.bits[p] >> (16 - n)

    def align_to_marker(self) -> int:
        """Skip to the current segment's terminating marker pair;
        returns the marker code and positions at the next segment —
        a cursor move within the already-destuffed scan when the
        marker was an RSTn (the common caller), a fresh load after a
        non-RST marker (callers reject those anyway)."""
        if self.marker is None:
            raise ValueError("truncated JPEG: expected marker")
        m = self.marker
        s = self._seg + 1
        if s < len(self._bounds):
            start_bit = self._bounds[s - 1] * 8
            self._seg = s
            self._nbits = self._bounds[s] * 8
            self._mpos = self._mposs[s]
            self.marker = self._markers[s]
            if self._base <= start_bit < self._base + len(self.bits):
                self.p = start_bit - self._base  # same chunk: no rebuild
            else:
                self._fill(start_bit)
        else:
            self._load(self._mpos + 2)
        return m


class _SegmentEnd(Exception):
    """Entropy segment hit a marker (RST/EOI) mid-read."""


def _huff_decode(reader: _BitReader, table: _HuffTable) -> int:
    p = reader.p
    if p >= len(reader.bits):
        reader._advance()  # raises at segment end; else p < len(bits)
        p = reader.p
    w = reader.bits[p]
    ln = table.lut_len[w]
    if ln == 0 or reader._base + p + ln > reader._nbits:
        if reader._base + p + 16 > reader._nbits:
            # the bitwise walk ran out of segment bits mid-code here
            reader._end()
        raise ValueError("invalid Huffman code in JPEG stream")
    reader.p = p + ln
    return table.lut_sym[w]


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map a t-bit magnitude to its signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg_pixels(data: bytes) -> np.ndarray:
    """Decode baseline-sequential JPEG bytes to (h, w, channels) uint8.

    Grayscale -> channels=1; YCbCr -> channels=3 RGB (BT.601 full-range
    JFIF conversion, integer-rounded). Baseline/progressive Huffman,
    sequential/progressive arithmetic, 12-bit, and lossless (SOF3)
    streams all decode — >8-bit frames are downconverted to uint8 by
    rounded proportion below. Raises ValueError on corrupt input and
    NotImplementedError on the unimplemented layouts: hierarchical
    mode, non-interleaved multi-scan sequential/lossless frames, and
    2-/4-component color — callers' poison-pill handling treats both
    exception types as NULL rows."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG byte stream")
    px = decode_jpeg_pixels_native(data)
    if px.dtype == np.uint16:
        # >8-bit frame: rounded-proportional downconversion keeps the
        # uint8 pipeline contract (feature extraction / phash consume
        # 8-bit); decode_jpeg_pixels_native exposes full precision
        maxv = (1 << _frame_precision(data)) - 1
        px = ((px.astype(np.int64) * 255 + maxv // 2) // maxv).astype(np.uint8)
    return px


# Decode-side frame bound (r10 review; same class as the GIF canvas
# cap): every dense array in the decode — the progressive coefficient
# store, phase-2 float64 dequant/IDCT batches, the assembled planes —
# is sized from the SOF's unverified h/w fields. 2^26 pixels
# (8192x8192) bounds per-task decode memory at corpus scale; a decoder
# for trusted gigapixel imagery would raise it, a curation pass over
# untrusted corpora should not.
MAX_FRAME_PIXELS = 1 << 26


def _frame_precision(data: bytes) -> int:
    """Sample precision from the SOFn header (cheap re-parse)."""
    pos = 2
    while pos + 4 <= len(data):
        while pos + 2 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker in (0x01, *range(0xD0, 0xD8)):
            continue
        if marker == 0xD9 or pos + 2 > len(data):
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return data[pos + 2]
        pos += seglen
    raise ValueError("no SOF header found")


def decode_jpeg_pixels_native(data: bytes) -> np.ndarray:
    """Like decode_jpeg_pixels but at the frame's native precision:
    uint8 for 8-bit frames, uint16 (values 0..4095) for 12-bit."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG byte stream")
    try:
        return _decode_markers(data)
    except (IndexError, KeyError, struct.error) as exc:
        # out-of-range segment reads on truncated/corrupt input — and any
        # residual undefined-table/component lookup the SOS validation
        # below didn't anticipate — surface as the same ValueError every
        # decode operator's poison-pill handler already treats as a NULL
        # row (a bare KeyError would crash the Spark task instead)
        raise ValueError(f"corrupt JPEG: {exc!r}") from exc


def _decode_markers(data: bytes) -> np.ndarray:
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (h, w, comps) with comps = [(id, hs, vs, tq)]
    restart_interval = 0
    progressive = False
    arith = False
    lossless = False
    dc_cond: dict[int, tuple[int, int]] = {}  # DAC: table id -> (L, U)
    ac_kx: dict[int, int] = {}  # DAC: table id -> Kx
    coef: dict[int, np.ndarray] | None = None  # SOF2/SOF10 coefficient store
    any_scan = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip them so conformant streams from other
        # encoders aren't misread as unknown markers
        while pos + 2 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker in (0x01, *range(0xD0, 0xD8)):  # TEM/RSTn: standalone
            continue
        if marker == 0xD9:  # EOI
            if progressive and any_scan:
                return _assemble_progressive(frame, coef, quant)
            raise ValueError("JPEG ended before any scan")
        if pos + 2 > len(data):
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq not in (0, 1):
                    raise ValueError(f"invalid DQT element precision {pq}")
                if pq:  # 16-bit elements (12-bit frames)
                    tbl = np.frombuffer(
                        seg[p + 1 : p + 129], dtype=">u2"
                    ).astype(np.int64)
                else:
                    tbl = np.frombuffer(
                        seg[p + 1 : p + 65], dtype=np.uint8
                    ).astype(np.int64)
                q = np.zeros(64, dtype=np.int64)
                q[ZIGZAG] = tbl  # stored in zigzag order -> natural
                quant[tq] = q
                p += 129 if pq else 65
        elif marker == 0xC4:  # DHT — possibly several tables per segment
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _decode_map(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
            # SOF0 baseline / SOF1 extended / SOF2 progressive (Huffman)
            # SOF3 lossless / SOF9 ext-sequential / SOF10 prog (arithmetic)
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if h * w > MAX_FRAME_PIXELS:
                # the coefficient store / phase-2 float64 planes are
                # sized from these 4 unverified header bytes — the same
                # header-declared-allocation DoS class as the GIF canvas
                # cap (r10 review): a crafted 65535x65535 SOF implies a
                # ~34 GB dense coefficient materialization
                raise ValueError(
                    f"JPEG frame {w}x{h} exceeds the "
                    f"{MAX_FRAME_PIXELS}-pixel decode cap"
                )
            if marker == 0xC3:
                lossless = True
                if not (2 <= prec <= 16):
                    raise ValueError(f"illegal lossless precision {prec}")
            elif prec != 8 and not (prec == 12 and marker != 0xC0):
                # 12-bit is legal in the extended/progressive modes only
                # (T.81 Table B.2: baseline is 8-bit)
                raise NotImplementedError(f"JPEG precision {prec}")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                hs, vs = hv >> 4, hv & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    raise NotImplementedError(f"sampling factors {hs}x{vs}")
                comps.append((cid, hs, vs, tq))
            frame = (h, w, comps, prec)
            arith = marker in (0xC9, 0xCA)
            if marker in (0xC2, 0xCA):
                progressive = True
                # per-component quantized-coefficient store in ZIGZAG
                # index order, padded to the frame MCU grid; scans
                # accumulate into it, EOI dequantizes + IDCTs
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mx = (w + 8 * hmax - 1) // (8 * hmax)
                my = (h + 8 * vmax - 1) // (8 * vmax)
                coef = {
                    cid: np.zeros((my * vs, mx * hs, 64), dtype=np.int64)
                    for cid, hs, vs, _tq in comps
                }
        elif marker in (0xC5, 0xC6, 0xC7,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{marker:02X})"
            )
        elif marker == 0xCC:  # DAC — arithmetic conditioning (B.2.4.3)
            p = 0
            while p + 1 < len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 0x0F
                cs = seg[p + 1]
                if tb > 3:
                    raise ValueError(f"invalid DAC table id {tb}")
                if tc == 0:
                    low, high = cs & 0x0F, cs >> 4
                    if low > high:
                        raise ValueError(f"invalid DC conditioning L={low} U={high}")
                    dc_cond[tb] = (low, high)
                elif tc == 1:
                    if not (1 <= cs <= 63):
                        raise ValueError(f"invalid AC conditioning Kx={cs}")
                    ac_kx[tb] = cs
                else:
                    raise ValueError(f"invalid DAC table class {tc}")
                p += 2
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_tabs = {}
            frame_ids = [c[0] for c in frame[2]]
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                if cs not in frame_ids:
                    raise ValueError(f"scan component {cs} not in frame")
                scan_tabs[cs] = (tt >> 4, tt & 0x0F)
            if lossless:
                if ns != len(frame[2]):
                    raise NotImplementedError(
                        "non-interleaved multi-scan lossless JPEG"
                    )
                psel, se_ = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                if se_ != 0 or (ahal >> 4) != 0:
                    raise ValueError(
                        f"invalid lossless scan header Se={se_} Ah={ahal >> 4}"
                    )
                for cid, (td, _ta) in scan_tabs.items():
                    if td not in huff_dc:
                        raise ValueError(f"scan references undefined DC table {td}")
                return _decode_scan_lossless(
                    data, pos + seglen, frame, huff_dc, scan_tabs,
                    psel, ahal & 0x0F, restart_interval,
                )
            if not progressive:
                if ns != len(frame[2]):
                    # legal per T.81 (non-interleaved multi-scan) but the
                    # baseline path only implements the single interleaved
                    # scan — reject honestly rather than KeyError mid-MCU
                    raise NotImplementedError(
                        f"non-interleaved multi-scan JPEG ({ns} of "
                        f"{len(frame[2])} components in scan)"
                    )
                for cid, _hs, _vs, tq in frame[2]:
                    if cid not in scan_tabs:
                        raise ValueError(f"frame component {cid} missing from scan")
                    td, ta = scan_tabs[cid]
                    if td > 3 or ta > 3:
                        raise ValueError(f"invalid entropy table id dc={td} ac={ta}")
                    if not arith and (td not in huff_dc or ta not in huff_ac):
                        raise ValueError(
                            f"scan references undefined Huffman table dc={td} ac={ta}"
                        )
                    if tq not in quant:
                        raise ValueError(f"frame references undefined quant table {tq}")
                if arith:
                    from .jpeg_arith import decode_scan_sequential

                    return decode_scan_sequential(
                        data, pos + seglen, frame, quant, scan_tabs,
                        dc_cond, ac_kx, restart_interval,
                    )
                return _decode_scan(
                    data, pos + seglen, frame, quant, huff_dc, huff_ac,
                    scan_tabs, restart_interval,
                )
            # progressive scan: Ss/Se/Ah/Al follow the component specs
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if ss > se or se > 63 or (ss == 0 and se != 0):
                raise ValueError(f"invalid spectral band Ss={ss} Se={se}")
            if ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be non-interleaved")
            for cs, (td, ta) in scan_tabs.items():
                if td > 3 or ta > 3:
                    raise ValueError(f"invalid entropy table id dc={td} ac={ta}")
                if not arith:
                    if ss == 0 and ah == 0 and td not in huff_dc:
                        raise ValueError(f"scan references undefined DC table {td}")
                    if ss > 0 and ta not in huff_ac:
                        raise ValueError(f"scan references undefined AC table {ta}")
            for cid, _hs, _vs, tq in frame[2]:
                if cid in scan_tabs and tq not in quant:
                    raise ValueError(f"frame references undefined quant table {tq}")
            if arith:
                from .jpeg_arith import decode_scan_progressive

                pos = decode_scan_progressive(
                    data, pos + seglen, frame, coef, scan_tabs,
                    dc_cond, ac_kx, ss, se, ah, al, restart_interval,
                )
            else:
                pos = _decode_scan_progressive(
                    data, pos + seglen, frame, coef, huff_dc, huff_ac,
                    scan_tabs, ss, se, ah, al, restart_interval,
                )
            any_scan = True
            continue
        # APPn/COM/unknown: skip
        pos += seglen
    raise ValueError("truncated JPEG (no SOS)")


def _destuff_to_marker(data: bytes, pos: int):
    """Destuff entropy-coded bytes from ``pos`` up to the next real
    marker (0xFF followed by non-zero). Returns (buffer, marker_pos,
    marker_code) with marker_pos at the 0xFF; (buf, len(data), None)
    when the stream ends without one. Shared by the round-9 tight-loop
    entropy decoders (sequential + lossless): destuffing once lets the
    Huffman walk run on local integer arithmetic instead of three
    method calls per bit. Round-11: the per-byte Python scan (~1 us per
    entropy byte) becomes ``bytes.find`` (memchr) hops between 0xFF
    hits — stuffed pairs splice byte slices, the first real marker
    terminates."""
    n = len(data)
    pieces = []
    start = p = pos
    while True:
        f = data.find(b"\xff", p)
        if f == -1:
            pieces.append(data[start:n])
            return b"".join(pieces), n, None
        if f + 1 < n and data[f + 1] == 0x00:
            pieces.append(data[start : f + 1])  # keep the 0xFF, drop the 0x00
            start = p = f + 2
            continue
        pieces.append(data[start:f])
        return b"".join(pieces), f, (data[f + 1] if f + 1 < n else None)


def _destuff_scan(data: bytes, pos: int):
    """Destuff from ``pos`` through any RSTn markers up to (and
    excluding) the first NON-restart marker — the whole entropy region
    of one scan in one pass (r11, for ``_BitReader``). Returns
    ``(buf, bounds, markers, mposs)``: ``buf`` concatenates every
    segment's destuffed bytes; segment ``i`` ends at byte offset
    ``bounds[i]`` of ``buf``, is terminated by marker code
    ``markers[i]`` (``None`` when the stream ends without one) whose
    0xFF sits at raw position ``mposs[i]`` (``len(data)`` when none).
    Scanning uses ``bytes.find`` (memchr), so cost is O(region), not
    O(region x segments)."""
    n = len(data)
    pieces = []
    bounds: list[int] = []
    markers: list[int | None] = []
    mposs: list[int] = []
    start = p = pos
    cur = 0
    while True:
        f = data.find(b"\xff", p)
        if f == -1:
            pieces.append(data[start:n])
            cur += n - start
            bounds.append(cur)
            markers.append(None)
            mposs.append(n)
            return b"".join(pieces), bounds, markers, mposs
        nxt = data[f + 1] if f + 1 < n else None
        if nxt == 0x00:
            pieces.append(data[start : f + 1])  # keep the 0xFF, drop the 0x00
            cur += f + 1 - start
            start = p = f + 2
            continue
        pieces.append(data[start:f])
        cur += f - start
        bounds.append(cur)
        markers.append(nxt)
        mposs.append(f)
        if nxt is not None and 0xD0 <= nxt <= 0xD7:
            start = p = f + 2
            continue
        return b"".join(pieces), bounds, markers, mposs


def _decode_scan(data, pos, frame, quant, huff_dc, huff_ac, scan_tabs,
                 restart_interval) -> np.ndarray:
    h, w, comps, prec = frame
    shift = float(1 << (prec - 1))  # level shift: 128 (8-bit) / 2048 (12-bit)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    n_mcus = mcus_x * mcus_y

    # flattened per-MCU block order: (cid, dc table, ac table, quant id)
    layout = []
    for cid, hs, vs, tq in comps:
        dc_t = huff_dc[scan_tabs[cid][0]]
        ac_t = huff_ac[scan_tabs[cid][1]]
        layout.extend((cid, dc_t, ac_t, tq) for _ in range(hs * vs))

    # phase 1 (round-9): tight-loop entropy decode of every quantized
    # coefficient over per-restart-segment destuffed buffers — the
    # generic _BitReader paid three method calls and a stuffing check
    # per bit (measured 2x on baseline decode). Round-11: the per-bit
    # Huffman walk (list index + dict get PER BIT) becomes one 16-bit
    # lookahead-window read resolved through the table's flat LUT, and
    # magnitude bits are one shift — windows built vectorized per
    # chunk (_bit_windows), cursor arithmetic all Python ints.
    # Dequantization and the IDCT batch over all blocks in phase 2.
    pred = {cid: 0 for cid, *_ in comps}
    zig = ZIGZAG
    # preallocated int32 store, one 64-coef row flushed per block: the
    # tight loop fills a small Python list (fast appends/writes) and
    # numpy copies it once, so peak memory is ~4 bytes/coef instead of
    # boxed-int lists of the whole image (r9 review finding)
    coefs = np.zeros((n_mcus * len(layout), 64), dtype=np.int32)
    bidx = 0
    wchunk = _BitReader._WINDOW_BYTES
    buf, mpos, marker = _destuff_to_marker(data, pos)
    seg = np.frombuffer(bytes(buf), np.uint8)
    nbits = int(seg.size) * 8
    win = _bit_windows(seg, 0, wchunk)
    wlen = len(win)
    base = p = 0  # chunk's absolute bit offset / chunk-relative cursor
    mcu_count = 0
    _end_err = "JPEG entropy stream ended mid-MCU"
    for _mcu in range(n_mcus):
        if restart_interval and mcu_count and mcu_count % restart_interval == 0:
            if marker is None:
                raise ValueError(
                    "truncated JPEG: entropy stream ended, expected RST marker"
                )
            if not (0xD0 <= marker <= 0xD7):
                raise ValueError(f"expected RST marker, got 0xFF{marker:02X}")
            buf, mpos, marker = _destuff_to_marker(data, mpos + 2)
            seg = np.frombuffer(bytes(buf), np.uint8)
            nbits = int(seg.size) * 8
            win = _bit_windows(seg, 0, wchunk)
            wlen = len(win)
            base = p = 0
            for cid in pred:
                pred[cid] = 0
        mcu_count += 1
        for cid, dc_t, ac_t, _tq in layout:
            dlen = dc_t.lut_len
            dsym = dc_t.lut_sym
            alen = ac_t.lut_len
            asym = ac_t.lut_sym
            c = [0] * 64
            if p >= wlen:  # chunk exhausted: refill at the cursor
                abs_bit = base + p
                if abs_bit >= nbits:
                    raise ValueError(_end_err)
                byte0 = abs_bit >> 3
                base = byte0 << 3
                win = _bit_windows(seg, byte0, wchunk)
                wlen = len(win)
                p = abs_bit - base
            w = win[p]
            sym = dlen[w]  # length first: 0 = no code matches
            if sym == 0 or base + p + sym > nbits:
                if base + p + 16 > nbits:
                    raise ValueError(_end_err)
                raise ValueError("invalid Huffman code in JPEG stream")
            p += sym
            sym = dsym[w]
            if sym:
                if p >= wlen:
                    abs_bit = base + p
                    if abs_bit >= nbits:
                        raise ValueError(_end_err)
                    byte0 = abs_bit >> 3
                    base = byte0 << 3
                    win = _bit_windows(seg, byte0, wchunk)
                    wlen = len(win)
                    p = abs_bit - base
                if base + p + sym > nbits:
                    raise ValueError(_end_err)
                v = win[p] >> (16 - sym)
                p += sym
                # inline EXTEND (T.81 F.2.2.1)
                pred[cid] += v if v >= (1 << (sym - 1)) else v - (1 << sym) + 1
            c[0] = pred[cid]
            k = 1
            while k < 64:
                if p >= wlen:
                    abs_bit = base + p
                    if abs_bit >= nbits:
                        raise ValueError(_end_err)
                    byte0 = abs_bit >> 3
                    base = byte0 << 3
                    win = _bit_windows(seg, byte0, wchunk)
                    wlen = len(win)
                    p = abs_bit - base
                w = win[p]
                ln = alen[w]
                if ln == 0 or base + p + ln > nbits:
                    if base + p + 16 > nbits:
                        raise ValueError(_end_err)
                    raise ValueError("invalid Huffman code in JPEG stream")
                p += ln
                sym = asym[w]
                r, sbits = sym >> 4, sym & 0x0F
                if sbits == 0:
                    if r == 15:  # ZRL: sixteen zeros
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("AC coefficient index out of range")
                if p >= wlen:
                    abs_bit = base + p
                    if abs_bit >= nbits:
                        raise ValueError(_end_err)
                    byte0 = abs_bit >> 3
                    base = byte0 << 3
                    win = _bit_windows(seg, byte0, wchunk)
                    wlen = len(win)
                    p = abs_bit - base
                if base + p + sbits > nbits:
                    raise ValueError(_end_err)
                v = win[p] >> (16 - sbits)
                p += sbits
                c[zig[k]] = v if v >= (1 << (sbits - 1)) else v - (1 << sbits) + 1
                k += 1
            coefs[bidx] = c
            bidx += 1

    # phase 2: vectorized dequant + one batched IDCT over every block
    qmat = np.stack([quant[tq].astype(np.float64) for *_x, tq in layout])
    coef = (
        coefs.astype(np.float64).reshape(n_mcus, len(layout), 64)
        * qmat[None, :, :]
    ).reshape(-1, 8, 8)
    # broadcasting matmul dispatches to BLAS (einsum here runs naive
    # C loops, measured 40% of the whole decode)
    idct = _C.T @ coef @ _C + shift

    planes = {
        cid: np.empty((mcus_y * vs * 8, mcus_x * hs * 8), dtype=np.float64)
        for cid, hs, vs, _tq in comps
    }
    idx = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for cid, hs, vs, _tq in comps:
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = idct[idx]
                        idx += 1

    return _planes_to_image(frame, planes, hmax, vmax)


def _planes_to_image(frame, planes, hmax, vmax) -> np.ndarray:
    """Upsample each component plane to full padded resolution, crop to
    the frame size, and convert to grayscale/RGB — the shared tail of
    the baseline and progressive decode paths."""
    h, w, comps, prec = frame
    maxv = (1 << prec) - 1
    dtype = np.uint8 if prec == 8 else np.uint16
    out = []
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        g = np.clip(np.round(out[0]), 0, maxv).astype(dtype)
        return g[:, :, None]
    if len(out) != 3:
        raise NotImplementedError(f"{len(out)}-component JPEG")
    center = float(1 << (prec - 1))
    y, cb, cr = out[0], out[1] - center, out[2] - center
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, maxv).astype(dtype)


# ------------------------------------------------- progressive decode
#
# T.81 Annex G.1.2: a progressive frame transmits the SAME quantized
# coefficients as baseline, split across scans by spectral band
# (Ss..Se) and bit plane (successive approximation Ah/Al). Coefficients
# accumulate in an integer store (zigzag index order); EOI dequantizes
# and inverse-transforms once. First scans (Ah=0) code point-transformed
# values; refinement scans (Ah=Al+1) code one correction bit per
# already-nonzero coefficient plus newly-significant ±2^Al insertions.


def _dc_first_prog(reader, dc_t, blk, pred, cid, al) -> None:
    t = _huff_decode(reader, dc_t)
    diff = _extend(reader.read_bits(t), t) if t else 0
    pred[cid] += diff
    blk[0] = pred[cid] << al


def _dc_refine_prog(reader, blk, al) -> None:
    if reader.read_bit():
        blk[0] |= 1 << al


def _ac_first_prog(reader, ac_t, blk, ss, se, al, state) -> None:
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    # hot-path locals (r11): the reader's window list / cursor and the
    # table LUTs are hoisted so each symbol is one window read + one
    # LUT index and each magnitude one shift — reader.p is synced back
    # on every exit path (including before _advance, which may raise)
    lut_len = ac_t.lut_len
    lut_sym = ac_t.lut_sym
    win, p, wlen = reader.bits, reader.p, len(reader.bits)
    base, nbits = reader._base, reader._nbits
    k = ss
    while k <= se:
        if p >= wlen:
            reader.p = p
            reader._advance()  # raises at segment end
            win, p, wlen = reader.bits, reader.p, len(reader.bits)
            base = reader._base
        w = win[p]
        ln = lut_len[w]
        if ln == 0 or base + p + ln > nbits:
            reader.p = p
            if base + p + 16 > nbits:
                reader._end()
            raise ValueError("invalid Huffman code in JPEG stream")
        p += ln
        rs = lut_sym[w]
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            # EOBn: run of (1<<r)+ext blocks ending here, incl. this one
            eob = (1 << r) - 1
            if r:
                if p >= wlen:
                    reader.p = p
                    reader._advance()
                    win, p, wlen = reader.bits, reader.p, len(reader.bits)
                    base = reader._base
                if base + p + r > nbits:
                    reader.p = p
                    reader._end()
                eob += win[p] >> (16 - r)
                p += r
            state["eobrun"] = eob
            reader.p = p
            return
        k += r
        if k > se:
            reader.p = p
            raise ValueError("AC coefficient index out of range")
        if p >= wlen:
            reader.p = p
            reader._advance()
            win, p, wlen = reader.bits, reader.p, len(reader.bits)
            base = reader._base
        if base + p + s > nbits:
            reader.p = p
            reader._end()
        v = win[p] >> (16 - s)
        p += s
        # point transform inverse: value << Al (sign-preserving — Python
        # ints shift the signed value, matching |v|<<Al with v's sign)
        blk[k] = (v if v >= (1 << (s - 1)) else v - (1 << s) + 1) << al
        k += 1
    reader.p = p


def _ac_refine_prog(reader, ac_t, blk, ss, se, al, state) -> None:
    p1, m1 = 1 << al, -(1 << al)
    # work on a plain-int copy of the band: the loop below reads/tests
    # every position (often several times across ZRL runs), and numpy
    # int64 scalar compares/updates cost ~10x a list element (r11,
    # measured ~35% of the whole progressive decode); one tolist + one
    # slice write-back replaces hundreds of boxed-scalar round-trips.
    # Reader window/cursor hoisted to locals like _ac_first_prog.
    b = blk.tolist() if hasattr(blk, "tolist") else blk
    lut_len = ac_t.lut_len
    lut_sym = ac_t.lut_sym
    win, p, wlen = reader.bits, reader.p, len(reader.bits)
    base, nbits = reader._base, reader._nbits

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            if p >= wlen:
                reader.p = p
                reader._advance()  # raises at segment end
                win, p, wlen = reader.bits, reader.p, len(reader.bits)
                base = reader._base
            w = win[p]
            ln = lut_len[w]
            if ln == 0 or base + p + ln > nbits:
                reader.p = p
                if base + p + 16 > nbits:
                    reader._end()
                raise ValueError("invalid Huffman code in JPEG stream")
            p += ln
            rs = lut_sym[w]
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:  # EOBn: remaining coefficients refine below
                    eob = 1 << r
                    if r:
                        if p >= wlen:
                            reader.p = p
                            reader._advance()
                            win, p, wlen = reader.bits, reader.p, len(reader.bits)
                            base = reader._base
                        if base + p + r > nbits:
                            reader.p = p
                            reader._end()
                        eob += win[p] >> (16 - r)
                        p += r
                    state["eobrun"] = eob
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            elif s == 1:
                if p >= wlen:
                    reader.p = p
                    reader._advance()
                    win, p, wlen = reader.bits, reader.p, len(reader.bits)
                    base = reader._base
                if base + p >= nbits:
                    reader.p = p
                    reader._end()
                val = p1 if win[p] >> 15 else m1
                p += 1
            else:
                reader.p = p
                raise ValueError("invalid magnitude in AC refinement scan")
            while k <= se:
                bk = b[k]
                if bk != 0:
                    # correction bit for an already-nonzero coefficient;
                    # magnitude is a multiple of 2^Al here, so the
                    # two's-complement bit test equals the magnitude-bit
                    # test (libjpeg's invariant)
                    if p >= wlen:
                        reader.p = p
                        reader._advance()
                        win, p, wlen = reader.bits, reader.p, len(reader.bits)
                        base = reader._base
                    if base + p >= nbits:
                        reader.p = p
                        reader._end()
                    hit = win[p] >> 15
                    p += 1
                    if hit and (bk & p1) == 0:
                        b[k] = bk + (p1 if bk >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                b[k] = val
            k += 1
    if state["eobrun"] > 0:
        # tail of the current block (and, for runs > 1, each following
        # block whole): already-nonzero coefficients still receive
        # correction bits; zero-history positions are skipped silently
        while k <= se:
            bk = b[k]
            if bk != 0:
                if p >= wlen:
                    reader.p = p
                    reader._advance()
                    win, p, wlen = reader.bits, reader.p, len(reader.bits)
                    base = reader._base
                if base + p >= nbits:
                    reader.p = p
                    reader._end()
                hit = win[p] >> 15
                p += 1
                if hit and (bk & p1) == 0:
                    b[k] = bk + (p1 if bk >= 0 else m1)
            k += 1
        state["eobrun"] -= 1
    reader.p = p
    if b is not blk:
        blk[ss : se + 1] = b[ss : se + 1]


def _next_marker(data: bytes, p: int) -> int:
    """Position of the next real marker's 0xFF at/after ``p``, skipping
    entropy bytes, stuffed 0xFF00 pairs, and stray RSTn markers."""
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
                continue
            if data[p + 1] == 0xFF:  # fill byte
                p += 1
                continue
            return p
        p += 1
    raise ValueError("truncated JPEG: expected marker after scan")


def _decode_scan_progressive(data, pos, frame, coef, huff_dc, huff_ac,
                             scan_tabs, ss, se, ah, al,
                             restart_interval) -> int:
    """Decode one progressive scan's entropy data into the coefficient
    store; returns the byte position of the next marker."""
    h, w, comps, prec = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    byid = {cid: (hs, vs) for cid, hs, vs, _tq in comps}
    reader = _BitReader(data, pos)
    state = {"eobrun": 0}
    pred = {cid: 0 for cid in scan_tabs}
    n_units = 0

    def maybe_restart() -> None:
        nonlocal n_units
        if restart_interval and n_units and n_units % restart_interval == 0:
            m = reader.align_to_marker()
            if not (0xD0 <= m <= 0xD7):
                raise ValueError(f"expected RST marker, got 0xFF{m:02X}")
            for c in pred:
                pred[c] = 0
            state["eobrun"] = 0
        n_units += 1

    try:
        if ss == 0 and len(scan_tabs) > 1:
            # interleaved DC scan: MCU order over the scan components
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    maybe_restart()
                    for cid, (td, _ta) in scan_tabs.items():
                        hs, vs = byid[cid]
                        for by in range(vs):
                            for bx in range(hs):
                                blk = coef[cid][my * vs + by, mx * hs + bx]
                                if ah == 0:
                                    _dc_first_prog(
                                        reader, huff_dc[td], blk, pred, cid, al
                                    )
                                else:
                                    _dc_refine_prog(reader, blk, al)
        else:
            # non-interleaved scan: the component's own block raster
            ((cid, (td, ta)),) = scan_tabs.items()
            hs, vs = byid[cid]
            bw = (-(-(w * hs) // hmax) + 7) // 8
            bh = (-(-(h * vs) // vmax) + 7) // 8
            for by in range(bh):
                for bx in range(bw):
                    maybe_restart()
                    blk = coef[cid][by, bx]
                    if ss == 0:
                        if ah == 0:
                            _dc_first_prog(reader, huff_dc[td], blk, pred, cid, al)
                        else:
                            _dc_refine_prog(reader, blk, al)
                    elif ah == 0:
                        _ac_first_prog(reader, huff_ac[ta], blk, ss, se, al, state)
                    else:
                        _ac_refine_prog(reader, huff_ac[ta], blk, ss, se, al, state)
    except _SegmentEnd:
        raise ValueError("JPEG entropy stream ended mid-scan") from None
    return _next_marker(data, reader.pos)


def _assemble_progressive(frame, coef, quant) -> np.ndarray:
    """Dequantize + IDCT the accumulated coefficient store (batched
    matmul over all blocks at once) and finish through the shared
    upsample/color path."""
    h, w, comps, prec = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = {}
    for cid, _hs, _vs, tq in comps:
        if tq not in quant:
            raise ValueError(f"frame references undefined quant table {tq}")
        grid = coef[cid]  # (BY, BX, 64) in zigzag index order
        by_n, bx_n, _ = grid.shape
        deq = np.zeros((by_n, bx_n, 64), dtype=np.float64)
        deq[:, :, ZIGZAG] = grid * quant[tq][ZIGZAG]
        blocks = deq.reshape(by_n, bx_n, 8, 8)
        pix = _C.T @ blocks @ _C + float(1 << (frame[3] - 1))
        planes[cid] = pix.transpose(0, 2, 1, 3).reshape(by_n * 8, bx_n * 8)
    return _planes_to_image(frame, planes, hmax, vmax)


# ---------------------------------------------------------------- encode


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (T.81)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(wr, blk, q, dc_codes, ac_codes, pred_key, pred) -> None:
    coef = np.round((_C @ (blk - 128.0) @ _C.T)).astype(np.int64)
    qc = np.zeros(64, dtype=np.int64)
    flat = coef.reshape(-1)
    for i in range(64):
        qc[i] = int(np.round(flat[ZIGZAG[i]] / q[ZIGZAG[i]]))
    diff = int(qc[0]) - pred[pred_key]
    pred[pred_key] = int(qc[0])
    t = _category(diff)
    code, ln = dc_codes[t]
    wr.write(code, ln)
    if t:
        wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    # AC run-length
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if qc[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(qc[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            wr.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_codes[(run << 4) | s]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        wr.write(code, ln)


def _prepare_planes(px: np.ndarray, subsample: bool):
    """Shared encoder front end: validate shape, convert to (padded)
    per-component sample planes. Returns (h, w, nc, comps, planes,
    mcus_x, mcus_y)."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nc = px.shape
    if nc not in (1, 3):
        raise ValueError(f"expected 1 or 3 channels, got {nc}")
    if nc == 1:
        comps = [(1, 1, 1, 0)]
        planes = {1: px[:, :, 0].astype(np.float64)}
    else:
        f = px.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            # pad to even dims, 2x2 box average
            ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            def box(p):
                pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
                return pp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            planes = {1: y, 2: box(cb), 3: box(cr)}
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            planes = {1: y, 2: cb, 3: cr}

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # pad every plane to its own MCU-grid size
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        th, tw = mcus_y * vs * 8, mcus_x * hs * 8
        planes[cid] = np.pad(
            p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge"
        )
    return h, w, nc, comps, planes, mcus_x, mcus_y


def encode_jpeg_baseline(
    px: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) or (h, w, 1|3) uint8 pixels as baseline JPEG.

    Color uses BT.601 full-range YCbCr; ``subsample=True`` emits 4:2:0
    (2x2 box-averaged chroma); ``restart_interval`` emits DRI + RSTn
    markers every N MCUs — both mainly so the decoder's upsampling and
    restart paths have a real in-container producer to test against."""
    h, w, nc, comps, planes, mcus_x, mcus_y = _prepare_planes(px, subsample)
    ql = _scaled_quant(_QUANT_LUMA, quality)
    qc = _scaled_quant(_QUANT_CHROMA, quality)

    dc_l = _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)

    wr = _BitWriter()
    pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wr.flush()
                n = (mcu_count // restart_interval - 1) % 8
                wr.out += bytes([0xFF, 0xD0 + n])
                for cid in pred:
                    pred[cid] = 0
            mcu_count += 1
            for cid, hs, vs, tq in comps:
                q = ql if tq == 0 else qc
                dc, ac = (dc_l, ac_l) if tq == 0 else (dc_c, ac_c)
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        blk = planes[cid][y0 : y0 + 8, x0 : x0 + 8]
                        _encode_block(wr, blk, q, dc, ac, cid, pred)
    wr.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0
    )  # APP0 (density 1x1, no thumbnail)

    def dqt(tq, q):
        zz = bytes(int(q[ZIGZAG[i]]) for i in range(64))
        return b"\xff\xdb" + struct.pack(">HB", 67, tq) + zz

    out += dqt(0, ql)
    if nc == 3:
        out += dqt(1, qc)
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += struct.pack(">BBB", cid, (hs << 4) | vs, tq)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc, th, bits, vals):
        body = struct.pack(">B", (tc << 4) | th) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if nc == 3:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = struct.pack(">B", len(comps))
    for cid, _hs, _vs, tq in comps:
        tt = 0 if tq == 0 else 0x11
        sos += struct.pack(">BB", cid, tt)
    sos += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += wr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------- progressive encode

# AC table for progressive scans: the Annex K baseline AC tables lack
# the EOBn symbols (0x10..0xE0) progressive end-of-band runs need, so
# the progressive encoder uses one flat 8-bit table carrying every
# symbol it may emit — all EOBn (r 0..14), ZRL, and (r, s<=10) pairs.
# Deliberately not entropy-optimal: these streams exist to exercise the
# decoder, and a fixed-length prefix code is still a perfectly legal
# T.81 Huffman table (Kraft sum 176/256 < 1).
_PROG_AC_VALS = sorted(
    [(r << 4) for r in range(15)]            # EOB0..EOB14
    + [0xF0]                                  # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


def _quantize_plane(plane: np.ndarray, q: np.ndarray,
                    shift: float = 128.0) -> np.ndarray:
    """(BY*8, BX*8) padded samples -> (BY, BX, 64) quantized
    coefficients in ZIGZAG index order (same rounding as the baseline
    encoder's per-block path, batched). ``shift`` is the level shift:
    128 for 8-bit frames, 2048 for 12-bit."""
    by_n, bx_n = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(by_n, 8, bx_n, 8).transpose(0, 2, 1, 3)
    # round the DCT output to integers BEFORE quantizing — the baseline
    # _encode_block does exactly this, and matching its double rounding
    # is what makes progressive and baseline transmit IDENTICAL
    # coefficients (the bit-exact differential the tests pin)
    co = np.round(_C @ (blocks - shift) @ _C.T)
    flat = co.reshape(by_n, bx_n, 64)
    return np.round(flat[:, :, ZIGZAG] / q[ZIGZAG]).astype(np.int64)


def _write_signed(wr, v: int, s: int) -> None:
    wr.write(v if v >= 0 else v + (1 << s) - 1, s)


def _emit_rst(wr, n_units: int, rst: int) -> bool:
    """Emit an RSTn boundary before unit ``n_units`` when the restart
    interval divides it (the decoder's maybe_restart mirror). Returns
    True when a marker was written — callers must reset their
    cross-unit state (DC predictors, EOB runs) exactly like a decoder
    would."""
    if not rst or n_units == 0 or n_units % rst:
        return False
    wr.flush()
    wr.out += bytes([0xFF, 0xD0 + (n_units // rst - 1) % 8])
    return True


def _emit_dc_first_scan(wr, grids, scan_comps, dc_codes, al, rst=0) -> None:
    """Interleaved DC first scan (Ah=0): codes DIFFs of dc >> Al."""
    pred = {cid: 0 for cid, *_ in scan_comps}
    by_tot = max(g.shape[0] for g in grids.values())
    # MCU grid: component grids are already padded multiples of (vs, hs)
    mcus_y = by_tot // max(vs for _cid, _hs, vs in scan_comps)
    mcus_x = max(g.shape[1] for g in grids.values()) // max(
        hs for _cid, hs, _vs in scan_comps
    )
    n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if _emit_rst(wr, n, rst):
                pred = {cid: 0 for cid, *_ in scan_comps}
            n += 1
            for cid, hs, vs in scan_comps:
                for by in range(vs):
                    for bx in range(hs):
                        v = int(grids[cid][my * vs + by, mx * hs + bx, 0]) >> al
                        diff = v - pred[cid]
                        pred[cid] = v
                        t = _category(diff)
                        code, ln = dc_codes[cid][t]
                        wr.write(code, ln)
                        if t:
                            _write_signed(wr, diff, t)


def _emit_dc_refine_scan(wr, grids, scan_comps, al, rst=0) -> None:
    """Interleaved DC refinement scan (Ah=Al+1): one raw bit per block."""
    mcus_y = max(g.shape[0] for g in grids.values()) // max(
        vs for _cid, _hs, vs in scan_comps
    )
    mcus_x = max(g.shape[1] for g in grids.values()) // max(
        hs for _cid, hs, _vs in scan_comps
    )
    n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            _emit_rst(wr, n, rst)
            n += 1
            for cid, hs, vs in scan_comps:
                for by in range(vs):
                    for bx in range(hs):
                        v = int(grids[cid][my * vs + by, mx * hs + bx, 0])
                        wr.write((v >> al) & 1, 1)


def _emit_ac_first_scan(wr, grid, bh, bw, ss, se, al, ac_codes, rst=0) -> None:
    """Non-interleaved AC first scan: spectral band [Ss..Se] of the
    point-transformed values, with real cross-block EOB runs."""
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        while eobrun > 0:
            chunk = min(eobrun, 0x7FFF)
            r = chunk.bit_length() - 1
            code, ln = ac_codes[r << 4]
            wr.write(code, ln)
            if r:
                wr.write(chunk - (1 << r), r)
            eobrun -= chunk

    n = 0
    for by in range(bh):
        for bx in range(bw):
            if rst and n and n % rst == 0:
                flush_eob()  # an EOB run cannot cross a restart boundary
                _emit_rst(wr, n, rst)
            n += 1
            band = grid[by, bx, ss : se + 1]
            mags = np.abs(band) >> al
            nz = np.flatnonzero(mags)
            if nz.size == 0:
                eobrun += 1
                continue
            flush_eob()
            run = 0
            for k in range(int(nz[-1]) + 1):
                m = int(mags[k])
                if m == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]
                    wr.write(code, ln)
                    run -= 16
                s = m.bit_length()
                code, ln = ac_codes[(run << 4) | s]
                wr.write(code, ln)
                _write_signed(wr, m if band[k] > 0 else -m, s)
                run = 0
            if int(nz[-1]) < se - ss:
                eobrun += 1
    flush_eob()


def _emit_ac_refine_scan(wr, grid, bh, bw, ss, se, al, ac_codes, rst=0) -> None:
    """Non-interleaved AC refinement scan (Ah=Al+1): newly-significant
    insertions plus interleaved correction bits, per T.81 G.1.2.3 (EOB
    flushed per block — no cross-block state, so restarts need no extra
    flush; the decoder additionally supports runs > 1)."""
    n = 0
    for by in range(bh):
        for bx in range(bw):
            _emit_rst(wr, n, rst)
            n += 1
            band = grid[by, bx, ss : se + 1]
            mags = np.abs(band) >> al
            new = np.flatnonzero(mags == 1)
            eob = int(new[-1]) if new.size else -1
            run = 0
            buf: list[int] = []
            for k in range(len(band)):
                m = int(mags[k])
                if m == 0:
                    run += 1
                    continue
                # ZRL must flush at the FIRST nonzero position (old or
                # new) once the zero-history run exceeds 15 — flushing
                # only at new-significant positions would batch buffered
                # correction bits past the run the decoder walks,
                # misaligning every bit after (spec figure G.7 order;
                # past the last new coefficient the trailing EOB covers
                # the run, so k <= eob gates the emission)
                while run > 15 and k <= eob:
                    code, ln = ac_codes[0xF0]
                    wr.write(code, ln)
                    for b in buf:
                        wr.write(b, 1)
                    buf = []
                    run -= 16
                if m > 1:  # already significant: buffer its correction bit
                    buf.append(m & 1)
                    continue
                # newly significant (magnitude bit Al is its first 1)
                code, ln = ac_codes[(run << 4) | 1]
                wr.write(code, ln)
                wr.write(1 if band[k] > 0 else 0, 1)
                for b in buf:
                    wr.write(b, 1)
                buf = []
                run = 0
            if run > 0 or buf:
                code, ln = ac_codes[0x00]  # EOB terminating this block
                wr.write(code, ln)
                for b in buf:
                    wr.write(b, 1)


def encode_jpeg_progressive(
    px: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode pixels as a PROGRESSIVE (SOF2) JPEG with a scan script
    exercising every decoder path: interleaved DC first (Al=1) + DC
    refinement, per-component spectral-selection AC bands (1-5, 6-63 at
    Al=1) and their successive-approximation refinements (Al=0).
    ``restart_interval`` emits DRI + RSTn boundaries inside EVERY scan
    (counted in MCUs for the interleaved DC scans, blocks for the
    non-interleaved AC scans), resetting DC predictors and flushing EOB
    runs exactly like the decoder expects. The transmitted quantized
    coefficients are IDENTICAL to ``encode_jpeg_baseline`` at the same
    quality/subsampling, so progressive decode must equal baseline
    decode bit-exactly — the differential the tests pin."""
    h, w, nc, comps, planes, mcus_x, mcus_y = _prepare_planes(px, subsample)
    ql = _scaled_quant(_QUANT_LUMA, quality)
    qc = _scaled_quant(_QUANT_CHROMA, quality)
    grids = {
        cid: _quantize_plane(planes[cid], ql if tq == 0 else qc)
        for cid, _hs, _vs, tq in comps
    }
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    dc_tbl = {
        cid: _canonical_codes(
            *((_DC_LUMA_BITS, _DC_LUMA_VALS) if tq == 0
              else (_DC_CHROMA_BITS, _DC_CHROMA_VALS))
        )
        for cid, _hs, _vs, tq in comps
    }
    ac_tbl = _canonical_codes(_PROG_AC_BITS, _PROG_AC_VALS)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0
    )

    def dqt(tq, q):
        zz = bytes(int(q[ZIGZAG[i]]) for i in range(64))
        return b"\xff\xdb" + struct.pack(">HB", 67, tq) + zz

    out += dqt(0, ql)
    if nc == 3:
        out += dqt(1, qc)
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += struct.pack(">BBB", cid, (hs << 4) | vs, tq)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2

    def dht(tc, th, bits, vals):
        body = struct.pack(">B", (tc << 4) | th) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    if nc == 3:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
    out += dht(1, 0, _PROG_AC_BITS, _PROG_AC_VALS)
    rst = restart_interval
    if rst:
        out += b"\xff\xdd" + struct.pack(">HH", 4, rst)

    def sos(scan_comps, ss, se, ah, al, entropy: bytes) -> bytes:
        hdr = struct.pack(">B", len(scan_comps))
        for cid, tq in scan_comps:
            td = 0 if tq == 0 else 1
            hdr += struct.pack(">BB", cid, (td << 4) | 0)  # AC table id 0
        hdr += struct.pack(">BBB", ss, se, (ah << 4) | al)
        return b"\xff\xda" + struct.pack(">H", 2 + len(hdr)) + hdr + entropy

    scan_comps_dc = [(cid, hs, vs) for cid, hs, vs, _tq in comps]
    ids_tq = [(cid, tq) for cid, _hs, _vs, tq in comps]

    # scan 1: DC first, interleaved, Al=1
    wr = _BitWriter()
    _emit_dc_first_scan(wr, grids, scan_comps_dc, dc_tbl, 1, rst)
    wr.flush()
    out += sos(ids_tq, 0, 0, 0, 1, bytes(wr.out))

    # per-component AC bands, first pass at Al=1
    band_splits = [(1, 5), (6, 63)]
    for cid, hs, vs, tq in comps:
        bw_n = (-(-(w * hs) // hmax) + 7) // 8
        bh_n = (-(-(h * vs) // vmax) + 7) // 8
        for ss, se in band_splits:
            wr = _BitWriter()
            _emit_ac_first_scan(wr, grids[cid], bh_n, bw_n, ss, se, 1, ac_tbl, rst)
            wr.flush()
            out += sos([(cid, tq)], ss, se, 0, 1, bytes(wr.out))

    # per-component AC refinements to Al=0
    for cid, hs, vs, tq in comps:
        bw_n = (-(-(w * hs) // hmax) + 7) // 8
        bh_n = (-(-(h * vs) // vmax) + 7) // 8
        for ss, se in band_splits:
            wr = _BitWriter()
            _emit_ac_refine_scan(wr, grids[cid], bh_n, bw_n, ss, se, 0, ac_tbl, rst)
            wr.flush()
            out += sos([(cid, tq)], ss, se, 1, 0, bytes(wr.out))

    # final scan: DC refinement to Al=0
    wr = _BitWriter()
    _emit_dc_refine_scan(wr, grids, scan_comps_dc, 0, rst)
    wr.flush()
    out += sos(ids_tq, 0, 0, 1, 0, bytes(wr.out))

    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------- 12-bit encode (r8)

# 12-bit frames need DC categories up to 15 and AC sizes up to 14
# (T.81 Table F.1), which the Annex K 8-bit tables don't carry — flat
# prefix codes in the same spirit as _PROG_AC_VALS (legal, not
# entropy-optimal: these streams exist to exercise the decoder).
_DC12_VALS = list(range(16))
_DC12_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC12_VALS = sorted([0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
])
_AC12_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC12_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


def _encode_block_grid(wr, qc, dc_codes, ac_codes, pred_key, pred) -> None:
    """Huffman-encode one block from an already-quantized coefficient
    row (ZIGZAG index order) — the grid-based twin of _encode_block."""
    diff = int(qc[0]) - pred[pred_key]
    pred[pred_key] = int(qc[0])
    t = _category(diff)
    code, ln = dc_codes[t]
    wr.write(code, ln)
    if t:
        _write_signed(wr, diff, t)
    last_nz = 0
    for k in range(1, 64):
        if qc[k]:
            last_nz = k
    run = 0
    for k in range(1, last_nz + 1):
        v = int(qc[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            wr.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_codes[(run << 4) | s]
        wr.write(code, ln)
        _write_signed(wr, v, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]
        wr.write(code, ln)


def encode_jpeg_12bit(
    px: np.ndarray,
    quality: int = 100,
    restart_interval: int = 0,
    arith: bool = False,
) -> bytes:
    """Encode (h, w) or (h, w, 1) uint16 GRAYSCALE samples (0..4095)
    as a 12-bit extended-sequential JPEG — SOF1 (Huffman, flat 12-bit
    tables) or SOF9 (arithmetic) — with a Pq=1 16-bit quantization
    table. The in-container producer for the decoder's 12-bit path;
    at quality=100 (all-ones table) block-constant images round-trip
    BIT-exactly, same as the 8-bit oracle trick."""
    if px.ndim == 3:
        if px.shape[2] != 1:
            raise ValueError("12-bit encoder is grayscale-only")
        px = px[:, :, 0]
    if int(px.max(initial=0)) > 4095 or int(px.min(initial=0)) < 0:
        raise ValueError("12-bit samples must be in 0..4095")
    h, w = px.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    plane = np.pad(
        px.astype(np.float64), ((0, ph - h), (0, pw - w)), mode="edge"
    )
    q = _scaled_quant(_QUANT_LUMA, quality)
    grid = _quantize_plane(plane, q, shift=2048.0)
    bh, bw = grid.shape[:2]
    rst = restart_interval

    if arith:
        from .jpeg_arith import _DEFAULT_AC_KX, _DEFAULT_DC_COND, _ScanEncoder
        from .jpeg_arith import _block_encode_seq as _abe

        sc = _ScanEncoder([(1, 1, 1, 0)], rst)
        for by in range(bh):
            for bx in range(bw):
                sc.unit()
                _abe(sc.enc, sc.stats.dc_bins(0), sc.stats.ac_bins(0),
                     sc.ctx, sc.pred, 1, _DEFAULT_DC_COND, _DEFAULT_AC_KX,
                     grid[by, bx])
        entropy = sc.finish()
    else:
        dc_codes = _canonical_codes(_DC12_BITS, _DC12_VALS)
        ac_codes = _canonical_codes(_AC12_BITS, _AC12_VALS)
        wr = _BitWriter()
        pred = {1: 0}
        n = 0
        for by in range(bh):
            for bx in range(bw):
                if _emit_rst(wr, n, rst):
                    pred[1] = 0
                n += 1
                _encode_block_grid(wr, grid[by, bx], dc_codes, ac_codes, 1, pred)
        wr.flush()
        entropy = bytes(wr.out)

    out = bytearray(b"\xff\xd8")
    zz16 = b"".join(struct.pack(">H", int(q[ZIGZAG[i]])) for i in range(64))
    out += b"\xff\xdb" + struct.pack(">HB", 131, 0x10) + zz16  # Pq=1, Tq=0
    sof = struct.pack(">BHHB", 12, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0)
    out += bytes([0xFF, 0xC9 if arith else 0xC1])
    out += struct.pack(">H", 2 + len(sof)) + sof
    if arith:
        low, high = _DEFAULT_DC_COND
        dac = struct.pack(">BBBB", 0x00, (high << 4) | low, 0x10, _DEFAULT_AC_KX)
        out += b"\xff\xcc" + struct.pack(">H", 2 + len(dac)) + dac
    else:
        def dht(tc, th, bits, vals):
            body = struct.pack(">B", (tc << 4) | th) + bytes(bits) + bytes(vals)
            return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

        out += dht(0, 0, _DC12_BITS, _DC12_VALS)
        out += dht(1, 0, _AC12_BITS, _AC12_VALS)
    if rst:
        out += b"\xff\xdd" + struct.pack(">HH", 4, rst)
    sos = struct.pack(">B", 1) + struct.pack(">BB", 1, 0x00) + b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------- lossless (SOF3) — r8

# T.81 Annex H: lossless JPEG codes prediction residuals with DC-style
# Huffman categories (SSSS up to 16). Predictors 1-7 over
# a = left, b = above, c = above-left (H.1.2.1):
#   1:a  2:b  3:c  4:a+b-c  5:a+((b-c)>>1)  6:b+((a-c)>>1)  7:(a+b)>>1
# First sample of the scan predicts 2^(P-1-Pt); the rest of the first
# line predicts from a; the first sample of every other line from b.
# An RSTn resets prediction exactly as at the start of the scan:
# default for the interval's first sample, Ra for the rest of the
# interval's first line (H.1.2.1).
# Differences are modulo 2^16. This is the mode DICOM archives use, so
# a curation pass over medical imagery meets it in bulk.

_DC16_VALS = list(range(17))
_DC16_BITS = [0, 0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]


def _lossless_predict(rec, y, x, psel, default, rs=(0, 0)):
    """Prediction per T.81 H.1.2.1 with ``rs`` = the current restart
    interval's origin (scan origin when no DRI). The rules at the start
    of a restart interval are EXACTLY the start-of-scan rules: the
    interval's first sample predicts 2^(P-Pt-1); the remainder of the
    interval's first line uses the 1-D predictor Ra; every later line
    uses Rb at the start of the line and the selected predictor
    elsewhere.

    Interop note (r9 advice): T.81 is ambiguous about a restart landing
    MID-row — some third-party encoders keep the 2-D predictor for the
    rest of that row and only special-case the restart sample itself.
    This codec commits to the reading above (restart == start-of-scan,
    applied to the whole remainder of the interval's first line),
    symmetrically in encoder and decoder; the interpretation is locked
    by a frozen byte-level fixture
    (tests/test_jpeg_lossless.py::test_dri_mid_row_restart_frozen_fixture)
    and an independent from-scratch encoder differential. Streams from
    encoders using the other reading decode without error but with
    different samples after each mid-row RSTn."""
    ry, rx = rs
    if y == ry and x == rx:
        return default
    if y == ry:
        return int(rec[y, x - 1])
    if x == 0:
        return int(rec[y - 1, x])
    a, b = int(rec[y, x - 1]), int(rec[y - 1, x])
    c = int(rec[y - 1, x - 1])
    if psel == 1:
        return a
    if psel == 2:
        return b
    if psel == 3:
        return c
    if psel == 4:
        return a + b - c
    if psel == 5:
        return a + ((b - c) >> 1)
    if psel == 6:
        return b + ((a - c) >> 1)
    if psel == 7:
        return (a + b) >> 1
    raise ValueError(f"invalid lossless predictor {psel}")


def _decode_lossless_diffs(data: bytes, pos: int, h: int, w: int,
                           order: list, tabs: dict) -> dict:
    """Phase 1 of the two-phase lossless decode: entropy-decode every
    prediction residual in one tight loop over a PRE-DESTUFFED buffer
    (round-9). The generic _BitReader pays three method calls and a
    stuffing check per bit; destuffing once up front (0xFF00 -> 0xFF,
    any real marker terminates the segment, same semantics) lets the
    Huffman walk run on local integer arithmetic — measured ~1.7x on
    the whole SOF3 decode on top of the vectorized reconstruction."""
    buf, _mpos, _marker = _destuff_to_marker(data, pos)
    # preallocated int32 planes + per-row Python buffers: the tight
    # loop appends to small lists (fast) and flushes one numpy row per
    # scanline, so peak memory stays ~4 bytes/sample instead of a
    # boxed-int list of every diff (r9 review finding). Round-11: the
    # per-bit Huffman walk becomes one 16-bit-window LUT lookup and
    # magnitude bits one shift, same as _decode_scan.
    out = {cid: np.zeros((h, w), dtype=np.int32) for cid in order}
    luts = [(tabs[cid].lut_len, tabs[cid].lut_sym) for cid in order]
    wchunk = _BitReader._WINDOW_BYTES
    seg = np.frombuffer(bytes(buf), np.uint8)
    nbits = int(seg.size) * 8
    win = _bit_windows(seg, 0, wchunk)
    wlen = len(win)
    base = p = 0
    _end_err = "JPEG entropy stream ended mid-scan"
    for y in range(h):
        rows: list[list[int]] = [[] for _ in order]
        appends = [r.append for r in rows]
        for _x in range(w):
            for (tlen, tsym), app in zip(luts, appends):
                if p >= wlen:  # chunk exhausted: refill at the cursor
                    abs_bit = base + p
                    if abs_bit >= nbits:
                        raise ValueError(_end_err)
                    byte0 = abs_bit >> 3
                    base = byte0 << 3
                    win = _bit_windows(seg, byte0, wchunk)
                    wlen = len(win)
                    p = abs_bit - base
                w16 = win[p]
                ln = tlen[w16]
                if ln == 0 or base + p + ln > nbits:
                    if base + p + 16 > nbits:
                        raise ValueError(_end_err)
                    raise ValueError("invalid Huffman code in JPEG stream")
                p += ln
                sym = tsym[w16]
                if sym == 16:  # the one category without extra bits
                    app(32768)
                    continue
                if sym == 0:
                    app(0)
                    continue
                if p >= wlen:
                    abs_bit = base + p
                    if abs_bit >= nbits:
                        raise ValueError(_end_err)
                    byte0 = abs_bit >> 3
                    base = byte0 << 3
                    win = _bit_windows(seg, byte0, wchunk)
                    wlen = len(win)
                    p = abs_bit - base
                if base + p + sym > nbits:
                    raise ValueError(_end_err)
                v = win[p] >> (16 - sym)
                p += sym
                app(v if v >= (1 << (sym - 1)) else v - (1 << sym) + 1)
        for cid, row in zip(order, rows):
            out[cid][y] = row
    return out


def _reconstruct_lossless(d: np.ndarray, psel: int, default: int) -> np.ndarray:
    """Rebuild samples from a fully-decoded (h, w) diff array — phase 2
    of the two-phase lossless decode (round-9: the entropy pass is
    inherently bit-serial, but prediction is a linear recurrence for
    predictors 1-5, so reconstruction runs as numpy cumsums in uint16 —
    whose natural wraparound IS the required mod-2^16 arithmetic).
    Predictors 6/7 shift the serially-dependent left neighbor, so they
    keep a scalar loop. Only valid without restart intervals (an RSTn
    resets the recurrence mid-array; the scalar path handles DRI)."""
    h, w = d.shape
    du = d.astype(np.uint16)
    # scalar adds go through Python ints + mask: same mod-2^16 result
    # as the uint16 wraparound, without numpy's scalar-overflow warning
    du[0, 0] = (int(du[0, 0]) + default) & 0xFFFF
    if psel == 4:  # a+b-c == 2-D inclusive prefix sum of the diffs
        return (
            np.cumsum(np.cumsum(du, axis=0, dtype=np.uint16), axis=1, dtype=np.uint16)
            .astype(np.int64)
        )
    if psel == 1:  # Ra rows; col 0 chains down via Rb
        t = du.copy()
        t[:, 0] = np.cumsum(du[:, 0], dtype=np.uint16)
        return np.cumsum(t, axis=1, dtype=np.uint16).astype(np.int64)
    row0 = np.cumsum(du[0], dtype=np.uint16)  # first line is always Ra
    if psel == 2:  # Rb columns below the Ra first line
        t = du.copy()
        t[0] = row0
        return np.cumsum(t, axis=0, dtype=np.uint16).astype(np.int64)
    rec = np.empty((h, w), dtype=np.uint16)
    rec[0] = row0
    if psel == 3:  # Rc: row y is row y-1 shifted right, one vector op/row
        for y in range(1, h):
            rec[y, 0] = (int(rec[y - 1, 0]) + int(du[y, 0])) & 0xFFFF
            rec[y, 1:] = rec[y - 1, :-1] + du[y, 1:]
        return rec.astype(np.int64)
    if psel == 5:  # a + ((b-c)>>1): the (b-c)>>1 term only reads the
        # previous row, so each row is one cumsum over known increments
        for y in range(1, h):
            prev = rec[y - 1].astype(np.int64)
            k = ((prev[1:] - prev[:-1]) >> 1).astype(np.uint16) + du[y, 1:]
            t = np.empty(w, dtype=np.uint16)
            t[0] = (int(rec[y - 1, 0]) + int(du[y, 0])) & 0xFFFF
            t[1:] = k
            rec[y] = np.cumsum(t, dtype=np.uint16)
        return rec.astype(np.int64)
    # predictors 6/7: nonlinear in the left neighbor — scalar rows
    out = rec.astype(np.int64)
    for y in range(1, h):
        out[y, 0] = (out[y - 1, 0] + int(d[y, 0])) % 65536
        for x in range(1, w):
            a, b = int(out[y, x - 1]), int(out[y - 1, x])
            c = int(out[y - 1, x - 1])
            pred = b + ((a - c) >> 1) if psel == 6 else (a + b) >> 1
            out[y, x] = (pred + int(d[y, x])) % 65536
    return out


def _decode_scan_lossless(data, pos, frame, huff_dc, scan_tabs, psel, pt,
                          restart_interval) -> np.ndarray:
    """Decode the single lossless scan of a SOF3 frame (components at
    1x1 sampling, interleaved sample-per-component MCUs)."""
    h, w, comps, prec = frame
    if any(hs != 1 or vs != 1 for _cid, hs, vs, _tq in comps):
        raise NotImplementedError("lossless JPEG with subsampled components")
    if not (1 <= psel <= 7):
        raise ValueError(f"invalid lossless predictor {psel}")
    default = 1 << (prec - pt - 1)
    planes = {cid: np.zeros((h, w), dtype=np.int64) for cid, *_ in comps}
    tabs = {cid: huff_dc[scan_tabs[cid][0]] for cid, *_ in comps}
    order = [cid for cid, *_ in comps]
    if not restart_interval:
        # two-phase fast path (round-9): tight-loop entropy pass over a
        # destuffed buffer, then vectorized prediction recurrences. A
        # DRI stream resets the recurrence mid-array, so it keeps the
        # scalar path below.
        diffs = _decode_lossless_diffs(data, pos, h, w, order, tabs)
        for cid in order:
            planes[cid] = _reconstruct_lossless(diffs[cid], psel, default)
    else:
        reader = _BitReader(data, pos)
        n = 0
        rs = (0, 0)  # current restart interval's origin (T.81 H.1.2.1:
        # an RSTn resets prediction exactly as at the start of the scan)
        try:
            for y in range(h):
                for x in range(w):
                    if n and n % restart_interval == 0:
                        m = reader.align_to_marker()
                        if not (0xD0 <= m <= 0xD7):
                            raise ValueError(
                                f"expected RST marker, got 0xFF{m:02X}"
                            )
                        rs = (y, x)
                    n += 1
                    for cid in order:
                        t = _huff_decode(reader, tabs[cid])
                        if t == 16:  # the category without extra bits
                            diff = 32768
                        else:
                            diff = _extend(reader.read_bits(t), t) if t else 0
                        rec = planes[cid]
                        pred = _lossless_predict(rec, y, x, psel, default, rs)
                        rec[y, x] = (pred + diff) % 65536
        except _SegmentEnd:
            raise ValueError("JPEG entropy stream ended mid-scan") from None
    maxv = (1 << prec) - 1
    out = np.stack(
        [np.clip(planes[cid] << pt, 0, maxv) for cid, *_ in comps], axis=2
    )
    return out.astype(np.uint8 if prec <= 8 else np.uint16)


def encode_jpeg_lossless(
    px: np.ndarray,
    precision: int = 8,
    predictor: int = 4,
    point_transform: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) or (h, w, c<=4) integer samples as LOSSLESS JPEG
    (SOF3). decode(encode(x)) == x EXACTLY for any input within the
    precision — the defining property the tests pin (no q100 trickery
    needed, unlike the DCT modes)."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nc = px.shape
    if nc > 4:
        raise ValueError(f"at most 4 components, got {nc}")
    if not (1 <= predictor <= 7):
        raise ValueError(f"invalid lossless predictor {predictor}")
    if not (2 <= precision <= 16):
        raise ValueError(f"lossless precision must be 2..16, got {precision}")
    pt = point_transform
    vals = px.astype(np.int64) >> pt
    if int(vals.max(initial=0)) >= (1 << (precision - pt)) or int(px.min(initial=0)) < 0:
        raise ValueError("samples exceed the stated precision")
    codes = _canonical_codes(_DC16_BITS, _DC16_VALS)
    default = 1 << (precision - pt - 1)

    wr = _BitWriter()
    if not restart_interval:
        # vectorized prediction (round-9): unlike the decoder, every
        # neighbor is known up front, so ALL seven predictors are one
        # shifted-view expression; only the bit writing stays serial
        diffs = np.empty((h, w, nc), dtype=np.int64)
        for ci in range(nc):
            p = vals[:, :, ci]
            pred = np.empty((h, w), dtype=np.int64)
            pred[0, 0] = default
            pred[0, 1:] = p[0, :-1]
            if h > 1:
                pred[1:, 0] = p[:-1, 0]
                a, b = p[1:, :-1], p[:-1, 1:]
                c = p[:-1, :-1]
                pred[1:, 1:] = {
                    1: a,
                    2: b,
                    3: c,
                    4: a + b - c,
                    5: a + ((b - c) >> 1),
                    6: b + ((a - c) >> 1),
                    7: (a + b) >> 1,
                }[predictor]
            diffs[:, :, ci] = (p - pred) % 65536
        for d in diffs.reshape(-1):
            diff = int(d)
            if diff >= 32768:
                diff -= 65536  # smallest-magnitude residue
            if diff == -32768 or diff == 32768:
                code, ln = codes[16]
                wr.write(code, ln)
                continue
            t = _category(diff)
            code, ln = codes[t]
            wr.write(code, ln)
            if t:
                _write_signed(wr, diff, t)
    else:
        n = 0
        rs = (0, 0)  # restart interval origin — H.1.2.1 reset as decode
        for y in range(h):
            for x in range(w):
                if n and n % restart_interval == 0:
                    wr.flush()
                    wr.out += bytes(
                        [0xFF, 0xD0 + (n // restart_interval - 1) % 8]
                    )
                    rs = (y, x)
                n += 1
                for ci in range(nc):
                    rec = vals[:, :, ci]
                    pred = _lossless_predict(rec, y, x, predictor, default, rs)
                    diff = (int(rec[y, x]) - pred) % 65536
                    if diff >= 32768:
                        diff -= 65536  # smallest-magnitude residue
                    if diff == -32768 or diff == 32768:
                        code, ln = codes[16]
                        wr.write(code, ln)
                        continue
                    t = _category(diff)
                    code, ln = codes[t]
                    wr.write(code, ln)
                    if t:
                        _write_signed(wr, diff, t)
    wr.flush()

    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", precision, h, w, nc)
    for ci in range(nc):
        sof += struct.pack(">BBB", ci + 1, 0x11, 0)
    out += b"\xff\xc3" + struct.pack(">H", 2 + len(sof)) + sof
    body = struct.pack(">B", 0x00) + bytes(_DC16_BITS) + bytes(_DC16_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = struct.pack(">B", nc)
    for ci in range(nc):
        sos += struct.pack(">BB", ci + 1, 0x00)
    sos += struct.pack(">BBB", predictor, 0, pt)  # Ss=psel Se=0 Ah=0 Al=Pt
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += wr.out
    out += b"\xff\xd9"
    return bytes(out)
