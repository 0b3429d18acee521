"""Bounded-memory tests for the round-10 windowed _BitReader
(llm/jpeg.py): a progressive JPEG without restart intervals is ONE
entropy segment, and the round-9 reader unpacked it to a whole-segment
Python bit list (~64 bytes of pointer per entropy byte — gigabytes for
a multi-MB scan). Round-10 unpacks a fixed 64 KiB byte window at a
time; these tests pin (a) bit-exact reads across many window refills
on a multi-MB single segment, (b) that the unpacked list never exceeds
the window, and (c) full-decoder bit-identity when the window is
shrunk far below any real Huffman code span (boundary mid-code)."""

from __future__ import annotations

import numpy as np
import pytest

import turbine_maintenance_etl_spark.llm.jpeg as J


def _noise_image(h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_multi_mb_single_segment_reads_bounded_and_exact():
    """~2 MB destuffed single segment (no markers until the trailing
    EOI): every 16-bit read must match the big-endian uint16 view of
    the raw bytes, while the unpacked bit list stays <= one window."""
    rng = np.random.default_rng(7)
    raw = rng.integers(0, 255, size=2_000_000, dtype=np.uint8)  # no 0xFF
    data = bytes(raw) + b"\xff\xd9"
    reader = J._BitReader(data, 0)
    cap = J._BitReader._WINDOW_BYTES * 8
    want = np.frombuffer(raw.tobytes(), dtype=">u2")
    got = np.empty(want.size, dtype=np.uint16)
    for i in range(want.size):
        got[i] = reader.read_bits(16)
        if i % 65536 == 0:
            assert len(reader.bits) <= cap
    assert np.array_equal(got, want)
    assert len(reader.bits) <= cap
    # segment exhausted at the EOI marker: next read is _SegmentEnd,
    # exactly where the byte-wise reader stopped
    with pytest.raises(J._SegmentEnd):
        reader.read_bit()
    assert reader.pos == len(raw)
    assert reader.marker == 0xD9


def test_mixed_read_sizes_cross_windows_exactly():
    """read_bit / read_bits(n) interleaved over several windows equals
    one whole-buffer unpack — covers the boundary slow path where a
    read spans two windows."""
    rng = np.random.default_rng(11)
    nbytes = J._BitReader._WINDOW_BYTES * 3 + 5
    raw = rng.integers(0, 255, size=nbytes, dtype=np.uint8)
    data = bytes(raw) + b"\xff\xd9"
    reader = J._BitReader(data, 0)
    ref_bits = np.unpackbits(raw)
    sizes = [1, 3, 7, 8, 13, 16, 2, 5]
    i = k = 0
    total = int(ref_bits.size)
    while i < total:
        n = min(sizes[k % len(sizes)], total - i)
        k += 1
        if n == 1:
            v = reader.read_bit()
        else:
            v = reader.read_bits(n)
        want = 0
        for b in ref_bits[i : i + n]:
            want = (want << 1) | int(b)
        assert v == want, f"bit offset {i}, n={n}"
        i += n


def test_tiny_window_decode_bit_identical(monkeypatch):
    """Shrink the window to 3 destuffed bytes (24 bits — smaller than
    a worst-case 16-bit Huffman code + magnitude) and decode a real
    progressive stream: thousands of refills, codes split mid-window,
    result must equal the default-window decode bit-for-bit."""
    px = _noise_image(24, 33, seed=3)
    blob = J.encode_jpeg_progressive(px, quality=80, restart_interval=0)
    want = J.decode_jpeg_pixels(blob)
    monkeypatch.setattr(J._BitReader, "_WINDOW_BYTES", 3)
    got = J.decode_jpeg_pixels(blob)
    assert np.array_equal(got, want)


def test_tiny_window_decode_with_restarts(monkeypatch):
    """Same tiny-window identity across DRI/RSTn segment reloads."""
    px = _noise_image(40, 17, seed=5)
    blob = J.encode_jpeg_progressive(px, quality=75, restart_interval=2)
    want = J.decode_jpeg_pixels(blob)
    monkeypatch.setattr(J._BitReader, "_WINDOW_BYTES", 2)
    got = J.decode_jpeg_pixels(blob)
    assert np.array_equal(got, want)


def test_truncated_single_segment_still_raises(monkeypatch):
    """Truncation semantics survive the windowing: a stream cut inside
    the entropy data (no terminating marker) raises ValueError, not
    _SegmentEnd, regardless of which window the cut lands in."""
    px = _noise_image(16, 16, seed=9)
    blob = J.encode_jpeg_progressive(px, quality=85, restart_interval=0)
    monkeypatch.setattr(J._BitReader, "_WINDOW_BYTES", 4)
    with pytest.raises(ValueError):
        J.decode_jpeg_pixels(blob[: len(blob) // 2])


def test_read_bit_stops_at_restart_segment_end():
    """The whole scan is destuffed at once, so the window past a
    segment's last bit already holds the NEXT segment's bits: read_bit
    must end the segment there, not return the first bit after RST0."""
    reader = J._BitReader(b"\xab\xff\xd0\xcd\xff\xd9", 0)
    assert [reader.read_bit() for _ in range(8)] == [1, 0, 1, 0, 1, 0, 1, 1]
    with pytest.raises(J._SegmentEnd):
        reader.read_bit()
    assert reader.align_to_marker() == 0xD0
    assert reader.read_bits(8) == 0xCD


@pytest.mark.parametrize("quality", [75, 95])
def test_truncated_restart_segments_raise(quality):
    """Cut the last entropy byte of every restart segment of a
    progressive stream (DC/AC first and refinement scans): each cut
    segment runs out of bits mid-block, so decode must raise, never
    borrow the following segment's bits and return pixels. The two
    qualities between them end segments inside every inlined
    correction-bit read of _ac_refine_prog and in read_bit."""
    px = _noise_image(24, 24, seed=5)
    blob = J.encode_jpeg_progressive(px, quality=quality, restart_interval=1)
    rst = [j for j in range(len(blob) - 1)
           if blob[j] == 0xFF and 0xD0 <= blob[j + 1] <= 0xD7]
    assert len(rst) > 50
    for r in rst:
        cut = 2 if blob[r - 2 : r] == b"\xff\x00" else 1  # keep stuffing whole
        with pytest.raises(ValueError):
            J.decode_jpeg_pixels(blob[: r - cut] + blob[r:])
