"""Container-mix pin for the media codec proof entries (Spark-free).

The DuckDB twins recompute every hash from the pixel or sample formula
alone, so an entry whose generator silently fell back to its baseline
encoder for every group would stay oracle-green. This test calls each
entry's ``make`` for doc_id 0..15, classifies every blob by its
container marker and pins the set of classes to the mix the entry's
docstring claims."""

from __future__ import annotations

import struct

import pytest

from turbine_maintenance_etl_spark.queries import load_registry

_SOF = {0xC0: "SOF0", 0xC2: "SOF2", 0xC3: "SOF3", 0xC9: "SOF9", 0xCA: "SOF10"}
_WAV = {1: "pcm", 2: "ms_adpcm", 6: "alaw", 7: "ulaw", 0x11: "ima_adpcm"}
_PNG = {(8, 0, 0): "gray8", (4, 3, 0): "palette4", (16, 0, 0): "gray16", (8, 0, 1): "adam7"}


def _jpeg_class(data: bytes) -> str:
    assert data[:2] == b"\xff\xd8"
    i = 2
    while True:
        assert data[i] == 0xFF
        marker = data[i + 1]
        if marker in _SOF:
            return _SOF[marker]
        assert marker != 0xDA, "scan before any frame header"
        i += 2 + struct.unpack(">H", data[i + 2 : i + 4])[0]


def _gif_class(data: bytes) -> str:
    i = 13
    if data[10] & 0x80:  # global colour table
        i += 3 << ((data[10] & 0x07) + 1)
    assert data[i] == 0x2C  # image descriptor (the proofs write no extensions)
    return "gif_interlaced" if data[i + 9] & 0x40 else "gif"


def classify(data: bytes) -> str:
    if data[:2] == b"\xff\xd8":
        return _jpeg_class(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        assert data[12:16] == b"IHDR"
        return _PNG[(data[24], data[25], data[28])]
    if data[:6] == b"GIF89a":
        return _gif_class(data)
    if data[:4] == b"RIFF" and data[8:16] == b"WAVEfmt ":
        return _WAV[struct.unpack("<H", data[20:22])[0]]
    raise AssertionError(f"unknown container {data[:16]!r}")


EXPECTED = {
    "dedup_image_phash": {"gray8"},
    "dedup_image_phash_jpeg": {"SOF0"},
    "dedup_image_phash_jpeg_lossless": {"SOF0", "SOF3"},
    "dedup_image_phash_png_formats": {"gray8", "palette4", "gray16", "adam7"},
    "dedup_image_phash_gif": {"gif", "gif_interlaced"},
    "dedup_image_phash_jpeg_progressive": {"SOF0", "SOF2"},
    "dedup_image_phash_jpeg_arith": {"SOF0", "SOF2", "SOF9", "SOF10"},
    "dedup_audio_fingerprint": {"pcm"},
    "dedup_audio_fingerprint_adpcm": {"pcm", "ima_adpcm", "ms_adpcm"},
    "dedup_audio_fingerprint_g711": {"pcm", "ulaw", "alaw"},
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_codec_proof_emits_its_container_mix(name):
    make = load_registry()[name].fn.make
    classes = {classify(make(did)) for did in range(16)}
    assert classes == EXPECTED[name]

