"""G.711 companding (µ-law / A-law) — WAVE format tags 0x0007 and
0x0006, the telephony formats a bulk audio-curation pipeline meets
right after PCM and IMA ADPCM.

Both codecs are pure 8-bit companding: decode is a 256-entry lookup
table built here from the public ITU-T G.711 piecewise-linear
definitions, so the Spark-side decode is a fully VECTORIZED numpy
table take (no per-sample Python, unlike the inherently sequential
ADPCM predictor).  CPython's ``audioop.ulaw2lin``/``alaw2lin`` provide
an independent in-container oracle; tests compare all 256 codewords
element-for-element and round-trip the encoders.
"""

from __future__ import annotations

import numpy as np

_BIAS = 0x84  # µ-law bias (132)


def _ulaw_to_linear(u: int) -> int:
    """One µ-law codeword -> 16-bit linear (G.711 Table 2a/2b)."""
    u = ~u & 0xFF
    t = ((u & 0x0F) << 3) + _BIAS
    t <<= (u & 0x70) >> 4
    return _BIAS - t if u & 0x80 else t - _BIAS


def _alaw_to_linear(a: int) -> int:
    """One A-law codeword -> 16-bit linear (G.711 Table 1a/1b)."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


ULAW_TABLE = np.array([_ulaw_to_linear(u) for u in range(256)], dtype=np.int16)
ALAW_TABLE = np.array([_alaw_to_linear(a) for a in range(256)], dtype=np.int16)

# segment ends for the encoders' piecewise searches (µ-law at 14-bit
# precision like the reference implementation; A-law at 16-bit)
_ULAW_SEG_END = (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF)
_ALAW_SEG_END = (0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0xFFFF)


def linear_to_ulaw(pcm: int) -> int:
    """16-bit linear -> µ-law codeword (G.711 encode, via the
    reference 14-bit form: arithmetic-shift down first, which is what
    the Sun/CCITT code and CPython's audioop both do — the parity the
    tests pin)."""
    pcm >>= 2  # 14-bit (arithmetic shift)
    if pcm < 0:
        pcm = -pcm
        mask = 0x7F
    else:
        mask = 0xFF
    if pcm > 8159:
        pcm = 8159  # clip
    pcm += _BIAS >> 2  # 14-bit bias (33)
    seg = 0
    while seg < 8 and pcm > _ULAW_SEG_END[seg]:
        seg += 1
    if seg >= 8:  # biased clip value overflows segment 7
        return 0x7F ^ mask
    return ((seg << 4) | ((pcm >> (seg + 1)) & 0x0F)) ^ mask


def linear_to_alaw(pcm: int) -> int:
    """16-bit linear -> A-law codeword (G.711 encode)."""
    sign = 0x80 if pcm >= 0 else 0
    if pcm < 0:
        pcm = -pcm - 1  # A-law codes the magnitude of the lower edge
    if pcm > 32767:
        pcm = 32767
    seg = 0
    while seg < 8 and pcm > _ALAW_SEG_END[seg]:
        seg += 1
    if seg >= 8:
        aval = 0x7F
    elif seg < 2:
        aval = (seg << 4) | ((pcm >> 4) & 0x0F)
    else:
        aval = (seg << 4) | ((pcm >> (seg + 3)) & 0x0F)
    return (aval | sign) ^ 0x55


def decode_g711(raw: bytes, ulaw: bool) -> np.ndarray:
    """Vectorized codeword stream -> int16 linear samples."""
    table = ULAW_TABLE if ulaw else ALAW_TABLE
    return table[np.frombuffer(raw, dtype=np.uint8)]


def encode_wav_g711(samples: np.ndarray, sample_rate: int,
                    ulaw: bool = True) -> bytes:
    """Minimal RIFF/WAVE µ-law/A-law encoder for (n_frames, n_channels)
    float32 samples in [-1, 1] — the fixture producer for the decoder
    (same policy as the ADPCM/JPEG/PNG encoders)."""
    import struct

    from .multimodal import wav_container

    if samples.ndim != 2:
        raise ValueError(f"expected (frames, channels) samples, got {samples.shape}")
    n_frames, n_ch = samples.shape
    pcm = np.round(np.clip(samples, -1.0, 1.0) * 32767.0).astype(np.int64)
    conv = linear_to_ulaw if ulaw else linear_to_alaw
    raw = bytes(conv(int(v)) for v in pcm.reshape(-1))
    fmt_tag = 0x07 if ulaw else 0x06
    fmt = struct.pack(
        "<HHIIHHH", fmt_tag, n_ch, sample_rate, sample_rate * n_ch, n_ch, 8, 0
    )
    return wav_container(fmt, raw, n_frames)
