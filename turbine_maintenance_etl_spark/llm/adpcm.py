"""IMA/DVI ADPCM (WAVE format tag 0x0011) — extends the stdlib-only
WAV path beyond PCM, closing the "non-PCM WAV unsupported" gap the
multimodal docstrings have carried since round 6.

The algorithm is the public IMA ADPCM recommendation (also Microsoft's
registered WAVE format 0x11): a 4-bit differential coder whose step
size walks an 89-entry table under an 8-entry index-adjustment table.
The WAV block layout is the registered one: per channel a 4-byte block
header (int16 predictor — emitted as the block's first sample — plus a
step-table index), then 4-byte data words per channel interleaved,
low nibble first, 8 samples per word.

Verification has an independent oracle in this container: CPython's
``audioop.adpcm2lin`` implements the same nibble-level decoder
(tests/test_wav_adpcm.py differentials the core against it), and the
encoder's own predictor track must be reproduced bit-exactly by the
decoder (lossy codec, but the RECONSTRUCTION is integer-exact).
"""

from __future__ import annotations

import struct

import numpy as np

from .multimodal import wav_container

# IMA ADPCM step-size table (89 entries) and index-adjustment table
STEP_TABLE: tuple[int, ...] = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
INDEX_TABLE: tuple[int, ...] = (-1, -1, -1, -1, 2, 4, 6, 8)


def decode_nibbles(nibbles, pred: int, index: int):
    """Decode a sequence of 4-bit codes from (pred, index) state.
    Returns (samples list[int16], pred, index) — the exact integer
    reconstruction every IMA decoder must produce."""
    out = []
    for n in nibbles:
        step = STEP_TABLE[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
        index += INDEX_TABLE[n & 7]
        index = 0 if index < 0 else (88 if index > 88 else index)
        out.append(pred)
    return out, pred, index


def encode_nibbles(samples, pred: int, index: int):
    """Quantize int16 samples against the running predictor; returns
    (nibbles list[int], pred, index) with pred/index tracking the
    DECODER's reconstruction (so decode_nibbles replays it exactly)."""
    out = []
    for s in samples:
        step = STEP_TABLE[index]
        diff = int(s) - pred
        n = 8 if diff < 0 else 0
        if n:
            diff = -diff
        tmp = step
        if diff >= tmp:
            n |= 4
            diff -= tmp
        tmp >>= 1
        if diff >= tmp:
            n |= 2
            diff -= tmp
        tmp >>= 1
        if diff >= tmp:
            n |= 1
        # reconstruct exactly as the decoder will
        vp = step >> 3
        if n & 1:
            vp += step >> 2
        if n & 2:
            vp += step >> 1
        if n & 4:
            vp += step
        pred = pred - vp if n & 8 else pred + vp
        pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
        index += INDEX_TABLE[n & 7]
        index = 0 if index < 0 else (88 if index > 88 else index)
        out.append(n)
    return out, pred, index


def decode_ima_blocks(raw: bytes, n_channels: int, block_align: int,
                      n_frames: int | None) -> np.ndarray:
    """Decode the WAV ``data`` chunk of an IMA ADPCM stream to an
    int16 array shaped (frames, channels).  ``n_frames`` (from the
    ``fact`` chunk) trims encoder padding in the final block."""
    if block_align < 4 * n_channels + 4 or block_align % 4:
        raise ValueError(f"bad IMA ADPCM block align {block_align}")
    data_words = (block_align - 4 * n_channels) // (4 * n_channels)
    chans: list[list[int]] = [[] for _ in range(n_channels)]
    for b0 in range(0, len(raw), block_align):
        block = raw[b0 : b0 + block_align]
        if len(block) < 4 * n_channels:
            # trailing fragment too short to carry even the per-channel
            # headers — nothing decodable in it
            break
        # a short FINAL block is legal in the wild (ADVICE r8): decode
        # as many whole word rounds (4 bytes x n_channels) as it holds
        words_here = min(data_words, (len(block) - 4 * n_channels) // (4 * n_channels))
        partial = len(block) < block_align
        hdrs = []
        bad_index = None
        for ch in range(n_channels):
            pred, index, _rsv = struct.unpack_from("<hBB", block, 4 * ch)
            if index > 88:
                bad_index = index
                break
            hdrs.append((pred, index))
        if bad_index is not None:
            if partial:
                # a trailing fragment whose 'header' doesn't validate is
                # writer junk, not a legal short final block — skip it
                # (a FULL block with a bad header still fails loudly)
                break
            raise ValueError(f"bad IMA ADPCM step index {bad_index}")
        preds = [p for p, _i in hdrs]
        idxs = [i for _p, i in hdrs]
        for ch, (pred, _i) in enumerate(hdrs):
            chans[ch].append(pred)  # header predictor IS the first sample
        pos = 4 * n_channels
        for _w in range(words_here):
            for ch in range(n_channels):
                word = block[pos : pos + 4]
                pos += 4
                nibs = []
                for byte in word:
                    nibs.append(byte & 0x0F)
                    nibs.append(byte >> 4)
                s, preds[ch], idxs[ch] = decode_nibbles(
                    nibs, preds[ch], idxs[ch]
                )
                chans[ch].extend(s)
    if not chans[0]:
        raise ValueError("IMA ADPCM stream shorter than one block")
    out = np.array(chans, dtype=np.int16).T  # (frames, channels)
    if n_frames is not None:
        if n_frames > out.shape[0]:
            raise ValueError(
                f"fact chunk claims {n_frames} frames, stream has {out.shape[0]}"
            )
        out = out[:n_frames]
    return out


def encode_wav_adpcm(samples: np.ndarray, sample_rate: int,
                     samples_per_block: int = 505) -> bytes:
    """Minimal RIFF/WAVE IMA-ADPCM (fmt 0x11) encoder for
    (n_frames, n_channels) float32 samples in [-1, 1] — the fixture
    producer the decoder is tested against (same policy as the JPEG
    and PNG encoders).  Emits the registered fmt extension
    (wSamplesPerBlock) and a fact chunk so decode can trim the final
    block's padding."""
    if samples.ndim != 2:
        raise ValueError(f"expected (frames, channels) samples, got {samples.shape}")
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block - 1 must be a multiple of 8")
    n_frames, n_ch = samples.shape
    if n_frames == 0:
        raise ValueError("cannot ADPCM-encode zero frames")
    pcm = np.round(np.clip(samples, -1.0, 1.0) * 32767.0).astype(np.int64)
    block_align = 4 * n_ch + (samples_per_block - 1) // 2 * n_ch
    blocks = bytearray()
    idxs = [0] * n_ch
    for f0 in range(0, n_frames, samples_per_block):
        seg = pcm[f0 : f0 + samples_per_block]
        if seg.shape[0] < samples_per_block:  # pad by repeating the tail
            seg = np.vstack(
                [seg, np.repeat(seg[-1:], samples_per_block - seg.shape[0], 0)]
            )
        nib_by_ch = []
        for ch in range(n_ch):
            pred = int(seg[0, ch])
            blocks += struct.pack("<hBB", pred, idxs[ch], 0)
            nibs, _pred, idxs[ch] = encode_nibbles(
                seg[1:, ch].tolist(), pred, idxs[ch]
            )
            nib_by_ch.append(nibs)
        for w in range((samples_per_block - 1) // 8):
            for ch in range(n_ch):
                chunk = nib_by_ch[ch][w * 8 : w * 8 + 8]
                for k in range(0, 8, 2):
                    blocks.append(chunk[k] | (chunk[k + 1] << 4))
    byte_rate = (sample_rate * block_align + samples_per_block - 1) // samples_per_block
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, n_ch, sample_rate, byte_rate, block_align, 4,
        2, samples_per_block,
    )
    return wav_container(fmt, bytes(blocks), n_frames)


# ------------------------------------------------------------ MS ADPCM
#
# WAVE format tag 0x0002 (Microsoft ADPCM, public format spec): a
# 4-bit coder with a 2-tap linear predictor chosen per block from 7
# registered coefficient pairs and a per-step delta adapted through a
# 16-entry table.  Unlike IMA, the nibbles are SIGNED (-8..7) and the
# block header carries the predictor id, the initial delta and the
# first two samples verbatim.

MS_COEF1: tuple[int, ...] = (256, 512, 0, 192, 240, 460, 392)
MS_COEF2: tuple[int, ...] = (0, -256, 0, 64, 0, -208, -232)
MS_ADAPT: tuple[int, ...] = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)


def _clamp16(v: int) -> int:
    return -32768 if v < -32768 else (32767 if v > 32767 else v)


def ms_decode_nibbles(nibbles, pred_id: int, delta: int, s1: int, s2: int):
    """Decode signed 4-bit codes after a block header; returns the
    samples list (NOT including the header's s2/s1)."""
    c1, c2 = MS_COEF1[pred_id], MS_COEF2[pred_id]
    out = []
    for n in nibbles:
        signed = n - 16 if n >= 8 else n
        pred = _clamp16(((s1 * c1 + s2 * c2) >> 8) + signed * delta)
        out.append(pred)
        s2, s1 = s1, pred
        delta = max(16, (MS_ADAPT[n] * delta) >> 8)
    return out


def ms_encode_nibbles(samples, pred_id: int, delta: int, s1: int, s2: int):
    """Quantize samples against the running 2-tap prediction; returns
    (nibbles, reconstruction) with the reconstruction tracking the
    decoder exactly."""
    c1, c2 = MS_COEF1[pred_id], MS_COEF2[pred_id]
    nibs, rec = [], []
    for s in samples:
        pred = (s1 * c1 + s2 * c2) >> 8
        n = (int(s) - pred) // delta if delta else 0
        n = -8 if n < -8 else (7 if n > 7 else n)
        code = n + 16 if n < 0 else n
        val = _clamp16(pred + n * delta)
        nibs.append(code)
        rec.append(val)
        s2, s1 = s1, val
        delta = max(16, (MS_ADAPT[code] * delta) >> 8)
    return nibs, rec


def decode_ms_blocks(raw: bytes, n_channels: int, block_align: int,
                     n_frames: int | None) -> np.ndarray:
    """Decode the WAV ``data`` chunk of an MS ADPCM stream to int16
    (frames, channels)."""
    if block_align < 7 * n_channels + 1:
        raise ValueError(f"bad MS ADPCM block align {block_align}")
    chans: list[list[int]] = [[] for _ in range(n_channels)]
    for b0 in range(0, len(raw), block_align):
        block = raw[b0 : b0 + block_align]
        if len(block) < 7 * n_channels:
            # trailing fragment shorter than the block header — skip
            break
        preds = list(block[:n_channels])
        if any(p > 6 for p in preds):
            if len(block) < block_align:
                # junk trailing fragment, not a legal short final block
                break
            raise ValueError(f"bad MS ADPCM predictor id {max(preds)}")
        deltas, s1s, s2s = [], [], []
        off = n_channels
        for ch in range(n_channels):
            deltas.append(struct.unpack_from("<h", block, off + 2 * ch)[0])
        off += 2 * n_channels
        for ch in range(n_channels):
            s1s.append(struct.unpack_from("<h", block, off + 2 * ch)[0])
        off += 2 * n_channels
        for ch in range(n_channels):
            s2s.append(struct.unpack_from("<h", block, off + 2 * ch)[0])
        off += 2 * n_channels
        # header samples come out oldest-first
        for ch in range(n_channels):
            chans[ch].append(s2s[ch])
            chans[ch].append(s1s[ch])
        nibs = []
        for byte in block[off:]:
            nibs.append(byte >> 4)
            nibs.append(byte & 0x0F)
        # nibbles round-robin the channels (L in the high nibble first)
        state = [
            (deltas[ch], s1s[ch], s2s[ch]) for ch in range(n_channels)
        ]
        c1 = [MS_COEF1[p] for p in preds]
        c2 = [MS_COEF2[p] for p in preds]
        for i, n in enumerate(nibs):
            ch = i % n_channels
            delta, s1, s2 = state[ch]
            signed = n - 16 if n >= 8 else n
            val = _clamp16(((s1 * c1[ch] + s2 * c2[ch]) >> 8) + signed * delta)
            chans[ch].append(val)
            state[ch] = (max(16, (MS_ADAPT[n] * delta) >> 8), val, s1)
    if not chans[0]:
        raise ValueError("MS ADPCM stream shorter than one block")
    # a short final block can leave the round-robin one nibble short on
    # the last channel — keep whole frames only
    m = min(len(c) for c in chans)
    out = np.array([c[:m] for c in chans], dtype=np.int16).T
    if n_frames is not None:
        if n_frames > out.shape[0]:
            raise ValueError(
                f"fact chunk claims {n_frames} frames, stream has {out.shape[0]}"
            )
        out = out[:n_frames]
    return out


def encode_wav_ms_adpcm(samples: np.ndarray, sample_rate: int,
                        samples_per_block: int = 500) -> bytes:
    """Minimal RIFF/WAVE MS-ADPCM (fmt 0x02) encoder for
    (n_frames, n_channels) float32 samples in [-1, 1].  The predictor
    id CYCLES through all 7 registered coefficient pairs block by
    block, so a decoder differential exercises every predictor."""
    if samples.ndim != 2:
        raise ValueError(f"expected (frames, channels) samples, got {samples.shape}")
    if samples_per_block % 2 or samples_per_block < 4:
        raise ValueError("samples_per_block must be even and >= 4")
    n_frames, n_ch = samples.shape
    if n_frames == 0:
        raise ValueError("cannot ADPCM-encode zero frames")
    pcm = np.round(np.clip(samples, -1.0, 1.0) * 32767.0).astype(np.int64)
    block_align = 7 * n_ch + (samples_per_block - 2) * n_ch // 2
    blocks = bytearray()
    for bi, f0 in enumerate(range(0, n_frames, samples_per_block)):
        seg = pcm[f0 : f0 + samples_per_block]
        if seg.shape[0] < samples_per_block:
            seg = np.vstack(
                [seg, np.repeat(seg[-1:], samples_per_block - seg.shape[0], 0)]
            )
        pred_id = bi % 7
        blocks += bytes([pred_id] * n_ch)
        nib_by_ch = []
        for ch in range(n_ch):
            s2, s1 = int(seg[0, ch]), int(seg[1, ch])
            delta = max(16, int(np.abs(np.diff(seg[:, ch])).mean()) >> 2)
            blocks += struct.pack("<h", delta)
            nibs, _rec = ms_encode_nibbles(
                seg[2:, ch].tolist(), pred_id, delta, s1, s2
            )
            nib_by_ch.append(nibs)
        for ch in range(n_ch):
            s2, s1 = int(seg[0, ch]), int(seg[1, ch])
            blocks += struct.pack("<h", s1)
        for ch in range(n_ch):
            blocks += struct.pack("<h", int(seg[0, ch]))
        # interleave nibbles round-robin, two per byte, high first
        flat = []
        for i in range(samples_per_block - 2):
            for ch in range(n_ch):
                flat.append(nib_by_ch[ch][i])
        for k in range(0, len(flat), 2):
            blocks.append((flat[k] << 4) | flat[k + 1])
    byte_rate = (sample_rate * block_align + samples_per_block - 1) // samples_per_block
    coefs = b"".join(
        struct.pack("<hh", MS_COEF1[i], MS_COEF2[i]) for i in range(7)
    )
    fmt = struct.pack(
        "<HHIIHHHHH", 0x02, n_ch, sample_rate, byte_rate, block_align, 4,
        4 + len(coefs), samples_per_block, 7,
    ) + coefs
    return wav_container(fmt, bytes(blocks), n_frames)
