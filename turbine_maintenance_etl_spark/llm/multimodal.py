"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (BASELINE.json north star).

Design: media rides in a ``binary`` column next to typed metadata
(media_type, byte length, content hash). Decode / feature-extraction /
resize / frame-sampling run as Arrow-batched ``mapInPandas`` operators.
PNG decoding is REAL (pure stdlib zlib + numpy — 8-bit greyscale /
grey+alpha / RGB / RGBA, all five scanline filters, non-interlaced),
and so is baseline JPEG since round 7 (from-spec codec, llm/jpeg.py);
video containers/ffmpeg are not in this container and raise, with a
deterministic fake available for plumbing tests. At 100 TB: binary
payloads stay columnar in parquet (no base64 inflation), metadata
predicates prune row groups before any decode, and
``spark.sql.files.maxPartitionBytes`` bounds per-task decode memory.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DECODE_AVAILABLE = True  # PNG (stdlib zlib) + baseline JPEG (llm/jpeg.py)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def decode_png_pixels(data: bytes) -> np.ndarray:
    """Pure-Python PNG decode to a (height, width, channels) uint8
    array. Round 8: the full-coverage implementation lives in
    ``llm/png.py`` — every legal still-image PNG decodes (bit depths
    1-16, palette with tRNS alpha, ADAM7 interlacing, all filters);
    this name stays as the stable import point for the pipeline
    operators and tests."""
    from .png import decode_png_pixels as _full

    return _full(data)


# Exception types a corrupted stream may surface from the from-spec
# codecs that are NOT in the operators' poison-pill catch list — the
# dispatch boundary converts them to ValueError so one flipped byte in
# untrusted media can never kill an executor task (r9 verdict item 5;
# the corrupted-stream fuzz in tests/test_multimodal_fuzz.py found
# IndexError escaping a truncated GIF image descriptor). Valid-stream
# correctness is pinned separately by the codec oracles/differentials,
# so this cannot mask a wrong-pixels bug — only re-tag a crash.
# MemoryError and RecursionError are included (r10 review): the decode
# caps bound header-DECLARED allocations, but a refusal can still
# surface as numpy's MemoryError subclass under a tight executor
# cgroup, and both raise cleanly BEFORE state is corrupted — pilling
# the row beats failing the task 4 retries in a row.
_CORRUPT_STREAM_ERRORS = (
    IndexError,
    KeyError,
    EOFError,
    OverflowError,
    MemoryError,
    RecursionError,
)


def decode_image_pixels(data: bytes) -> np.ndarray:
    """Format-dispatching image decode to (h, w, channels) uint8:
    full PNG (llm/png.py), the complete JPEG family (llm/jpeg.py +
    llm/jpeg_arith.py), and GIF (llm/gif.py — first composited
    frame). Anything else raises NotImplementedError, which every
    decode operator already maps to a tagged poison-pill row.
    Corrupted streams raise ValueError (non-pill exception types are
    converted here, at the dispatch boundary)."""
    try:
        if data.startswith(_PNG_SIG):
            return decode_png_pixels(data)
        if data[:2] == b"\xff\xd8":
            from turbine_maintenance_etl_spark.llm.jpeg import decode_jpeg_pixels

            return decode_jpeg_pixels(data)
        if data[:6] in (b"GIF87a", b"GIF89a"):
            from turbine_maintenance_etl_spark.llm.gif import decode_gif_pixels

            return decode_gif_pixels(data)
    except _CORRUPT_STREAM_ERRORS as e:
        raise ValueError(f"corrupt image stream: {type(e).__name__}: {e}") from e
    raise NotImplementedError("unsupported image format (PNG/JPEG/GIF available)")


def _decode_image(data: bytes) -> dict:
    """Real decoder path: PNG and baseline JPEG fully decoded to
    pixels (stdlib+numpy only); other formats raise."""
    px = decode_image_pixels(data)
    return {
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "channels": int(px.shape[2]),
        "n_bytes": len(data),
        "mean_intensity": round(float(px.mean()), 4),
    }


def _fake_decode(data: bytes) -> dict:
    """Deterministic stand-in for a decoder: derives pseudo
    width/height/channels from the byte content so the full Spark
    pipeline (schema, batching, partitioning) is exercised end-to-end."""
    n = len(data)
    h = int.from_bytes(data[:4].ljust(4, b"\0"), "big")
    return {
        "width": 64 + (h % 512),
        "height": 64 + ((h >> 9) % 512),
        "channels": 3,
        "n_bytes": n,
    }


def attach_binary_metadata(df: DataFrame, binary_col: str = "media") -> DataFrame:
    """Cheap metadata without decoding: byte length + sha2 content hash —
    pure JVM expressions, the exact-dedup key for media."""
    b = F.col(binary_col)
    return df.withColumn("media_bytes", F.octet_length(b)).withColumn(
        "media_sha256", F.sha2(b, 256)
    )


def extract_image_features(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
    use_fake_decoder: bool = True,
) -> DataFrame:
    """Decode-and-extract as Arrow-batched mapInPandas: each batch is a
    pandas DataFrame of (id, bytes); output is typed metadata. The UDF
    boundary crosses once per batch (not per row); decode parallelism ==
    partition count."""
    decode = _fake_decode if use_fake_decoder else _decode_image
    schema = f"{id_col} bigint, width int, height int, channels int, n_bytes bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                data = bytes(r[binary_col]) if r[binary_col] is not None else b""
                try:
                    meta = decode(data)
                except (ValueError, NotImplementedError, struct.error, zlib.error):
                    # poison-pill doctrine (same as every sibling decode
                    # operator): one corrupt/non-PNG row must not fail
                    # the task 4x and kill a corpus-wide job — it reads
                    # as NULL metadata with its true byte count
                    meta = {
                        "width": None, "height": None, "channels": None,
                        "n_bytes": len(data),
                    }
                rows.append({id_col: r[id_col], **meta})
            yield pd.DataFrame(rows, columns=[id_col, "width", "height", "channels", "n_bytes"])

    return df.select(id_col, binary_col).mapInPandas(batches, schema=schema)


def sample_frames(
    df: DataFrame,
    every_nth: int = 10,
    frame_col: str = "frame_idx",
) -> DataFrame:
    """Frame-sampling for video tables keyed (video_id, frame_idx):
    keep every Nth frame — a pure filter, prunable at scan time."""
    return df.filter(F.col(frame_col) % every_nth == 0)


# --- Audio: real WAV (RIFF/PCM) decode, stdlib-only like the PNG path ---

_WAV_SIG = b"RIFF"


def decode_wav_samples(data: bytes) -> tuple[np.ndarray, int]:
    """Pure-Python WAV decode to (samples float32 in [-1, 1] shaped
    (n_frames, n_channels), sample_rate). Supports PCM 8/16-bit and
    IMA ADPCM (format 0x11, llm/adpcm.py — round 8); anything else
    raises (honest partial decoder, same policy as
    decode_png_pixels)."""
    import struct

    if len(data) < 44 or not data.startswith(_WAV_SIG) or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE byte stream")
    pos, fmt, raw, n_fact = 12, None, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            # A declared chunk size can overrun the buffer (truncated or
            # crafted file) leaving body short — struct.unpack on <16
            # bytes raises struct.error, which is NOT in the poison-pill
            # catch list; surface it as ValueError instead.
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"fact":
            if len(body) >= 4:
                (n_fact,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("truncated WAV (missing fmt/data chunk)")
    audio_fmt, n_channels, sample_rate, _, block_align, bits = fmt
    if n_channels <= 0 or sample_rate <= 0:
        # crafted/corrupt headers must raise ValueError (caught by the
        # poison-pill path), never divide by zero downstream
        raise ValueError(f"bad WAV header: channels={n_channels} rate={sample_rate}")
    try:
        if audio_fmt == 0x11 and bits == 4:
            from .adpcm import decode_ima_blocks

            pcm = decode_ima_blocks(raw, n_channels, block_align, n_fact)
            return pcm.astype(np.float32) / 32768.0, sample_rate
        if audio_fmt == 0x02 and bits == 4:  # MS ADPCM
            from .adpcm import decode_ms_blocks

            pcm = decode_ms_blocks(raw, n_channels, block_align, n_fact)
            return pcm.astype(np.float32) / 32768.0, sample_rate
        if audio_fmt in (0x06, 0x07) and bits == 8:  # G.711 A-law / µ-law
            from .g711 import decode_g711

            x = decode_g711(raw, ulaw=audio_fmt == 0x07).astype(np.float32) / 32768.0
            n_frames = len(x) // n_channels
            if n_fact is not None:
                n_frames = min(n_frames, n_fact)
            return x[: n_frames * n_channels].reshape(n_frames, n_channels), sample_rate
    except _CORRUPT_STREAM_ERRORS as e:
        # same boundary conversion as decode_image_pixels: corrupted
        # block/table state must pill, never crash the task
        raise ValueError(f"corrupt WAV stream: {type(e).__name__}: {e}") from e
    if audio_fmt != 1 or bits not in (8, 16):
        raise NotImplementedError(f"WAV format={audio_fmt} bits={bits} unsupported")
    if bits == 16:
        x = np.frombuffer(raw[: len(raw) - (len(raw) % 2)], dtype="<i2").astype(
            np.float32
        ) / 32768.0
    else:  # 8-bit WAV is unsigned, biased at 128
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    n_frames = len(x) // n_channels
    return x[: n_frames * n_channels].reshape(n_frames, n_channels), sample_rate


def extract_audio_features(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """WAV decode + feature extraction as Arrow-batched mapInPandas:
    (id, bytes) -> (id, sample_rate, n_channels, duration_s, rms, peak).
    Same batching/schema discipline as extract_image_features; rows that
    fail to decode surface NULL features instead of failing the batch
    (bad media is routine at corpus scale — poison-pill rows must not
    kill the job)."""
    schema = (
        f"{id_col} bigint, sample_rate int, n_channels int, "
        "duration_s double, rms double, peak double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                out = {id_col: r[id_col], "sample_rate": None, "n_channels": None,
                       "duration_s": None, "rms": None, "peak": None}
                try:
                    samples, rate = decode_wav_samples(
                        bytes(r[binary_col]) if r[binary_col] is not None else b""
                    )
                    mono = samples.mean(axis=1)
                    out.update(
                        sample_rate=rate,
                        n_channels=samples.shape[1],
                        duration_s=round(samples.shape[0] / rate, 6),
                        rms=round(float(np.sqrt(np.mean(mono**2))), 6) if len(mono) else 0.0,
                        peak=round(float(np.abs(mono).max()), 6) if len(mono) else 0.0,
                    )
                except (ValueError, NotImplementedError, struct.error):
                    # struct.error belt-and-braces: decode_wav_samples
                    # validates lengths, but any residual short-buffer
                    # unpack must degrade to NULL features, not kill the
                    # batch.
                    pass
                rows.append(out)
            yield pd.DataFrame(
                rows,
                columns=[id_col, "sample_rate", "n_channels", "duration_s", "rms", "peak"],
            )

    return df.select(id_col, binary_col).mapInPandas(batches, schema=schema)


# --- Image resize: REAL on the PNG path (numpy nearest-neighbor +
# --- stdlib re-encode), the preprocessing step a vision-training
# --- pipeline runs on every image before the encoder sees it ---------------

_PNG_COLOR_BY_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png(px: np.ndarray, compress_level: int = 6) -> bytes:
    """Minimal PNG encoder for (h, w, c) uint8 pixels: 8-bit, filter 0
    per scanline, one zlib IDAT. Round-trips exactly through
    ``decode_png_pixels`` (test-pinned)."""
    if px.ndim != 3 or px.dtype != np.uint8 or px.shape[2] not in _PNG_COLOR_BY_CHANNELS:
        raise ValueError(f"expected (h, w, c<=4) uint8 pixels, got {px.shape} {px.dtype}")
    h, w, c = px.shape

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_BY_CHANNELS[c], 0, 0, 0)
    # filter byte 0 per scanline, then one deflate stream
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), px.reshape(h, w * c)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, compress_level))
        + chunk(b"IEND", b"")
    )


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample (pixel-center mapping,
    the same grid torchvision's NEAREST uses) — pure numpy fancy
    indexing, no loops."""
    h, w = px.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return px[ys[:, None], xs[None, :]]


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    binary_col: str = "media",
    id_col: str = "doc_id",
    use_fake_decoder: bool = False,
) -> DataFrame:
    """Batch image resize: decode PNG -> nearest-neighbor resample ->
    re-encode PNG, as Arrow-batched ``mapInPandas`` (decode parallelism
    == partition count, like every decode operator here). Non-PNG /
    corrupt payloads survive as NULL ``resized`` with an error tag
    (poison-pill doctrine — one bad image must not kill a 100 TB job).

    With ``use_fake_decoder=True`` the pixel stage is skipped and a
    deterministic fake payload flows through — the plumbing-only mode
    for environments without even zlib-decodable fixtures."""
    schema = (
        f"{id_col} bigint, resized binary, out_width int, out_height int, "
        "channels int, err string"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                data = bytes(r[binary_col]) if r[binary_col] is not None else b""
                try:
                    if use_fake_decoder:
                        meta = _fake_decode(data)
                        out, ch, err = data, meta["channels"], None
                    else:
                        px = decode_image_pixels(data)
                        out = encode_png(resize_nearest(px, out_w, out_h))
                        ch, err = int(px.shape[2]), None
                except (ValueError, NotImplementedError, struct.error, zlib.error) as e:
                    out, ch, err = None, None, f"{type(e).__name__}: {e}"
                rows.append(
                    {
                        id_col: r[id_col],
                        "resized": out,
                        "out_width": out_w if out is not None else None,
                        "out_height": out_h if out is not None else None,
                        "channels": ch,
                        "err": err,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "resized", "out_width", "out_height", "channels", "err"],
            )

    return df.select(id_col, binary_col).mapInPandas(batches, schema=schema)


# --- Audio resample: REAL on the WAV/PCM path (numpy linear interp +
# --- stdlib re-encode) — the audio twin of the image resize ----------------


def wav_container(fmt: bytes, data: bytes, fact_frames: int | None = None) -> bytes:
    """RIFF/WAVE bytes from a ``fmt `` chunk body and a ``data`` chunk
    body, with a ``fact`` chunk (frame count, which non-PCM decoders use
    to trim block padding) between them when ``fact_frames`` is given.
    The one container writer behind every WAV encoder in the package."""
    fact = b"" if fact_frames is None else b"fact" + struct.pack("<II", 4, fact_frames)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + fact
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE PCM16 encoder for (n_frames, n_channels)
    float32 samples in [-1, 1]. Round-trips through
    ``decode_wav_samples`` (test-pinned, up to 16-bit quantization)."""
    if samples.ndim != 2:
        raise ValueError(f"expected (frames, channels) samples, got {samples.shape}")
    n_frames, n_ch = samples.shape
    pcm = np.clip(samples, -1.0, 1.0)
    pcm = np.round(pcm * 32767.0).astype("<i2").reshape(-1)
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16)
    return wav_container(fmt, pcm.tobytes())


def resample_linear(samples: np.ndarray, rate_in: int, rate_out: int) -> np.ndarray:
    """Deterministic linear-interpolation resample per channel (the
    cheap production choice for rate normalization before a feature
    frontend; no windowed-sinc dependency in-container). Pure numpy."""
    if rate_in == rate_out or samples.shape[0] == 0:
        # zero-frame audio is valid (placeholder recordings): passes
        # through as empty at the new rate, same as the equal-rate path
        return samples
    n_in = samples.shape[0]
    n_out = max(1, int(round(n_in * rate_out / rate_in)))
    t_out = np.arange(n_out) * (rate_in / rate_out)
    t_in = np.arange(n_in, dtype=np.float64)
    return np.stack(
        [np.interp(t_out, t_in, samples[:, c]) for c in range(samples.shape[1])],
        axis=1,
    ).astype(np.float32)


def resample_audio(
    df: DataFrame,
    target_rate: int = 16_000,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch audio rate-normalization: WAV decode -> linear resample to
    ``target_rate`` -> PCM16 re-encode, as Arrow-batched mapInPandas
    (the exact preprocessing an ASR/audio-LM corpus runs before feature
    extraction). Poison-pill rows (non-WAV, truncated, unsupported
    codec) survive as NULL ``resampled`` with an error tag."""
    schema = (
        f"{id_col} bigint, resampled binary, out_rate int, n_frames bigint, "
        "n_channels int, err string"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                data = bytes(r[binary_col]) if r[binary_col] is not None else b""
                try:
                    samples, rate = decode_wav_samples(data)
                    out = resample_linear(samples, rate, target_rate)
                    enc = encode_wav(out, target_rate)
                    rows.append(
                        {
                            id_col: r[id_col], "resampled": enc,
                            "out_rate": target_rate,
                            "n_frames": int(out.shape[0]),
                            "n_channels": int(out.shape[1]), "err": None,
                        }
                    )
                except (ValueError, NotImplementedError, struct.error) as e:
                    rows.append(
                        {
                            id_col: r[id_col], "resampled": None, "out_rate": None,
                            "n_frames": None, "n_channels": None,
                            "err": f"{type(e).__name__}: {e}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "resampled", "out_rate", "n_frames", "n_channels", "err"],
            )

    return df.select(id_col, binary_col).mapInPandas(batches, schema=schema)


# --- Image perceptual hashing + dedup: the image twin of the text
# --- dedup family (llm/dedup.py). dHash/aHash over the REAL PNG decode
# --- + nearest-neighbor resize path, Hamming-bucketed candidate pairs
# --- like SimHash. At 100 TB: hashing is one Arrow-batched map over the
# --- binary column (no shuffle); dedup shuffles 8-byte hash keys, never
# --- pixels; near-dup pairing is a band-bucket equi-join, never all-pairs.

PHASH_W = 8   # hash grid width  (bits per row)
PHASH_H = 7   # hash grid height -> 8*7 = 56 bits, sign-safe in BIGINT


def grayscale_int(px: np.ndarray) -> np.ndarray:
    """(h, w, c) uint8 -> (h, w) int64 integer-mean grayscale
    (sum // c). Integer arithmetic keeps the hash bit-exact across
    engines (a float luma weighting would be rounding-mode-sensitive);
    for c == 1 this is the identity."""
    c = px.shape[2]
    return px.astype(np.int64).sum(axis=2) // c


def dhash_int(gray: np.ndarray, hash_w: int = PHASH_W, hash_h: int = PHASH_H) -> int:
    """Difference hash (dHash): resize to (hash_w+1, hash_h), emit bit
    r*hash_w+c = [g(r, c+1) > g(r, c)], fold LSB-first into a Python
    int. Horizontal-gradient signs are invariant to uniform brightness
    shifts and to any monotone per-pixel offset that preserves local
    ordering — the property that makes dHash a NEAR-duplicate key where
    sha256 of the bytes is only an exact one."""
    g = resize_nearest(gray, hash_w + 1, hash_h)
    bits = (g[:, 1:] > g[:, :-1]).astype(np.uint64).reshape(-1)
    return int((bits << np.arange(hash_w * hash_h, dtype=np.uint64)).sum())


def ahash_int(gray: np.ndarray, hash_w: int = PHASH_W, hash_h: int = PHASH_H) -> int:
    """Average hash (aHash): resize to (hash_w, hash_h), bit = pixel
    strictly above the grid mean. Compared in integers
    (px * n > sum) so there is no float mean to disagree on."""
    g = resize_nearest(gray, hash_w, hash_h).astype(np.int64)
    n = hash_w * hash_h
    total = int(g.sum())
    bits = (g.reshape(-1) * n > total).astype(np.uint64)
    return int((bits << np.arange(n, dtype=np.uint64)).sum())


def image_phash(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual fingerprints for an image column: PNG/JPEG decode ->
    integer grayscale -> 56-bit dHash + aHash, as ONE Arrow-batched
    mapInPandas pass (same decode-operator discipline as
    extract_image_features). Poison-pill rows (unsupported format,
    corrupt bytes) survive as NULL hashes with an error tag.

    Output: (id, dhash bigint, ahash bigint, width int, height int,
    err string). The id passes through untouched, so its output type is
    the INPUT's type (string/composite ids work — video_frame_signatures
    routes a composite key through here)."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, dhash bigint, ahash bigint, "
        "width int, height int, err string"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                data = bytes(r[binary_col]) if r[binary_col] is not None else b""
                out = {id_col: r[id_col], "dhash": None, "ahash": None,
                       "width": None, "height": None, "err": None}
                try:
                    px = decode_image_pixels(data)
                    gray = grayscale_int(px)
                    out.update(
                        dhash=dhash_int(gray), ahash=ahash_int(gray),
                        width=int(px.shape[1]), height=int(px.shape[0]),
                    )
                except (ValueError, NotImplementedError, struct.error, zlib.error) as e:
                    out["err"] = f"{type(e).__name__}: {e}"
                rows.append(out)
            yield pd.DataFrame(
                rows, columns=[id_col, "dhash", "ahash", "width", "height", "err"]
            )

    return df.select(id_col, binary_col).mapInPandas(batches, schema=schema)


def phash_dedup(ph: DataFrame, hash_col: str = "dhash", id_col: str = "doc_id") -> DataFrame:
    """Exact-collision image dedup on a perceptual hash column: survivor
    = min id per hash value (same survivor rule as the text exact
    dedup). One 8-byte-keyed shuffle; decode failures (NULL hash) pass
    through as their own survivors — dropping undecodable media is a
    policy decision, not a dedup side effect. The window key coalesces
    NULL hashes to a per-doc sentinel: at corpus scale a few percent of
    undecodable media would otherwise ALL shuffle into the single
    hash=NULL window partition — one straggler task holding the whole
    failure set just to compute a min the isNull branch discards (same
    fix as normalized_dedup's empty class)."""
    key = F.coalesce(
        F.col(hash_col).cast("string"),
        F.concat(F.lit("__nohash__"), F.col(id_col).cast("string")),
    )
    w = Window.partitionBy(key)
    flagged = ph.withColumn(
        "survivor",
        F.col(hash_col).isNull() | (F.col(id_col) == F.min(id_col).over(w)),
    )
    return flagged


def phash_near_dup_pairs(
    ph: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "doc_id",
    n_bands: int = 7,
    band_bits: int = 8,
    max_hamming: int = 6,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate image candidate pairs at Hamming distance <=
    ``max_hamming``: split the 56-bit hash into ``n_bands`` bands of
    ``band_bits``; any pair within distance n_bands-1 (pigeonhole:
    <= max_hamming < n_bands) shares at least one exact band, so the
    band equi-join finds every such pair without an all-pairs compare
    — the SimHash banding trick (llm/dedup.py:simhash) applied to
    pixels. Verification is one bit_count(xor) per candidate.

    The pigeonhole PRECONDITION is enforced: completeness requires
    ``max_hamming < n_bands`` (a pair may put one differing bit into
    each band — with distance >= n_bands no band need match and the
    equi-join silently misses real pairs). ``max_bucket_size`` caps
    pathological band-value buckets (near-constant images — masks,
    black frames — all share bv=0 bands and would drive the self-join
    quadratic), same doctrine as the text LSH cap.

    Output: (id_a, id_b, hamming)."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the banding "
            "equi-join is only complete for distances < n_bands "
            "(pigeonhole) — raise n_bands or lower max_hamming"
        )
    mask = (1 << band_bits) - 1
    bands = ph.select(
        F.col(id_col), F.col(hash_col).alias("_h")
    ).filter(F.col("_h").isNotNull())
    exploded = bands.select(
        id_col,
        "_h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("_h", b * band_bits).bitwiseAND(F.lit(mask)).alias("bv"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select(id_col, "_h", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    if max_bucket_size is not None:
        # window count rides the band shuffle (run-once doctrine) —
        # over-cap (band, bv) buckets are near-constant-image mass whose
        # pair expansion would be quadratic; exact dedup absorbs them
        w_sz = Window.partitionBy("band", "bv")
        exploded = (
            exploded.withColumn("_sz", F.count("*").over(w_sz))
            .filter(F.col("_sz") <= max_bucket_size)
            .drop("_sz")
        )
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("_h").alias("_ha"), "band", "bv"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("_h").alias("_hb"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- Audio fingerprint + dedup: the audio member of the perceptual
# --- dedup family. Energy-envelope bits over the REAL WAV/PCM decode
# --- path; integer arithmetic end to end so a SQL oracle can recompute
# --- the fingerprint bit-exactly from known sample values.

FPRINT_WINDOWS = 56  # envelope windows -> 56-bit fingerprint, BIGINT-safe


def audio_envelope_fingerprint_int(
    samples: np.ndarray, n_windows: int = FPRINT_WINDOWS
) -> int:
    """56-bit energy-envelope fingerprint of (n_frames, n_channels)
    float32 PCM in [-1, 1]: mono abs-sum per window, bit k =
    [window_sum * n_windows > total_sum] — the aHash rule applied to the
    loudness envelope, invariant to uniform GAIN change (both sides
    scale) exactly as dHash/aHash are to brightness. All arithmetic is
    integer (PCM16 quantization undone by *32768 before rounding), so
    the bit pattern is engine-exact. Files shorter than ``n_windows``
    frames hash the windows that exist (remaining bits 0)."""
    n = samples.shape[0]
    if n == 0:
        return 0
    mono_q = np.abs(np.rint(samples * 32768.0).astype(np.int64)).sum(axis=1)
    total = int(mono_q.sum())
    bits = 0
    for k in range(n_windows):
        lo, hi = k * n // n_windows, (k + 1) * n // n_windows
        if lo >= hi:
            continue
        if int(mono_q[lo:hi].sum()) * n_windows > total:
            bits |= 1 << k
    return bits


def audio_fingerprint(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
    n_windows: int = FPRINT_WINDOWS,
) -> DataFrame:
    """Perceptual fingerprints for an audio column: WAV decode ->
    integer energy-envelope fingerprint, one Arrow-batched mapInPandas
    pass (same decode-operator discipline as image_phash). Poison-pill
    rows survive as NULL fingerprint + err. Pair with ``phash_dedup``
    (hash_col='afp') for survivor selection and
    ``phash_near_dup_pairs`` for Hamming-banded near-dup candidates —
    the banding machinery is hash-agnostic.

    Output: (id, afp bigint, n_frames bigint, sample_rate int,
    err string)."""
    schema = (
        f"{id_col} bigint, afp bigint, n_frames bigint, sample_rate int, err string"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                data = bytes(r[binary_col]) if r[binary_col] is not None else b""
                out = {id_col: r[id_col], "afp": None, "n_frames": None,
                       "sample_rate": None, "err": None}
                try:
                    samples, rate = decode_wav_samples(data)
                    out.update(
                        afp=audio_envelope_fingerprint_int(samples, n_windows),
                        n_frames=int(samples.shape[0]),
                        sample_rate=rate,
                    )
                except (ValueError, NotImplementedError, struct.error) as e:
                    out["err"] = f"{type(e).__name__}: {e}"
                rows.append(out)
            yield pd.DataFrame(
                rows, columns=[id_col, "afp", "n_frames", "sample_rate", "err"]
            )

    return df.select(id_col, binary_col).mapInPandas(batches, schema=schema)


# --- Video dedup: frame-sampled perceptual signatures. A "video" here
# --- is the standard frames-as-rows table (video_id, frame_idx, frame
# --- binary) — the honest in-container representation, since no video
# --- container codecs exist here (same policy as JPEG).


def video_frame_signatures(
    frames: DataFrame,
    video_col: str = "video_id",
    frame_col: str = "frame_idx",
    binary_col: str = "media",
    every_nth: int = 2,
) -> DataFrame:
    """Per-video perceptual signature over SAMPLED frames: keep every
    ``every_nth`` frame (scan-prunable filter — sample_frames), dHash
    each via the real PNG path (image_phash), then fold the ordered
    (frame_idx, dhash) stream into one md5 signature per video. Two
    videos with identical sampled frame CONTENT (bytes may differ —
    re-encodes, brightness shifts) collide; survivor = min video id per
    signature (phash_dedup rule).

    Scale: frame sampling prunes 1/every_nth of the decode work before
    any Python runs; hashing is the narrow Arrow map; the signature fold
    is ONE groupBy on video_id carrying 8-byte hashes, never pixels.
    Frames that fail to decode contribute a NULL slot (position kept —
    a corrupt frame makes videos differ, it must not collapse them).

    Output: (video_id, n_frames_sampled, sig, survivor)."""
    sampled = sample_frames(frames, every_nth, frame_col)
    # composite STRING key through the hash pass — an arithmetic pack
    # (video_id * 2^20 + frame_idx) overflows for 64-bit content ids and
    # silently bleeds frame_idx >= 2^20 into the NEXT video's keyspace,
    # merging distinct videos; a delimited string is total for any id
    video_type = frames.schema[video_col].dataType.simpleString()
    frame_type = frames.schema[frame_col].dataType.simpleString()
    sep = "\x1f"
    hashed = image_phash(
        sampled.select(
            F.col(video_col), F.col(frame_col), F.col(binary_col)
        ).withColumn(
            "_fid",
            F.concat_ws(
                sep, F.col(video_col).cast("string"), F.col(frame_col).cast("string")
            ),
        ),
        binary_col=binary_col,
        id_col="_fid",
    ).select(
        F.split(F.col("_fid"), sep).getItem(0).cast(video_type).alias(video_col),
        F.split(F.col("_fid"), sep).getItem(1).cast(frame_type).alias(frame_col),
        "dhash",
    )
    sigs = (
        hashed.groupBy(video_col)
        .agg(
            F.count("*").alias("n_frames_sampled"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(frame_col, "dhash"))
                        ),
                        lambda s: F.concat_ws(
                            ":",
                            s[frame_col].cast("string"),
                            F.coalesce(s["dhash"].cast("string"), F.lit("null")),
                        ),
                    ),
                    ",",
                )
            ).alias("sig"),
        )
    )
    w = Window.partitionBy("sig")
    return sigs.withColumn(
        "survivor", F.col(video_col) == F.min(video_col).over(w)
    )
