"""Seeded input generators, one per workload.

Each generator takes the seed, writes its inputs as files under an
output directory, and returns a ``Inputs`` record carrying the paths,
the rates it planted (the known answers the workload checks against)
and a sha256 over every byte it wrote, so two runs on one seed are
shown to read identical inputs. The program under test only ever sees
the files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np

DATASETS = ("FD001", "FD002", "FD003", "FD004")
N_SENSORS = 21
# Sensors that stay constant under a single operating condition, as in
# the real C-MAPSS FD001/FD003 files; FD002/FD004 run six conditions,
# so every sensor varies there and the kept intersection is the rest.
CONSTANT_SENSORS = (1, 5, 6, 10, 16, 18, 19)
_CMAPSS_FMT = " ".join(["%d", "%d", "%.4f", "%.4f", "%.1f"] + ["%.4f"] * N_SENSORS)
_CONDITIONS = np.array(
    [[0.0, 0.0, 100.0], [10.0, 0.25, 100.0], [20.0, 0.7, 100.0],
     [25.0, 0.62, 60.0], [35.0, 0.84, 100.0], [42.0, 0.84, 100.0]]
)

# The ten English stopwords the quality gate counts; the document
# generator mixes them in so most documents pass the stopword-ratio gate.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")


@dataclass
class Inputs:
    paths: dict[str, str]
    sha256: str
    expect: dict = field(default_factory=dict)


def sha256_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cmapss(out_dir: str, seed: int, units: int) -> Inputs:
    """C-MAPSS-format whitespace text, one train file per dataset, each
    with ``units`` engines of 128-362 cycles. The set of engine lives is
    the same for every seed (only their order and the readings vary), so
    every seed feeds the pipeline the same number of rows. Written with
    one ``numpy.savetxt`` per file (no per-row Python)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = rng.uniform(1.0, 2000.0, N_SENSORS)
    drift = rng.uniform(-5.0, 5.0, N_SENSORS)
    paths, rows = {}, 0
    for code in DATASETS:
        multi = code in ("FD002", "FD004")
        lives = rng.permutation(np.linspace(128, 362, units).astype(np.int64))
        n = int(lives.sum())
        unit = np.repeat(np.arange(1, units + 1), lives)
        cyc = np.arange(n) - np.repeat(np.cumsum(lives) - lives, lives) + 1
        wear = (cyc / np.repeat(lives, lives)) ** 2
        if multi:
            cond = rng.integers(0, len(_CONDITIONS), n)
            settings = _CONDITIONS[cond] + rng.normal(0, 0.002, (n, 3)) * [1, 1, 0]
            level = 1.0 + cond[:, None] * 0.05
        else:
            settings = rng.normal(0, 0.002, (n, 3)) * [1, 1, 0] + [0, 0, 100.0]
            level = np.ones((n, 1))
        sensors = base * level + drift * wear[:, None] + rng.normal(0, 0.05, (n, N_SENSORS))
        if not multi:
            for s in CONSTANT_SENSORS:
                sensors[:, s - 1] = round(base[s - 1], 4)
        path = os.path.join(out_dir, f"train_{code}.txt")
        np.savetxt(path, np.column_stack([unit, cyc, settings, sensors]), fmt=_CMAPSS_FMT)
        paths[code] = path
        rows += n
    kept = N_SENSORS - len(CONSTANT_SENSORS)
    return Inputs(
        paths, sha256_files(list(paths.values())),
        {"rows": rows, "kept_sensors": kept, "kept_frac": kept / N_SENSORS},
    )


def _vocabulary(size: int) -> list[str]:
    """Pseudo-words from a fixed syllable grammar (the same for every
    seed), so documents look like text but share few trigrams by chance."""
    rng = np.random.default_rng(0)
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(syl, int(rng.integers(2, 4)))))
    return sorted(words)


def documents(out_dir: str, seed: int, n_docs: int, n_bench: int = 200) -> Inputs:
    """A document corpus plus a held-out benchmark slice, with planted
    rates: 2% of documents are copies of a benchmark document
    (decontamination drops exactly these), 5% exact copies, 5%
    case/punctuation variants and 5% near copies (10% of words
    replaced) of other corpus documents, and ~12% shorter than the
    quality gate's 20 tokens."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(800))
    stop = np.array(STOPWORDS)

    def words(lo: int, hi: int) -> np.ndarray:
        n = int(rng.integers(lo, hi + 1))
        w = vocab[rng.integers(0, len(vocab), n)]
        is_stop = rng.random(n) < 0.2
        w[is_stop] = stop[rng.integers(0, len(stop), int(is_stop.sum()))]
        return w

    bench = [" ".join(words(30, 80)) for _ in range(n_bench)]
    n_contam = n_docs // 50
    n_exact = n_norm = n_near = n_docs // 20
    n_base = n_docs - n_contam - n_exact - n_norm - n_near
    base = [words(8, 100) for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    contam_src = rng.choice(n_bench, n_contam, replace=False)
    texts += [bench[i] for i in contam_src]
    texts += [texts[i] for i in rng.integers(0, n_base, n_exact)]
    for i in rng.integers(0, n_base, n_norm):
        w = base[i].copy()
        w[0] = w[0].upper()
        texts.append(", ".join(w[:2]) + " " + " ".join(w[2:]) + ".")
    for i in rng.integers(0, n_base, n_near):
        w = base[i].copy()
        swap = rng.random(len(w)) < 0.1
        w[swap] = vocab[rng.integers(0, len(vocab), int(swap.sum()))]
        texts.append(" ".join(w))
    ids = rng.permutation(n_docs).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "benchmark": os.path.join(out_dir, "benchmark.parquet"),
    }
    pq.write_table(pa.table({"doc_id": ids, "text": texts}), paths["documents"])
    pq.write_table(
        pa.table({"doc_id": np.arange(n_bench, dtype=np.int64), "text": bench}),
        paths["benchmark"],
    )
    # the heuristic gate as the curation chain states it (>= 20
    # whitespace tokens, stopword share >= 0.05 at 4 decimals) over the
    # documents that survive decontamination, then the LM rank gate's
    # floor(0.9 * n)
    passing = set()
    for i, t in enumerate(texts):
        toks = t.split()
        stops = sum(w.lower() in STOPWORDS for w in toks)
        if not n_base <= i < n_base + n_contam and len(toks) >= 20 \
                and round(stops / len(toks), 4) >= 0.05:
            passing.add(int(ids[i]))
    clean = n_docs - n_contam
    return Inputs(
        paths, sha256_files(list(paths.values())),
        {"docs": n_docs, "contaminated": n_contam, "dropped_frac": n_contam / n_docs,
         "heuristic_ids": passing, "gate_kept": int(0.9 * len(passing)),
         "gate_kept_frac": int(0.9 * len(passing)) / clean},
    )


def _smooth_image(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Natural-image stand-in (smooth gradient plus mild texture), kept
    inside 20..219 so a +-20 brightness shift never clips."""
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    k1, k2 = int(rng.integers(-9, 10)), int(rng.integers(-9, 10))
    amp, period, phase = rng.uniform(20, 60), rng.uniform(2.0, 6.0), rng.uniform(0, 6.28)
    img = r * k1 + c * k2 + amp * np.sin(c / period + phase) + amp * np.cos(r / period)
    tex = rng.integers(-2, 3, size=(h, w))
    return np.clip(img.astype(np.int64) % 180 + 30 + tex, 20, 219).astype(np.uint8)[:, :, None]


def images(out_dir: str, seed: int, n_distinct: int, dup_frac: float = 0.25,
           side: int = 32) -> Inputs:
    """``n_distinct`` images cycling baseline JPEG, progressive JPEG and
    PNG, plus near-duplicates of a ``dup_frac`` share of them whose
    perceptual hash is unchanged by construction: a JPEG is re-encoded
    in the other JPEG mode (same coefficients, identical decode), a PNG
    is brightness-shifted. A distinct image whose decoded hash matches an
    earlier one (smooth images collide now and then) is drawn again. So
    phash dedup keeps exactly ``n_distinct``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from turbine_maintenance_etl_spark.llm.jpeg import (
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )
    from turbine_maintenance_etl_spark.llm.multimodal import (
        decode_image_pixels,
        dhash_int,
        encode_png,
        grayscale_int,
    )

    rng = np.random.default_rng(seed)
    blobs: list[bytes] = []
    kinds = ("jpeg_baseline", "jpeg_progressive", "png")
    dups = set(rng.choice(n_distinct, int(n_distinct * dup_frac), replace=False).tolist())
    seen: set[int] = set()
    for i in range(n_distinct):
        kind = kinds[i % 3]
        enc = [encode_jpeg_baseline, encode_jpeg_progressive]
        if kind == "jpeg_progressive":
            enc.reverse()
        while True:
            px = _smooth_image(rng, side, side)
            blob = encode_png(px) if kind == "png" else enc[0](px, quality=90)
            h = dhash_int(grayscale_int(decode_image_pixels(blob)))
            if h not in seen:
                break
        seen.add(h)
        blobs.append(blob)
        if i in dups:
            if kind == "png":
                blobs.append(encode_png(px + np.uint8(rng.integers(1, 20))))
            else:
                blobs.append(enc[1](px, quality=90))
    ids = rng.permutation(len(blobs)).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "images.parquet")
    pq.write_table(pa.table({"doc_id": ids, "media": blobs}), path)
    return Inputs(
        {"images": path}, sha256_files([path]),
        {"images": len(blobs), "distinct": n_distinct,
         "survivor_frac": n_distinct / len(blobs)},
    )
