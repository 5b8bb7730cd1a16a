"""Seeded input generators for the two workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical files on every commit, because nothing here calls the
program under test (the TIFF writer and the image-struct layout are the
benchmark's own, written to the file formats, not to the program's
encoders).
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- images, files part: 16-bit TIFF frames with Gaussian blobs --------------


@dataclass(frozen=True)
class FrameSpec:
    frames: int
    size: int
    blobs: int


def blob_frame(rng: np.random.Generator, size: int, blobs: int) -> np.ndarray:
    """One uint16 frame: noisy background plus ``blobs`` Gaussian spots.

    Blob centres sit on a jittered grid so spots never merge: the
    particle count per frame is then ``blobs`` on every seed, which
    keeps the work per frame constant across seeds."""
    yy, xx = np.mgrid[0:size, 0:size].astype(np.float64)
    img = rng.normal(400.0, 25.0, (size, size))
    side = int(np.ceil(np.sqrt(blobs)))
    cell = size / side
    for k in range(blobs):
        cy = (k // side + 0.5) * cell + rng.uniform(-0.15, 0.15) * cell
        cx = (k % side + 0.5) * cell + rng.uniform(-0.15, 0.15) * cell
        sigma = rng.uniform(0.08, 0.12) * cell
        amp = rng.uniform(3000.0, 9000.0)
        img += amp * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * sigma * sigma))
    return np.clip(np.rint(img), 0, 65535).astype(np.uint16)


def tiff_bytes(arr: np.ndarray) -> bytes:
    """Little-endian single-strip Deflate TIFF of a 2-D uint16 array."""
    h, w = arr.shape
    pixels = zlib.compress(arr.astype("<u2").tobytes(), 6)
    entries = [
        (256, 4, 1, w),  # ImageWidth
        (257, 4, 1, h),  # ImageLength
        (258, 3, 1, 16),  # BitsPerSample
        (259, 3, 1, 8),  # Compression: Deflate
        (262, 3, 1, 1),  # Photometric: BlackIsZero
        (273, 4, 1, 0),  # StripOffsets, patched below
        (277, 3, 1, 1),  # SamplesPerPixel
        (278, 4, 1, h),  # RowsPerStrip
        (279, 4, 1, len(pixels)),  # StripByteCounts
        (339, 3, 1, 1),  # SampleFormat: unsigned
    ]
    ifd_size = 2 + 12 * len(entries) + 4
    data_off = 8 + ifd_size
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        if tag == 273:
            value = data_off
        if typ == 3:
            out += struct.pack("<HHIHH", tag, typ, count, value, 0)
        else:
            out += struct.pack("<HHII", tag, typ, count, value)
    out += struct.pack("<I", 0)
    out += pixels
    return bytes(out)


def write_frames(out_dir: str, seed: int, spec: FrameSpec) -> list[str]:
    """Write ``spec.frames`` TIFFs; returns their paths in name order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    paths = []
    for i in range(spec.frames):
        path = os.path.join(out_dir, f"frame_{i:04d}.tif")
        with open(path, "wb") as fh:
            fh.write(tiff_bytes(blob_frame(rng, spec.size, spec.blobs)))
        paths.append(path)
    return paths


# --- images, sweep part: many small float32 images on plates ----------------


@dataclass(frozen=True)
class PlateSpec:
    plates: int
    wells: int
    size: int


_META = {
    "pixel_width": 1.0, "pixel_height": 1.0, "pixel_depth": 1.0,
    "x_origin": 0.0, "y_origin": 0.0, "z_origin": 0.0,
    "unit": "pixel", "info": "",
}

#: Arrow mirror of the program's image struct (data, dtype, shape, meta,
#: log). Spark reads it back as the same struct type by field name.
IMAGE_ARROW = pa.struct([
    ("data", pa.binary()),
    ("dtype", pa.string()),
    ("shape", pa.list_(pa.int32())),
    ("meta", pa.struct([(k, pa.string() if k in ("unit", "info") else pa.float64())
                        for k in _META])),
    ("log", pa.list_(pa.struct([
        ("optype", pa.string()), ("optool", pa.string()), ("opval", pa.string()),
        ("opargs", pa.list_(pa.string())), ("children_json", pa.string()),
    ]))),
])


def plate_arrays(seed: int, spec: PlateSpec) -> list[tuple[str, int, np.ndarray]]:
    """(plate, well, [size][size][1] float32) per image, row order."""
    rng = np.random.default_rng([seed, 2])
    yy, xx = np.mgrid[0:spec.size, 0:spec.size].astype(np.float32)
    out = []
    for p in range(spec.plates):
        for w in range(spec.wells):
            img = rng.normal(0.2, 0.05, (spec.size, spec.size)).astype(np.float32)
            cy, cx = rng.uniform(0.3, 0.7, 2) * spec.size
            img += np.float32(rng.uniform(0.5, 1.5)) * np.exp(
                -((yy - cy) ** 2 + (xx - cx) ** 2) / np.float32(spec.size)
            )
            out.append((f"plate{p:02d}", w, img.astype(np.float32)[:, :, None]))
    return out


def write_plates(out_dir: str, seed: int, spec: PlateSpec) -> list[tuple[str, int, np.ndarray]]:
    """One parquet file per plate (so the scan splits by plate); returns
    the images as ``plate_arrays`` does."""
    rows = plate_arrays(seed, spec)
    os.makedirs(out_dir, exist_ok=True)
    for p in range(spec.plates):
        part = rows[p * spec.wells:(p + 1) * spec.wells]
        images = [{
            "data": a.tobytes(), "dtype": "float32", "shape": list(a.shape),
            "meta": dict(_META),
            "log": [{"optype": "CREATE", "optool": "NUMPY", "opval": "plate",
                     "opargs": [plate, str(w)], "children_json": None}],
        } for plate, w, a in part]
        table = pa.table({
            "sample": pa.array([f"{plate}_w{w:03d}" for plate, w, _ in part]),
            "plate": pa.array([plate for plate, _, _ in part]),
            "well": pa.array([w for _, w, _ in part], pa.int32()),
            "image": pa.array(images, IMAGE_ARROW),
        })
        pq.write_table(table, os.path.join(out_dir, f"plate{p:02d}.parquet"))
    return rows


@dataclass(frozen=True)
class ImagesSpec:
    files: FrameSpec
    sweep: PlateSpec


# --- corpus_queries: documents and embeddings shaped like sf0.01 -------------


@dataclass(frozen=True)
class CorpusSpec:
    docs: int = 500
    sources: int = 20


#: share of documents carrying ``dup``, embedding width and label count
#: of the reference tables
DUP_FRAC, EMB_DIM, LABELS = 0.05, 64, 10


#: The 30-word vocabulary of the reference corpus; every word is drawn
#: uniformly, so shingle postings are flat and no posting cap fires.
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)


def corpus_frames(seed: int, spec: CorpusSpec = CorpusSpec()):
    """(documents, embeddings) as pandas frames.

    Texts are 10-99 uniform words. ``DUP_FRAC`` of the documents carry
    the word ``dup``, in the shapes the reference corpus has: near-dup
    pairs (another document's text plus ``dup``), one chain (a dup of a
    dup, so one near-dup component has three documents) and one orphan
    (its own text plus ``dup``, with no partner). Component sizes set
    how many rounds the dedup loops run, so the near-duplicate graph has
    the same shape on every seed."""
    import pandas as pd

    rng = np.random.default_rng([seed, 3])
    n = spec.docs
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(n)]
    n_dup = max(3, int(round(DUP_FRAC * n)))
    picked = rng.choice(n, 2 * n_dup - 2, replace=False)
    targets, sources = picked[:n_dup], picked[n_dup:]
    for t, src in zip(targets[:-3], sources):
        texts[t] = texts[src] + " dup"
    chain_a, chain_b, orphan = targets[-3:]
    texts[chain_a] = texts[sources[-1]] + " dup"
    texts[chain_b] = texts[chain_a] + " dup"
    texts[orphan] = texts[orphan] + " dup"
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % spec.sources}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.normal(0.0, 1.0, (n, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, LABELS, n).astype(np.int32),
    })
    return docs, emb


def write_corpus(sf_dir: str, seed: int, spec: CorpusSpec = CorpusSpec()) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` as single
    files with one row group each, like the reference tables."""
    docs, emb = corpus_frames(seed, spec)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(sf_dir, "documents.parquet"))
    emb_table = pa.table({
        "vec_id": pa.array(emb.vec_id),
        "embedding": pa.array([v.tolist() for v in emb.embedding], pa.list_(pa.float32())),
        "label": pa.array(emb.label, pa.int32()),
    })
    pq.write_table(emb_table, os.path.join(sf_dir, "embeddings.parquet"))
