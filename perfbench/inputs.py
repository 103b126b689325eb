"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed, so two runs with
the same seed feed the program byte-identical inputs. Image content
comes from the package's deterministic fixture generator
(`ariadne_spark.synth.images`): row i's pixels, position, caption and
near-duplicate parent depend on i alone, so the seed only chooses the
window of row ids a run uses. Formats, restart markers and the edit
sequence are drawn from a `numpy` generator seeded with the seed.

Generated inputs are cached under `<work>/inputs/`, keyed by kind,
size, version and seed. Generation is benchmark work and is never part
of a timed interval.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ariadne_spark.functions.codecs import encode_fjpg, encode_png
from ariadne_spark.functions.jpeg import encode_jpeg
from ariadne_spark.synth import images as synth

import oracles

INPUTS_VERSION = 1

# cold_build corpus: format shares (the restart variant needs >= 16
# MCUs so the stream carries enough intervals for the wave decoder;
# smaller images drawn for it are encoded restart-free instead)
N_CORPUS = 2000
VARIANTS = ("png", "fjpg", "jpeg_rst", "jpeg")
VARIANT_SHARES = (0.46, 0.38, 0.08, 0.08)
JPEG_QUALITY = 98  # 4:4:4 at q98 keeps PSNR ~44 dB on noise content
WAVE_MIN_INTERVALS = 16

# live_edits: base store size and the edit sequence of one round
N_BASE = 2000
N_MODIFY = 100
N_APPEND = 50

ID_STRIDE = 50_000  # id window per seed; > every N above


def id_base(seed: int) -> int:
    return 10_000 + (seed % 1000) * ID_STRIDE


def image_id(i: int) -> str:
    return f"img_{int(i):08d}"


def pixels(i: int, w: int, h: int, parent: int) -> np.ndarray:
    """The generator's rendered pixels of row i (a near-duplicate is
    its parent's render with one pixel perturbed)."""
    if parent >= 0:
        return synth.perturb_pixels(synth.render_pixels(parent, w, h), i)
    return synth.render_pixels(i, w, h)


def _geometry(ids: np.ndarray) -> dict[str, np.ndarray]:
    e0 = synth.row_entropy(ids, 0)
    w = synth.SIZES[(e0 % np.uint64(3)).astype(np.int64)].copy()
    h = synth.SIZES[((e0 >> np.uint64(2)) % np.uint64(3)).astype(np.int64)].copy()
    parent = synth.neardup_parents(ids)
    for k in np.nonzero(parent >= 0)[0]:
        pe0 = synth.row_entropy(np.array([parent[k]], dtype=np.int64), 0)[0]
        w[k] = synth.SIZES[int(pe0 % np.uint64(3))]
        h[k] = synth.SIZES[int((pe0 >> np.uint64(2)) % np.uint64(3))]
    lon_u, lat_u = synth.geo_micro(ids)
    return {"w": w, "h": h, "parent": parent, "lon_u": lon_u, "lat_u": lat_u}


def _cached(work: str, key: str, build) -> str:
    """Directory holding the input `key`, built once by `build(tmpdir)`."""
    final = os.path.join(work, "inputs", key)
    if os.path.exists(os.path.join(final, "done")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "done"), "w") as fh:
        fh.write("ok")
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


# ---------------------------------------------------------------------------
# cold_build: raw image blobs
# ---------------------------------------------------------------------------


def _encode(px: np.ndarray, variant: str) -> tuple[bytes, str]:
    if variant == "png":
        return encode_png(px), "png"
    if variant == "fjpg":
        return encode_fjpg(px), "fjpg"
    h, w, _ = px.shape
    restart = 0
    if variant == "jpeg_rst":
        restart = max(1, (h // 8) * (w // 8) // WAVE_MIN_INTERVALS)
    return encode_jpeg(px, quality=JPEG_QUALITY, subsample="444", restart_mcus=restart), "jpeg"


def corpus(work: str, seed: int) -> str:
    """Raw blob table (`raw.parquet`, the program's input) plus the
    generator's truth (`truth.npz`) for the cold_build checks."""

    def build(d: str) -> None:
        ids = id_base(seed) + np.arange(N_CORPUS, dtype=np.int64)
        g = _geometry(ids)
        rng = np.random.default_rng(seed)
        variant = rng.choice(len(VARIANTS), size=N_CORPUS, p=VARIANT_SHARES)
        small = (g["w"] // 8) * (g["h"] // 8) < WAVE_MIN_INTERVALS
        variant[(variant == VARIANTS.index("jpeg_rst")) & small] = VARIANTS.index("jpeg")
        blobs, fmts, render_phash = [], [], np.empty(N_CORPUS, np.int64)
        for k, i in enumerate(ids):
            px = pixels(int(i), int(g["w"][k]), int(g["h"][k]), int(g["parent"][k]))
            blob, fmt = _encode(px, VARIANTS[variant[k]])
            blobs.append(blob)
            fmts.append(fmt)
            render_phash[k] = oracles.phash64(px)
        pq.write_table(
            pa.table(
                {
                    "image_id": pa.array([image_id(i) for i in ids], pa.string()),
                    "bytes": pa.array(blobs, pa.binary()),
                    "w": pa.array(g["w"], pa.int32()),
                    "h": pa.array(g["h"], pa.int32()),
                    "fmt": pa.array(fmts, pa.string()),
                    "caption": pa.array([synth.make_caption(int(i)) for i in ids], pa.string()),
                    "lon_u": pa.array(g["lon_u"], pa.int64()),
                    "lat_u": pa.array(g["lat_u"], pa.int64()),
                }
            ),
            os.path.join(d, "raw.parquet"),
        )
        np.savez(
            os.path.join(d, "truth.npz"), ids=ids, variant=variant,
            render_phash=render_phash, **g,
        )

    return _cached(work, f"corpus-v{INPUTS_VERSION}-n{N_CORPUS}-s{seed}", build)


def load_truth(d: str) -> dict[str, np.ndarray]:
    with np.load(os.path.join(d, "truth.npz")) as z:
        return {k: z[k] for k in z.files}


# ---------------------------------------------------------------------------
# live_edits: image metadata rows and the edit sequence
# ---------------------------------------------------------------------------

META_SCHEMA = (
    "image_id string, phash long, lon_u long, lat_u long, w int, h int, "
    "fmt string, caption string"
)


def meta_rows(ids: np.ndarray) -> list[tuple]:
    """Metadata rows (the images_indexed input columns) for ids; the
    phash is the generator's render hash, so no blob is ever decoded."""
    g = _geometry(ids)
    rows = []
    for k, i in enumerate(ids):
        px = pixels(int(i), int(g["w"][k]), int(g["h"][k]), int(g["parent"][k]))
        rows.append((
            image_id(i), oracles.phash64(px), int(g["lon_u"][k]), int(g["lat_u"][k]),
            int(g["w"][k]), int(g["h"][k]), "png", synth.make_caption(int(i)),
        ))
    return rows


def prefix_cell(lon_u: np.ndarray, lat_u: np.ndarray):
    """(x, y) of the store's partition cell (8 x 8 grid, resolution 3)."""
    return (lon_u * 8) // 360_000_000, (lat_u * 8) // 180_000_000


def edits(work: str, seed: int) -> str:
    """Base metadata set plus one round's edit sequence:

    - U1 modifies N_MODIFY images of the most populated partition cell
      (phash XOR a seeded 6-bit mask; geometry unchanged) and appends
      N_APPEND new images;
    - U2 restores the modified rows and deletes the appended ones.

    The round nets to the identity, so after every round the store must
    equal the cold build of the base set."""

    def build(d: str) -> None:
        base = id_base(seed)
        rows = meta_rows(base + np.arange(N_BASE, dtype=np.int64))
        appended = meta_rows(base + N_BASE + np.arange(N_APPEND, dtype=np.int64))
        lon = np.array([r[2] for r in rows])
        lat = np.array([r[3] for r in rows])
        cx, cy = prefix_cell(lon, lat)
        key = cx * 1000 + cy
        vals, counts = np.unique(key, return_counts=True)
        cell = int(vals[np.argmax(counts)])
        in_cell = np.nonzero(key == cell)[0]
        rng = np.random.default_rng(seed)
        modify = np.sort(rng.choice(in_cell, size=min(N_MODIFY, len(in_cell)), replace=False))
        bits = rng.choice(64, size=6, replace=False)
        mask = int(np.bitwise_or.reduce(np.left_shift(np.uint64(1), bits.astype(np.uint64))))
        mask = mask - (1 << 64) if mask >= 1 << 63 else mask
        x, y = divmod(cell, 1000)
        spec = {
            "base": rows,
            "appended": appended,
            "modify_idx": modify.tolist(),
            "mask": mask,
            "focus": rows[int(modify[0])][0],
            # the partition cell's full extent (inclusive microdegrees)
            "bbox": [
                x * 360_000_000 // 8, (x + 1) * 360_000_000 // 8 - 1,
                y * 180_000_000 // 8, (y + 1) * 180_000_000 // 8 - 1,
            ],
        }
        with open(os.path.join(d, "edits.json"), "w") as fh:
            json.dump(spec, fh)

    return _cached(work, f"edits-v{INPUTS_VERSION}-s{seed}", build)


def load_edits(d: str) -> dict:
    with open(os.path.join(d, "edits.json")) as fh:
        spec = json.load(fh)
    spec["base"] = [tuple(r) for r in spec["base"]]
    spec["appended"] = [tuple(r) for r in spec["appended"]]
    return spec
