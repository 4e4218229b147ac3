"""Perceptual image hashing (dHash) + banded Hamming near-dup pairing.

The image analog of the text dedup family (reference analog: the
media payloads the DWD layer routes, ``BaseLogApp.java:235-247``
display rows): a 64-bit difference hash per image, then the same
pigeonhole byte-band join ``dedup_simhash_pairs`` uses, so
near-duplicate IMAGES (re-encodes, small edits, crops of the same
render) pair without any all-pairs comparison.

dHash (difference hash, public domain technique): downscale the
grayscale image to a 9x8 grid of block means, emit one bit per
horizontally-adjacent cell pair — ``bit(r,c) = g[r][c+1] > g[r][c]``
— packed row-major into 64 bits. Robust to uniform brightness /
contrast shifts (only ORDER of adjacent cells matters) and to
small-pixel noise (block means), which is exactly the
near-duplicate tolerance a curation pass wants.

Two decode paths, same hash algebra (mirroring ``media.DECODERS``):

- REAL — payloads that decode as baseline PNG (``multimodal/png.py``)
  hash over true pixel block means: integer grayscale (mean of the
  color channels, alpha ignored), integer block means, so the value
  is bit-exact across platforms. Pinned by transformed-copy recall
  tests (a perturbed re-render pairs with its original; unrelated
  renders don't).
- FAKE — undecodable payloads (the parquet fixture's UTF-8 stand-ins)
  hash the decoded TEXT's code points through the identical
  grid/compare/pack pipeline (the payload is its own 1-D "image").
  Deterministic and **DuckDB-expressible** — which is what makes the
  registered plans oracle-checkable end to end on the fixture while
  the real path stays genuinely executable on actual PNGs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

__all__ = [
    "DHASH_BITS",
    "DHASH_COLS",
    "DHASH_ROWS",
    "py_dhash_gray_grid",
    "py_dhash_real",
    "py_dhash_fake",
    "image_dhash",
]

#: Grid geometry: DHASH_ROWS x (DHASH_COLS) cells, DHASH_COLS-1
#: comparisons per row -> DHASH_ROWS * (DHASH_COLS - 1) = 64 bits.
DHASH_ROWS = 8
DHASH_COLS = 9
DHASH_BITS = DHASH_ROWS * (DHASH_COLS - 1)


def _pack_bits(bits) -> int:
    """Pack comparison bits (row-major, bit i at position i) into a
    SIGNED 64-bit value — the same two's-complement folding the SQL
    twin applies, so Spark LongType and DuckDB BIGINT agree.
    Accepts any 0/1 sequence (list or ndarray) of <= 64 bits."""
    packed = np.packbits(np.asarray(bits, dtype=np.uint8), bitorder="little")
    return int.from_bytes(packed.tobytes().ljust(8, b"\0"), "little", signed=True)


def py_dhash_gray_grid(grid: list[list[int]]) -> int:
    """dHash of an already-built DHASH_ROWS x DHASH_COLS integer grid:
    bit(r,c) = grid[r][c+1] > grid[r][c], packed row-major."""
    bits = [
        1 if grid[r][c + 1] > grid[r][c] else 0
        for r in range(DHASH_ROWS)
        for c in range(DHASH_COLS - 1)
    ]
    return _pack_bits(bits)


def py_dhash_real(width: int, height: int, channels: int, pixels: bytes) -> int:
    """dHash over decoded pixels (row-major, ``channels`` bytes per
    pixel). Grayscale = integer mean of the color channels (alpha —
    the trailing channel of 2/4-channel images — ignored); cell value
    = integer mean over the cell's pixel block. All-integer, so the
    hash is identical on every platform.

    numpy-vectorized (r08): per-pixel channel sums + a zero-bordered
    2-D prefix-sum table give every cell's block sum in O(1), which
    handles the tiny-image case (cell windows forced to >= 1 px may
    OVERLAP, so a partitioning reduceat would be wrong). Bit-identical
    to the scalar spec implementation (pinned by the equivalence
    property test and the analytic extremes)."""
    color_ch = {1: 1, 2: 1, 3: 3, 4: 3}[channels]
    a = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    ps = a[:, :, :color_ch].sum(axis=2, dtype=np.int64)
    S = np.zeros((height + 1, width + 1), dtype=np.int64)
    np.cumsum(ps, axis=0, out=S[1:, 1:])
    np.cumsum(S[1:, 1:], axis=1, out=S[1:, 1:])
    r = np.arange(DHASH_ROWS + 1, dtype=np.int64)
    c = np.arange(DHASH_COLS + 1, dtype=np.int64)
    y0 = (r[:-1] * height) // DHASH_ROWS
    y1 = np.minimum(np.maximum((r[1:] * height) // DHASH_ROWS, y0 + 1), height)
    x0 = (c[:-1] * width) // DHASH_COLS
    x1 = np.minimum(np.maximum((c[1:] * width) // DHASH_COLS, x0 + 1), width)
    tot = S[np.ix_(y1, x1)] - S[np.ix_(y0, x1)] - S[np.ix_(y1, x0)] + S[np.ix_(y0, x0)]
    n = (y1 - y0)[:, None] * (x1 - x0)[None, :] * color_ch
    grid = tot // n
    return _pack_bits((grid[:, 1:] > grid[:, :-1]).reshape(-1))


def py_dhash_fake(text: str) -> int | None:
    """Deterministic fallback hash for payloads that aren't decodable
    images: treat the UTF-8 text's CODE POINTS as a 1-D scanline and
    point-sample the 72 grid cells at ``idx = (i * n) // 72``. Chosen
    to be expressible in DuckDB (``plans/images._fp_cte``)
    so the registered plans stay value-hash-checked on the fixture.
    None for empty text (no hashable content — the row drops, like
    docs shorter than a shingle in the text family)."""
    n = len(text)
    if n == 0:
        return None
    cells = DHASH_ROWS * DHASH_COLS
    g = [ord(text[(i * n) // cells]) for i in range(cells)]
    grid = [g[r * DHASH_COLS : (r + 1) * DHASH_COLS] for r in range(DHASH_ROWS)]
    return py_dhash_gray_grid(grid)


_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """Per-image dHash fingerprints: ``(media_id, dhash, decoder)``.

    Arrow-batched ``mapInPandas`` over image payloads only (the kind
    filter is metadata-level, pushed to the scan; audio/video rows
    never ship bytes to Python). REAL decode is attempted first
    (``media._decode_image_real`` — Pillow, else stdlib baseline
    PNG); anything undecodable hashes through the deterministic fake
    path. Rows whose payload is NULL/empty hash to nothing and drop —
    mirrored by the SQL twin's length filter.

    Scale: one linear pass, no shuffle; the 64-bit output column is
    the ONLY thing downstream pairing touches, so payload bytes never
    cross an exchange.
    """
    from gmall_realtime2021_spark.multimodal.media import _decode_image_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "dhash": [], "decoder": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                decoded = _decode_image_real(payload)
                if decoded is not None:
                    h: int | None = py_dhash_real(*decoded)
                    dec = "real"
                else:
                    h = py_dhash_fake(bytes(payload).decode("utf-8", errors="replace"))
                    dec = "fake"
                if h is None:
                    continue
                out["media_id"].append(mid)
                out["dhash"].append(h)
                out["decoder"].append(dec)
            yield pd.DataFrame(out).astype({"media_id": "int64", "dhash": "int64"})

    return media.filter(F.col("kind") == "image").mapInPandas(run, _DHASH_SCHEMA)
