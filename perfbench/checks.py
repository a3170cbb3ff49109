"""Correctness checks, computed apart from the program.

- ``duckdb_parity``: the suite query's DuckDB twin
  (``__spark_entry__.oracle_sql()``) over the same generated parquet,
  exact sorted-row equality with the canonical form the repository's
  parity test uses.
- frame math in plain numpy: the closed-form pixels, a per-channel
  16-bin histogram, a 3x3 [1,2,1]x[1,2,1]/16 blur with reflect-101
  borders in integer arithmetic, and PSNR for the lossy clips.

Every check returns a list of failure strings (empty = passed).
"""

from __future__ import annotations

import math

import numpy as np

# the clips decode at ~48 dB against their source frames and at most
# ~26 dB against the neighbouring frame (qp 10, 16x16, no wrap)
PSNR_FLOOR_DB = 35.0


def canon(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def rows_canon(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for _, r in pdf.iterrows())


def duckdb_parity(name: str, spark_pdf, con, oracle_sql: str) -> list[str]:
    want = con.execute(oracle_sql).df()
    if sorted(spark_pdf.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(spark_pdf.columns)} != oracle {sorted(want.columns)}"]
    got, exp = rows_canon(spark_pdf), rows_canon(want)
    if got != exp:
        bad = [i for i, (a, b) in enumerate(zip(got, exp)) if a != b][:3]
        return [f"{name}: {len(got)} rows vs oracle {len(exp)}; first differing sorted rows {bad}"]
    return []


def histogram(img: np.ndarray) -> list[list[int]]:
    """Per-channel counts of pixel // 16."""
    return [np.bincount(img[:, :, c].ravel() // 16, minlength=16).tolist()
            for c in range(img.shape[2])]


def _reflect101(n: int) -> np.ndarray:
    """Source index for positions -1..n (reflect-101: -1 -> 1, n -> n-2)."""
    i = np.arange(-1, n + 1)
    i = np.where(i < 0, -i, i)
    return np.where(i > n - 1, 2 * (n - 1) - i, i)


def blur3(img: np.ndarray) -> np.ndarray:
    """3x3 Gaussian ([1,2,1] outer [1,2,1]) / 16, rounded half up."""
    h, w, _ = img.shape
    p = img.astype(np.int64)[_reflect101(h)][:, _reflect101(w)]
    wts = (1, 2, 1)
    acc = np.zeros(img.shape, np.int64)
    for dy in range(3):
        for dx in range(3):
            acc += wts[dy] * wts[dx] * p[dy : dy + h, dx : dx + w]
    return ((acc + 8) // 16).astype(np.uint8)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    return math.inf if mse == 0 else 10.0 * math.log10(255.0**2 / mse)
