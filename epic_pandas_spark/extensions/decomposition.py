"""Distributed PCA over embedding columns — the data-adaptive counterpart
to the seeded JL `random_projection` (extensions/similarity.py), feeding
the same downstream consumers (IVF codebooks, SemDeDup, near-dup
blocking) with a width reduction that concentrates variance instead of
merely preserving geometry in expectation. (The reference engine has no
embedding tier; this is an extension obligation alongside kmeans / JL /
IVF-PQ.)

Scale shape — classic two-phase "sufficient statistics" PCA, the same
pattern MLlib's RowMatrix uses:

1. **SUFFICIENT STATS, one corpus pass.** Each Arrow batch computes its
   count, column-sum vector (d) and Gram matrix X^T X (d x d) with one
   BLAS GEMM, accumulated per partition inside `mapInPandas` and emitted
   as ONE row per partition. The partials reduce IN-PLAN via
   posexplode -> groupBy(pos).sum — a tree of map-side combines whose
   shuffle payload is d^2+d doubles per task regardless of corpus size.
   The driver collects exactly d^2+d summed cells (bounded by the
   embedding width, NOT by row count or partition count — at d=64 that
   is 4160 doubles).
2. **EIGH ON THE DRIVER.** Covariance = G/n - mean mean^T (or the n-1
   sample scaling); `numpy.linalg.eigh` of a d x d symmetric matrix is
   microseconds for any realistic embedding width. Eigenvector sign is
   fixed deterministically (largest-|.| coordinate made positive) so
   components are reproducible across runs/engines.
3. **PROJECT, one corpus pass.** mean and the d x k component matrix
   broadcast inside an Arrow-batched pandas UDF; each batch is one BLAS
   GEMM of (X - mean) @ W. No shuffle, no Python-per-row.

At 100 TB: phase 1 is a full scan with a d^2-sized aggregate (the same
cost class as a global `count()`), phase 3 is a map-only scan — nothing
quadratic in rows, nothing collected beyond the d x d statistics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_components: int = 8,
    ddof: int = 1,
) -> dict:
    """Fit PCA on an `array<float|double>` column in one corpus pass.

    Returns a dict of driver-side numpy arrays:
      mean (d,), components (d, k) column-orthonormal eigenvectors sorted
      by descending eigenvalue with deterministic signs,
      explained_variance (k,), explained_variance_ratio (k,), n_rows.

    ``ddof=1`` matches the sample-covariance convention (sklearn); 0 is
    the population covariance.
    """
    src = df.select(F.col(vec_col).cast("array<double>").alias("v")).filter(
        F.col("v").isNotNull()
    )

    def partials(batches):
        n = 0
        s = None  # (d,)
        g = None  # (d, d)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["v"].to_numpy())
            n += x.shape[0]
            if s is None:
                s = x.sum(axis=0)
                g = x.T @ x
            else:
                s += x.sum(axis=0)
                g += x.T @ x
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "cells": [np.concatenate([s, g.ravel()]).tolist()],
                }
            )

    part = src.mapInPandas(partials, schema="n long, cells array<double>")
    # in-plan tree reduction: d^2+d keyed sums, map-side combined — the
    # driver never sees per-partition rows, only the d^2+d grand totals
    reduced = (
        part.select(F.col("n"), F.posexplode("cells").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.sum("val").alias("total"),
            # every partial row repeats its n once per cell; cell 0's copy
            # alone carries the true row count through the same aggregate
            F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("n0"),
        )
        .collect()
    )
    if not reduced:
        raise ValueError("pca_fit: no non-null vectors to fit on")
    cells = np.empty(len(reduced), dtype=np.float64)
    n_rows = 0
    for r in reduced:
        cells[r["pos"]] = r["total"]
        if r["n0"] is not None:
            n_rows = int(r["n0"])
    d = int(round((np.sqrt(4 * len(cells) + 1) - 1) / 2))  # len = d + d^2
    if d + d * d != len(cells):
        raise AssertionError(f"pca_fit: inconsistent stats width {len(cells)}")
    if n_rows <= ddof:
        raise ValueError(f"pca_fit: need more than {ddof} rows, got {n_rows}")
    s = cells[:d]
    g = cells[d:].reshape(d, d)
    mean = s / n_rows
    cov = (g - n_rows * np.outer(mean, mean)) / (n_rows - ddof)
    cov = (cov + cov.T) / 2.0  # exact symmetry against fp drift
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:n_components]
    comps = eigvecs[:, order]
    variance = np.maximum(eigvals[order], 0.0)
    # deterministic sign: make each component's largest-|.| coordinate
    # positive (ties broken by lowest index via argmax)
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(comps.shape[1])])
    flip[flip == 0] = 1.0
    comps = comps * flip
    total_var = float(np.trace(cov))
    ratio = variance / total_var if total_var > 0 else np.zeros_like(variance)
    return {
        "mean": mean,
        "components": comps,
        "explained_variance": variance,
        "explained_variance_ratio": ratio,
        "n_rows": n_rows,
    }


def pca_transform(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Append the centered projection (x - mean) @ components as
    ``out_col`` — broadcast model, one BLAS GEMM per Arrow batch.

    ``whiten=True`` additionally scales each coordinate by
    1/sqrt(eigenvalue) so the output has identity sample covariance
    (useful before cosine/Euclidean indexing when the spectrum is
    skewed); components with eigenvalue <= 0 map to 0 rather than inf.
    The scaling folds into the broadcast matrix — same single GEMM.

    Null vectors project to null (``pca_fit`` skips them when fitting,
    so fit+transform over the SAME frame never crashes mid-job on a
    null embedding)."""
    mean = np.asarray(model["mean"], dtype=np.float64)
    comps = np.asarray(model["components"], dtype=np.float64)
    if whiten:
        ev = np.asarray(model["explained_variance"], dtype=np.float64)
        inv = np.where(ev > 0, 1.0 / np.sqrt(np.maximum(ev, 1e-300)), 0.0)
        comps = comps * inv

    @F.pandas_udf("array<double>")
    def _project(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mask = vs.notna().to_numpy()
        out = np.full(len(vs), None, dtype=object)
        if mask.any():
            x = np.vstack(vs[mask].to_numpy())
            y = (x - mean) @ comps
            for k, row in zip(np.nonzero(mask)[0], y):
                out[k] = row
        return pd.Series(out)

    return df.withColumn(out_col, _project(F.col(vec_col).cast("array<double>")))
