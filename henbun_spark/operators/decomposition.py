"""Distributed PCA over an embedding column.

The classic two-phase distributed PCA (as in MLlib's RowMatrix
``computePrincipalComponents``): the cluster reduces the data to its
second-moment statistics — mean vector and Gram matrix X^T X, dim x dim
doubles regardless of row count — and the driver eigendecomposes the
covariance (dim is small: embeddings are 10s-1000s wide; the eigh is
O(dim^3) driver work, trivial next to the scan). No reference analogue
(the reference is a VI library); part of the brief-mandated
training-data-pipeline surface (SURVEY §2.11).

Scale design (100 TB stance):
* ONE mapInPandas pass emits one partial-stats vector per partition
  (count, sum vector, Gram matrix) — the wide embedding column never
  shuffles; the partials are added by `local_replay.sum_partials`, the
  one partial-sum fold shared with ``clustering.kmeans_fit`` and
  SparkTrainer: collected below ``TREE_DEPTH_CUTOVER`` partitions (one
  stage), ``RDD.treeAggregate`` (depth 2) at or above it, so at scale
  the driver receives exactly one (dim x dim) matrix.
* Projection for serving is pure Column math with the component
  coefficients folded into the plan as literals (whole-stage codegen,
  zero Python in the hot path) — same pattern as ``kmeans_assign``.

Determinism: eigenvector signs are fixed by making each component's
largest-|coefficient| entry positive; ties in eigenvalues keep numpy's
ascending-eigenvalue order reversed (largest variance first).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pca_fit", "pca_project", "suff_stats", "eig_from_stats"]


def _stats(_pid, frames) -> Iterator[np.ndarray]:
    """One partition's ``[n, *sum vector, *Gram flat]`` over its
    (bi, n x dim matrix) frames; nothing for an empty partition."""
    n, s, g = 0, None, None
    for _bi, x in frames:
        n += len(x)
        s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
        gram = x.T @ x
        g = gram if g is None else g + gram
    if n:
        yield np.concatenate(([n], s, g.ravel()))


def suff_stats(
    df: DataFrame, emb_col: str
) -> tuple[int, np.ndarray, np.ndarray]:
    """The (n, sum vector, Gram matrix flat) sufficient statistics of
    ``df[emb_col]`` — ONE mapInPandas pass, summed by
    `local_replay.sum_partials`; the driver receives one dim + dim^2
    float vector per partition below its cutover, one in all at or
    above it. Addition-mergeable (associative + commutative), which is
    what makes the streaming maintenance
    (`streaming.pca_stream_maintenance`) batch-split-independent.
    """
    from henbun_spark.local_replay import sum_partials
    from henbun_spark.operators.clustering import _to_matrix

    total = sum_partials(
        df.select(F.col(emb_col).cast("array<double>").alias("_v")),
        _to_matrix, _stats, None,
    )
    if total is None:
        raise ValueError("suff_stats: empty input")
    # total.size = 1 + dim + dim^2
    dim = int(round((np.sqrt(4 * total.size - 3) - 1) / 2))
    return int(total[0]), total[1: 1 + dim], total[1 + dim:]


def eig_from_stats(
    n: int, s: np.ndarray, g: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(components k x dim, explained_variance k, mean dim) from the
    (n, sum, Gram) sufficient statistics — the driver-side half of
    PCA, shared by the batch fit and the streaming-state drain.
    Covariance = (G - n * mu mu^T) / (n - 1); eigenvector signs are
    canonicalized (largest-|coefficient| entry positive) so the fit is
    deterministic."""
    if n < 2:
        raise ValueError(f"PCA needs >= 2 rows, got {n}")
    s = np.asarray(s, dtype=np.float64)
    dim = s.shape[0]
    g = np.asarray(g, dtype=np.float64).reshape(dim, dim)
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k x dim
    # deterministic sign: largest-|coef| entry of each component positive
    flip = np.sign(comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return comps, evals[order], mu


def pca_fit(
    df: DataFrame, emb_col: str, k: int = 4
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Returns (components k x dim, explained_variance k, mean dim):
    `suff_stats` (one distributed pass) + `eig_from_stats` (driver
    O(dim^3))."""
    n, s, g = suff_stats(df, emb_col)
    return eig_from_stats(n, s, g, k)


def pca_project(
    df: DataFrame,
    emb_col: str,
    components: np.ndarray,
    mean: np.ndarray,
    prefix: str = "pc",
) -> DataFrame:
    """Project each embedding onto the fitted components: pc_i =
    (x - mu) . comp_i, as pure Column folds with coefficients as
    plan-time literals (whole-stage codegen; no Python)."""
    vec = F.col(emb_col).cast("array<double>")
    comps = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    cols = []
    for i, c in enumerate(comps):
        arr = F.array(*[F.lit(float(x)) for x in c])
        dot = F.aggregate(
            F.zip_with(vec, arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        cols.append((dot - float(mu @ c)).alias(f"{prefix}{i + 1}"))
    return df.select("*", *cols)
