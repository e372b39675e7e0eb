"""Distributed PCA / whitening over an embedding column.

The classic two-phase shape for covariance-based PCA at corpus scale
(public method — e.g. the standard practice for embedding whitening in
retrieval pipelines):

  1. MOMENTS (distributed): one corpus scan accumulates per-batch partial
     (n, sum, X^T X) with numpy inside `mapInPandas` — Arrow-batched, no
     per-row Python. Partials are one row per batch, so the reduce-side
     relational sum handles partition-count rows, not corpus rows.
  2. EIG (driver): the d x d covariance (d = 64 here; "centroid-sized" by
     the SCALE.md driver-collect contract) is eigendecomposed with numpy.
     Eigenvector sign is canonicalized (largest-|component| positive) so
     results are reproducible across BLAS builds.
  3. PROJECT (distributed): the d x k component matrix broadcasts into an
     Arrow-batched matmul; whitening divides by sqrt(eigenvalue).

The moments path is differentially checked against plain SQL sums
(`emb_cov_block` oracle) and the projection against a direct numpy PCA in
tests/test_pca.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VEC = "embedding"


def covariance(emb: DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """(mean[d], cov[d,d], n) — biased (population, 1/n) covariance.

    Partials collapse relationally as tagged (t, i, v) rows emitted straight
    from the moments UDF — (1 + d + d^2) rows per Arrow batch, independent
    of corpus size — reduced by ONE map-side-combined groupBy and collected
    in ONE action (the previous persist + three collects paid ~0.5s of pure
    job-scheduling overhead at bench SF for the same sums)."""
    schema = T.StructType(
        [
            T.StructField("t", T.IntegerType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def tagged(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xb = np.array(pdf[VEC].tolist(), dtype=np.float64)
            d_ = xb.shape[1]
            sv = xb.sum(axis=0)
            xtxv = (xb.T @ xb).ravel()
            yield pd.DataFrame(
                {
                    "t": [0] + [1] * d_ + [2] * (d_ * d_),
                    "i": [0] + list(range(d_)) + list(range(d_ * d_)),
                    "v": np.concatenate(([float(xb.shape[0])], sv, xtxv)),
                }
            )

    rows = (
        emb.select(VEC)
        .mapInPandas(tagged, schema=schema)
        .groupBy("t", "i")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    n = int(next(r["v"] for r in rows if r["t"] == 0))
    s = sorted((r["i"], r["v"]) for r in rows if r["t"] == 1)
    x = sorted((r["i"], r["v"]) for r in rows if r["t"] == 2)
    sum_vec = np.array([v for _, v in s])
    d = sum_vec.shape[0]
    xtx = np.array([v for _, v in x]).reshape(d, d)
    mean = sum_vec / n
    cov = xtx / n - np.outer(mean, mean)
    return mean, cov, int(n)


def pca_fit(emb: DataFrame, k: int) -> dict:
    """Top-k principal axes of the embedding corpus.

    Returns {mean[d], components[k,d], eigvals[k], explained[k], n}."""
    mean, cov, n = covariance(emb)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k x d
    vals = vals[order]
    # sign canonicalization: the component with the largest |value| in each
    # axis is made positive (BLAS-order independent)
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.trace(cov))
    return {
        "mean": mean,
        "components": comps,
        "eigvals": vals,
        "explained": vals / total_var if total_var > 0 else vals * 0.0,
        "n": n,
    }


def pca_project(emb: DataFrame, model: dict, whiten: bool = False) -> DataFrame:
    """(id, pc array<double>[k]): center, rotate, optionally whiten —
    a broadcast-sized matrix applied in an Arrow-batched matmul."""
    mean = model["mean"]
    comps = model["components"]
    scale = 1.0 / np.sqrt(np.maximum(model["eigvals"], 1e-12)) if whiten else None
    schema = T.StructType(
        [
            emb.schema["vec_id"],
            T.StructField("pc", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[VEC].tolist(), dtype=np.float64) - mean
            p = x @ comps.T
            if scale is not None:
                p = p * scale
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "pc": p.tolist()})

    return emb.select("vec_id", VEC).mapInPandas(run, schema=schema)
