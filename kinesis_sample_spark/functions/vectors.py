"""Vector expressions over ``array<float>`` embedding columns.

Dot products are computed with ``zip_with`` + ``aggregate`` — element-wise
multiply then a strict left-to-right fold, all JVM-side. Elements are cast
float→double *before* multiplying so the arithmetic is double throughout;
DuckDB's ``list_dot_product`` over ``DOUBLE[]`` performs the identical
sequential double accumulation (verified empirically), which makes cosine
values bit-identical between engine and oracle. :func:`numpy_dot` is the
third mirror of the same fold, for Arrow kernels that score many pairs
at once.

Scale: these are per-row expressions (no shuffle, no Python). For 100 TB
corpora the brute-force path is one broadcast of the query set; the LSH
path prunes candidates by bucket equality before any dot product runs.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(|a|·|b|) with the exact expression shape the oracle
    mirrors: sqrt of self-dot per side, multiplied, then one division."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def sql_dot(a: str, b: str) -> str:
    """DuckDB rendering of :func:`dot` (inputs cast to DOUBLE[])."""
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"


def numpy_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """numpy rendering of :func:`dot` for every pair of rows:
    ``out[i, j] = dot(x[i], y[j])``, bit for bit.

    The fold ``acc = 0.0; for k: acc += x[k] * y[k]`` runs once per
    dimension, vectorised across all row pairs, as separate multiply and
    add ufuncs. No BLAS: ``@``, ``np.dot``, ``einsum`` and
    ``sum(axis=...)`` all reorder (or fuse) the sum. Memory is
    ``len(x) * len(y)`` doubles."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    out = np.zeros((x.shape[0], y.shape[0]))
    for k in range(x.shape[1]):
        out += np.multiply.outer(x[:, k], y[:, k])
    return out


# ---------------------------------------------------------------------------
# Deterministic random hyperplanes for LSH bucketing. Computed in *Python*
# with the same md5→int derivation both engines use elsewhere, then embedded
# as plain literals in both the Spark plan and the oracle SQL — no engine
# hash evaluation, so the planes are identical by construction.
# ---------------------------------------------------------------------------

def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    out = []
    for j in range(n_planes):
        plane = []
        for d in range(dim):
            h = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:15], 16)
            plane.append((h % 2001 - 1000) / 1000.0)
        out.append(plane)
    return out


def plane_lit(plane: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in plane])


def sql_plane_lit(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"
