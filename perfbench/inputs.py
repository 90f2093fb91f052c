"""Seeded inputs: the batch tables and the ANN vector corpus.

Batch tables come from ``tools/gen_fixtures.py`` with its seed set to the
run's seed. The vector corpus has ``tools/gen_vectors.py``'s shape: unit
centroids, each vector 0.5 x centroid + N(0, 1) noise, renormalized.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_tool(name: str):
    """Import ``tools/<name>.py`` (``tools`` is not a package)."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_tool_{name}", os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_batch_tables(gen_fixtures, out_dir: str, sf: float, seed: int) -> None:
    gen_fixtures.SEED = seed
    with contextlib.redirect_stdout(sys.stderr):
        gen_fixtures.generate(sf, out_dir)


def clustered_vectors(n: int, dim: int, n_clusters: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    mat = cents[rng.integers(0, n_clusters, n)] * 0.5 + rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat.astype(np.float32)


def write_vectors(path: str, mat: np.ndarray) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(len(mat)), pa.int64()),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
    }), path)
