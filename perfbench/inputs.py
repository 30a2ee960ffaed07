"""Deterministic benchmark inputs, made from the workload seed.

Everything here runs in the benchmark process with plain pyarrow /
numpy, so input generation is set-up work that never touches Spark and
the program only ever sees the finished parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: page-index stride between seeds; a multiple of 100 keeps the
#: generator's per-100-row class mix identical for every seed
SEED_STRIDE = 100_000


def page_offset(seed: int) -> int:
    return (seed % 10_000) * SEED_STRIDE


def write_pages(path: str, start: int, n: int, files: int,
                prefix: str = "part") -> None:
    """Heavy-profile pages ``start .. start+n-1`` of the repo's synthetic
    corpus as ``files`` parquet files (contiguous index ranges), so
    Spark's scan gets that many splits whatever the page size."""
    from gleaner_spark.sources.pages import page_row

    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(start, start + n, files + 1).astype(int)
    for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        rows = [page_row(i, "heavy") for i in range(lo, hi)]
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(path, f"{prefix}-{k:03d}.parquet"))


# -- query tables -----------------------------------------------------------

def write_documents(out: str, seed: int, n_docs: int) -> None:
    """The query_suite's ``documents`` table from
    ``scripts/gen_sf_scale.py``'s generator, seeded by ``seed``."""
    import importlib.util

    root = os.environ["PERFBENCH_ROOT"]
    spec = importlib.util.spec_from_file_location(
        "gen_sf_scale", os.path.join(root, "scripts", "gen_sf_scale.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    os.makedirs(out, exist_ok=True)
    gen.gen_documents(out, n_docs, np.random.default_rng(seed))
