"""Seeded benchmark inputs.

Every input is a pure function of the workload seed. The dedup corpora are
the package's fixture rows (``sources.fixture``: a row is a function of
``(seed, row_index)``, the same rows ``make_fixture_spark`` builds), and
the planted duplicate pairs that the recall check scores against come
from ``sources.fixture.truth_pairs``. The kNN vectors are seeded numpy
Gaussian blobs.

A run writes its inputs once, into its own scratch directory, before any
timing starts. They are generated in the benchmark process with pandas
and numpy, in one thread that runs while the JVM launches, so they cost
the run no time and leave the JVM and its Python workers cold: the first
operation pays for warming them, as a user's first query does. Inputs are
not kept between runs.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

from distributed_gpu_lsh_using_sycl_spark.sources import fixture

#: planted-pair kinds (``fixture.truth_pairs``) that each dedup path is
#: built to find. Text-only batch dedup finds every caption-carried dup;
#: the streaming cycle's candidates come from MinHash bands alone, so
#: substring dups (Jaccard ~1/3) and image-only dups are out of its reach.
TEXT_KINDS = ("combined", "caption", "substring")
MINHASH_KINDS = ("combined", "caption")


def caption_corpus(out: Path, seed: int, rows: int, parts: int) -> Path:
    """Parquet directory (image_id, caption) of ``rows`` fixture rows, the
    text-only dedup input, in ``parts`` files of consecutive rows (as many
    as the files ``make_fixture_spark`` writes at ``parts``-way
    parallelism, so the scan gets as many splits)."""
    out.mkdir(parents=True)
    ids = np.arange(rows)
    for i, chunk in enumerate(np.array_split(ids, parts)):
        pd.DataFrame({
            "image_id": [fixture.image_id(j) for j in chunk],
            "caption": [fixture.row_content(seed, int(j))[1] for j in chunk],
        }).to_parquet(out / f"part-{i:05d}.parquet", index=False)
    return out


def image_waves(out: Path, seed: int, rows: int, waves: int) -> list[Path]:
    """``waves`` parquet files of full fixture rows (image bytes included),
    consecutive row ranges of ``rows // waves`` rows each. Wave boundaries
    fall on multiples of 10 rows, so every planted duplicate lands in the
    same wave as its anchor."""
    per_wave = rows // waves
    if per_wave % 10:
        raise ValueError(f"rows/waves = {per_wave} must be a multiple of 10 "
                         "so planted dup blocks never straddle a wave")
    out.mkdir(parents=True)
    paths = []
    for w in range(waves):
        paths.append(out / f"wave{w:03d}.parquet")
        (fixture.rows_for_indices(seed, range(w * per_wave, (w + 1) * per_wave))
         .to_parquet(paths[-1], index=False))
    return paths


def planted_pairs(seed: int, rows: int, kinds) -> pd.DataFrame:
    """The planted duplicate pairs among the first ``rows`` rows whose
    kind is one of ``kinds``."""
    truth = fixture.truth_pairs(seed, rows)
    return truth[truth["kind"].isin(kinds)].reset_index(drop=True)


def row_ids(rows: int) -> list[str]:
    return [fixture.image_id(i) for i in range(rows)]


def knn_blobs(out: Path, seed: int, rows: int, dims: int,
              centers: int = 20, sigma: float = 0.15) -> np.ndarray:
    """``rows`` points drawn around ``centers`` uniform blob centres, each
    coordinate clipped to [-1, 1] (the range the random-projection chain
    maps onto [0, 1]). Writes them as a parquet table (vec_id, v) and
    returns them as an (rows, dims) array; row i is ``vec_id`` i."""
    rng = np.random.default_rng(seed)
    mid = rng.uniform(-0.6, 0.6, size=(centers, dims))
    pts = mid[rng.integers(0, centers, rows)] + rng.normal(0, sigma, (rows, dims))
    pts = np.clip(pts, -1.0, 1.0)
    out.parent.mkdir(parents=True, exist_ok=True)
    pd.DataFrame({"vec_id": np.arange(rows, dtype=np.int64),
                  "v": list(pts)}).to_parquet(out, index=False)
    return pts
