"""Seeded input generation for the benchmark workloads.

Everything here is numpy + pyarrow in the benchmark's own process: no Spark,
so the same seed gives byte-identical parquet files. The program under test
only ever sees the files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Sizes:
    """Input sizes of every workload. ``FULL`` is what the benchmark runs;
    ``TINY`` is for the benchmark's own tests."""

    build_rows: int
    build_keys: int
    stream_files: int
    stream_rows_per_file: int
    stream_keys: int


FULL = Sizes(build_rows=120_000, build_keys=16,
             stream_files=3, stream_rows_per_file=4_000, stream_keys=12)
TINY = Sizes(build_rows=6_000, build_keys=4,
             stream_files=2, stream_rows_per_file=500, stream_keys=3)

# Files per table: one per Spark task slot of the benchmark's local[3], so
# every scan runs one wave of k tasks.
FILES = 3


def _zipf_codes(rng: np.random.Generator, n_rows: int, n_keys: int,
                s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n_rows, p=p / p.sum())


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # log-normal magnitudes spread over ~3 decades: a few hundred DDSketch
    # bins per key at alpha=0.01, no collapsing at 2048 bins
    return rng.lognormal(mean=4.0, sigma=1.0, size=n)


def _write(df: pd.DataFrame, path: str, files: int) -> list[str]:
    """Split ``df`` into ``files`` contiguous parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    out = []
    bounds = np.linspace(0, len(df), files + 1).astype(int)
    for i in range(files):
        part = df.iloc[bounds[i]:bounds[i + 1]]
        name = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), name)
        out.append(name)
    return out


def build_skew_input(seed: int, sizes: Sizes) -> pd.DataFrame:
    """Many rows over a few zipf-skewed string keys: (key, v, id)."""
    rng = np.random.default_rng([seed, 1])
    codes = _zipf_codes(rng, sizes.build_rows, sizes.build_keys)
    return pd.DataFrame({
        "key": pd.Series([f"k{c:02d}" for c in range(sizes.build_keys)])[codes]
               .reset_index(drop=True),
        "v": _values(rng, sizes.build_rows),
        # ids repeat within a key, so distinct counts differ from row counts
        "id": rng.integers(0, sizes.build_rows // 2, size=sizes.build_rows,
                           dtype=np.int64),
    })


def stream_input(seed: int, sizes: Sizes) -> pd.DataFrame:
    """Rows of the replayed stream, in file order: (key, v)."""
    rng = np.random.default_rng([seed, 3])
    n = sizes.stream_files * sizes.stream_rows_per_file
    codes = _zipf_codes(rng, n, sizes.stream_keys)
    return pd.DataFrame({
        "key": pd.Series([f"s{c:02d}" for c in range(sizes.stream_keys)])[codes]
               .reset_index(drop=True),
        "v": _values(rng, n),
    })


def write_inputs(workload: str, seed: int, sizes: Sizes, root: str
                 ) -> tuple[pd.DataFrame, list[str]]:
    """Generate ``workload``'s table and write it under ``root``.

    Returns the rows (the reference for the correctness checks) and the
    parquet files. ``stream_replay`` writes one file per micro-batch."""
    if workload == "build_skew":
        df = build_skew_input(seed, sizes)
        return df, _write(df, root, FILES)
    if workload == "stream_replay":
        df = stream_input(seed, sizes)
        return df, _write(df, root, sizes.stream_files)
    raise ValueError(f"unknown workload {workload!r}")
