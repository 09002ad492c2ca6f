"""The two-level aggregation core shared by every sketch family.

Every kernel in ``kernel/`` is mergeable, so every sketch build in Spark has
the same plan:

1. **partial** — ``mapInPandas`` over the scan partitions, so no raw row is
   shuffled. Per Arrow batch: factorize the group keys, one stable argsort,
   and one vectorized ``prepare`` step per family over the whole batch; each
   group then keeps only numpy slices of the prepared arrays. When the
   partition ends, each (family, group) gets one fresh sketch, one
   ``insert`` of its slices, and one blob row (keys..., sketch, rows_in).
2. **merge** — ``groupBy(keys).applyInPandas`` folds each group's blobs with
   the kernel's ``decode_and_merge_with``. A group has at most one partial
   per scan partition, so a skewed key cannot make a hot reducer.

A family plugs in through :class:`SketchAdapter`:

* ``new()`` — an empty kernel sketch (every kernel has
  ``decode_and_merge_with`` and ``encode``);
* ``prepare(values)`` — the per-batch step over the input column (a pandas
  Series), returning a tuple of per-row numpy arrays;
* ``insert(sketch, chunks)`` — adds one group's chunks (tuples of those
  arrays, one per batch, rows in input order) to the sketch.

The slices live until the partition ends: the prepared arrays' bytes per row
(8-9) of one partition, bounded by the Arrow partition size.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SKETCH_COL = "sketch"
ROWS_COL = "rows_in"
FAMILY_COL = "family"


@dataclass(frozen=True)
class SketchAdapter:
    """One sketch family's hooks into the core (see the module docstring)."""

    name: str
    new: Callable[[], object]
    prepare: Callable[[pd.Series], tuple]
    insert: Callable[[object, list[tuple]], None]


def _factorize_keys(pdf: pd.DataFrame, keys: list[str]):
    """(int codes per row, tuple-of-key-values per code) for 0..n key columns.
    NaN/None group keys are kept (use_na_sentinel=False), matching SQL
    GROUP BY null-key semantics."""
    if not keys:
        return np.zeros(len(pdf), dtype=np.int64), [()]
    if len(keys) == 1:
        codes, uniques = pd.factorize(pdf[keys[0]], use_na_sentinel=False)
        return codes, [(u,) for u in uniques]
    per_col = [pd.factorize(pdf[k], use_na_sentinel=False) for k in keys]
    sizes = [len(u) for _, u in per_col]
    combined = per_col[0][0].astype(np.int64)
    for (c, _), size in zip(per_col[1:], sizes[1:]):
        combined = combined * size + c
    comp_codes, comp_uniques = pd.factorize(combined)
    # map each compact code back to the tuple of original key values
    first_row = np.empty(len(comp_uniques), dtype=np.int64)
    first_row[comp_codes] = np.arange(len(comp_codes))  # any representative row
    uniques = [tuple(pdf[k].iloc[int(r)] for k in keys) for r in first_row]
    return comp_codes, uniques


def _key_fields(df: DataFrame, keys: Sequence[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


def blob_schema(df: DataFrame, keys: Sequence[str], family: bool = False) -> StructType:
    """Schema of a blob row: ([family,] keys..., sketch, rows_in), the key
    fields taken from ``df``."""
    head = [StructField(FAMILY_COL, StringType(), False)] if family else []
    return StructType(
        head + _key_fields(df, keys)
        + [StructField(SKETCH_COL, BinaryType(), False),
           StructField(ROWS_COL, LongType(), False)])


def grouped_blobs(df: DataFrame, keys: Sequence[str],
                  fold: Callable[[pd.DataFrame], tuple[bytes, int]],
                  by: Sequence = ()) -> DataFrame:
    """One blob row per group: ``fold(rows of the group) -> (blob, rows_in)``.
    ``by`` adds grouping-only columns (a salt) that the output drops."""
    keys = list(keys)

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        blob, rows = fold(pdf)
        head = {k: pdf[k].iloc[0] for k in keys}
        return pd.DataFrame([head | {SKETCH_COL: blob, ROWS_COL: rows}],
                            columns=keys + [SKETCH_COL, ROWS_COL])

    group = [*keys, *by] or [F.lit(1).alias("_g")]
    return df.groupBy(*group).applyInPandas(apply, schema=blob_schema(df, keys))


def partial_blobs(df: DataFrame, input_col: str | Column, keys: Sequence[str],
                  families: dict, with_family: bool = False) -> DataFrame:
    """Level 1: blob rows per (scan partition x family x group).

    ``families``: {name: (SketchAdapter, row mask Column or None)}; each
    family sketches the non-null ``input_col`` rows its mask selects.
    ``with_family`` leads each row with the family name."""
    keys = list(keys)
    col = F.col(input_col) if isinstance(input_col, str) else input_col
    sel = [*keys, col.alias("_in")]
    sel += [m.alias(f"_m_{n}") for n, (_a, m) in families.items() if m is not None]
    narrow = df.select(*sel).where(F.col("_in").isNotNull())
    # the closure must not capture the mask Columns: they are py4j objects
    # and unpicklable — ship only the adapters
    adapters = {n: a for n, (a, _m) in families.items()}
    masked = {n for n, (_a, m) in families.items() if m is not None}
    cols = [FAMILY_COL] * with_family + keys + [SKETCH_COL, ROWS_COL]

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks: dict[tuple, list[tuple]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            codes, uniques = _factorize_keys(pdf, keys)
            order = np.argsort(codes, kind="stable")
            codes = codes[order]
            bounds = np.flatnonzero(np.diff(codes)) + 1
            spans = list(zip(np.r_[0, bounds], np.r_[bounds, len(codes)]))
            for name, adapter in adapters.items():
                arrays = [a[order] for a in adapter.prepare(pdf["_in"])]
                keep = (pdf[f"_m_{name}"].to_numpy(dtype=bool)[order]
                        if name in masked else None)
                for s, e in spans:
                    part = tuple(a[s:e] for a in arrays)
                    if keep is not None:
                        part = tuple(a[keep[s:e]] for a in part)
                        if not len(part[0]):
                            continue
                    chunks.setdefault((name, uniques[codes[s]]), []).append(part)
        records = []
        for (name, key), parts in chunks.items():
            sk = adapters[name].new()
            adapters[name].insert(sk, parts)
            head = {FAMILY_COL: name} if with_family else {}
            rows = sum(len(p[0]) for p in parts)
            records.append(head | dict(zip(keys, key))
                           | {SKETCH_COL: sk.encode(), ROWS_COL: rows})
        if records:
            yield pd.DataFrame(records, columns=cols)

    return narrow.mapInPandas(partial, schema=blob_schema(narrow, keys, with_family))


def merge_blobs(partials: DataFrame, keys: Sequence[str],
                adapters: dict, with_family: bool = False) -> DataFrame:
    """Level 2: fold each group's blob rows into one blob. ``adapters``:
    {name: SketchAdapter}; without a family column it holds one adapter.
    ``decode_and_merge_with`` streams each blob straight into the receiving
    sketch — no intermediate sketches."""
    single = next(iter(adapters.values()))

    def fold(pdf: pd.DataFrame) -> tuple[bytes, int]:
        sk = (adapters[pdf[FAMILY_COL].iloc[0]] if with_family else single).new()
        for blob in pdf[SKETCH_COL]:
            sk.decode_and_merge_with(bytes(blob))
        return sk.encode(), int(pdf[ROWS_COL].sum())

    return grouped_blobs(partials, [FAMILY_COL] * with_family + list(keys), fold)


def two_level(df: DataFrame, input_col: str | Column, keys: Sequence[str],
              families: dict, with_family: bool = False) -> DataFrame:
    """Partial + merge: one blob row per ([family,] group)."""
    adapters = {n: a for n, (a, _m) in families.items()}
    return merge_blobs(partial_blobs(df, input_col, keys, families, with_family),
                       keys, adapters, with_family)
