"""The two-level aggregation core shared by every sketch family.

Every kernel in ``kernel/`` is mergeable, so every sketch build in Spark has
the same plan:

1. **partial** — ``mapInPandas`` over the scan partitions, so no raw row is
   shuffled. Per Arrow batch: factorize the group keys, one stable argsort,
   and one vectorized ``prepare`` step per family over the whole batch; each
   group then keeps only numpy slices of the prepared arrays. When the
   partition ends, each (family, group) gets one fresh sketch, one
   ``insert`` of its slices, and one blob row (keys..., sketch, rows_in).
2. **merge** — ``grouped_blobs``: the blob rows are hash-repartitioned on
   the keys (one partition without keys), sorted within partitions by the
   keys, and one ``mapInArrow`` call per partition folds each contiguous
   key run with the kernel's ``decode_and_merge_with``. Runs are cut on the
   exact Arrow key values, so no key is converted to pandas. The sketches
   are mergeable, so the fold may take a group's blobs in any batching, and
   no Arrow round trip is paid per group. The run still open at the end of
   an Arrow batch is carried into the next, and each batch's finished
   groups are emitted at once, so a task holds at most one group, one batch
   and that batch's output rows. A group has at most one partial per scan
   partition, so a skewed key cannot make a hot reducer.

A family plugs in through :class:`SketchAdapter`:

* ``new()`` — an empty kernel sketch (every kernel has
  ``decode_and_merge_with`` and ``encode``);
* ``prepare(values)`` — the per-batch step over the input column (a pandas
  Series), returning a tuple of per-row numpy arrays;
* ``insert(sketch, chunks)`` — adds one group's chunks (tuples of those
  arrays, one per batch, rows in input order) to the sketch.

The slices live until the partition ends: the prepared arrays' bytes per row
(8-9) of one partition, bounded by the Arrow partition size.

Reading a blob back is the same for every family too: ``blob_udf`` makes the
scalar pandas UDF that decodes each blob and applies one kernel method.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DataType,
    DoubleType,
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
                  fold: Callable[[tuple, pd.DataFrame], tuple[bytes, int]]) -> DataFrame:
    """One blob row per group: ``fold(key values, the group's other columns)
    -> (blob, rows_in)``.

    One ``mapInArrow`` call per partition of a key-hash repartition (one
    partition when there are no keys), sorted within partitions by the
    keys: ``fold`` runs once per contiguous key run. Runs are cut on the
    exact Arrow key values, with Spark's grouping equality (null equals
    null, NaN equals NaN, -0.0 equals 0.0), and each output key is its
    group's first Arrow row, so no key passes through pandas. The run still
    open at the end of an Arrow batch is carried into the next, and each
    batch's finished groups are yielded at once, so a task holds at most
    one group, one batch and that batch's output. With no keys the output
    is one row, and no row on empty input."""
    keys = list(keys)
    schema = blob_schema(df, keys)
    values = [c for c in df.columns if c not in keys]

    def close(head: pa.RecordBatch, run: list[pd.DataFrame]) -> tuple[bytes, int]:
        return fold(tuple(c[0].as_py() for c in head.columns),
                    run[0] if len(run) == 1 else pd.concat(run, ignore_index=True))

    def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        head, run = None, []  # the open group: its first row's keys, its rows
        for batch in batches:
            if not batch.num_rows:
                continue
            keyed, rows = batch.select(keys), batch.select(values).to_pandas()
            heads, folded, at = [], [], 0
            for start in _group_starts(keyed, head):
                if start > at:
                    run.append(rows.iloc[at:start])
                if head is not None:
                    heads.append(head)
                    folded.append(close(head, run))
                head, run, at = keyed.slice(start, 1), [], start
            run.append(rows.iloc[at:])
            if heads:
                yield _blob_batch(heads, folded, schema)
        if head is not None:
            yield _blob_batch([head], [close(head, run)], schema)

    by_key = df.repartition(*keys) if keys else df.repartition(1)
    if keys:  # sortWithinPartitions() rejects an empty column list
        by_key = by_key.sortWithinPartitions(*keys)
    return by_key.mapInArrow(merge, schema=schema)


def _group_starts(keyed: pa.RecordBatch, head: pa.RecordBatch | None) -> np.ndarray:
    """Rows of a non-empty key-sorted batch that start a group: each row
    whose keys differ from the row before, and row 0 unless it continues
    the open group whose first row is ``head``."""
    n = keyed.num_rows
    new = np.zeros(n, dtype=bool)
    new[0] = head is None
    for i, col in enumerate(keyed.columns):
        if head is not None:
            col = pa.concat_arrays([head.column(i), col])
        new[n + 1 - len(col):] |= _differs(col)
    return np.flatnonzero(new)


_NAN = object()  # one NaN in a nested key, equal only to itself


def _differs(col: pa.Array) -> np.ndarray:
    """Whether each row after the first differs from the row before it, by
    Spark's grouping equality: null equals null, NaN equals NaN and -0.0
    equals 0.0."""
    a, b = col.slice(1), col.slice(0, len(col) - 1)
    try:
        same = pc.fill_null(pc.equal(a, b), False)
    except pa.ArrowNotImplementedError:  # nested or all-null keys
        vals = [_comparable(v) for v in col.to_pylist()]
        return np.array([x != y for x, y in zip(vals[1:], vals)], dtype=bool)
    if pa.types.is_floating(col.type):
        same = pc.or_(same, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
    same = pc.or_(same, pc.and_(pc.is_null(a), pc.is_null(b)))
    return ~same.to_numpy(zero_copy_only=False)


def _comparable(v):
    """A nested key value as a Python value that compares as Spark groups."""
    if isinstance(v, float):
        return _NAN if v != v else v
    if isinstance(v, (list, tuple)):
        return tuple(map(_comparable, v))
    if isinstance(v, dict):
        return tuple(map(_comparable, v.values()))
    return v


def _blob_batch(heads: list[pa.RecordBatch], folded: list[tuple[bytes, int]],
                schema: StructType) -> pa.RecordBatch:
    """Blob rows from each group's first-row keys and its fold."""
    blobs, rows = zip(*folded)
    keys = [pa.concat_arrays([h.column(i) for h in heads])
            for i in range(heads[0].num_columns)]
    return pa.RecordBatch.from_arrays(
        keys + [pa.array(blobs, pa.binary()), pa.array(rows, pa.int64())],
        names=schema.names)


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

    def fold(key: tuple, pdf: pd.DataFrame) -> tuple[bytes, int]:
        sk = (adapters[key[0]] if with_family else single).new()
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


def blob_udf(name: str, decode: Callable[[bytes], object], fn: Callable,
             return_type: DataType, blobs: int = 1):
    """Scalar pandas UDF ``name`` over blob columns: per row,
    ``fn(sketches..., args...)`` where the first ``blobs`` arguments are
    blobs decoded with ``decode`` and any further ones pass through; a null
    blob gives null. ``name`` is what Spark plans and ``__name__`` show."""
    dtype = "float64" if isinstance(return_type, DoubleType) else None

    def apply(*cols: pd.Series) -> pd.Series:
        return pd.Series(
            [None if any(b is None for b in row[:blobs])
             else fn(*(decode(bytes(b)) for b in row[:blobs]), *row[blobs:])
             for row in zip(*cols)], dtype=dtype)

    apply.__name__ = apply.__qualname__ = name
    return pandas_udf(apply, return_type)
