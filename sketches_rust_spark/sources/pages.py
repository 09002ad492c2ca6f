"""Synthetic Common-Crawl-style ``pages`` table (BASELINE.json input_hint).

Schema: url string, warc_ts timestamp, html binary, text string, lang string.

Deterministic (seed 42, counter-based Philox blocks): row i has byte-identical
``text`` for its ``url`` on every run and at every scale — the per-row
invariant from input_hint. Hosts and languages are zipfian-skewed on purpose
(en ~45%) so the skew-salting path has something real to chew on.

On a real cluster this table would be an Iceberg table; this sandbox has no
Iceberg runtime jar, so the provider materializes parquet with the identical
schema (see pages_table below).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
BLOCK = 100_000  # rows per deterministic generation block

LANGS = np.array(["en", "zh", "es", "de", "fr", "ja", "ru", "pt", "it", "nl"])
_VOCAB_SIZE = 1000
_N_HOSTS = 1000


def _zipf_probs(n: int, s: float = 1.2) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


_LANG_PROBS = _zipf_probs(len(LANGS), 1.6)
_HOST_PROBS = _zipf_probs(_N_HOSTS, 1.2)


def _vocab() -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=SEED))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = []
    for _ in range(_VOCAB_SIZE):
        ln = int(rng.integers(2, 10))
        words.append("".join(rng.choice(letters, size=ln)))
    return np.array(words)


_VOCAB_CACHE: np.ndarray | None = None


def _block_arrays(block_id: int, n: int):
    """Generate one deterministic block of rows [block_id*BLOCK, +n)."""
    global _VOCAB_CACHE
    if _VOCAB_CACHE is None:
        _VOCAB_CACHE = _vocab()
    vocab = _VOCAB_CACHE
    rng = np.random.Generator(np.random.Philox(key=SEED, counter=[0, 0, 0, block_id + 1]))
    base = block_id * BLOCK

    host_ids = rng.choice(_N_HOSTS, size=n, p=_HOST_PROBS)
    lang = rng.choice(LANGS, size=n, p=_LANG_PROBS)
    # log-normal char-scale doc lengths -> token counts (>=1)
    n_chars = rng.lognormal(6.0, 1.2, size=n)
    n_tokens = np.maximum(1, (n_chars / 6.0).astype(np.int64))
    total_tokens = int(n_tokens.sum())
    token_ids = rng.integers(0, _VOCAB_SIZE, size=total_tokens)

    texts = []
    offsets = np.concatenate([[0], np.cumsum(n_tokens)])
    words = vocab[token_ids]
    for i in range(n):
        texts.append(" ".join(words[offsets[i]:offsets[i + 1]]))

    urls = [f"https://host{h}.example.com/doc{base + i}" for i, h in enumerate(host_ids)]
    htmls = [f"<html><body>{t}</body></html>".encode("utf-8") for t in texts]
    # 2025-01-01 epoch seconds + (i mod 30) days + uniform seconds within day
    day = (base + np.arange(n)) % 30
    secs = rng.integers(0, 86400, size=n)
    ts = np.datetime64("2025-01-01T00:00:00") + (day * 86400 + secs).astype("timedelta64[s]")
    return urls, ts, htmls, texts, lang


def generate_pages_parquet(path: str, num_rows: int, row_group_rows: int = 2_048) -> str:
    """Materialize the pages table as parquet at ``path`` (idempotent).

    row_group_rows is deliberately small (~2 MB at the ~1 KB/row fixture
    shape): a parquet ROW GROUP is the unit of scan parallelism — Spark
    assigns each row group to the byte-range split containing its midpoint,
    so a single-row-group file puts every row in ONE task no matter how
    many splits the scan planner makes. The previous 50k default wrote the
    20k-row fixture as one row group, which serialized the CPU-heavy html
    extraction onto a single core (measured: the jvm regex chain ran 3.6 s
    on one task with 31 idle; multi-row-group layout spreads it across all
    scan splits). At crawl scale the same rule holds per 128 MB-1 GB row
    group inside many files — the layout a real writer produces."""
    done_marker = os.path.join(path, "_DONE")
    # marker encodes the LAYOUT, not just the row count: a cache written by
    # an older default must regenerate, or the scan-parallelism fix
    # silently doesn't apply on machines with a pre-existing fixture
    marker_want = f"{num_rows}:rg{row_group_rows}"
    if os.path.exists(done_marker):
        with open(done_marker) as f:
            if f.read().strip() == marker_want:
                return path
        os.remove(done_marker)  # stale layout -> rewrite below
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),  # tz-aware -> Spark TIMESTAMP (input_hint), not TIMESTAMP_NTZ
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    n_blocks = (num_rows + BLOCK - 1) // BLOCK
    out = os.path.join(path, "pages.parquet")
    # Dictionary encoding is useless for near-unique long strings and makes
    # Spark's vectorized parquet reader ~3x slower on this column shape;
    # write text/html as plain pages.
    with pq.ParquetWriter(out, schema, use_dictionary=["url", "lang"]) as writer:
        for b in range(n_blocks):
            n = min(BLOCK, num_rows - b * BLOCK)
            urls, ts, htmls, texts, lang = _block_arrays(b, n)
            batch = pa.record_batch(
                [pa.array(urls), pa.array(ts.astype("datetime64[us]")),
                 pa.array(htmls, type=pa.binary()), pa.array(texts), pa.array(lang)],
                schema=schema,
            )
            writer.write_table(pa.Table.from_batches([batch]),
                               row_group_size=row_group_rows)
    with open(done_marker, "w") as f:
        f.write(marker_want)
    return path


DEFAULT_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".cache")


def pages_parquet_path(num_rows: int, cache_dir: str | None = None) -> str:
    """Deterministic on-disk location of the materialized pages parquet —
    shared by the Spark reader and the DuckDB oracle (read_parquet)."""
    cache = cache_dir or DEFAULT_CACHE
    return os.path.join(cache, f"pages_{num_rows}", "pages.parquet")


def ensure_pages(num_rows: int, cache_dir: str | None = None) -> str:
    """Materialize (idempotent) and return the parquet file path; no Spark
    needed — callable from __spark_entry__ before the driver runs either
    the Spark query or the DuckDB oracle."""
    path = pages_parquet_path(num_rows, cache_dir)
    generate_pages_parquet(os.path.dirname(path), num_rows)
    return path


def pages_table(spark, num_rows: int = 100_000, cache_dir: str | None = None):
    """Table provider: the Iceberg-shaped ``pages`` table as a DataFrame,
    read from its deterministic local parquet. Downstream code is
    format-agnostic DataFrame ops."""
    return spark.read.parquet(ensure_pages(num_rows, cache_dir))
