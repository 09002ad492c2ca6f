"""Deduplication operators for web-scale training-data pipelines.

Five flavors, each with a scale story:

* exact        — md5-fingerprint groupBy, keep min id. One shuffle keyed by
                 the fingerprint; skew-free (hashes are uniform).
* ngram-jaccard— exact token-set Jaccard >= threshold via explode + shared-
                 token join (blocked). Exact but quadratic in worst case;
                 kept as the verifier for the approximate methods.
* MinHash+LSH  — shingle -> base hash -> K permutation min-hashes -> banded
                 bucket join. Shuffles are keyed by (band, band values): a
                 near-dup cluster of size c costs c^2 only within its bucket.
* SimHash      — 64-bit signature from token-hash bit votes; near-dups have
                 small Hamming distance.
* embedding cosine near-dup lives in operators/similarity.py.

Cross-engine reproducibility: the base shingle/token hash is the first 15
hex chars of md5 parsed as int (identical in Spark and DuckDB); MinHash
permutations apply SplitMix64(base XOR seed_i) — integer-exact in both
engines (see functions/sibling_oracle.splitmix64_sql), so LSH buckets and
candidate pairs admit exact oracles.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from ..functions.sibling_oracle import splitmix64_sql
from ..kernel.bits import splitmix64

# deterministic permutation seeds (SplitMix64 stream of 1..K)
def _perm_seeds(k: int) -> np.ndarray:
    return splitmix64(np.arange(1, k + 1, dtype=np.uint64))


# -- exact dedup ------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct text; one hash-keyed shuffle."""
    fp = F.md5(F.col(text_col)).alias("_fp")
    keep = (df.select(F.col(id_col), fp)
            .groupBy("_fp").agg(F.min(id_col).alias(id_col)))
    return df.join(keep, id_col, "leftsemi")


def exact_dup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(n_rows, n_distinct, n_dup_rows) — the dedup dashboard numbers."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias("n_dup_rows"),
    )


# -- shingling + base hash ----------------------------------------------------------

def _shingles(text: Column, k: int) -> Column:
    """Word k-shingles as an array<string> (JVM-side, no UDF)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k,
                  F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
                  ).otherwise(F.array(F.concat_ws(" ", toks)))


def _base_hash(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, as bigint.
    Bit-identical in DuckDB: CAST(concat('0x', substr(md5(x),1,15)) AS UBIGINT).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _py_base_hash(s: str) -> int:
    """Python twin of ``_base_hash`` for the Arrow-batched stages. MUST stay
    bit-identical to the SQL expression and the DuckDB oracles — every
    cross-engine hash in this module routes through these two functions."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def shingle_hashes(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, h): distinct shingle base-hashes per document.

    Runs as ONE Arrow-batched Python stage (guide §4.2): shingling via the
    JVM higher-order expressions (`transform`/`slice`/`concat_ws` per
    shingle) measured ~75 us per shingle of interpreted expression
    evaluation plus a corpus-wide distinct SHUFFLE of every (doc, h) pair —
    the per-doc Python set dedups locally, so the operator has no exchange
    at all. Byte-identical semantics to the expression path (same " "
    split, same k-window join, same md5[:15] base hash — set-equality
    verified at sf0.01/sf0.1 and pinned in tests): sf1.0 shingle table
    16.8 s -> 3.3 s."""
    narrow = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    id_type = narrow.schema["_id"].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids_out: list = []
            hs_out: list = []
            for _id, t in zip(pdf["_id"], pdf["_t"]):
                if t is None:
                    continue
                toks = t.split(" ")
                if len(toks) >= k:
                    ss = {" ".join(toks[i:i + k])
                          for i in range(len(toks) - k + 1)}
                else:
                    ss = {" ".join(toks)}
                for s in ss:
                    ids_out.append(_id)
                    hs_out.append(_py_base_hash(s))
            yield pd.DataFrame({"_id": ids_out,
                                "h": np.array(hs_out, dtype=np.int64)})

    return narrow.mapInPandas(gen, schema=f"_id {id_type}, h long")


# -- MinHash + LSH --------------------------------------------------------------------

def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_perm: int = 16,
                       shingle_k: int = 3) -> DataFrame:
    """(id, sig array<long>): K permutation min-hashes per document.

    Permutation hashing runs as one vectorized numpy pass per partition
    (mapInPandas partial min per doc, then an exact groupBy-min final) — the
    same partial/final shape as the sketch aggregations, so a hot document
    never concentrates on one reducer.
    """
    seeds = _perm_seeds(num_perm)
    sh = shingle_hashes(df, id_col, text_col, shingle_k)

    out_schema = StructType([
        StructField("_id", sh.schema["_id"].dataType, False),
        StructField("sig", ArrayType(LongType()), False),
    ])

    def partial(batches):
        # whole-batch vectorization: ONE splitmix64 pass per batch (K x n)
        # and per-document mins via minimum.reduceat over the sorted group
        # boundaries — no per-document Python loop (web corpora are mostly
        # short docs, where a per-doc loop is interpreter-bound)
        ids_chunks: list[np.ndarray] = []
        min_chunks: list[np.ndarray] = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy()
            h = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
            order = np.argsort(ids, kind="stable")
            ids_s, h_s = ids[order], h[order]
            starts = np.concatenate(
                ([0], np.flatnonzero(ids_s[1:] != ids_s[:-1]) + 1))
            perm = splitmix64(h_s[None, :] ^ seeds[:, None])
            ids_chunks.append(ids_s[starts])
            min_chunks.append(np.minimum.reduceat(perm, starts, axis=1))
        if ids_chunks:
            # a document can span batches: fold the per-batch mins with one
            # more sort + reduceat instead of a dict loop
            ids_all = np.concatenate(ids_chunks)
            mins_all = np.concatenate(min_chunks, axis=1)
            order = np.argsort(ids_all, kind="stable")
            ids_all, mins_all = ids_all[order], mins_all[:, order]
            starts = np.concatenate(
                ([0], np.flatnonzero(ids_all[1:] != ids_all[:-1]) + 1))
            final = np.minimum.reduceat(mins_all, starts, axis=1)
            # flip the sign bit so int64 ordering == uint64 ordering: the
            # JVM-side final F.min then selects the same element the
            # unsigned numpy/DuckDB min would
            flipped = (final ^ np.uint64(1 << 63)).view(np.int64)
            yield pd.DataFrame({
                "_id": ids_all[starts],
                "sig": flipped.T.tolist(),
            })

    partials = sh.mapInPandas(partial, schema=out_schema)
    # exact final min per permutation position
    return (partials
            .select("_id", F.posexplode("sig").alias("perm", "mh"))
            .groupBy("_id", "perm").agg(F.min("mh").alias("mh"))
            .groupBy("_id")
            .agg(F.array_sort(F.collect_list(F.struct("perm", "mh"))).alias("_s"))
            .select("_id", F.transform("_s", lambda s: s["mh"]).alias("sig")))


def lsh_candidate_pairs(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any full band of the
    signature. Join keyed on (band, r minhash values) — bucket-local
    quadratic cost only."""
    r = rows_per_band
    banded = signatures.select(
        "_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(b.alias("band"), F.slice("sig", b * r + 1, r).alias("vals")),
        )).alias("bv"),
    ).select("_id", F.col("bv.band").alias("band"), F.col("bv.vals").alias("vals"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.vals") == F.col("b.vals"))
                   & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .distinct())


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, est): fraction of matching signature positions."""
    sa = signatures.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        lambda v: v == 1))
    return joined.select(
        "id_a", "id_b",
        F.round(matches / F.size("sig_a"), 6).alias("est"))


# -- exact n-gram Jaccard ---------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", shingle_k: int = 3,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = None,
                        shingles: DataFrame | None = None,
                        materialize: bool = False) -> DataFrame:
    """Exact shingle-set Jaccard >= threshold via shared-shingle join.

    max_shingle_df: doc-frequency cap — shingles appearing in more than this
    many documents are dropped from every document's set BEFORE sizing and
    joining (Jaccard is then computed over the capped sets, consistently on
    both sides of the ratio). The shared-shingle self-join is quadratic in
    per-shingle doc frequency, so one stop-phrase shingle shared by 10^6
    docs means 10^12 join rows without the cap; a shingle shared by more
    than N documents carries no near-dup signal anyway. None = exact
    (the verification configuration for the approximate methods — test
    scale only).

    shingles: precomputed (_id, h) per-doc-distinct shingle table (e.g. a
    checkpointed shingle_hashes output shared by several configs).
    materialize: localCheckpoint the (possibly df-capped) shingle table
    before its three uses below (sizes + both self-join sides) — without it
    each use re-derives the explode+distinct pipeline."""
    sh = (shingles if shingles is not None
          else shingle_hashes(df, id_col, text_col, shingle_k))
    if max_shingle_df is not None:
        # annotate each (doc, shingle) row with the shingle's doc frequency
        # via a window over h: ONE shuffle keyed by h (which the self-join
        # needs anyway) and one pass — no second shingle explosion or
        # anti-join scan
        from pyspark.sql import Window
        dfreq = F.count(F.lit(1)).over(Window.partitionBy("h"))
        sh = (sh.withColumn("_df", dfreq)
              .where(F.col("_df") <= max_shingle_df)
              .drop("_df"))
    if materialize:
        sh = sh.localCheckpoint()
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a._id") < F.col("b._id")))
             .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    na = sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("nb"))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# -- benchmark contamination (eval-set leakage) -----------------------------------------------

def contamination_pairs(corpus: DataFrame, evalset: DataFrame,
                        min_common: int = 4,
                        corpus_id: str = "doc_id", eval_id: str = "item_id",
                        text_col: str = "text", shingle_k: int = 3,
                        max_eval_df: int | None = None) -> DataFrame:
    """Eval-set leakage detection: corpus docs sharing >= min_common
    distinct k-shingles with any eval item, as (doc_id, item_id, n_common).

    Scale shape: the eval side (thousands of items) is exploded to shingle
    hashes and BROADCAST; the corpus side (the 10^12-doc table) streams
    through a broadcast hash join — no shuffle of corpus rows. The only
    exchange is the (doc, item) count aggregation, whose size is bounded by
    actual shingle matches, and partial aggregation runs map-side first.

    max_eval_df: optional doc-frequency cap on the EVAL shingle set (a
    stop-shingle present in many eval items multiplies every matching
    corpus row by its eval fan-out; rare shingles carry the leakage
    signal). Cheap — computed on the small side before broadcast."""
    # shingle_hashes dedups per document INSIDE its Python stage (no
    # corpus-wide distinct shuffle — round 6), so the corpus side reaches
    # the broadcast join already per-doc-distinct with zero exchanges, and
    # the count after the join is exact with plain count(1); the only
    # exchange in the whole plan carries matched (doc, item) partial counts.
    c_sh = shingle_hashes(corpus, corpus_id, text_col, shingle_k
                          ).withColumnRenamed("_id", "doc_id")
    e_sh = shingle_hashes(evalset, eval_id, text_col, shingle_k)
    if max_eval_df is not None:
        from pyspark.sql import Window
        dfreq = F.count(F.lit(1)).over(Window.partitionBy("h"))
        e_sh = (e_sh.withColumn("_df", dfreq)
                .where(F.col("_df") <= max_eval_df).drop("_df"))
    joined = c_sh.join(
        F.broadcast(e_sh.withColumnRenamed("_id", "item_id")), "h")
    return (joined.groupBy("doc_id", "item_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .where(F.col("n_common") >= min_common))


def contamination_oracle_sql(corpus_table: str, eval_table: str,
                             min_common: int,
                             corpus_id: str = "doc_id",
                             eval_id: str = "item_id",
                             text_col: str = "text", shingle_k: int = 3,
                             max_eval_df: int | None = None) -> str:
    """Exact shingle-intersection counts in DuckDB (same 60-bit md5 base
    hash, distinct per document on both sides).

    ``corpus_table``/``eval_table`` are trusted SQL fragments (table names
    or subqueries), the same convention as every oracle builder's ``table``
    arg — they are NOT escaped; don't pass user-controlled strings."""
    e_src = "shh_e"
    if max_eval_df is not None:
        e_src = "capped_e"
        cap = f""",
capped_e AS (
  SELECT _id, h FROM shh_e
  WHERE h IN (SELECT h FROM shh_e GROUP BY h HAVING count(*) <= {max_eval_df})
)"""
    else:
        cap = ""
    return f"""
WITH {_duck_shingle_hashes(corpus_table, corpus_id, text_col, shingle_k, suffix='_c')},
{_duck_shingle_hashes(eval_table, eval_id, text_col, shingle_k, suffix='_e').lstrip()}{cap}
SELECT c._id AS doc_id, e._id AS item_id,
       CAST(count(*) AS BIGINT) AS n_common
FROM shh_c c JOIN {e_src} e USING (h)
GROUP BY 1, 2
HAVING count(*) >= {min_common}
"""


# -- SimHash -------------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 64) -> DataFrame:
    """(id, simhash long): sign of per-bit votes over distinct token hashes.

    ZERO shuffles: each input row carries its whole document, so one
    Arrow-batched Python stage (guide §4.2) tokenizes (same " " split as
    the expression path), hashes (same md5[:15] 60-bit base hash), dedups
    per doc with a local set, and bit-votes — all without the
    explode -> groupBy(collect_set) exchange the previous shape paid to
    land each document's distinct hashes on one reducer (they already ARE
    on one row). The corpus-wide (doc, token-hash) shuffle this removes is
    the operator's only data-scale exchange; the bit-vote stays a single
    vectorized numpy pass per batch (unpack hashes to a bit matrix,
    ``add.reduceat`` over doc boundaries, sign), no per-doc numpy calls.
    Hash-set semantics identical to collect_set(h) (a set of the SAME
    60-bit hashes); NULL text drops the row exactly like explode(split(
    NULL)). Result is exact, hence partition-invariant (pinned in
    tests/test_pipeline_ops.py).

    Precondition: one row per id (the corpus contract of every caller —
    documents tables and shard inputs are id-unique). Rows SHARING an id
    would previously have had their token hashes unioned by the
    collect_set aggregate; this stage emits one signature per row.
    """
    narrow = df.select(F.col(id_col).alias("_id"),
                       F.col(text_col).alias("_t"))
    out_schema = StructType([
        StructField("_id", narrow.schema["_id"].dataType, False),
        StructField("simhash", LongType(), False),
    ])

    def stage(batches):
        bit_range = np.arange(bits, dtype=np.uint64)[None, :]
        n_low = min(bits, 63)  # bit 63 is the int64 sign bit, handled apart
        shifts = np.arange(n_low, dtype=np.int64)[None, :]
        for pdf in batches:
            ids_out: list = []
            lens: list = []
            chunks: list = []
            for _id, t in zip(pdf["_id"], pdf["_t"]):
                if t is None:
                    continue
                # hash each DISTINCT token once (stopword-heavy text
                # repeats tokens many times; the hash set is identical)
                hs = {_py_base_hash(tok) for tok in set(t.split(" "))}
                ids_out.append(_id)
                lens.append(len(hs))
                chunks.append(np.fromiter(hs, dtype=np.int64, count=len(hs)))
            if not ids_out:
                continue
            flat = np.concatenate(chunks).view(np.uint64)
            bits_m = ((flat[:, None] >> bit_range) & np.uint64(1)).astype(np.int64)
            contrib = 2 * bits_m - 1  # +1 / -1 votes
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            votes = np.add.reduceat(contrib, starts, axis=0)
            pos = votes > 0
            sh = (pos[:, :n_low].astype(np.int64) << shifts).sum(axis=1)
            if bits > 63:
                # sign bit (always-negative votes with the 60-bit base hash,
                # but handle it anyway)
                sh = np.where(pos[:, 63],
                              sh + np.int64(-9223372036854775808), sh)
            yield pd.DataFrame({"_id": np.asarray(ids_out), "simhash": sh})

    return narrow.mapInPandas(stage, schema=out_schema)


def simhash_candidates(signatures: DataFrame, max_hamming: int = 3,
                       n_blocks: int | None = None) -> DataFrame:
    """Distinct candidate pairs from the blocked self-join, BEFORE the exact
    Hamming filter: (id_a, id_b, sh_a, sh_b). Exposed separately so the
    candidate waste of a blocking configuration (candidates per true pair —
    THE knob-tuning metric at scale) is directly measurable."""
    # materialize the signatures before the self-join: both join sides (and
    # the combo-key explode feeding each) otherwise re-derive the FULL
    # signature pipeline — text tokenize -> collect_set aggregate -> Python
    # bit-vote stage — once per side. The checkpoint is 16 bytes/doc (the
    # same table the incremental path persists to parquet). Interleaved A/B
    # at sf0.1/local[32], 4 rounds each: pairs median 4.47 s vs 5.10 s and
    # keep_canonical 5.83 s vs 6.88 s in favor of the checkpoint — and at
    # scale it halves the dominant CPU cost (one signature pass, not two).
    signatures = signatures.localCheckpoint()
    keyed, packable = _simhash_combo_keyed(signatures, max_hamming, n_blocks)
    a, b = keyed.alias("a"), keyed.alias("b")
    same_key = (F.col("a.v") == F.col("b.v")) if packable else (
        (F.col("a.q") == F.col("b.q")) & (F.col("a.v") == F.col("b.v")))
    return (a.join(b, same_key & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
            .distinct())


def _simhash_combo_keyed(signatures: DataFrame, max_hamming: int,
                         n_blocks: int | None) -> tuple[DataFrame, bool]:
    """(_id, simhash, q, v): one row per Manku combo key per signature.
    Shared by the self-join (simhash_candidates) and the incremental
    shard-vs-persisted-corpus join (incremental_simhash_filter)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if not max_hamming + 1 <= n_blocks <= 64:
        raise ValueError(
            f"n_blocks must be in [max_hamming + 1, 64], got {n_blocks}")
    import itertools

    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0)
              for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]

    def block_val(q: int) -> Column:
        shifted = F.shiftrightunsigned("simhash", offs[q])
        if widths[q] >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << widths[q]) - 1))

    blocks = [block_val(q) for q in range(n_blocks)]
    agree = n_blocks - max_hamming
    combos = list(itertools.combinations(range(n_blocks), agree))

    # pack (combo index, combo block values) into ONE long whenever it fits
    # (combo-id bits + sum of member block widths <= 63): a scalar bigint
    # join key hashes/compares far faster than an array<bigint>, and the
    # combo id folded into the key removes the separate equality column.
    # The combo id sits at a FIXED offset (the max width-sum over all
    # combos), so two combos with different width-sums can never collide
    # on the packed key (64 % n_blocks != 0 makes width-sums differ).
    combo_id_bits = max(1, (len(combos) - 1).bit_length())
    max_width_sum = max(sum(widths[b] for b in combo) for combo in combos)
    packable = combo_id_bits + max_width_sum <= 63

    def combo_key(ci: int, combo) -> Column:
        if packable:
            key = F.lit(0).cast("long")
            for b in combo:
                key = F.shiftleft(key, widths[b]).bitwiseOR(blocks[b])
            return key.bitwiseOR(F.lit(ci << max_width_sum).cast("long"))
        if agree == 1:  # scalar long key joins faster than a 1-array
            return blocks[combo[0]]
        return F.array(*[blocks[b] for b in combo])

    keyed = signatures.select(
        "_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(ci).alias("q"), combo_key(ci, combo).alias("v"))
            for ci, combo in enumerate(combos)
        ])).alias("qv"),
    ).select("_id", "simhash", F.col("qv.q").alias("q"), F.col("qv.v").alias("v"))
    return keyed, packable


def incremental_simhash_filter(new_docs: DataFrame, sig_table: DataFrame,
                               max_hamming: int = 3,
                               n_blocks: int | None = 6,
                               id_col: str = "doc_id",
                               text_col: str = "text") -> DataFrame:
    """Daily-ingest near-dup dedup for TEXT against a PERSISTED simhash
    signature table: keep only new docs with no corpus signature within
    ``max_hamming``. Returns the surviving (doc_id) rows.

    The scale property: the corpus TEXT is never rescanned — ``sig_table``
    is the persisted (_id, simhash) table (16 bytes/doc vs KBs of text;
    ~3 orders of magnitude less I/O at web scale), and only the NEW shard
    pays a text pass to compute its signatures. Both sides explode the same
    Manku combo keys, so the join is bucket-local exactly like the batch
    self-join; pigeonhole keeps it lossless."""
    new_sigs = simhash_signatures(new_docs, id_col=id_col, text_col=text_col)
    ka, packable = _simhash_combo_keyed(new_sigs, max_hamming, n_blocks)
    kb, _ = _simhash_combo_keyed(sig_table, max_hamming, n_blocks)
    a, b = ka.alias("a"), kb.alias("b")
    same_key = (F.col("a.v") == F.col("b.v")) if packable else (
        (F.col("a.q") == F.col("b.q")) & (F.col("a.v") == F.col("b.v")))
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    dup_ids = (a.join(b, same_key & (F.col("a._id") != F.col("b._id")))
               .where(hamming <= max_hamming)
               .select(F.col("a._id").alias(id_col)).distinct())
    # survivors come from the SIGNATURE set (not new_docs): a doc with no
    # tokens gets no signature and is out of scope on both engine and
    # oracle sides — basing survivors on new_docs would let such a doc
    # "survive" here while the oracle never sees it
    return (new_sigs.select(F.col("_id").cast("long").alias(id_col))
            .join(dup_ids, id_col, "left_anti"))


def incremental_simhash_oracle_sql(table: str, new_pred: str,
                                   max_hamming: int,
                                   id_col: str = "doc_id",
                                   text_col: str = "text") -> str:
    """Exact replica over one base table split by ``new_pred``: a new doc
    survives iff no OLD doc's simhash lies within max_hamming."""
    corpus = f"(SELECT * FROM {table} WHERE NOT ({new_pred}))"
    shard = f"(SELECT * FROM {table} WHERE {new_pred})"
    return f"""
WITH {_duck_simhash_sig(corpus, id_col, text_col, suffix='_c').lstrip()},
{_duck_simhash_sig(shard, id_col, text_col, suffix='_n').lstrip()},
dups AS (
  SELECT DISTINCT n._id
  FROM sig_n n JOIN sig_c c
    ON n._id != c._id
   AND bit_count(xor(n.simhash, c.simhash)) <= {max_hamming}
)
SELECT _id AS {id_col} FROM sig_n
WHERE _id NOT IN (SELECT _id FROM dups)
"""


def _simhash_sig_pairs(sigs: DataFrame, max_hamming: int,
                       n_blocks: int | None) -> DataFrame:
    """Distinct qualifying SIGNATURE-value pairs (_sga < _sgb, hamming):
    the blocked self-join over distinct signature values. Shared by
    simhash_near_pairs (which expands them to doc pairs) and the collapsed
    connected-components path of keep-canonical dedup (which clusters the
    signature graph directly)."""
    usig = (sigs.select(F.col("simhash").alias("_id"), "simhash").distinct())
    keyed, packable = _simhash_combo_keyed(usig, max_hamming, n_blocks)
    a, b = keyed.alias("a"), keyed.alias("b")
    same_key = (F.col("a.v") == F.col("b.v")) if packable else (
        (F.col("a.q") == F.col("b.q")) & (F.col("a.v") == F.col("b.v")))
    sig_hamming = F.bit_count(F.col("_sga").bitwiseXOR(F.col("_sgb")))
    return (a.join(b, same_key & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("_sga"),
                    F.col("b._id").alias("_sgb"))
            .distinct()
            .withColumn("hamming", sig_hamming)
            .where(F.col("hamming") <= max_hamming))


def simhash_near_pairs(signatures: DataFrame, max_hamming: int = 3,
                       n_blocks: int | None = None) -> DataFrame:
    """Candidate pairs with Hamming distance <= max_hamming, blocked by
    combinations of contiguous bit spans (the multi-block scheme of Manku,
    Jain & Das Sarma, WWW'07).

    With the signature split into n_blocks spans, a pair within distance d
    differs in at most d blocks, so at least (n_blocks - d) blocks agree —
    therefore SOME combination of (n_blocks - d) blocks agrees exactly
    (pigeonhole), and joining on every such combination finds every
    qualifying pair. n_blocks = d + 1 joins on single blocks (cheapest key
    fan-out: d+1 rows/doc, but 16-bit buckets that go quadratic at 10^9+
    docs); LARGER n_blocks widens the join key (e.g. n_blocks=6, d=3 ->
    C(6,3)=20 keys/doc of ~32 bits), cutting RANDOM per-bucket collisions
    by ~2^16. Measured on the dup-heavy sf0.1 fixture: 1.89M -> 735k
    candidates (2.6x; the residual is true near-dup pairs, which no
    lossless blocking can avoid) — the win over single-block grows with
    corpus size as 16-bit buckets saturate.

    Round 6 shape — collapse identical signatures FIRST: the blocked
    self-join runs over DISTINCT signature values (each standing as its own
    id), and qualifying signature pairs expand back to doc pairs through
    two membership joins, plus a same-signature intra-group join for the
    Hamming-0 pairs. Losslessness: a doc pair qualifies iff its signature
    pair does; a cross-group doc pair descends from exactly one signature
    pair and an intra-group pair from exactly one signature, so the union
    is exact and duplicate-free with NO doc-level distinct. Wins vs the
    doc-level join: (a) the combo-key explode and the candidate distinct
    shrink by the duplication factor and to 16-byte (sig, sig) rows —
    exact-duplicate docs otherwise re-join per copy and repeat on up to
    C(n_blocks, agree) combo keys; (b) the expansion joins broadcast the
    16-byte/doc membership table, so no candidate-scale rows ever shuffle.
    (A filter-before-distinct variant of the doc-level join was also
    measured and rejected: med 78 vs 73 s at sf1.0.)"""
    sigs = signatures.localCheckpoint()
    sig_pairs = _simhash_sig_pairs(sigs, max_hamming, n_blocks)
    mem_a = sigs.select(F.col("simhash").alias("_sga"),
                        F.col("_id").alias("_ida"))
    mem_b = sigs.select(F.col("simhash").alias("_sgb"),
                        F.col("_id").alias("_idb"))
    # no broadcast hint: the membership table is corpus-sized (16 B/doc) —
    # AQE broadcasts it while it fits and falls back to a shuffled join of
    # 16-byte rows beyond that, both fine
    cross = (sig_pairs.join(mem_a, "_sga").join(mem_b, "_sgb")
             .select(F.least("_ida", "_idb").alias("id_a"),
                     F.greatest("_ida", "_idb").alias("id_b"),
                     "hamming"))
    x, y = sigs.alias("x"), sigs.alias("y")
    intra = (x.join(y, (F.col("x.simhash") == F.col("y.simhash"))
                    & (F.col("x._id") < F.col("y._id")))
             .select(F.col("x._id").alias("id_a"),
                     F.col("y._id").alias("id_b"),
                     F.bit_count(F.col("x.simhash")
                                 .bitwiseXOR(F.col("y.simhash")))
                     .alias("hamming")))
    return cross.unionByName(intra)


# -- near-dup clustering + canonical selection ------------------------------------------------

def _local_union_find(pdf: pd.DataFrame) -> list[tuple]:
    """Exact min-label connected components of a (src, dst) edge table on
    the driver: [(node, component_min)] for every node that appears in any
    edge. The min root always stays the root, so the label equals the
    component minimum — the same fixpoint the distributed loop converges
    to."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


def near_dup_clusters(pairs: DataFrame, max_iters: int = 20,
                      stats: dict | None = None,
                      local_edge_cap: int = 500_000) -> DataFrame:
    """Connected components over near-dup pairs: (_id, cluster) where
    cluster = min doc id in the component.

    Two phases, both lineage-truncated per round (localCheckpoint: a nested
    self-join plan grows exponentially with rounds — driver OOM just
    *printing* it by ~round 15, unbounded recompute on failure at scale):

    1. one **min-star contraction**: every node merges into the minimum of
       its closed neighborhood and edges are rewritten between the
       representatives. Near-dup graphs are clique-heavy (a duplicated
       template = one clique), and a clique contracts to a single node in
       this one step — measured at sf0.1 it collapses 543k directed edges
       to 3.7k.
    2. min-label propagation WITH pointer jumping on the contracted graph:
       new = min(label, min over neighbors' labels, label(label)). The
       label(label) hop doubles the propagation distance per round, so
       convergence is O(log diameter) rounds (cf. the contraction/hooking
       CC family, Kiveris et al., SoCC'14) instead of O(diameter) — at
       web scale a chained component of length 10^6 is ~20 rounds, not
       10^6. Each round is three shuffles bounded by |contracted graph|.

    When the graph is small (<= ``local_edge_cap`` directed edges,
    default 500k ~= 8 MB of (long, long) rows — broadcast-relation
    territory), the components are solved exactly on the driver with
    union-find instead of the shuffle machinery — the same measured-size
    strategy choice a broadcast join makes, NOT a local-mode tune. Two
    gates: (1) on the INPUT edge count (one scan of the persisted edge set,
    which the contraction would materialize anyway) — a hit skips
    contraction AND loop outright; (2) after contraction, on the CONTRACTED
    edge count (covers huge inputs whose clique-heavy remainder is tiny).
    Both counts move no rows to the driver when the graph is big; at real
    scale both gates miss and the distributed path below runs unchanged.
    All paths are exact, so the result is identical.

    Stops early at fixpoint; raises on non-convergence rather than silently
    splitting components (dedup_keep_canonical would retain duplicates) —
    the driver-side path cannot fail to converge (union-find is exact
    regardless of max_iters).

    stats: optional dict filled with {'input_edges', 'contracted_edges',
    'rounds', 'changed_per_round'} — extra count() actions, so pass it only
    when instrumenting (adversarial-skew evidence lives in
    tests/test_pipeline_ops.py, scripts/cc_scale_point.py and
    BENCH/BASELINE.md).

    local_edge_cap: the edge count up to which the components are solved
    locally with union-find; 0 turns both gates off and always runs the
    distributed loop."""
    # The full (bidirectional) edge set is the ONE data-scale intermediate
    # of this operator: persist it (spillable MEMORY_AND_DISK) rather than
    # localCheckpoint — a checkpoint copies every UnsafeRow into the
    # block-manager memory store without a graceful spill path, and at
    # sf1.0 (50k docs, 54.9M directed edges on a clique-heavy near-dup
    # graph) that copy OOMed a 16 GB heap; worse, localCheckpoint blocks
    # from one run leak until driver GC, so a re-measured query compounds
    # the pressure. persist spills under memory pressure and is freed
    # DETERMINISTICALLY below once both contraction products exist.
    from pyspark import StorageLevel
    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
             ).persist(StorageLevel.MEMORY_AND_DISK)  # blocked join runs ONCE
    if local_edge_cap > 0:
        # early gate on the INPUT graph: counting the persisted edge set
        # costs one cache scan (the contraction's groupBy would materialize
        # the same persist anyway), and when the whole pair graph fits the
        # local cap the contraction + loop machinery is skipped outright
        n_edges = edges.count()
        if stats is not None:
            stats["input_edges"] = n_edges
        if n_edges <= local_edge_cap:
            sol = _local_union_find(edges.toPandas())
            edges.unpersist()
            if stats is not None:
                stats.update({"contracted_edges": None, "rounds": 0,
                              "changed_per_round": [], "local_solve": True})
            id_t = edges.schema["src"].dataType
            schema = StructType([StructField("_id", id_t, False),
                                 StructField("cluster", id_t, False)])
            return pairs.sparkSession.createDataFrame(sol, schema)
    # phase 1: contract v -> min(closed neighborhood); every node appears as
    # src (edges are bidirectional), so m covers every node exactly once
    m = (edges.groupBy("src").agg(F.min("dst").alias("_mn"))
         .select(F.col("src").alias("_id"),
                 F.least("_mn", F.col("_id")).alias("rep"))
         ).localCheckpoint()
    ms = m.select(F.col("_id").alias("src"), F.col("rep").alias("_ts"))
    md = m.select(F.col("_id").alias("dst"), F.col("rep").alias("_td"))
    e2 = (edges.join(ms, "src").join(md, "dst")
          .select(F.col("_ts").alias("src"), F.col("_td").alias("dst"))
          .where(F.col("src") != F.col("dst"))
          .distinct()).localCheckpoint()
    if stats is not None:
        if "input_edges" not in stats:
            stats["input_edges"] = edges.count()
        stats["contracted_edges"] = e2.count()
        stats["rounds"] = 0
        stats["changed_per_round"] = []
    # m and e2 are materialized (eager checkpoints) and nothing below reads
    # the raw edges again — release the data-scale blocks NOW, not at GC
    edges.unpersist()
    # phase 2a: size-gated exact local solve of the CONTRACTED graph (see
    # docstring; covers input > cap but contracted remainder <= cap). The
    # gate is a count() of the already-checkpointed contracted edges (a
    # metadata-cheap job — no row ever reaches the driver when the graph is
    # big), and the fetch when it fits is one Arrow toPandas.
    if local_edge_cap > 0:
        n_e2 = (stats["contracted_edges"] if stats is not None
                else e2.count())
        if n_e2 <= local_edge_cap:
            sol = _local_union_find(e2.toPandas())
            if stats is not None:
                stats["local_solve"] = True
            id_t = e2.schema["src"].dataType
            schema = StructType([StructField("_rep2", id_t, False),
                                 StructField("_fc", id_t, False)])
            final = pairs.sparkSession.createDataFrame(sol, schema)
            return (m.join(final, m.rep == final._rep2, "left")
                    .select("_id", F.coalesce("_fc", "rep").alias("cluster")))
    # phase 2b: pointer-jumping min-label loop over the contracted graph
    labels = (e2.select(F.col("src").alias("_id")).distinct()
              .withColumn("cluster", F.col("_id"))).localCheckpoint()
    changed = labels.count()  # nonzero iff any contracted edges remain
    # scale-adaptive loop parallelism: every round's joins/aggregates touch
    # only the CONTRACTED graph, whose node count we just measured — size
    # the loop's partitioning from it (~1M nodes/partition) instead of
    # inheriting the scan-sized session shuffle partitioning. On a
    # clique-heavy near-dup graph the contracted remainder is tiny (3.7k
    # edges at sf0.1) and the loop's cost is per-round fixed overhead:
    # measured 6.9 s -> ~4 s for the full clusters build with this coalesce.
    # At web scale (10^9+ contracted nodes) the derived count grows
    # proportionally, so no round is ever single-task when the data is big.
    loop_parts = max(1, -(-changed // 1_000_000))
    if loop_parts < e2.rdd.getNumPartitions():
        e2 = e2.coalesce(loop_parts)
    labels = labels.coalesce(loop_parts)
    for _ in range(max_iters):
        if changed == 0:
            break
        if stats is not None:
            stats["rounds"] += 1
        nmin = (e2.join(labels, e2.dst == labels._id)
                .groupBy("src").agg(F.min("cluster").alias("nmin")))
        jump = labels.select(F.col("_id").alias("_jid"),
                             F.col("cluster").alias("_jc"))
        new_labels = (labels.join(nmin, labels._id == nmin.src, "left")
                      .join(jump, labels.cluster == jump._jid, "left")
                      .select(labels._id,
                              F.least("cluster", "nmin", "_jc").alias("cluster"),
                              (F.least("nmin", "_jc") < F.col("cluster")
                               ).alias("_chg"))
                      ).coalesce(loop_parts).localCheckpoint()
        changed = new_labels.where(F.col("_chg")).count()
        if stats is not None:
            stats["changed_per_round"].append(changed)
        labels.unpersist()
        labels = new_labels.drop("_chg")
    if changed != 0:
        raise RuntimeError(
            f"near_dup_clusters did not converge within max_iters="
            f"{max_iters} (labels still changing); the component "
            f"diameter exceeds the cap — raise max_iters")
    # compose: original node -> contraction rep -> final label (isolated
    # reps — clique minima — are absent from the loop; they label themselves)
    final = labels.select(F.col("_id").alias("_rep2"),
                          F.col("cluster").alias("_fc"))
    return (m.join(final, m.rep == final._rep2, "left")
            .select("_id", F.coalesce("_fc", "rep").alias("cluster")))


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Drop every near-dup except the canonical (minimum-id) member of each
    cluster; rows in no cluster are kept unchanged."""
    clusters = near_dup_clusters(pairs)
    drop = (clusters.where(F.col("_id") != F.col("cluster"))
            .select(F.col("_id").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


def dedup_keep_canonical_simhash(df: DataFrame, max_hamming: int = 3,
                                 n_blocks: int | None = 6,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> DataFrame:
    """simhash near-dup removal with connected components run on the
    COLLAPSED signature graph (round 6).

    Equivalence to `dedup_keep_canonical(df, simhash_near_pairs(...))`:
    docs sharing a signature are pairwise Hamming-0 near-dups, so every
    same-signature group is a clique, and a doc pair qualifies iff its
    signature pair does — therefore the connected components of the DOC
    pair graph are exactly the components of the SIGNATURE graph with each
    signature node expanded to its member docs. Clustering signatures
    (nodes = distinct signatures, edges = qualifying signature pairs) and
    keeping the minimum doc id per expanded component yields the identical
    kept set (result-equality asserted in tests and by the driver oracle)
    without ever materializing the quadratic doc-pair expansion: at sf1.0
    the doc graph is 54.9M directed edges, the signature graph ~2.4x
    smaller, and the C(group, 2) intra-clique pairs vanish entirely."""
    sigs = simhash_signatures(df, id_col=id_col, text_col=text_col
                              ).localCheckpoint()
    sig_pairs = _simhash_sig_pairs(sigs, max_hamming, n_blocks)
    sig_clusters = near_dup_clusters(
        sig_pairs.select(F.col("_sga").alias("id_a"),
                         F.col("_sgb").alias("id_b")))
    # doc -> its signature's cluster label (own signature when unpaired);
    # simhash_signatures emits (_id, simhash) and near_dup_clusters
    # (_id, cluster) — rename the cluster side to keep references unambiguous
    sig_cl = sig_clusters.select(F.col("_id").alias("_csig"), "cluster")
    doc_cl = (sigs.join(sig_cl, sigs.simhash == sig_cl._csig, "left")
              .select(F.col("_id").alias("_did"),
                      F.coalesce("cluster", "simhash").alias("_cl")))
    canon = doc_cl.groupBy("_cl").agg(F.min("_did").alias("_keep"))
    drop = (doc_cl.join(canon, "_cl")
            .where(F.col("_did") != F.col("_keep"))
            .select(F.col("_did").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


# -- oracles ----------------------------------------------------------------------------------

def exact_dup_stats_oracle_sql(table: str, text_col: str = "text") -> str:
    return f"""
SELECT count(*) AS n_rows,
       count(DISTINCT md5({text_col})) AS n_distinct,
       count(*) - count(DISTINCT md5({text_col})) AS n_dup_rows
FROM {table}
"""


def _duck_shingle_hashes(table: str, id_col: str, text_col: str, k: int,
                         suffix: str = "") -> str:
    """DuckDB CTE text for per-doc distinct shingle base-hashes. ``suffix``
    renames the CTEs (toks/sh/shh -> toks<suffix>/...) so two instances can
    coexist in one query (e.g. corpus + evalset)."""
    return f"""
toks{suffix} AS (SELECT {id_col} AS _id, string_split({text_col}, ' ') AS t FROM {table}),
sh{suffix} AS (
  SELECT _id,
         unnest(CASE WHEN len(t) >= {k}
                THEN list_transform(range(1, len(t) - {k} + 2),
                                    i -> array_to_string(t[i:i+{k - 1}], ' '))
                ELSE [array_to_string(t, ' ')] END) AS s
  FROM toks{suffix}
),
shh{suffix} AS (
  SELECT DISTINCT _id,
         CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT) AS h
  FROM sh{suffix}
)"""


def ngram_jaccard_oracle_sql(table: str, id_col: str, text_col: str,
                             shingle_k: int, threshold: float,
                             max_shingle_df: int | None = None) -> str:
    if max_shingle_df is not None:
        capped = f""",
capped AS (
  SELECT _id, h FROM shh
  WHERE h IN (SELECT h FROM shh GROUP BY h HAVING count(*) <= {max_shingle_df})
)"""
        src = "capped"
    else:
        capped = ""
        src = "shh"
    return f"""
WITH {_duck_shingle_hashes(table, id_col, text_col, shingle_k)}{capped},
sizes AS (SELECT _id, count(*) AS n FROM {src} GROUP BY _id),
inter AS (
  SELECT a._id AS id_a, b._id AS id_b, count(*) AS i
  FROM {src} a JOIN {src} b ON a.h = b.h AND a._id < b._id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i::DOUBLE / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na._id = id_a
JOIN sizes nb ON nb._id = id_b
WHERE i::DOUBLE / (na.n + nb.n - i) >= {threshold!r}
"""


def _duck_simhash_sig(table: str, id_col: str, text_col: str,
                      suffix: str = "") -> str:
    """DuckDB CTE text computing the exact simhash signature per document
    (distinct-token md5 base hashes, per-bit +-1 votes, positive-vote bits).
    The base hash is 60-bit, so bits 60..63 always vote negative and the
    signed BIGINT signature never wraps. ``suffix`` renames the CTEs so two
    instances coexist (incremental shard vs corpus)."""
    return f"""
thh{suffix} AS (
  SELECT DISTINCT {id_col} AS _id,
         CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT) AS h
  FROM (SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS t FROM {table})
),
votes{suffix} AS (
  SELECT _id, bb.bit AS bit,
         sum(CASE WHEN (h >> bb.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM thh{suffix}, (SELECT unnest(range(0, 64)) AS bit) bb
  GROUP BY _id, bb.bit
),
sig{suffix} AS (
  SELECT _id,
         CAST(sum(CASE WHEN v > 0 AND bit < 63
                       THEN CAST(1 AS BIGINT) << CAST(bit AS INT) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes{suffix} GROUP BY _id
)"""


def simhash_pairs_oracle_sql(table: str, id_col: str, text_col: str,
                             max_hamming: int) -> str:
    """All-pairs Hamming filter — exactly what the blocked join computes
    (pigeonhole makes blocking lossless for d <= max_hamming)."""
    return f"""
WITH {_duck_simhash_sig(table, id_col, text_col)}
SELECT a._id AS id_a, b._id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a._id < b._id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def keep_canonical_oracle_sql(table: str, id_col: str, text_col: str,
                              max_hamming: int) -> str:
    """End-to-end near-dup removal oracle: simhash pairs -> connected
    components via a recursive transitive closure -> keep the min-id member
    of each component (plus every unpaired row)."""
    return f"""
WITH RECURSIVE {_duck_simhash_sig(table, id_col, text_col)},
pairs AS (
  SELECT a._id AS id_a, b._id AS id_b
  FROM sig a JOIN sig b ON a._id < b._id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
clusters AS (
  SELECT s AS _id, least(s, min(d)) AS cluster FROM reach GROUP BY s
)
SELECT {id_col} FROM {table}
WHERE {id_col} NOT IN (SELECT _id FROM clusters WHERE _id <> cluster)
"""


def minhash_lsh_oracle_sql(table: str, id_col: str, text_col: str,
                           num_perm: int, shingle_k: int,
                           bands: int, rows_per_band: int) -> str:
    """Exact oracle for LSH candidate pairs + signature-match estimate."""
    seeds = _perm_seeds(num_perm)
    seed_rows = ", ".join(
        f"({i}, CAST({int(s)} AS UBIGINT))" for i, s in enumerate(seeds))
    sm = splitmix64_sql("xor(h, seed)")
    r = rows_per_band
    return f"""
WITH {_duck_shingle_hashes(table, id_col, text_col, shingle_k)},
seeds(perm, seed) AS (VALUES {seed_rows}),
mh AS (
  SELECT _id, perm, min({sm}) AS mh
  FROM shh, seeds
  GROUP BY _id, perm
),
banded AS (
  SELECT _id, perm // {r} AS band,
         list(mh ORDER BY perm) AS vals
  FROM mh
  GROUP BY _id, perm // {r}
),
cand AS (
  SELECT DISTINCT a._id AS id_a, b._id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.vals = b.vals AND a._id < b._id
),
sigs AS (SELECT _id, list(mh ORDER BY perm) AS sig FROM mh GROUP BY _id)
SELECT c.id_a, c.id_b,
       round(len(list_filter(range(1, {num_perm} + 1),
                             i -> sa.sig[i] = sb.sig[i]))::DOUBLE / {num_perm}, 6) AS est
FROM cand c
JOIN sigs sa ON sa._id = c.id_a
JOIN sigs sb ON sb._id = c.id_b
"""
