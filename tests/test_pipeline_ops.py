"""Tests for training-data pipeline operators: dedup, similarity, text
analysis, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from helpers import synthetic_media
from sketches_rust_spark.operators.dedup import (
    exact_dedup,
    exact_dup_stats,
    lsh_candidate_pairs,
    minhash_jaccard_estimate,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from sketches_rust_spark.operators.multimodal import (
    decode_image_features,
    sample_video_frames,
)
from sketches_rust_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    make_probes,
)
from sketches_rust_spark.operators.text import text_features


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """Deterministic corpus with known duplicate structure:
    0/1 exact dups; 2 is a near-dup of 0 (one token changed);
    3/4 unrelated; 5 is a near-dup of 3 (one token appended)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    alt = base.replace("lazy", "sleepy")
    other = "completely different content about spark sql aggregation engines here now"
    other2 = other + " extra"
    # long docs: one token changed out of 78 — the simhash regime
    long_doc = " ".join(f"token{i} filler{i % 7} word{i % 13}" for i in range(26))
    long_dup = long_doc.replace("token13", "changed13")
    rows = [(0, base), (1, base), (2, alt), (3, other),
            (4, "unrelated short text with nothing shared at all whatsoever kept here"),
            (5, other2), (6, long_doc), (7, long_dup)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, near_dup_corpus):
    kept = exact_dedup(near_dup_corpus).select("doc_id").toPandas()["doc_id"].tolist()
    assert sorted(kept) == [0, 2, 3, 4, 5, 6, 7]  # doc 1 (exact dup of 0) dropped
    stats = exact_dup_stats(near_dup_corpus).collect()[0]
    assert (stats["n_rows"], stats["n_distinct"], stats["n_dup_rows"]) == (8, 7, 1)


def test_ngram_jaccard_detects_near_dups(spark, near_dup_corpus):
    pairs = ngram_jaccard_pairs(near_dup_corpus, shingle_k=3, threshold=0.3).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert (0, 1) in got       # exact dup -> jaccard 1.0
    assert (0, 2) in got       # near dup
    assert (3, 5) in got       # near dup
    assert not any({a, b} == {3, 4} for a, b in got)
    j01 = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]["jaccard"].iloc[0]
    assert j01 == 1.0


def test_minhash_lsh_finds_near_dups(spark, near_dup_corpus):
    sigs = minhash_signatures(near_dup_corpus, num_perm=16, shingle_k=3)
    cand = lsh_candidate_pairs(sigs, bands=8, rows_per_band=2)
    est = minhash_jaccard_estimate(sigs, cand).toPandas()
    got = {(r.id_a, r.id_b): r.est for r in est.itertuples()}
    assert got.get((0, 1)) == 1.0          # exact dup: identical signatures
    assert (0, 2) in got or (3, 5) in got  # near dups surface as candidates
    for (a, b), e in got.items():
        assert 0.0 <= e <= 1.0


def test_minhash_signature_partition_invariance(spark, near_dup_corpus):
    a = {r["_id"]: r["sig"] for r in
         minhash_signatures(near_dup_corpus.repartition(1), num_perm=8).collect()}
    b = {r["_id"]: r["sig"] for r in
         minhash_signatures(near_dup_corpus.repartition(5), num_perm=8).collect()}
    assert a == b


def test_simhash_near_pairs(spark, near_dup_corpus):
    sigs = simhash_signatures(near_dup_corpus)
    rows = {r["_id"]: r["simhash"] for r in sigs.collect()}
    assert rows[0] == rows[1]  # identical text -> identical simhash
    pairs = simhash_near_pairs(sigs, max_hamming=8).toPandas()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples()}
    assert got.get((0, 1)) == 0
    assert (6, 7) in got  # long near-dup: 1 of 78 tokens changed
    assert got[(6, 7)] <= 8


def test_simhash_partition_invariance(spark, near_dup_corpus):
    a = {r["_id"]: r["simhash"] for r in
         simhash_signatures(near_dup_corpus.repartition(1)).collect()}
    b = {r["_id"]: r["simhash"] for r in
         simhash_signatures(near_dup_corpus.repartition(6)).collect()}
    assert a == b


def test_text_features(spark, near_dup_corpus):
    feats = text_features(near_dup_corpus).toPandas().set_index("doc_id")
    assert feats.loc[0, "n_tokens"] == 13
    assert feats.loc[0, "lang_pred"] == "en"
    assert feats.loc[0, "fingerprint"] == feats.loc[1, "fingerprint"]
    assert feats.loc[0, "fingerprint"] != feats.loc[2, "fingerprint"]
    assert 0.0 <= feats["quality"].min() and feats["quality"].max() <= 1.0


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_topk(spark, embeddings):
    probes = make_probes(spark, embeddings, [0, 1])
    top = brute_force_topk(embeddings, probes, k=5).toPandas()
    assert set(top["probe_id"]) == {0, 1}
    for pid, grp in top.groupby("probe_id"):
        assert list(grp.sort_values("rank")["rank"]) == [1, 2, 3, 4, 5]
        assert grp["score"].is_monotonic_decreasing or len(set(grp["score"])) < 5
        assert pid not in set(grp["vec_id"])  # self excluded

    # recompute exactly in numpy
    pdf = embeddings.toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    q = vecs[ids == 0][0]
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    sims[ids == 0] = -np.inf
    best = ids[np.argsort(-np.round(sims, 6) + ids * 1e-12)][:5]
    got = top[top.probe_id == 0].sort_values("rank")["vec_id"].tolist()
    assert got[0] == best[0]


def test_brute_force_topk_two_phase_plan(spark, embeddings):
    """The exact top-k must run as two bounded windows — a local
    per-(partition, probe) top-k, then a global per-probe rank over the
    O(partitions x probes x k) survivors — never one window funneling all
    n x p scored rows into p reducers. Also: the result is identical across
    partition layouts (every global top-k row is in its partition's local
    top-k for any layout)."""
    probes = make_probes(spark, embeddings, [0, 1, 2])
    out = brute_force_topk(embeddings.repartition(7), probes, k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("windowspecdefinition") == 2
    # the local window partitions by (_part, probe_id), and Spark inserts
    # Partial WindowGroupLimits so each exchange carries <= k rows per
    # (map task, window key) — both shuffles are k-bounded
    assert "windowspecdefinition(_part" in plan
    assert "row_number(), 4, Partial" in plan
    a = out.toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    b = (brute_force_topk(embeddings.repartition(2), probes, k=4)
         .toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True))
    assert a.equals(b)
    assert len(a) == 3 * 4


def test_lsh_topk_recall(spark, embeddings):
    probes = make_probes(spark, embeddings, [0, 1, 2, 3])
    exact = brute_force_topk(embeddings, probes, k=10).toPandas()
    approx = lsh_topk(embeddings, probes, k=10, nbits=4, dim=64).toPandas()
    # with 4 bits + multi-probe (the probe bucket and its 4 one-flip
    # neighbors, ~5/16 of rows scanned) the exact top-3 should mostly
    # surface. Require recall > 0.5 overall.
    hits = 0
    total = 0
    for pid in (0, 1, 2, 3):
        ex = set(exact[exact.probe_id == pid].sort_values("rank")["vec_id"][:3])
        ap = set(approx[approx.probe_id == pid]["vec_id"])
        hits += len(ex & ap)
        total += len(ex)
    assert hits / max(total, 1) >= 0.5
    # every approx result is a real row with a valid score
    assert ((approx["score"] <= 1.000001) & (approx["score"] >= -1.000001)).all()


def test_multimodal_image_features(spark):
    media = synthetic_media(spark, 60)
    with pytest.raises(Exception):
        decode_image_features(media, fake=False).collect()
    feats = decode_image_features(media, fake=True).toPandas()
    assert len(feats) == 20  # one third are images
    assert (feats["width"] >= 64).all() and (feats["height"] >= 64).all()
    assert ((feats["mean_luma"] >= 0) & (feats["mean_luma"] <= 1)).all()
    # deterministic across runs
    feats2 = decode_image_features(media, fake=True).toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id").reset_index(drop=True),
        feats2.sort_values("media_id").reset_index(drop=True))


def test_multimodal_frame_sampling(spark):
    media = synthetic_media(spark, 30)
    frames = sample_video_frames(media, every_nth=10).toPandas()
    assert (frames["frame_idx"] % 10 == 0).all()
    assert frames.groupby("media_id").size().min() >= 1


def test_real_ppm_codec_round_trip(spark):
    """The REAL image codec: encode_ppm_rgb writes genuine P6 PPM images,
    decode_image_features(fake=False) parses header dims + raster. Width is
    the fixed raster width, height the padded ceil, mean_luma the true
    raster mean (padding zeros included), n_bytes the exact container size;
    corrupt containers and hostile declared dims raise ValueError."""
    import numpy as np

    from sketches_rust_spark.operators.multimodal import (
        _decode_ppm,
        decode_image_features,
        encode_ppm_rgb,
    )

    media = synthetic_media(spark, 30)
    img = media.where("kind = 'image'")
    real = decode_image_features(encode_ppm_rgb(img), fake=False).toPandas() \
        .sort_values("media_id").reset_index(drop=True)
    raw = img.select("media_id", "payload").toPandas() \
        .sort_values("media_id").reset_index(drop=True)
    assert len(real) == len(raw) > 0
    for (_, r), (_, s) in zip(real.iterrows(), raw.iterrows()):
        data = bytes(s["payload"])
        h = max(1, -(-len(data) // 192))
        assert (r["width"], r["height"]) == (64, h)
        padded = np.frombuffer(data.ljust(64 * h * 3, b"\0"), dtype=np.uint8)
        assert abs(r["mean_luma"] - padded.mean() / 255.0) < 1e-12
        header = len(f"P6\n64 {h}\n255\n")
        assert r["n_bytes"] == header + 64 * h * 3

    # malformed containers raise cleanly; hostile dims never allocate
    with pytest.raises(ValueError):
        _decode_ppm(b"P5\n2 2\n255\n" + b"\0" * 12)   # wrong magic
    with pytest.raises(ValueError):
        _decode_ppm(b"P6\n2 2\n65535\n" + b"\0" * 12)  # 16-bit maxval
    with pytest.raises(ValueError):
        _decode_ppm(b"P6\n999999999 999999999\n255\nxyz")  # declared >> actual
    with pytest.raises(ValueError):
        _decode_ppm(b"P6\n2 2\n255\n" + b"\0" * 11)    # short raster

    # the FAKE image path stays pinned by its own DuckDB oracle
    import duckdb

    from helpers import image_features_oracle_sql
    from sketches_rust_spark.operators.multimodal import media_from_documents
    # oracle domain matches the documents fixture: texts >= 16 bytes (the
    # s16 window sum is NULL-degenerate below that)
    docs = spark.createDataFrame(
        [(i, "xy" * (i * 37 % 150 + 8)) for i in range(40)],
        "doc_id long, text string")
    got = decode_image_features(media_from_documents(docs), fake=True) \
        .toPandas().sort_values("media_id").reset_index(drop=True)
    con = duckdb.connect()
    con.register("docs_df", docs.toPandas())
    want = con.execute(image_features_oracle_sql("docs_df")
                       + " ORDER BY media_id").df()
    assert list(got["width"]) == list(want["width"])
    assert list(got["height"]) == list(want["height"])
    assert np.allclose(got["mean_luma"].round(9), want["mean_luma"])


def test_real_wav_codec_round_trip(spark):
    """The REAL audio codec: encode_wav_pcm8 writes genuine RIFF/WAVE
    containers, decode_audio_features(fake=False) demuxes them with stdlib
    wave. Features must equal the raw-PCM stub's (same samples), with
    n_bytes carrying the 44-byte container header; corrupt containers must
    raise; a PCM16 WAV decodes with the signed-sample normalization."""
    import io
    import wave

    import numpy as np

    from sketches_rust_spark.operators.multimodal import (
        _WAV_PCM8_HEADER_BYTES,
        _decode_wav,
        decode_audio_features,
        encode_wav_pcm8,
    )

    media = synthetic_media(spark, 30)
    aud = media.where("kind = 'audio'")
    raw = decode_audio_features(aud, fake=True).toPandas() \
        .sort_values("media_id").reset_index(drop=True)
    real = decode_audio_features(encode_wav_pcm8(aud), fake=False).toPandas() \
        .sort_values("media_id").reset_index(drop=True)
    assert len(real) == len(raw) > 0
    assert np.allclose(real["duration_s"], raw["duration_s"])
    assert np.allclose(real["mean_amp"], raw["mean_amp"])
    assert (real["n_bytes"] - raw["n_bytes"]
            == _WAV_PCM8_HEADER_BYTES).all()

    # container really is a standard WAV: stdlib reader sees our params
    one = encode_wav_pcm8(aud).limit(1).collect()[0]
    with wave.open(io.BytesIO(bytes(one["payload"])), "rb") as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == \
            (1, 1, 16000)

    # corrupt container -> ValueError (not a hang, not a zero row)
    with pytest.raises(ValueError):
        _decode_wav(b"RIFFgarbage-not-a-wav")
    with pytest.raises(ValueError):
        _decode_wav(b"")

    # 16-bit PCM: signed normalization (a constant +8192 signal -> 0.25)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.full(4000, 8192, dtype="<i2").tobytes())
    dur, amp = _decode_wav(buf.getvalue())
    assert dur == 0.5 and abs(amp - 0.25) < 1e-12


def test_near_dup_clustering_and_canonical_dedup(spark):
    """Connected components + canonical selection vs a reference union-find."""
    from sketches_rust_spark.operators.dedup import (
        dedup_keep_canonical, near_dup_clusters)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)],
        ["id_a", "id_b"])
    got = {r["_id"]: r["cluster"] for r in near_dup_clusters(pairs).collect()}

    # reference union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)]:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want
    assert got[4] == 1 and got[23] == 20  # chains collapse to min id

    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 23, 99]],
        ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_canonical(docs, pairs).collect())
    assert kept == [1, 10, 20, 99]  # canonical member per cluster + singleton


def test_end_to_end_minhash_dedup(spark, near_dup_corpus):
    """The full near-dedup pipeline: minhash -> LSH -> clusters -> canonical."""
    from sketches_rust_spark.operators.dedup import dedup_keep_canonical

    sigs = minhash_signatures(near_dup_corpus, num_perm=16, shingle_k=3)
    cand = lsh_candidate_pairs(sigs, bands=8, rows_per_band=2)
    est = minhash_jaccard_estimate(sigs, cand).where("est >= 0.5") \
        .select("id_a", "id_b")
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_canonical(near_dup_corpus, est).collect())
    assert 0 in kept and 1 not in kept  # exact dup collapsed to canonical 0
    assert 4 in kept                    # unrelated doc untouched


def test_lsh_requires_dim(spark, embeddings):
    from sketches_rust_spark.operators.similarity import make_probes

    probes = make_probes(spark, embeddings, [0])
    with pytest.raises(ValueError, match="dim"):
        lsh_topk(embeddings, probes, k=5, nbits=4)


def test_probe_masks_cover_requested_distance():
    from math import comb

    from sketches_rust_spark.operators.similarity import probe_masks

    for nbits, d in [(6, 1), (6, 2), (8, 3)]:
        masks = probe_masks(nbits, d)
        assert len(masks) == sum(comb(nbits, i) for i in range(d + 1))
        assert all(bin(m).count("1") <= d for m in masks)
        assert len(set(masks)) == len(masks)


def test_lsh_multi_probe_2_expands_candidates(spark, embeddings):
    """multi_probe=2 must probe distance-2 buckets too: its candidate set is
    a superset of multi_probe=1's, and both are subsets of multi_probe=nbits
    (which scans everything)."""
    from sketches_rust_spark.operators.similarity import make_probes

    probes = make_probes(spark, embeddings, [0, 1])
    got = {}
    for mp in (0, 1, 2):
        df = lsh_topk(embeddings, probes, k=10_000, nbits=6, dim=64,
                      multi_probe=mp)
        got[mp] = {(r["probe_id"], r["vec_id"]) for r in df.collect()}
    assert got[0] <= got[1] <= got[2]
    assert len(got[2]) > len(got[1])  # distance-2 buckets genuinely probed


def test_lsh_precomputed_signature_column(spark, embeddings):
    """Passing a precomputed signature column must give identical results to
    the inline signature pass."""
    from sketches_rust_spark.operators.similarity import (
        make_probes, with_lsh_signature)

    probes = make_probes(spark, embeddings, [0, 1, 2])
    inline = lsh_topk(embeddings, probes, k=10, nbits=6, dim=64).collect()
    pre = with_lsh_signature(embeddings, "embedding", dim=64, nbits=6,
                             sig_col="sig_pre")
    reused = lsh_topk(pre, probes, k=10, nbits=6, dim=64,
                      sig_col="sig_pre").collect()
    key = lambda r: (r["probe_id"], r["rank"])  # noqa: E731
    assert sorted(inline, key=key) == sorted(reused, key=key)


def test_lsh_signature_plan_size_independent_of_dim(spark):
    """The signature expression must stay O(nbits) plan nodes: coefficients
    ride in one array literal per bit, not dim literals per bit."""
    import pandas as pd

    from sketches_rust_spark.operators.similarity import (
        hyperplanes, lsh_signature_col)

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "vec_id": range(50),
        "embedding": [rng.normal(size=64).tolist() for _ in range(50)],
    })
    df = spark.createDataFrame(pdf)
    planes = hyperplanes(64, 16)
    sig = df.withColumn("_sig", lsh_signature_col(F.col("embedding"), planes))
    plan = sig._jdf.queryExecution().analyzed().toString()
    # one array literal per bit: the flat coefficient list appears as
    # slice(...) over a single literal, so the plan text stays small
    assert plan.count("slice(") == 16
    assert len(plan) < 200_000
    rows = sig.select("_sig").collect()
    # cross-check one row against numpy
    v = np.array(pdf["embedding"][0])
    want = sum((1 << b) for b in range(16) if float(planes[b] @ v) > 0)
    assert rows[0]["_sig"] == want


def test_simhash_blocking_generalizes_beyond_3(spark):
    """max_hamming > 3 must derive more blocks (pigeonhole) and still find
    every qualifying pair — compare against an all-pairs filter."""
    from sketches_rust_spark.operators.dedup import (
        simhash_near_pairs, simhash_signatures)

    rows = [(i, f"tok{i} " * 3 + "shared words mostly common here "
             + ("x y z" if i % 2 else "x y w")) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = simhash_signatures(df).cache()
    try:
        for d in (0, 3, 5):
            got = {(r["id_a"], r["id_b"], r["hamming"])
                   for r in simhash_near_pairs(sigs, max_hamming=d).collect()}
            sp = {r["_id"]: r["simhash"] for r in sigs.collect()}
            ids = sorted(sp)
            want = {(a, b, bin(sp[a] ^ sp[b]).count("1"))
                    for i, a in enumerate(ids) for b in ids[i + 1:]
                    if bin(sp[a] ^ sp[b]).count("1") <= d}
            assert got == want, f"max_hamming={d}"
    finally:
        sigs.unpersist()


def test_simhash_max_hamming_validation(spark):
    from sketches_rust_spark.operators.dedup import (
        simhash_near_pairs, simhash_signatures)

    df = spark.createDataFrame([(0, "a b"), (1, "a c")], ["doc_id", "text"])
    sigs = simhash_signatures(df)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_pairs(sigs, max_hamming=64)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_pairs(sigs, max_hamming=-1)


def test_near_dup_clusters_random_graphs_vs_union_find(spark):
    """The contraction + pointer-jumping CC must equal a reference
    union-find on random graph shapes: sparse random, dense clique-ish,
    long chains, and a mix with self-contained stars."""
    import numpy as np
    from sketches_rust_spark.operators.dedup import near_dup_clusters

    rng = np.random.default_rng(7)
    shapes = []
    # sparse random
    shapes.append([(int(a), int(b)) for a, b in
                   rng.integers(0, 60, size=(40, 2)) if a != b])
    # two dense near-cliques + bridge
    cl1 = [(i, j) for i in range(10) for j in range(i + 1, 10)
           if rng.random() < 0.7]
    cl2 = [(i, j) for i in range(100, 112) for j in range(i + 1, 112)
           if rng.random() < 0.7]
    shapes.append(cl1 + cl2 + [(9, 100)])
    # a long chain (pointer jumping's worst-friendly case)
    shapes.append([(i, i + 1) for i in range(40)])
    for edges in shapes:
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], ["id_a", "id_b"])
        # default path (driver-side union-find on the small contracted
        # graph) AND the distributed pointer-jumping loop (forced via a
        # zero local-solve cap) must BOTH match the reference union-find
        got = {r["_id"]: r["cluster"]
               for r in near_dup_clusters(pairs, max_iters=30).collect()}
        got_dist = {r["_id"]: r["cluster"]
                    for r in near_dup_clusters(pairs, max_iters=30,
                                               local_edge_cap=0).collect()}
        assert got == got_dist
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}
        assert got == want


def test_near_dup_clusters_raises_on_nonconvergence(spark):
    """A long path needs diameter iterations; in the DISTRIBUTED loop
    (local-solve gate off) a tiny cap must raise instead of silently
    returning split components. The default driver-side path is exact
    regardless of max_iters and must converge on the same graph."""
    from sketches_rust_spark.operators.dedup import near_dup_clusters

    path = spark.createDataFrame([(i, i + 1) for i in range(8)],
                                 ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        near_dup_clusters(path, max_iters=2, local_edge_cap=0)
    labels = {r["_id"]: r["cluster"]
              for r in near_dup_clusters(path, max_iters=20,
                                         local_edge_cap=0).collect()}
    assert set(labels.values()) == {0}
    local = {r["_id"]: r["cluster"]
             for r in near_dup_clusters(path, max_iters=2).collect()}
    assert local == labels  # union-find path: exact even under max_iters=2


def test_ngram_jaccard_df_cap_bounds_join_input(spark):
    """Adversarial stop-phrase fixture: every doc shares one hot shingle.
    The df-cap must (a) remove every shingle above the cap from the join
    input and (b) still find the genuine near-dup pair through its
    discriminative shingles."""
    from sketches_rust_spark.operators.dedup import (
        ngram_jaccard_pairs, shingle_hashes)

    stop = "the quick brown"  # one 3-shingle shared by every doc
    rows = [(i, f"{stop} unique{i} tail{i} words{i} here{i}")
            for i in range(60)]
    # one genuine near-dup pair sharing their discriminative shingles
    rows.append((100, f"{stop} same same same same extra"))
    rows.append((101, f"{stop} same same same same extra two"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # (a) join input bounded: no surviving shingle has df > cap
    sh = shingle_hashes(df, "doc_id", "text", 3)
    cap = 10
    hot = (sh.groupBy("h").count().where(F.col("count") > cap)
           .select("h"))
    capped = sh.join(hot, "h", "left_anti")
    max_df = (capped.groupBy("h").count().agg(F.max("count")).collect()[0][0])
    assert max_df is not None and max_df <= cap
    # the hot stop-shingle really was present and dropped
    assert hot.count() >= 1

    # (b) capped pairs keep the near-dup, lose the stop-phrase-only pairs
    capped_pairs = ngram_jaccard_pairs(df, threshold=0.3,
                                       max_shingle_df=cap).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped_pairs}
    assert (100, 101) in got
    assert all(a >= 100 for a, b in got)  # no pair exists only via the stop shingle

    # exact (uncapped) agrees on the near-dup pair too
    exact_pairs = ngram_jaccard_pairs(df, threshold=0.3).collect()
    assert (100, 101) in {(r["id_a"], r["id_b"]) for r in exact_pairs}


def test_simhash_multiblock_scheme_lossless(spark):
    """Manku-style n_blocks > d+1 must find exactly the same pairs as the
    minimal blocking (both equal the all-pairs filter)."""
    from sketches_rust_spark.operators.dedup import (
        simhash_near_pairs, simhash_signatures)

    rows = [(i, f"tok{i} " * 2 + "shared words mostly common here "
             + ("x y z" if i % 2 else "x y w")) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = simhash_signatures(df).cache()
    try:
        base = {(r["id_a"], r["id_b"], r["hamming"])
                for r in simhash_near_pairs(sigs, max_hamming=3).collect()}
        multi = {(r["id_a"], r["id_b"], r["hamming"])
                 for r in simhash_near_pairs(sigs, max_hamming=3,
                                             n_blocks=6).collect()}
        assert base == multi
        with pytest.raises(ValueError, match="n_blocks"):
            simhash_near_pairs(sigs, max_hamming=3, n_blocks=3)
    finally:
        sigs.unpersist()


def test_simhash_wide_blocking_cuts_candidates(spark):
    """On a skewed corpus (every signature shares a hot 16-bit low block),
    the minimal 4x16-bit blocking makes EVERY pair a candidate, while the
    Manku n_blocks=6 wide-key blocking must cut candidates by >10x AND
    return identical final pairs (blocking is lossless by pigeonhole)."""
    from sketches_rust_spark.operators.dedup import (
        _hamming_pairs, simhash_near_pairs)

    def candidates(n_blocks):
        return (_hamming_pairs(sigs, sigs, 3, n_blocks, self_join=True)
                .select("id_a", "id_b").distinct().count())

    n = 200
    fixed_low = 0x2AAA  # shared low 16 bits -> single-block bucket is hot
    rows = [(i, ((i * 2654435761) % (1 << 42)) << 22 | fixed_low)
            for i in range(n)]
    sigs = spark.createDataFrame(rows, ["_id", "simhash"]).cache()
    try:
        single = candidates(4)
        multi = candidates(6)
        assert single == n * (n - 1) // 2  # hot block: all-pairs candidates
        assert multi < single / 10
        p_single = {(r["id_a"], r["id_b"], r["hamming"]) for r in
                    simhash_near_pairs(sigs, max_hamming=3, n_blocks=4).collect()}
        p_multi = {(r["id_a"], r["id_b"], r["hamming"]) for r in
                   simhash_near_pairs(sigs, max_hamming=3, n_blocks=6).collect()}
        assert p_single == p_multi
    finally:
        sigs.unpersist()


@pytest.mark.parametrize("max_hamming,n_blocks", [(3, 6), (0, 1), (0, 2)])
def test_blocked_join_key_shapes_match_all_pairs(spark, max_hamming, n_blocks):
    """The shared blocked join under each combo-key shape — packed long
    (3, 6), single-block long (0, 1) and block array (0, 2) — equals a
    Python all-pairs Hamming reference, in the batch pair search and in the
    incremental shard-vs-corpus filter."""
    from sketches_rust_spark.operators.dedup import (
        incremental_simhash_filter, simhash_near_pairs, simhash_signatures)

    # exact duplicates (Hamming 0) and one-token variants of a few templates
    rows = [(i, f"tpl{i % 5} shared words mostly common here "
             + ("" if i % 3 else f"tail{i % 2}")) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = simhash_signatures(df).cache()
    try:
        sp = {r["_id"]: r["simhash"] for r in sigs.collect()}

        def ham(a, b):
            return bin((sp[a] ^ sp[b]) & (2 ** 64 - 1)).count("1")

        ids = sorted(sp)
        want = {(a, b, ham(a, b)) for i, a in enumerate(ids)
                for b in ids[i + 1:] if ham(a, b) <= max_hamming}
        assert any(h == 0 for _, _, h in want)
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
               simhash_near_pairs(sigs, max_hamming, n_blocks).collect()}
        assert got == want

        new = df.where("doc_id % 4 = 0")
        corpus = sigs.where("_id % 4 != 0")
        dup = {a for a in ids if a % 4 == 0
               and any(ham(a, b) <= max_hamming for b in ids if b % 4)}
        kept = {r["doc_id"] for r in incremental_simhash_filter(
            new, corpus, max_hamming, n_blocks).collect()}
        assert kept == {a for a in ids if a % 4 == 0} - dup
        assert dup and kept
    finally:
        sigs.unpersist()


def test_ivf_topk_recall_and_partition_invariance(spark, embeddings):
    """IVF with n_probe clusters must (a) return valid exact-scored results,
    (b) reach full recall when probing every centroid, and (c) be invariant
    to input partitioning (deterministic centroid seeds + assignment)."""
    from sketches_rust_spark.operators.similarity import ivf_topk, make_probes

    probes = make_probes(spark, embeddings, [0, 1, 2])
    exact = brute_force_topk(embeddings, probes, k=5).toPandas()
    # probing ALL centroids == brute force (every row is a candidate)
    full = ivf_topk(embeddings, probes, k=5, n_centroids=8,
                    n_probe=8).toPandas()
    key = ["probe_id", "rank"]
    assert (full.sort_values(key)[["probe_id", "vec_id", "score"]].values.tolist()
            == exact.sort_values(key)[["probe_id", "vec_id", "score"]].values.tolist())

    part = ivf_topk(embeddings, probes, k=5, n_centroids=8, n_probe=2)
    a = part.toPandas().sort_values(key).values.tolist()
    b = (ivf_topk(embeddings.repartition(13), probes, k=5, n_centroids=8,
                  n_probe=2).toPandas().sort_values(key).values.tolist())
    assert a == b
    # partial probing: every returned row is exactly scored and well-formed
    pdf = part.toPandas()
    assert ((pdf["score"] <= 1.000001) & (pdf["score"] >= -1.000001)).all()
    assert set(pdf["probe_id"]) == {0, 1, 2}


def test_write_bucketed_signatures_roundtrip(spark, embeddings, tmp_path):
    """The persisted bucketed-signature table must serve lsh_topk queries
    (sig_col path) with results identical to the inline signature pass."""
    from sketches_rust_spark.operators.similarity import (
        make_probes, write_bucketed_signatures)

    table = "emb_sigs_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed_signatures(embeddings, str(tmp_path / "emb_sigs"), table,
                              "embedding", dim=64, nbits=6, num_buckets=8)
    loaded = spark.table(table)
    assert "_sig" in loaded.columns
    probes = make_probes(spark, embeddings, [0, 1, 2])
    inline = lsh_topk(embeddings, probes, k=10, nbits=6, dim=64).collect()
    via_table = lsh_topk(loaded, probes, k=10, nbits=6, dim=64,
                         sig_col="_sig").collect()
    key = lambda r: (r["probe_id"], r["rank"])  # noqa: E731
    assert sorted(inline, key=key) == sorted(via_table, key=key)
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_embedding_near_dup_precomputed_signatures(spark, embeddings, tmp_path):
    """near-dup pairs over a persisted signature table (sig_col path) must
    equal the inline signature pass."""
    from sketches_rust_spark.operators.similarity import (
        embedding_near_dup_pairs, write_bucketed_signatures)

    table = "emb_sigs_neardup_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed_signatures(embeddings, str(tmp_path / "nd_sigs"), table,
                              "embedding", dim=64, nbits=6, num_buckets=8)
    inline = {(r["id_a"], r["id_b"], r["cosine"]) for r in
              embedding_near_dup_pairs(embeddings, 0.3, dim=64,
                                       nbits=6).collect()}
    via = {(r["id_a"], r["id_b"], r["cosine"]) for r in
           embedding_near_dup_pairs(spark.table(table), 0.3, dim=64,
                                    nbits=6, sig_col="_sig").collect()}
    assert inline == via and len(inline) > 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_recall_vs_n_probe_sweep(spark, embeddings):
    """Recall against exact top-k must be monotone-ish in n_probe and reach
    1.0 when probing every centroid (records the recall curve the docs
    cite)."""
    from sketches_rust_spark.operators.similarity import (
        brute_force_topk, ivf_topk, make_probes)

    probe_ids = [0, 1, 2, 3, 4]
    k, n_cent = 10, 16
    probes = make_probes(spark, embeddings, probe_ids)
    exact = {(r["probe_id"], r["vec_id"])
             for r in brute_force_topk(embeddings, probes, k=k).collect()}
    recalls = {}
    for n_probe in (1, 4, 16):
        got = {(r["probe_id"], r["vec_id"])
               for r in ivf_topk(embeddings, probes, k=k,
                                 n_centroids=n_cent, n_probe=n_probe).collect()}
        recalls[n_probe] = len(got & exact) / len(exact)
    assert recalls[16] == 1.0          # probing everything == brute force
    assert recalls[4] >= recalls[1] - 0.05  # more probes, no real recall loss
    assert recalls[1] > 0.2            # single-cluster probe finds something


def test_contamination_pairs_broadcast_and_oracle(spark):
    """Eval-set leakage detection: the eval side must be broadcast (the
    corpus never shuffles for the join), counts must match the exact DuckDB
    shingle-intersection oracle, and identity items (the evalset is a slice
    of the corpus) must always be flagged."""
    import duckdb

    from sketches_rust_spark.operators.dedup import (
        contamination_oracle_sql, contamination_pairs)

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    evalset = (docs.where(F.pmod(F.col("doc_id"), F.lit(20)) == 1)
               .select(F.col("doc_id").alias("item_id"), "text"))
    out = contamination_pairs(docs, evalset, min_common=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan      # eval side broadcast
    got = out.toPandas().sort_values(["doc_id", "item_id"]).reset_index(drop=True)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = (con.execute(contamination_oracle_sql(
        "documents",
        "(SELECT doc_id AS item_id, text FROM documents WHERE doc_id % 20 = 1)",
        min_common=6)).df()
        .astype({"doc_id": "int64", "item_id": "int64", "n_common": "int64"})
        .sort_values(["doc_id", "item_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"n_common": "int64"}), want)
    # every eval item matches itself with its full shingle count
    ids = {r.item_id for r in evalset.select("item_id").collect()}
    flagged_self = {r.doc_id for r in out.where("doc_id = item_id").collect()}
    assert flagged_self == ids


def test_contamination_max_eval_df_cap(spark):
    """The eval-side doc-frequency cap drops stop-shingles before the
    broadcast: a shingle present in > max_eval_df eval items must not
    produce candidates by itself."""
    from sketches_rust_spark.operators.dedup import contamination_pairs

    rows = [(i, "alpha beta gamma common common tail%d x y z" % i)
            for i in range(6)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    evalset = spark.createDataFrame(
        [(100 + i, "alpha beta gamma shared shared only%d" % i)
         for i in range(4)], ["item_id", "text"])
    # 'alpha beta gamma' appears in all 4 eval items -> capped away at df<=2
    capped = contamination_pairs(corpus, evalset, min_common=1, max_eval_df=2)
    assert capped.count() == 0
    uncapped = contamination_pairs(corpus, evalset, min_common=1)
    assert uncapped.count() == 24  # 6 docs x 4 items via the stop-shingle


def test_cc_adversarial_skew_clique_plus_path(spark):
    """The adversarial CC fixture: one giant clique (a template duplicated
    into ~10% of the corpus — the worst-case skew a web crawl produces)
    plus a long path component (the worst case for plain min-star
    contraction, which shrinks a path by only a constant factor per round).

    Must hold: (1) contraction collapses the clique in ONE step — the
    clique contributes ZERO edges to the contracted graph; (2) pointer
    jumping finishes the path in O(log diameter) rounds; (3) labels are
    exactly right on both components."""
    import math

    from sketches_rust_spark.operators.dedup import near_dup_clusters

    clique_n = 300          # ~10% of a 3000-doc corpus, all near-dups
    path_n = 1024           # diameter 1023
    clique_ids = list(range(10_000, 10_000 + clique_n))
    clique_edges = [(a, b) for i, a in enumerate(clique_ids)
                    for b in clique_ids[i + 1:]]
    path_ids = list(range(50_000, 50_000 + path_n))
    path_edges = [(path_ids[i], path_ids[i + 1]) for i in range(path_n - 1)]
    pairs = spark.createDataFrame(clique_edges + path_edges, ["id_a", "id_b"])

    # force the distributed pointer-jumping loop: this test pins the LOOP's
    # round bound, which the driver-side union-find gate would bypass on a
    # graph this small
    stats: dict = {}
    labels = {r._id: r.cluster
              for r in near_dup_clusters(pairs, stats=stats,
                                         local_edge_cap=0).collect()}
    assert all(labels[i] == clique_ids[0] for i in clique_ids)
    assert all(labels[i] == path_ids[0] for i in path_ids)

    # clique: every member's min closed neighbor is the clique minimum, so
    # the whole clique contracts to one node and its ~90k edges vanish in
    # ONE step. The path is min-star's worst case — rep(i) = i-1 merely
    # SHIFTS it (one node shorter: (i, i+1) -> (i-1, i), (0,1) collapses),
    # so the contracted graph is exactly the path minus one node; the
    # pointer-jumping loop is what finishes it in O(log) rounds.
    assert stats["input_edges"] == 2 * len(clique_edges) + 2 * len(path_edges)
    assert stats["contracted_edges"] == 2 * (path_n - 2)
    # pointer jumping: O(log2 diameter) rounds, not O(diameter)
    assert stats["rounds"] <= math.ceil(math.log2(path_n)) + 2
    assert stats["rounds"] >= 3  # the path is genuinely long (not trivial)


def test_cc_local_solve_second_gate_contracted_graph(spark):
    """Phase 2a specifically: input edge count ABOVE the local cap, the
    contracted remainder below it — the gate that a production-size
    clique-heavy corpus takes. Pins the m-join-final composition (rep ->
    component label, isolated reps labeling themselves) of the local path."""
    from sketches_rust_spark.operators.dedup import near_dup_clusters

    clique_ids = list(range(1_000, 1_080))          # contracts to 1 node
    clique_edges = [(a, b) for i, a in enumerate(clique_ids)
                    for b in clique_ids[i + 1:]]    # 3,160 pairs
    path_ids = list(range(5_000, 5_200))            # min-star only shifts it
    path_edges = [(path_ids[i], path_ids[i + 1])
                  for i in range(len(path_ids) - 1)]
    pairs = spark.createDataFrame(clique_edges + path_edges, ["id_a", "id_b"])
    # input directed = 2*(3160+199) = 6,718 > cap; contracted = 2*198 <= cap
    stats: dict = {}
    labels = {r._id: r.cluster
              for r in near_dup_clusters(pairs, stats=stats,
                                         local_edge_cap=1000).collect()}
    assert stats["input_edges"] == 6718
    assert 0 < stats["contracted_edges"] <= 1000
    assert stats.get("local_solve") is True and stats["rounds"] == 0
    assert all(labels[i] == clique_ids[0] for i in clique_ids)
    assert all(labels[i] == path_ids[0] for i in path_ids)


def test_numpy_seq_dot_matches_expression_fold(spark):
    """The bucket-local numpy cosine scorer accumulates left-to-right
    (cumsum), which must be bit-identical to the JVM sequential fold
    `aggregate(zip_with(a, b, *), 0.0, +)` the operator previously used
    (and the DuckDB oracle's list_reduce). Raw doubles compared exactly —
    no rounding."""
    import numpy as np
    from pyspark.sql import functions as F
    from sketches_rust_spark.operators.similarity import _dot, _seq_dot_np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((50, 64)).astype(np.float32)
    b = rng.standard_normal((50, 64)).astype(np.float32)
    rows = [(i, av.tolist(), bv.tolist()) for i, (av, bv) in enumerate(zip(a, b))]
    df = spark.createDataFrame(rows, "i long, a array<float>, b array<float>")
    jvm = {r["i"]: r["d"] for r in df.select(
        "i", _dot(F.col("a").cast("array<double>"),
                  F.col("b").cast("array<double>")).alias("d")).collect()}
    got = _seq_dot_np(a.astype(np.float64), b.astype(np.float64))
    for i in range(50):
        assert jvm[i] == got[i], (i, jvm[i], got[i])


def test_python_simhash_signatures_match_expression_path(spark, sf_dir):
    """The fused tokenize+hash+bit-vote Python stage must reproduce the
    explode -> md5[:15] base hash -> collect_set -> bit-vote pipeline
    EXACTLY (the DuckDB keep-canonical oracle recomputes the same
    signatures), including NULL-text row dropping and ''-token handling."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType
    from sketches_rust_spark.operators.dedup import (
        _base_hash, simhash_signatures)

    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "a "), (100003, " a  b"), (100004, None),
         (100005, "héllo wörld héllo")],
        ["doc_id", "text"]).select("doc_id", "text",
                                   F.lit("xx").alias("lang"),
                                   F.lit("t").alias("source"),
                                   F.length("text").alias("n_chars"))
    documents = documents.unionByName(edge)

    toks = (documents.select(
        F.col("doc_id").alias("_id"),
        F.explode(F.split(F.col("text"), " ")).alias("_t"))
        .select("_id", _base_hash(F.col("_t")).alias("h")))
    sets = toks.groupBy("_id").agg(F.collect_set("h").alias("_hs"))

    def vote(batches):
        bit_range = np.arange(64, dtype=np.uint64)[None, :]
        shifts = np.arange(63, dtype=np.int64)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            lens = pdf["_hs"].map(len).to_numpy()
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in pdf["_hs"]]
            ).view(np.uint64)
            bits_m = ((flat[:, None] >> bit_range) & np.uint64(1)).astype(np.int64)
            contrib = 2 * bits_m - 1
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            votes = np.add.reduceat(contrib, starts, axis=0)
            pos = votes > 0
            sh = (pos[:, :63].astype(np.int64) << shifts).sum(axis=1)
            sh = np.where(pos[:, 63], sh + np.int64(-9223372036854775808), sh)
            yield pd.DataFrame({"_id": pdf["_id"].to_numpy(), "simhash": sh})

    schema = StructType([StructField("_id", LongType(), False),
                         StructField("simhash", LongType(), False)])
    old = {(r["_id"], r["simhash"])
           for r in sets.mapInPandas(vote, schema=schema).collect()}
    new = {(r["_id"], r["simhash"])
           for r in simhash_signatures(documents).collect()}
    assert old == new and len(old) > 0
    assert 100004 not in {i for i, _ in new}  # NULL text dropped both ways


def test_python_shingler_matches_expression_path(spark, sf_dir):
    """shingle_hashes' Python stage must reproduce the JVM expression
    pipeline (split on ' ', k-windows joined by ' ', md5[:15] base hash,
    distinct per doc) EXACTLY — the DuckDB oracles recompute the same."""
    from pyspark.sql import functions as F
    from helpers import shingles
    from sketches_rust_spark.operators.dedup import _base_hash, shingle_hashes

    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = 3
    expr_path = (documents.select(
        F.col("doc_id").alias("_id"),
        F.explode(shingles(F.col("text"), k)).alias("_sh"))
        .select("_id", _base_hash(F.col("_sh")).alias("h"))
        .distinct())
    old = {(r["_id"], r["h"]) for r in expr_path.collect()}
    new = {(r["_id"], r["h"]) for r in
           shingle_hashes(documents, "doc_id", "text", k).collect()}
    assert old == new and len(old) > 0


def test_portable_base_hash_forms_agree(spark):
    """The Spark, Python and DuckDB forms of the md5[:15] base hash give
    the same 60-bit value on ASCII, empty and non-ASCII strings."""
    import duckdb
    from sketches_rust_spark.operators.dedup import (
        _base_hash, _duck_base_hash, _py_base_hash)

    words = ["the quick brown fox", "", "naïve café", "日本語のテキスト",
             "emoji \U0001F600 tail"]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                               ["i", "w"])
    got_spark = [r["h"] for r in df.orderBy("i").select(
        _base_hash(F.col("w")).alias("h")).collect()]
    con = duckdb.connect()
    got_duck = [con.execute(f"SELECT {_duck_base_hash('?')}", [w]).fetchone()[0]
                for w in words]
    want = [_py_base_hash(w) for w in words]
    assert got_spark == want and got_duck == want
    assert all(0 <= h < 1 << 60 for h in want)


def test_cc_local_gate_only_for_integral_or_string_ids(spark):
    """Python's min/max order matches Spark's only for integral and string
    ids, so double ids skip both union-find gates and take the distributed
    loop — with the same min-label components."""
    from sketches_rust_spark.operators.dedup import near_dup_clusters

    edges = [(1.5, 2.0), (2.0, 3.25), (10.0, 11.0), (3.25, 0.5)]
    pairs = spark.createDataFrame(edges, "id_a double, id_b double")
    stats: dict = {}
    labels = {r._id: r.cluster
              for r in near_dup_clusters(pairs, stats=stats).collect()}
    assert "local_solve" not in stats and stats["rounds"] >= 1
    assert labels == {0.5: 0.5, 1.5: 0.5, 2.0: 0.5, 3.25: 0.5,
                      10.0: 10.0, 11.0: 10.0}
