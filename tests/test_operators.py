"""Operator tests for the non-SQL-expressible paths (pytest oracles)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from docling_gfcr_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted_docs(spark):
    """60 base docs + 15 near-duplicates (1-2 word edits) + 5 exact dups."""
    rng = np.random.RandomState(0)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(60):
        words = list(rng.choice(vocab, size=40))
        rows.append((i, " ".join(words)))
    for j in range(15):  # near dup of doc j: mutate one word
        words = rows[j][1].split()
        words[5] = "MUTANT"
        rows.append((100 + j, " ".join(words)))
    for j in range(5):  # exact dup of doc j
        rows.append((200 + j, rows[j][1]))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, planted_docs):
    groups = dedup.exact_dedup_groups(planted_docs).toPandas()
    assert len(groups) == 75  # 80 rows, 5 exact dups collapse
    assert (groups.n_dups > 1).sum() == 5
    kept = dedup.exact_dedup_keep(planted_docs.toDF("conv_id", "conv_text"))
    assert kept.count() == 75
    # keeper is the min id of each group
    assert kept.where(F.col("conv_id") >= 200).count() == 0


@pytest.mark.parametrize("hash_fn", ["md5", "fast"])
def test_minhash_recall_on_planted_neardups(spark, planted_docs, hash_fn):
    pairs = dedup.minhash_lsh_pairs(
        planted_docs, n_hashes=32, bands=8, k=3, hash_fn=hash_fn
    ).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values.tolist()))
    # all 15 planted near-dup pairs (jaccard ~0.9 on 3-shingles) must be found
    want = {(j, 100 + j) for j in range(15)}
    assert want - got == set(), f"{hash_fn} family missed planted near-dups: {want - got}"
    # exact dups collide on every band
    assert all((j, 200 + j) in got for j in range(5))
    # candidate precision: unrelated random-vocab docs must not explode the
    # candidate set (a bad mixer would collapse band hashes together)
    assert len(got) < 120


def test_minhash_rejects_unknown_family(spark, planted_docs):
    with pytest.raises(ValueError, match="unknown hash_fn"):
        dedup.minhash_band_keys(planted_docs, hash_fn="xxhash64")


def test_fast_minhash_corner_semantics_and_partition_invariance(spark):
    """Corner parity with the JVM families: NULL text emits no band keys,
    empty text emits the "" shingle (all-empty docs collide, matching exact
    dedup), short texts shingle to the single truncated tail; and the keys
    are content-derived — identical under any input partitioning."""
    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, ""), (4, "a b"), (5, "a b"), (6, "x y z w v u")],
        "doc_id long, text string",
    )
    keys = dedup.minhash_band_keys(d, "text", "doc_id", 8, 4, 5, hash_fn="fast").toPandas()
    assert set(keys["id"]) == {2, 3, 4, 5, 6}
    assert keys.groupby("id").size().eq(4).all()
    by_id = {
        i: sorted(map(tuple, g[["band", "band_hash"]].values.tolist()))
        for i, g in keys.groupby("id")
    }
    assert by_id[2] == by_id[3] and by_id[4] == by_id[5]
    assert by_id[2] != by_id[4]
    re_keys = dedup.minhash_band_keys(
        d.repartition(7), "text", "doc_id", 8, 4, 5, hash_fn="fast"
    ).toPandas()
    canon = lambda p: sorted(map(tuple, p.values.tolist()))  # noqa: E731
    assert canon(keys) == canon(re_keys)


def test_fast_minhash_chunked_flush_equality(spark, planted_docs, monkeypatch):
    """The bounded-memory flush (docs accumulate to a shingle budget, then
    one vectorized emit) must be invisible: keys with a tiny budget — many
    flushes per Arrow batch, offsets reset each flush — equal the
    single-flush keys exactly."""
    canon = lambda p: sorted(map(tuple, p.values.tolist()))  # noqa: E731
    base = dedup.minhash_band_keys(
        planted_docs, "text", "doc_id", 16, 4, 3, hash_fn="fast"
    ).toPandas()
    monkeypatch.setattr(dedup, "_FAST_CHUNK_SHINGLES", 7)
    chunked = dedup.minhash_band_keys(
        planted_docs, "text", "doc_id", 16, 4, 3, hash_fn="fast"
    ).toPandas()
    assert canon(base) == canon(chunked)


def test_ngram_jaccard_exact_values(spark, planted_docs):
    pairs = dedup.ngram_jaccard_pairs(planted_docs, k=3, threshold=0.5).toPandas()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.itertuples()}
    assert all(got.get((j, 200 + j)) == 1.0 for j in range(5))
    # near-dups: one word mutated -> 3 of (40-2) 3-shingles change
    for j in range(15):
        assert (j, 100 + j) in got and 0.7 < got[(j, 100 + j)] < 1.0


def test_ngram_prefix_path_matches_naive(spark, monkeypatch):
    """r8: the prefix-filtered path (threshold > 0) must produce the EXACT
    row set (ids, n_common, jaccard floats) of the naive count-all-pairs
    shape across thresholds, corpora and caps — prefix filtering is a
    provably lossless candidate prune, not an approximation. Both shingle
    dictionary shapes are covered: the driver-collected dictionary and, with
    ``_DICT_MAX`` at 0, the broadcast-join fallback."""
    import pandas as pd

    from docling_gfcr_spark.operators.dedup import (
        _prefix_filtered_ngram_pairs,
        ensure_parallelism,
    )

    def naive(d, k, threshold, cap):
        # the threshold<=0 algorithm with the filter applied after the fact
        full = dedup.ngram_jaccard_pairs(d, k=k, threshold=0.0, hot_shingle_cap=cap)
        return full.where(F.col("jaccard") >= threshold)

    def canon(df):
        pdf = df.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
        return list(map(tuple, pdf[["id_a", "id_b", "n_common", "jaccard"]].values))

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for k, t, cap in ((3, 0.5, 100), (2, 0.2, 10**9), (5, 0.8, 50)):
        fast = _prefix_filtered_ngram_pairs(
            ensure_parallelism(d), "text", "doc_id", k, t, cap
        )
        want = canon(naive(d, k, t, cap))
        assert canon(fast) == want, (k, t, cap)
        if k == 3:
            with monkeypatch.context() as m:
                m.setattr(dedup, "_DICT_MAX", 0)
                joined = _prefix_filtered_ngram_pairs(
                    ensure_parallelism(d), "text", "doc_id", k, t, cap
                )
                assert canon(joined) == want, "dictionary fallback"


def test_ngram_jaccard_null_and_short_text_parity(spark):
    """The Arrow shingle kernel must match the old HOF semantics on the
    corners: NULL text explodes to nothing (F.split(NULL) -> no rows, so a
    NULL doc can never pair), and texts shorter than k words contribute one
    truncated tail shingle (greatest(1, n-k+1) == max(1, ...))."""
    d = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, "a b"), (4, "x y z w v u"), (5, "x y z w v u")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(d, k=5, threshold=0.5).toPandas()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.itertuples()}
    # short text pair matches on the single truncated shingle "a b"
    assert got == {(2, 3): 1.0, (4, 5): 1.0}
    assert 1 not in {i for p in got for i in p}


def _py_simhash(text: str) -> int:
    acc = [0] * 64
    for tok in text.split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    v = sum(1 << b for b in range(64) if acc[b] > 0)
    return v - (1 << 64 if v >= 1 << 63 else 0)


def test_connected_components_multi_hop_chains(spark):
    """Min-label propagation must close multi-hop chains (diameter > 1):
    a 6-node path, a triangle, and an isolated edge."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),  # path: all -> comp 1
         (10, 11), (11, 12), (10, 12),            # triangle -> comp 10
         (20, 21)],                               # edge -> comp 20
        "id_a long, id_b long",
    )
    comp = dedup.connected_components(edges).toPandas().set_index("node")["comp"]
    assert all(comp[n] == 1 for n in range(1, 7))
    assert all(comp[n] == 10 for n in (10, 11, 12))
    assert comp[20] == 20 and comp[21] == 20


def test_cc_propagation_equals_union_find_on_random_graphs(spark):
    """Property: min-label propagation labels every random graph exactly as
    a pure-Python union-find does (comp = min node id of the component)."""
    import random

    for seed in (0, 1, 2):
        rnd = random.Random(seed)
        n = 50
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(65)]
        edges = [(a, b) for a, b in edges if a != b]
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {(x, find(x)) for x in list(parent)}
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        prop = {(r.node, r.comp) for r in dedup.connected_components(df).collect()}
        assert prop == want, f"seed {seed}: {sorted(want ^ prop)}"


def test_connected_components_empty_edges_converge_to_no_labels(spark):
    """No pairs: the first round finds no change, so the result is an empty
    label table, not an error, and no checkpoint outlives the call but the
    returned labels."""
    edges = spark.createDataFrame([], "id_a long, id_b long")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    comp = dedup.connected_components(edges)
    assert comp.columns == ["node", "comp"] and comp.count() == 0
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1


def test_connected_components_raises_without_leaking_checkpoint(spark, monkeypatch):
    """A 12-edge path needs more than 3 rounds: the loop must raise AND free
    its last label checkpoint; with the default bound it closes the path.
    Compared as id sets: the context cleaner may free earlier tests' RDDs
    meanwhile, but no RDD this call persisted may survive it."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="did not converge"):
        m.setattr(dedup, "_CC_MAX_ITER", 3)
        dedup.connected_components(edges)
    leaked = set(jsc.getPersistentRDDs().keys()) - before
    assert not leaked, leaked
    comp = dedup.connected_components(edges).toPandas()
    assert set(comp["comp"]) == {0} and len(comp) == 13


def test_dedup_cluster_members_on_planted_dups(spark, planted_docs):
    """Exact dups + near dups of the same base doc land in ONE cluster keyed
    by the min doc id."""
    members = dedup.dedup_cluster_members(planted_docs).toPandas()
    by_doc = members.set_index("doc_id")["cluster_id"]
    for j in range(5):  # doc j has near-dup 100+j and exact dup 200+j
        assert by_doc[j] == j and by_doc[100 + j] == j and by_doc[200 + j] == j


def test_simhash_matches_pure_python(spark, planted_docs):
    got = planted_docs.select("doc_id", dedup.simhash_udf("text").alias("sh")).toPandas()
    texts = {r.doc_id: r.text for r in planted_docs.collect()}
    for r in got.itertuples():
        assert r.sh == _py_simhash(texts[r.doc_id])


def test_simhash_pairs_find_neardups(spark, planted_docs):
    pairs = dedup.simhash_pairs(planted_docs, max_hamming=8).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values.tolist()))
    assert all((j, 200 + j) in got for j in range(5))  # exact dups: hamming 0
    found_near = sum((j, 100 + j) in got for j in range(15))
    assert found_near >= 12  # 1-word edit rarely flips >8 bits


def test_cosine_topk_rank1_is_max_cos(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    probes = e.where(F.col("vec_id") % 50 == 0)
    exact = similarity.cosine_topk(e, probes).toPandas()
    assert len(exact) > 0
    # exact ranking must be internally consistent: rank 1 has max cos
    top1 = exact[exact["rank"] == 1].set_index("probe_id")["cos"]
    for pid, grp in exact.groupby("probe_id"):
        assert grp["cos"].max() == top1[pid]


def _local_asof_oracle(left_rows, right_rows):
    """Pure-Python nearest-predecessor oracle: for ties on ts the winner is
    the max under (ts, remaining columns) — the operator's pinned rule."""
    out = []
    for uid, lts, lid in left_rows:
        cands = [
            (rts, rid)
            for (ruid, rts, rid) in right_rows
            if ruid == uid and rts < lts
        ]
        if cands:
            rts, rid = max(cands)
            out.append((lid, uid, lts, rts, rid))
    return sorted(out)


def test_asof_slab_path_matches_oracle_and_plain_path(spark, monkeypatch):
    """Hot key (one user owns ~20k right rows) through the slab pre-split:
    per-group memory is bounded by one slab, output identical to the
    unsplit path and to the local oracle — including cross-slab lookback
    over empty slabs."""
    from docling_gfcr_spark.operators import asof
    from docling_gfcr_spark.operators.asof import asof_join

    rng = np.random.RandomState(3)
    right_rows = [(1, float(t), 10_000 + t) for t in range(20_000)]  # hot user
    right_rows += [(2, float(t * 500), 90_000 + t) for t in range(10)]  # sparse user
    # left: hot user probes everywhere; sparse user probes land in slabs with
    # NO in-slab right rows, so only the carried predecessor can match
    left_rows = [(1, t * 97 + 0.5, 100 + t) for t in range(220)]
    left_rows += [(2, 50_000.0 + i, 900 + i) for i in range(3)]
    left = spark.createDataFrame(
        [(u, t, i) for u, t, i in left_rows], "user_id int, ts double, event_id long"
    ).repartition(8)
    right = spark.createDataFrame(
        [(u, t, i) for u, t, i in right_rows], "user_id int, ts double, click long"
    ).repartition(8)

    # threshold below the hot user's 20k rows -> slab path active
    monkeypatch.setattr(asof, "_HOT_KEY_ROWS", 5000)
    slab = asof_join(left, right, on="ts", by="user_id", slab_seconds=1000.0).toPandas()
    plain = asof_join(left, right, on="ts", by="user_id", slab_seconds=None).toPandas()
    # cold threshold: nothing hot -> single group per key, same output
    monkeypatch.setattr(asof, "_HOT_KEY_ROWS", 10**9)
    cold = asof_join(left, right, on="ts", by="user_id", slab_seconds=1000.0).toPandas()
    want = _local_asof_oracle(left_rows, right_rows)
    for got in (slab, plain, cold):
        rows = sorted(
            (r.event_id, r.user_id, r.ts, r.ts_right, r.click_right) for r in got.itertuples()
        )
        assert rows == want

    # per-group input is bounded: no (user, slab) group sees more rows than
    # one slab's rights + carried row + its left rows
    from pyspark.sql import functions as F2

    slab_sizes = (
        right.withColumn("slab", F2.floor(F2.col("ts") / 1000))
        .groupBy("user_id", "slab").count().agg(F2.max("count")).collect()[0][0]
    )
    assert slab_sizes <= 1000  # the hot key was actually split


def test_asof_tie_break_is_deterministic(spark):
    from docling_gfcr_spark.operators.asof import asof_join

    # three right rows at the SAME timestamp: winner must be max click id,
    # regardless of arrival/partition order
    right_data = [(1, 10.0, 7), (1, 10.0, 99), (1, 10.0, 42)]
    left = spark.createDataFrame([(1, 11.0, 1)], "user_id int, ts double, event_id long")
    for perm in ([0, 1, 2], [2, 0, 1], [1, 2, 0]):
        right = spark.createDataFrame(
            [right_data[i] for i in perm], "user_id int, ts double, click long"
        ).repartition(4)
        got = asof_join(left, right, on="ts", by="user_id").toPandas()
        assert len(got) == 1 and got.iloc[0]["click_right"] == 99


def test_deterministic_split_stable_and_proportional(spark):
    """Split assignment is a pure function of the id: identical under any
    repartitioning, and proportions land near the requested weights."""
    from docling_gfcr_spark.operators import sampling

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = sampling.deterministic_split(d).select("doc_id", "split").toPandas()
    b = (
        sampling.deterministic_split(d.repartition(13))
        .select("doc_id", "split")
        .toPandas()
    )
    key = "doc_id"
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )
    frac = a["split"].value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.06 and abs(frac["val"] - 0.1) < 0.04
    # hash_sample is a subset-stable filter: sampled ids ⊂ ids, ~fraction
    s = sampling.hash_sample(d, 0.2)
    assert 0.12 < s.count() / d.count() < 0.28
    assert s.join(d, "doc_id", "left_anti").count() == 0


def test_zero_norm_vectors_never_rank(spark):
    """A zero embedding has NaN cosine to everything; Spark sorts NaN as the
    LARGEST double in DESC order, so without the guard it would top every
    ranking. Plant one and assert it never appears as a neighbor."""
    import pandas as pd

    rng = np.random.RandomState(7)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist()) for i in range(40)]
    rows.append((999, [0.0] * 8))  # the zero vector
    e = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<float>",
    )
    probes = e.where(F.col("vec_id") < 3)
    for fn in (
        lambda: similarity.cosine_topk(e, probes),
        lambda: similarity.ivf_topk(e, probes),
    ):
        out = fn().toPandas()
        assert 999 not in set(out["neighbor_id"]), fn
        assert not out["cos"].isna().any()


def test_ivf_topk_recall_vs_bruteforce(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    probes = e.where(F.col("vec_id") % 50 == 0)
    exact = similarity.cosine_topk(e, probes).toPandas()
    approx = similarity.ivf_topk(e, probes).toPandas()
    ex = set(map(tuple, exact[["probe_id", "neighbor_id"]].values.tolist()))
    ap = set(map(tuple, approx[["probe_id", "neighbor_id"]].values.tolist()))
    recall = len(ex & ap) / len(ex)
    # near-random synthetic vectors cluster weakly; 4/16 clusters visited
    # must still beat the 25% scan-fraction floor
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"
    # deterministic: retraining + rerunning yields the identical result
    again = similarity.ivf_topk(e, probes).toPandas()
    import pandas as pd

    key = ["probe_id", "rank"]
    pd.testing.assert_frame_equal(
        approx.sort_values(key).reset_index(drop=True),
        again.sort_values(key).reset_index(drop=True),
    )


def test_pack_sequences_two_phase_equals_global(spark):
    """The distributed prefix sum (coarse buckets + per-bucket windows) must
    equal the single-window semantics for any bucket_size and any input
    partitioning."""
    from docling_gfcr_spark.operators.sampling import pack_sequences

    d = spark.range(0, 337).select(
        F.col("id").alias("doc_id"), (F.pmod(F.col("id") * 37, F.lit(211)) + 1).alias("n_tokens")
    )
    key = ["doc_id"]
    want = (
        pack_sequences(d, budget=500, bucket_size=10**9)  # one bucket == global window
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    import pandas as pd

    for bs, df in ((7, d), (50, d.repartition(13)), (337, d.repartition(3))):
        got = (
            pack_sequences(df, budget=500, bucket_size=bs)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)


def test_multimodal_real_decode_matches_local_oracle(spark):
    """The Spark mapInPandas path must reproduce, per media_id, exactly what
    the pure-Python header parsers say about the same deterministic bytes —
    real dimensions/durations, not fakes."""
    feats = (
        multimodal.extract_media_features(multimodal.make_fake_media(spark))
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    assert len(feats) == 128
    assert set(feats.modality) == {"image", "audio", "video"}
    for r in feats.itertuples():
        modality, payload = multimodal.gen_media_payload(r.media_id)
        want = multimodal.decode_media(payload)
        assert (r.format, r.width, r.height, r.n_frames) == (
            want["format"], want["width"], want["height"], want["n_frames"]
        ), f"media_id={r.media_id}"
        assert abs(r.duration_s - want["duration_s"]) < 1e-9
        assert r.sha_prefix == hashlib.sha256(payload).hexdigest()[:16]
        assert list(r.feature) == pytest.approx(multimodal.byte_histogram(payload))
    # real parses: every PNG/JPEG got true nonzero dims, WAVs real durations
    imgs = feats[feats.modality == "image"]
    assert (imgs.width > 0).all() and (imgs.height > 0).all()
    assert (imgs.format.isin(["png", "jpeg"])).all()
    wavs = feats[feats.modality == "audio"]
    assert (wavs.duration_s > 0).all() and (wavs.n_frames > 0).all()
    # planted junk video payloads survive as format=unknown rows (O1)
    assert set(feats.format) >= {"png", "jpeg", "wav", "mp4"}


def test_transform_media_real_resize_and_decimation(spark):
    """PNG payloads really shrink (re-decoded dims <= 20, corner pixel
    preserved by nearest-neighbor); WAV payloads are really decimated
    (every 4th frame, duration preserved); entropy-coded formats pass
    through."""
    from docling_gfcr_spark.kernels import media as mk

    src = multimodal.make_fake_media(spark)
    out = multimodal.extract_media_features(
        multimodal.transform_media(src)
    ).toPandas().set_index("media_id")
    shrunk = 0
    for i in range(128):
        modality, payload = multimodal.gen_media_payload(i)
        r = out.loc[i]
        if payload.startswith(b"\x89PNG"):
            w0, h0 = mk.parse_png(payload)["width"], mk.parse_png(payload)["height"]
            assert r.width <= 20 and r.height <= 20
            if max(w0, h0) > 20:
                assert (r.width, r.height) != (w0, h0)
                shrunk += 1
        elif payload[:4] == b"RIFF":
            orig = mk.parse_wav(payload)
            assert r.n_frames == len(range(0, orig["n_frames"], 4))
            assert abs(r.duration_s - orig["duration_s"]) <= 5 / orig["sample_rate"] * 4
        else:  # jpeg / mp4 / junk: untouched
            d = multimodal.decode_media(payload)
            assert (r.width, r.height, r.n_frames) == (d["width"], d["height"], d["n_frames"])
    assert shrunk > 0  # the resize branch actually ran


def test_mime_sniff():
    assert multimodal.sniff_mime(b"\x89PNGxxxx") == "image/png"
    assert multimodal.sniff_mime(b"\xff\xd8\xffrest") == "image/jpeg"
    assert multimodal.sniff_mime(b"RIFFxxxxWAVE") == "audio/wav"
    assert multimodal.sniff_mime(b"RIFFxxxxWEBP") == "image/webp"
    assert multimodal.sniff_mime(b"\x00\x00\x00\x18ftypisom....") == "video/mp4"
    assert multimodal.sniff_mime(b"junk") == "application/octet-stream"
    assert multimodal.sniff_mime(None) == "application/octet-stream"


def test_enhancer_stage(spark):
    from docling_gfcr_spark import pipeline as pl
    from docling_gfcr_spark import transcripts as tr
    from docling_gfcr_spark.operators import enhancer

    tdf = tr.make_transcripts(spark, 4, mean_turns=3, seed=6, parallelism=2)
    ex = pl.extract_turns(tdf).select(
        "conv_id", "turn_idx", F.col("extracted_text").alias("text")
    )
    # default off: passthrough, marked not applied (reference convert.py:15-20)
    off = enhancer.enhance_documents(ex).toPandas()
    assert (~off.enhance_applied).all()
    assert (off.enhanced_text == off.text).all()
    # with injected fake client: applied, deterministic
    on = enhancer.enhance_documents(
        ex, client_factory=enhancer.fake_client_factory
    ).toPandas()
    assert on.enhance_applied.all()
    want = [enhancer.fake_client_factory()("enhance", t) for t in on.text]
    assert on.enhanced_text.tolist() == want


def test_enhancer_error_falls_back_to_original(spark):
    from docling_gfcr_spark.operators import enhancer

    df = spark.createDataFrame([(1, "keep me")], "id long, text string")

    def flaky_factory():
        def call(op, text):
            raise RuntimeError("api down")

        return call

    out = enhancer.enhance_documents(df, client_factory=flaky_factory).toPandas()
    assert out.iloc[0].enhanced_text == "keep me"
    assert not out.iloc[0].enhance_applied
    assert "api down" in out.iloc[0].enhance_error


def test_analyze_payload_columns(spark):
    from docling_gfcr_spark import pipeline as pl
    from docling_gfcr_spark import transcripts as tr

    tdf = tr.make_transcripts(spark, 6, mean_turns=4, seed=8, parallelism=2)
    ex = pl.extract_turns(tdf).toPandas()
    pdfs = ex[ex.tool.isin(["pdf", "pdf_text"])]
    others = ex[~ex.tool.isin(["pdf", "pdf_text"])]
    assert (others.estimated_pages == 1).all()
    assert (pdfs.estimated_pages >= 1).all()
    assert (ex.size_mb == (ex.size_bytes / 1048576).round(2)).all()


def test_media_decode_total_on_truncated_containers(spark):
    """Truncated/corrupt payloads that PASS the magic check must degrade to
    format='unknown' / untransformed — never a struct/zlib/index error
    killing the task (code-review regression)."""
    from docling_gfcr_spark.kernels import media as mk

    bad = [
        mk.build_mp4(1.0)[:40],           # mvhd cut mid-field -> struct.error
        mk.build_png(4, 4)[:24],          # IHDR only -> IndexError in pixel decode
        mk.build_wav(100)[:20],           # fmt chunk truncated
        b"RIFF\x00\x00\x00\x00WAVE",      # headers only
    ]
    for blob in bad:
        d = multimodal.decode_media(blob)
        assert isinstance(d["format"], str)  # no exception = pass
        out, done = multimodal.transform_payload(blob, 8, 2)
        assert out == blob or done  # untouched or genuinely transformed
    # and through the actual Spark stage: rows survive
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"media_id": range(len(bad)), "modality": "image",
                      "payload": bad, "mime": "x", "n_bytes": [len(b) for b in bad]}),
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.extract_media_features(multimodal.transform_media(df)).toPandas()
    assert len(feats) == len(bad)


def test_asof_null_by_keys_never_match(spark):
    """NULL by-keys must not join each other (DuckDB ASOF equi-join
    semantics; Window.partitionBy would otherwise group them together)."""
    from docling_gfcr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, 10.0, 1), (1, 10.0, 2)], "user_id int, ts double, event_id long"
    )
    right = spark.createDataFrame(
        [(None, 5.0, 100), (1, 5.0, 200)], "user_id int, ts double, click long"
    )
    got = asof_join(left, right, on="ts", by="user_id").toPandas()
    assert len(got) == 1
    assert got.iloc[0]["event_id"] == 2 and got.iloc[0]["click_right"] == 200


def test_approx_distinct_within_hll_tolerance(spark):
    """The one rows-only contract query: pin HLL++/GK outputs against exact
    counts with the algorithms' error bounds (default rsd 0.05 -> assert a
    generous 3-sigma 15%), so a regression to nonsense values fails CI even
    without a cross-engine oracle."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").cache()
    try:
        row = (
            li.agg(
                F.approx_count_distinct("l_orderkey").alias("a_orders"),
                F.approx_count_distinct("l_partkey").alias("a_parts"),
                F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a_p50"),
            ).collect()[0]
        )
        exact_orders = li.select("l_orderkey").distinct().count()
        exact_parts = li.select("l_partkey").distinct().count()
        exact_p50 = li.agg(F.percentile("l_extendedprice", F.lit(0.5))).collect()[0][0]
    finally:
        # a lingering cache would swap later plan tests' parquet scans for
        # InMemoryTableScan (no PushedFilters) — session is module-shared
        li.unpersist()
    assert abs(row.a_orders - exact_orders) / exact_orders < 0.15
    assert abs(row.a_parts - exact_parts) / exact_parts < 0.15
    # GK sketch with accuracy 10000 on ~60k rows: the approx median must sit
    # within 2% of the exact interpolated median's value
    assert abs(row.a_p50 - exact_p50) / exact_p50 < 0.02


def test_pii_scrub_cross_engine_on_adversarial_strings(spark):
    """The PII regexes promise identical semantics in Java regex (Spark) and
    RE2 (DuckDB). The gate checks them on the corpus + planted PII; this
    fuzz covers the organic edge cases — half-matches, boundary digits,
    adjacent matches, dots/dashes in local parts — on both engines at once.
    """
    import random

    import duckdb

    from docling_gfcr_spark.operators import text_analysis as ta

    crafted = [
        "a.b-c+d_e%f@sub.domain.co.uk tail",
        "not@an@email @nope x@y.z a@b.c.",
        "1.2.3.4 10.200.0.250 999.999.999.999 1.2.3.4.5 a1.2.3.4b",
        "+55 123-4567 ++55 123-4567 +5 123-4567 +55 1234-567",
        "edge@case.io+55 999-0000 10.0.0.1@host.net",
        "<a@b.cd> (1.1.1.1) [+12 345-6789]",
        "trailing dot 1.2.3.4. and email a@b.co.",
        "", " ", "@", ".", "+", "127.0.0.1",
        # new families: SSN / US phone / card, with boundary traps
        "123-45-6789 x123-45-6789 123-45-67890 1234-45-6789",
        "(555) 123-4567 (55) 123-4567 ((555) 123-4567) (555)123-4567",
        "4111111111111111 411111111111 41111111111111111111 a4111111111111111",
        "ssn inside phone +55 123-45-6789 and card 1234567890123.",
        "overlap 4111111111111111@host.com 123-45-6789.12",
        "(555) 123-4567 123-45-6789 4111111111111111 1.2.3.4 a@b.co +12 345-6789",
    ]
    rng = random.Random(7)
    alphabet = "aZ0.@+-() \n%_"
    fuzz = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60))) for _ in range(160)]
    digit_fuzz = [
        "".join(rng.choice("0123456789-() .") for _ in range(rng.randrange(0, 40)))
        for _ in range(80)
    ]
    rows = [(i, s) for i, s in enumerate(crafted + fuzz + digit_fuzz)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        ta.pii_scrub(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("docs", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    # the DuckDB side is GENERATED from the same PII_FAMILIES table the Spark
    # expression uses — the fuzz automatically tracks new families
    want = (
        con.execute(ta.pii_scrub_sql("docs") + " ORDER BY doc_id")
        .fetchdf()
        .reset_index(drop=True)
    )
    for name, _, _ in ta.PII_FAMILIES:
        col = f"n_{name}"
        assert got[col].astype(int).tolist() == want[col].astype(int).tolist(), col
    assert got["scrubbed_md5"].tolist() == want["scrubbed_md5"].tolist()


def test_lang_id_classifies_real_sentences(spark):
    """Expanded 18-word vocab: short real sentences in each supported
    language classify correctly with positive margin; gibberish is 'und'."""
    from docling_gfcr_spark.operators import text_analysis as ta

    rows = [
        (0, "en", "the cat sat on the mat and it was not from this house"),
        (1, "es", "el perro corre por la calle con una pelota para los ninos"),
        (2, "de", "der hund lauft auf der strasse und das ist ein gutes zeichen"),
        (3, "fr", "le chien court dans les rues avec une balle pour nous tous"),
        (4, "pt", "o cachorro corre na rua com uma bola para os meninos do bairro"),
        (5, "und", "zxqj vwpk rrgh mmtt aabb ccdd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, want string, text string")
    out = (
        df.select("doc_id", "want", ta.lang_id().alias("got"),
                  ta.lang_margin().alias("margin"))
        .toPandas().sort_values("doc_id")
    )
    assert out["got"].tolist() == out["want"].tolist()
    assert (out[out.want != "und"]["margin"] > 0).all()
    assert out[out.want == "und"]["margin"].iloc[0] == 0


def test_pack_sequences_hash_order_arbitrary_ids(spark):
    """order_by='hash' packs ANY id type (strings, sparse bigints) in
    (md5, id) canonical order — equal to a local pandas global-prefix-sum
    oracle under any partitioning (the numeric-floor path would skew or
    break on these ids)."""
    import hashlib

    import pandas as pd

    from docling_gfcr_spark.operators.sampling import pack_sequences

    rng = np.random.RandomState(11)

    def local_oracle(rows):  # [(id, n_tokens)] -> DataFrame in (md5,id) order
        ordered = sorted(rows, key=lambda r: (hashlib.md5(f"pack:{r[0]}".encode()).hexdigest(), r[0]))
        out, acc = [], 0
        for rid, nt in ordered:
            out.append({"doc_id": rid, "n_tokens": nt, "tokens_before": acc, "seq_bin": acc // 500})
            acc += nt
        return pd.DataFrame(out).sort_values("doc_id").reset_index(drop=True)

    # string ids
    srows = [(f"doc/{rng.randint(0, 10**9):x}-{i}", int(rng.randint(1, 300))) for i in range(173)]
    # sparse numeric ids (would make floor(id/bucket) pathological)
    nrows = [(int(rng.randint(0, 2**62)), int(rng.randint(1, 300))) for i in range(151)]
    for rows, schema in ((srows, "doc_id string, n_tokens long"),
                         (nrows, "doc_id long, n_tokens long")):
        df = spark.createDataFrame(rows, schema).repartition(7)
        got = (
            pack_sequences(df, budget=500, order_by="hash")
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        want = local_oracle(rows)
        got["tokens_before"] = got["tokens_before"].astype("int64")
        got["seq_bin"] = got["seq_bin"].astype("int64")
        want["tokens_before"] = want["tokens_before"].astype("int64")
        want["seq_bin"] = want["seq_bin"].astype("int64")
        pd.testing.assert_frame_equal(got, want)


def test_pack_sequences_rejects_unknown_order():
    from docling_gfcr_spark.operators.sampling import pack_sequences

    with pytest.raises(ValueError):
        pack_sequences(None, budget=10, order_by="nope")


def test_ngram_decontaminate_shuffle_equals_broadcast(spark, monkeypatch):
    """The non-broadcast fallback (heldout too big to ship to every executor)
    must produce exactly the broadcast path's output; the heldout doc count
    picks broadcast under ``_BROADCAST_MAX_DOCS`` and shuffle above it."""
    from docling_gfcr_spark.operators import sampling
    from docling_gfcr_spark.operators.sampling import ngram_decontaminate

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    rng = np.random.RandomState(5)
    vocab = "aa bb cc dd ee ff gg hh ii jj kk ll".split()
    train = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab, size=30))) for i in range(150)],
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab, size=25))) for i in range(20)],
        "doc_id long, text string",
    )
    b_df = ngram_decontaminate(train, heldout, k=4)  # 20 heldout docs
    assert "Join" not in plan(b_df)
    monkeypatch.setattr(sampling, "_BROADCAST_MAX_DOCS", 5)
    s_df = ngram_decontaminate(train, heldout, k=4)
    assert "Join" in plan(s_df)
    key = "doc_id"
    import pandas as pd

    b = b_df.toPandas()
    pd.testing.assert_frame_equal(
        s_df.toPandas().sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )
    assert len(b) > 0  # the tiny vocab guarantees shared 4-grams


def test_cc_labels_self_loop_only_nodes(spark):
    """A node whose ONLY incident edge is (x, x) must appear in the output
    with comp=x."""
    edges = spark.createDataFrame(
        [(1, 2), (7, 7), (3, 3), (3, 4)], "id_a long, id_b long"
    )
    want = {(1, 1), (2, 1), (7, 7), (3, 3), (4, 3)}
    prop = {(r.node, r.comp) for r in dedup.connected_components(edges).collect()}
    assert prop == want


def test_hll_sketch_mergeable_and_partition_stable(spark):
    """Sketch hardening for the rows-only approx_distinct_stats entry:
    (a) the union of per-partition HLL sketches estimates EXACTLY what the
    whole-table sketch estimates, under any partitioning (mergeability — the
    property that makes sketches valid at 1000-executor scale), and
    (b) approx_count_distinct is partition-invariant too, and within
    tolerance of the exact count."""
    df = spark.read.parquet(f"{SF}/orders.parquet").select("o_custkey")
    whole = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e")
    ).collect()[0]["e"]
    for parts in (1, 7, 32):
        merged = (
            df.repartition(parts)
            .withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
            .collect()[0]["e"]
        )
        assert merged == whole, f"HLL union drifted at {parts} partitions"
    acd = df.agg(F.approx_count_distinct("o_custkey").alias("e")).collect()[0]["e"]
    for parts in (1, 7, 32):
        got = (
            df.repartition(parts)
            .agg(F.approx_count_distinct("o_custkey").alias("e"))
            .collect()[0]["e"]
        )
        assert got == acd, f"approx_count_distinct drifted at {parts} partitions"
    exact = df.distinct().count()
    assert abs(whole - exact) / exact < 0.05
    assert abs(acd - exact) / exact < 0.05


def test_source_mixing_deterministic_and_rate_correct(spark):
    """Data mixing: keep decisions are per-row deterministic (partition-
    invariant) and per-source rates land near their targets; rate>=1.0 keeps
    EVERY row including hex 'ffffffff' edge ids."""
    from docling_gfcr_spark.operators.sampling import source_mixing_predicate

    rows = [(i, f"s{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"s0": 1.0, "s1": 0.5, "s2": 0.25}
    pred = source_mixing_predicate(weights, 0.05)
    a = {r.doc_id for r in df.where(pred).collect()}
    b = {r.doc_id for r in df.repartition(13).where(pred).collect()}
    assert a == b
    kept = df.where(pred).groupBy("source").count().toPandas().set_index("source")["count"]
    assert kept["s0"] == 1000  # rate 1.0: everything
    assert abs(kept["s1"] - 500) < 80
    assert abs(kept["s2"] - 250) < 60
    assert kept.get("s3", 0) < 110


def test_quality_model_score_no_python_no_shuffle(spark):
    """The hashed-linear scorer is one codegen'd scan: no Python workers, no
    Exchange; scores are bounded means of [-1, 1] weights."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    from docling_gfcr_spark.operators.text_analysis import quality_model_scores

    out = quality_model_scores(d)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Exchange" not in p
    pdf = out.toPandas()
    assert (pdf["model_score"].abs() <= 1.0).all()
    assert (pdf["n_tokens"] > 0).all()


def test_quality_model_score_cross_engine_exact(spark):
    """The scorer's model_score must hash-match DuckDB exactly — including
    the half-way quotients that rounding used to split (w_sum=157, n=80 was
    a reproduced divergence before round() was removed)."""
    import random

    import duckdb

    from docling_gfcr_spark.operators import text_analysis as ta

    rng = random.Random(9)
    words = [f"w{i}" for i in range(300)]
    rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randrange(1, 120))))
            for i in range(300)]
    rows.append((300, ""))
    rows.append((301, "   "))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = ta.quality_model_scores(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.register("docs", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    want = (
        con.execute(ta.quality_model_sql("docs") + " ORDER BY doc_id")
        .fetchdf().reset_index(drop=True)
    )
    assert got["w_sum"].tolist() == want["w_sum"].astype("int64").tolist()
    assert got["n_tokens"].tolist() == want["n_tokens"].astype("int64").tolist()
    # bit-exact doubles, not approx
    import struct

    for a, b in zip(got["model_score"], want["model_score"]):
        assert struct.pack("<d", a) == struct.pack("<d", b)


@pytest.mark.parametrize("hash_fn", ["md5", "fast"])
def test_incremental_minhash_equals_full_recompute(spark, planted_docs, tmp_path, hash_fn):
    """Append-only dedup invariant: committing the 'old' corpus' band keys
    and dedup-checking a NEW batch against the table yields EXACTLY the
    full-recompute pairs (old+new) restricted to pairs touching the batch —
    including new-vs-new dups arriving in the same batch. Parametrized over
    a JVM family and the Arrow 'fast' family: band keys committed by either
    must be comparable with keys computed later by the same family."""
    old = planted_docs.where(F.col("doc_id") < 100)
    new = planted_docs.where(F.col("doc_id") >= 100)  # near+exact dups of old
    table = f"incr_test_bands_{hash_fn}"
    dedup.commit_minhash_bands(
        old, table, str(tmp_path / "bands"), n_hashes=32, bands=8, k=3, hash_fn=hash_fn
    )
    got = dedup.incremental_minhash_pairs(
        spark, table, new, n_hashes=32, bands=8, k=3, hash_fn=hash_fn
    ).toPandas()
    full = dedup.minhash_lsh_pairs(
        planted_docs, n_hashes=32, bands=8, k=3, hash_fn=hash_fn
    ).toPandas()
    new_ids = {int(r.doc_id) for r in new.select("doc_id").collect()}
    want = {
        (int(a), int(b))
        for a, b in zip(full.id_a, full.id_b)
        if int(a) in new_ids or int(b) in new_ids
    }
    assert {(int(a), int(b)) for a, b in zip(got.id_a, got.id_b)} == want
    assert len(want) >= 20  # the planted dups actually collide
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_minhash_append_waves(spark, planted_docs, tmp_path):
    """mode='append' grows the committed table by accepted batches; a batch
    arriving after TWO waves sees dups from both."""
    wave1 = planted_docs.where(F.col("doc_id") < 30)
    wave2 = planted_docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 100))
    batch = planted_docs.where(F.col("doc_id") >= 100)
    table = "incr_test_waves"
    path = str(tmp_path / "waves")
    dedup.commit_minhash_bands(wave1, table, path, n_hashes=32, bands=8, k=3, hash_fn="md5")
    dedup.commit_minhash_bands(
        wave2, table, path, n_hashes=32, bands=8, k=3, hash_fn="md5", mode="append"
    )
    got = dedup.incremental_minhash_pairs(
        spark, table, batch, n_hashes=32, bands=8, k=3, hash_fn="md5"
    ).toPandas()
    pairs = {(int(a), int(b)) for a, b in zip(got.id_a, got.id_b)}
    # planted: 100+j is a near-dup of j (<30 -> wave1), exact dups 200+j of
    # j<5 (wave1); near-dups of 30..44? none — but docs j in [0,15) span
    # wave1 only; assert every planted (j, 100+j) and (j, 200+j) pair found
    for j in range(15):
        assert (j, 100 + j) in pairs
    for j in range(5):
        assert (j, 200 + j) in pairs
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_media_ref_token_and_udf_agree(spark):
    import base64

    payloads = []
    for i in range(12):
        _mod, blob = multimodal.gen_media_payload(i)
        payloads.append(base64.b64encode(blob).decode("ascii"))
    payloads.append("not-base64!!")
    df = spark.createDataFrame([(p,) for p in payloads], "text string")
    got = [r.ref for r in df.select(multimodal.media_ref_udf("text").alias("ref")).collect()]
    assert got == [multimodal.media_ref_token(p) for p in payloads]


def test_incremental_pairs_no_self_pair_on_duplicated_batch_id(spark, tmp_path):
    """At-least-once upstream delivery can duplicate a doc_id WITHIN one
    batch; its self-pair must never surface (a keep-first consumer would
    delete the doc entirely), and a missing committed table must be an
    explicit error unless bootstrapping."""
    batch = spark.createDataFrame(
        [(5, "alpha beta gamma delta epsilon"), (5, "alpha beta gamma delta epsilon"),
         (6, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="does not exist"):
        dedup.incremental_minhash_pairs(spark, "no_such_band_table", batch, k=3)
    got = dedup.incremental_minhash_pairs(
        spark, "no_such_band_table", batch, k=3, allow_missing_table=True
    ).toPandas()
    assert not any(a == b for a, b in zip(got.id_a, got.id_b))


def test_recap_band_index_tightens_append_drift(spark, tmp_path):
    """Per-commit caps drift upward under append ingest; the maintenance
    rewrite restores the GLOBAL per-(band, band_hash) invariant."""
    same = "identical text shared by the whole cluster of documents"
    mk = lambda ids: spark.createDataFrame([(i, same) for i in ids], "doc_id long, text string")
    table, path = "recap_bands_t", str(tmp_path / "bands")
    dedup.commit_minhash_bands(mk(range(0, 10)), table, path, n_hashes=8, bands=4, k=3,
                               hash_fn="md5", hot_band_cap=3)
    dedup.commit_minhash_bands(mk(range(10, 20)), table, path, n_hashes=8, bands=4, k=3,
                               hash_fn="md5", hot_band_cap=3, mode="append")
    drift = spark.table(table).groupBy("band", "band_hash").count().toPandas()["count"]
    assert drift.max() == 6  # cap x 2 commits — the documented drift
    dedup.recap_band_index(spark, table, path, hot_band_cap=3)
    tight = spark.table(table).groupBy("band", "band_hash").count().toPandas()["count"]
    assert tight.max() <= 3
    # maintenance preserved the catalog bucket layout and cleaned its stage
    assert dedup._table_bucket_count(spark, table) == 16
    assert not spark.catalog.tableExists(f"{table}_recap")
    # deterministic representatives: lowest ids survive
    ids = sorted(int(r.id) for r in spark.table(table).select("id").distinct().collect())
    assert ids == [0, 1, 2]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_recap_band_index_removes_duplicate_rows(spark, tmp_path):
    """The documented at-least-once band append can leave duplicate
    (id, band, band_hash) rows; recap must REMOVE them, not count them
    toward the cap (which would evict distinct ids while keeping copies)."""
    same = "identical text shared by the whole cluster of documents"
    mk = lambda ids: spark.createDataFrame([(i, same) for i in ids], "doc_id long, text string")
    table, path = "recap_dup_t", str(tmp_path / "bands")
    dedup.commit_minhash_bands(mk([0, 1, 2]), table, path, n_hashes=8, bands=4, k=3,
                               hash_fn="md5")
    # replayed append (crash between band append and stage commit): doc 0's
    # keys land a second time
    dedup.commit_minhash_bands(mk([0]), table, path, n_hashes=8, bands=4, k=3,
                               hash_fn="md5", mode="append")
    dedup.recap_band_index(spark, table, path, hot_band_cap=3)
    pdf = spark.table(table).toPandas()
    assert len(pdf) == len(pdf.drop_duplicates())  # duplicates gone
    # the cap kept the 3 DISTINCT ids — id 2 was not displaced by a copy
    assert sorted(set(int(i) for i in pdf.id)) == [0, 1, 2]
    spark.sql(f"DROP TABLE IF EXISTS {table}")

def test_incremental_signature_params_stamped_and_validated(spark, tmp_path):
    """Band keys are only comparable under identical (n_hashes, bands, k,
    hash_fn); a mismatched call previously joined incomparable keys and
    silently found ~no candidates (r5 ADVICE). Commit stamps the params as
    table properties; mine/append refuse on mismatch; recap preserves them."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon word{i}") for i in range(10)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon word1")], "doc_id long, text string"
    )
    table, path = "sigcheck_bands", str(tmp_path / "bands")
    dedup.commit_minhash_bands(docs, table, path, n_hashes=32, bands=8, k=3, hash_fn="md5")
    assert dedup._read_signature_params(spark, table) == {
        "n_hashes": "32", "bands": "8", "k": "3", "hash_fn": "md5",
    }
    # mismatched mine: every divergent parameter refuses
    for kw in ({"n_hashes": 16}, {"bands": 4}, {"k": 5}, {"hash_fn": "fast"}):
        params = {"n_hashes": 32, "bands": 8, "k": 3, "hash_fn": "md5", **kw}
        with pytest.raises(ValueError, match="incomparable"):
            dedup.incremental_minhash_pairs(spark, table, batch, **params)
    # mismatched append refuses BEFORE writing anything
    with pytest.raises(ValueError, match="incomparable"):
        dedup.commit_minhash_bands(
            batch, table, path, n_hashes=32, bands=8, k=5, hash_fn="md5", mode="append"
        )
    # matching params still work end-to-end
    got = dedup.incremental_minhash_pairs(
        spark, table, batch, n_hashes=32, bands=8, k=3, hash_fn="md5"
    ).toPandas()
    assert len(got) >= 1
    # maintenance rewrite carries the stamp across the overwrite
    dedup.recap_band_index(spark, table, path, hot_band_cap=3)
    assert dedup._read_signature_params(spark, table)["hash_fn"] == "md5"
    spark.sql(f"DROP TABLE IF EXISTS {table}")

def test_band_cap_must_be_positive(spark):
    """cap<=0 would silently rewrite the standing band index to EMPTY under
    recap maintenance (e.g. a mangled --recap-cap shell variable)."""
    from docling_gfcr_spark.operators import dedup

    with pytest.raises(ValueError, match="hot_band_cap"):
        dedup._cap_band_keys(spark.range(1), 0)


def test_keep_first_drops_semantics(spark):
    """The shared keep-first kernel (batch ingest + streaming ingest): a
    new id paired with a committed one drops regardless of pair side; of a
    both-new pair the larger id drops; committed ids never appear."""
    from docling_gfcr_spark.operators import dedup

    pairs = spark.createDataFrame(
        [("c1", "n1"),   # committed-new: n1 drops
         ("n2", "n3"),   # both new: n3 drops
         ("n4", "z9")],  # new-committed (new on the a side): n4 drops
        "id_a string, id_b string",
    )
    new_ids = spark.createDataFrame(
        [("n1",), ("n2",), ("n3",), ("n4",), ("n5",)], "conv_id string"
    )
    got = {r.id for r in dedup.keep_first_drops(pairs, new_ids).collect()}
    assert got == {"n1", "n3", "n4"}


def test_pii_redacted_text_matches_scrub_md5(spark):
    """pii_redacted_text (the text carried forward by corpus_build's scrub
    stage) must be exactly the string pii_scrub hashes — one family chain,
    two consumers."""
    from docling_gfcr_spark.operators import text_analysis
    rows = [
        (1, "mail a@b.co or 10.0.0.1 card 4111111111111111 ssn 123-45-6789"),
        (2, "(555) 123-4567 and +55 123-4567 plain text"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    joined = text_analysis.pii_scrub(df).join(
        df.withColumnRenamed("text", "conv_text").select(
            "doc_id", F.md5(text_analysis.pii_redacted_text()).alias("direct_md5")
        ),
        "doc_id",
    )
    bad = joined.where(F.col("scrubbed_md5") != F.col("direct_md5")).count()
    assert bad == 0


def test_semantic_dedup_kernel_greedy_chain():
    """The SemDeDup rule is GREEDY keep-first, not connected components:
    in a chain a~b, b~c, a!~c the middle doc is dropped against a, and c
    survives because its only above-threshold neighbour (b) was not kept.
    Also pins: id-ascending processing regardless of input order, lowest-id
    keeper attribution, and the -1 sentinels on kept rows."""
    r2 = 2.0 ** -0.5
    ids = np.array([30, 10, 20], dtype=np.int64)  # deliberately unsorted
    mat = np.array(
        [[0.0, 1.0],   # id 30 == c
         [1.0, 0.0],   # id 10 == a
         [r2, r2]],    # id 20 == b : cos 0.707 to both a and c
        dtype=np.float64,
    )
    sids, kept, dup_of, dup_sim = similarity.semantic_dedup_cluster_kernel(ids, mat, 0.7)
    assert sids.tolist() == [10, 20, 30]
    assert kept.tolist() == [True, False, True]
    assert dup_of.tolist() == [-1, 10, -1]
    assert dup_sim[0] == -1.0 and dup_sim[2] == -1.0
    assert abs(dup_sim[1] - r2) < 1e-12


def test_semantic_dedup_partition_invariance(spark):
    """semantic_dedup must return the identical verdict table under any
    input partitioning (the trainer's hash sample, the assignment UDF and
    the per-cluster greedy are all partitioning-independent), and every
    dropped row must name a KEPT doc in its own cluster as keeper."""
    import pandas as pd

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    key = ["vec_id"]
    want = (
        similarity.semantic_dedup(e, n_centroids=8, threshold=0.4)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    assert len(want) == e.count()  # one verdict row per doc, none dropped
    got = (
        similarity.semantic_dedup(e.repartition(7), n_centroids=8, threshold=0.4)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    kept_by_cluster = {
        (r.cluster, r.vec_id) for r in want.itertuples() if r.kept
    }
    for r in want.itertuples():
        if not r.kept:
            assert (r.cluster, r.dup_of) in kept_by_cluster
            assert r.dup_sim >= 0.4
        else:
            assert r.dup_of == -1 and r.dup_sim == -1.0


def test_semantic_dedup_max_cluster_skew_valve(spark):
    """A planted mega-cluster (160 identical-direction vectors) with
    max_cluster=50 must be split into deterministic hash sub-buckets: every
    doc still gets exactly one verdict row, each sub-bucket keeps its own
    lowest id (so kept count for the hot cluster rises from 1 to the number
    of non-empty sub-buckets), and normal-sized clusters are byte-identical
    to the uncapped path."""
    import pandas as pd

    dim = 8
    cents = np.zeros((4, dim))
    for c in range(4):
        cents[c, c] = 1.0
    rows = []
    for i in range(160):  # mega cluster: all exactly centroid-0 direction
        rows.append((i, [1.0] + [0.0] * (dim - 1)))
    for i in range(40):  # background: 40 docs spread over clusters 1-3
        v = [0.0] * dim
        v[1 + i % 3] = 1.0
        v[4 + i % 4] = 0.01 * (i + 1)  # distinct, below-threshold spread
        rows.append((160 + i, v))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(threshold=0.9, centroids=cents)
    uncapped = similarity.semantic_dedup(e, **kw).toPandas()
    capped = (
        similarity.semantic_dedup(e, max_cluster=50, **kw)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert len(capped) == 200  # one verdict per doc, none lost to the split

    hot_un = uncapped[uncapped.cluster == 0]
    hot_cap = capped[capped.cluster == 0]
    assert int(hot_un.kept.sum()) == 1  # uncapped: one keeper for the clones
    # capped: ceil(160/50)=4 hash sub-buckets; each keeps its own first doc
    n_kept = int(hot_cap.kept.sum())
    assert 2 <= n_kept <= 4
    kept_ids = set(hot_cap[hot_cap.kept].vec_id)
    for r in hot_cap.itertuples():
        if not r.kept:
            assert r.dup_of in kept_ids and r.dup_sim >= 0.9

    # background clusters (all under the cap): identical verdicts both ways
    bg_cols = ["vec_id", "cluster", "kept", "dup_of", "dup_sim"]
    pd.testing.assert_frame_equal(
        capped[capped.cluster != 0][bg_cols].reset_index(drop=True),
        uncapped[uncapped.cluster != 0]
        .sort_values("vec_id")[bg_cols].reset_index(drop=True),
    )

    # determinism under partitioning, cap active
    again = (
        similarity.semantic_dedup(e.repartition(9), max_cluster=50, **kw)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(again, capped)


def test_semantic_dedup_dirty_embeddings_pass_through(spark):
    """NULL or wrong-length embeddings must not kill the job OR drop rows:
    the assign UDF routes them to the -1 sentinel cluster and semantic_dedup
    passes them through kept. Clean rows' verdicts are unchanged vs a run
    on the clean subset alone."""
    import pandas as pd

    dim = 4
    cents = np.eye(2, dim)
    clean = [(i, [float(i % 2 == 0), float(i % 2), 0.05 * i, 0.0]) for i in range(20)]
    dirty = [(100, None), (101, []), (102, [1.0, 2.0])]  # NULL / empty / ragged
    e = spark.createDataFrame(clean + dirty, "vec_id long, embedding array<double>")

    got = (
        similarity.semantic_dedup(e, threshold=0.9, centroids=cents)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert len(got) == 23  # every doc has a verdict row
    d = got[got.vec_id >= 100]
    assert (d.cluster == -1).all() and d.kept.all()
    assert (d.dup_of == -1).all() and (d.dup_sim == -1.0).all()

    want = (
        similarity.semantic_dedup(
            spark.createDataFrame(clean, "vec_id long, embedding array<double>"),
            threshold=0.9, centroids=cents,
        )
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[got.vec_id < 100].reset_index(drop=True), want
    )


def test_semantic_dedup_drops_subset_of_exact_pairs(spark):
    """Cross-operator consistency: every (dup_of, vec_id) drop that
    semantic_dedup reports at threshold t must appear in the brute-force
    cosine>=t pair list (semantic dedup only ever looks WITHIN a cluster,
    so its drops are a subset of the global near-dup relation — if one
    isn't, a kernel or assignment bug invented similarity)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    t = 0.4
    verdicts = similarity.semantic_dedup(e, n_centroids=8, threshold=t).toPandas()
    drops = {
        (min(r.dup_of, r.vec_id), max(r.dup_of, r.vec_id))
        for r in verdicts.itertuples() if not r.kept
    }
    assert drops, "planted corpus should produce at least one drop at 0.4"
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").cast("array<double>").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").cast("array<double>").alias("vb"))
    exact = (
        a.join(b, F.col("ia") < F.col("ib"))
        .withColumn("cos", similarity.cosine_sim(F.col("va"), F.col("vb")))
        .where(F.col("cos") >= t)
        .select("ia", "ib")
        .toPandas()
    )
    pairs = set(map(tuple, exact.values.tolist()))
    assert drops <= pairs, f"invented drops: {sorted(drops - pairs)[:5]}"


def test_embed_texts_kernel_properties():
    """Hashing-trick embedder: unit-norm rows, ORDER-INVARIANCE (the property
    semantic_prune exists for), zero vector for empty/NULL, distinct texts
    distinct vectors."""
    m = similarity.embed_texts_kernel(
        [
            "alpha beta gamma delta.",
            "delta. gamma beta alpha",  # same multiset, reversed
            "alpha beta gamma delta",  # different token ('delta' vs 'delta.')
            "completely different words here",
            "",
            None,
        ],
        dim=64,
    )
    assert np.allclose(np.linalg.norm(m[:4], axis=1), 1.0)
    assert (m[0] == m[1]).all()
    assert not (m[0] == m[2]).all()
    assert not (m[0] == m[3]).all()
    assert (m[4] == 0).all() and (m[5] == 0).all()


def test_md5_surrogate_id_matches_python_twin(spark):
    ids = ["conv-00000001", "x", "", "sem-perm-000", "äöü ✓"]
    got = (
        spark.createDataFrame([(i,) for i in ids], "conv_id string")
        .select("conv_id", similarity.md5_surrogate_id(F.col("conv_id")).alias("s"))
        .collect()
    )
    for r in got:
        want = int(hashlib.md5(r.conv_id.encode("utf-8")).hexdigest()[:15], 16)
        assert r.s == want, r.conv_id


def test_semantic_prune_catches_what_minhash_misses(spark):
    """The planted class semantic_prune exists for: a word-REVERSED copy has
    an identical token multiset (embedding cosine exactly 1.0) but disjoint
    5-word shingles, so MinHash-LSH mines NO candidate pair for it while
    semantic_prune drops exactly one of the two. Unrelated docs survive."""
    rows = []
    for i in range(24):
        rows.append((f"doc-{i:03d}", " ".join(f"w{i}_{j}" for j in range(24))))
    orig = rows[0][1]
    rows.append(("doc-perm", " ".join(reversed(orig.split(" ")))))
    df = spark.createDataFrame(rows, "conv_id string, conv_text string")

    pairs = dedup.minhash_lsh_pairs(
        df, text_col="conv_text", id_col="conv_id", n_hashes=32, bands=8, k=5
    ).collect()
    assert not [
        p for p in pairs if "doc-perm" in (p.id_a, p.id_b)
    ], "reordered tokens must be MinHash-blind for this test to mean anything"

    kept = {
        r.conv_id
        for r in similarity.semantic_prune(
            df, n_centroids=4, threshold=0.95
        ).collect()
    }
    pair = {"doc-000", "doc-perm"}
    assert len(kept & pair) == 1  # exactly one of the twins survives
    surr = {
        c: int(hashlib.md5(c.encode()).hexdigest()[:15], 16) for c in pair
    }
    assert min(pair, key=surr.get) in kept  # keep-first = surrogate order
    assert kept >= {f"doc-{i:03d}" for i in range(1, 24)}  # others untouched


def test_semantic_prune_refuses_surrogate_collision(spark):
    """Two rows with the SAME id produce one surrogate for two docs — the
    aliasing class the count-distinct guard exists for (a real md5 collision
    is the same condition)."""
    df = spark.createDataFrame(
        [("a", "x y z"), ("a", "p q r"), ("b", "m n o")],
        "conv_id string, conv_text string",
    )
    with pytest.raises(ValueError, match="surrogate-id collision"):
        similarity.semantic_prune(df, n_centroids=2, threshold=0.9)


def test_semantic_prune_empty_input_passthrough(spark):
    df = spark.createDataFrame([], "conv_id string, conv_text string")
    assert similarity.semantic_prune(df).count() == 0


def test_semantic_prune_matches_local_replay(spark):
    """Spark semantic_prune == the pure-Python replay built from the SAME
    shared kernels (embed_texts_kernel, spherical_kmeans,
    semantic_dedup_cluster_kernel) — the construction the fixture oracle for
    corpus_build_semantic uses, pinned here at operator granularity."""
    rows = [
        (f"d{i:02d}", " ".join(f"t{i % 7}_{j}" for j in range(10 + i % 5)))
        for i in range(30)
    ]
    rows.append(("dperm", " ".join(reversed(rows[3][1].split(" ")))))
    df = spark.createDataFrame(rows, "conv_id string, conv_text string")
    n_centroids, threshold = 5, 0.9
    got = sorted(
        r.conv_id
        for r in similarity.semantic_prune(
            df, n_centroids=n_centroids, threshold=threshold
        ).collect()
    )

    ids = np.array(
        [int(hashlib.md5(c.encode()).hexdigest()[:15], 16) for c, _ in rows],
        dtype=np.int64,
    )
    by_surr = {int(s): c for s, (c, _) in zip(ids, rows)}
    m = similarity.embed_texts_kernel([t for _, t in rows], dim=64)
    order = np.argsort(ids, kind="stable")  # trainer sorts its sample by id
    cent = similarity.spherical_kmeans(m[order], n_centroids, seed=42, iters=10)
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    cluster = np.argmax(mn @ cent.T, axis=1)
    want = []
    for c in sorted(set(cluster.tolist())):
        idx = np.flatnonzero(cluster == c)
        sids, kept_mask, _, _ = similarity.semantic_dedup_cluster_kernel(
            ids[idx], m[idx], threshold
        )
        want += [by_surr[int(s)] for s, k in zip(sids, kept_mask) if k]
    assert got == sorted(want)


def test_semantic_ingest_kernel_empty_committed_equals_build_kernel():
    """With no committed keepers the incremental kernel must reproduce the
    build kernel byte-for-byte — the semantics contract that lets
    bootstrap day 1 use the incremental path."""
    rng = np.random.RandomState(3)
    ids = rng.permutation(20).astype(np.int64)
    mat = rng.randn(20, 16)
    a = similarity.semantic_dedup_cluster_kernel(ids, mat, 0.35)
    b = similarity.semantic_ingest_cluster_kernel(
        np.empty(0, np.int64), np.empty((0, 16)), ids, mat, 0.35
    )
    for x, y in zip(a, b):
        assert (x == y).all()


def test_semantic_ingest_kernel_committed_priority_and_resume():
    """Committed keepers win (keep-first-by-arrival); a new doc's OWN
    committed copy (same vec_id, same embedding — the crash-resume window)
    is excluded from its comparisons; a same-vec_id row with a DIFFERENT
    embedding (cross-day surrogate collision) refuses."""
    rng = np.random.RandomState(7)
    ids = np.array([10, 20], dtype=np.int64)
    mat = rng.randn(2, 8)
    # committed keeper 5 == doc 10's vector -> 10 drops with dup_of=5
    r = similarity.semantic_ingest_cluster_kernel(
        np.array([5], np.int64), mat[:1].copy(), ids, mat, 0.999
    )
    sids, kept, dup_of, dup_sim = r
    i = list(sids).index(10)
    assert not kept[i] and dup_of[i] == 5 and abs(dup_sim[i] - 1.0) < 1e-12
    # duplicate committed rows (at-least-once append) are uniqued: same result
    r2 = similarity.semantic_ingest_cluster_kernel(
        np.array([5, 5], np.int64), np.vstack([mat[:1], mat[:1]]), ids, mat, 0.999
    )
    for x, y in zip(r, r2):
        assert (x == y).all()
    # resume: committed contains doc 10 ITSELF -> kept, not self-dropped
    r3 = similarity.semantic_ingest_cluster_kernel(
        np.array([10], np.int64), mat[:1].copy(), ids, mat, 0.999
    )
    assert r3[1][list(r3[0]).index(10)]
    # collision: same vec_id, different embedding
    with pytest.raises(ValueError, match="surrogate collision|DIFFERENT"):
        similarity.semantic_ingest_cluster_kernel(
            np.array([10], np.int64), rng.randn(1, 8), ids, mat, 0.999
        )


def test_incremental_semantic_verdicts_matches_batch_union(spark, tmp_path):
    """The incremental contract: verdicts for a day-2 batch against the
    committed day-1 keepers == semantic_dedup over (day1 UNION day2)
    restricted to day-2 docs, when day-1 docs all precede day-2 docs in
    surrogate order within their clusters. Uses a planted cross-day
    word-permuted dup (cosine exactly 1.0) plus in-batch pairs; also checks
    the missing-table and param-mismatch refusals and the
    hot_cluster_cap >= 1 guard."""
    from pyspark.sql import functions as F

    dim, K, thr = 64, 3, 0.95
    d1_rows = [(f"a{i:02d}", " ".join(f"v{i}_{j}" for j in range(12))) for i in range(10)]
    d2_rows = [(f"b{i:02d}", " ".join(f"w{i}_{j}" for j in range(12))) for i in range(5)]
    d2_rows.append(("bperm", " ".join(reversed(d1_rows[4][1].split(" ")))))
    d2_rows.append(("binb", d2_rows[0][1]))  # in-batch exact dup of b00
    d1 = spark.createDataFrame(d1_rows, "conv_id string, conv_text string")
    d2 = spark.createDataFrame(d2_rows, "conv_id string, conv_text string")

    emb1 = d1.select(
        similarity.md5_surrogate_id(F.col("conv_id")).alias("vec_id"),
        similarity.make_hashing_embed_udf(dim)(F.col("conv_text")).alias("embedding"),
    )
    cent = similarity.train_ivf_centroids(emb1, n_centroids=K)
    table = "t_isv_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        with pytest.raises(ValueError, match="does not exist"):
            similarity.incremental_semantic_verdicts(
                spark, table, similarity.embed_and_assign(d2, cent, dim=dim),
                thr, dim, K, cent,
            )
        ea1 = similarity.embed_and_assign(d1, cent, dim=dim)
        v1 = similarity.incremental_semantic_verdicts(
            spark, table, ea1, thr, dim, K, cent, allow_missing_table=True
        )
        kept1 = v1.where(F.col("kept")).select("vec_id")
        similarity.commit_semantic_index(
            spark, table, str(tmp_path / "idx"),
            ea1.join(kept1, "vec_id", "left_semi"), dim, K, thr, cent,
        )
        got = (
            similarity.incremental_semantic_verdicts(
                spark, table, similarity.embed_and_assign(d2, cent, dim=dim),
                thr, dim, K, cent,
            )
            .toPandas().sort_values("vec_id").reset_index(drop=True)
        )
        # the planted cross-day dup must drop against the committed keeper
        import hashlib as _h

        surr = lambda c: int(_h.md5(c.encode()).hexdigest()[:15], 16)
        drop = got[~got.kept]
        assert surr("bperm") in set(drop.vec_id)
        assert drop.set_index("vec_id").loc[surr("bperm"), "dup_of"] == surr("a04")

        # batch-union contract (day-1 surrogates win ties by arrival, which
        # the union replay reproduces by seeding day-1 docs as keepers)
        emb_all = similarity.embed_texts_kernel([t for _, t in d1_rows + d2_rows], dim)
        ids_all = np.array([surr(c) for c, _ in d1_rows + d2_rows], dtype=np.int64)
        mn = emb_all / np.maximum(np.linalg.norm(emb_all, axis=1, keepdims=True), 1e-12)
        cl = np.argmax(mn @ cent.T, axis=1)
        n1 = len(d1_rows)
        want_kept = {}
        for c in sorted(set(cl.tolist())):
            idx = np.flatnonzero(cl == c)
            c_old = idx[idx < n1]
            c_new = idx[idx >= n1]
            if not len(c_new):
                continue
            # committed keepers for this cluster = day-1 docs KEPT on day 1
            k1 = {r.vec_id for r in kept1.collect()}
            seed = [i for i in c_old if int(ids_all[i]) in k1]
            sids, kept, _, _ = similarity.semantic_ingest_cluster_kernel(
                ids_all[seed], emb_all[seed], ids_all[c_new], emb_all[c_new], thr
            )
            want_kept.update({int(s): bool(kk) for s, kk in zip(sids, kept)})
        got_clean = got[got.cluster >= 0]
        assert {int(r.vec_id): bool(r.kept) for r in got_clean.itertuples()} == want_kept

        with pytest.raises(ValueError, match="incomparable"):
            similarity.incremental_semantic_verdicts(
                spark, table, similarity.embed_and_assign(d2, cent, dim=dim),
                0.5, dim, K, cent,
            )
        with pytest.raises(ValueError, match="hot_cluster_cap"):
            similarity.incremental_semantic_verdicts(
                spark, table, similarity.embed_and_assign(d2, cent, dim=dim),
                thr, dim, K, cent, hot_cluster_cap=0,
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_recluster_semantic_index_maintenance(spark, tmp_path, monkeypatch):
    """Index maintenance (the semantic recap twin): dedupes at-least-once
    append rows to one per vec_id, retrains/reassigns with a new centroid
    count, preserves the bucket layout, restamps the new codebook digest,
    and a subsequent incremental ingest against the re-clustered index
    still drops a word-permuted copy of a committed keeper. Refuses
    unstamped tables."""
    from pyspark.sql import functions as F

    from docling_gfcr_spark.operators.dedup import _table_bucket_count

    dim, K, thr = 64, 2, 0.95
    rows = [(f"d{i:02d}", " ".join(f"v{i}_{j}" for j in range(10))) for i in range(20)]
    df = spark.createDataFrame(rows, "conv_id string, conv_text string")
    emb = df.select(
        similarity.md5_surrogate_id(F.col("conv_id")).alias("vec_id"),
        similarity.make_hashing_embed_udf(dim)(F.col("conv_text")).alias("embedding"),
    )
    cent = similarity.train_ivf_centroids(emb, n_centroids=K)
    table, path = "t_sem_recluster", str(tmp_path / "idx")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        ea = similarity.embed_and_assign(df, cent, dim=dim)
        with monkeypatch.context() as m:  # a non-default layout to preserve
            m.setattr(similarity, "_SEM_INDEX_BUCKETS", 4)
            similarity.commit_semantic_index(spark, table, path, ea, dim, K, thr, cent)
            # simulate the at-least-once crash window: append one keeper's rows twice
            dup = ea.where(F.col("id") == "d03")
            similarity.commit_semantic_index(
                spark, table, path, dup, dim, K, thr, cent, mode="append"
            )
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == 21  # the duplicate row landed

        new_cent = similarity.recluster_semantic_index(spark, table, path, n_centroids=5)
        assert new_cent.shape == (5, dim)
        t = spark.table(table)
        assert t.count() == 20  # deduped to one row per vec_id
        assert t.select("vec_id").distinct().count() == 20
        assert int(t.agg(F.max("cluster")).first()[0]) <= 4
        assert _table_bucket_count(spark, table) == 4  # layout preserved
        # stamp carries the NEW codebook: digest check passes for the new,
        # refuses the old
        loaded = similarity.load_semantic_centroids(spark, f"{path}_centroids")
        assert similarity.centroids_digest(loaded) == similarity.centroids_digest(new_cent)
        with pytest.raises(ValueError, match="incomparable"):
            similarity.incremental_semantic_verdicts(
                spark, table, similarity.embed_and_assign(df, cent, dim=dim),
                thr, dim, K, cent,
            )
        # functional continuity: a permuted copy of a committed keeper still
        # drops against the re-clustered index
        probe = spark.createDataFrame(
            [("probe", " ".join(reversed(rows[7][1].split(" "))))],
            "conv_id string, conv_text string",
        )
        got = similarity.incremental_semantic_verdicts(
            spark, table, similarity.embed_and_assign(probe, new_cent, dim=dim),
            thr, dim, 5, new_cent,
        ).toPandas()
        assert len(got) == 1 and not got.kept.iloc[0]
        # staged table cleaned up
        assert not spark.catalog.tableExists(f"{table}_recluster")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_recluster")

    # unstamped tables refuse
    plain = spark.createDataFrame(
        [("x", 1, 0, [0.0] * 64)], "id string, vec_id long, cluster int, embedding array<double>"
    )
    from docling_gfcr_spark import io as gio

    gio.write_bucketed(plain, "t_sem_unstamped", str(tmp_path / "un"), key="cluster", n_buckets=2)
    try:
        with pytest.raises(ValueError, match="no semantic param stamp"):
            similarity.recluster_semantic_index(spark, "t_sem_unstamped", str(tmp_path / "un"))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sem_unstamped")


def test_incremental_semantic_hot_cluster_cap_semantics(spark, tmp_path):
    """The skew valve's documented trade, pinned: with a cap, a cluster
    compares new docs against only the cap LOWEST-surrogate committed
    keepers — a new doc duplicating one of those still drops, a new doc
    duplicating a keeper OUTSIDE the cap survives (bounded work, recall
    cost inside oversized clusters). Uncapped, both drop."""
    import hashlib as _h

    from pyspark.sql import functions as F

    dim, thr = 64, 0.95
    rows = [(f"k{i:02d}", " ".join(f"c{i}_{j}" for j in range(10))) for i in range(8)]
    df = spark.createDataFrame(rows, "conv_id string, conv_text string")
    # ONE centroid -> every doc lands in cluster 0 (forced oversized cluster)
    cent = np.zeros((1, dim))
    cent[0, 0] = 1.0
    table, path = "t_sem_cap", str(tmp_path / "idx")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        ea = similarity.embed_and_assign(df, cent, dim=dim)
        similarity.commit_semantic_index(spark, table, path, ea, dim, 1, thr, cent)

        surr = {c: int(_h.md5(c.encode()).hexdigest()[:15], 16) for c, _ in rows}
        by_rank = sorted(rows, key=lambda r: surr[r[0]])
        lo_text = by_rank[0][1]   # inside any cap >= 1
        hi_text = by_rank[-1][1]  # outside cap=3 (8 keepers)
        probe = spark.createDataFrame(
            [("plo", " ".join(reversed(lo_text.split(" ")))),
             ("phi", " ".join(reversed(hi_text.split(" "))))],
            "conv_id string, conv_text string",
        )

        def verdicts(cap):
            return {
                r.conv_id: r.kept
                for r in similarity.incremental_semantic_verdicts(
                    spark, table, similarity.embed_and_assign(probe, cent, dim=dim),
                    thr, dim, 1, cent, hot_cluster_cap=cap,
                ).join(
                    similarity.embed_and_assign(probe, cent, dim=dim).select(
                        "id", "vec_id"
                    ),
                    "vec_id",
                ).withColumnRenamed("id", "conv_id").collect()
            }

        uncapped = verdicts(None)
        assert uncapped == {"plo": False, "phi": False}
        capped = verdicts(3)
        assert capped == {"plo": False, "phi": True}  # the documented recall trade
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_embed_kernel_properties_fuzzed():
    """Hypothesis soak of the embedding kernel's contract: every row is
    unit-norm or exactly zero; token-order permutation never changes the
    vector; and BATCH-SPLIT INVARIANCE — embedding a list in one call
    equals embedding any partition of it (the property Arrow batching
    depends on: worker batch boundaries must never leak into values)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    texts_st = st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=60, deadline=None)
    @given(texts_st, st.integers(min_value=1, max_value=7), st.randoms())
    def check(texts, split_at, rnd):
        m = similarity.embed_texts_kernel(texts, dim=16)
        norms = np.linalg.norm(m, axis=1)
        assert np.all((np.abs(norms - 1.0) < 1e-12) | (norms == 0.0))
        # order invariance: shuffle each text's tokens
        shuffled = []
        for t in texts:
            toks = t.split()
            rnd.shuffle(toks)
            shuffled.append(" ".join(toks))
        m2 = similarity.embed_texts_kernel(shuffled, dim=16)
        assert (m == m2).all()
        # batch-split invariance
        k = split_at % len(texts)
        parts = np.vstack(
            [
                similarity.embed_texts_kernel(chunk, dim=16)
                for chunk in (texts[:k], texts[k:])
                if chunk
            ]
        )
        assert (m == parts).all()

    check()
