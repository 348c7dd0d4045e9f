#!/usr/bin/env python3
"""Compute expected-output fixtures for the non-SQL-expressible queries.

Each ``compute_*`` function is a LOCAL pure-Python/numpy oracle — no Spark —
that reproduces, by independent single-threaded execution, exactly what the
corresponding ``queries()`` entry must return. The results are written as
typed parquet under ``fixtures/`` and the driver's DuckDB oracle reads them
back (``SELECT * FROM read_parquet(...)``), turning the former rows-only
checks into full value-hash checks.

Re-run after changing any kernel or the transcripts/media generators:

    python tools/make_fixtures.py

``tests/test_golden_fixture.py`` fails if a committed fixture goes stale.
"""

from __future__ import annotations

import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
ORACLE_SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _round_half_up6(x: float) -> float:
    """Mirror Spark's F.round(double, 6): HALF_UP over the shortest decimal
    representation of the double (BigDecimal.valueOf semantics)."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def compute_extract_transcripts() -> pd.DataFrame:
    """Local oracle for queries.extract_transcripts (same generator params)."""
    from docling_gfcr_spark import pipeline, transcripts

    rows = []
    for c in range(200):
        for r in transcripts.gen_conv_rows(42, c, mean_turns=6, mega_every=50, skew_factor=10):
            name = f"{r['conv_id']}-{r['turn_idx']:06d}".replace(" ", "_")
            x = pipeline.extract_one(r["text"], r["tool"], name, "agent")
            rows.append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": np.int32(r["turn_idx"]),
                    "method": x["method"],
                    "success": bool(x["success"]),
                    "quality_score": np.int32(x["quality_score"]),
                    "n_spans": np.int32(x["n_spans"]),
                    "word_count": np.int32(x["word_count"]),
                }
            )
    df = pd.DataFrame(rows)
    for c in ("turn_idx", "quality_score", "n_spans", "word_count"):
        df[c] = df[c].astype(np.int32)
    return df


def compute_extract_assembled_convs() -> pd.DataFrame:
    """Local oracle for queries.extract_assembled_convs: per-conv turn-ordered
    newline join of extracted texts -> (n_turns, conv_chars)."""
    from docling_gfcr_spark import pipeline, transcripts

    rows = []
    for c in range(100):
        turns = transcripts.gen_conv_rows(42, c, mean_turns=6)
        texts = {}
        for r in turns:
            name = f"{r['conv_id']}-{r['turn_idx']:06d}".replace(" ", "_")
            texts[r["turn_idx"]] = pipeline.extract_one(r["text"], r["tool"], name, "agent")[
                "extracted_text"
            ]
        joined = "\n".join(texts[t] for t in sorted(texts))
        rows.append(
            {
                "conv_id": turns[0]["conv_id"],
                "n_turns": np.int32(len(turns)),
                "conv_chars": np.int32(len(joined)),
            }
        )
    df = pd.DataFrame(rows)
    df["n_turns"] = df["n_turns"].astype(np.int32)
    df["conv_chars"] = df["conv_chars"].astype(np.int32)
    return df


def compute_multimodal_assembled_convs() -> pd.DataFrame:
    """Local oracle for queries.multimodal_assembled_convs: the identical
    generator + extract_one + media_ref_token replayed single-threaded —
    per-conv interleaved text (media turns replaced by their typed ref
    token), md5-value-checked, plus the ordered media inventory."""
    import hashlib

    from docling_gfcr_spark import pipeline, transcripts
    from docling_gfcr_spark.operators.multimodal import media_ref_token

    rows = []
    for c in range(100):
        turns = transcripts.gen_conv_rows(42, c, mean_turns=6)
        parts: dict[int, str] = {}
        refs: dict[int, str] = {}
        for r in turns:
            ref = (
                media_ref_token(r["text"]) if r["tool"] in pipeline.IMAGE_KINDS else None
            )
            if ref is not None:
                refs[r["turn_idx"]] = ref
                parts[r["turn_idx"]] = ref
            else:
                name = f"{r['conv_id']}-{r['turn_idx']:06d}".replace(" ", "_")
                parts[r["turn_idx"]] = pipeline.extract_one(
                    r["text"], r["tool"], name, "agent"
                )["extracted_text"]
        joined = "\n".join(parts[t] for t in sorted(parts))
        rows.append(
            {
                "conv_id": turns[0]["conv_id"],
                "n_turns": np.int32(len(turns)),
                "n_media": np.int32(len(refs)),
                "conv_chars": np.int32(len(joined)),
                "conv_md5": hashlib.md5(joined.encode("utf-8")).hexdigest(),
                "media_refs": ";".join(f"{t}:{refs[t]}" for t in sorted(refs)),
            }
        )
    df = pd.DataFrame(rows)
    for c in ("n_turns", "n_media", "conv_chars"):
        df[c] = df[c].astype(np.int32)
    return df


def compute_resume_extraction_job() -> pd.DataFrame:
    """Local oracle for queries.resume_extraction_job: the content digest is
    recomputed from the generator + extract_one with no Spark and no lineage
    machinery; parts/skip counts follow from the deterministic wave
    arithmetic (4 parts / 2 waves, crash after wave 1 -> 2 + 2)."""
    import hashlib

    from docling_gfcr_spark import pipeline, transcripts

    total = 0
    digest = 0
    for c in range(40):
        for r in transcripts.gen_conv_rows(7, c, mean_turns=5, mega_every=25, skew_factor=8):
            name = f"{r['conv_id']}-{r['turn_idx']:06d}".replace(" ", "_")
            x = pipeline.extract_one(r["text"], r["tool"], name, "agent")
            key = f"{r['conv_id']}|{r['turn_idx']}|{x['extracted_text']}"
            digest += int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16) % 10**12
            total += 1
    rows = [
        {"run_id": "run1", "parts_committed": 2, "resumed_skipped": 0},
        {"run_id": "run2", "parts_committed": 2, "resumed_skipped": 2},
    ]
    df = pd.DataFrame(rows)
    df["total_rows"] = total
    df["distinct_keys"] = total
    df["content_digest"] = digest
    for c in ("parts_committed", "resumed_skipped", "total_rows", "distinct_keys", "content_digest"):
        df[c] = df[c].astype(np.int64)
    return df


def compute_dedup_simhash() -> pd.DataFrame:
    """Local oracle for queries.dedup_simhash over the sf0.01 documents."""
    import duckdb

    from docling_gfcr_spark.operators.dedup import _simhash64

    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{ORACLE_SF}/documents.parquet')"
    ).fetchdf()
    return pd.DataFrame(
        {
            "doc_id": docs["doc_id"].astype(np.int64),
            "simhash": docs["text"].map(lambda t: _simhash64(t or "")).astype(np.int64),
        }
    )


def compute_dedup_clusters() -> pd.DataFrame:
    """Local oracle for queries.dedup_clusters: the candidate pairs come
    from DUCKDB (the same banding SQL the dedup_minhash_pairs oracle uses),
    clustering from a pure-Python union-find — no Spark anywhere."""
    import duckdb

    from docling_gfcr_spark.queries import MINHASH_PAIRS_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{ORACLE_SF}/documents.parquet')"
    )
    pairs = con.execute(MINHASH_PAIRS_SQL).fetchdf()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = sorted((node, find(node)) for node in parent)
    df = pd.DataFrame(rows, columns=["doc_id", "cluster_id"])
    df["doc_id"] = df["doc_id"].astype(np.int64)
    df["cluster_id"] = df["cluster_id"].astype(np.int64)
    return df


def compute_dedup_minhash_pairs_fast() -> pd.DataFrame:
    """Local oracle for queries.dedup_minhash_pairs_fast: the 'fast' salt-mix
    MinHash family recomputed per doc with none of the Spark kernel's
    machinery (no flush budget, no reduceat, no Arrow batching) — a plain
    per-document loop over the same published construction: base = one
    deterministic siphash per distinct shingle (``pd.util.hash_array``, the
    shared library primitive, same role md5 plays for the DuckDB twins),
    hash_j = splitmix64-finalizer(base ^ salt_j), signature = per-j min,
    band key = mix-fold over the band's signature rows (dedup.py
    _fast_band_keys documents the construction)."""
    import duckdb

    mask = (1 << 64) - 1
    c1, c2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
    golden = 0x9E3779B97F4A7C15

    def mix(z: np.ndarray) -> np.ndarray:
        z = (z ^ (z >> np.uint64(30))) * np.uint64(c1)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(c2)
        return z ^ (z >> np.uint64(31))

    def mix_int(z: int) -> int:  # pure-int twin for the scalar fold
        z = ((z ^ (z >> 30)) * c1) & mask
        z = ((z ^ (z >> 27)) * c2) & mask
        return (z ^ (z >> 31)) & mask

    n_hashes, bands, rows, k = 32, 8, 4, 5
    salts = np.array([mix_int((j * golden) & mask) for j in range(1, n_hashes + 1)],
                     dtype=np.uint64)
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{ORACLE_SF}/documents.parquet')"
    ).fetchdf()
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if text is None or (isinstance(text, float) and np.isnan(text)):
            continue
        words = text.split(" ")
        n = max(1, len(words) - (k - 1))
        shingles = list(dict.fromkeys(" ".join(words[i : i + k]) for i in range(n)))
        base = pd.util.hash_array(np.asarray(shingles, dtype=object)).astype(np.uint64)
        sig = mix(base[:, None] ^ salts[None, :]).min(axis=0)
        for b in range(bands):
            h = golden
            for r in range(rows):
                h = mix_int(h ^ int(sig[b * rows + r]))
            key = h - (1 << 64) if h >= (1 << 63) else h
            buckets.setdefault((b, key), []).append(int(doc_id))
    pairs = set()
    for ids in buckets.values():
        ids = sorted(set(ids))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    df = pd.DataFrame(sorted(pairs), columns=["id_a", "id_b"])
    return df.astype({"id_a": np.int64, "id_b": np.int64})


def compute_emb_neardup_lsh() -> pd.DataFrame:
    """Local oracle for queries.emb_neardup_lsh: the same hyperplane-LSH
    bucketing, candidate pairing, float64 cosine and HALF_UP 6dp rounding —
    computed with plain numpy/dicts (no Spark, no joins)."""
    import duckdb

    from docling_gfcr_spark.operators.similarity import hyperplanes

    n_planes, n_tables, seed, dim, threshold = 6, 8, 42, 64, 0.4
    emb = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{ORACLE_SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchdf()
    ids = emb["vec_id"].to_numpy(dtype=np.int64)
    m = np.asarray([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    planes = hyperplanes(dim, n_planes * n_tables, seed).reshape(n_tables, n_planes, dim)
    weights = 1 << np.arange(n_planes)
    pairs: set[tuple[int, int]] = set()
    for t in range(n_tables):
        bucket = ((m @ planes[t].T) > 0) @ weights
        by_bucket: dict[int, list[int]] = {}
        for row, b in enumerate(bucket):
            by_bucket.setdefault(int(b), []).append(row)
        for members in by_bucket.values():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    a, b2 = members[i], members[j]
                    if ids[a] > ids[b2]:
                        a, b2 = b2, a
                    pairs.add((a, b2))
    rows = []
    norms = np.linalg.norm(m, axis=1)
    for a, b2 in pairs:
        cos = float(np.einsum("i,i->", m[a], m[b2]) / (norms[a] * norms[b2]))
        if cos >= threshold:
            rows.append({"id_a": ids[a], "id_b": ids[b2], "cos": _round_half_up6(cos)})
    df = pd.DataFrame(rows, columns=["id_a", "id_b", "cos"]).sort_values(["id_a", "id_b"])
    df["id_a"] = df["id_a"].astype(np.int64)
    df["id_b"] = df["id_b"].astype(np.int64)
    df["cos"] = df["cos"].astype(np.float64)
    return df.reset_index(drop=True)


def compute_ann_ivf_topk() -> pd.DataFrame:
    """Local oracle for queries.ann_ivf_topk: same deterministic centroids
    (shared pure-numpy spherical_kmeans), but candidate generation / rank is
    plain numpy loops — no joins, no UDFs, no Spark."""
    import duckdb

    from docling_gfcr_spark.operators.similarity import _IVF_SAMPLE_LIMIT, spherical_kmeans

    k, n_centroids, n_probe, seed, iters = 5, 16, 4, 42, 10
    emb = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{ORACLE_SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchdf()
    ids = emb["vec_id"].to_numpy(dtype=np.int64)
    m = np.asarray([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    # trainer samples via md5-threshold (similarity.train_ivf_centroids:
    # hex8(md5('ivf:<id>')) < threshold, fraction = min(1, 1.2*limit/n),
    # rows sorted by id) — mirror the exact rule here
    import hashlib as _hashlib

    sample_limit = _IVF_SAMPLE_LIMIT
    fraction = min(1.0, 1.2 * sample_limit / max(len(ids), 1))
    if fraction < 1.0:
        thr = format(min(int(fraction * 2**32), 2**32 - 1), "08x")
        keep = np.array(
            [_hashlib.md5(f"ivf:{int(i)}".encode()).hexdigest()[:8] < thr for i in ids]
        )
        # trainer truncates the id-sorted sample to sample_limit (hard cap on
        # driver memory); ids are already sorted here — mirror exactly
        sample = m[keep][:sample_limit]
    else:
        sample = m[:sample_limit]
    cent = spherical_kmeans(sample, n_centroids, seed, iters)
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    sims = mn @ cent.T
    cluster = np.argmax(sims, axis=1)  # corpus: nearest centroid
    probe_rows = np.flatnonzero(ids % 100 == 0)
    norms = np.linalg.norm(m, axis=1)
    out = []
    for pr in probe_rows:
        probe_clusters = np.argsort(-sims[pr], kind="stable")[:n_probe]
        cand = np.flatnonzero(np.isin(cluster, probe_clusters))
        cand = cand[ids[cand] != ids[pr]]
        if len(cand) == 0:
            continue
        pv = np.broadcast_to(m[pr], (len(cand), m.shape[1]))
        cos = np.einsum("ij,ij->i", pv, m[cand]) / (norms[pr] * norms[cand])
        # rank by (-cos, neighbor_id): mergesort keeps determinism on ties
        order = np.lexsort((ids[cand], -cos))[:k]
        for rank, j in enumerate(order, start=1):
            out.append(
                {
                    "probe_id": ids[pr],
                    "rank": np.int64(rank),
                    "neighbor_id": ids[cand[j]],
                    "cos": _round_half_up6(cos[j]),
                }
            )
    df = pd.DataFrame(out)
    df["probe_id"] = df["probe_id"].astype(np.int64)
    df["rank"] = df["rank"].astype(np.int64)
    df["neighbor_id"] = df["neighbor_id"].astype(np.int64)
    df["cos"] = df["cos"].astype(np.float64)
    return df


def compute_multimodal_features() -> pd.DataFrame:
    """Local oracle for queries.multimodal_features (n=128, seed=42)."""
    import hashlib

    from docling_gfcr_spark.operators import multimodal as mm

    rows = []
    for i in range(128):
        modality, payload = mm.gen_media_payload(i)
        d = mm.decode_media(payload)
        rows.append(
            {
                "media_id": np.int64(i),
                "modality": modality,
                "n_bytes": np.int64(len(payload)),
                "sha_prefix": hashlib.sha256(payload).hexdigest()[:16],
                "format": d["format"],
                "width": np.int32(d["width"]),
                "height": np.int32(d["height"]),
                "n_frames": np.int32(d["n_frames"]),
                "duration_s": float(d["duration_s"]),
            }
        )
    df = pd.DataFrame(rows)
    df["media_id"] = df["media_id"].astype(np.int64)
    df["n_bytes"] = df["n_bytes"].astype(np.int64)
    for c in ("width", "height", "n_frames"):
        df[c] = df[c].astype(np.int32)
    df["duration_s"] = df["duration_s"].astype(np.float64)
    return df


def compute_multimodal_transformed() -> pd.DataFrame:
    """Local oracle for queries.multimodal_transformed (transform then
    feature-extract, all pure functions)."""
    import hashlib

    from docling_gfcr_spark.operators import multimodal as mm

    rows = []
    for i in range(128):
        modality, payload = mm.gen_media_payload(i)
        blob, _ = mm.transform_payload(payload, max_side=20, frame_step=4)
        d = mm.decode_media(blob)
        rows.append(
            {
                "media_id": np.int64(i),
                "modality": modality,
                "n_bytes": np.int64(len(blob)),
                "sha_prefix": hashlib.sha256(blob).hexdigest()[:16],
                "format": d["format"],
                "width": np.int32(d["width"]),
                "height": np.int32(d["height"]),
                "n_frames": np.int32(d["n_frames"]),
                "duration_s": float(d["duration_s"]),
            }
        )
    df = pd.DataFrame(rows)
    df["media_id"] = df["media_id"].astype(np.int64)
    df["n_bytes"] = df["n_bytes"].astype(np.int64)
    for c in ("width", "height", "n_frames"):
        df[c] = df[c].astype(np.int32)
    df["duration_s"] = df["duration_s"].astype(np.float64)
    return df


def compute_office_bytes_roundtrip() -> pd.DataFrame:
    """Local oracle for queries.office_bytes_roundtrip: the identical
    single-threaded build->parse loop over all four real-binary kernels."""
    from docling_gfcr_spark.queries import _binary_roundtrip_row

    df = pd.DataFrame([_binary_roundtrip_row(i) for i in range(240)])
    df["doc_id"] = df["doc_id"].astype(np.int64)
    return df


# -- shared helpers for the two corpus-chain oracles (build + ingest): the
# -- decontaminate / scrub / mix / pack conventions exist ONCE so the twin
# -- fixtures cannot silently desynchronize --------------------------------


def _oracle_assemble(cid: str, turns: list) -> tuple:
    """(source, conv_text) for one conversation: cli-mode extraction with
    the REAL per-turn names Spark derives — cli output is name-independent
    EXCEPT when the fallback-title wrap fires (the title embeds the name)."""
    from docling_gfcr_spark import pipeline

    turns = sorted(turns)
    parts = []
    for turn_idx, tool, text in turns:
        name = f"{cid}-{turn_idx:06d}".replace(" ", "_")
        parts.append(pipeline.extract_one(text, tool, name, "cli")["extracted_text"])
    return turns[0][1], "\n".join(parts)


def _oracle_exact_keep_min(docs: dict) -> dict:
    """Exact dedup, keep-first (min id per content hash)."""
    import hashlib

    byhash: dict = {}
    for cid in sorted(docs):
        byhash.setdefault(hashlib.md5(docs[cid][1].encode("utf-8")).hexdigest(), cid)
    keep = set(byhash.values())
    return {cid: v for cid, v in docs.items() if cid in keep}


def _oracle_shingles(text: str, k: int = 8) -> set:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(max(1, len(w) - (k - 1)))}


def _hex_threshold(frac: float) -> str:
    """The md5-threshold convention of sampling.py (incl. the 2**32-1 clamp)."""
    return format(min(int(frac * 2**32), 2**32 - 1), "08x")


def _oracle_decontaminate(docs: dict, held_ids: list) -> dict:
    """Drop docs sharing any word-8-gram with the heldout texts (heldout
    members drop themselves: they share all their shingles)."""
    held_sh: set = set()
    for c in held_ids:
        held_sh |= _oracle_shingles(docs[c][1])
    return {c: v for c, v in docs.items() if not (_oracle_shingles(v[1]) & held_sh)}


def _oracle_scrub_tokens(docs: dict) -> pd.DataFrame:
    """PII-scrub + whitespace token counts via the validated DuckDB twins."""
    import duckdb

    from docling_gfcr_spark.operators.text_analysis import pii_redacted_text_sql

    con = duckdb.connect()
    con.register(
        "docs",
        pd.DataFrame(
            {
                "doc_id": list(docs),
                "source": [docs[c][0] for c in docs],
                "text": [docs[c][1] for c in docs],
            }
        ),
    )
    return con.execute(
        f"WITH s AS (SELECT doc_id, source, {pii_redacted_text_sql()} AS text FROM docs) "
        "SELECT doc_id, source, "
        "len(string_split_regex(trim(text), '\\s+')) AS n_tokens FROM s"
    ).fetchdf()


def _oracle_mix(scrub: pd.DataFrame, weights: dict) -> list:
    """Per-source md5-threshold sampling (salt 'mix') -> [(doc_id, n_tokens)]."""
    import hashlib

    def keep(src: str, cid: str) -> bool:
        frac = weights.get(src, 1.0)
        if frac >= 1.0:
            return True
        return hashlib.md5(f"mix:{cid}".encode()).hexdigest()[:8] < _hex_threshold(frac)

    return [
        (str(c), int(n))
        for c, s, n in zip(scrub["doc_id"], scrub["source"], scrub["n_tokens"])
        if keep(str(s), str(c))
    ]


def _oracle_pack(mixed: list, budget: int = 2048) -> tuple:
    """Greedy packing in (md5('pack:'||id), id) order -> (total_tokens,
    digest) with the 15-hex/1e12 row-digest convention (queries._md5_digest_col)."""
    import hashlib

    order = sorted((hashlib.md5(f"pack:{c}".encode()).hexdigest(), c, n) for c, n in mixed)
    before = total = digest = 0
    for _h, c, n in order:
        sb = before // budget
        key = f"{c}|{n}|{before}|{sb}"
        digest += int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16) % 10**12
        total += n
        before += n
    return total, digest


def compute_corpus_build_end_to_end() -> pd.DataFrame:
    """Local oracle for queries.corpus_build_end_to_end: the ENTIRE
    extract -> assemble -> dedup -> decontaminate -> scrub -> mix -> pack
    chain replayed with no Spark — pure-Python kernels for the stages DuckDB
    cannot express (extraction, assembly, union-find) and the validated
    DuckDB twins for the rest (minhash banding, PII regexps, token counts).
    committed_by follows from the deterministic crash point (run1 crashes
    after dedup_near; run2 resumes)."""
    import hashlib

    import duckdb

    from docling_gfcr_spark import transcripts
    from docling_gfcr_spark.queries import MINHASH_PAIRS_SQL

    # stages 1-2: cli-mode extraction + assembly (shared helper)
    convs: dict[str, list] = {}
    for c in range(40):
        rows = transcripts.gen_conv_rows(13, c, mean_turns=5, mega_every=25, skew_factor=8)
        cid = rows[0]["conv_id"]
        convs[cid] = [(r["turn_idx"], r["tool"], r["text"]) for r in rows]
    for i in (1, 2, 3):  # whole-conversation copies -> exact dups
        cid = f"conv-{i:08d}"
        convs[cid + "-copy"] = list(convs[cid])
    for i in (4, 5):  # first-turn-dropped copies -> near dups
        cid = f"conv-{i:08d}"
        convs[cid + "-nd"] = [t for t in convs[cid] if t[0] > 0]
    n_extract = sum(len(v) for v in convs.values())
    docs = {cid: _oracle_assemble(cid, turns) for cid, turns in convs.items()}
    n_assemble = len(docs)

    # stage 3: exact dedup — min conv_id per content hash survives
    docs = _oracle_exact_keep_min(docs)
    n_exact = len(docs)

    # stage 4: near dedup — the SAME DuckDB banding SQL the minhash oracle
    # uses (32 hashes / 8 bands / 5-word shingles / md5), union-find, keep
    # the min-id representative per cluster
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(docs), "text": [docs[c][1] for c in docs]}),
    )
    pairs = con.execute(MINHASH_PAIRS_SQL).fetchdf()
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(str(a)), find(str(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {node for node in parent if find(node) != node}
    docs = {cid: v for cid, v in docs.items() if cid not in losers}
    n_near = len(docs)

    # stages 5-8: decontaminate / scrub / mix / pack (shared helpers)
    held = [
        c for c in docs
        if hashlib.md5(f"held:{c}".encode()).hexdigest()[:8] < _hex_threshold(0.15)
    ]
    docs = _oracle_decontaminate(docs, held)
    n_decon = len(docs)
    scrub = _oracle_scrub_tokens(docs)
    n_scrub = len(scrub)
    mixed = _oracle_mix(scrub, {"html": 0.6, "json": 0.5})
    n_mix = len(mixed)
    total, digest = _oracle_pack(mixed, budget=2048)

    stages = [
        ("extract", n_extract, "run1"),
        ("assemble", n_assemble, "run1"),
        ("dedup_exact", n_exact, "run1"),
        ("dedup_near", n_near, "run1"),
        ("decontaminate", n_decon, "run2"),
        ("scrub", n_scrub, "run2"),
        ("mix", n_mix, "run2"),
        ("pack", n_mix, "run2"),
    ]
    df = pd.DataFrame(
        [
            {"stage_idx": i, "stage": s, "committed_by": r, "n_out": n}
            for i, (s, n, r) in enumerate(stages)
        ]
    )
    df["stage_idx"] = df["stage_idx"].astype(np.int32)
    df["n_out"] = df["n_out"].astype(np.int64)
    df["packed_rows"] = np.int64(n_mix)
    df["packed_total_tokens"] = np.int64(total)
    df["packed_digest"] = np.int64(digest)
    return df


def _oracle_semantic(docs: dict, dim: int, n_centroids: int, threshold: float) -> dict:
    """Semantic-dedup stage replay on a doc dict — the SHARED kernels
    (embed_texts_kernel / spherical_kmeans / semantic_dedup_cluster_kernel)
    over md5-surrogate ids, mirroring similarity.semantic_prune: the trainer
    sees the full sample sorted by surrogate (fraction=1.0 at this scale),
    assignment is argmax over normalized rows, keep-first is surrogate
    order."""
    import hashlib

    from docling_gfcr_spark.operators.similarity import (
        embed_texts_kernel,
        semantic_dedup_cluster_kernel,
        spherical_kmeans,
    )

    cids = list(docs)
    ids = np.array(
        [int(hashlib.md5(c.encode("utf-8")).hexdigest()[:15], 16) for c in cids],
        dtype=np.int64,
    )
    assert len(set(ids.tolist())) == len(cids), "surrogate collision in oracle"
    m = embed_texts_kernel([docs[c][1] for c in cids], dim)
    order = np.argsort(ids, kind="stable")  # trainer sorts its sample by vec_id
    cent = spherical_kmeans(m[order], n_centroids, seed=42, iters=10)
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    cluster = np.argmax(mn @ cent.T, axis=1)
    by_surr = {int(s): c for s, c in zip(ids, cids)}
    keep: set = set()
    for c in sorted(set(cluster.tolist())):
        idx = np.flatnonzero(cluster == c)
        sids, kept, _, _ = semantic_dedup_cluster_kernel(ids[idx], m[idx], threshold)
        keep |= {by_surr[int(s)] for s, k in zip(sids, kept) if k}
    return {c: v for c, v in docs.items() if c in keep}


def compute_corpus_build_semantic() -> pd.DataFrame:
    """Local oracle for queries.corpus_build_semantic: the nine-stage build
    (with the optional SemDeDup stage mounted) replayed with no Spark —
    same machinery as compute_corpus_build_end_to_end plus
    :func:`_oracle_semantic` between near-dedup and decontamination.
    committed_by follows from the crash point (run1 crashes after
    dedup_semantic; run2 resumes)."""
    import hashlib

    import duckdb

    from docling_gfcr_spark import transcripts
    from docling_gfcr_spark.queries import MINHASH_PAIRS_SQL, SEMANTIC_PLANT_TURNS

    convs: dict[str, list] = {}
    for c in range(30):
        rows = transcripts.gen_conv_rows(13, c, mean_turns=5, mega_every=25, skew_factor=8)
        cid = rows[0]["conv_id"]
        convs[cid] = [(r["turn_idx"], r["tool"], r["text"]) for r in rows]
    convs["conv-00000001-copy"] = list(convs["conv-00000001"])  # exact dup
    convs["conv-00000002-nd"] = [t for t in convs["conv-00000002"] if t[0] > 0]
    for cid, t, _role, text, tool in SEMANTIC_PLANT_TURNS:  # the MinHash-blind pair
        convs.setdefault(cid, []).append((t, tool, text))
    n_extract = sum(len(v) for v in convs.values())
    docs = {cid: _oracle_assemble(cid, turns) for cid, turns in convs.items()}
    n_assemble = len(docs)

    docs = _oracle_exact_keep_min(docs)
    n_exact = len(docs)

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(docs), "text": [docs[c][1] for c in docs]}),
    )
    pairs = con.execute(MINHASH_PAIRS_SQL).fetchdf()
    assert not any(
        "sem-" in str(a) or "sem-" in str(b)
        for a, b in zip(pairs["id_a"], pairs["id_b"])
    ), "the planted pair must be MinHash-blind for the stage split to mean anything"
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(str(a)), find(str(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {node for node in parent if find(node) != node}
    docs = {cid: v for cid, v in docs.items() if cid not in losers}
    n_near = len(docs)

    docs = _oracle_semantic(docs, dim=64, n_centroids=4, threshold=0.95)
    n_sem = len(docs)
    assert n_sem < n_near, "the semantic stage must drop the planted twin"

    held = [
        c for c in docs
        if hashlib.md5(f"held:{c}".encode()).hexdigest()[:8] < _hex_threshold(0.15)
    ]
    docs = _oracle_decontaminate(docs, held)
    n_decon = len(docs)
    scrub = _oracle_scrub_tokens(docs)
    n_scrub = len(scrub)
    mixed = _oracle_mix(scrub, {"html": 0.6, "json": 0.5})
    n_mix = len(mixed)
    total, digest = _oracle_pack(mixed, budget=2048)

    stages = [
        ("extract", n_extract, "run1"),
        ("assemble", n_assemble, "run1"),
        ("dedup_exact", n_exact, "run1"),
        ("dedup_near", n_near, "run1"),
        ("dedup_semantic", n_sem, "run1"),
        ("decontaminate", n_decon, "run2"),
        ("scrub", n_scrub, "run2"),
        ("mix", n_mix, "run2"),
        ("pack", n_mix, "run2"),
    ]
    df = pd.DataFrame(
        [
            {"stage_idx": i, "stage": s, "committed_by": r, "n_out": n}
            for i, (s, n, r) in enumerate(stages)
        ]
    )
    df["stage_idx"] = df["stage_idx"].astype(np.int32)
    df["n_out"] = df["n_out"].astype(np.int64)
    df["packed_rows"] = np.int64(n_mix)
    df["packed_total_tokens"] = np.int64(total)
    df["packed_digest"] = np.int64(digest)
    return df


def compute_corpus_ingest_end_to_end() -> pd.DataFrame:
    """Local oracle for queries.corpus_ingest_end_to_end: the two-day
    daily-ingest chain replayed with no Spark. Day 1 (bootstrap) and day 2
    (incremental vs the committed index) both reduce to: extraction +
    assembly via the pure-Python kernels, exact dedup keep-min, candidate
    pairs via the validated DuckDB minhash twin, and the pairwise
    KEEP-FIRST policy of dedup.keep_first_drops (committed side wins;
    of a both-new pair the larger id drops). committed_by follows from the
    deterministic crash point (d2a crashes after dedup_incr; d2b resumes)."""
    import hashlib

    import duckdb

    from docling_gfcr_spark import transcripts
    from docling_gfcr_spark.queries import MINHASH_PAIRS_SQL

    convs: dict[str, list] = {}
    for c in range(30):
        rows = transcripts.gen_conv_rows(13, c, mean_turns=5, mega_every=25, skew_factor=8)
        cid = rows[0]["conv_id"]
        convs[cid] = [(r["turn_idx"], r["tool"], r["text"]) for r in rows]

    def mine_pairs(texts: dict) -> list:
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}),
        )
        pairs = con.execute(MINHASH_PAIRS_SQL).fetchdf()
        return [(str(a), str(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])]

    # -- day 1: bootstrap --------------------------------------------------
    day1_turns = {cid: convs[cid] for cid in (f"conv-{i:08d}" for i in range(20))}
    day1_turns["conv-00000001-copy"] = list(convs["conv-00000001"])
    docs1 = _oracle_exact_keep_min(
        {cid: _oracle_assemble(cid, t) for cid, t in day1_turns.items()}
    )
    drops1 = {b for _a, b in mine_pairs({c: v[1] for c, v in docs1.items()})}
    docs1 = {cid: v for cid, v in docs1.items() if cid not in drops1}
    day1_surv = len(docs1)

    # -- day 2: incremental vs the committed index -------------------------
    day2_turns = {cid: convs[cid] for cid in (f"conv-{i:08d}" for i in range(20, 30))}
    day2_turns["conv-00000002-d2copy"] = list(convs["conv-00000002"])
    day2_turns["conv-00000003-nd"] = [t for t in convs["conv-00000003"] if t[0] > 0]
    day2_turns["conv-00000020-copy"] = list(convs["conv-00000020"])
    n_extract = sum(len(v) for v in day2_turns.values())
    docs2 = {cid: _oracle_assemble(cid, t) for cid, t in day2_turns.items()}
    n_assemble = len(docs2)
    docs2 = _oracle_exact_keep_min(docs2)
    n_exact = len(docs2)

    new_ids = set(docs2)
    union_texts = {c: v[1] for c, v in docs1.items()}
    union_texts.update({c: v[1] for c, v in docs2.items()})
    drops2: set = set()
    for a, b in mine_pairs(union_texts):
        a_new, b_new = a in new_ids, b in new_ids
        if a_new and b_new:
            drops2.add(b)  # keep-first: larger id drops (id_a < id_b)
        elif a_new and not b_new:
            drops2.add(a)  # duplicates a committed doc
        elif b_new and not a_new:
            drops2.add(b)
    docs2 = {cid: v for cid, v in docs2.items() if cid not in drops2}
    n_incr = len(docs2)
    band_rows = 8 * (day1_surv + n_incr)
    surv_digest = sum(
        int(hashlib.md5(c.encode()).hexdigest()[:15], 16) % 10**12 for c in docs2
    )

    # -- decontaminate / scrub / mix / pack (shared helpers) ---------------
    held = [
        c for c in docs2
        if hashlib.md5(f"held:{c}".encode()).hexdigest()[:8] < _hex_threshold(0.25)
    ]
    docs2 = _oracle_decontaminate(docs2, held)
    n_decon = len(docs2)
    scrub = _oracle_scrub_tokens(docs2)
    n_scrub = len(scrub)
    mixed = _oracle_mix(scrub, {"html": 0.6, "json": 0.5})
    n_mix = len(mixed)
    total, digest = _oracle_pack(mixed, budget=2048)

    stages = [
        ("extract", n_extract, "d2a"),
        ("assemble", n_assemble, "d2a"),
        ("dedup_exact", n_exact, "d2a"),
        ("dedup_incr", n_incr, "d2a"),
        ("decontaminate", n_decon, "d2b"),
        ("scrub", n_scrub, "d2b"),
        ("mix", n_mix, "d2b"),
        ("pack", n_mix, "d2b"),
    ]
    df = pd.DataFrame(
        [
            {"stage_idx": i, "stage": s, "committed_by": r, "n_out": n}
            for i, (s, n, r) in enumerate(stages)
        ]
    )
    df["stage_idx"] = df["stage_idx"].astype(np.int32)
    df["n_out"] = df["n_out"].astype(np.int64)
    df["surv_digest"] = np.int64(surv_digest)
    df["band_rows"] = np.int64(band_rows)
    df["packed_rows"] = np.int64(n_mix)
    df["packed_total_tokens"] = np.int64(total)
    df["packed_digest"] = np.int64(digest)
    df["day1_survivors"] = np.int64(day1_surv)
    return df


def compute_corpus_ingest_semantic() -> pd.DataFrame:
    """Local oracle for queries.corpus_ingest_semantic: the two-day ingest
    chain with INCREMENTAL SemDeDup replayed with no Spark. Day 1 bootstraps
    both indexes (band keys via the DuckDB minhash twin; the codebook via
    the shared spherical_kmeans on the bootstrap batch's embeddings, sorted
    by surrogate — the trainer's fraction=1.0 rule at this scale); day 2
    compares per cluster against the day-1 KEPT embeddings through the
    shared semantic_ingest_cluster_kernel. committed_by follows from the
    crash point (d2a crashes after dedup_semantic; d2b resumes)."""
    import hashlib

    import duckdb

    from docling_gfcr_spark import transcripts
    from docling_gfcr_spark.operators.similarity import (
        embed_texts_kernel,
        semantic_ingest_cluster_kernel,
        spherical_kmeans,
    )
    from docling_gfcr_spark.queries import MINHASH_PAIRS_SQL, SEMANTIC_PLANT_TURNS

    dim, n_centroids, threshold = 64, 4, 0.95
    surr = lambda c: int(hashlib.md5(c.encode("utf-8")).hexdigest()[:15], 16)

    convs: dict[str, list] = {}
    for c in range(30):
        rows = transcripts.gen_conv_rows(13, c, mean_turns=5, mega_every=25, skew_factor=8)
        cid = rows[0]["conv_id"]
        convs[cid] = [(r["turn_idx"], r["tool"], r["text"]) for r in rows]
    for cid, t, _role, text, tool in SEMANTIC_PLANT_TURNS:
        convs.setdefault(cid, []).append((t, tool, text))

    def mine_pairs(texts: dict) -> list:
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}),
        )
        pairs = con.execute(MINHASH_PAIRS_SQL).fetchdf()
        return [(str(a), str(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])]

    def assign(texts: dict, cent: np.ndarray) -> tuple[dict, dict]:
        """cid -> (cluster, embedding row)."""
        cids = list(texts)
        m = embed_texts_kernel([texts[c] for c in cids], dim)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        cl = np.argmax(mn @ cent.T, axis=1)
        return {c: int(k) for c, k in zip(cids, cl)}, {c: m[i] for i, c in enumerate(cids)}

    def semantic_pass(
        new_docs: dict, cent: np.ndarray, committed: dict
    ) -> tuple[dict, dict, dict]:
        """committed: cid -> (cluster, embedding) of standing keepers;
        returns (surviving subset of new_docs, cluster per cid, embedding
        per cid)."""
        cl_new, emb_new = assign({c: v[1] for c, v in new_docs.items()}, cent)
        keep: set = set()
        for c in sorted(set(cl_new.values())):
            n_ids = [cid for cid in new_docs if cl_new[cid] == c]
            c_ids = [cid for cid in committed if committed[cid][0] == c]
            sids, kept, _, _ = semantic_ingest_cluster_kernel(
                np.array([surr(x) for x in c_ids], dtype=np.int64),
                np.array([committed[x][1] for x in c_ids], dtype=np.float64).reshape(
                    len(c_ids), dim
                ),
                np.array([surr(x) for x in n_ids], dtype=np.int64),
                np.array([emb_new[x] for x in n_ids], dtype=np.float64),
                threshold,
            )
            by_surr = {surr(x): x for x in n_ids}
            keep |= {by_surr[int(s)] for s, k in zip(sids, kept) if k}
        return {c: v for c, v in new_docs.items() if c in keep}, cl_new, emb_new

    # -- day 1: bootstrap ---------------------------------------------------
    day1_turns = {cid: convs[cid] for cid in (f"conv-{i:08d}" for i in range(20))}
    day1_turns["conv-00000001-copy"] = list(convs["conv-00000001"])
    day1_turns["sem-orig-000"] = convs["sem-orig-000"]
    docs1 = _oracle_exact_keep_min(
        {cid: _oracle_assemble(cid, t) for cid, t in day1_turns.items()}
    )
    drops1 = {b for _a, b in mine_pairs({c: v[1] for c, v in docs1.items()})}
    docs1 = {cid: v for cid, v in docs1.items() if cid not in drops1}
    day1_surv = len(docs1)

    # codebook: trained once on the bootstrap batch, sorted by surrogate
    cids1 = sorted(docs1, key=surr)
    m1 = embed_texts_kernel([docs1[c][1] for c in cids1], dim)
    cent = spherical_kmeans(m1, n_centroids, seed=42, iters=10)
    docs1_sem, cl1, emb1 = semantic_pass(docs1, cent, committed={})
    index = {c: (cl1[c], emb1[c]) for c in docs1_sem}

    # -- day 2: incremental vs both standing indexes -------------------------
    day2_turns = {cid: convs[cid] for cid in (f"conv-{i:08d}" for i in range(20, 30))}
    day2_turns["conv-00000002-d2copy"] = list(convs["conv-00000002"])
    day2_turns["sem-perm-000"] = convs["sem-perm-000"]
    n_extract = sum(len(v) for v in day2_turns.values())
    docs2 = {cid: _oracle_assemble(cid, t) for cid, t in day2_turns.items()}
    n_assemble = len(docs2)
    docs2 = _oracle_exact_keep_min(docs2)
    n_exact = len(docs2)

    new_ids = set(docs2)
    union_texts = {c: v[1] for c, v in docs1.items()}  # band index = incr survivors
    union_texts.update({c: v[1] for c, v in docs2.items()})
    drops2: set = set()
    for a, b in mine_pairs(union_texts):
        a_new, b_new = a in new_ids, b in new_ids
        if a_new and b_new:
            drops2.add(b)
        elif a_new and not b_new:
            drops2.add(a)
        elif b_new and not a_new:
            drops2.add(b)
    docs2 = {cid: v for cid, v in docs2.items() if cid not in drops2}
    n_incr = len(docs2)
    band_rows = 8 * (day1_surv + n_incr)

    docs2_sem, _cl2, _emb2 = semantic_pass(docs2, cent, committed=index)
    n_sem = len(docs2_sem)
    assert "sem-perm-000" in docs2 and "sem-perm-000" not in docs2_sem, (
        "the permuted cross-day dup must pass incremental MinHash and be "
        "dropped by the semantic stage"
    )
    sem_index_ids = len(index) + n_sem
    surv_digest = sum(
        int(hashlib.md5(c.encode()).hexdigest()[:15], 16) % 10**12 for c in docs2_sem
    )

    # -- decontaminate / scrub / mix / pack (shared helpers) -----------------
    held = [
        c for c in docs2_sem
        if hashlib.md5(f"held:{c}".encode()).hexdigest()[:8] < _hex_threshold(0.25)
    ]
    docs_tail = _oracle_decontaminate(docs2_sem, held)
    n_decon = len(docs_tail)
    scrub = _oracle_scrub_tokens(docs_tail)
    n_scrub = len(scrub)
    mixed = _oracle_mix(scrub, {"html": 0.6, "json": 0.5})
    n_mix = len(mixed)
    total, digest = _oracle_pack(mixed, budget=2048)

    stages = [
        ("extract", n_extract, "d2a"),
        ("assemble", n_assemble, "d2a"),
        ("dedup_exact", n_exact, "d2a"),
        ("dedup_incr", n_incr, "d2a"),
        ("dedup_semantic", n_sem, "d2a"),
        ("decontaminate", n_decon, "d2b"),
        ("scrub", n_scrub, "d2b"),
        ("mix", n_mix, "d2b"),
        ("pack", n_mix, "d2b"),
    ]
    df = pd.DataFrame(
        [
            {"stage_idx": i, "stage": s, "committed_by": r, "n_out": n}
            for i, (s, n, r) in enumerate(stages)
        ]
    )
    df["stage_idx"] = df["stage_idx"].astype(np.int32)
    df["n_out"] = df["n_out"].astype(np.int64)
    df["surv_digest"] = np.int64(surv_digest)
    df["band_rows"] = np.int64(band_rows)
    df["sem_index_ids"] = np.int64(sem_index_ids)
    df["packed_rows"] = np.int64(n_mix)
    df["packed_total_tokens"] = np.int64(total)
    df["packed_digest"] = np.int64(digest)
    df["day1_survivors"] = np.int64(day1_surv)
    return df


def compute_semantic_dedup() -> pd.DataFrame:
    """Local oracle for queries.semantic_dedup: the trainer's md5-threshold
    sample rule + shared spherical_kmeans + argmax assignment (the same
    first-occurrence tie rule as the Spark assign UDF's stable argsort),
    then per cluster the IDENTICAL shared greedy kernel
    (similarity.semantic_dedup_cluster_kernel) — bit-identical floats by
    construction."""
    import duckdb
    import hashlib as _hashlib

    from docling_gfcr_spark.operators.similarity import (
        _IVF_SAMPLE_LIMIT,
        semantic_dedup_cluster_kernel,
        spherical_kmeans,
    )

    n_centroids, threshold, seed, iters = 16, 0.4, 42, 10
    emb = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{ORACLE_SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchdf()
    ids = emb["vec_id"].to_numpy(dtype=np.int64)
    m = np.asarray([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    sample_limit = _IVF_SAMPLE_LIMIT
    fraction = min(1.0, 1.2 * sample_limit / max(len(ids), 1))
    if fraction < 1.0:
        thr = format(min(int(fraction * 2**32), 2**32 - 1), "08x")
        keep = np.array(
            [_hashlib.md5(f"ivf:{int(i)}".encode()).hexdigest()[:8] < thr for i in ids]
        )
        sample = m[keep][:sample_limit]
    else:
        sample = m[:sample_limit]
    cent = spherical_kmeans(sample, n_centroids, seed, iters)
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    cluster = np.argmax(mn @ cent.T, axis=1)
    rows = []
    for c in sorted(set(cluster.tolist())):
        idx = np.flatnonzero(cluster == c)
        sids, kept, dup_of, dup_sim = semantic_dedup_cluster_kernel(
            ids[idx], m[idx], threshold
        )
        for i in range(len(sids)):
            rows.append(
                {
                    "vec_id": sids[i],
                    "cluster": np.int32(c),
                    "kept": bool(kept[i]),
                    "dup_of": dup_of[i],
                    "dup_sim": dup_sim[i],
                }
            )
    df = pd.DataFrame(rows).sort_values("vec_id").reset_index(drop=True)
    df["vec_id"] = df["vec_id"].astype(np.int64)
    df["cluster"] = df["cluster"].astype(np.int32)
    df["kept"] = df["kept"].astype(bool)
    df["dup_of"] = df["dup_of"].astype(np.int64)
    df["dup_sim"] = df["dup_sim"].astype(np.float64)
    return df


COMPUTE = {
    "extract_transcripts": compute_extract_transcripts,
    "extract_assembled_convs": compute_extract_assembled_convs,
    "multimodal_assembled_convs": compute_multimodal_assembled_convs,
    "resume_extraction_job": compute_resume_extraction_job,
    "dedup_simhash": compute_dedup_simhash,
    "dedup_clusters": compute_dedup_clusters,
    "dedup_minhash_pairs_fast": compute_dedup_minhash_pairs_fast,
    "emb_neardup_lsh": compute_emb_neardup_lsh,
    "ann_ivf_topk": compute_ann_ivf_topk,
    "semantic_dedup": compute_semantic_dedup,
    "multimodal_features": compute_multimodal_features,
    "multimodal_transformed": compute_multimodal_transformed,
    "office_bytes_roundtrip": compute_office_bytes_roundtrip,
    "corpus_build_end_to_end": compute_corpus_build_end_to_end,
    "corpus_build_semantic": compute_corpus_build_semantic,
    "corpus_ingest_semantic": compute_corpus_ingest_semantic,
    "corpus_ingest_end_to_end": compute_corpus_ingest_end_to_end,
}


# fixtures whose oracle READS the sf tables (documents/embeddings): their
# expected values change with SPARK_GRAFT_ORACLE_SF; a non-default SF run
# computes ONLY these, into fixtures/<sftag>/ (queries._SF_FIXTURE_SQL
# resolves the matching subdir at check time). dedup_clusters stays listed
# so its union-find recompute remains available for cross-checks, though
# the driver oracle for clusters is the live recursive-CTE SQL.
SF_DEPENDENT = (
    "dedup_simhash",
    "dedup_clusters",
    "dedup_minhash_pairs_fast",
    "emb_neardup_lsh",
    "ann_ivf_topk",
    "semantic_dedup",
)


def main(only: list[str]) -> None:
    sf_tag = os.path.basename(ORACLE_SF.rstrip("/"))
    out_dir = FIXTURE_DIR if sf_tag == "sf0.01" else os.path.join(FIXTURE_DIR, sf_tag)
    names = COMPUTE if sf_tag == "sf0.01" else {
        n: COMPUTE[n] for n in SF_DEPENDENT
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in names.items():
        if only and name not in only:
            continue
        df = fn()
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        print(f"wrote {path}: {len(df)} rows, dtypes={df.dtypes.to_dict()}")


if __name__ == "__main__":
    main(sys.argv[1:])
