"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k for a probe set — the correctness
  baseline. r8 shape: ONE mapInPandas kernel over the corpus (probe matrix
  in the task closure) computing the cosine as the SAME sequential
  left-fold in DOUBLE the former zip_with/aggregate expression evaluated —
  bit-identical to DuckDB's list_cosine_similarity(::DOUBLE[]) — plus
  per-batch top-k, so the final window ranks ~batches x P x k survivors.
  Linear in corpus size, no shuffle or join of the corpus.
- ``ivf_topk``: the approximate path — a spherical-k-means coarse quantizer;
  each probe re-ranks exactly inside its 4 nearest of 16 clusters, so it
  scores ~1/4 of the corpus. Recall measured against
  cosine_topk in tests.
- ``embedding_neardup_pairs``: all pairs above a cosine threshold inside
  random-hyperplane LSH buckets (signs of dot-products with seed-derived
  Gaussian hyperplanes) — embedding-space near-duplicate detection.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_gfcr_spark.operators.util import ensure_parallelism

#: neighbours kept per probe by cosine_topk and ivf_topk
_TOPK = 5
#: ivf_topk's codebook size and the clusters each probe visits
_IVF_CENTROIDS = 16
_IVF_PROBE = 4
#: rows of one per-bucket pair chunk in _bucket_pairs_kernel (peak memory)
_PAIR_CHUNK = 200_000
#: hard cap on the centroid trainer's driver-side sample
_IVF_SAMPLE_LIMIT = 20_000


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a, b) -> Column:
    """Sequential-fold cosine in DOUBLE — bit-exact vs DuckDB's
    list_cosine_similarity (oracle-checked paths use this). try_divide:
    under ANSI mode a zero-norm vector would otherwise throw
    DIVIDE_BY_ZERO and kill the job; NULL is filtered by every ranking."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _seq_sq_norms(m: np.ndarray) -> np.ndarray:
    """Row norms via the SAME sequential left-fold as Catalyst's
    ``sqrt(aggregate(transform(a, x*x), 0.0, acc+x))``: ``acc += m[:,j]**2``
    in index order starting from 0.0 is IEEE-identical per element to the
    scalar fold, so results are bit-exact vs the HOF expression (and the
    DuckDB oracle it was verified against)."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for j in range(m.shape[1]):
        acc += m[:, j] * m[:, j]
    return np.sqrt(acc)


def cosine_topk(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """Exact top-``_TOPK`` neighbours of each probe by ``embedding`` (probe
    matrix shipped in the task closure x one corpus scan).

    Plan shape (r8): ONE narrow ``mapInPandas`` over the corpus computing all
    probe cosines per Arrow batch and keeping only each probe's per-batch
    top-k, then a window over the tiny survivor set (~batches x P x k rows) —
    replacing the former crossJoin(broadcast) + interpreted zip_with/aggregate
    HOF cosine, which materialized |corpus| x |probes| rows through the
    CodegenFallback expression path and shuffled them all into the window
    (86s -> ~1s at sf1.0, identical output).

    Arithmetic parity: dot and norm use the SAME sequential left-fold order
    as the Catalyst HOF expression they replace (``acc += a[:,j]*b[:,j]`` in
    index order from 0.0 — IEEE-identical per element), so every unrounded
    cosine is bit-exact vs the previous implementation and the DuckDB
    ``list_cosine_similarity(::DOUBLE[])`` oracle. Zero-norm / length-
    mismatched / NULL vectors produced NULL (try_divide) or padded-NULL
    cosines before and were dropped; here they are masked out (non-finite or
    invalid rows), never ranked. Deterministic tie-break on neighbour id;
    cosine rounded to 6dp in the OUTPUT only (ranking uses the unrounded
    value).
    """
    from pyspark.sql import Window

    id_type = corpus.schema["vec_id"].dataType.simpleString()
    pdf = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").cast("array<double>").alias("pv")
    ).toPandas()
    probe_ids = pdf["probe_id"].to_numpy()
    pv_list = pdf["pv"].tolist()

    def _topk_kernel(batches):
        n_probes = len(probe_ids)
        empty = pd.DataFrame(
            {"probe_id": pd.Series([], dtype=object),
             "neighbor_id": pd.Series([], dtype=object),
             "cos": pd.Series([], dtype=np.float64)}
        )
        if n_probes == 0:
            yield empty
            return
        # group probes by length: a probe only ever matches corpus vectors of
        # its own length (zip_with pads mismatches with NULL -> NULL cosine ->
        # dropped, in the expression form this replaces)
        by_len: dict[int, list[int]] = {}
        for i, v in enumerate(pv_list):
            if v is not None and not any(x is None for x in v):
                by_len.setdefault(len(v), []).append(i)
        groups = []
        for dim, idxs in by_len.items():
            pm = np.asarray([pv_list[i] for i in idxs], dtype=np.float64)
            groups.append((dim, probe_ids[idxs], pm, _seq_sq_norms(pm)))
        for b in batches:
            ids_all = b["neighbor_id"].to_numpy()
            cv_list = b["cv"].tolist()
            # NULL array -> -1 (dropped); NULL *elements* arrive as NaN and
            # are masked by the isfinite filter below, matching the NULL
            # cosine the padded zip_with produced
            lens = np.fromiter(
                (len(v) if v is not None else -1 for v in cv_list),
                dtype=np.int64, count=len(cv_list),
            )
            out_p, out_n, out_c = [], [], []
            for dim, g_pids, pm, pnorm in groups:
                rows = np.flatnonzero(lens == dim)
                if rows.size == 0:
                    continue
                cm = np.asarray([cv_list[i] for i in rows], dtype=np.float64)
                ids = ids_all[rows]
                # sequential-fold dot: acc += cv[j]*pv[j] in index order —
                # bit-identical to aggregate(zip_with(pv, cv, x*y), 0.0, +)
                dot = np.zeros((cm.shape[0], pm.shape[0]), dtype=np.float64)
                for j in range(dim):
                    dot += cm[:, j, None] * pm[None, :, j]
                cnorm = _seq_sq_norms(cm)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (pnorm[None, :] * cnorm[:, None])
                valid = np.isfinite(cos)
                valid &= ids[:, None] != g_pids[None, :]
                for p in range(pm.shape[0]):
                    v = np.flatnonzero(valid[:, p])
                    if v.size == 0:
                        continue
                    c = cos[v, p]
                    order = np.lexsort((ids[v], -c))[:_TOPK]
                    sel = v[order]
                    out_p.extend([g_pids[p]] * sel.size)
                    out_n.extend(ids[sel].tolist())
                    out_c.extend(cos[sel, p].tolist())
            yield pd.DataFrame(
                {"probe_id": pd.Series(out_p, dtype=object),
                 "neighbor_id": pd.Series(out_n, dtype=object),
                 "cos": pd.Series(out_c, dtype=np.float64)}
            ) if out_p else empty

    reduced = (
        ensure_parallelism(corpus)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
        .mapInPandas(
            _topk_kernel, f"probe_id {id_type}, neighbor_id {id_type}, cos double"
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        reduced
        # NaN/NULL cosines never reach here (masked in the kernel); the
        # global window re-ranks the per-batch survivors exactly
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .select("probe_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def make_bucket_udf(dim: int, n_planes: int, n_tables: int):
    """Sign-LSH bucket ids, one per hash table (OR-construction).

    bit b of table t = sign of dot with hyperplane (t, b); the returned array
    has n_tables ints. Multiple tables are the standard recall lever: a pair
    at angle θ collides in one table w.p. (1-θ/π)^n_planes, in ANY of L
    tables w.p. 1-(1-p)^L.
    """
    planes = hyperplanes(dim, n_planes * n_tables).reshape(n_tables, n_planes, dim)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        weights = 1 << np.arange(n_planes)
        out = np.empty((len(m), n_tables), dtype=np.int32)
        for t in range(n_tables):
            out[:, t] = ((m @ planes[t].T) > 0) @ weights
        return pd.Series(list(out))

    return bucket


def _bucket_pairs_kernel(threshold: float):
    """Grouped-map kernel: ALL qualifying pairs within one (table, bucket).

    Enumerates the triangle in numpy, cosine via the per-pair
    ``einsum('ij,ij->i')`` arithmetic the fixture oracle uses (bit-identical),
    chunked so peak memory is bounded by ``_PAIR_CHUNK``
    rows regardless of bucket size. Only pairs >= threshold leave the
    worker — the threshold filter happens BEFORE any shuffle.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.asarray(pdf["v"].to_numpy()[order].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        ia, ib = np.triu_indices(n, 1)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, len(ia), _PAIR_CHUNK):
            sa, sb = ia[lo : lo + _PAIR_CHUNK], ib[lo : lo + _PAIR_CHUNK]
            num = np.einsum("ij,ij->i", m[sa], m[sb])
            cos = num / (norms[sa] * norms[sb])
            keep = cos >= threshold
            out_a.append(ids[sa[keep]])
            out_b.append(ids[sb[keep]])
            out_c.append(cos[keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return kernel


def _neardup_from_buckets(tb: DataFrame, threshold: float) -> DataFrame:
    """(id, v, table, bucket) rows -> distinct near-dup pairs.

    One shuffle (groupBy the bucket key), per-bucket numpy triangle, then a
    distinct over the tiny post-threshold pair set. Compare with the naive
    plan (bucket self-join -> candidate distinct -> two vector re-joins):
    at sf0.1 that materializes ~150M candidate id-pairs; this emits only the
    qualifying pairs (thousands) out of each worker.
    """
    # r8: pin the grouped stage's partition count (guide §2.5). The shuffle
    # feeding the triangle kernels is only ~80 MB at sf1.0, so AQE's
    # advisory coalescing collapsed it to ONE partition — serializing 512
    # CPU-heavy numpy groups onto one core (measured: post-AQE partition
    # count 1; warm pass 2.2s where ~0.7s is the actual kernel work). An
    # explicit repartition by the SAME keys is exempt from AQE coalescing,
    # satisfies the groupBy's required distribution (no second exchange,
    # same shuffled bytes), and scales with the session's core count.
    n_parts = tb.sparkSession.sparkContext.defaultParallelism
    pairs = (
        tb.repartition(n_parts, "table", "bucket")
        .groupBy("table", "bucket")
        .applyInPandas(
            _bucket_pairs_kernel(threshold), schema="id_a long, id_b long, cos double"
        )
    )
    # a pair colliding in k tables yields k IDENTICAL rows (same floats) —
    # distinct is over the small qualifying set, never the candidate set
    return pairs.distinct().select("id_a", "id_b", F.round("cos", 6).alias("cos"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    iters: int = 10,
    n_rows: int | None = None,
) -> np.ndarray:
    """Spherical k-means over the ``embedding`` column, on a DETERMINISTIC md5-thresholded hash sample
    (sampling.sample_predicate, salt 'ivf') — a pure scan-side predicate:
    every executor decides keep/drop per row independently, so there is no
    global sort/top-K anywhere in the trainer's plan and the training input
    is identical across runs, partitionings and engines. The sample fraction
    targets ~1.2x ``_IVF_SAMPLE_LIMIT`` rows (binomial around it); at 10^12
    vectors you train on a fixed sample anyway — the expensive part,
    assignment, stays distributed. Driver-side sort of the ~20k collected
    rows pins the numpy init order. Returns unit-norm centroids
    (n_centroids, dim). The fixture oracle (tools/make_fixtures.py) computes
    the identical sample rule locally."""
    from docling_gfcr_spark.operators.sampling import sample_predicate

    # n_rows: callers that already counted the corpus (semantic_prune's
    # surrogate-collision guard) pass it in — the fraction, and therefore the
    # sample and the centroids, are identical either way
    n = corpus.count() if n_rows is None else int(n_rows)
    fraction = min(1.0, 1.2 * _IVF_SAMPLE_LIMIT / max(n, 1))
    pdf = (
        corpus.where(sample_predicate(fraction, id_col="vec_id", salt="ivf"))
        .select(F.col("vec_id"), F.col("embedding").cast("array<double>"))
        .toPandas()  # Arrow transfer: ~10x faster than row collect() here
        .sort_values("vec_id", kind="stable")
    )
    # hard cap: the binomial sample is ~1.2x the limit in EXPECTATION but
    # unbounded in the tail — truncate (in id order, deterministic) so driver
    # memory is bounded by construction, not probabilistically. The fixture
    # oracle (tools/make_fixtures.py) mirrors the same truncation.
    pdf = pdf.iloc[:_IVF_SAMPLE_LIMIT]
    m = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]], dtype=np.float64)
    return spherical_kmeans(m, n_centroids, seed, iters)


def spherical_kmeans(m: np.ndarray, n_centroids: int, seed: int = 42, iters: int = 10) -> np.ndarray:
    """Pure-numpy deterministic spherical k-means (shared by the Spark
    trainer and the local fixture oracle). ``n_centroids`` is clamped to the
    sample size (a tiny corpus would otherwise fail the no-replacement init
    draw); the clamp lives HERE so the Spark trainer and every fixture
    replay inherit the identical rule."""
    n_centroids = max(1, min(n_centroids, len(m)))
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = m[rng.choice(len(m), n_centroids, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(m @ cent.T, axis=1)
        for c in range(n_centroids):
            mask = assign == c
            if mask.any():
                v = m[mask].mean(axis=0)
                cent[c] = v / max(float(np.linalg.norm(v)), 1e-12)
    return cent


def make_ivf_assign_udf(centroids: np.ndarray):
    """Nearest-centroid id per vector, as a one-element array.
    Argmax/argsort ties resolve to the lowest centroid id (numpy stable
    behaviour) — deterministic across runs and engines.

    Dirty rows (NULL embedding, wrong length) must degrade, not kill the
    Spark task: they assign to the ``[-1]`` sentinel cluster, which no probe
    ever visits and which semantic_dedup passes through as kept. The clean
    batch takes the original all-rows numpy path unchanged (same shapes,
    same gemm — bit-identical to the pre-guard code), so oracle paths are
    unaffected; only a batch that actually contains a dirty row pays the
    per-row validity scan."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    dim = cent.shape[1]

    def _order(m: np.ndarray) -> np.ndarray:
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cent.T
        return np.argsort(-sims, axis=1, kind="stable")[:, :1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        lst = vecs.tolist()
        try:
            m = np.asarray(lst, dtype=np.float64)
            if m.ndim == 2 and m.shape[1] == dim:
                order = _order(m)
                return pd.Series([row.astype(np.int32).tolist() for row in order])
        except (ValueError, TypeError):
            pass  # ragged / NULL rows — fall through to the masked path
        valid = np.array([v is not None and len(v) == dim for v in lst])
        out = [[-1]] * len(lst)
        if valid.any():
            order = _order(np.asarray([lst[i] for i in np.flatnonzero(valid)], dtype=np.float64))
            for j, i in enumerate(np.flatnonzero(valid)):
                out[i] = order[j].astype(np.int32).tolist()
        return pd.Series(out)

    return assign


def ivf_topk(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """IVF ANN: every corpus row is assigned its nearest centroid inside the
    scoring kernel; each probe visits its ``_IVF_PROBE`` closest clusters and
    re-ranks exactly inside them. Scored fraction ≈ _IVF_PROBE /
    _IVF_CENTROIDS of the corpus instead of all of it."""
    from pyspark.sql import Window

    cent = np.ascontiguousarray(train_ivf_centroids(corpus, _IVF_CENTROIDS), dtype=np.float64)
    dim = cent.shape[1]
    id_type = corpus.schema["vec_id"].dataType.simpleString()

    def _order(m: np.ndarray, np_: int) -> np.ndarray:
        # identical arithmetic to make_ivf_assign_udf's _order (normalize,
        # sims gemm, stable argsort) — assignment ints must match the fixture
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cent.T
        return np.argsort(-sims, axis=1, kind="stable")[:, :np_]

    # probe side: collected once (it was already collected for the broadcast
    # join this replaces); clusters via the same assignment arithmetic
    pdf = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").cast("array<double>").alias("pv")
    ).toPandas()
    pv_list = pdf["pv"].tolist()
    p_valid = [
        i for i, v in enumerate(pv_list)
        if v is not None and len(v) == dim and not any(x is None for x in v)
    ]
    probe_ids = pdf["probe_id"].to_numpy()[p_valid]
    pm = (
        np.asarray([pv_list[i] for i in p_valid], dtype=np.float64)
        if p_valid else np.zeros((0, dim), dtype=np.float64)
    )
    p_clusters = _order(pm, _IVF_PROBE) if len(pm) else np.zeros((0, _IVF_PROBE), dtype=np.int64)
    # cluster -> probe positions visiting it
    cluster_probes: dict[int, np.ndarray] = {}
    for c in np.unique(p_clusters):
        rows, _cols = np.nonzero(p_clusters == c)
        cluster_probes[int(c)] = np.unique(rows)

    def _ivf_kernel(batches):
        """Per Arrow batch: assign rows to their nearest centroid (same
        arithmetic as the former assign UDF), score each row against the
        probes visiting that cluster with the per-pair einsum/norm
        arithmetic of the fixture oracle (stacked pair arrays, so every
        float matches it bit-for-bit),
        and emit only each probe's per-batch top-k."""
        empty = pd.DataFrame(
            {"probe_id": pd.Series([], dtype=object),
             "neighbor_id": pd.Series([], dtype=object),
             "cos": pd.Series([], dtype=np.float64)}
        )
        if not cluster_probes:
            yield empty
            return
        for b in batches:
            ids_all = b["neighbor_id"].to_numpy()
            cv_list = b["cv"].tolist()
            valid = np.fromiter(
                (v is not None and len(v) == dim for v in cv_list),
                dtype=bool, count=len(cv_list),
            )
            vi = np.flatnonzero(valid)
            if vi.size == 0:
                yield empty
                continue
            cm = np.asarray([cv_list[i] for i in vi], dtype=np.float64)
            ids = ids_all[vi]
            c_assign = _order(cm, 1)[:, 0]
            cand_p: list[np.ndarray] = []
            cand_n: list[np.ndarray] = []
            cand_c: list[np.ndarray] = []
            for c in np.unique(c_assign):
                pidx = cluster_probes.get(int(c))
                if pidx is None:
                    continue
                rows = np.flatnonzero(c_assign == c)
                n_c, m_c = rows.size, pidx.size
                # stacked per-pair arrays -> the oracle's einsum/norm
                # arithmetic (bit-identical per pair)
                ma = pm[np.tile(pidx, n_c)]
                mb = cm[np.repeat(rows, m_c)]
                num = np.einsum("ij,ij->i", ma, mb)
                den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = num / den
                cand_p.append(np.tile(pidx, n_c))
                cand_n.append(np.repeat(ids[rows], m_c))
                cand_c.append(cos)
            if not cand_p:
                yield empty
                continue
            cp = np.concatenate(cand_p)
            cn = np.concatenate(cand_n)
            cc = np.concatenate(cand_c)
            keep = np.isfinite(cc) & (cn != probe_ids[cp])
            cp, cn, cc = cp[keep], cn[keep], cc[keep]
            out_p, out_n, out_c = [], [], []
            for p in np.unique(cp):
                sel = np.flatnonzero(cp == p)
                order = np.lexsort((cn[sel], -cc[sel]))[:_TOPK]
                pick = sel[order]
                out_p.extend([probe_ids[p]] * pick.size)
                out_n.extend(cn[pick].tolist())
                out_c.extend(cc[pick].tolist())
            yield pd.DataFrame(
                {"probe_id": pd.Series(out_p, dtype=object),
                 "neighbor_id": pd.Series(out_n, dtype=object),
                 "cos": pd.Series(out_c, dtype=np.float64)}
            ) if out_p else empty

    # r8 shape: ONE narrow MapInPandas over the corpus (assignment + scoring
    # + per-batch top-k fused; the former plan shipped (pv, cv) per candidate
    # row through a broadcast join into a second Python boundary and
    # windowed ~_IVF_PROBE/_IVF_CENTROIDS x |corpus| x |probes| rows) + a window
    # over the tiny survivor set. Output bit-identical (same assignment
    # ints, same per-pair einsum cosine floats).
    reduced = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).mapInPandas(_ivf_kernel, f"probe_id {id_type}, neighbor_id {id_type}, cos double")
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        reduced
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .select("probe_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def embedding_neardup_pairs(corpus: DataFrame, n_planes: int = 6, n_tables: int = 4) -> DataFrame:
    """Pairs of 64-dim ``embedding`` rows with cosine >= 0.4, candidates
    limited to same (table, bucket) — multi-table OR-construction for
    recall. Skew note: a degenerate bucket holding B vectors costs B^2/2
    kernel work; the lever is n_planes (bucket count 2^n_planes)."""
    bucket = make_bucket_udf(64, n_planes, n_tables)
    # (id, v, table, bucket): one row per hash table
    tb = ensure_parallelism(corpus).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.posexplode(bucket(F.col("embedding"))).alias("table", "bucket"),
    )
    return _neardup_from_buckets(tb, 0.4)


def semantic_dedup_cluster_kernel(
    ids: np.ndarray, mat: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Greedy keep-first semantic dedup inside ONE cluster (the SemDeDup
    rule, Abbas et al. 2023: within each k-means cluster, drop every doc
    whose cosine to an already-KEPT doc reaches the threshold; survivors are
    processed in ascending id order, so the keeper of a near-dup set is its
    lowest id). Greedy, not connected-components: in a chain a~b, b~c,
    a!~c the middle doc b is dropped but c SURVIVES (its only above-threshold
    neighbour b is not kept) — intentional, matching the published rule.

    Pure numpy, shared VERBATIM by the Spark kernel (``semantic_dedup``) and
    the fixture oracle (tools/make_fixtures.py), so every float on both sides
    comes from the same code on the same cluster rows in the same id-sorted
    order — bit-identical by construction.

    Returns ``(sorted_ids, kept, dup_of, dup_sim)`` aligned to id-ascending
    order; for kept rows ``dup_of = -1`` and ``dup_sim = -1.0`` (sentinels,
    not NULLs — NULL round-trips through Arrow/parquet/DuckDB invite
    NaN-vs-NULL hash drift). For a dropped row ``dup_of`` is the kept doc
    with the HIGHEST cosine (ties -> lowest kept id: argmax first-occurrence
    over kept-insertion order, which is id-ascending).
    """
    order = np.argsort(ids, kind="stable")
    ids = np.asarray(ids, dtype=np.int64)[order]
    m = np.asarray(mat, dtype=np.float64)[order]
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    n, dim = m.shape
    kept = np.zeros(n, dtype=bool)
    dup_of = np.full(n, -1, dtype=np.int64)
    dup_sim = np.full(n, -1.0, dtype=np.float64)
    # preallocated kept buffer: the per-candidate matvec is O(kept * dim)
    # with zero reallocation — total O(C^2 * dim) per cluster, the published
    # algorithm's cost; the CLUSTER is the parallel unit (see semantic_dedup)
    kept_buf = np.empty((n, dim), dtype=np.float64)
    kept_n = 0
    for i in range(n):
        if kept_n:
            sims = kept_buf[:kept_n] @ m[i]
            j = int(np.argmax(sims))
            if sims[j] >= threshold:
                dup_of[i] = ids[np.flatnonzero(kept)[j]]
                dup_sim[i] = float(sims[j])
                continue
        kept[i] = True
        kept_buf[kept_n] = m[i]
        kept_n += 1
    return ids, kept, dup_of, dup_sim


def semantic_dedup(
    corpus: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.4,
    seed: int = 42,
    iters: int = 10,
    centroids: np.ndarray | None = None,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    spherical k-means over the embedding column, then greedy keep-first
    pruning of within-cluster docs whose cosine to a kept doc reaches
    ``threshold``. One row per input doc: ``(vec_id, cluster, kept, dup_of,
    dup_sim)`` with ``-1``/``-1.0`` sentinels on kept rows.

    Scale shape (the part that matters at 100 TB):
    - centroids train on a fixed-size deterministic hash sample
      (``train_ivf_centroids`` — same trainer as IVF search, so a corpus
      can reuse one codebook for both);
    - assignment is a single scan with the centroid matrix broadcast in the
      UDF closure — no shuffle, no join;
    - the ONLY Exchange is the groupBy on cluster id (co-locating each
      cluster is inherent to within-cluster comparison);
    - per-cluster work is O(C^2 * dim) — the published algorithm's cost —
      so ``n_centroids`` must scale with the corpus to bound C (SemDeDup
      runs 50k clusters on LAION-scale data; cluster count is free here,
      the trainer caps its sample regardless). The cluster is the unit of
      parallelism: ``applyInPandas`` hands each cluster to one worker whole
      (per-group dispatch overhead is amortized over big groups, per the
      grouped-pandas guidance in CLAUDE.md).
    - ``max_cluster`` is the SKEW VALVE (same idiom as dedup's
      ``hot_band_cap`` / ``hot_shingle_cap``): a degenerate codebook or a
      pathologically dense direction can put a huge fraction of the corpus
      in one cluster, handing one worker O(C^2) work. With a cap, any
      cluster larger than it is split into ``ceil(C/max_cluster)``
      deterministic sub-buckets (xxhash64 on the id — partitioning- and
      engine-independent), each greedily deduped independently: bounded
      memory and wall per task, at the documented cost of missing
      cross-sub-bucket near-dups inside oversized clusters (recall trade,
      exactly like the band/shingle caps). Normal-sized clusters are
      untouched — one sub-bucket. Default None = oracle semantics.
      Honest cost note: the capped path evaluates the assignment twice
      (the census aggregate and the grouping both derive from the assign
      UDF — Spark recomputes shared lineage, it does not share it). The
      census side aggregates map-side to one row per centroid, so the
      extra cost is one more scan+assign pass, not a shuffle; a pipeline
      that already materializes assignments should pass ``centroids`` and
      group the stored cluster column instead, paying the census against
      the materialized table.
    """
    cent = (
        np.ascontiguousarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_ivf_centroids(corpus, n_centroids, seed, iters)
    )
    assign = make_ivf_assign_udf(cent)
    assigned = corpus.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").alias("embedding"),
    ).withColumn("cluster", F.element_at(assign(F.col("embedding")), 1))

    if max_cluster is not None:
        # skew valve: split oversized clusters into deterministic hash
        # sub-buckets. The per-cluster census is a tiny aggregate (one row
        # per centroid) broadcast back onto the scan; sub-bucket count is 1
        # for every cluster at or under the cap, so the common case is
        # byte-identical to the uncapped path.
        census = assigned.groupBy("cluster").agg(
            F.ceil(F.count("*") / F.lit(int(max_cluster))).cast("int").alias("n_sub")
        )
        assigned = assigned.join(F.broadcast(census), "cluster").withColumn(
            "sub", F.pmod(F.xxhash64("vec_id"), F.greatest(F.col("n_sub"), F.lit(1))).cast("int")
        )
        group_cols = ["cluster", "sub"]
    else:
        group_cols = ["cluster"]

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("kept", T.BooleanType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("dup_sim", T.DoubleType()),
        ]
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if int(pdf["cluster"].iloc[0]) < 0:
            # the assign UDF's dirty-row sentinel cluster (NULL / ragged
            # embeddings): un-dedupable, but the verdict table still owes one
            # row per doc — pass through KEPT, never drop, never crash
            sids = np.sort(ids)
            return pd.DataFrame(
                {
                    "vec_id": sids,
                    "cluster": np.full(len(sids), -1, dtype=np.int32),
                    "kept": np.ones(len(sids), dtype=bool),
                    "dup_of": np.full(len(sids), -1, dtype=np.int64),
                    "dup_sim": np.full(len(sids), -1.0, dtype=np.float64),
                }
            )
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        sids, kept, dup_of, dup_sim = semantic_dedup_cluster_kernel(ids, mat, threshold)
        return pd.DataFrame(
            {
                "vec_id": sids,
                "cluster": np.full(len(sids), int(pdf["cluster"].iloc[0]), dtype=np.int32),
                "kept": kept,
                "dup_of": dup_of,
                "dup_sim": dup_sim,
            }
        )

    # r8: same AQE-coalescing guard as _neardup_from_buckets — the cluster
    # shuffle is small in bytes but each group is an O(C^2 * dim) kernel;
    # coalescing to one partition serializes every cluster onto one core.
    # Key-repartition to the session's parallelism (AQE-exempt, reused by
    # the groupBy, same shuffled bytes; still the plan's ONE hash exchange).
    n_parts = assigned.sparkSession.sparkContext.defaultParallelism
    return (
        ensure_parallelism(assigned)
        .repartition(n_parts, *group_cols)
        .groupBy(*group_cols)
        .applyInPandas(dedup_cluster, schema)
    )


def embed_texts_kernel(texts: list, dim: int = 64) -> np.ndarray:
    """Deterministic hashing-trick bag-of-words embedding (Weinberger et al.
    2009, the classic feature-hashing construction): each whitespace token
    maps to ``(md5(token)[:4] % dim, sign from md5 byte 4)``, the per-doc
    counts accumulate signed, and the row is L2-normalized (zero stays zero
    — an empty doc embeds as the zero vector, which cosines to 0 with
    everything and is therefore always KEPT by semantic pruning).

    ORDER-INVARIANT by construction: two docs with the same token multiset
    embed identically (cosine exactly 1.0) no matter how the tokens are
    arranged — which is precisely the near-dup class that shingle-based
    MinHash misses (reordering destroys k-word shingles) and the reason
    ``semantic_prune`` exists as a stage after ``dedup_near``.

    Pure numpy + hashlib, shared VERBATIM by the Spark pandas UDF and the
    fixture oracle (tools/make_fixtures.py) — accumulation order per doc is
    the doc's own token order, fixed regardless of Arrow batching, so both
    sides produce bit-identical float64. Each distinct token in the batch is
    hashed once (the fast-minhash idiom); non-strings (NULL) embed as empty.
    """
    import hashlib

    toks_per_doc = [t.split() if isinstance(t, str) else [] for t in texts]
    lut: dict = {}
    for doc in toks_per_doc:
        for tok in doc:
            if tok not in lut:
                h = hashlib.md5(tok.encode("utf-8", "surrogatepass")).digest()
                lut[tok] = (int.from_bytes(h[:4], "big") % dim, 1.0 if h[4] & 1 else -1.0)
    out = np.zeros((len(toks_per_doc), dim), dtype=np.float64)
    for i, doc in enumerate(toks_per_doc):
        v = out[i]
        for tok in doc:
            idx, sign = lut[tok]
            v[idx] += sign
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out


def make_hashing_embed_udf(dim: int = 64):
    """Arrow-batched pandas UDF over :func:`embed_texts_kernel` — one
    vectorized scan, no shuffle; the slow path (per-token Python) is bounded
    by the distinct-token LUT per batch."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        m = embed_texts_kernel(texts.tolist(), dim)
        return pd.Series([row.tolist() for row in m])

    return embed


def md5_surrogate_id(col) -> Column:
    """Signed-64-bit-safe surrogate for a STRING id: the first 15 hex chars
    of md5 (60 bits, always positive — never overflows LONG under ANSI
    mode), via ``conv(hex, 16, 10)``. The Python twin is
    ``int(hashlib.md5(id).hexdigest()[:15], 16)`` (fixture oracles) — md5
    keeps the CLAUDE.md md5-only cross-engine hashing discipline.

    Collision odds are birthday-bounded at 2^60: ~5e8 ids reach a 1e-1
    aggregate collision probability, so :func:`semantic_prune` guards with a
    count-distinct check and refuses rather than silently merging two docs.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def semantic_prune(
    docs: DataFrame,
    text_col: str = "conv_text",
    id_col: str = "conv_id",
    dim: int = 64,
    n_centroids: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    iters: int = 10,
    max_cluster: int | None = None,
) -> DataFrame:
    """Semantic near-dup pruning of a TEXT corpus: hashing-trick embeddings
    (:func:`embed_texts_kernel`) -> SemDeDup (:func:`semantic_dedup`) ->
    survivors. This is the document-level stage ``jobs/corpus_build.py``
    mounts after ``dedup_near``: it catches token-REORDERED near-dups
    (templated boilerplate, shuffled concatenations) whose k-word shingles
    are disjoint, which MinHash therefore cannot pair. In production the
    embedding column would come from a model; the operator takes any
    ``text -> unit vector`` scan, and everything downstream (k-means,
    within-cluster greedy pruning, the broadcast anti-join) is
    embedding-agnostic.

    Scale shape, mirroring dedup_near's (jobs/corpus_build.py):
    - embeddings are ONE Arrow scan, localCheckpointed so the trainer's
      count + sample scan and the assignment scan hit the materialized
      (id, dim x float64) table instead of re-running the UDF over the full
      text corpus 3x; the embedding blocks are freed before returning
      (connected_components' checkpoint discipline) — only the small LOSERS
      checkpoint outlives the call, exactly like the labels table it mirrors;
    - the ONLY Exchange is semantic_dedup's cluster groupBy (inherent);
    - losers (dropped docs — a small fraction, same assumption dedup_near's
      broadcast makes) come back as a broadcast anti-join on the surrogate
      id, so the corpus itself never shuffles.

    The md5 surrogate id (string ids -> long, see :func:`md5_surrogate_id`)
    is guarded: a collision would silently alias two docs, so the operator
    counts distinct surrogates and refuses on mismatch (re-salt upstream ids
    if this ever fires). Keep-first order is surrogate order — an
    arbitrary-but-deterministic representative per near-dup set, the same
    convention as hash-ordered packing."""
    from docling_gfcr_spark.operators.dedup import _free_local_checkpoint

    emb = docs.select(
        md5_surrogate_id(F.col(id_col).cast("string")).alias("vec_id"),
        make_hashing_embed_udf(dim)(F.col(text_col).cast("string")).alias("embedding"),
    ).localCheckpoint()
    try:
        # one aggregate serves three former jobs (r8): the empty-input check
        # (previously docs.take(1)), the surrogate-collision guard, and the
        # trainer's corpus count (passed through n_rows — identical sample
        # fraction, identical centroids)
        n, nd = emb.agg(F.count("*"), F.count_distinct("vec_id")).first()
        if n == 0:
            return docs
        if n != nd:
            raise ValueError(
                f"md5 surrogate-id collision: {n} docs -> {nd} distinct "
                f"surrogates; semantic_prune would alias colliding docs"
            )
        cent = train_ivf_centroids(emb, n_centroids, seed, iters, n_rows=n)
        dd = semantic_dedup(
            emb, n_centroids=n_centroids, threshold=threshold, seed=seed,
            iters=iters, max_cluster=max_cluster, centroids=cent,
        )
        # materialize the (small) loser set NOW, while the embedding blocks
        # are still alive — a local checkpoint truncates lineage, so a lazy
        # plan over freed blocks could never recompute
        losers = dd.where(~F.col("kept")).select("vec_id").localCheckpoint()
        return docs.join(
            F.broadcast(losers),
            md5_surrogate_id(F.col(id_col).cast("string")) == F.col("vec_id"),
            "left_anti",
        )
    finally:
        _free_local_checkpoint(emb)


# ---------------------------------------------------------------------------
# incremental semantic dedup: the standing kept-embedding index
# ---------------------------------------------------------------------------
# The semantic twin of dedup.commit_minhash_bands / incremental_minhash_pairs:
# after the initial build, a daily batch dedups semantically against the
# KEPT docs' embeddings (cluster-bucketed standing table + a persisted
# codebook) in O(batch) work — the corpus is never re-embedded or
# re-clustered. Same commit discipline: params stamped on the table
# (TBLPROPERTIES incl. a codebook digest, so keys are provably comparable),
# survivors-then-append publish order, at-least-once append tolerated
# (the kernel uniques committed rows by vec_id).

_SEM_PARAM_KEYS = ("dim", "n_centroids", "threshold", "centroids_md5")

#: bucket count commit_semantic_index gives a new index table
_SEM_INDEX_BUCKETS = 16


def centroids_digest(centroids: np.ndarray) -> str:
    """md5 over the codebook's little-endian float64 bytes — stamped on the
    index table so an ingest with a different codebook (which would assign
    the same doc to a different cluster and silently dedup against the
    wrong keepers) refuses up front."""
    import hashlib

    c = np.ascontiguousarray(centroids, dtype="<f8")
    return hashlib.md5(c.tobytes()).hexdigest()


def save_semantic_centroids(spark, path: str, centroids: np.ndarray) -> None:
    """Persist the codebook next to the index (one row per centroid). The
    codebook is trained ONCE at bootstrap and reused by every later batch —
    retraining is a maintenance operation (like recap_band_index) because a
    new codebook re-partitions the whole keeper space."""
    from docling_gfcr_spark import io as gio

    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    gio.local_frame(
        spark,
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cent)],
        "cluster int, vector array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_semantic_centroids(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(path).orderBy("cluster").collect()
    return np.asarray([r.vector for r in rows], dtype=np.float64)


def _write_semantic_params(spark, table, dim, n_centroids, threshold, cent_md5) -> None:
    props = ", ".join(
        f"'semantic.{key}'='{val}'"
        for key, val in zip(_SEM_PARAM_KEYS, (dim, n_centroids, threshold, cent_md5))
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({props})")


def check_semantic_params(spark, table, dim, n_centroids, threshold, cent_md5, context) -> None:
    """Refuse incomparable index joins — the semantic twin of
    dedup._check_signature_params. A failing properties read must raise,
    not silently disable the guard."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {str(r.key): str(r.value) for r in rows}
    have = {
        key: props[f"semantic.{key}"]
        for key in _SEM_PARAM_KEYS
        if f"semantic.{key}" in props
    }
    want = dict(
        zip(_SEM_PARAM_KEYS, (str(dim), str(n_centroids), str(threshold), str(cent_md5)))
    )
    if have and have != want:
        raise ValueError(
            f"{context}: committed semantic index {table!r} was built with "
            f"params {have} but this call uses {want} — cluster assignments "
            "and keep decisions would be incomparable"
        )


def embed_and_assign(docs: DataFrame, centroids: np.ndarray, dim: int = 64) -> DataFrame:
    """One Arrow scan: ``(id, vec_id, cluster, embedding)`` for a
    ``(conv_id, conv_text)`` batch — hashing-trick embedding, md5 surrogate, nearest stored centroid (the
    codebook rides in the UDF closure; dirty rows assign to the -1 sentinel
    cluster, which incremental verdicts pass through KEPT and the index
    append skips)."""
    assign = make_ivf_assign_udf(np.ascontiguousarray(centroids, dtype=np.float64))
    emb = make_hashing_embed_udf(dim)(F.col("conv_text").cast("string"))
    return docs.select(
        F.col("conv_id").cast("string").alias("id"),
        md5_surrogate_id(F.col("conv_id").cast("string")).alias("vec_id"),
        emb.alias("embedding"),
    ).withColumn("cluster", F.element_at(assign(F.col("embedding")), 1))


def semantic_ingest_cluster_kernel(
    committed_ids: np.ndarray,
    committed_mat: np.ndarray,
    ids: np.ndarray,
    mat: np.ndarray,
    threshold: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Greedy keep-first for one cluster's NEW docs against the cluster's
    COMMITTED keepers: committed keepers are fixed (kept on earlier days —
    the keep-first-by-arrival convention of dedup.keep_first_drops), new
    docs are processed in ascending surrogate order against (committed
    keepers + newly-kept new docs). With no committed rows this reduces to
    EXACTLY :func:`semantic_dedup_cluster_kernel`'s loop (property-pinned).

    Committed rows are uniqued by vec_id first (duplicate rows from the
    at-least-once index append are harmless, mirroring the band table). A
    new doc whose vec_id already appears in the committed set is its OWN
    crash-resume copy (the append landed, the stage commit did not): that
    committed row is excluded from its comparisons, so the resume keeps it
    — unless its embedding DIFFERS, which can only be a cross-day surrogate
    collision aliasing two different docs, and that raises instead of
    silently merging them.

    Returns ``(sorted_ids, kept, dup_of, dup_sim)`` with the same sentinel
    conventions as the build kernel; ``dup_of`` may be a committed vec_id.
    """
    order = np.argsort(ids, kind="stable")
    ids = np.asarray(ids, dtype=np.int64)[order]
    m = np.asarray(mat, dtype=np.float64)[order]
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    n, dim = m.shape
    cids = np.asarray(committed_ids, dtype=np.int64)
    cuniq, cidx = np.unique(cids, return_index=True)  # ascending, first occurrence
    cm = (
        np.asarray(committed_mat, dtype=np.float64)[cidx]
        if len(cids)
        else np.empty((0, dim), dtype=np.float64)
    )
    if len(cm):
        cm = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
    n_c = len(cuniq)
    kept_buf = np.empty((n_c + n, dim), dtype=np.float64)
    kept_ids = np.empty(n_c + n, dtype=np.int64)
    kept_buf[:n_c] = cm
    kept_ids[:n_c] = cuniq
    kept_n = n_c
    kept = np.zeros(n, dtype=bool)
    dup_of = np.full(n, -1, dtype=np.int64)
    dup_sim = np.full(n, -1.0, dtype=np.float64)
    for i in range(n):
        self_j = np.searchsorted(cuniq, ids[i])
        is_resume = self_j < n_c and cuniq[self_j] == ids[i]
        if is_resume and not np.allclose(cm[self_j], m[i]):
            raise ValueError(
                f"surrogate vec_id {int(ids[i])} is committed with a DIFFERENT "
                "embedding — cross-day md5 surrogate collision; two distinct "
                "docs would alias. Re-salt upstream ids."
            )
        if kept_n:
            sims = kept_buf[:kept_n] @ m[i]
            if is_resume:
                sims[self_j] = -np.inf  # own crash-resume copy is not a dup
            j = int(np.argmax(sims))
            if sims[j] >= threshold:
                dup_of[i] = kept_ids[j]
                dup_sim[i] = float(sims[j])
                continue
        kept[i] = True
        kept_buf[kept_n] = m[i]
        kept_ids[kept_n] = ids[i]
        kept_n += 1
    return ids, kept, dup_of, dup_sim


def commit_semantic_index(
    spark,
    table: str,
    path: str,
    kept_assigned: DataFrame,
    dim: int,
    n_centroids: int,
    threshold: float,
    centroids: np.ndarray,
    mode: str = "overwrite",
) -> None:
    """Persist kept docs' ``(id, vec_id, cluster, embedding)`` as a
    ``cluster``-bucketed table — the standing index daily semantic ingest
    compares against. Sentinel-cluster rows (dirty embeddings) are never
    indexed: they cannot be compared, so indexing them would only grow the
    table. ``mode='append'`` adds an accepted batch's keepers (the band
    table's commit discipline); params + codebook digest are stamped so a
    later ingest with different params refuses."""
    from docling_gfcr_spark import io as gio

    cent_md5 = centroids_digest(centroids)
    if mode == "append" and spark.catalog.tableExists(table):
        check_semantic_params(
            spark, table, dim, n_centroids, threshold, cent_md5, "commit_semantic_index"
        )
    rows = kept_assigned.where(F.col("cluster") >= 0).select(
        "id", "vec_id", "cluster", "embedding"
    )
    gio.write_bucketed(
        rows, table, path, key="cluster", n_buckets=_SEM_INDEX_BUCKETS, mode=mode
    )
    _write_semantic_params(spark, table, dim, n_centroids, threshold, cent_md5)


def recluster_semantic_index(spark, table: str, path: str, n_centroids: int | None = None) -> np.ndarray:
    """Table MAINTENANCE for the kept-embedding index — the semantic twin of
    ``dedup.recap_band_index``: (1) dedupe the at-least-once append rows
    (one row per vec_id; duplicates are byte-identical, so any survivor is
    correct), and (2) RETRAIN the codebook on the current keepers and
    REASSIGN every row — the operation the ingest docstring defers to
    maintenance, because a new codebook re-partitions the whole keeper
    space (run it when the corpus has drifted far from the bootstrap batch
    or to grow ``n_centroids`` with the corpus, which bounds the O(C^2)
    per-cluster ingest cost).

    ``dim`` and ``threshold`` are carried from the table stamp unchanged —
    they define the KEEP SEMANTICS of the rows already in the index;
    changing them would make past keep decisions incomparable, so this
    operation refuses to (build a fresh index instead). ``n_centroids``
    may change (defaults to the stamped value).

    Staged rewrite, same discipline as recap_band_index: the re-clustered
    copy plus its codebook are fully committed to ``<table>_recluster`` /
    ``<path>_recluster`` (codebook at ``<path>_recluster_centroids``)
    BEFORE the main table, sidecar and stamp are overwritten, so a crash
    mid-publish never destroys the corpus' only keeper record — the staged
    copies survive for manual recovery. Requires ingest quiescence; if a
    crash hits the publish window, re-run this operation (idempotent: the
    trainer and assignment are deterministic) before any ingest resumes —
    the stamped digest only guards codebook-vs-call mismatches, not a
    half-published table. Returns the new codebook. The bucket count is
    read from the catalog so the exchange-free cogroup layout is preserved.
    """
    from docling_gfcr_spark import io as gio
    from docling_gfcr_spark.operators.dedup import _table_bucket_count

    rows_all = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {str(r.key): str(r.value) for r in rows_all}
    stamp = {
        key: props.get(f"semantic.{key}") for key in _SEM_PARAM_KEYS
    }
    if any(v is None for v in stamp.values()):
        raise ValueError(
            f"recluster_semantic_index: {table!r} carries no semantic param "
            "stamp — only indexes written by commit_semantic_index can be "
            "re-clustered safely"
        )
    dim, threshold = int(stamp["dim"]), float(stamp["threshold"])
    k = int(n_centroids if n_centroids is not None else stamp["n_centroids"])
    n_buckets = _table_bucket_count(spark, table) or _SEM_INDEX_BUCKETS
    keepers = spark.table(table).dropDuplicates(["vec_id"])
    cent = train_ivf_centroids(keepers, k)
    assign = make_ivf_assign_udf(cent)
    reassigned = keepers.select(
        "id", "vec_id", "embedding",
        F.element_at(assign(F.col("embedding")), 1).alias("cluster"),
    ).select("id", "vec_id", "cluster", "embedding")
    tmp_table = f"{table}_recluster"
    tmp_path = path.rstrip("/") + "_recluster"
    gio.write_bucketed(
        reassigned, tmp_table, tmp_path, key="cluster", n_buckets=n_buckets,
        mode="overwrite",
    )
    save_semantic_centroids(spark, f"{tmp_path}_centroids", cent)
    # publish: main table from the durable staged copy, then sidecar + stamp
    gio.write_bucketed(
        spark.table(tmp_table), table, path, key="cluster", n_buckets=n_buckets,
        mode="overwrite",
    )
    save_semantic_centroids(spark, f"{path.rstrip('/')}_centroids", cent)
    _write_semantic_params(spark, table, dim, k, threshold, centroids_digest(cent))
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    spark.catalog.refreshTable(table)
    return cent


def incremental_semantic_verdicts(
    spark,
    table: str,
    new_assigned: DataFrame,
    threshold: float,
    dim: int,
    n_centroids: int,
    centroids: np.ndarray,
    hot_cluster_cap: int | None = None,
    allow_missing_table: bool = False,
) -> DataFrame:
    """SemDeDup verdicts for a NEW batch against the standing index —
    O(batch) embeddings plus one cogrouped pass over only the clusters the
    batch touches. Equals ``semantic_dedup(old UNION new)`` restricted to
    new docs with old docs given keep-first priority (the incremental
    convention; driver-gated end-to-end in corpus_ingest_semantic).

    Scale shape:
    - the batch is embedded + assigned once (``embed_and_assign``, one Arrow
      scan with the codebook in the closure);
    - the committed side is FILTERED to the batch's cluster set before the
      cogroup — the set is collected driver-side but bounded by
      ``n_centroids`` (the IVF probe-pruning idiom), and because the
      bucketed files are sorted by cluster the pushed ``cluster IN (...)``
      predicate prunes row groups, so a small batch reads a small slice of
      a huge index instead of scanning it;
    - committed keepers come off the ``cluster``-bucketed table, so the big
      side's groupBy needs no exchange (bucketed layout);
    - per-cluster work runs the shared numpy kernel
      (:func:`semantic_ingest_cluster_kernel`) worker-side.

    ``hot_cluster_cap`` is the skew valve: a cluster whose committed keeper
    count exceeds the cap compares against only the cap LOWEST-surrogate
    keepers (deterministic representatives — the hot_band_cap idiom), at
    the documented recall cost inside oversized clusters. Default off.

    A missing index is an ERROR unless ``allow_missing_table=True`` (the
    first-batch bootstrap): silently deduping against nothing would commit
    duplicates undetected. Sentinel-cluster rows (dirty embeddings) pass
    through KEPT.
    """
    if spark.catalog.tableExists(table):
        check_semantic_params(
            spark, table, dim, n_centroids, threshold, centroids_digest(centroids),
            "incremental_semantic_verdicts",
        )
        committed = spark.table(table).select("vec_id", "cluster", "embedding")
    elif allow_missing_table:
        committed = spark.createDataFrame([], "vec_id long, cluster int, embedding array<double>")
    else:
        raise ValueError(
            f"semantic index {table!r} does not exist — pass "
            "allow_missing_table=True only for the first-batch bootstrap"
        )
    cap = int(hot_cluster_cap) if hot_cluster_cap is not None else None
    if cap is not None and cap < 1:
        raise ValueError(f"hot_cluster_cap must be >= 1, got {cap}")
    thr = float(threshold)
    # prune the committed side to the batch's clusters: the distinct set is
    # at most n_centroids(+ the sentinel) ints, and the IN predicate pushes
    # into the cluster-sorted bucket files' row-group stats — clusters the
    # batch never touches contribute nothing (empty right side) and must
    # not be read
    batch_clusters = [
        int(r.cluster)
        for r in new_assigned.select("cluster").distinct().collect()
    ]
    committed = committed.where(F.col("cluster").isin(batch_clusters))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("kept", T.BooleanType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("dup_sim", T.DoubleType()),
        ]
    )

    def verdict_cluster(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(right):
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in zip(
                    ("vec_id", "cluster", "kept", "dup_of", "dup_sim"),
                    ("int64", "int32", "bool", "int64", "float64"),
                )}
            )
        cl = int(right["cluster"].iloc[0])
        ids = right["vec_id"].to_numpy(dtype=np.int64)
        if cl < 0:  # dirty-row sentinel: un-comparable, keep every doc
            sids = np.sort(ids)
            return pd.DataFrame(
                {
                    "vec_id": sids,
                    "cluster": np.full(len(sids), cl, dtype=np.int32),
                    "kept": np.ones(len(sids), dtype=bool),
                    "dup_of": np.full(len(sids), -1, dtype=np.int64),
                    "dup_sim": np.full(len(sids), -1.0, dtype=np.float64),
                }
            )
        cids = left["vec_id"].to_numpy(dtype=np.int64) if len(left) else np.empty(0, np.int64)
        cmat = (
            np.asarray(left["embedding"].tolist(), dtype=np.float64)
            if len(left)
            else np.empty((0, 0))
        )
        if cap is not None and len(cids) > cap:
            cuniq, cidx = np.unique(cids, return_index=True)
            cuniq, cidx = cuniq[:cap], cidx[:cap]  # cap LOWEST surrogates
            cids, cmat = cuniq, cmat[cidx]
        mat = np.asarray(right["embedding"].tolist(), dtype=np.float64)
        sids, kept, dup_of, dup_sim = semantic_ingest_cluster_kernel(
            cids, cmat, ids, mat, thr
        )
        return pd.DataFrame(
            {
                "vec_id": sids,
                "cluster": np.full(len(sids), cl, dtype=np.int32),
                "kept": kept,
                "dup_of": dup_of,
                "dup_sim": dup_sim,
            }
        )

    return (
        committed.groupBy("cluster")
        .cogroup(ensure_parallelism(new_assigned).groupBy("cluster"))
        .applyInPandas(verdict_cluster, schema)
    )
