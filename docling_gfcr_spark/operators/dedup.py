"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the whole point):
- exact: one hash-shuffle on a 32-char digest — the canonical map-side
  combinable groupBy; at 100 TB this is the cheapest possible full-corpus op.
- n-gram Jaccard: exact pairwise similarity, but ONLY within candidate pairs
  that share a shingle (the explode/self-join trick). Guard against hot
  shingles (stop-shingle cap) or the self-join explodes quadratically.
- MinHash+LSH: the 100 TB path. Signature = K independent min-hashes (Arrow
  shingle scan + codegen'd salted hashes + partially-aggregated min, r8);
  banding turns near-dup search into an equi-join on (band, band_hash).
  Cost: one shuffle on band keys; no quadratic blowup.
- SimHash: 64-bit fingerprint via a vectorized pandas UDF (bit packing isn't
  relational); near-dup = equal 16-bit chunk (4 chunk tables) + hamming<=k
  verify. Chunk-join is again a plain equi-join.

All hash choices (md5) are engine-portable so DuckDB oracles can verify the
exact same arithmetic.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_gfcr_spark.operators.util import ensure_parallelism


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: keeper id (min), group size."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def exact_dedup_keep(df: DataFrame) -> DataFrame:
    """The deduplicated conversation table itself: first ``conv_id`` per
    ``conv_text`` hash wins."""
    keepers = exact_dedup_groups(df, "conv_text", "conv_id").select(
        F.col("keeper_id").alias("conv_id")
    )
    return df.join(keepers, "conv_id", "left_semi")


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    with_size: bool = True,
) -> DataFrame:
    """One ``(id[, sz], shingle)`` row per DISTINCT word-k-gram per doc —
    the exploded-shingle scan shared by the ngram dedup/decontamination
    family, as ONE Arrow-batched kernel rather than a ``split``/``transform``
    HOF feeding ``F.explode``: higher-order functions are CodegenFallback,
    so ``explode(transform(...))`` drops the whole stage out of codegen onto
    the interpreted row path — measured 2.4x slower than this mapInPandas at
    sf0.1 (1.1s vs 2.7s for the exploded scan) with byte-identical shingles
    (``str.split(" ")``/join match ``F.split``/``concat_ws`` exactly, incl.
    empty tokens and the truncated tail shingle; NULL text explodes to
    nothing, matching ``explode(NULL)``). ``sz`` is the per-doc distinct
    shingle count riding along as payload. Peak python memory is one Arrow
    batch's shingles (~maxRecordsPerBatch x k words), independent of corpus
    size; the kernel is a narrow transform — no shuffle.
    """
    id_type = df.schema[id_col].dataType.simpleString()

    def _explode_shingles(batches):
        for pdf in batches:
            ids: list = []
            szs: list = []
            shingles: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:  # parity: F.split(NULL) rows explode to nothing
                    continue
                words = text.split(" ")
                n = max(1, len(words) - (k - 1))
                # dict preserves first-occurrence order == array_distinct
                seen = dict.fromkeys(" ".join(words[i : i + k]) for i in range(n))
                sz = len(seen)
                ids.extend([doc_id] * sz)
                if with_size:
                    szs.extend([sz] * sz)
                shingles.extend(seen)
            cols = {"id": ids, "sz": szs, "shingle": shingles}
            if not with_size:
                del cols["sz"]
            yield pd.DataFrame(cols)

    sz_field = ", sz int" if with_size else ""
    return df.select(id_col, text_col).mapInPandas(
        _explode_shingles, f"id {id_type}{sz_field}, shingle string"
    )


def ordered_pairs(arr: Column, a_name: str = "id_a", b_name: str = "id_b") -> Column:
    """All i<j element pairs of a SORTED array, as array<struct<a,b>> —
    worker-side candidate-pair enumeration shared by the dedup family.
    Replaces the classic blocking self-join: the join materializes up to
    C(group, 2) rows through the SMJ machinery and shuffles them; this
    expression generates pairs after the single blocking-key shuffle, so the
    only rows that move again are post-aggregation/filter survivors.
    (The two-parameter transform lambda deliberately receives the index.)

    MEMORY: the whole C(|arr|, 2) pair array materializes in one row — use
    only where group size is bounded (e.g. under a hot-key cap); unbounded
    groups go through ``explode_ordered_pairs``.
    """
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


#: largest group explode_ordered_pairs enumerates as one flattened pair array
_SMALL_GROUP = 256


def explode_ordered_pairs(df: DataFrame, arr_col: str, a_name: str, b_name: str) -> DataFrame:
    """All i<j pairs of each row's SORTED ``arr_col``, safe for UNBOUNDED
    group sizes. Hybrid of two worker-side strategies:

    - groups <= ``_SMALL_GROUP``: one flatten of the whole pair array
      (``ordered_pairs``) — fastest, bounded at C(cutoff, 2) elements;
    - larger groups: TWO streaming generates (posexplode picks the left
      element, a second explode over the array's tail slice picks the
      right) — emits the same C(B, 2) pairs with O(B) peak memory per row,
      so a degenerate 10^6-doc exact-duplicate bucket streams instead of
      materializing a 5*10^11-element array.

    Returns a DataFrame with exactly (a_name, b_name)."""
    small = df.where(F.size(arr_col) <= _SMALL_GROUP)
    large = df.where(F.size(arr_col) > _SMALL_GROUP)
    p_small = small.select(
        F.explode(ordered_pairs(F.col(arr_col), a_name, b_name)).alias("_p")
    ).select(f"_p.{a_name}", f"_p.{b_name}")
    p_large = (
        large.select(F.posexplode(arr_col).alias("_i", a_name), F.col(arr_col).alias("_arr"))
        .select(
            a_name,
            F.explode(
                F.slice(F.col("_arr"), F.col("_i") + F.lit(2), F.size("_arr"))
            ).alias(b_name),
        )
    )
    return p_small.unionByName(p_large)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    hot_shingle_cap: int = 100,
) -> DataFrame:
    """Exact Jaccard over word-k-gram shingle sets, computed only for pairs
    sharing >=1 shingle. ``hot_shingle_cap`` drops degenerate shingles shared
    by more than N docs (stop-shingles) — the skew guard that keeps the
    self-join linear-ish at corpus scale.

    Two execution paths, identical results (pinned by
    test_operators::test_ngram_prefix_path_matches_naive):

    - ``threshold <= 0``: the r7 shape — one shingle-groupBy shuffle,
      worker-side ordered-pair enumeration, exact pair count aggregation.
      With no threshold every co-occurring pair must be counted, so the
      pair materialization is inherent.
    - ``threshold > 0``: prefix filtering (the published exact AllPairs /
      PPJoin bound, Bayardo et al. 2007): a pair with jaccard >= t must
      share >= ceil(t * sz) shingles with EACH member, so it must collide
      on at least one of each member's (csz - cmin + 1) RAREST qualifying
      shingles. Candidates are generated from those prefixes only and
      verified with exact set intersections. At sf1.0 (k=3, cap=100,
      t=0.5) this replaces a 67M-distinct-pair count aggregation (the r7
      plan's wall: 71M interpreted-HOF pair structs + a 67M-row shuffle)
      with ~10^5 verified candidates — measured 27.9s -> ~7s, identical
      250-row output.
    """
    df = ensure_parallelism(df)
    if threshold > 0:
        return _prefix_filtered_ngram_pairs(
            df, text_col, id_col, k, threshold, hot_shingle_cap
        )
    # |shingle set| per doc comes straight off the kernel — no shuffle — and
    # rides along as struct payload, so NO per-doc size table ever needs to
    # be joined back (at corpus scale that's two 10^9-row joins avoided for
    # +8 bytes per exploded row)
    sh = exploded_shingles(df, text_col, id_col, k).select(
        F.struct("id", "sz").alias("m"), "shingle"
    )
    # ONE shuffle clusters co-occurring ids per shingle; the hot-shingle cap
    # (stop-shingle skew guard) and the can't-pair filter apply to the
    # aggregated lists, replacing the old frequency-agg + filter join.
    # Key-repartition: AQE-coalescing guard for the pair-explode stage
    # (guide §2.5; see _prefix_filtered_ngram_pairs).
    n_parts = sh.sparkSession.sparkContext.defaultParallelism
    groups = (
        sh.repartition(n_parts, "shingle")
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .where(F.size("ms").between(2, hot_shingle_cap))
    )
    # Worker-side pair enumeration (see ordered_pairs): pairs are exploded
    # after the shingle shuffle and partially aggregated map-side before the
    # (much smaller) pair shuffle. Per-row memory is bounded by C(cap, 2).
    common = (
        groups.select(F.explode(ordered_pairs(F.col("ms"), "a", "b")).alias("p"))
        .groupBy(F.col("p.a.id").alias("id_a"), F.col("p.b.id").alias("id_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("p.a.sz").alias("sz_a"),
            F.first("p.b.sz").alias("sz_b"),
        )
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


#: most qualifying shingles the prefix path collects into a driver-side
#: dictionary; a larger dictionary takes the broadcast-join fallback
_DICT_MAX = 5_000_000


def _prefix_filtered_ngram_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
    hot_shingle_cap: int,
) -> DataFrame:
    """Prefix-filtered exact n-gram Jaccard (see ngram_jaccard_pairs).

    Exactness argument: let sz be a doc's FULL distinct shingle count and
    S' its shingles with doc-frequency in [2, cap] (the only ones the
    legacy path ever counts — singletons cannot be shared, hot shingles
    are capped out). For a pair (a, b), n_common = |S'_a ∩ S'_b| and
    jaccard = n_common / (sz_a + sz_b - n_common) <= n_common / sz_a, so
    round(jaccard, 6) >= t implies n_common >= t_eff * sz_a with
    t_eff = t - 1e-6 (round-half-up at 6dp moves a value by < 5e-7).
    Order S'_a by a global canonical order (doc-frequency asc, then
    shingle — rarest first, the standard pruning-maximizing choice); if
    the intersection avoided the first |S'_a| - cmin_a + 1 elements it
    would fit in the remaining cmin_a - 1, contradiction — so every
    qualifying pair collides on BOTH members' prefixes, and generating
    candidates from prefixes only loses nothing. Each candidate is then
    verified with the exact intersection of the two full qualifying-
    shingle sets, and the final filter is the IDENTICAL rounded-jaccard
    predicate, so the output row set (and every float) matches the legacy
    path.

    Plan shape: Arrow shingle scan -> doc-frequency agg (map-side
    combinable) -> dense canonical ids (one window over the qualifying-
    shingle dictionary — bounded by the corpus vocabulary, not the corpus;
    at extreme scale swap for partition-offset ranks) broadcast back ->
    per-doc sorted int arrays (one shuffle) -> prefix explode (full array
    rides as payload) -> per-prefix-shingle collect + ONE numpy verify
    kernel -> distinct over the tiny verified set. No candidate-pair
    aggregation ever materializes."""
    from pyspark.sql import Window

    import math

    t_eff = max(0.0, threshold - 1e-6)
    id_type = df.schema[id_col].dataType.simpleString()
    sc = df.sparkSession.sparkContext

    # ---- qualifying-shingle dictionary (doc-frequency in [2, cap]) -------
    # frequency pass with KERNEL-SIDE partial counts: per flush the kernel
    # emits one (shingle, n) row per DISTINCT shingle instead of one row per
    # (doc, shingle) — on the shared-vocab bench corpus that is ~0.9M Arrow
    # rows instead of 2.6M, and the groupBy sum input shrinks the same way
    def _partial_counts(batches):
        from collections import Counter

        cnt: Counter = Counter()
        for pdf in batches:
            for text in pdf[text_col]:
                if text is None:
                    continue
                words = text.split(" ")
                n = max(1, len(words) - (k - 1))
                # .keys(): Counter.update on a MAPPING adds its values —
                # the keys view counts each distinct shingle once per doc
                cnt.update(
                    dict.fromkeys(" ".join(words[i : i + k]) for i in range(n)).keys()
                )
            if len(cnt) >= 1 << 20:  # flush budget: bounded worker memory
                yield pd.DataFrame(
                    {"shingle": list(cnt.keys()),
                     "n": pd.Series(list(cnt.values()), dtype=np.int64)}
                )
                cnt = Counter()
        if cnt:
            yield pd.DataFrame(
                {"shingle": list(cnt.keys()),
                 "n": pd.Series(list(cnt.values()), dtype=np.int64)}
            )

    freq = (
        df.select(text_col)
        .mapInPandas(_partial_counts, "shingle string, n long")
        .groupBy("shingle")
        .agg(F.sum("n").alias("df_"))
    )
    qual = freq.where(F.col("df_").between(2, hot_shingle_cap))

    # dictionary strategy: the canonical order is (df_, shingle) ascending —
    # rarest first. Small dictionaries (bounded like any broadcast side) are
    # collected once and shipped as a broadcast variable into ONE kernel that
    # emits each doc's sorted qualifying-sid array directly — no second
    # shingle explode, no dictionary join, no per-doc collect shuffle
    # (measured −3s at sf1.0). Dictionaries over _DICT_MAX shingles fall
    # back to the broadcast-join + collect_list shape (identical results).
    # ONE construction job: TakeOrdered of at most max+1 rows — the +1 both
    # detects an oversized dictionary AND bounds driver memory (a separate
    # count() guard would run the frequency pipeline twice)
    dict_rows = qual.orderBy("df_", "shingle").limit(_DICT_MAX + 1).collect()
    if len(dict_rows) > _DICT_MAX:
        dict_rows = None
    if dict_rows is not None:
        ranks = {r["shingle"]: i + 1 for i, r in enumerate(dict_rows)}
        bc = sc.broadcast(ranks)

        def _doc_sids(batches):
            lut = bc.value
            for pdf in batches:
                ids: list = []
                szs: list = []
                sids: list = []
                plens: list = []
                for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                    if text is None:
                        continue
                    words = text.split(" ")
                    n = max(1, len(words) - (k - 1))
                    seen = dict.fromkeys(
                        " ".join(words[i : i + k]) for i in range(n)
                    )
                    sz = len(seen)
                    cmin = max(1, math.ceil(t_eff * sz - 1e-9))
                    row = sorted(lut[s] for s in seen if s in lut)
                    if len(row) < cmin:
                        continue
                    ids.append(doc_id)
                    szs.append(sz)
                    sids.append(row)
                    plens.append(len(row) - cmin + 1)
                yield pd.DataFrame(
                    {"id": pd.Series(ids, dtype=object),
                     "sz": pd.Series(szs, dtype=np.int32),
                     "sids": pd.Series(sids, dtype=object),
                     "plen": pd.Series(plens, dtype=np.int32)}
                )

        doc = df.select(id_col, text_col).mapInPandas(
            _doc_sids, f"id {id_type}, sz int, sids array<int>, plen int"
        )
        pre = doc.select(
            "id", "sz", "sids",
            F.explode(F.slice("sids", F.lit(1), F.col("plen"))).alias("psid"),
        )
    else:
        sh_flat = exploded_shingles(df, text_col, id_col, k)
        wq = Window.orderBy("df_", "shingle")
        dict_df = qual.select("shingle", F.row_number().over(wq).alias("sid"))
        rows = sh_flat.join(F.broadcast(dict_df), "shingle").select("id", "sz", "sid")
        doc = (
            rows.groupBy("id")
            .agg(F.array_sort(F.collect_list("sid")).alias("sids"), F.first("sz").alias("sz"))
            .withColumn(
                "cmin",
                F.greatest(
                    F.lit(1), F.ceil(F.lit(t_eff) * F.col("sz") - F.lit(1e-9)).cast("int")
                ),
            )
            .where(F.size("sids") >= F.col("cmin"))
        )
        pre = doc.select(
            "id",
            "sz",
            "sids",
            F.explode(
                F.slice("sids", F.lit(1), F.size("sids") - F.col("cmin") + F.lit(1))
            ).alias("psid"),
        )
    # key-repartition before the groupBy: the prefix shuffle is small in
    # bytes, so AQE coalescing would otherwise squash the CPU-heavy verify
    # kernel's input to one partition (guide §2.5; same guard as
    # similarity._neardup_from_buckets — AQE-exempt, reused by the groupBy)
    n_parts = pre.sparkSession.sparkContext.defaultParallelism
    grp = (
        pre.repartition(n_parts, "psid")
        .groupBy("psid")
        .agg(F.collect_list(F.struct("id", "sz", "sids")).alias("docs"))
        .where(F.size("docs") >= 2)
    )

    def _verify_kernel(batches):
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype=object),
                "id_b": pd.Series([], dtype=object),
                "n_common": pd.Series([], dtype=np.int64),
                "sz_a": pd.Series([], dtype=np.int32),
                "sz_b": pd.Series([], dtype=np.int32),
            }
        )
        for b in batches:
            out_a, out_b, out_c, out_sa, out_sb = [], [], [], [], []
            for docs in b["docs"]:
                members = sorted(
                    ((d["id"], d["sz"], d["sids"]) for d in docs), key=lambda x: x[0]
                )
                n = len(members)
                for i in range(n - 1):
                    ida, sza, sa = members[i]
                    for j in range(i + 1, n):
                        idb, szb, sb = members[j]
                        c = np.intersect1d(sa, sb, assume_unique=True).size
                        out_a.append(ida)
                        out_b.append(idb)
                        out_c.append(c)
                        out_sa.append(sza)
                        out_sb.append(szb)
            yield (
                pd.DataFrame(
                    {
                        "id_a": pd.Series(out_a, dtype=object),
                        "id_b": pd.Series(out_b, dtype=object),
                        "n_common": pd.Series(out_c, dtype=np.int64),
                        "sz_a": pd.Series(out_sa, dtype=np.int32),
                        "sz_b": pd.Series(out_sb, dtype=np.int32),
                    }
                )
                if out_a
                else empty
            )

    verified = grp.select("docs").mapInPandas(
        _verify_kernel,
        f"id_a {id_type}, id_b {id_type}, n_common long, sz_a int, sz_b int",
    )
    # a pair colliding in p prefix shingles yields p IDENTICAL rows (exact
    # intersection both times) — distinct over the small candidate set
    return (
        verified.distinct()
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    k: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """K min-hashes per doc: Arrow shingle scan + codegen'd hash/min agg.

    hash_j(s) = md5(j || ':' || s); the signature element is the min over
    shingles — a uniform order statistic. 'md5' is the only signature
    family: engine-portable, the DuckDB oracle computes identical strings.
    The 'fast' family never builds per-hash signatures (see
    _fast_band_keys); any other ``hash_fn`` raises ValueError.
    """
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    df = ensure_parallelism(df)
    # r8 restructure (measured at sf1.0, 40k docs / 2.0M distinct shingles,
    # 32 cores): the former one-pass HOF form (transform each shingle to its
    # n_hashes salted hashes, elementwise-min fold) ran the ENTIRE scan on
    # the interpreted expression path (higher-order functions are
    # CodegenFallback) — 10.4s of shingle construction alone, 12.1s with the
    # hashes. The Arrow shingle kernel (exploded_shingles — byte-identical
    # distinct shingles, shared with the ngram/decontamination family)
    # produces the same rows in 1.95s; the n_hashes salted hashes then run
    # as plain codegen'd columns + partially-aggregated min() (3.1s total).
    # Signatures are bit-identical: min over the same distinct shingle set,
    # same hash expressions, and the old fold's top sentinel was unreachable
    # (every doc has >= 1 shingle). NULL text parity: the HOF form collapsed
    # NULL to the "" shingle (split(NULL) -> NULL -> concat_ws -> ""), the
    # kernel skips NULL rows — coalesce to '' reproduces the "" shingle.
    # The groupBy shuffle is n_docs x n_hashes AFTER map-side partial min.
    sh = exploded_shingles(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        ),
        "_t", "id", k, with_size=False,
    )
    hcols = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"_h{j}")
        for j in range(n_hashes)
    ]
    return (
        sh.groupBy("id")
        .agg(*hcols)
        .select("id", F.array(*[F.col(f"_h{j}") for j in range(n_hashes)]).alias("sig"))
    )


# splitmix64 finalizer constants (public domain, Steele et al.) — the mixer
# behind the 'fast' minhash family. All arithmetic is uint64 wraparound,
# which numpy arrays implement exactly (C semantics), so the family is
# deterministic across processes, partitionings, and platforms.
_MIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix64(z: np.ndarray) -> np.ndarray:
    z = (z ^ (z >> np.uint64(30))) * _MIX_C1
    z = (z ^ (z >> np.uint64(27))) * _MIX_C2
    return z ^ (z >> np.uint64(31))


def _fast_salts(n_hashes: int) -> np.ndarray:
    return _mix64(np.arange(1, n_hashes + 1, dtype=np.uint64) * _GOLDEN)


# flush budget for the 'fast' kernel: at n_hashes=32 one flush's signature
# matrix is 256k x 32 x 8B = 64 MB (the salt-mix itself is column-at-a-time,
# ~2 MB working set), keeping all 32 workers' combined peak well under host
# RAM regardless of Arrow batch size, doc length distribution, or corpus
# scale.
_FAST_CHUNK_SHINGLES = 1 << 18


def _fast_band_keys(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int, bands: int, k: int
) -> DataFrame:
    """Band keys via ONE base hash per shingle + a vectorized salt-mix family,
    as a single Arrow ``mapInPandas`` kernel.

    The JVM md5 family computes n_hashes independent hashes PER SHINGLE:
    O(shingles x n_hashes) hash evaluations. The standard practical MinHash
    (Broder's resemblance sketch as implemented by e.g. the datasketch
    library) instead hashes each shingle ONCE and derives the K
    permutations from it with a cheap mixing family; here hash_j(s) =
    mix64(base(s) ^ salt_j) with base = pandas' deterministic siphash
    (``pd.util.hash_array``, fixed key, C speed) and mix64 = splitmix64's
    finalizer. Uniformity of each hash_j follows from the
    mixer's avalanche; the planted-neardup recall tests pin the quality.

    Shingling is byte-identical to ``exploded_shingles`` (split(" ") incl.
    empty tokens, truncated tail shingle, dict-distinct). NULL text emits
    no band keys (such docs can never be near-dup candidates); empty text
    emits the "" shingle, so all-empty docs still collide, matching
    exact-dup semantics. Band hash = mix64 fold over the band's signature
    rows. Keys are NOT comparable with md5 keys — the stamped ``hash_fn``
    on committed band tables (_check_signature_params) refuses cross-family
    joins.

    Plan shape: one narrow MapInPandas (no shuffle, no self-join). Peak
    python memory is bounded by the flush budget, NOT by Arrow batch size
    or doc count: docs accumulate until ~_FAST_CHUNK_SHINGLES distinct
    shingles are buffered, then one vectorized flush emits their band keys
    (the naive per-Arrow-batch matrix was measured to thrash the host —
    10k docs x ~300 shingles x n_hashes x 8B in ~5 temporaries per worker
    x 32 workers exceeded RAM and hung the executor heartbeat).
    """
    df = ensure_parallelism(df)
    id_type = df.schema[id_col].dataType.simpleString()
    rows = n_hashes // bands
    n_used = bands * rows  # JVM parity: sig[b*rows+r] ignores trailing hashes
    salts = _fast_salts(n_hashes)
    band_ids = np.arange(bands, dtype=np.int32)
    flush_at = _FAST_CHUNK_SHINGLES  # driver-side capture: tests shrink it

    def _flush(ids: list, offsets: list, shingles: list) -> pd.DataFrame:
        base = pd.util.hash_array(np.asarray(shingles, dtype=object)).astype(np.uint64)
        # One salt column at a time, mixed in place: the working set per
        # column is len(shingles) x 8B (~2 MB at the flush budget), cache-
        # resident, vs the full (shingles x n_hashes) matrix + ~8 elementwise
        # temporaries (~0.5 GB of DRAM traffic per flush) — bit-identical
        # output, ~3x faster single-core, and the bandwidth cut is what lets
        # 8-32 concurrent workers on one host scale instead of queueing on
        # memory (only the n_used columns are computed; trailing hashes were
        # always discarded).
        off = np.asarray(offsets)
        sig = np.empty((len(ids), n_used), dtype=np.uint64)
        t = np.empty_like(base)
        for j in range(n_used):
            np.bitwise_xor(base, salts[j], out=t)
            t ^= t >> np.uint64(30)
            t *= _MIX_C1
            t ^= t >> np.uint64(27)
            t *= _MIX_C2
            t ^= t >> np.uint64(31)
            np.minimum.reduceat(t, off, axis=0, out=sig[:, j])
        s = sig.reshape(len(ids), bands, rows)
        h = np.full((len(ids), bands), _GOLDEN, dtype=np.uint64)
        for r in range(rows):
            h = _mix64(h ^ s[:, :, r])
        return pd.DataFrame(
            {
                "id": np.repeat(np.asarray(ids, dtype=object), bands),
                "band": np.tile(band_ids, len(ids)),
                "band_hash": h.ravel().view(np.int64),
            }
        )

    def _kernel(batches):
        ids: list = []
        offsets: list = []
        shingles: list = []
        for pdf in batches:
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = text.split(" ")
                n = max(1, len(words) - (k - 1))
                seen = dict.fromkeys(" ".join(words[i : i + k]) for i in range(n))
                offsets.append(len(shingles))
                shingles.extend(seen)
                ids.append(doc_id)
                if len(shingles) >= flush_at:
                    yield _flush(ids, offsets, shingles)
                    ids, offsets, shingles = [], [], []
        if ids:
            yield _flush(ids, offsets, shingles)

    return df.select(id_col, text_col).mapInPandas(
        _kernel, f"id {id_type}, band int, band_hash long"
    )


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """``(id, band, band_hash)`` LSH band keys — the shared currency of
    one-shot pair mining (minhash_lsh_pairs) AND the committed band table
    incremental dedup joins against. Two docs are near-dup candidates iff
    they share a ``(band, band_hash)`` key; the key is content-derived, so
    keys computed today and keys committed last month are comparable
    (within one ``hash_fn`` family — the stamp on committed tables refuses
    cross-family mixing). Families: 'md5' (the default; engine-portable,
    DuckDB-oracle checked) and 'fast' (Arrow kernel, one base hash +
    salt-mix family — the 100 TB throughput path, see _fast_band_keys)."""
    rows = n_hashes // bands
    if hash_fn == "fast":
        return _fast_band_keys(df, text_col, id_col, n_hashes, bands, k)
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, k, hash_fn=hash_fn)

    def band_hash(b: int):
        # engine-portable band key: DuckDB computes the identical string
        # (md5 over '|'-joined signature hex digests) — the oracle path
        return F.md5(F.concat_ws("|", *[F.col("sig")[b * rows + r] for r in range(rows)]))

    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_hash(b).alias("band_hash"))
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("id", "bh.band", "bh.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs agreeing on ALL rows of
    any band collide. rows_per_band = n_hashes // bands tunes the similarity
    threshold (~ (1/bands)^(1/rows)). Defaults to md5 (engine-portable,
    DuckDB-oracle checked); pass hash_fn='fast' for the Arrow salt-mix
    kernel, the throughput family."""
    banded = minhash_band_keys(df, text_col, id_col, n_hashes, bands, k, hash_fn)
    # one shuffle clusters each band bucket; colliding pairs are enumerated
    # worker-side via two streaming generates (explode_ordered_pairs) instead
    # of a banded self-join — no shuffled candidate rows, and bucket size is
    # unbounded here (an exact-dup cluster collides in EVERY band), so the
    # O(B)-per-row streaming form is load-bearing, not a nicety.
    # Key-repartition keeps AQE from coalescing the pair-enumeration stage
    # to one partition on small-byte inputs (guide §2.5).
    n_parts = banded.sparkSession.sparkContext.defaultParallelism
    groups = (
        banded.repartition(n_parts, "band", "band_hash")
        .groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return explode_ordered_pairs(groups, "ids", "id_a", "id_b").distinct()


#: bucket count commit_minhash_bands gives a new band table
_BAND_BUCKETS = 16


def commit_minhash_bands(
    df: DataFrame | None,
    table: str,
    path: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    hash_fn: str = "md5",
    mode: str = "overwrite",
    hot_band_cap: int | None = None,
    banded: DataFrame | None = None,
) -> None:
    """Persist the LSH band keys of a ``(doc_id, text)`` corpus as a
    ``band_hash``-bucketed table —
    the standing index a daily ingest dedups against. ``mode='append'``
    adds a new batch's keys after it has been dedup-checked, so the table
    only ever grows by accepted batches (the commit discipline lineage.py's
    wave protocol uses, applied to the dedup index).

    ``hot_band_cap``: keep at most N ids per (band, band_hash) PER COMMIT —
    the skew valve for the join side. A giant exact-dup cluster collides in
    EVERY band; uncapped, its band key becomes a hot join key at ingest
    time. Docs sharing a band key are mutual candidates, so a capped set of
    REPRESENTATIVES still links every future near-dup into the cluster
    (pairs to a representative; full membership via connected components) —
    what the cap drops is only redundant intra-cluster pairs. NOTE the cap
    is per commit: with ``mode='append'`` the STANDING table's per-key
    cardinality can grow by up to cap per batch; run
    :func:`recap_band_index` periodically (table maintenance, like
    compaction) to re-tighten the global invariant. Default off: the
    oracle-checked path is exact.

    ``banded`` lets a caller pass precomputed band keys (streaming ingest
    signs each batch exactly once and reuses the keys here).

    At 100 TB the full corpus is NEVER re-signatured: each batch computes
    its own keys once and the bucketed layout keeps every later join
    exchange-free on this (large) side."""
    from docling_gfcr_spark import io as gio

    if banded is None:
        if df is None:
            raise ValueError("pass df or banded")
        banded = minhash_band_keys(df, "text", "doc_id", n_hashes, bands, k, hash_fn)
    spark = banded.sparkSession
    if mode == "append" and spark.catalog.tableExists(table):
        # appending keys built with different signature parameters would mix
        # incomparable band hashes into one index — refuse before writing
        _check_signature_params(
            spark, table, n_hashes, bands, k, hash_fn, "commit_minhash_bands"
        )
    if hot_band_cap is not None:
        banded = _cap_band_keys(banded, hot_band_cap)
    gio.write_bucketed(banded, table, path, key="band_hash", n_buckets=_BAND_BUCKETS, mode=mode)
    _write_signature_params(spark, table, n_hashes, bands, k, hash_fn)


_SIG_PARAM_KEYS = ("n_hashes", "bands", "k", "hash_fn")


def _write_signature_params(spark, table: str, n_hashes, bands, k, hash_fn) -> None:
    """Stamp the minhash signature parameters on the committed band table
    (TBLPROPERTIES) so later ingests can prove their keys are comparable."""
    props = ", ".join(
        f"'minhash.{key}'='{val}'"
        for key, val in zip(_SIG_PARAM_KEYS, (n_hashes, bands, k, hash_fn))
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({props})")


def _read_signature_params(spark, table: str) -> dict[str, str]:
    # callers guard table existence; a FAILING properties read must raise,
    # not silently disable the param-mismatch guard (a swallowed metastore
    # error here would let incomparable band keys dedup against nothing —
    # the exact failure the stamp exists to prevent). Pre-stamping legacy
    # tables still pass: SHOW succeeds and simply lacks the minhash.* keys.
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {str(r.key): str(r.value) for r in rows}
    return {
        key: props[f"minhash.{key}"]
        for key in _SIG_PARAM_KEYS
        if f"minhash.{key}" in props
    }


def _check_signature_params(spark, table: str, n_hashes, bands, k, hash_fn, context: str) -> None:
    """Band keys are only comparable when BOTH sides used the same
    (n_hashes, bands, k, hash_fn): a mismatch makes the index join silently
    yield ~no candidates and duplicates get committed undetected — the same
    failure class the allow_missing_table guard exists for. Tables written
    before stamping existed (no properties) are allowed through."""
    have = _read_signature_params(spark, table)
    want = dict(zip(_SIG_PARAM_KEYS, (str(n_hashes), str(bands), str(k), str(hash_fn))))
    if have and have != want:
        raise ValueError(
            f"{context}: committed band table {table!r} was built with minhash "
            f"params {have} but this call uses {want} — band keys would be "
            "incomparable and dedup would silently find nothing"
        )


def _cap_band_keys(banded: DataFrame, cap: int) -> DataFrame:
    from pyspark.sql import Window

    if int(cap) < 1:
        # cap<=0 keeps NOTHING: under recap_band_index that would rewrite
        # the standing index (the corpus' only cross-batch dedup state) to
        # empty while printing a normal-looking report — refuse up front
        raise ValueError(f"hot_band_cap must be >= 1, got {cap}")
    w = Window.partitionBy("band", "band_hash").orderBy("id")
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(cap))
        .drop("_rn")
    )


def recap_band_index(spark, table: str, path: str, hot_band_cap: int) -> None:
    """Table MAINTENANCE: rewrite the standing band index keeping at most
    ``hot_band_cap`` ids per (band, band_hash) GLOBALLY — per-commit caps
    drift upward under append-mode ingest (up to cap x batches per key);
    run this periodically as table maintenance. Deterministic
    representatives (lowest ids) so reruns are idempotent.

    Staged rewrite: the capped copy is fully committed to ``<path>_recap``
    / ``<table>_recap`` BEFORE the main table is overwritten, so a crash
    mid-publish never leaves the corpus' only signature record destroyed —
    the staged table survives for manual recovery. The bucket count is read
    from the CATALOG, so maintenance preserves the
    physical layout the exchange-free ingest join was planned around.
    Requires ingest quiescence (an append landing between read and publish
    would be clobbered)."""
    from docling_gfcr_spark import io as gio

    n_buckets = _table_bucket_count(spark, table) or _BAND_BUCKETS
    # the overwrite saveAsTable below recreates the table, dropping the
    # stamped signature parameters — carry them across the rewrite
    sig = _read_signature_params(spark, table)
    tmp_table, tmp_path = f"{table}_recap", path.rstrip("/") + "_recap"
    # distinct BEFORE capping: the documented at-least-once band append can
    # leave duplicate (id, band, band_hash) rows, which would both count
    # toward the cap (evicting distinct ids) and survive the rewrite —
    # recap is the maintenance pass that removes them
    capped = _cap_band_keys(spark.table(table).distinct(), hot_band_cap)
    gio.write_bucketed(
        capped, tmp_table, tmp_path, key="band_hash", n_buckets=n_buckets, mode="overwrite"
    )
    # publish: rewrite main from the durable staged copy (not from
    # checkpoint blocks that die with the app)
    gio.write_bucketed(
        spark.table(tmp_table), table, path, key="band_hash",
        n_buckets=n_buckets, mode="overwrite",
    )
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    if len(sig) == len(_SIG_PARAM_KEYS):
        _write_signature_params(spark, table, *[sig[key] for key in _SIG_PARAM_KEYS])
    spark.catalog.refreshTable(table)


def _table_bucket_count(spark, table: str) -> int | None:
    try:
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
            if str(r.col_name).strip() == "Num Buckets":
                return int(str(r.data_type).strip())
    except Exception:
        return None
    return None


def incremental_minhash_pairs(
    spark,
    table: str,
    new_df: DataFrame | None = None,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    hash_fn: str = "md5",
    new_banded: DataFrame | None = None,
    allow_missing_table: bool = False,
) -> DataFrame:
    """Append-only near-dup dedup: candidate pairs of a NEW batch against
    (committed corpus + the batch itself) WITHOUT recomputing the corpus.

    Equals ``minhash_lsh_pairs(old UNION new)`` restricted to pairs that
    touch at least one new id (old-old pairs were resolved when those
    batches were ingested) — the driver gate value-checks exactly that
    equivalence. Precondition: batch ids are disjoint from committed ids.

    Scale shape:
    - batch band keys are computed once (O(batch));
    - new-vs-corpus candidates come from an equi-join on (band, band_hash)
      against the ``band_hash``-bucketed committed table: the corpus side
      needs NO exchange (bucketed layout, pinned in test_plans) and only
      the small batch side moves;
    - batch-internal pairs reuse the collect_list + ordered-pair
      enumeration (no self-join, threshold-sized buckets).

    ``new_banded`` lets a caller that already computed the batch's band
    keys (streaming ingest signs each batch exactly once) pass them in
    instead of re-signaturing ``new_df`` (a ``(doc_id, text)`` batch). A missing committed table is an
    ERROR unless ``allow_missing_table=True`` (the first-batch bootstrap) —
    silently deduping against nothing would commit duplicates undetected.
    """
    if new_banded is None:
        if new_df is None:
            raise ValueError("pass new_df or new_banded")
        new_banded = minhash_band_keys(new_df, "text", "doc_id", n_hashes, bands, k, hash_fn)
    cross = None
    if spark.catalog.tableExists(table):
        _check_signature_params(
            spark, table, n_hashes, bands, k, hash_fn, "incremental_minhash_pairs"
        )
        committed = spark.table(table)
        # new-vs-corpus: every committed id sharing a band key with a batch id
        cross = (
            committed.alias("c")
            .join(new_banded.alias("n"), ["band", "band_hash"])
            .select(
                F.least(F.col("c.id"), F.col("n.id")).alias("id_a"),
                F.greatest(F.col("c.id"), F.col("n.id")).alias("id_b"),
            )
        )
    elif not allow_missing_table:
        raise ValueError(
            f"committed band table {table!r} does not exist — a mistyped name "
            "would silently dedup against nothing; pass allow_missing_table=True "
            "only for the first-batch bootstrap"
        )
    # new-vs-new: dup pairs arriving inside the same batch (key-repartition:
    # the AQE-coalescing guard of minhash_lsh_pairs, batch side only — the
    # committed side's exchange-free bucketed scan is untouched)
    n_parts = new_banded.sparkSession.sparkContext.defaultParallelism
    groups = (
        new_banded.repartition(n_parts, "band", "band_hash")
        .groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    batch_pairs = explode_ordered_pairs(groups, "ids", "id_a", "id_b")
    # first batch ever (bootstrap): batch-internal pairs only. The id_a !=
    # id_b filter also covers a doc_id DUPLICATED within one batch
    # (at-least-once upstream delivery): its self-pair must not surface —
    # a keep-first consumer would otherwise DELETE the doc entirely.
    pairs = batch_pairs if cross is None else cross.unionByName(batch_pairs)
    return pairs.where(F.col("id_a") != F.col("id_b")).distinct()


def keep_first_drops(pairs: DataFrame, new_ids: DataFrame) -> DataFrame:
    """KEEP-FIRST resolution over candidate pairs that touch a new batch:
    a new doc paired with an already-committed doc drops (the committed side
    was there first), and of a both-new pair the larger id drops (``id_a <
    id_b`` by construction). Shared by the streaming near-dup ingest and the
    batch daily-ingest job so the two paths cannot diverge.

    ``new_ids`` is a one-column DataFrame holding the batch's ids; any pair
    id absent from it is treated as committed. Returns one column ``id`` —
    the batch ids to drop. Scale shape: ``pairs`` is O(batch candidates) and
    ``new_ids`` O(batch); nothing here touches the corpus."""
    idc = new_ids.columns[0]
    ids = new_ids.select(F.col(idc).alias("nid")).distinct()
    na = ids.select(F.col("nid").alias("id_a"), F.lit(True).alias("a_new"))
    nb = ids.select(F.col("nid").alias("id_b"), F.lit(True).alias("b_new"))
    fl = (
        pairs.join(na, "id_a", "left")
        .join(nb, "id_b", "left")
        .na.fill(False, ["a_new", "b_new"])
    )
    return (
        # new doc duplicating a committed one (whichever pair side)
        fl.where(F.col("a_new") & ~F.col("b_new")).select(F.col("id_a").alias("id"))
        .unionByName(
            fl.where(F.col("b_new") & ~F.col("a_new")).select(F.col("id_b").alias("id"))
        )
        # both new: keep-first
        .unionByName(
            fl.where(F.col("a_new") & F.col("b_new")).select(F.col("id_b").alias("id"))
        )
        .distinct()
    )


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the cached blocks behind a ``localCheckpoint``ed DataFrame.

    ``Dataset.unpersist`` only frees CacheManager entries (from ``persist``);
    a local checkpoint lives as a plain persisted RDD referenced by the
    analyzed plan's LogicalRDD node, so without this every iteration of an
    iterative job leaks one materialized label table into the block manager.
    Best-effort: internal-API access is wrapped, failure just means the
    blocks age out with the session as before.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


#: label-propagation rounds connected_components runs before giving up
_CC_MAX_ITER = 50


def connected_components(edges: DataFrame) -> DataFrame:
    """Dedup clusters: connected components over ``(id_a, id_b)`` near-dup
    pairs by iterative min-label propagation (each node takes the smallest label among itself
    and its neighbors until fixpoint — O(diameter) rounds, so near-dup
    clusters converge in a handful).

    Iterative-Spark discipline: every round ``localCheckpoint``s the label
    table — without truncation the lineage doubles per round and planning
    time explodes (the classic iterative-join trap); the convergence check
    is one count per round. Each superseded round's checkpoint is freed, and
    so is the last one when the loop gives up.

    Returns ``(node, comp)`` where comp = min node id in the component.
    An empty edge set converges in the first round to an empty table.
    Raises ``RuntimeError`` if the loop hits ``_CC_MAX_ITER`` without
    reaching the fixpoint — un-converged labels are silently WRONG clusters,
    and for near-dup graphs a diameter > 50 means the input is not what this
    operator is for.
    """
    # both directions of every edge from ONE read of the input (one explode,
    # not a self-union that plans the edge source twice)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
                    F.struct(F.col("id_b").alias("a"), F.col("id_a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint()
    )
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    ).localCheckpoint()
    converged = False
    for _ in range(_CC_MAX_ITER):
        nbr = und.join(labels, und["b"] == labels["node"]).select(
            F.col("a").alias("node"), F.col("comp")
        )
        new_labels = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("comp").alias("comp"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        _free_local_checkpoint(labels)  # superseded round: release its blocks
        labels = new_labels
        if changed == 0:
            converged = True
            break
    _free_local_checkpoint(und)
    if not converged:
        _free_local_checkpoint(labels)
        raise RuntimeError(
            f"connected_components did not converge within {_CC_MAX_ITER} "
            "rounds; labels would be wrong — raise _CC_MAX_ITER for "
            "high-diameter graphs"
        )
    return labels


def dedup_cluster_members(df: DataFrame) -> DataFrame:
    """MinHash-LSH pairs (md5, 32 hashes, 8 bands, 5-word shingles) of a
    ``(doc_id, text)`` table -> connected components -> full membership
    table (every doc in a >=2-member near-dup cluster, labeled by its
    cluster's min doc id — the keeper under keep-first policy)."""
    pairs = minhash_lsh_pairs(df, "text", "doc_id", 32, 8, 5, hash_fn="md5")
    comp = connected_components(pairs)
    return comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))


# ---- SimHash (pandas UDF: bit packing is not relational) -----------------


def _simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens, md5-derived token hashes.

    Deterministic and library-free so the pure-Python test oracle is the
    same function run outside Spark.
    """
    acc = [0] * 64
    for tok in text.split():
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if acc[bit] > 0:
            out |= 1 << bit
    return out - (1 << 64 if out >= 1 << 63 else 0)  # signed for LongType


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: _simhash64(t or ""))


def simhash_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split 64 bits into 4 chunks of 16; any pair within
    hamming<=3 agrees on >=1 chunk, so candidates come from 4 equi-joins
    (union), then exact popcount verify — no quadratic scan.
    """
    sh = ensure_parallelism(df).select(F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sh"))
    chunks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sh", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ck"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", "b.chunk", "b.ck")
    # one shuffle per-chunk-bucket; pairs (carrying both simhashes for the
    # popcount verify) enumerated worker-side via two streaming generates
    # (unbounded bucket sizes — exact dups agree on all 4 chunks), and the
    # hamming filter runs BEFORE the dedup shuffle — only qualifying pairs
    # leave the bucket task
    groups = (
        chunks.groupBy("chunk", "ck")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sh"))).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    cand = explode_ordered_pairs(groups, "ms", "a", "b").select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
    )
    return cand.where(F.col("hamming") <= max_hamming).distinct()
