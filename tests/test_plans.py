"""Physical-plan invariants: the plans we designed for are the plans we get.

These tests pin the scale-critical plan properties (predicate pushdown,
column pruning, broadcast choice, single Python boundary, shuffle count) so a
future refactor that silently regresses one fails CI, not a 100 TB run.
"""

from __future__ import annotations

import pytest

from docling_gfcr_spark import pipeline, queries, transcripts

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    p = plan_of(queries.q1_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q1_column_pruning(spark):
    p = plan_of(queries.q1_pricing_summary(spark, SF))
    scan_line = next(l for l in p.splitlines() if "ReadSchema" in l)
    # only the 7 needed columns reach the scan — not l_orderkey/partkey/suppkey
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in scan_line, f"{col} not pruned from scan"
    assert "l_shipdate" in scan_line and "l_quantity" in scan_line


def test_q5_dims_broadcast(spark):
    p = plan_of(queries.q5_nation_revenue(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "CartesianProduct" not in p


def test_anti_join_is_broadcast(spark):
    p = plan_of(queries.customers_without_orders(spark, SF))
    assert "LeftAnti" in p


def test_q9_dims_broadcast_facts_shuffle(spark):
    """q9's 6-way join: every dimension side (filtered part, the derived
    partsupp, supplier, nation) must arrive via BroadcastHashJoin — at 100x
    the only shuffles this plan may carry are the lineitem-orders fact join
    and the final aggregate."""
    p = plan_of(queries.q9_product_type_profit(spark, SF))
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_q11_single_pass_threshold_broadcast(spark):
    """q11's HAVING-over-total: the per-part aggregate joins the one-row
    total via broadcast (BroadcastNestedLoopJoin over a single row is fine);
    no CartesianProduct of two large sides."""
    p = plan_of(queries.q11_important_stock(spark, SF))
    assert "Broadcast" in p
    assert "CartesianProduct" not in p


def test_extraction_single_python_boundary_no_shuffle(spark):
    tdf = transcripts.make_transcripts(spark, 10, seed=1, parallelism=2)
    p = plan_of(pipeline.extract_turns(tdf))
    assert p.count("ArrowEvalPython") == 1, "extraction kernels must stay fused"
    assert "Exchange" not in p, "extraction path must not shuffle"


def test_extraction_reads_only_needed_columns(spark, tmp_path):
    # from a parquet source, the scan should prune to the 5 used columns
    src = str(tmp_path / "t")
    transcripts.make_transcripts(spark, 5, seed=2, parallelism=2).write.parquet(src)
    from pyspark.sql import functions as F

    df = pipeline.extract_turns(spark.read.parquet(src)).select("conv_id", "extracted_text")
    p = plan_of(df)
    scan_line = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "role" not in scan_line and "ts" not in scan_line


def test_assembly_two_phase_shuffles(spark):
    tdf = transcripts.make_transcripts(spark, 10, seed=1, parallelism=2)
    ex = pipeline.extract_turns(tdf)
    p = plan_of(pipeline.assemble_conversations(ex))
    # exactly two aggregation exchanges: (conv_id, slab) then (conv_id)
    assert p.count("Exchange hashpartitioning") == 2


def test_minhash_signature_shape(spark):
    """md5 signatures are ONE narrow Arrow kernel: exactly one MapInPandas,
    no aggregate, no per-row Python UDF, and no exchange — apart from the
    round-robin fan-out ``ensure_parallelism`` gives a single-split input."""
    from docling_gfcr_spark.operators import dedup

    n_par = spark.sparkContext.defaultParallelism
    split = spark.read.parquet(f"{SF}/documents.parquet")
    fanned = spark.range(0, 64, 1, n_par).selectExpr(
        "id AS doc_id", "concat('doc ', id, ' a b c d e') AS text"
    )
    for d, n_fanout in ((split, 1), (fanned, 0)):
        p = plan_of(dedup.minhash_signatures(d, n_hashes=8))
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
        assert p.count("MapInPandas") == 1
        assert "Aggregate" not in p
        exchanges = [l for l in p.splitlines() if "Exchange" in l]
        assert len(exchanges) == n_fanout, exchanges
        assert all("RoundRobinPartitioning" in l for l in exchanges), exchanges


def test_fast_minhash_band_keys_single_map_no_shuffle(spark):
    """The 'fast' family's band keys are one narrow MapInPandas — no
    hash-partitioning exchange, no join; and pair mining on top of it keeps
    the no-self-join property of the JVM families."""
    from docling_gfcr_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(dedup.minhash_band_keys(d, hash_fn="fast"))
    assert p.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in p and "Join" not in p
    p2 = plan_of(dedup.minhash_lsh_pairs(d, n_hashes=8, bands=4, k=3, hash_fn="fast"))
    assert "Join" not in p2 and "CartesianProduct" not in p2


def test_neardup_single_shuffle_no_candidate_join(spark):
    """The LSH near-dup plan must be: bucket UDF -> ONE hashpartitioning
    exchange (the (table, bucket) groupBy) -> grouped kernel -> distinct of
    the tiny qualifying set. No self-join, no second vector shuffle."""
    from docling_gfcr_spark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(similarity.embedding_neardup_pairs(e, n_planes=4, n_tables=4))
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsInArrow" in p
    # exchanges: one for the groupBy, one for the post-threshold distinct
    # (over qualifying pairs only) — never a candidate-pair shuffle
    assert p.count("Exchange hashpartitioning") <= 2


def test_dedup_pair_stages_have_no_self_join(spark):
    """Candidate pairs in the dedup family are enumerated worker-side
    (dedup.ordered_pairs) after ONE blocking-key shuffle — a regression back
    to a blocking self-join would shuffle C(group,2) rows per bucket at
    corpus scale."""
    from docling_gfcr_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")

    # zero joins anywhere: minhash/simhash enumerate inside band/chunk
    # buckets; the threshold<=0 ngram path carries per-doc sizes as payload
    for df in (
        dedup.ngram_jaccard_pairs(d, k=3, threshold=0.0),
        dedup.minhash_lsh_pairs(d, n_hashes=8, bands=4, k=3),
        dedup.simhash_pairs(d, max_hamming=3),
    ):
        p = plan_of(df)
        assert "Join" not in p and "CartesianProduct" not in p
    # the prefix-filtered path (threshold > 0) ships the qualifying-shingle
    # dictionary as a broadcast variable into the doc-sid kernel (small
    # dictionaries — the default; oversized ones fall back to one broadcast
    # join) — never a shuffle join or a blocking self-join, and no
    # candidate-pair aggregation anywhere
    p = plan_of(dedup.ngram_jaccard_pairs(d, k=3, threshold=0.5))
    assert "MapInPandas" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "CartesianProduct" not in p


def test_topk_corpus_scan_has_no_join(spark):
    """r8 shape: exact top-k is ONE narrow MapInPandas over the corpus (the
    probe matrix rides in the task closure, per-batch top-k inside the
    kernel) + a window over the tiny survivor set. A regression back to the
    crossJoin(broadcast) + HOF-cosine form materializes |corpus| x |probes|
    rows through the interpreted expression path (measured 86s at sf1.0 vs
    ~1s for this shape)."""
    from pyspark.sql import functions as F

    from docling_gfcr_spark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = e.where(F.col("vec_id") % 100 == 0)
    p = plan_of(similarity.cosine_topk(e, probes))
    assert "MapInPandas" in p
    assert "Join" not in p and "CartesianProduct" not in p
    # only the window's exchange remains, over per-batch top-k survivors
    assert p.count("Exchange hashpartitioning") <= 1


def test_decontamination_default_broadcasts_heldout(spark, monkeypatch):
    """A heldout set under ``_BROADCAST_MAX_DOCS`` ships its shingle set as
    a broadcast variable into ONE fused probe kernel (r8 — map-side probe,
    zero corpus shuffle before the tiny count agg, no join at all); past the
    bound the shuffle fallback must NOT broadcast — it hash-partitions both
    sides."""
    from pyspark.sql import functions as F

    from docling_gfcr_spark.operators import sampling
    from docling_gfcr_spark.operators.sampling import ngram_decontaminate

    d = spark.read.parquet(f"{SF}/documents.parquet")
    held = d.where(F.col("doc_id") % 50 == 0)
    p_b = plan_of(ngram_decontaminate(d, held, k=8))
    assert "MapInPandas" in p_b and "Join" not in p_b
    monkeypatch.setattr(sampling, "_BROADCAST_MAX_DOCS", 0)
    p_s = plan_of(ngram_decontaminate(d, held, k=8))
    assert "BroadcastHashJoin" not in p_s
    assert "ShuffledHashJoin" in p_s or "SortMergeJoin" in p_s


def test_pack_sequences_hash_mode_no_global_sort(spark):
    """Both pack_sequences modes: the only Window over a global ORDER BY is
    the tiny bucket-totals one; the per-doc window is partitioned by bucket
    (no single-partition sort of the corpus)."""
    from pyspark.sql import functions as F

    from docling_gfcr_spark.operators.sampling import pack_sequences

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("n_tokens")
    )
    for mode in ("id", "hash"):
        p = plan_of(pack_sequences(d, budget=4096, order_by=mode))
        # exactly one SinglePartition exchange: the bucket-totals window
        assert p.count("Exchange SinglePartition") == 1, mode
        assert "Window" in p


def test_aqe_splits_planted_skew_join(spark):
    """The AQE skew-join path actually fires on the planted-skew shape the
    skewed_hot_key_join gate query uses: with cluster-realistic thresholds
    scaled to test data, the final adaptive plan must mark the sort-merge
    join skew=true (the hot partition gets split into parallel subtasks
    instead of one straggler). Correctness under the split is what the gate
    query's oracle row checks."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 90, F.lit(0))
            .otherwise(F.col("id") % 97)
            .alias("hot_k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string"),
                     F.lit("x" * 48)).alias("payload"),
        )
        dim = spark.range(0, 97).select(
            F.col("id").alias("hot_k"), (F.col("id") % 7).alias("seg")
        )
        # the skew split applies where it matters: the join stage itself
        # (AQE declines to split when a downstream stage depends on the
        # join's partitioning — a groupBy right after would mask the split)
        j = fact.hint("merge").join(dim, "hot_k").select(
            "seg", F.length("payload").alias("l")
        )
        rows = j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p, "AQE did not split the planted skewed partition"
        assert "isFinalPlan=true" in p
        # values survive the split: 90% of 200k rows carry hot_k=0 -> seg 0
        assert sum(1 for r in rows if r.seg == 0) > 150_000
        assert len(rows) == 200_000
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_dedup_committed_side_exchange_free(spark, tmp_path):
    """The committed band table is band_hash-bucketed: the corpus side of
    the incremental-dedup join must read straight from the bucketed scan
    with NO Exchange — at 100 TB that side never shuffles; only the small
    batch moves (broadcast or repartition-to-buckets)."""
    from docling_gfcr_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    old = d.where("doc_id % 5 != 0")
    new = d.where("doc_id % 5 = 0")
    table = "plan_incr_bands"
    dedup.commit_minhash_bands(
        old, table, str(tmp_path / "bands"), n_hashes=8, bands=4, k=3, hash_fn="md5"
    )
    try:
        pairs = dedup.incremental_minhash_pairs(
            spark, table, new, n_hashes=8, bands=4, k=3, hash_fn="md5"
        )
        lines = plan_of(pairs).splitlines()
        scan_idx = [i for i, l in enumerate(lines) if "Bucketed: true" in l and table in l]
        assert scan_idx, "committed side must scan the bucketed table"
        join_idx = [i for i, l in enumerate(lines) if "Join" in l and "band_hash" in l]
        assert join_idx, "band-key join missing"
        j, s = join_idx[0], scan_idx[0]
        assert j < s, "bucketed scan must feed the join"
        between = "\n".join(lines[j + 1 : s])
        assert "Exchange" not in between, f"exchange on the committed side:\n{between}"
        # and pair enumeration inside the batch stays self-join-free
        # (worker-side ordered-pair explode, same as minhash_lsh_pairs)
        assert "CartesianProduct" not in "\n".join(lines)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_q6_filters_pushed_and_columns_pruned(spark):
    """The canonical single-scan agg: every RANGE predicate (not just the
    freebie IsNotNulls) must reach the parquet scan, and the read schema
    must hold exactly the 4 used columns."""
    from docling_gfcr_spark import queries

    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        p = plan_of(queries.q6_forecast_revenue(spark, SF))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    scan = next(l for l in p.splitlines() if "FileScan" in l and "lineitem" in l)
    pushed = scan.split("PushedFilters:")[1].split("ReadSchema")[0]
    for flt in (
        "GreaterThanOrEqual(l_shipdate,1996-01-01",
        "LessThan(l_shipdate,1997-01-01",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24",
    ):
        assert flt in pushed, f"{flt} not pushed: {pushed}"
    schema = scan.split("ReadSchema:")[1]
    assert "l_extendedprice" in schema and "l_returnflag" not in schema
    assert p.count("Exchange") - p.count("ReusedExchange") == 1  # partial->final agg only


def test_semantic_dedup_single_cluster_exchange(spark):
    """semantic_dedup's scale shape: centroid assignment is a broadcast-free
    scan (the codebook rides in the UDF closure), and the ONLY Exchange is
    the cluster-id groupBy that co-locates each cluster for the greedy
    kernel — no joins, no second vector shuffle, no global sort."""
    import numpy as np

    from docling_gfcr_spark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    # precomputed codebook isolates the SCORING plan (training is a separate,
    # sample-bounded job at 100 TB anyway)
    cent = similarity.train_ivf_centroids(e, n_centroids=8)
    p = plan_of(similarity.semantic_dedup(e, threshold=0.4, centroids=cent))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Sort " not in p or "SortAggregate" not in p  # no global sort
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsInArrow" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in p and "Exchange SinglePartition" not in p


def test_semantic_prune_corpus_never_shuffles(spark):
    """semantic_prune's RETURNED plan (what the corpus-build stage writes):
    the text corpus is filtered by a BROADCAST anti-join against the small
    materialized loser set — the corpus side never exchanges (the embed scan
    + cluster groupBy run inside the eager SemDeDup step, whose shape
    test_semantic_dedup_single_cluster_exchange pins)."""
    from docling_gfcr_spark.operators import similarity

    rows = [(f"d{i:03d}", " ".join(f"x{i}_{j}" for j in range(12))) for i in range(30)]
    rows.append(("dperm", " ".join(reversed(rows[0][1].split(" ")))))
    df = spark.createDataFrame(rows, "conv_id string, conv_text string")
    p = plan_of(similarity.semantic_prune(df, n_centroids=4, threshold=0.95))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "Exchange hashpartitioning" not in p  # corpus never shuffles
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_incremental_semantic_committed_side_exchange_free(spark, tmp_path):
    """The standing kept-embedding index is cluster-bucketed: the committed
    side of the incremental semantic cogroup must read straight from the
    bucketed scan with NO Exchange (at 100 TB that side never shuffles —
    only the day's batch moves), and the batch side's embed + assign UDFs
    must fuse into ONE ArrowEvalPython."""
    import numpy as np

    from docling_gfcr_spark.operators import similarity
    from pyspark.sql import functions as F

    rows = [(f"d{i:03d}", " ".join(f"v{i}_{j}" for j in range(8))) for i in range(30)]
    df = spark.createDataFrame(rows, "conv_id string, conv_text string")
    dim, K, thr = 64, 4, 0.95
    emb = df.select(
        similarity.md5_surrogate_id(F.col("conv_id")).alias("vec_id"),
        similarity.make_hashing_embed_udf(dim)(F.col("conv_text")).alias("embedding"),
    )
    cent = similarity.train_ivf_centroids(emb, n_centroids=K)
    table = "plan_sem_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        similarity.commit_semantic_index(
            spark, table, str(tmp_path / "idx"),
            similarity.embed_and_assign(df, cent, dim=dim),
            dim, K, thr, cent,
        )
        new = spark.createDataFrame(
            [(f"n{i:03d}", " ".join(f"w{i}_{j}" for j in range(8))) for i in range(10)],
            "conv_id string, conv_text string",
        )
        v = similarity.incremental_semantic_verdicts(
            spark, table, similarity.embed_and_assign(new, cent, dim=dim),
            thr, dim, K, cent,
        )
        lines = plan_of(v).splitlines()
        scan_idx = [i for i, l in enumerate(lines) if "Bucketed: true" in l and table in l]
        assert scan_idx, "committed side must scan the bucketed table"
        # the batch-cluster prune reaches the scan: a small batch must read
        # a slice of the index (row-group stats on the cluster-sorted
        # files), not the whole table
        assert "In(cluster" in lines[scan_idx[0]] or "EqualTo(cluster" in lines[scan_idx[0]], (
            f"cluster prune not pushed: {lines[scan_idx[0]]}"
        )
        cg_idx = [i for i, l in enumerate(lines) if "FlatMapCoGroupsInPandas" in l]
        assert cg_idx and cg_idx[0] < scan_idx[0]
        between = "\n".join(lines[cg_idx[0] + 1 : scan_idx[0]])
        assert "Exchange" not in between, f"exchange on the committed side:\n{between}"
        p = "\n".join(lines)
        assert p.count("ArrowEvalPython") == 1  # embed + assign fused, batch side only
        assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
