#!/usr/bin/env python3
"""Dump the physical plans of the scale-critical operators to PLANS.md.

Each section states the property the plan must exhibit (the same invariants
tests/test_plans.py pins) and then the `explain(formatted)` output at sf0.01,
so a reviewer can audit shuffle counts / pushdown / broadcast / Python
boundaries without running Spark. Regenerate after plan-shape changes:

    python tools/plan_audit.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    from pyspark.sql import functions as F

    from docling_gfcr_spark import pipeline, queries, transcripts
    from docling_gfcr_spark.operators import dedup, similarity
    from docling_gfcr_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", cores=8, shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    tdf = transcripts.make_transcripts(spark, 20, seed=1, parallelism=4)

    sections = [
        (
            "Extraction path (the north-star pipeline)",
            "MUST show exactly ONE ArrowEvalPython (all kernels fused) and ZERO "
            "Exchange nodes — scan to sink without a shuffle. Pinned by "
            "test_plans::test_extraction_single_python_boundary_no_shuffle.",
            pipeline.extract_turns(tdf, mode="agent"),
        ),
        (
            "q1 pricing summary (scan hygiene)",
            "PushedFilters must carry the shipdate predicate into the parquet "
            "scan; ReadSchema must list only the 7 needed columns.",
            queries.q1_pricing_summary(spark, SF),
        ),
        (
            "q3 shipping priority (join strategy)",
            "The customer dimension must arrive via BroadcastHashJoin; no "
            "CartesianProduct anywhere.",
            queries.q3_shipping_priority(spark, SF),
        ),
        (
            "q9 product-type profit (derived-dimension join strategy)",
            "Six-way join over a DERIVED partsupp: all four dimension sides "
            "(filtered part, derived partsupp, supplier, nation) must arrive "
            "via BroadcastHashJoin; the only shuffles are the lineitem-orders "
            "fact join and the final aggregate. Pinned by "
            "test_plans::test_q9_dims_broadcast_facts_shuffle.",
            queries.q9_product_type_profit(spark, SF),
        ),
        (
            "n-gram Jaccard pairs (dedup family plan shape)",
            "threshold>0 runs the r8 prefix-filtered exact path: frequency "
            "kernel -> qualifying-shingle dictionary as a broadcast variable "
            "-> doc-sid kernel -> prefix groupBy -> numpy verify kernel -> "
            "distinct. No shuffle join, no candidate-pair aggregation. "
            "threshold<=0 keeps the count-all-pairs shape (one shingle "
            "shuffle, worker-side ordered-pair enumeration, zero joins). "
            "Pinned by test_plans::test_dedup_pair_stages_have_no_self_join.",
            dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5),
        ),
        (
            "MinHash LSH pairs",
            "Signatures: ONE narrow Arrow kernel (MapInPandas) hashes each "
            "doc's distinct shingles and takes the per-hash min digest — no "
            "aggregate and no shuffle before the band keys, never a per-row "
            "UDF. Band buckets are one groupBy shuffle; pair enumeration is "
            "the hybrid flatten/streaming-generate split — no joins.",
            dedup.minhash_lsh_pairs(docs, n_hashes=8, bands=4, k=3),
        ),
        (
            "Embedding near-dup (bucketed kernel path)",
            "ONE hashpartitioning exchange (the (table,bucket) groupBy) into "
            "FlatMapGroupsInPandas; the threshold filter runs inside the "
            "kernel so only qualifying pairs reach the final distinct.",
            similarity.embedding_neardup_pairs(emb, n_planes=4, n_tables=4),
        ),
        (
            "Exact cosine top-k (probe-kernel path, r8)",
            "ONE narrow MapInPandas over the corpus (probe matrix in the "
            "task closure, sequential-fold cosine bit-exact vs the DuckDB "
            "oracle, per-batch top-k) + a window over the tiny survivor "
            "set. No join, no |corpus|x|probes| row blowup. Pinned by "
            "test_plans::test_topk_corpus_scan_has_no_join.",
            similarity.cosine_topk(emb, emb.where(F.col("vec_id") % 100 == 0)),
        ),
        (
            "IVF top-k (fused assign+score kernel, r8)",
            "Assignment, per-cluster probe scoring (einsum arithmetic "
            "bit-identical to the fixture oracle) and per-batch top-k are "
            "fused into ONE MapInPandas; the former cluster broadcast join "
            "and second Python boundary are gone.",
            similarity.ivf_topk(emb, emb.where(F.col("vec_id") % 100 == 0)),
        ),
        (
            "Semantic dedup (SemDeDup greedy pruning)",
            "Centroid assignment is a scan-side ArrowEvalPython (codebook in "
            "the UDF closure — no join); the ONLY Exchange is the cluster-id "
            "groupBy into FlatMapGroupsInPandas running the shared greedy "
            "kernel. Pinned by "
            "test_plans::test_semantic_dedup_single_cluster_exchange.",
            similarity.semantic_dedup(
                emb,
                threshold=0.4,
                centroids=similarity.train_ivf_centroids(emb, n_centroids=8),
            ),
        ),
        (
            "Semantic prune (corpus-build dedup_semantic stage)",
            "The RETURNED plan filters the text corpus by a BROADCAST "
            "anti-join against the small materialized loser set — the "
            "corpus side never exchanges (embed scan + cluster groupBy ran "
            "inside the eager SemDeDup step, audited above). Pinned by "
            "test_plans::test_semantic_prune_corpus_never_shuffles.",
            similarity.semantic_prune(
                docs.select(
                    F.col("doc_id").cast("string").alias("conv_id"),
                    F.col("text").alias("conv_text"),
                ),
                n_centroids=8,
                threshold=0.95,
            ),
        ),
        (
            "As-of join (pure Catalyst)",
            "Union of both sides -> one shuffle + one sort -> window "
            "last(ignorenulls); zero Python workers anywhere.",
            queries.asof_error_after_click(spark, SF),
        ),
        (
            "Session-window aggregation (streaming==batch operator)",
            "Native SessionWindow aggregation: one hashpartitioning exchange "
            "on (session_window, user_id) with partial merge before it; on a "
            "stream the same plan gains watermark-bounded state. Equality "
            "with the drained stream pinned by "
            "test_streaming::test_session_window_stream_equals_batch.",
            queries.events_session_window(spark, SF),
        ),
        (
            "n-gram decontamination (default broadcast path)",
            "Heldout shingles ship as a broadcast VARIABLE into one fused "
            "probe kernel (r8): the corpus side is ONE MapInPandas scan with "
            "no join and no shuffle before the tiny per-doc count agg. The "
            "shuffle-hash fallback for oversized heldout sets is pinned (no "
            "broadcast) in test_plans::"
            "test_decontamination_default_broadcasts_heldout.",
            __import__(
                "docling_gfcr_spark.operators.sampling", fromlist=["ngram_decontaminate"]
            ).ngram_decontaminate(
                docs, docs.where(F.col("doc_id") % 50 == 0), k=8
            ),
        ),
        (
            "Quality-model inference (hashing-trick linear scorer)",
            "Classifier inference over the corpus as ONE codegen'd scan: no "
            "Exchange, no Python worker — token weights are md5-derived "
            "integer expressions folded inside higher-order functions. "
            "Pinned by test_operators::test_quality_model_score_no_python_no_shuffle.",
            queries.quality_model_scores(spark, SF),
        ),
        (
            "Sequence packing, hash-order mode (arbitrary id types)",
            "Distributed prefix sum: the ONLY SinglePartition exchange feeds "
            "the tiny bucket-totals window (256 rows); the per-doc running "
            "sum is a window partitioned by the 2-hex-char md5 bucket that "
            "prefixes the sort key. Pinned by "
            "test_plans::test_pack_sequences_hash_mode_no_global_sort.",
            __import__(
                "docling_gfcr_spark.operators.sampling", fromlist=["pack_sequences"]
            ).pack_sequences(
                docs.select("doc_id", F.length("text").alias("n_tokens")),
                budget=4096,
                order_by="hash",
            ),
        ),
    ]

    # incremental dedup: needs a committed band table first (written under
    # the gitignored warehouse dir — overwritten per run, no /tmp orphans)
    incr_table = "plan_audit_incr_bands"
    incr_path = os.path.join(REPO, "spark-warehouse", f"{incr_table}_data")
    dedup.commit_minhash_bands(
        docs.where("doc_id % 5 != 0"),
        incr_table,
        incr_path,
        n_hashes=8,
        bands=4,
        k=3,
        hash_fn="md5",
    )
    sections.append(
        (
            "Incremental (append-only) MinHash dedup",
            "The committed corpus band table is band_hash-BUCKETED: its scan "
            "feeds the band-key join with NO Exchange (Bucketed: true, "
            "SelectedBucketsCount visible) — at 100 TB the corpus side never "
            "shuffles; only the small batch side moves (broadcast here). "
            "Batch-internal pairs reuse the worker-side ordered-pair "
            "enumeration. Pinned by test_plans::"
            "test_incremental_dedup_committed_side_exchange_free.",
            dedup.incremental_minhash_pairs(
                spark, incr_table, docs.where("doc_id % 5 = 0"),
                n_hashes=8, bands=4, k=3, hash_fn="md5",
            ),
        )
    )
    sections.append(
        (
            "Multimodal conversation assembly",
            "ONE downstream DAG: the media-ref pandas UDF runs only over the "
            "FILTERED image turns (ArrowEvalPython on the small side of the "
            "left join), and the text slabs AND media inventory aggregate in "
            "the same two-phase pass — the UDF/join sub-DAG is never "
            "evaluated twice.",
            pipeline.assemble_multimodal_conversations(tdf),
        )
    )

    out = [
        "# PLANS — physical-plan audit of the scale-critical operators",
        "",
        f"Generated by `python tools/plan_audit.py` at {SF} (regenerate after",
        "plan-shape changes; tests/test_plans.py pins the same invariants in CI).",
        "",
    ]
    for title, claim, df in sections:
        out.append(f"## {title}")
        out.append("")
        out.append(claim)
        out.append("")
        out.append("```")
        out.append(formatted(df).rstrip())
        out.append("```")
        out.append("")

    # AQE skew split needs an EXECUTED adaptive plan (runtime re-plan, not
    # static explain): run the planted-skew join with thresholds scaled to
    # the audit data and dump the final plan — the SortMergeJoin must carry
    # skew=true. Same shape as queries.skewed_hot_key_join; pinned by
    # test_plans::test_aqe_splits_planted_skew_join.
    skew_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    for k, v in skew_confs.items():
        spark.conf.set(k, v)
    fact = spark.range(0, 200_000).select(
        F.when(F.col("id") % 100 < 90, F.lit(0)).otherwise(F.col("id") % 97).alias("hot_k"),
        F.concat(F.lit("payload-"), F.col("id").cast("string"), F.lit("x" * 48)).alias("payload"),
    )
    dim = spark.range(0, 97).select(
        F.col("id").alias("hot_k"), (F.col("id") % 7).alias("seg")
    )
    j = fact.hint("merge").join(dim, "hot_k").select("seg", F.length("payload").alias("l"))
    # collect executes j's OWN queryExecution (a sink write would run a
    # separate execution whose final plan j can't see) — run the job once
    j.collect()
    final_plan = j._jdf.queryExecution().executedPlan().toString()
    for k in skew_confs:
        spark.conf.unset(k)
    out += [
        "## Planted-skew join under AQE (final adaptive plan, EXECUTED)",
        "",
        "90% of 200k fact rows share one key; merge hint forces SMJ. The final",
        "plan must mark the join skew=true — AQE split the hot partition into",
        "parallel subtasks instead of one straggler. The oracle row",
        "`skewed_hot_key_join` value-checks correctness under the split.",
        "",
        "```",
        "\n".join(
            l for l in final_plan.splitlines()
            if any(t in l for t in ("SortMergeJoin", "AQEShuffleRead", "ShuffleQueryStage", "skew"))
        ).rstrip(),
        "```",
        "",
        f"`skew=true` present: {'skew=true' in final_plan}",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(sections)} sections)")
    spark.stop()


if __name__ == "__main__":
    main()
