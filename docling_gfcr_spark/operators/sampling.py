"""Deterministic sampling / split assignment for training-data pipelines.

Random sampling is wrong for dataset curation at scale: re-runs must land
every row in the same split regardless of partitioning, cluster size, or
retry history. These operators derive a uniform [0,1) value from
``md5(salt:id)`` and threshold it — a pure function of the row, portable
across engines (the DuckDB oracle computes the identical hex strings), and
exactly the trick lineage bucketing already uses (lineage.with_part_id).

Thresholds are compared as 8-hex-char STRINGS (lowercase md5 output), so no
engine-specific hex->int conversion is involved: u < f  <=>  hex8 <
format(floor(f * 2^32), '08x').
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hex8(id_col: str, salt: str) -> Column:
    return F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
    )


def _threshold_hex(fraction: float) -> str:
    return format(min(int(fraction * 2**32), 2**32 - 1), "08x")


def sample_predicate(fraction: float, id_col: str = "doc_id", salt: str = "sample") -> Column:
    """Keep-row predicate for a ~``fraction`` md5 hash sample. ``fraction >=
    1.0`` short-circuits to always-true: the threshold comparison is strict
    '<' against a hex clamp of 2^32-1, which would otherwise silently drop
    rows whose hex8 is exactly 'ffffffff'."""
    if fraction >= 1.0:
        return F.lit(True)
    return _hex8(id_col, salt) < _threshold_hex(fraction)


def hash_sample(df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = "sample") -> DataFrame:
    """Keep ~``fraction`` of rows, decided per-row by md5 — stable across
    runs, partitionings and engines (unlike ``DataFrame.sample``)."""
    return df.where(sample_predicate(fraction, id_col, salt))


def split_column(
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "split",
) -> Column:
    """'train'/'val'/'test' (or custom) assignment column."""
    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    h = _hex8(id_col, salt)
    acc = 0.0
    expr = None
    for w, name in zip(weights[:-1], names[:-1]):
        acc += w
        # a cumulative weight reaching 1.0 before the last name must capture
        # EVERY row (strict '<' against the hex clamp would leak 'ffffffff')
        cond = F.lit(True) if acc >= 1.0 else h < _threshold_hex(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])).alias("split")


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "split",
) -> DataFrame:
    return df.withColumn("split", split_column(id_col, weights, names, salt))


def source_mixing_predicate(
    weights: dict[str, float],
    default: float,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> Column:
    """Deterministic DATA-MIXING keep predicate: per-source sampling rates
    (the DoReMi/temperature-resampling shape — upweight curated sources,
    downsample the crawl) applied via the same md5-threshold rule as
    hash_sample, so the mix is reproducible across runs, partitionings and
    engines. Rates >= 1.0 keep everything (no hex-clamp leak)."""
    h = _hex8(id_col, salt)

    def keep(frac: float) -> Column:
        return F.lit(True) if frac >= 1.0 else h < _threshold_hex(frac)

    expr = None
    for src, frac in sorted(weights.items()):
        cond = F.col(source_col) == src
        expr = F.when(cond, keep(frac)) if expr is None else expr.when(cond, keep(frac))
    tail = keep(default)
    return tail if expr is None else expr.otherwise(tail)


def source_mixing_sql(
    table: str,
    weights: dict[str, float],
    default: float,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> str:
    """DuckDB twin of :func:`source_mixing_predicate` as a WHERE clause body
    (generated from the same weights table — zero drift)."""
    h = f"substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)), 1, 8)"

    def keep(frac: float) -> str:
        return "TRUE" if frac >= 1.0 else f"{h} < '{_threshold_hex(frac)}'"

    cases = " ".join(
        f"WHEN {source_col} = '{src}' THEN {keep(frac)}"
        for src, frac in sorted(weights.items())
    )
    return f"CASE {cases} ELSE {keep(default)} END"


def ngram_decontaminate(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    strategy: str = "auto",
    broadcast_max_docs: int = 100_000,
) -> DataFrame:
    """GPT-3-style n-gram decontamination: flag training docs sharing any
    word k-gram with a heldout/benchmark set.

    The heldout shingle set is usually tiny relative to the corpus
    (benchmarks are KBs, corpora are TBs), so the default path broadcasts it
    and the training side is one scan + map-side hash probe — no corpus
    shuffle. For heldout sets past the broadcast threshold there is a
    shuffle-hash fallback with identical semantics (same oracle covers both).

    ``strategy``: ``"broadcast"`` | ``"shuffle"`` | ``"auto"`` (count the
    heldout DOCS — a cheap control-plane aggregate on the small side, never
    the corpus — and broadcast iff under ``broadcast_max_docs``).
    Returns (id, n_shared_shingles) for every contaminated training doc.
    """
    from docling_gfcr_spark.operators.dedup import exploded_shingles

    if strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        strategy = "broadcast" if heldout.count() <= broadcast_max_docs else "shuffle"
    # Both sides shingle through the Arrow-batched kernel (byte-identical to
    # a split/transform HOF, whose explode(transform(...)) form is
    # CodegenFallback — interpreted; see dedup.exploded_shingles). The
    # heldout side matters too: "heldout" is often a full test SPLIT of the
    # corpus, not just a KB-scale benchmark file.
    if id_col not in heldout.columns:  # a bare text-only benchmark file is fine
        heldout = heldout.withColumn(id_col, F.lit(0))
    held_sh = exploded_shingles(heldout, text_col, id_col, k, with_size=False).select(
        "shingle"
    ).distinct()
    if strategy == "broadcast":
        # r8: the broadcast path fuses shingling and probing into ONE kernel
        # with the heldout shingle set as a Spark broadcast variable — the
        # former shape exploded every training shingle through Arrow (2.7M
        # rows at sf1.0) into a broadcast join + corpus-wide groupBy; this
        # emits only per-doc match counts (3.5s -> 1.9s at sf1.0, identical
        # counts: |distinct-shingles-of-row ∩ H| per row, summed per id —
        # exactly what count(*) over the joined rows computed). The heldout
        # set is driver-bounded BY DEFINITION of this strategy (it is what
        # the broadcast hash relation held).
        id_type = train.schema[id_col].dataType.simpleString()
        sc = train.sparkSession.sparkContext
        bc = sc.broadcast(frozenset(r["shingle"] for r in held_sh.collect()))

        def _probe_kernel(batches):
            held = bc.value
            for pdf in batches:
                ids: list = []
                ns: list = []
                for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                    if text is None:  # parity: NULL explodes to nothing
                        continue
                    words = text.split(" ")
                    n = max(1, len(words) - (k - 1))
                    seen = dict.fromkeys(
                        " ".join(words[i : i + k]) for i in range(n)
                    )
                    c = len(held.intersection(seen))
                    if c:
                        ids.append(doc_id)
                        ns.append(c)
                yield pd.DataFrame({id_col: ids, "n": pd.Series(ns, dtype=np.int64)})

        counted = train.select(id_col, text_col).mapInPandas(
            _probe_kernel, f"{id_col} {id_type}, n long"
        )
        return counted.groupBy(id_col).agg(F.sum("n").alias("n_shared_shingles"))
    tr_sh = exploded_shingles(train, text_col, id_col, k, with_size=False).select(
        F.col("id").alias(id_col), "shingle"
    )
    # both sides hash-partition on shingle; hint avoids a sort-merge of
    # the exploded corpus (hash build on the smaller heldout side)
    joined = tr_sh.join(held_sh.hint("shuffle_hash"), "shingle")
    return joined.groupBy(id_col).agg(F.count("*").alias("n_shared_shingles"))


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    bucket_size: int = 10_000,
    order_by: str = "id",
) -> DataFrame:
    """Greedy sequential packing: assign each doc (in canonical order) to
    training-sequence bin ``floor(tokens_before / budget)`` — the standard
    approximate pack-by-running-total used when batching documents into
    fixed-token training sequences.

    The running total is a DISTRIBUTED PREFIX SUM, not a global window: a
    single ``sum() OVER (ORDER BY id)`` collapses the whole table into one
    sort partition (the classic scale-killer). Instead rows are bucketed so
    the bucket key is a PREFIX of the sort order; per-bucket totals (a tiny
    table) get the only global window, and the per-doc running sum is a
    window partitioned BY bucket plus the broadcast bucket offset. Semantics
    are identical to the corresponding global window (the DuckDB oracle
    computes exactly that). Output: input columns + ``tokens_before`` +
    ``seq_bin``.

    ``order_by``:

    - ``"id"`` — pack in numeric ``id_col`` order; buckets are the coarse
      ranges ``floor(id / bucket_size)``. Requires a NUMERIC, roughly-dense
      id (sparse ids skew bucket sizes; string ids are an analysis error).
    - ``"hash"`` — pack in ``(md5('pack:'||id), id)`` order; works for ANY
      id type (string / sparse / composite-cast) and load-balances buckets
      by construction, because the bucket key — the first 2 hex chars of the
      same md5 — is a prefix of the sort key, so bucket order IS sort order.
    """
    from pyspark.sql import Window

    base_cols = [F.col(id_col), F.col(token_col)]
    if order_by == "id":
        base = df.select(*base_cols, F.floor(F.col(id_col) / bucket_size).alias("_bkt"))
        in_bucket_order = [F.col(id_col)]
    elif order_by == "hash":
        h = F.md5(F.concat(F.lit("pack:"), F.col(id_col).cast("string")))
        base = df.select(*base_cols, h.alias("_h"), F.substring(h, 1, 2).alias("_bkt"))
        in_bucket_order = [F.col("_h"), F.col(id_col)]
    else:
        raise ValueError(f"unknown order_by {order_by!r}")
    bucket_tot = base.groupBy("_bkt").agg(F.sum(token_col).alias("_btot"))
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "_bkt", F.coalesce(F.sum("_btot").over(w_b), F.lit(0)).alias("_boff")
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(*in_bucket_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        base.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "tokens_before",
            (F.col("_boff") + F.coalesce(F.sum(token_col).over(w_in), F.lit(0))).cast("long"),
        )
        .withColumn("seq_bin", F.floor(F.col("tokens_before") / budget).cast("long"))
        .drop("_bkt", "_boff")
    )
    return out.drop("_h") if order_by == "hash" else out
