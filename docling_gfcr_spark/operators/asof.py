"""As-of join — an operator Spark lacks natively, built from pure Catalyst.

Semantics: for each left row, attach the latest right row of the same ``by``
key with right.on < left.on (strict predecessor, matching DuckDB's
``ASOF JOIN ... ON l.on > r.on``). Right columns other than ``by`` come back
with a ``_right`` suffix. Inner join: left rows with no predecessor are
dropped; null ``on`` values never match. Among right rows tied on ``on``,
the winner is the max under (on, <remaining right columns>) — deterministic
across partitionings and runs.

Implementation (all JVM, no Python workers): union the two sides into one
ordered stream per key — right rows flagged to sort AFTER same-timestamp left
rows, so an exact-time match is invisible — and take
``last(right_struct, ignorenulls)`` over the preceding window frame. That is
one shuffle + one sort, fully whole-stage-codegen'd either side of the
window. (A cogrouped ``pd.merge_asof`` version was ~10x slower end-to-end:
per-group pandas dispatch costs ~2-6 ms, which dwarfs the actual merge for
the thousands-of-small-keys shape this operator usually sees.)

Skew: a key with 10^8 right rows would pin one sort task. Keys whose row
count exceeds ``_HOT_KEY_ROWS`` (found by a tiny eager census — the same
runtime-stats pattern AQE uses) are pre-split into TIME SLABS of
``slab_seconds``: the window then runs per
(key, slab), and cross-slab lookback is restored by carrying into each left
slab the single latest right row from all earlier slabs (one small
per-(key, slab) aggregate + one window over it — no quadratic slab join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: per-side row count above which a key is split into time slabs
_HOT_KEY_ROWS = 50_000


def _epoch(col, dtype: str):
    # TIMESTAMP_NTZ won't cast straight to double; bounce via timestamp
    if dtype.startswith("timestamp"):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    slab_seconds: float | None = 86400.0,
) -> DataFrame:
    """See module docstring. ``slab_seconds=None`` disables hot-key slabbing
    (single window partition per key — the reference the slab path is tested
    against; safe only without pathological keys).
    """
    renamed = right
    for c in right.columns:
        if c != by:
            renamed = renamed.withColumnRenamed(c, c + "_right")
    on_right = on + "_right"
    # equi-join semantics: null `on` never matches, and null `by` keys never
    # match EACH OTHER (Window.partitionBy would group nulls together,
    # silently diverging from DuckDB's ASOF equi-join)
    left = left.where(F.col(on).isNotNull() & F.col(by).isNotNull())
    renamed = renamed.where(F.col(on_right).isNotNull() & F.col(by).isNotNull())
    left_cols = list(left.columns)
    right_out = [c for c in renamed.columns if c != by]

    # right payload struct leads with `on` so struct max / sort order = the
    # deterministic (on, remaining cols) tie-break rule
    rstruct = F.struct(
        F.col(on_right), *[F.col(c) for c in right_out if c != on_right]
    )
    rstruct_type = renamed.select(rstruct.alias("_r")).schema["_r"].dataType
    lstruct = F.struct(*[F.col(c) for c in left_cols])
    lstruct_type = left.select(lstruct.alias("_l")).schema["_l"].dataType

    # ---- hot-key slab assignment -----------------------------------------
    carried = None
    hot_keys = []
    if slab_seconds is not None:
        def key_counts(df: DataFrame) -> DataFrame:
            return df.select(F.col(by).alias("_k")).groupBy("_k").count()

        hot_keys = [
            r["_k"]
            for r in (
                key_counts(left)
                .unionByName(key_counts(renamed))
                .groupBy("_k").agg(F.max("count").alias("_cnt"))
                .where(F.col("_cnt") > _HOT_KEY_ROWS)
                .collect()
            )
        ]
    if hot_keys:
        # each side's epoch conversion keys on ITS OWN dtype — deriving the
        # right side's from the left schema would mis-convert when the two
        # `on` columns differ (e.g. left double vs right timestamp_ntz)
        on_type = dict(
            (f.name, f.dataType.simpleString()) for f in left.schema.fields
        )[on]
        on_type_r = dict(
            (f.name, f.dataType.simpleString()) for f in renamed.schema.fields
        )[on_right]
        is_hot = F.col(by).isin(list(hot_keys))
        slab_l = F.when(is_hot, F.floor(_epoch(F.col(on), on_type) / F.lit(float(slab_seconds)))).otherwise(F.lit(0)).cast("long")
        slab_r = F.when(is_hot, F.floor(_epoch(F.col(on_right), on_type_r) / F.lit(float(slab_seconds)))).otherwise(F.lit(0)).cast("long")
        l2 = left.withColumn("_slab", slab_l)
        r2 = renamed.withColumn("_slab", slab_r)

        # cross-slab carry: latest right row per (key, slab) -> for each left
        # slab, the latest from strictly-earlier slabs via one window pass
        r_latest = r2.groupBy(by, "_slab").agg(F.max(rstruct).alias("_m"))
        markers = (
            l2.select(by, "_slab").distinct()
            .withColumn("_is_r", F.lit(0))
            .withColumn("_m", F.lit(None).cast(rstruct_type))
        )
        tagged = r_latest.withColumn("_is_r", F.lit(1)).unionByName(markers)
        wc = (
            Window.partitionBy(by)
            .orderBy("_slab", "_is_r")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carried = (
            tagged.withColumn("_carry", F.last("_m", ignorenulls=True).over(wc))
            .where((F.col("_is_r") == 0) & F.col("_carry").isNotNull())
            .select(by, "_slab", F.col("_carry").alias("_r"))
        )
    else:
        l2 = left.withColumn("_slab", F.lit(0).cast("long"))
        r2 = renamed.withColumn("_slab", F.lit(0).cast("long"))

    # ---- one ordered stream per (key, slab), window carry ----------------
    # at equal `on`, right rows (_f 1) sort AFTER left rows (_f 0): invisible
    # to the preceding frame, so the match is strict
    rows_l = l2.select(
        F.col(by).alias("_by"),
        "_slab",
        F.col(on).alias("_t"),
        F.lit(0).alias("_f"),
        lstruct.alias("_l"),
        F.lit(None).cast(rstruct_type).alias("_r"),
    )
    rows_r = r2.select(
        F.col(by).alias("_by"),
        "_slab",
        F.col(on_right).alias("_t"),
        F.lit(1).alias("_f"),
        F.lit(None).cast(lstruct_type).alias("_l"),
        rstruct.alias("_r"),
    )
    u = rows_l.unionByName(rows_r)
    if carried is not None:
        rows_c = carried.select(
            F.col(by).alias("_by"),
            "_slab",
            F.col("_r").getField(on_right).alias("_t"),
            F.lit(1).alias("_f"),
            F.lit(None).cast(lstruct_type).alias("_l"),
            "_r",
        )
        u = u.unionByName(rows_c)

    w = (
        Window.partitionBy("_by", "_slab")
        .orderBy("_t", "_f", "_r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    matched = (
        u.withColumn("_p", F.last("_r", ignorenulls=True).over(w))
        .where(F.col("_l").isNotNull() & F.col("_p").isNotNull())
    )
    return matched.select(
        *[F.col("_l").getField(c).alias(c) for c in left_cols],
        *[F.col("_p").getField(c).alias(c) for c in right_out],
    )
