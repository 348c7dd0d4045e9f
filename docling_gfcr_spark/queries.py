"""Driver-contract query inventory.

One entry per implemented operator family (SURVEY.md §2A/§2B + the
training-data ops). Each entry: a Spark callable ``(spark, sf_dir) ->
DataFrame`` and, where the semantics are ANSI-SQL-expressible, a DuckDB
oracle SQL string computing the identical result (same column names, same
rounding). Non-SQL ops (extraction kernels, SimHash, hyperplane LSH,
multimodal decode) ship without oracles — the driver then records a weaker
rows-only check and pytest covers them against pure-Python oracles instead.

Cross-engine parity rules baked in (verified experimentally):
- monetary sums / avgs rounded (2dp / 4dp (avg)) — double accumulation order
  differs between engines at the ulp level;
- cosine arithmetic forced to DOUBLE on both sides -> bit-exact;
- md5 is the only hash used in oracle-checked ops (hex-identical everywhere);
- timestamps surfaced as formatted strings, never raw timestamp columns.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docling_gfcr_spark.operators import dedup, similarity, text_analysis
from docling_gfcr_spark.operators import multimodal as mm
from docling_gfcr_spark import pipeline, transcripts


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# expected-output parquet computed by the local pure-Python/numpy oracles in
# tools/make_fixtures.py (regenerate after kernel/generator changes;
# tests/test_golden_fixture.py pins freshness)
FIXTURE_DIR = "/root/repo/fixtures"
_FIXTURE_SQL = f"SELECT * FROM read_parquet('{FIXTURE_DIR}/{{name}}.parquet')"

# A few fixture oracles READ the sf tables (documents/embeddings), so their
# expected values depend on the oracle SF. Their fixtures live in a per-SF
# subdir (sf0.01 = the repo root fixtures/, unchanged); make_fixtures
# writes the variant when run with SPARK_GRAFT_ORACLE_SF set. Resolved at
# import time from the same env var tools/check_oracle.py uses, so the
# driver gate and the sweep read the matching expectation automatically.
import os as _os

_SF_TAG = _os.path.basename(
    _os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01").rstrip("/")
)
_SF_FIXTURE_DIR = (
    FIXTURE_DIR if _SF_TAG == "sf0.01" else f"{FIXTURE_DIR}/{_SF_TAG}"
)
_SF_FIXTURE_SQL = f"SELECT * FROM read_parquet('{_SF_FIXTURE_DIR}/{{name}}.parquet')"


def _md5_digest_col(*cols):
    """The fixture digest convention, in ONE place: md5 over the '|'-joined
    values, first 15 hex digits as a base-10 long, mod 1e12 — summed by the
    caller for an order-insensitive content digest that fits a BIGINT
    exactly in both engines. The make_fixtures oracles mirror this literally
    (int(md5(key)[:15], 16) % 10**12); change BOTH or fixtures mismatch."""
    return (
        F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10).cast("long")
        % F.lit(10**12)
    )


# ---------------------------------------------------------------------------
# relational core (TPC-H-ish)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    """6-way star join; dims are broadcast (verified in the plan), the fact
    shuffles once on the join key."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue"))
    )


Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r_name, n_name
ORDER BY revenue DESC
"""


def top_customer_per_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("n_name", "rank", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


TOP_CUST_SQL = """
SELECT n_name, rank, c_custkey, round(c_acctbal, 2) AS acctbal
FROM (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rank <= 3
"""


def latest_order_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
        )
    )


LATEST_ORDER_SQL = """
SELECT o_custkey, o_orderkey AS latest_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) rn
  FROM orders
) WHERE rn = 1
"""


def customers_without_orders(spark, sf_dir):
    """Left-anti join (the same shape as lineage resume's committed-part
    exclusion); filtered to recent orders so the result is non-empty."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit("2001-01-01"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


NO_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
"""


def customers_with_urgent_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


URGENT_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def rollup_order_stats(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def status_priority_pivot(spark, sf_dir):
    """Pivot expressed as conditional aggregation (engine-portable)."""
    o = _t(spark, sf_dir, "orders")
    aggs = [
        F.sum(F.when(F.col("o_orderpriority") == p, 1).otherwise(0)).alias(f"n_p{i + 1}")
        for i, p in enumerate(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    ]
    return o.groupBy("o_orderstatus").agg(*aggs)


PIVOT_SQL = """
SELECT o_orderstatus,
       sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS n_p1,
       sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS n_p2,
       sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS n_p3,
       sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS n_p4,
       sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS n_p5
FROM orders GROUP BY o_orderstatus
"""


def union_active_parties(spark, sf_dir):
    """UNION (distinct) of two filtered projections from different tables."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000).select(
        F.col("c_name").alias("party_name"), F.lit("customer").alias("kind")
    )
    s = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 0).select(
        F.col("s_name").alias("party_name"), F.lit("supplier").alias("kind")
    )
    return c.unionByName(s).distinct()


UNION_SQL = """
SELECT c_name AS party_name, 'customer' AS kind FROM customer WHERE c_acctbal > 9000
UNION
SELECT s_name AS party_name, 'supplier' AS kind FROM supplier WHERE s_acctbal > 0
"""


def part_name_normalize(spark, sf_dir):
    """P1 projection semantics (space->underscore) as pure column exprs."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace("p_name", " ", "_").alias("norm_name"),
        F.length("p_name").cast("long").alias("name_len"),
        F.upper(F.col("p_brand")).alias("brand_uc"),
    )


PART_NORM_SQL = """
SELECT p_partkey, replace(p_name, ' ', '_') AS norm_name,
       length(p_name) AS name_len, upper(p_brand) AS brand_uc
FROM part
"""


# ---------------------------------------------------------------------------
# events: time-series / JSON / sessionization
# ---------------------------------------------------------------------------


def events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def events_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_JSON_SQL = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


def events_variant_stats(spark, sf_dir):
    """Semi-structured via the VARIANT type (Spark 4): parse_json into an
    open-schema variant column, typed extraction with try_variant_get —
    the modern engine path for the `props` payloads (events_json_extract
    keeps the classic get_json_object twin)."""
    e = _t(spark, sf_dir, "events")
    v = e.withColumn("v", F.parse_json("props"))
    return (
        v.select("event_type", F.try_variant_get("v", "$.k", "int").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_VARIANT_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) via lag + running sum of boundaries."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("double") - F.lag("ts").over(w).cast("timestamp").cast("double")
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        e.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("sess_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("sess_events").alias("max_session_events"),
            F.sum("sess_events").alias("n_events"),
        )
    )


SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), per_sess AS (
  SELECT user_id, session_id, count(*) AS sess_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions, max(sess_events) AS max_session_events,
       CAST(sum(sess_events) AS BIGINT) AS n_events
FROM per_sess GROUP BY user_id
"""


def events_session_window(spark, sf_dir):
    """Native session_window aggregation (the streaming module's operator run
    on the batch table — stream==batch by shared plan; the streamed twin is
    equality-tested in tests/test_streaming.py). Oracle: DuckDB gap-islands
    over integer microseconds, session end = last event + gap."""
    from docling_gfcr_spark import streaming as streaming_mod

    e = _t(spark, sf_dir, "events")
    return streaming_mod.sessionized_user_activity(e, gap="20 minutes")


SESSION_WINDOW_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1200000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 1200 SECOND, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


def skewed_hot_key_join(spark, sf_dir):
    """Planted-skew fact/dim join — the AQE skew-split gate shape. 90% of
    orders collapse onto one hot key; the merge hint forces a sort-merge join
    (no broadcast escape hatch), which is exactly the plan AQE's skew-join
    splits at scale (skew=true pinned with tuned thresholds in
    tests/test_plans.py; result identical under any strategy — that's what
    this oracle row checks). Revenue summed in DECIMAL(18,2) per the
    cross-engine tie rule."""
    o = _t(spark, sf_dir, "orders")
    fact = o.select(
        F.when(F.col("o_orderkey") % 100 < 90, F.lit(0).cast("long"))
        .otherwise(F.col("o_orderkey") % 97)
        .alias("hot_k"),
        "o_totalprice",
    )
    dim = spark.range(0, 97).select(
        F.col("id").alias("hot_k"),
        F.concat(F.lit("seg-"), (F.col("id") % 7).cast("string")).alias("segment"),
    )
    return (
        fact.hint("merge")
        .join(dim, "hot_k")
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            # exact decimal accumulation (order-independent), surfaced as
            # DOUBLE in both engines for a drift-free value hash
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


SKEW_JOIN_SQL = """
WITH fact AS (
  SELECT CASE WHEN o_orderkey % 100 < 90 THEN 0 ELSE o_orderkey % 97 END AS hot_k,
         o_totalprice
  FROM orders
), dim AS (
  SELECT r.range AS hot_k, 'seg-' || (r.range % 7) AS segment FROM range(0, 97) r
)
SELECT segment, count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM fact JOIN dim USING (hot_k)
GROUP BY segment
"""


# ---------------------------------------------------------------------------
# documents: dedup / text analysis
# ---------------------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(d)


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_topk(spark, sf_dir):
    """Top-20 most-similar doc pairs by exact bigram-shingle Jaccard."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, k=2, threshold=0.0, hot_shingle_cap=10**9)
    return pairs.orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b")).limit(20)


DEDUP_NGRAM_SQL = """
WITH sh AS (
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
           range(1, greatest(2, len(string_split(text,' ')) - 0)),
           i -> array_to_string((string_split(text,' '))[i:i+1], ' ')))) AS shingle
  FROM documents
), sizes AS (
  SELECT id, count(*) AS sz FROM sh GROUP BY id
), common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, n_common,
       round(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
ORDER BY jaccard DESC, id_a ASC, id_b ASC
LIMIT 20
"""


def minhash_signature_digest(spark, sf_dir):
    """Strong value check of the whole MinHash computation: one md5 digest of
    the 32-element signature per doc."""
    d = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(d, n_hashes=32, k=5)
    return sigs.select(
        F.col("id").alias("doc_id"), F.md5(F.concat_ws("|", "sig")).alias("sig_digest")
    )


_MINHASH_SIG_ELEMS = ",\n    ".join(
    f"list_min(list_transform(sh, s -> md5('{j}:' || s)))" for j in range(32)
)
MINHASH_SQL = f"""
WITH t AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(2, len(string_split(text,' ')) - 3)),
           i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS sh
  FROM documents
)
SELECT doc_id, md5(array_to_string([
    {_MINHASH_SIG_ELEMS}
], '|')) AS sig_digest
FROM t
"""


def dedup_minhash_pairs(spark, sf_dir):
    """LSH banding candidates with md5 band keys — the engine-portable
    variant, value-checked against DuckDB computing the IDENTICAL banding
    (signatures, '|'-joined band digests, equi-join)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, n_hashes=32, bands=8, k=5, hash_fn="md5")


def dedup_minhash_pairs_fast(spark, sf_dir):
    """LSH banding candidates via the 'fast' Arrow salt-mix family — one
    deterministic siphash per DISTINCT shingle plus a vectorized splitmix64
    salt-mix permutation family inside a single mapInPandas kernel
    (dedup._fast_band_keys), the throughput family.
    Value-checked against an independent per-document pure-numpy replay of
    the same published construction (tools/make_fixtures.py
    compute_dedup_minhash_pairs_fast — no flush budget, no reduceat, no
    Arrow batching) stored as a per-SF fixture parquet."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, n_hashes=32, bands=8, k=5, hash_fn="fast")


_MINHASH_SIG_LIST = ",\n    ".join(
    f"list_min(list_transform(sh, s -> md5('{j}:' || s)))" for j in range(32)
)
MINHASH_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(2, len(string_split(text,' ')) - 3)),
           i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS sh
  FROM documents
), sig AS (
  SELECT doc_id, [
    {_MINHASH_SIG_LIST}
  ] AS s
  FROM t
), banded AS (
  SELECT doc_id, band, md5(array_to_string(s[band*4+1 : band*4+4], '|')) AS band_hash
  FROM sig, range(8) br(band)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a
JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""

# Connected components over the SAME banding pairs, as a LIVE recursive-CTE
# twin (sf-agnostic — replaces the sf0.01-pinned fixture oracle for the two
# cluster queries): each node's label is the MIN id reachable through the
# undirected pair edges, i.e. exactly the keep-first representative Spark's
# min-label propagation converges to. The
# transitive closure a recursive UNION builds is fine at oracle scale;
# cross-checked against the pure-Python union-find fixture in pytest.
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_PAIRS_SQL}),
und AS (
  SELECT id_a AS node, id_b AS peer FROM pairs
  UNION ALL
  SELECT id_b AS node, id_a AS peer FROM pairs
), reach(node, r) AS (
  SELECT node, node FROM (SELECT DISTINCT node FROM und) t
  UNION
  SELECT u.node, reach.r FROM und u JOIN reach ON u.peer = reach.node
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


def dedup_incremental_pairs(spark, sf_dir):
    """Append-only near-dup dedup — what a 100 TB ingest pipeline runs
    daily. The 'already-ingested' 80% of documents (deterministic md5
    split, salt 'incr') commits its LSH band keys to a band_hash-bucketed
    table ONCE; 'today's batch' (the other 20%) then dedups against corpus
    + itself via a band-key join — no full-corpus recompute, no exchange on
    the committed side (plan pinned in test_plans). Value-checked against a
    from-scratch DuckDB recompute over the UNION restricted to pairs
    touching the batch — the exact equivalence the design claims."""
    import hashlib
    import os
    import tempfile

    from docling_gfcr_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    new = d.where(sampling.sample_predicate(0.2, salt="incr"))
    old = d.where(~sampling.sample_predicate(0.2, salt="incr"))
    tag = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:8]
    table = f"incr_bands_{tag}"
    path = os.path.join(tempfile.gettempdir(), f"docling_gfcr_{table}")
    dedup.commit_minhash_bands(
        old, table, path, n_hashes=32, bands=8, k=5, hash_fn="md5"
    )
    return dedup.incremental_minhash_pairs(
        spark, table, new, n_hashes=32, bands=8, k=5, hash_fn="md5"
    )


_INCR_THR = format(int(0.2 * 2**32), "08x")

INCR_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(2, len(string_split(text,' ')) - 3)),
           i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS sh
  FROM documents
), sig AS (
  SELECT doc_id, [
    {_MINHASH_SIG_LIST}
  ] AS s
  FROM t
), banded AS (
  SELECT doc_id, band, md5(array_to_string(s[band*4+1 : band*4+4], '|')) AS band_hash
  FROM sig, range(8) br(band)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a
JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
WHERE substr(md5('incr:' || CAST(a.doc_id AS VARCHAR)), 1, 8) < '{_INCR_THR}'
   OR substr(md5('incr:' || CAST(b.doc_id AS VARCHAR)), 1, 8) < '{_INCR_THR}'
"""


def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: minhash-LSH pairs -> iterative connected
    components (min-label propagation) -> membership table. Fixture oracle
    = DuckDB-computed pairs + pure-Python union-find — an end-to-end
    independent path."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_cluster_members(d, n_hashes=32, bands=8, k=5, hash_fn="md5")


def dedup_simhash(spark, sf_dir):
    """SimHash fingerprints (pandas UDF; pure-Python oracle in pytest)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", dedup.simhash_udf(F.col("text")).alias("simhash"))


def lang_id_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        text_analysis.lang_id("text").alias("lang_pred"),
        text_analysis.lang_margin("text").alias("margin"),
    )


def _lang_sql() -> str:
    hits = {
        lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(ws)})\\b'))"
        for lang, ws in sorted(text_analysis.LANG_STOPWORDS.items())
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    case = "CASE "
    for lang in sorted(hits):  # first matching lang wins ties (same as Spark impl)
        case += f"WHEN {hits[lang]} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    # margin = best - runner-up over the sorted count list (DuckDB lists are
    # 1-indexed); mirrors text_analysis.lang_margin's sort_array expression
    ranked = "list_sort([" + ", ".join(hits.values()) + "], 'DESC')"
    margin = f"CAST({ranked}[1] - {ranked}[2] AS BIGINT)"
    return f"SELECT doc_id, lang, {case} AS lang_pred, {margin} AS margin FROM documents"


def text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text_analysis.quality_features(d)


QUALITY_SQL = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_words,
       length(text) AS n_chars_m,
       round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|in)\\b'))
             / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stopword_ratio,
       round(length(text) / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6)
             AS mean_word_len,
       greatest(100
         - CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 10 THEN 20 ELSE 0 END
         - CASE WHEN round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                      / greatest(length(text), 1), 6) > 0.2 THEN 20 ELSE 0 END
         - CASE WHEN round(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|in)\\b'))
                      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) < 0.01 THEN 20 ELSE 0 END
         - CASE WHEN round(length(text) / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) > 12 THEN 20 ELSE 0 END
       , 0)::BIGINT AS quality
FROM documents
"""


def token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_analysis.token_count_ws("text").alias("n_ws_tokens"),
        text_analysis.token_count_bpe_ish("text").alias("n_bpe_tokens"),
    )


TOKEN_SQL = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
FROM documents
"""


def pack_training_sequences(spark, sf_dir):
    """Greedy sequence packing under a 4096-token budget via a DISTRIBUTED
    prefix sum (coarse id buckets + one tiny global window over bucket
    totals + per-bucket windows — never a single-partition global sort;
    bucket_size=100 so the sf0.01 table actually exercises the two-phase
    path). The DuckDB twin computes the semantically-identical single-node
    global window."""
    from docling_gfcr_spark.operators.sampling import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text_analysis.token_count_ws("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(d, budget=4096, token_col="n_tokens", bucket_size=100).select(
        "doc_id", "n_tokens", "tokens_before", "seq_bin"
    )


PACK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER
            (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS tokens_before,
       CAST(floor(coalesce(sum(n_tokens) OVER
            (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 4096.0) AS BIGINT) AS seq_bin
FROM t
"""


def pii_redaction(spark, sf_dir):
    """PII scrub pass over all 6 families (email / IPv4 / 13-19-digit card /
    SSN / US phone / intl phone -> placeholders, progressive counts). The
    corpus has no organic PII, so deterministic PII is planted per doc_id
    with IDENTICAL expressions in both engines; the oracle value-checks the
    counts AND the md5 of the scrubbed text itself."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"),
            F.lit("@mail"), (did % 7).cast("string"), F.lit(".com from 10."),
            (did % 200).cast("string"), F.lit(".0."), (did % 250).cast("string"),
            F.when(did % 3 == 0, F.lit(" tel +55 123-4567")).otherwise(F.lit("")),
            F.when(
                did % 4 == 0,
                F.concat(F.lit(" call (555) 123-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(
                did % 6 == 0,
                F.concat(F.lit(" card 41111111"), F.lpad((did % 100000000).cast("string"), 8, "0")),
            ).otherwise(F.lit("")),
        ),
    )
    return text_analysis.pii_scrub(planted)


PII_SQL = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail' || (doc_id % 7)
              || '.com from 10.' || (doc_id % 200) || '.0.' || (doc_id % 250)
              || CASE WHEN doc_id % 3 = 0 THEN ' tel +55 123-4567' ELSE '' END
              || CASE WHEN doc_id % 4 = 0
                      THEN ' call (555) 123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                      THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 6 = 0
                      THEN ' card 41111111' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
                      ELSE '' END AS text
  FROM documents
)
""" + text_analysis.pii_scrub_sql("planted")


def quality_model_scores(spark, sf_dir):
    """Hashing-trick linear-model inference over the corpus (pure Catalyst;
    exact integer weight sums so the DuckDB twin is bit-identical)."""
    return text_analysis.quality_model_scores(_t(spark, sf_dir, "documents"))


QUALITY_MODEL_SQL = text_analysis.quality_model_sql("documents")

# per-source sampling rates for the mixing gate: curated sources kept whole,
# mid sources thinned, everything else (the "crawl") heavily downsampled
_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.8, "src2": 0.5, "src3": 0.25}
_MIX_DEFAULT = 0.1


def source_mixed_sample(spark, sf_dir):
    """Deterministic data mixing (temperature-resampling shape): per-source
    md5-threshold keep rates; the kept (doc_id, source) set is value-checked
    row-for-row against the generated DuckDB CASE twin."""
    from docling_gfcr_spark.operators.sampling import source_mixing_predicate

    d = _t(spark, sf_dir, "documents")
    return d.where(source_mixing_predicate(_MIX_WEIGHTS, _MIX_DEFAULT)).select(
        "doc_id", "source"
    )


def _source_mixing_sql() -> str:
    from docling_gfcr_spark.operators.sampling import source_mixing_sql

    return (
        "SELECT doc_id, source FROM documents WHERE "
        + source_mixing_sql("documents", _MIX_WEIGHTS, _MIX_DEFAULT)
    )


def doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_analysis.fingerprint("text").alias("fp"))


FP_SQL = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM documents
"""


def doc_chunks(spark, sf_dir):
    """Python UDTF through SQL LATERAL: chunk every document into 40-word
    context windows (one output row per chunk) — the UDTF engine surface +
    the standard training-pipeline chunking op, value-checked against a
    DuckDB list-slicing twin."""
    from docling_gfcr_spark.operators.udtf_ops import register_udtfs

    register_udtfs(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql("""
        SELECT doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM documents_v, LATERAL chunk_text(text, 40) c
    """)


DOC_CHUNKS_SQL = r"""
WITH t AS (
  -- list_filter of empty tokens == Python str.split() semantics for leading/
  -- trailing/tab/newline whitespace (RE2 \s is ASCII; the corpus has no NBSP)
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS w
  FROM documents
  WHERE len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) > 0
), u AS (
  SELECT doc_id, unnest(list_transform(
           range(0, CAST(ceil(len(w) / 40.0) AS BIGINT)),
           i -> {'idx': i, 'c': array_to_string(w[i*40+1 : i*40+40], ' ')})) AS x
  FROM t
)
SELECT doc_id, CAST(x.idx AS INT) AS chunk_idx, x.c AS chunk,
       CAST(len(string_split(x.c, ' ')) AS INT) AS n_words
FROM u
"""


def repetition_signals(spark, sf_dir):
    """Gopher-style repetition/quality signals per doc (dup-line/word
    fractions etc.) — the cheap web-corpus filters, all codegen'd."""
    d = _t(spark, sf_dir, "documents")
    return text_analysis.repetition_features(d)


REPETITION_SQL = """
SELECT doc_id,
       len(string_split(text, chr(10))) AS n_lines,
       round((len(string_split(text, chr(10))) - len(list_distinct(string_split(text, chr(10)))))
             / greatest(len(string_split(text, chr(10))), 1), 6) AS dup_line_frac,
       round((len(string_split_regex(trim(text), '\\s+')) - len(list_distinct(string_split_regex(trim(text), '\\s+'))))
             / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS dup_word_frac,
       round(length(text) / greatest(len(string_split(text, chr(10))), 1), 6) AS mean_line_len,
       round(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> regexp_full_match(w, '[A-Za-z]+')))
             / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS alpha_word_frac
FROM documents
"""


def corpus_token_budget(spark, sf_dir):
    """The curation bottom line: token budget per (lang, split) — combines
    deterministic split assignment with the BPE-ish tokenizer."""
    from docling_gfcr_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    return (
        sampling.deterministic_split(d)
        .groupBy("lang", "split")
        .agg(
            F.sum(text_analysis.token_count_bpe_ish("text")).alias("total_tokens"),
            F.round(F.avg(text_analysis.token_count_bpe_ish("text")), 4).alias("avg_tokens"),
        )
    )


TOKEN_BUDGET_SQL = f"""
SELECT lang,
       CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.8 * 2**32), "08x")}' THEN 'train'
            WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.9 * 2**32), "08x")}' THEN 'val'
            ELSE 'test' END AS split,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_tokens,
       round(avg(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))), 4) AS avg_tokens
FROM documents GROUP BY 1, 2
"""


def split_train_val_test(spark, sf_dir):
    """Deterministic 80/10/10 split assignment (md5-thresholded, stable
    across partitionings/engines) + per-(lang, split) counts — the
    dataset-curation shape every training pipeline needs."""
    from docling_gfcr_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    return (
        sampling.deterministic_split(d)
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


SPLIT_SQL = f"""
SELECT lang,
       CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.8 * 2**32), "08x")}' THEN 'train'
            WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.9 * 2**32), "08x")}' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2
"""


def hash_sampled_docs(spark, sf_dir):
    """Deterministic ~20% hash sample (stable across runs, unlike
    DataFrame.sample) — full row-level value check against DuckDB computing
    the identical md5 threshold predicate."""
    from docling_gfcr_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(d, 0.2).select("doc_id", "lang", "n_chars")


HASH_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.2 * 2**32), "08x")}'
"""


def split_contamination(spark, sf_dir):
    """Train/test contamination check: eval-split docs whose content
    fingerprint also appears in the train split (the leakage audit every
    dataset release needs). Composes deterministic splits + fingerprints +
    a semi-join, all Catalyst."""
    from docling_gfcr_spark.operators import sampling

    d = sampling.deterministic_split(_t(spark, sf_dir, "documents")).withColumn(
        "fp", text_analysis.fingerprint("text")
    )
    train_fps = d.where(F.col("split") == "train").select("fp").distinct()
    ev = d.where(F.col("split") != "train")
    contaminated = ev.join(train_fps, "fp", "left_semi")
    return (
        ev.groupBy("split").agg(F.count("*").alias("n_docs"))
        .join(
            contaminated.groupBy("split").agg(F.count("*").alias("n_contaminated")),
            "split",
            "left",
        )
        .na.fill(0, ["n_contaminated"])
    )


CONTAMINATION_SQL = f"""
WITH d AS (
  SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.8 * 2**32), "08x")}' THEN 'train'
              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.9 * 2**32), "08x")}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs,
       CAST(sum(CASE WHEN fp IN (SELECT DISTINCT fp FROM d WHERE split = 'train')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
FROM d WHERE split != 'train' GROUP BY split
"""


def ngram_decontamination(spark, sf_dir):
    """GPT-3-style n-gram decontamination: training docs sharing any word
    trigram with the (deterministic-hash) test split, with the heldout
    shingle set broadcast — no corpus shuffle."""
    from docling_gfcr_spark.operators import sampling

    d = sampling.deterministic_split(_t(spark, sf_dir, "documents"))
    train = d.where(F.col("split") == "train")
    heldout = d.where(F.col("split") == "test")
    # explicit broadcast: the test split is ~10% by construction — skip the
    # auto strategy's heldout count job (the fallback has its own oracle-
    # equality + plan tests)
    return sampling.ngram_decontaminate(train, heldout, k=3, strategy="broadcast")


NGRAM_DECON_SQL = f"""
WITH w AS (
  SELECT doc_id, text,
         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.8 * 2**32), "08x")}' THEN 'train'
              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.9 * 2**32), "08x")}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), sh AS (
  SELECT doc_id, split, unnest(list_distinct(list_transform(
           range(1, greatest(2, len(string_split(text,' ')) - 1)),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS shingle
  FROM w
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
FROM (SELECT doc_id, shingle FROM sh WHERE split = 'train') t
JOIN (SELECT DISTINCT shingle FROM sh WHERE split = 'test') h USING (shingle)
GROUP BY t.doc_id
"""


def enhanced_docs(spark, sf_dir):
    """The optional LLM-enhancement stage (reference E1/B2) driven through
    the gate with the injected deterministic fake client: mapInPandas with
    per-partition client init, graceful per-row fallback — the exact
    production shape, minus the network. The fake's 'enhance' op (uppercase
    the first line) is SQL-expressible, so DuckDB value-checks the enhanced
    text md5 directly."""
    from docling_gfcr_spark.operators import enhancer

    d = _t(spark, sf_dir, "documents")
    out = enhancer.enhance_documents(
        d, text_col="text", operation="enhance",
        client_factory=enhancer.fake_client_factory,
    )
    return out.select(
        "doc_id", "enhance_applied", F.md5("enhanced_text").alias("enhanced_md5")
    )


ENHANCED_SQL = """
SELECT doc_id, true AS enhance_applied,
       md5(CASE WHEN strpos(text, chr(10)) > 0
                THEN upper(substr(text, 1, strpos(text, chr(10)) - 1))
                     || substr(text, strpos(text, chr(10)))
                ELSE upper(text) END) AS enhanced_md5
FROM documents
"""


def assemble_by_source(spark, sf_dir):
    """Ordered string aggregation per group (the conversation-assembly shape
    on oracle-checkable data)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))), lambda s: s.text
                ),
                "\n",
            )
        ).alias("content_digest"),
        F.count("*").alias("n_docs"),
    )


ASSEMBLE_SQL = """
SELECT source, md5(string_agg(text, chr(10) ORDER BY doc_id)) AS content_digest,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


def _binary_roundtrip_row(i: int) -> dict:
    """One deterministic build->parse round trip through ALL FOUR real-binary
    kernels (DOCX/XLSX/PPTX WordprocessingML-family zips + PDF with a 50/50
    Flate mix). Shared verbatim by the Spark gate query and the fixture
    oracle (tools/make_fixtures.py) — the digests must match bit-exactly."""
    import hashlib

    import numpy as np

    from docling_gfcr_spark import transcripts
    from docling_gfcr_spark.kernels import docx_binary, office_binary, pdf_binary

    def h(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    rng = np.random.RandomState(1000 + i)
    docx_md = docx_binary.docx_bytes_to_markdown(
        docx_binary.build_docx(transcripts._docx_spec(rng))
    )
    xlsx_md = office_binary.xlsx_bytes_to_markdown(
        office_binary.build_xlsx(transcripts._xlsx_spec(rng))
    )
    pptx_md = office_binary.pptx_bytes_to_markdown(
        office_binary.build_pptx(transcripts._pptx_spec(rng))
    )
    pages = [
        [transcripts._sentence(rng, int(rng.randint(4, 10))) for _ in range(int(rng.randint(1, 5)))]
        for _ in range(int(rng.randint(1, 4)))
    ]
    compress = bool(rng.rand() < 0.5)
    pdf_pages = pdf_binary.pdf_bytes_to_pages(pdf_binary.build_pdf(pages, compress=compress))
    return {
        "doc_id": i,
        "docx_md5": h(docx_md),
        "xlsx_md5": h(xlsx_md),
        "pptx_md5": h(pptx_md),
        "pdf_md5": h("\x0c".join(pdf_pages)),
    }


def office_bytes_roundtrip(spark, sf_dir):
    """Distributed REAL-binary kernel gate: every task builds actual
    DOCX/XLSX/PPTX/PDF containers from seeded specs, parses them back with
    the byte kernels, and emits markdown digests — value-checked against a
    fixture computed by the identical single-threaded loop with no Spark.
    Zero shuffle: spark.range fans out, one mapInPandas stage."""
    import pandas as pd

    def gen(batches):
        for pdf_batch in batches:
            yield pd.DataFrame(
                [_binary_roundtrip_row(int(i)) for i in pdf_batch["id"].tolist()]
            )

    return spark.range(0, 240, numPartitions=8).mapInPandas(
        gen, "doc_id long, docx_md5 string, xlsx_md5 string, pptx_md5 string, pdf_md5 string"
    )


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------


def ann_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") % 100 == 0)
    return similarity.cosine_topk(e, probes, k=5)


ANN_SQL = """
WITH scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
  FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
  WHERE p.vec_id % 100 = 0
)
SELECT probe_id, rank, neighbor_id, round(cos, 6) AS cos
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def ann_ivf_topk(spark, sf_dir):
    """IVF ANN (coarse-quantizer scale path): deterministic spherical
    k-means centroids, probes visit their 4 nearest of 16 clusters, exact
    re-rank inside. Value-checked against a local numpy oracle fixture that
    reimplements the candidate machinery without Spark."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") % 100 == 0)
    return similarity.ivf_topk(e, probes, k=5, n_centroids=16, n_probe=4)


def emb_neardup_exact(spark, sf_dir):
    """Exact cosine>=0.4 near-dup pairs (brute force — the oracle baseline
    for the LSH variant; 0.4 because the synthetic embeddings top out at
    pairwise cosine ~0.51)."""
    e = _t(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", similarity.cosine_sim(F.col("va"), F.col("vb")))
        .where(F.col("cos") >= 0.4)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
"""


def emb_neardup_lsh(spark, sf_dir):
    """LSH-bucketed near-dup (the 100 TB path; recall vs exact in pytest)."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(e, threshold=0.4, n_planes=6, n_tables=8)


def semantic_dedup(spark, sf_dir):
    """SemDeDup semantic pruning (Abbas et al. 2023): spherical k-means
    clusters over the embedding column, greedy keep-first drop of
    within-cluster docs at cosine >= 0.4 to a kept doc (0.4 for the same
    reason as emb_neardup_*: the synthetic embeddings top out near 0.51).
    One verdict row per doc. Value-checked against a local numpy fixture
    oracle that replays the IDENTICAL shared cluster kernel
    (similarity.semantic_dedup_cluster_kernel) without Spark."""
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(e, n_centroids=16, threshold=0.4)
    return out.select("vec_id", "cluster", "kept", "dup_of", "dup_sim")


# ---------------------------------------------------------------------------
# extraction pipeline (non-SQL kernels -> rows-only checks)
# ---------------------------------------------------------------------------


def extract_transcripts(spark, sf_dir):
    """Flagship: transcripts via the CUSTOM DATA SOURCE (Python DataSource
    V2, sources/transcripts_source.py) -> full extraction pipeline. The
    fixture oracle value-checks the whole chain incl. the source."""
    from docling_gfcr_spark.sources import register_transcripts_source

    register_transcripts_source(spark)
    tdf = (
        spark.read.format("transcripts")
        .option("n_conv", 200).option("mean_turns", 6).option("seed", 42)
        .option("mega_every", 50).option("skew_factor", 10).option("parallelism", 16)
        .load()
    )
    ex = pipeline.extract_turns(tdf, mode="agent")
    return ex.select(
        "conv_id", "turn_idx", "method", "success", "quality_score", "n_spans", "word_count"
    )


def extract_transcripts_streamed(spark, sf_dir):
    """STRUCTURED STREAMING twin of extract_transcripts, value-checked by the
    driver against the SAME fixture: the micro-batch stream reader replays
    the identical bounded corpus (sources/transcripts_source.py stream path),
    extraction runs per micro-batch through the same fused UDF, and the
    drained memory-sink table must hash-match the batch pipeline's oracle —
    stream == batch, enforced by the correctness gate, not just pytest."""
    import uuid

    from docling_gfcr_spark.sources import register_transcripts_source
    from docling_gfcr_spark.streaming import run_stream_to_memory

    register_transcripts_source(spark)
    stream = (
        spark.readStream.format("transcripts")
        .option("n_conv", 200).option("mean_turns", 6).option("seed", 42)
        .option("mega_every", 50).option("skew_factor", 10)
        .option("convs_per_batch", 100)
        .load()
    )
    ex = pipeline.extract_turns(stream, mode="agent")
    name = f"ext_stream_{uuid.uuid4().hex[:8]}"
    out = run_stream_to_memory(spark, ex, name)
    return out.select(
        "conv_id", "turn_idx", "method", "success", "quality_score", "n_spans", "word_count"
    )


def extract_assembled_convs(spark, sf_dir):
    tdf = transcripts.make_transcripts(spark, 100, mean_turns=6, seed=42)
    ex = pipeline.extract_turns(tdf, mode="agent")
    conv = pipeline.assemble_conversations(ex)
    return conv.select("conv_id", "n_turns", F.length("conv_text").alias("conv_chars"))


def resume_extraction_job(spark, sf_dir):
    """North-rule resume invariant, END-TO-END and value-checked: run the
    wave-committed extraction job (lineage.run_extraction_job), crash it
    after wave 2 (injected), resume under a new run_id, and audit the final
    state. Output (one row per run):

    - parts_committed / resumed_skipped: the resumed run must skip exactly
      the crashed run's committed parts (deterministic wave arithmetic:
      4 parts / 2 waves, crash after wave 1 -> 2 parts committed each side);
    - total_rows / distinct_keys: the resumed output holds every (conv_id,
      turn_idx) exactly once — no loss, no reprocessing duplicates;
    - content_digest: order-insensitive md5-sum over (conv_id, turn_idx,
      extracted_text) of the FINAL data table — per-turn text equality with
      the pure-Python fixture oracle, straight through the crash/resume.

    Result is materialized before the scratch dir is deleted.
    """
    import shutil
    import tempfile

    from docling_gfcr_spark import lineage

    out_dir = tempfile.mkdtemp(prefix="resume_audit_")
    try:
        tdf = transcripts.make_transcripts(
            spark, 40, mean_turns=5, seed=7, mega_every=25, skew_factor=8, parallelism=8
        )
        try:
            lineage.run_extraction_job(
                spark, tdf, out_dir, n_parts=4, n_waves=2, run_id="run1", fail_after_wave=1
            )
        except RuntimeError:
            pass  # the injected crash
        report2 = lineage.run_extraction_job(
            spark, tdf, out_dir, n_parts=4, n_waves=2, run_id="run2"
        )
        lin = lineage.read_lineage(spark, out_dir).where(F.col("status") == "committed")
        data = lineage.read_extracted(spark, out_dir)
        row_hash = _md5_digest_col(
            F.col("conv_id"), F.col("turn_idx"), F.col("extracted_text")
        )
        audit = (
            data.agg(
                F.count("*").alias("total_rows"),
                F.count_distinct("conv_id", "turn_idx").alias("distinct_keys"),
                F.sum(row_hash).alias("content_digest"),
            )
        )
        per_run = lin.groupBy("run_id").agg(
            F.count_distinct("part_id").alias("parts_committed")
        )
        result = (
            per_run.crossJoin(audit)
            .withColumn(
                "resumed_skipped",
                F.when(F.col("run_id") == "run1", F.lit(0)).otherwise(
                    F.lit(len(report2["resumed_parts_skipped"]))
                ).cast("long"),
            )
            .select(
                "run_id", "parts_committed", "resumed_skipped",
                "total_rows", "distinct_keys", "content_digest",
            )
            .orderBy("run_id")
        )
        pdf = result.toPandas()  # materialize before the scratch dir goes away
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "run_id string, parts_committed long, resumed_skipped long, "
        "total_rows long, distinct_keys long, content_digest long",
    )


def corpus_build_end_to_end(spark, sf_dir):
    """The composed corpus-build job (jobs/corpus_build.py) END-TO-END with
    an injected mid-pipeline crash + resume, value-checked: extract ->
    assemble -> exact dedup -> near dedup -> decontaminate -> PII scrub ->
    mix -> pack, one lineage row per stage.

    Input: the deterministic transcripts corpus PLUS planted duplicates —
    three whole-conversation copies (exact dups after cli-mode extraction,
    whose output is name-independent) and two first-turn-dropped copies
    (near dups for the MinHash stage). run1 crashes after dedup_near; the
    heldout set is then drawn from the surviving docs (hash sample, salt
    'held') so decontamination provably bites; run2 resumes and must skip
    the four committed stages.

    Output: one row per stage (stage_idx, stage, committed_by run, n_out)
    crossed with the final packed-table audit (rows, total tokens, and an
    order-insensitive md5 digest over every packed row) — the fixture
    oracle replays the whole chain with pure Python + DuckDB twins.
    """
    import shutil
    import tempfile

    from docling_gfcr_spark.operators import sampling
    from jobs import corpus_build

    out_dir = tempfile.mkdtemp(prefix="corpus_build_audit_")
    try:
        base = transcripts.make_transcripts(
            spark, 40, mean_turns=5, seed=13, mega_every=25, skew_factor=8, parallelism=8
        )
        dup_ids = [f"conv-{i:08d}" for i in (1, 2, 3)]
        nd_ids = [f"conv-{i:08d}" for i in (4, 5)]
        copies = base.where(F.col("conv_id").isin(dup_ids)).withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("-copy"))
        )
        nd = base.where(F.col("conv_id").isin(nd_ids) & (F.col("turn_idx") > 0)).withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("-nd"))
        )
        tdf = base.unionByName(copies).unionByName(nd)
        mix_weights = {"html": 0.6, "json": 0.5}
        kwargs = dict(
            n_parts=4, n_waves=2, mode="cli", mix_weights=mix_weights,
            mix_default=1.0, pack_budget=2048, minhash=(32, 8, 5, "md5"),
            decontam_k=8,
        )
        placeholder = spark.createDataFrame([("",)], "text string")
        try:
            corpus_build.run_corpus_build(
                spark, tdf, placeholder, out_dir, run_id="run1",
                fail_after_stage="dedup_near", **kwargs
            )
        except RuntimeError:
            pass  # the injected crash
        survivors = spark.read.parquet(corpus_build.stage_dir(out_dir, "dedup_near"))
        heldout = sampling.hash_sample(
            survivors, 0.15, id_col="conv_id", salt="held"
        ).select(F.col("conv_text").alias("text"))
        corpus_build.run_corpus_build(
            spark, tdf, heldout, out_dir, run_id="run2", **kwargs
        )
        packed = corpus_build.read_packed(spark, out_dir)
        row_hash = _md5_digest_col(
            F.col("conv_id"), F.col("n_tokens"),
            F.col("tokens_before"), F.col("seq_bin"),
        )
        audit = packed.agg(
            F.count("*").alias("packed_rows"),
            F.sum("n_tokens").alias("packed_total_tokens"),
            F.sum(row_hash).alias("packed_digest"),
        )
        lin = (
            corpus_build.read_stage_lineage(spark, out_dir)
            .where(F.col("status") == "committed")
            .select(
                "stage_idx", "stage", F.col("run_id").alias("committed_by"),
                "n_out",
            )
        )
        pdf = lin.crossJoin(audit).orderBy("stage_idx").toPandas()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "stage_idx int, stage string, committed_by string, n_out long, "
        "packed_rows long, packed_total_tokens long, packed_digest long",
    )


# the planted semantic pair for corpus_build_semantic: a 3-turn plain conv
# and its per-turn word-REVERSED twin. Identical token multisets -> the
# hashing-trick embeddings are bit-identical (cosine exactly 1.0); disjoint
# 5-word shingles -> MinHash mines no candidate pair. Shared verbatim with
# the fixture replay (tools/make_fixtures.py imports this constant) so both
# engines extract/assemble/embed the same bytes.
SEMANTIC_PLANT_TURNS: tuple[tuple, ...] = tuple(
    (
        cid,
        t,
        "user",
        " ".join(
            [f"sem{t}_{j}" for j in range(18)]
            if cid == "sem-orig-000"
            else list(reversed([f"sem{t}_{j}" for j in range(18)]))
        ),
        "plain",
    )
    for cid in ("sem-orig-000", "sem-perm-000")
    for t in range(3)
)


def corpus_build_semantic(spark, sf_dir):
    """The corpus-build job with the OPTIONAL SemDeDup stage mounted
    (jobs/corpus_build.py ``semantic=``) END-TO-END with an injected crash
    at the new stage's boundary + resume, value-checked: extract ->
    assemble -> exact dedup -> near dedup -> SEMANTIC dedup -> decontaminate
    -> scrub -> mix -> pack (nine stages, one lineage row each).

    Input: 30 deterministic conversations PLUS one whole-conversation copy
    (exact dup), one first-turn-dropped copy (MinHash near dup), and the
    word-REVERSED plain pair (``SEMANTIC_PLANT_TURNS``) that MinHash
    provably cannot pair (disjoint shingles) but the order-invariant
    hashing-trick embedding pins at cosine 1.0 — each dedup stage drops a
    distinct planted class. run1 crashes after dedup_semantic; the heldout
    set is drawn from the semantic survivors (hash sample, salt 'held');
    run2 resumes and must skip the five committed stages.

    Output: one row per stage crossed with the packed-table audit, same
    shape as corpus_build_end_to_end; the fixture oracle replays the whole
    chain — including the semantic stage via the SHARED kernels
    (embed_texts_kernel, spherical_kmeans, semantic_dedup_cluster_kernel)
    on md5-surrogate ids — with pure Python + DuckDB twins.
    """
    import shutil
    import tempfile

    from docling_gfcr_spark.operators import sampling
    from jobs import corpus_build

    out_dir = tempfile.mkdtemp(prefix="corpus_build_sem_")
    try:
        base = transcripts.make_transcripts(
            spark, 30, mean_turns=5, seed=13, mega_every=25, skew_factor=8, parallelism=8
        )
        copies = base.where(F.col("conv_id") == "conv-00000001").withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("-copy"))
        )
        nd = base.where(
            (F.col("conv_id") == "conv-00000002") & (F.col("turn_idx") > 0)
        ).withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-nd")))
        plant = spark.createDataFrame(
            [(c, t, r, x, tool, None) for c, t, r, x, tool in SEMANTIC_PLANT_TURNS],
            transcripts.SCHEMA,
        )
        tdf = base.unionByName(copies).unionByName(nd).unionByName(plant)
        kwargs = dict(
            n_parts=4, n_waves=2, mode="cli", mix_weights={"html": 0.6, "json": 0.5},
            mix_default=1.0, pack_budget=2048, minhash=(32, 8, 5, "md5"),
            decontam_k=8, semantic=(64, 4, 0.95),
        )
        placeholder = spark.createDataFrame([("",)], "text string")
        try:
            corpus_build.run_corpus_build(
                spark, tdf, placeholder, out_dir, run_id="run1",
                fail_after_stage="dedup_semantic", **kwargs
            )
        except RuntimeError:
            pass  # the injected crash
        survivors = spark.read.parquet(corpus_build.stage_dir(out_dir, "dedup_semantic"))
        heldout = sampling.hash_sample(
            survivors, 0.15, id_col="conv_id", salt="held"
        ).select(F.col("conv_text").alias("text"))
        corpus_build.run_corpus_build(
            spark, tdf, heldout, out_dir, run_id="run2", **kwargs
        )
        packed = corpus_build.read_packed(spark, out_dir)
        row_hash = _md5_digest_col(
            F.col("conv_id"), F.col("n_tokens"),
            F.col("tokens_before"), F.col("seq_bin"),
        )
        audit = packed.agg(
            F.count("*").alias("packed_rows"),
            F.sum("n_tokens").alias("packed_total_tokens"),
            F.sum(row_hash).alias("packed_digest"),
        )
        lin = (
            corpus_build.read_stage_lineage(spark, out_dir)
            .where(F.col("status") == "committed")
            .select(
                "stage_idx", "stage", F.col("run_id").alias("committed_by"),
                "n_out",
            )
        )
        pdf = lin.crossJoin(audit).orderBy("stage_idx").toPandas()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "stage_idx int, stage string, committed_by string, n_out long, "
        "packed_rows long, packed_total_tokens long, packed_digest long",
    )


def corpus_ingest_semantic(spark, sf_dir):
    """The DAILY-INGEST composition with INCREMENTAL SemDeDup mounted
    (jobs/corpus_build.run_corpus_ingest ``semantic=`` + the standing
    kept-embedding index) END-TO-END, value-checked: day 1 bootstraps BOTH
    standing indexes (band keys + kept embeddings, codebook trained once on
    the bootstrap batch and persisted); day 2's batch carries an exact copy
    of a committed day-1 doc (caught by incremental MinHash), a word-
    REVERSED copy of a committed day-1 plain conversation
    (``SEMANTIC_PLANT_TURNS``: disjoint shingles, so incremental MinHash is
    provably blind to it — identical token multiset, so the committed
    keeper pins it at cosine exactly 1.0), crashes after the new
    dedup_semantic stage, resumes, and finishes the tail against a heldout
    set hash-sampled from the SEMANTIC survivors.

    Note the band index intentionally keeps keys for incr-survivors that
    the semantic stage later drops: the index must remember everything
    accepted-or-semantically-pruned, else tomorrow's re-submission of a
    pruned doc's content would be readmitted.

    Output: one row per day-2 stage (committed_by proves the crash point:
    d2a through dedup_semantic, d2b after) crossed with the audit — day-1
    incr survivors, band rows, DISTINCT kept-embedding index ids (= day-1 +
    day-2 semantic survivors: the crashed run's at-least-once append never
    double-counts), a digest over day-2 semantic-survivor ids, and the
    packed totals. The fixture oracle replays the whole two-day chain with
    the shared numpy kernels + DuckDB twins (tools/make_fixtures.py).
    """
    import shutil
    import tempfile

    from docling_gfcr_spark.operators import sampling
    from jobs import corpus_build

    root = tempfile.mkdtemp(prefix="corpus_ingest_sem_")
    tag = root.rsplit("_", 1)[-1]
    band_table, sem_table = f"ingest_sem_bands_{tag}", f"ingest_sem_idx_{tag}"
    kwargs = dict(
        n_parts=4, n_waves=2, mode="cli", mix_weights={"html": 0.6, "json": 0.5},
        mix_default=1.0, pack_budget=2048, minhash=(32, 8, 5, "md5"),
        decontam_k=8, semantic=(64, 4, 0.95), sem_table=sem_table,
        sem_path=f"{root}/semidx",
    )
    no_overlap = spark.createDataFrame(
        [("qq zz ww xx yy vv uu tt ss rr",)], "text string"
    )
    try:
        base = transcripts.make_transcripts(
            spark, 30, mean_turns=5, seed=13, mega_every=25, skew_factor=8, parallelism=8
        )
        plant = spark.createDataFrame(
            [(c, t, r, x, tool, None) for c, t, r, x, tool in SEMANTIC_PLANT_TURNS],
            transcripts.SCHEMA,
        )
        day1 = (
            base.where(F.col("conv_id").isin([f"conv-{i:08d}" for i in range(20)]))
            .unionByName(
                base.where(F.col("conv_id") == "conv-00000001").withColumn(
                    "conv_id", F.concat(F.col("conv_id"), F.lit("-copy"))
                )
            )
            .unionByName(plant.where(F.col("conv_id") == "sem-orig-000"))
        )
        corpus_build.run_corpus_ingest(
            spark, day1, no_overlap, f"{root}/day1", band_table, f"{root}/bands",
            run_id="d1", bootstrap=True, **kwargs,
        )
        day1_surv = spark.read.parquet(
            corpus_build.stage_dir(f"{root}/day1", "dedup_incr")
        ).count()

        day2 = (
            base.where(F.col("conv_id").isin([f"conv-{i:08d}" for i in range(20, 30)]))
            .unionByName(
                base.where(F.col("conv_id") == "conv-00000002").withColumn(
                    "conv_id", F.lit("conv-00000002-d2copy")
                )
            )
            .unionByName(plant.where(F.col("conv_id") == "sem-perm-000"))
        )
        out2 = f"{root}/day2"
        try:
            corpus_build.run_corpus_ingest(
                spark, day2, no_overlap, out2, band_table, f"{root}/bands",
                run_id="d2a", fail_after_stage="dedup_semantic", **kwargs,
            )
        except RuntimeError:
            pass  # the injected crash
        surv2 = spark.read.parquet(corpus_build.stage_dir(out2, "dedup_semantic"))
        heldout = sampling.hash_sample(
            surv2, 0.25, id_col="conv_id", salt="held"
        ).select(F.col("conv_text").alias("text"))
        corpus_build.run_corpus_ingest(
            spark, day2, heldout, out2, band_table, f"{root}/bands",
            run_id="d2b", **kwargs,
        )

        id_hash = _md5_digest_col(F.col("conv_id"))
        packed = corpus_build.read_packed(spark, out2)
        row_hash = _md5_digest_col(
            F.col("conv_id"), F.col("n_tokens"),
            F.col("tokens_before"), F.col("seq_bin"),
        )
        audit = (
            surv2.agg(F.sum(id_hash).alias("surv_digest"))
            .crossJoin(
                spark.table(band_table).agg(F.count("*").alias("band_rows"))
            )
            .crossJoin(
                spark.table(sem_table).agg(
                    F.count_distinct("vec_id").alias("sem_index_ids")
                )
            )
            .crossJoin(
                packed.agg(
                    F.count("*").alias("packed_rows"),
                    F.sum("n_tokens").alias("packed_total_tokens"),
                    F.sum(row_hash).alias("packed_digest"),
                )
            )
            .withColumn("day1_survivors", F.lit(day1_surv).cast("long"))
        )
        lin = (
            corpus_build.read_stage_lineage(spark, out2)
            .where(F.col("status") == "committed")
            .select(
                "stage_idx", "stage", F.col("run_id").alias("committed_by"), "n_out"
            )
        )
        pdf = lin.crossJoin(audit).orderBy("stage_idx").toPandas()
    finally:
        for t in (band_table, sem_table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "stage_idx int, stage string, committed_by string, n_out long, "
        "surv_digest long, band_rows long, sem_index_ids long, "
        "packed_rows long, packed_total_tokens long, packed_digest long, "
        "day1_survivors long",
    )


def corpus_ingest_end_to_end(spark, sf_dir):
    """The DAILY-INGEST composition (jobs/corpus_build.run_corpus_ingest)
    END-TO-END, value-checked: day 1 bootstraps the standing band index
    (one planted in-batch exact dup resolves keep-first); day 2's batch —
    ten fresh conversations plus an exact copy of a COMMITTED day-1 doc, a
    first-turn-dropped near copy of another, and an in-batch exact pair —
    dedups INCREMENTALLY against the index (no day-1 recompute), crashes
    after the dedup_incr stage, resumes, and finishes decontaminate ->
    scrub -> mix -> pack against a heldout set hash-sampled from the
    surviving docs.

    Output: one row per day-2 stage (committed_by proves the crash point:
    d2a through dedup_incr, d2b after) crossed with the audit — day-1
    survivor count, final band-index rows (exactly 8 keys per surviving
    doc across BOTH days: the crashed run's append committed with its
    stage and was not repeated on resume), an order-insensitive digest
    over day-2 survivor ids, and the packed-table totals. The fixture
    oracle replays the whole two-day chain with pure Python + the
    validated DuckDB minhash/PII twins (tools/make_fixtures.py).
    """
    import shutil
    import tempfile

    from docling_gfcr_spark.operators import sampling
    from jobs import corpus_build

    root = tempfile.mkdtemp(prefix="corpus_ingest_audit_")
    band_table = "corpus_ingest_bands_" + root.rsplit("_", 1)[-1]
    band_path = f"{root}/bands"
    kwargs = dict(
        n_parts=4, n_waves=2, mode="cli", mix_weights={"html": 0.6, "json": 0.5},
        mix_default=1.0, pack_budget=2048, minhash=(32, 8, 5, "md5"),
        decontam_k=8,
    )
    no_overlap = spark.createDataFrame(
        [("qq zz ww xx yy vv uu tt ss rr",)], "text string"
    )
    try:
        base = transcripts.make_transcripts(
            spark, 30, mean_turns=5, seed=13, mega_every=25, skew_factor=8, parallelism=8
        )
        day1 = base.where(
            F.col("conv_id").isin([f"conv-{i:08d}" for i in range(20)])
        ).unionByName(
            base.where(F.col("conv_id") == "conv-00000001").withColumn(
                "conv_id", F.concat(F.col("conv_id"), F.lit("-copy"))
            )
        )
        corpus_build.run_corpus_ingest(
            spark, day1, no_overlap, f"{root}/day1", band_table, band_path,
            run_id="d1", bootstrap=True, **kwargs,
        )
        day1_surv = spark.read.parquet(
            corpus_build.stage_dir(f"{root}/day1", "dedup_incr")
        ).count()

        day2 = (
            base.where(F.col("conv_id").isin([f"conv-{i:08d}" for i in range(20, 30)]))
            .unionByName(
                base.where(F.col("conv_id") == "conv-00000002").withColumn(
                    "conv_id", F.lit("conv-00000002-d2copy")
                )
            )
            .unionByName(
                base.where(
                    (F.col("conv_id") == "conv-00000003") & (F.col("turn_idx") > 0)
                ).withColumn("conv_id", F.lit("conv-00000003-nd"))
            )
            .unionByName(
                base.where(F.col("conv_id") == "conv-00000020").withColumn(
                    "conv_id", F.lit("conv-00000020-copy")
                )
            )
        )
        out2 = f"{root}/day2"
        try:
            corpus_build.run_corpus_ingest(
                spark, day2, no_overlap, out2, band_table, band_path,
                run_id="d2a", fail_after_stage="dedup_incr", **kwargs,
            )
        except RuntimeError:
            pass  # the injected crash
        surv2 = spark.read.parquet(corpus_build.stage_dir(out2, "dedup_incr"))
        heldout = sampling.hash_sample(
            surv2, 0.25, id_col="conv_id", salt="held"
        ).select(F.col("conv_text").alias("text"))
        corpus_build.run_corpus_ingest(
            spark, day2, heldout, out2, band_table, band_path,
            run_id="d2b", **kwargs,
        )

        id_hash = _md5_digest_col(F.col("conv_id"))
        packed = corpus_build.read_packed(spark, out2)
        row_hash = _md5_digest_col(
            F.col("conv_id"), F.col("n_tokens"),
            F.col("tokens_before"), F.col("seq_bin"),
        )
        audit = (
            surv2.agg(F.sum(id_hash).alias("surv_digest"))
            .crossJoin(
                spark.table(band_table).agg(F.count("*").alias("band_rows"))
            )
            .crossJoin(
                packed.agg(
                    F.count("*").alias("packed_rows"),
                    F.sum("n_tokens").alias("packed_total_tokens"),
                    F.sum(row_hash).alias("packed_digest"),
                )
            )
            .withColumn("day1_survivors", F.lit(day1_surv).cast("long"))
        )
        lin = (
            corpus_build.read_stage_lineage(spark, out2)
            .where(F.col("status") == "committed")
            .select(
                "stage_idx", "stage", F.col("run_id").alias("committed_by"), "n_out"
            )
        )
        pdf = lin.crossJoin(audit).orderBy("stage_idx").toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {band_table}")
    return spark.createDataFrame(
        pdf,
        "stage_idx int, stage string, committed_by string, n_out long, "
        "surv_digest long, band_rows long, packed_rows long, "
        "packed_total_tokens long, packed_digest long, day1_survivors long",
    )


def multimodal_features(spark, sf_dir):
    """Real container-header decode over binary media columns (PNG/JPEG/WAV/
    MP4 parsed with kernels/media.py); value-checked against a fixture
    computed by the pure-Python local oracle (tools/make_fixtures.py)."""
    media = mm.make_fake_media(spark, n=128, seed=42)
    feats = mm.extract_media_features(media)
    return feats.select(
        "media_id", "modality", "n_bytes", "sha_prefix", "format",
        # duration_s raw (no round): the double is computed in the Python
        # worker, so the fixture oracle's locally-computed double is
        # bit-identical — rounding could only introduce tie divergence
        "width", "height", "n_frames", "duration_s",
    )




def multimodal_transformed(spark, sf_dir):
    """transform_media (real PNG resize + WAV decimation) -> features;
    value-checked against the local pure-Python oracle fixture."""
    media = mm.make_fake_media(spark, n=128, seed=42)
    feats = mm.extract_media_features(mm.transform_media(media, max_side=20, frame_step=4))
    return feats.select(
        "media_id", "modality", "n_bytes", "sha_prefix", "format",
        "width", "height", "n_frames", "duration_s",
    )


def multimodal_assembled_convs(spark, sf_dir):
    """Conversation-level multimodal assembly: text turns interleaved with
    typed media refs (<media:format:WxH:sha16>) into one packed training
    record per conversation, plus the per-conv media inventory. Fixture
    oracle replays the IDENTICAL generator + kernels single-threaded
    (tools/make_fixtures.py) — conv_text is value-checked via md5."""
    tdf = transcripts.make_transcripts(spark, 100, mean_turns=6, seed=42)
    conv = pipeline.assemble_multimodal_conversations(tdf, mode="agent")
    return conv.select(
        "conv_id",
        "n_turns",
        "n_media",
        F.length("conv_text").alias("conv_chars"),
        F.md5("conv_text").alias("conv_md5"),
        "media_refs",
    )


def asof_error_after_click(spark, sf_dir):
    """As-of join (custom operator, operators/asof.py): for each error event,
    the latest strictly-earlier click by the same user."""
    from docling_gfcr_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    errors = e.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event")
    )
    j = asof_join(errors, clicks, on="ts", by="user_id")
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("err_ts"),
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "click_event_right",
    ).withColumnRenamed("click_event_right", "click_event")


ASOF_SQL = """
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       c.click_event
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
ASOF JOIN (SELECT user_id, ts, event_id AS click_event FROM events
           WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts > c.ts
"""


def cube_order_counts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
        )
    )


CUBE_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def except_building_nonurgent(spark, sf_dir):
    """Set difference: BUILDING-segment customers minus those with any
    urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = (
        c.join(o, c.c_custkey == o.o_custkey)
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("c_custkey")
    )
    return building.exceptAll(urgent.distinct()).distinct()


EXCEPT_SQL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderpriority = '1-URGENT'
"""




def order_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per status (Spark percentile == DuckDB
    quantile_cont: both linear interpolation over the sorted set)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 2).alias("p99"),
    )


PCTL_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 2) AS p99
FROM orders GROUP BY o_orderstatus
"""


def intersect_segments(spark, sf_dir):
    """INTERSECT: customers who are both high-balance and urgent-order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    urgent = (
        c.join(o, c.c_custkey == o.o_custkey)
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("c_custkey")
    )
    return rich.intersect(urgent)


INTERSECT_SQL = """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT c_custkey FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderpriority = '1-URGENT'
"""




def approx_distinct_stats(spark, sf_dir):
    """Sketch aggregates (HLL++ / GK-quantile): algorithms are engine-specific
    so this ships rows-only; exact twins are checked in q1/percentiles."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx_p50_price"),
        F.count("*").alias("n_rows"),
    )




def grouping_sets_sql(spark, sf_dir):
    """GROUPING SETS through the SQL API surface (same Catalyst plan as the
    DataFrame API — demonstrates both front doors of the engine)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT coalesce(o_orderstatus, 'ANY') AS status,
               coalesce(o_orderpriority, 'ANY') AS priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


GROUPING_SETS_SQL = """
SELECT coalesce(o_orderstatus, 'ANY') AS status,
       coalesce(o_orderpriority, 'ANY') AS priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def running_revenue(spark, sf_dir):
    """Explicit window frame: per-customer cumulative order value in date
    order (ROWS UNBOUNDED PRECEDING..CURRENT ROW)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


def q7_nation_trade_volume(spark, sf_dir):
    """TPC-H Q7 shape: revenue flowing between supplier-nation and
    customer-nation pairs — a 5-way join through BOTH dimension paths
    (lineitem->supplier->nation and lineitem->orders->customer->nation),
    dims broadcast, cross-pair aggregation."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cust_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("supp_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cust_nk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        # exact-decimal accumulation: per-item revenue is exactly 4dp
        # (2dp price x 2dp discount), so casting each item to DECIMAL(18,4)
        # recovers the exact value and the SUM is order-independent — no
        # half-cent rounding ties between engines (double sums hit one here)
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")), 2
            ).cast("double").alias("volume"),
            F.count("*").alias("n_items"),
        )
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS volume,
       count(*) AS n_items
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND n1.n_name < n2.n_name
GROUP BY n1.n_name, n2.n_name
"""


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer, top 20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape — CORRELATED SCALAR SUBQUERY through the SQL front
    door (Catalyst de-correlates it into an aggregate + join; no manual
    rewrite)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    return spark.sql("""
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#4'
          AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                            FROM lineitem_v l2 WHERE l2.l_partkey = p_partkey)
    """)


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4'
  AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape — IN-subquery with HAVING, again via the SQL API."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql("""
        SELECT c_custkey, o_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               round(o_totalprice, 2) AS totalprice,
               round(sum(l_quantity), 2) AS sum_qty
        FROM orders_v
        JOIN customer_v ON c_custkey = o_custkey
        JOIN lineitem_v ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem_v
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    """)


Q18_SQL = """
SELECT c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2) AS totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: single-scan filtered aggregation — the canonical
    'does the filter reach the parquet scan' query (shipdate range +
    discount band + quantity cap, no joins). Exact-decimal accumulation
    (2dp price x 2dp discount = 4dp, the q7 discipline)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")), 2
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q6_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: no partsupp table in the slim schema):
    for each small part (p_size <= 5) sold by EUROPE suppliers, the
    supplier achieving the MINIMUM effective sale price — a correlated
    scalar-MIN subquery decorrelated into groupBy + join-back, through a
    4-way dimension path (lineitem->supplier->nation->region). Ties
    resolve to the lexicographically first supplier name."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)").alias("price"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE").select("r_regionkey")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5).select("p_partkey")
    eu_sales = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    best = eu_sales.groupBy("p_partkey").agg(F.min("price").alias("best_price"))
    return (
        eu_sales.join(best, ["p_partkey"])
        .where(F.col("price") == F.col("best_price"))
        .groupBy("p_partkey", "best_price")
        .agg(F.min("s_name").alias("s_name"))
        .select("p_partkey", F.col("best_price").cast("double").alias("best_price"), "s_name")
    )


Q2_SQL = """
WITH eu_sales AS (
  SELECT p_partkey, s_name,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS price
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  JOIN part     ON l_partkey = p_partkey
  WHERE r_name = 'EUROPE' AND p_size <= 5
)
SELECT p_partkey, CAST(best_price AS DOUBLE) AS best_price, s_name
FROM (
  SELECT p_partkey, price AS best_price, min(s_name) AS s_name
  FROM eu_sales e
  WHERE price = (SELECT min(price) FROM eu_sales e2 WHERE e2.p_partkey = e.p_partkey)
  GROUP BY p_partkey, price
)
"""


def _derived_partsupp(spark, sf_dir):
    """The slim driver schema carries no partsupp table, so q9/q11 DERIVE
    one — deterministically, identically in Spark and DuckDB (PARTSUPP_SQL
    is the literal twin): 4 suppliers per part via arithmetic on
    (p_partkey, i) mod supplier-count (suppkeys are 0-based in the
    testdata), availqty/supplycost from the same arithmetic. supplycost is
    integer cents divided as DECIMAL — exact, so every downstream money sum
    can stay in decimals (order-independent, engine-exact)."""
    n_supp = _t(spark, sf_dir, "supplier").count()  # bounded metadata
    p = _t(spark, sf_dir, "part").select("p_partkey")
    ps = p.select(
        "p_partkey", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i")
    )
    return ps.select(
        F.col("p_partkey").alias("ps_partkey"),
        ((F.col("p_partkey") * 7 + F.col("i") * 17) % F.lit(n_supp)).alias("ps_suppkey"),
        ((F.col("p_partkey") * 31 + F.col("i") * 11) % 9000 + 100)
        .cast("int")
        .alias("ps_availqty"),
        (
            ((F.col("p_partkey") * 13 + F.col("i") * 7) % 99900 + 100).cast("decimal(18,2)")
            / 100
        ).alias("ps_supplycost"),
    )


PARTSUPP_SQL = """
  SELECT p_partkey AS ps_partkey,
         (p_partkey*7 + i*17) % (SELECT count(*) FROM supplier) AS ps_suppkey,
         CAST((p_partkey*31 + i*11) % 9000 + 100 AS INTEGER) AS ps_availqty,
         CAST((p_partkey*13 + i*7) % 99900 + 100 AS DECIMAL(18,2)) / 100 AS ps_supplycost
  FROM part, (SELECT unnest(range(4)) AS i)
"""


def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 (product-type profit by nation and year) over the DERIVED
    partsupp (see _derived_partsupp) — closing one of the two TPC-H shapes
    previously excluded for the missing table. Per-item amounts are cast to
    DECIMAL(18,4) BEFORE summing in BOTH engines (exact and
    order-independent; l_quantity is integral, cast to BIGINT so the
    supplycost product stays a pure decimal)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%")).select("p_partkey")
    ps = _derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    ) - (F.col("ps_supplycost") * F.col("l_quantity").cast("long")).cast("decimal(18,4)")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(ps),
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = f"""
WITH partsupp AS ({PARTSUPP_SQL})
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
              - CAST(ps_supplycost * CAST(l_quantity AS BIGINT) AS DECIMAL(18,4)))
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (important stock identification) over the DERIVED
    partsupp: per-part inventory value (supplycost x availqty, exact
    decimals) for one nation's suppliers, kept when above 0.1% of that
    nation's total — the HAVING-over-scalar-subquery shape. The threshold
    compare is val*1000 > total: MULTIPLICATION keeps both engines in exact
    decimals (DuckDB's decimal division returns DOUBLE, which would make
    the cut float-rounded there and exact here), so the cut is tie-proof."""
    ps = _derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    j = ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    value = (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(18,2)")
    per_part = j.groupBy("ps_partkey").agg(F.sum(value).alias("val"))
    total = j.agg(F.sum(value).alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("val") * 1000 > F.col("tot"))
        .select("ps_partkey", F.col("val").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


Q11_SQL = f"""
WITH partsupp AS ({PARTSUPP_SQL}),
nat AS (SELECT ps_partkey,
               CAST(ps_supplycost * ps_availqty AS DECIMAL(18,2)) AS v
        FROM partsupp
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_7')
SELECT ps_partkey, CAST(sum(v) AS DOUBLE) AS value
FROM nat
GROUP BY ps_partkey
HAVING sum(v) * 1000 > (SELECT sum(v) FROM nat)
"""


def q12_late_shipment_priority(spark, sf_dir):
    """TPC-H Q12 shape (no l_shipmode in the slim schema: grouped by
    l_returnflag): orders shipped >30 days after order date, split into
    high- vs low-priority CASE counts per group — join + conditional
    aggregation."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_shipdate")
    j = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate.cast("date"), 30).cast("timestamp")),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
"""


def q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count DISTRIBUTION — left outer join
    (so zero-order customers count at c_count=0) with a join-side filter,
    then a second aggregation over the first's result."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q16_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (partsupp derived from lineitem in the slim schema):
    distinct-supplier counts per (p_brand, p_size) for non-Brand#1 parts,
    EXCLUDING suppliers with negative balance via NOT IN — count(distinct)
    atop an anti-join."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#1").select(
        "p_partkey", "p_brand", "p_size"
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    return (
        li.join(bad, li.l_suppkey == bad.bad_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


def q21_last_shipper_waiting(spark, sf_dir):
    """TPC-H Q21 shape (adapted to shipdate-only): per supplier, the number
    of finished multi-supplier orders where THIS supplier shipped strictly
    last — EXISTS (another supplier in the order) + NOT EXISTS (any later
    shipment by another supplier): two correlated self-joins (semi + anti)
    over lineitem."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = l1.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    waiting = (
        l1.join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey"))
            & (F.col("l3_shipdate") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


Q21_SQL = """
SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
"""


def q8_national_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_3 suppliers' share of AMERICA customers'
    order volume BY YEAR — a 7-way join (both dimension paths) under a
    conditional-sum ratio. Numerator/denominator accumulate as exact
    decimals; the share divides the identical doubles in both engines
    (no rounding — IEEE division is bit-deterministic)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA").select("r_regionkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("sn_key"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("mkt_dec"),
            F.sum(vol).alias("total_dec"),
            F.count("*").alias("n_items"),
        )
        .select(
            "o_year",
            F.col("mkt_dec").cast("double").alias("mkt_volume"),
            F.col("total_dec").cast("double").alias("total_volume"),
            (F.col("mkt_dec").cast("double") / F.col("total_dec").cast("double")).alias("mkt_share"),
            "n_items",
        )
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS mkt_volume,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_volume,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share,
       count(*) AS n_items
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA'
GROUP BY year(o_orderdate)
"""


def q15_top_revenue_supplier(spark, sf_dir):
    """TPC-H Q15 shape: a revenue VIEW (grouped agg over a date slice)
    consumed twice — once joined to supplier, once under a scalar MAX —
    selecting the top-revenue supplier(s). Exact-decimal accumulation."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
        .alias("total_rev")
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev), rev.total_rev == F.col("max_rev"))
        .join(F.broadcast(s), rev.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
"""


def q20_heavy_shippers_of_small_parts(spark, sf_dir):
    """TPC-H Q20 shape: NESTED IN subqueries — suppliers (in one nation)
    whose shipped quantity of 'small'-named parts exceeds a threshold;
    part set selected by an inner IN, supplier set by a grouped HAVING."""
    p = _t(spark, sf_dir, "part").where(F.col("p_name").startswith("small")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3").select("n_nationkey")
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.col("s_acctbal").alias("acctbal"))
    )


Q20_SQL = """
SELECT s_suppkey, s_name, s_acctbal AS acctbal
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 50
  )
"""


def suppliers_above_avg_balance(spark, sf_dir):
    """HAVING over an aggregate, DataFrame API: nations whose suppliers'
    mean balance beats the global mean (uncorrelated scalar subquery +
    post-aggregation filter)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    global_avg = s.agg(F.round(F.avg("s_acctbal"), 4).alias("g"))
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_bal"),
        )
        .join(F.broadcast(global_avg))  # scalar broadcast, no driver collect
        .where(F.col("avg_bal") > F.col("g"))
        .drop("g")
    )


SUPP_HAVING_SQL = """
SELECT n_name, count(*) AS n_suppliers, round(avg(s_acctbal), 4) AS avg_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
HAVING round(avg(s_acctbal), 4) > (SELECT round(avg(s_acctbal), 4) FROM supplier)
"""


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-07-01"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
"""


def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates over a join — exercises OR-of-ANDs pushdown/planning."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 40))
    )
    return j.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 40)
"""


def orders_with_late_shipments(spark, sf_dir):
    """TPC-H Q4 shape (adapted to the slim schema): per-priority count of
    orders with EXISTS a lineitem shipped >60 days after the order date —
    correlated EXISTS via left-semi join on a range condition."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate.cast("date"), 60).cast("timestamp")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late_orders"))


Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_late_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average balance and no URGENT
    orders — scalar subquery + NOT EXISTS (anti-join), by market segment.
    (Every customer has >=1 order in this data, so plain NO-orders would be
    an empty — trivially matching — result.)"""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    pos_avg = c.where(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("g")
    )
    return (
        c.join(F.broadcast(pos_avg))
        .where(F.col("c_acctbal") > F.col("g"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


Q22_SQL = """
SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # The driver's correctness gate checks the first ~50 entries in
    # iteration order. Ordering policy (rounds 3-7, unchanged): tier 1 =
    # new/changed this round; rotated-in = the PREVIOUS round's tail, so
    # every query is periodically re-gated by the driver (not only by the
    # mandatory full tools/check_oracle.py pre-commit run); tier 2 = one
    # representative per operator family; tier 3 (past the cap) = redundant
    # family members, each hash-green in the previous round's driver gate.
    # -- tier 1: changed in round 7 (corpus jobs gained the batch-identity
    # guard + crash-matrix hooks; lineage missing-input classification
    # narrowed; recap_band_index distincts; transcripts grew the
    # pdf_encrypted kind, which feeds extract_transcripts' error route;
    # the SEMANTIC DEDUP FAMILY is NEW in round 7 — the semantic_dedup
    # operator, then late-r7 its composition into the build job
    # (corpus_build_semantic: optional dedup_semantic stage over
    # order-invariant hashing-trick embeddings, crash + resume across the
    # new boundary) and the daily ingest (corpus_ingest_semantic: standing
    # kept-embedding index + persisted codebook, incremental per-cluster
    # verdicts, two-day replay with a committed-keeper word-permuted dup
    # that MinHash provably misses) — all fixture-oracle value-checked ----
    "semantic_dedup": semantic_dedup,
    "corpus_build_semantic": corpus_build_semantic,
    "corpus_ingest_semantic": corpus_ingest_semantic,
    "corpus_build_end_to_end": corpus_build_end_to_end,
    "corpus_ingest_end_to_end": corpus_ingest_end_to_end,
    "dedup_incremental_pairs": dedup_incremental_pairs,
    "extract_transcripts": extract_transcripts,
    "resume_extraction_job": resume_extraction_job,
    # -- rotated IN: the whole r6 tail (33 entries, last driver-gated in
    # CORRECTNESS_r05) -----------------------------------------------------
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_minhash_pairs_fast": dedup_minhash_pairs_fast,
    "dedup_clusters": dedup_clusters,
    "extract_assembled_convs": extract_assembled_convs,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q12_late_shipment_priority": q12_late_shipment_priority,
    "q13_customer_order_distribution": q13_customer_order_distribution,
    "q16_part_supplier_variety": q16_part_supplier_variety,
    "q21_last_shipper_waiting": q21_last_shipper_waiting,
    "q15_top_revenue_supplier": q15_top_revenue_supplier,
    "q20_heavy_shippers_of_small_parts": q20_heavy_shippers_of_small_parts,
    "q8_national_market_share": q8_national_market_share,
    "approx_distinct_stats": approx_distinct_stats,
    "dedup_exact": dedup_exact,
    "token_counts": token_counts,
    "customers_with_urgent_orders": customers_with_urgent_orders,
    "rollup_order_stats": rollup_order_stats,
    "grouping_sets_sql": grouping_sets_sql,
    "union_active_parties": union_active_parties,
    "events_hourly": events_hourly,
    "orders_with_late_shipments": orders_with_late_shipments,
    "q22_idle_rich_customers": q22_idle_rich_customers,
    "repetition_signals": repetition_signals,
    "split_train_val_test": split_train_val_test,
    "split_contamination": split_contamination,
    "assemble_by_source": assemble_by_source,
    "ann_cosine_topk": ann_cosine_topk,
    "dedup_simhash": dedup_simhash,
    "emb_neardup_exact": emb_neardup_exact,
    "emb_neardup_lsh": emb_neardup_lsh,
    "multimodal_features": multimodal_features,
    "pii_redaction": pii_redaction,
    "lang_id_docs": lang_id_docs,
    "dedup_ngram_topk": dedup_ngram_topk,
    # -- tier 2: one representative per remaining operator family (each
    # hash-green in the r6 driver gate) ------------------------------------
    "extract_transcripts_streamed": extract_transcripts_streamed,
    "events_session_window": events_session_window,
    "asof_error_after_click": asof_error_after_click,
    "skewed_hot_key_join": skewed_hot_key_join,
    "events_variant_stats": events_variant_stats,
    "office_bytes_roundtrip": office_bytes_roundtrip,
    "doc_chunks": doc_chunks,
    "enhanced_docs": enhanced_docs,
    # (order_value_percentiles / top_customer_per_nation slipped past the
    # ~50 cap when the two late-r7 semantic corpus gates joined tier 1 —
    # both r6-gated; their families stay in-window via approx_distinct_stats
    # and latest_order_per_customer; they rotate back next round)
    "order_value_percentiles": order_value_percentiles,
    "top_customer_per_nation": top_customer_per_nation,
    # -- tier 3 (past the driver's ~50-entry cap this round; every entry was
    # driver-gated hash-green in CORRECTNESS_r06.json and is re-verified by
    # the full check_oracle run each session; membership rotates back in
    # next round). Families stay represented in-window: TPC-H shapes via
    # q6/q8/q12/q13/q15/q16/q20-q22; packing + decontam + mixing via both
    # corpus gates' stages; window fns via top_customer_per_nation;
    # sessionize via events_session_window; clusters/multimodal/text via
    # their rotated-in twins (multimodal_assembled_convs and ann_ivf_topk
    # sat out to make room for the new semantic_dedup — both r6-gated, their
    # families stay in-window via multimodal_features / ann_cosine_topk /
    # semantic_dedup; both rotate back next round). -------------------------
    "multimodal_assembled_convs": multimodal_assembled_convs,
    "ann_ivf_topk": ann_ivf_topk,
    "q1_pricing_summary": q1_pricing_summary,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_nation_revenue": q5_nation_revenue,
    "q7_nation_trade_volume": q7_nation_trade_volume,
    "q9_product_type_profit": q9_product_type_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_stock": q11_important_stock,
    "q14_promo_revenue": q14_promo_revenue,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "pack_training_sequences": pack_training_sequences,
    "latest_order_per_customer": latest_order_per_customer,
    "status_priority_pivot": status_priority_pivot,
    "ngram_decontamination": ngram_decontamination,
    "source_mixed_sample": source_mixed_sample,
    "quality_model_scores": quality_model_scores,
    "part_name_normalize": part_name_normalize,
    "suppliers_above_avg_balance": suppliers_above_avg_balance,
    "events_json_extract": events_json_extract,
    "minhash_signature_digest": minhash_signature_digest,
    "doc_fingerprint": doc_fingerprint,
    "corpus_token_budget": corpus_token_budget,
    "hash_sampled_docs": hash_sampled_docs,
    "cube_order_counts": cube_order_counts,
    "except_building_nonurgent": except_building_nonurgent,
    "customers_without_orders": customers_without_orders,
    "intersect_segments": intersect_segments,
    "events_sessionize": events_sessionize,
    "running_revenue": running_revenue,
    "text_quality": text_quality,
    # __spark_entry__.queries() exposes a fixed name set, so this name stays
    # and runs the one connected-components operator
    "dedup_clusters_star": dedup_clusters,
    "multimodal_transformed": multimodal_transformed,
}


ORACLES: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_nation_revenue": Q5_SQL,
    "top_customer_per_nation": TOP_CUST_SQL,
    "latest_order_per_customer": LATEST_ORDER_SQL,
    "customers_without_orders": NO_ORDERS_SQL,
    "customers_with_urgent_orders": URGENT_SQL,
    "rollup_order_stats": ROLLUP_SQL,
    "status_priority_pivot": PIVOT_SQL,
    "union_active_parties": UNION_SQL,
    "part_name_normalize": PART_NORM_SQL,
    "events_hourly": EVENTS_HOURLY_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "events_variant_stats": EVENTS_VARIANT_SQL,
    "events_sessionize": SESSIONIZE_SQL,
    "events_session_window": SESSION_WINDOW_SQL,
    "skewed_hot_key_join": SKEW_JOIN_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_topk": DEDUP_NGRAM_SQL,
    "minhash_signature_digest": MINHASH_SQL,
    "asof_error_after_click": ASOF_SQL,
    "order_value_percentiles": PCTL_SQL,
    "intersect_segments": INTERSECT_SQL,
    "cube_order_counts": CUBE_SQL,
    "grouping_sets_sql": GROUPING_SETS_SQL,
    "running_revenue": RUNNING_SQL,
    "q7_nation_trade_volume": Q7_SQL,
    "q10_returned_items": Q10_SQL,
    "except_building_nonurgent": EXCEPT_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q18_large_orders": Q18_SQL,
    "suppliers_above_avg_balance": SUPP_HAVING_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q9_product_type_profit": Q9_SQL,
    "q11_important_stock": Q11_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q12_late_shipment_priority": Q12_SQL,
    "q13_customer_order_distribution": Q13_SQL,
    "q16_part_supplier_variety": Q16_SQL,
    "q21_last_shipper_waiting": Q21_SQL,
    "q15_top_revenue_supplier": Q15_SQL,
    "q20_heavy_shippers_of_small_parts": Q20_SQL,
    "q8_national_market_share": Q8_SQL,
    "orders_with_late_shipments": Q4_SQL,
    "q22_idle_rich_customers": Q22_SQL,
    "lang_id_docs": _lang_sql(),
    "text_quality": QUALITY_SQL,
    "token_counts": TOKEN_SQL,
    "doc_fingerprint": FP_SQL,
    "quality_model_scores": QUALITY_MODEL_SQL,
    "source_mixed_sample": _source_mixing_sql(),
    "pii_redaction": PII_SQL,
    "pack_training_sequences": PACK_SQL,
    "ngram_decontamination": NGRAM_DECON_SQL,
    "enhanced_docs": ENHANCED_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "repetition_signals": REPETITION_SQL,
    "corpus_token_budget": TOKEN_BUDGET_SQL,
    "split_train_val_test": SPLIT_SQL,
    "hash_sampled_docs": HASH_SAMPLE_SQL,
    "split_contamination": CONTAMINATION_SQL,
    "assemble_by_source": ASSEMBLE_SQL,
    "ann_cosine_topk": ANN_SQL,
    "emb_neardup_exact": NEARDUP_SQL,
    "dedup_minhash_pairs": MINHASH_PAIRS_SQL,
    "dedup_incremental_pairs": INCR_PAIRS_SQL,
    # Fixture-backed oracles: for the non-SQL kernels the expected output is
    # computed by an INDEPENDENT single-threaded pure-Python/numpy oracle
    # (tools/make_fixtures.py) and stored as typed parquet; DuckDB reads it
    # back so the driver's value-hash check is as hard as for the SQL twins.
    "extract_transcripts": _FIXTURE_SQL.format(name="extract_transcripts"),
    # the streaming twin must equal the SAME batch fixture: stream == batch
    "extract_transcripts_streamed": _FIXTURE_SQL.format(name="extract_transcripts"),
    "extract_assembled_convs": _FIXTURE_SQL.format(name="extract_assembled_convs"),
    "multimodal_assembled_convs": _FIXTURE_SQL.format(name="multimodal_assembled_convs"),
    "resume_extraction_job": _FIXTURE_SQL.format(name="resume_extraction_job"),
    # sf-dependent fixture oracles (they read documents/embeddings): the
    # per-SF fixture variant keeps the sweep green at any oracle SF
    "dedup_simhash": _SF_FIXTURE_SQL.format(name="dedup_simhash"),
    "dedup_minhash_pairs_fast": _SF_FIXTURE_SQL.format(name="dedup_minhash_pairs_fast"),
    # clusters: LIVE recursive-CTE twin (sf-agnostic); the union-find
    # fixture remains the independent cross-check in pytest
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_clusters_star": DEDUP_CLUSTERS_SQL,
    "emb_neardup_lsh": _SF_FIXTURE_SQL.format(name="emb_neardup_lsh"),
    "ann_ivf_topk": _SF_FIXTURE_SQL.format(name="ann_ivf_topk"),
    "semantic_dedup": _SF_FIXTURE_SQL.format(name="semantic_dedup"),
    "multimodal_features": _FIXTURE_SQL.format(name="multimodal_features"),
    "multimodal_transformed": _FIXTURE_SQL.format(name="multimodal_transformed"),
    "office_bytes_roundtrip": _FIXTURE_SQL.format(name="office_bytes_roundtrip"),
    "corpus_build_semantic": _FIXTURE_SQL.format(name="corpus_build_semantic"),
    "corpus_ingest_semantic": _FIXTURE_SQL.format(name="corpus_ingest_semantic"),
    "corpus_build_end_to_end": _FIXTURE_SQL.format(name="corpus_build_end_to_end"),
    "corpus_ingest_end_to_end": _FIXTURE_SQL.format(name="corpus_ingest_end_to_end"),
    # no oracle (rows-only): approx_distinct_stats — HLL++/GK sketch
    # internals are engine-specific; exact twins are value-checked in
    # q1_pricing_summary / order_value_percentiles.
}
