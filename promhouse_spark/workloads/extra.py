"""Second-wave workloads: pushdown showcase, rollup/grouping analytics,
sessionization, wordcount, vector stats — widening the Spark-SQL surface the
raw-SQL escape hatch (O7) makes reachable, all DuckDB-oracle checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from promhouse_spark.promql import PromQLEngine
from promhouse_spark.session import STAGE_DIR, load_table, stage_once
from promhouse_spark.workloads.promql2 import (
    _DAY_MS,
    _END_MS,
    _LOOKBACK_MS,
    _SAMPLES_CTE,
    _STEP_MS,
    _by_series,
    _engine,
    _extrapolated_cte,
    _windows_cte,
)


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + single aggregate — the plan should be
    scan (with every predicate pushed) → partial agg → final agg, no join,
    no wide shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.expr(
            "l_shipdate >= timestamp_ntz'1997-01-01 00:00:00' AND "
            "l_shipdate < timestamp_ntz'1998-01-01 00:00:00'"
        )
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returns.

    ``orders``/``customer`` scale with SF — no broadcast hints on them
    (AQE decides); only the fixed-size ``nation`` keeps a hint."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_name", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def sql_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping analytics through the SQL passthrough (O7 makes
    Spark SQL's grouping-set planner reachable via the reference API)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus
        """
    )


SQL_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_extendedprice), 2) AS sum_price,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def ph_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >30 min gap starts a new session (lag + cumulative
    sum over a per-user window) — the classic event-stream operator the
    reference leaves to downstream tools."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    with_break = ev.withColumn(
        "new_session",
        F.when(gap_ms.isNull() | (gap_ms > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sessions = with_break.withColumn(
        "session_seq", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


PH_SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps
), per_session AS (
  SELECT user_id, session_seq, count(*) AS n_events
  FROM sessions GROUP BY user_id, session_seq
)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


def doc_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed wordcount with deterministic top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


DOC_TOPK_TOKENS_SQL = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""


def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregate stats per label: count + rounded norm
    moments (JVM-side higher-order functions over array<float>)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x))
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


EMB_NORM_STATS_SQL = """
SELECT label, count(*) AS n,
       round(avg(norm), 4) AS avg_norm,
       round(min(norm), 4) AS min_norm,
       round(max(norm), 4) AS max_norm
FROM (
  SELECT label,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm
  FROM embeddings
)
GROUP BY label
ORDER BY label
"""


QUERIES = {
    "q6_revenue_delta": q6_revenue_delta,
    "q10_returned_items": q10_returned_items,
    "sql_rollup_revenue": sql_rollup_revenue,
    "ph_sessionize": ph_sessionize,
    "doc_topk_tokens": doc_topk_tokens,
    "emb_norm_stats": emb_norm_stats,
}

ORACLES = {
    "q6_revenue_delta": Q6_SQL,
    "q10_returned_items": Q10_SQL,
    "sql_rollup_revenue": SQL_ROLLUP_SQL,
    "ph_sessionize": PH_SESSIONIZE_SQL,
    "doc_topk_tokens": DOC_TOPK_TOKENS_SQL,
    "emb_norm_stats": EMB_NORM_STATS_SQL,
}


def q12_priority_by_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE aggregation after a fact-dimension
    join (high-priority vs low-priority order counts per year)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(orders.select("o_orderkey", "o_orderpriority"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(high).cast("long").alias("high_line_count"),
            F.sum(1 - high).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


Q12_SQL = """
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY year(l_shipdate)
ORDER BY ship_year
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional to total revenue (promo parts
    share). Both operands rounded before the division for cross-engine
    bit-stability."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.round(F.sum(promo), 2)
                / F.round(F.sum(rev), 2)
            ).alias("promo_share_pct"),
            F.count("*").alias("n_lines"),
        )
    )


Q14_SQL = """
SELECT 100.0 * round(sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
             / round(sum(l_extendedprice * (1 - l_discount)), 2) AS promo_share_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates — exercises Catalyst's OR-predicate handling and join
    filter pushdown."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(
        part.select("p_partkey", "p_brand", "p_size"),
        li.l_partkey == F.col("p_partkey"),
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 30))
        | ((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 25) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#20") & (F.col("p_size") <= 40) & (F.col("l_quantity") >= 10))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 30)
   OR (p_brand = 'Brand#13' AND p_size <= 25 AND l_quantity >= 20)
   OR (p_brand = 'Brand#20' AND p_size <= 40 AND l_quantity >= 10)
"""


QUERIES.update(
    {
        "q12_priority_by_shipmode": q12_priority_by_shipmode,
        "q14_promo_share": q14_promo_share,
        "q19_disjunctive": q19_disjunctive,
    }
)
ORACLES.update(
    {
        "q12_priority_by_shipmode": Q12_SQL,
        "q14_promo_share": Q14_SQL,
        "q19_disjunctive": Q19_SQL,
    }
)


def ph_rate_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``increase(events[1d])`` compiled from text: each series' counter
    growth over the trailing day, reset-aware and extrapolated to the
    window edges as Prometheus does."""
    out = _engine(spark, sf_dir).eval("increase(events[1d])")
    return _by_series(out, F.round("value", 6).alias("increase"))


PH_RATE_COUNTER_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)},
{_extrapolated_cte(_DAY_MS, as_rate=False)}
SELECT user_id, event_type, eval_ms, round(value, 6) AS increase
FROM xr
ORDER BY user_id, event_type, eval_ms
"""


QUERIES.update({"ph_rate_counter": ph_rate_counter})
ORACLES.update({"ph_rate_counter": PH_RATE_COUNTER_SQL})


import contextlib


@contextlib.contextmanager
def _stream_state_partitions(spark: SparkSession, sf_dir: str):
    """Scope the session's shuffle-partition setting (which fixes a NEW
    streaming query's state-store partition count at its first
    checkpoint) to a value derived from the INPUT SIZE instead of the
    batch default. A stateful micro-batch pays per-state-partition file
    I/O (delta + snapshot + commit files in the checkpoint dir) on every
    batch regardless of rows; with the bench corpus (2 MB of events at
    sf0.1) the 32 inherited partitions made each ph_stream_* query spend
    10-17 s in state-store overhead vs ~4 s at a size-appropriate count
    (measured r11, same session, interleaved). The rule is
    ceil(bytes / 16 MB) clamped to [2, session parallelism] — it GROWS
    with the corpus (sf10's 182 MB events → 12 partitions, a 100 TB
    stream saturates the cluster cap), so this is partition sizing by
    data (guide §2.2/§6), not a local[32] constant. Restored on exit."""
    import math
    import os

    from promhouse_spark.session import default_parallelism

    before = spark.conf.get("spark.sql.shuffle.partitions")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    try:
        before_provider = spark.conf.get(provider_key)
    except Exception:  # noqa: BLE001 — unset in fresh sessions
        before_provider = None
    try:
        size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        size = 0
    parts = max(2, min(math.ceil(size / (16 << 20)), default_parallelism()))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # State-store provider is a per-query choice fixed at the first
    # checkpoint; the default HDFS-backed provider measured FASTER than
    # RocksDB for these bounded two-micro-batch differential runs (tiny
    # state, and RocksDB pays per-partition native-store init + changelog
    # files every batch — interleaved A/B r12). RocksDB remains the right
    # choice for long-lived production streams with large state; flip it
    # via SPARK_GRAFT_STREAM_STATE_PROVIDER=rocksdb.
    if os.environ.get("SPARK_GRAFT_STREAM_STATE_PROVIDER", "").lower() == "rocksdb":
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        if before_provider is not None:
            spark.conf.set(provider_key, before_provider)
        else:
            spark.conf.unset(provider_key)


def ph_stream_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous stateful increase (streaming/stateful.py) driven as a real
    two-micro-batch Structured Streaming run: events are time-split at the
    midpoint, the first half is streamed, then the second half arrives as a
    later micro-batch — so every series' boundary delta crosses keyed state.
    The per-series cumulative totals must equal the batch/SQL computation
    regardless of the split (the differential the oracle pins)."""
    import shutil
    import tempfile
    import uuid

    from promhouse_spark.schemas import SAMPLES_SCHEMA
    from promhouse_spark.streaming.stateful import continuous_increase

    ev = load_table(spark, sf_dir, "events")
    samples = ev.select(
        F.col("user_id").alias("fingerprint"),
        F.unix_millis(F.col("ts")).alias("timestamp_ms"),
        F.col("value"),
    )
    lo, hi = samples.agg(F.min("timestamp_ms"), F.max("timestamp_ms")).first()
    mid = (lo + hi) // 2

    tmp = tempfile.mkdtemp(prefix="ph_stream_inc_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    name = f"ph_stream_inc_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark, sf_dir):
        samples.filter(F.col("timestamp_ms") < mid).write.parquet(src)
        q = (
            continuous_increase(
                spark.readStream.schema(SAMPLES_SCHEMA).parquet(src)
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            samples.filter(F.col("timestamp_ms") >= mid).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.table(name)  # memory sink rows outlive the stream + tmp dir
    shutil.rmtree(tmp, ignore_errors=True)
    # update mode emits one row per (series, batch); the final state of a
    # series is its max-last_ts row (max_by, NOT max(cum): cum_increase is
    # only monotone while samples are non-negative), total samples the sum
    agg = (
        out.groupBy("fingerprint")
        .agg(
            F.round(
                F.max_by("cum_increase", "last_ts"), 6
            ).alias("cum_increase"),
            F.max("last_ts").alias("last_ts"),
            F.sum("n_samples").alias("n_samples"),
        )
        .select(
            F.col("fingerprint").alias("user_id"),
            "cum_increase",
            "last_ts",
            "n_samples",
        )
        .orderBy("user_id")
    )
    # one row per series — materialize so the uuid-named memory-sink view
    # can be dropped instead of leaking into the session catalog per run
    rows = agg.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, agg.schema)


PH_STREAM_INCREASE_SQL = """
WITH deltas AS (
  SELECT user_id,
         epoch_ms(ts) AS ts_ms,
         CASE WHEN lag(value) OVER w IS NULL THEN 0.0
              WHEN value >= lag(value) OVER w THEN value - lag(value) OVER w
              ELSE value END AS inc
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts))
)
SELECT user_id,
       round(sum(inc), 6) AS cum_increase,
       max(ts_ms) AS last_ts,
       count(*) AS n_samples
FROM deltas
GROUP BY user_id
ORDER BY user_id
"""

QUERIES.update({"ph_stream_increase": ph_stream_increase})
ORACLES.update({"ph_stream_increase": PH_STREAM_INCREASE_SQL})


def ph_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous sample dedup — the streaming form of the reference's
    ReplacingMergeTree collapse (`clickhouse.go:86-91`, duplicate series/
    sample rows written concurrently by multiple instances): a
    ``dropDuplicates`` on the natural sample key with cross-batch keyed
    state. Driven as a real two-micro-batch run where the second batch
    re-sends a third of the first (every fingerprint % 3 == 0) alongside
    its own new rows; the deduped per-series totals must equal the batch
    DISTINCT the oracle computes, proving re-sent rows were absorbed by
    state, not re-emitted."""
    import shutil
    import tempfile
    import uuid

    from promhouse_spark.schemas import SAMPLES_SCHEMA

    ev = load_table(spark, sf_dir, "events")
    samples = ev.select(
        F.col("user_id").alias("fingerprint"),
        F.unix_millis(F.col("ts")).alias("timestamp_ms"),
        F.col("value"),
    )
    lo, hi = samples.agg(F.min("timestamp_ms"), F.max("timestamp_ms")).first()
    mid = (lo + hi) // 2
    first = samples.filter(F.col("timestamp_ms") < mid)

    tmp = tempfile.mkdtemp(prefix="ph_stream_dedup_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    name = f"ph_stream_dedup_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark, sf_dir):
        first.write.parquet(src)
        q = (
            spark.readStream.schema(SAMPLES_SCHEMA)
            .parquet(src)
            .dropDuplicates(["fingerprint", "timestamp_ms"])
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            second = samples.filter(F.col("timestamp_ms") >= mid).unionAll(
                first.filter(F.col("fingerprint") % 3 == 0)
            )
            second.write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.table(name)
    shutil.rmtree(tmp, ignore_errors=True)
    agg = (
        out.groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_samples"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("fingerprint").alias("user_id"), "n_samples", "sum_value")
        .orderBy("user_id")
    )
    rows = agg.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, agg.schema)


PH_STREAM_DEDUP_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       round(sum(value), 6) AS sum_value
FROM (SELECT DISTINCT user_id, epoch_ms(ts) AS ts_ms, value FROM events)
GROUP BY user_id
ORDER BY user_id
"""

QUERIES.update({"ph_stream_dedup": ph_stream_dedup})
ORACLES.update({"ph_stream_dedup": PH_STREAM_DEDUP_SQL})


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: no commit/receipt dates in this schema —
    "late" = a lineitem shipped >60 days after the order date): correlated
    EXISTS expressed as a left-semi join whose condition spans both sides.
    No hints; the date-filtered orders side stays shuffle-joined or becomes
    a runtime broadcast under AQE, never a forced one."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= timestamp_ntz'1996-01-01 00:00:00' AND "
            "o_orderdate < timestamp_ntz'1997-01-01 00:00:00'"
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with an extra join-side predicate
    (non-urgent orders only), then a two-level aggregation — the
    distribution of customers by order count, zero-order customers
    included. The outer join preserves every customer row; the predicate
    lives in the join condition, not a WHERE (which would turn it inner)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-subquery membership (orders whose total
    quantity exceeds 300) as an aggregate-then-semi-join, then the 3-table
    join re-aggregates per order. The big-order key set is derived and
    SF-scaled — no broadcast hint, AQE decides."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


Q18_SQL = """
SELECT c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""

QUERIES.update(
    {
        "q4_order_priority": q4_order_priority,
        "q13_customer_distribution": q13_customer_distribution,
        "q18_large_volume_customer": q18_large_volume_customer,
    }
)
ORACLES.update(
    {
        "q4_order_priority": Q4_SQL,
        "q13_customer_distribution": Q13_SQL,
        "q18_large_volume_customer": Q18_SQL,
    }
)


def ph_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window range aggregation — the PromQL range-vector shape
    (avg_over_time with range 2h, step 1h; `prompb.proto:45-50` ReadHints
    step_ms semantics the reference receives): Spark's built-in sliding
    ``F.window`` assigns every sample to range/step = 2 overlapping
    windows JVM-side; one shuffle on (window, event_type)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.count("*").cast("long").alias("n"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "avg_value",
            "n",
        )
        .orderBy("window_start_ms", "event_type")
    )


PH_SLIDING_AVG_SQL = """
SELECT win_start AS window_start_ms, event_type,
       round(avg(value), 6) AS avg_value,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT event_type, value,
         (epoch_ms(ts) - (epoch_ms(ts) % 3600000)) - s.o * 3600000 AS win_start
  FROM events, (SELECT unnest(range(0, 2)) AS o) s
)
GROUP BY win_start, event_type
ORDER BY window_start_ms, event_type
"""


# --- HyperLogLog, fully hash-paired ----------------------------------------
# p=14 → m=16384 registers (typical relative error 1.04/sqrt(m) ≈ 0.8%).
# The estimator is specified in INTEGER fixed point so both engines compute
# bit-identical sums regardless of aggregation order: each register with max
# leading-zero-rank M contributes floor(2^48 / 2^M) (0 when M > 48; an empty
# register contributes 2^48), summed as BIGINT — max 16384·2^48 = 2^62, no
# overflow. The only float steps are one division by the exact integer sum
# and one ln() in the linear-counting branch, both single operations on
# identical operands.
_HLL_P = 14
_HLL_M = 1 << _HLL_P  # 16384
_HLL_SCALE = 1 << 48
_HLL_WMASK = (1 << (64 - _HLL_P)) - 1  # low 50 bits
_HLL_RHO_MAX = 64 - _HLL_P + 1  # 51: all suffix bits zero
# alpha_m · m² · 2^48 — the fixed-point numerator, embedded as the same
# literal on both sides so the division sees identical operands.
_HLL_NUM = 0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * _HLL_SCALE
_HLL_STAGE = f"{STAGE_DIR}/hll_hashes.parquet"


def ph_cardinality_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user counts per event type — the 100 TB form of
    the cardinality analytics (A4 `ph_cardinality_topk` is exact
    countDistinct: a full shuffle of the key set; the sketch is a fixed
    few-KB accumulator per group, mergeable map-side, so cardinality over
    billions of series costs one narrow pass; Spark's built-in
    approx_count_distinct is the same register shape engine-side). HASH-
    PAIRED via the staged-hash pattern: xxhash64 (the only non-SQL step)
    persists distinct (event_type, h) rows, then register index (top p
    bits), rank (leading zeros of the 50-bit suffix + 1, via length(bin())),
    the fixed-point register sum, and the linear-counting small-range
    correction all replay in DuckDB over identical bytes.
    tests/test_llm_ops.py additionally pins a ≤2% relative-error gate
    against exact countDistinct."""
    ev = load_table(spark, sf_dir, "events")
    staged = stage_once(
        spark,
        sf_dir,
        _HLL_STAGE,
        lambda: ev.select(
            "event_type",
            F.xxhash64(F.col("user_id").cast("string")).alias("h"),
        ).distinct(),
    )
    w = F.col("h").bitwiseAND(F.lit(_HLL_WMASK))
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    regs = (
        staged.select(
            "event_type",
            F.shiftright("h", 64 - _HLL_P).bitwiseAND(F.lit(_HLL_M - 1)).alias("r"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "r")
        .agg(F.max("rho").alias("m"), F.count("*").cast("long").alias("nh"))
    )
    term = F.when(F.col("m") > 48, F.lit(0)).otherwise(
        F.pow(F.lit(2.0), F.lit(48) - F.col("m")).cast("long")
    )
    per = regs.groupBy("event_type").agg(
        (
            F.sum(term) + (F.lit(_HLL_M) - F.count("*")) * F.lit(_HLL_SCALE)
        ).alias("sum_fp"),
        (F.lit(_HLL_M) - F.count("*")).alias("v"),
        F.sum("nh").cast("long").alias("n_hashes"),
    )
    e_raw = F.lit(_HLL_NUM) / F.col("sum_fp").cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v").cast("double")),
    ).otherwise(e_raw)
    return per.select(
        "event_type",
        F.floor(est).cast("long").alias("approx_users"),
        "n_hashes",
    ).orderBy("event_type")


PH_CARDINALITY_APPROX_SQL = f"""
WITH hashes AS (
  SELECT event_type, h FROM read_parquet('{_HLL_STAGE}/*.parquet')
),
regs AS (
  SELECT event_type, (h >> {64 - _HLL_P}) & {_HLL_M - 1} AS r,
         MAX(CASE WHEN (h & {_HLL_WMASK}) = 0 THEN {_HLL_RHO_MAX}
                  ELSE {_HLL_RHO_MAX} - length(bin(h & {_HLL_WMASK})) END) AS m,
         COUNT(*) AS nh
  FROM hashes GROUP BY 1, 2
),
per AS (
  SELECT event_type,
         SUM(CASE WHEN m > 48 THEN 0
                  ELSE CAST(power(2, 48 - m) AS BIGINT) END)
           + ({_HLL_M} - COUNT(*)) * {_HLL_SCALE} AS sum_fp,
         {_HLL_M} - COUNT(*) AS v,
         CAST(SUM(nh) AS BIGINT) AS n_hashes
  FROM regs GROUP BY 1
)
SELECT event_type,
       CAST(FLOOR(CASE WHEN {_HLL_NUM!r} / CAST(sum_fp AS DOUBLE) <= {2.5 * _HLL_M}
                        AND v > 0
                       THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE))
                       ELSE {_HLL_NUM!r} / CAST(sum_fp AS DOUBLE)
                  END) AS BIGINT) AS approx_users,
       n_hashes
FROM per
ORDER BY event_type
"""


QUERIES.update(
    {"ph_sliding_avg": ph_sliding_avg, "ph_cardinality_approx": ph_cardinality_approx}
)
ORACLES.update(
    {
        "ph_sliding_avg": PH_SLIDING_AVG_SQL,
        "ph_cardinality_approx": PH_CARDINALITY_APPROX_SQL,
    }
)


def ph_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation with real late-data drops: hourly
    sample counts under ``withWatermark(delay=0)``, driven as two
    micro-batches where the second batch re-sends rows >2 h older than the
    first batch's max event time. Those windows closed when the watermark
    advanced past them at the batch-1 boundary, so streaming state MUST
    drop the re-sends — the oracle counts every event exactly once, which
    only holds if the drops happened (absorbing them would inflate the
    per-window counts; re-emitting closed windows would add rows)."""
    import shutil
    import tempfile
    import uuid

    from promhouse_spark.schemas import SAMPLES_SCHEMA

    ev = load_table(spark, sf_dir, "events")
    samples = ev.select(
        F.col("user_id").alias("fingerprint"),
        F.unix_millis(F.col("ts")).alias("timestamp_ms"),
        F.col("value"),
    )
    lo, hi = samples.agg(F.min("timestamp_ms"), F.max("timestamp_ms")).first()
    mid = lo + (hi - lo) * 7 // 10
    first = samples.filter(F.col("timestamp_ms") < mid)
    late_cut = mid - 2 * 3600 * 1000  # window end ≤ watermark - 1h: must drop

    tmp = tempfile.mkdtemp(prefix="ph_stream_late_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    name = f"ph_stream_late_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark, sf_dir):
        first.write.parquet(src)
        q = (
            spark.readStream.schema(SAMPLES_SCHEMA)
            .parquet(src)
            .withColumn("ts", F.timestamp_millis(F.col("timestamp_ms")))
            .withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            second = samples.filter(F.col("timestamp_ms") >= mid).unionAll(
                first.filter(F.col("timestamp_ms") < late_cut)
            )
            second.write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.table(name)
    shutil.rmtree(tmp, ignore_errors=True)
    # update mode re-emits a window each time its count grows; the final
    # count is the max (counts are monotone)
    agg = (
        out.groupBy(F.unix_millis(F.col("w.start")).alias("window_start_ms"))
        .agg(F.max("n").cast("long").alias("n_samples"))
        .orderBy("window_start_ms")
    )
    rows = agg.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, agg.schema)


PH_STREAM_LATE_DROP_SQL = """
SELECT epoch_ms(ts) - (epoch_ms(ts) % 3600000) AS window_start_ms,
       CAST(count(*) AS BIGINT) AS n_samples
FROM events
GROUP BY 1
ORDER BY window_start_ms
"""

QUERIES.update({"ph_stream_late_drop": ph_stream_late_drop})
ORACLES.update({"ph_stream_late_drop": PH_STREAM_LATE_DROP_SQL})


def ph_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrape-gap detection: per-series maximum inter-sample gap and the
    timestamp where it opened (lag window + max_by) — the query an operator
    runs to find series with scrape failures. One shuffle on the series
    key; at 100 TB the window partitions by fingerprint exactly like the
    storage sort order, so the sort within partitions is cheap."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    gaps = ev.withColumn("gap_ms", gap_ms).filter(F.col("gap_ms").isNotNull())
    # tie-break the arg-max by latest timestamp: max_by on equal gaps is
    # execution-order-dependent, a struct key makes the pick total
    key = F.struct(F.col("gap_ms"), F.unix_millis(F.col("ts")).alias("ts_ms"))
    return (
        gaps.groupBy("user_id")
        .agg(
            F.max("gap_ms").alias("max_gap_ms"),
            F.max(key).getField("ts_ms").alias("gap_end_ms"),
            F.count("*").cast("long").alias("n_gaps"),
        )
        .orderBy(F.desc("max_gap_ms"), "user_id")
        .limit(20)
    )


PH_GAP_DETECT_SQL = """
WITH gaps AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_ms
  FROM events
)
SELECT user_id, max(gap_ms) AS max_gap_ms,
       max({'gap_ms': gap_ms, 'ts_ms': ts_ms}).ts_ms AS gap_end_ms,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM gaps
WHERE gap_ms IS NOT NULL
GROUP BY user_id
ORDER BY max_gap_ms DESC, user_id
LIMIT 20
"""

QUERIES.update({"ph_gap_detect": ph_gap_detect})
ORACLES.update({"ph_gap_detect": PH_GAP_DETECT_SQL})


def ph_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``histogram_quantile(0.9, events_bucket)`` compiled from text over
    classic cumulative buckets: one fact pass counts, per event type, the
    events at or below each ``le`` bound, ``+Inf`` counting them all (the
    bucket Prometheus requires), and the counts enter the engine as one
    scrape at the grid's end. The engine interpolates inside the first
    bucket whose count reaches 0.9 × the ``+Inf`` count; a rank in the
    ``+Inf`` bucket answers the highest finite bound."""
    ev = load_table(spark, sf_dir, "events")
    les = ["10", "25", "50", "100", "250", "500", "+Inf"]
    wide = ev.groupBy("event_type").agg(
        *[
            F.sum((F.col("value") <= float(le)).cast("long")).cast("double").alias(f"c{i}")
            for i, le in enumerate(les)
        ]
    )
    buckets = wide.select(
        "event_type",
        F.explode(
            F.array(*[F.struct(F.lit(le).alias("le"), F.col(f"c{i}").alias("n"))
                      for i, le in enumerate(les)])
        ).alias("b"),
    ).select("event_type", "b.le", "b.n")
    fp = F.concat_ws(":", "event_type", "le").alias("fingerprint")
    samples = buckets.select(fp, F.lit(_END_MS).alias("timestamp_ms"), F.col("n").alias("value"))
    series = buckets.select(
        fp,
        F.create_map(
            F.lit("__name__"), F.lit("events_bucket"),
            F.lit("type"), F.col("event_type"),
            F.lit("le"), F.col("le"),
        ).alias("labels"),
    )
    eng = PromQLEngine(samples, series, _END_MS, _END_MS, _STEP_MS, _LOOKBACK_MS)
    out = eng.eval("histogram_quantile(0.9, events_bucket)")
    return out.select(
        F.element_at("labels", "type").alias("event_type"),
        F.round("value", 6).alias("p90"),
    ).orderBy("event_type")


PH_HISTOGRAM_QUANTILE_SQL = """
WITH les(le) AS (
  SELECT unnest([10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 'inf'::DOUBLE])
),
b AS (
  SELECT event_type, le,
         CAST(sum(CASE WHEN value <= le THEN 1 ELSE 0 END) AS DOUBLE) AS cum
  FROM events CROSS JOIN les
  GROUP BY event_type, le
),
r AS (
  SELECT event_type, le, cum,
         coalesce(lag(le) OVER w, 0.0) AS lo,
         coalesce(lag(cum) OVER w, 0.0) AS pcnt,
         0.9 * max(cum) OVER (PARTITION BY event_type) AS rank
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY le)
)
SELECT event_type,
       round(CASE WHEN isinf(le) THEN lo
                  ELSE lo + (le - lo) * (rank - pcnt) / (cum - pcnt) END, 6) AS p90
FROM r
WHERE cum >= rank AND pcnt < rank
ORDER BY event_type
"""

QUERIES.update({"ph_histogram_quantile": ph_histogram_quantile})
ORACLES.update({"ph_histogram_quantile": PH_HISTOGRAM_QUANTILE_SQL})


def ph_cardinality_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 cardinality analytics under skew: exact per-event_type distinct
    user counts through the value-salted two-phase plan
    (operators/skew.py:salted_count_distinct). event_type is a classic hot
    key — a handful of types carry almost all events — and at registry
    scale a single-phase count_distinct serializes each type on one
    reducer. The salted plan's answer is provably identical (the salt
    partitions the VALUE space), which the plain COUNT(DISTINCT) oracle
    checks."""
    from promhouse_spark.operators import skew as K

    ev = load_table(spark, sf_dir, "events")
    return (
        K.salted_count_distinct(ev, ["event_type"], "user_id", n_salts=16,
                                out_col="n_users")
        .orderBy("event_type")
    )


PH_CARDINALITY_SALTED_SQL = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES.update({"ph_cardinality_salted": ph_cardinality_salted})
ORACLES.update({"ph_cardinality_salted": PH_CARDINALITY_SALTED_SQL})


def ph_series_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``resets`` and ``changes`` over each series' trailing day — the
    flap/restart counters an alerting pipeline reads — as one compiled
    expression: ``label_replace`` tags each side with a ``stat`` label and
    ``or`` unions the two."""
    out = _engine(spark, sf_dir).eval(
        'label_replace(resets(events[1d]), "stat", "resets", "", "")'
        ' or label_replace(changes(events[1d]), "stat", "changes", "", "")'
    )
    return _by_series(
        out,
        F.element_at("labels", "stat").alias("stat"),
        F.col("value").cast("long").alias("n"),
    )


PH_SERIES_STABILITY_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)}
SELECT user_id, event_type, eval_ms, 'resets' AS stat,
       CAST(count(*) FILTER (WHERE value < prev) AS BIGINT) AS n
FROM rf GROUP BY 1, 2, 3
UNION ALL
SELECT user_id, event_type, eval_ms, 'changes' AS stat,
       CAST(count(*) FILTER (WHERE value <> prev) AS BIGINT) AS n
FROM rf GROUP BY 1, 2, 3
ORDER BY user_id, event_type, eval_ms, stat
"""

QUERIES.update({"ph_series_stability": ph_series_stability})
ORACLES.update({"ph_series_stability": PH_SERIES_STABILITY_SQL})


def ph_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization computed CONTINUOUSLY with native session windows
    (streaming/sessions.py): the events are streamed in two time-split
    micro-batches through a watermarked ``session_window`` aggregation, a
    far-future sentinel batch advances the watermark so every real session
    finalizes, and the per-user rollup of the emitted sessions must equal
    the batch lag+cumsum sessionizer — the oracle IS the batch SQL."""
    import shutil
    import tempfile
    import uuid

    from promhouse_spark.streaming.sessions import EVENTS_SCHEMA, session_counts

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2

    tmp = tempfile.mkdtemp(prefix="ph_stream_sess_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    name = f"ph_stream_sess_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark, sf_dir):
        ev.filter(F.col("ts") < F.lit(mid)).write.parquet(src)
        q = (
            session_counts(spark.readStream.schema(EVENTS_SCHEMA).parquet(src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            ev.filter(F.col("ts") >= F.lit(mid)).write.mode("append").parquet(src)
            q.processAllAvailable()
            # sentinel far past the data: pushes the global watermark beyond
            # every real session's close so append mode flushes them all
            spark.createDataFrame(
                [(-1,)], "user_id bigint"
            ).select(
                "user_id", (F.lit(hi) + F.expr("INTERVAL 10 DAYS")).alias("ts")
            ).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.table(name).filter(F.col("user_id") >= 0)
    agg_rows = (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
        .collect()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        agg_rows, "user_id bigint, n_sessions bigint, max_session_events bigint"
    ).orderBy("user_id")


QUERIES.update({"ph_stream_sessionize": ph_stream_sessionize})
# differential contract: the continuously-computed sessions must equal the
# batch sessionizer, so the oracle is ph_sessionize's own SQL
ORACLES.update({"ph_stream_sessionize": PH_SESSIONIZE_SQL})


def ph_stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join computed over a REAL two-stream run
    (streaming/enrich.py): even events are the measurement stream, odd
    events the annotation stream; each measurement joins the annotations of
    its series from the preceding hour. The measurement half streams in two
    time-split micro-batches and the annotation half arrives one batch
    LATE, so cross-batch matches must come out of the join buffers. The
    per-user rollup must equal the plain batch/SQL interval join."""
    import shutil
    import tempfile
    import uuid

    from promhouse_spark.streaming.enrich import (
        MARK_SCHEMA,
        MEASURE_SCHEMA,
        interval_enrich,
    )

    ev = load_table(spark, sf_dir, "events")
    measures = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("user_id").alias("fingerprint"),
        F.col("ts").alias("m_ts"),
        F.col("value"),
    )
    marks = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("fingerprint"),
        F.col("ts").alias("a_ts"),
        F.col("value").alias("mark"),
    )
    lo, hi = measures.agg(F.min("m_ts"), F.max("m_ts")).first()
    mid = lo + (hi - lo) / 2

    tmp = tempfile.mkdtemp(prefix="ph_stream_enrich_")
    msrc, asrc, ckpt = f"{tmp}/m", f"{tmp}/a", f"{tmp}/ckpt"
    name = f"ph_stream_enrich_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark, sf_dir):
        # batch 1: early measurements only — their annotations arrive LATE
        measures.filter(F.col("m_ts") < F.lit(mid)).write.parquet(msrc)
        marks.limit(0).write.parquet(asrc)
        q = (
            interval_enrich(
                spark.readStream.schema(MEASURE_SCHEMA).parquet(msrc),
                spark.readStream.schema(MARK_SCHEMA).parquet(asrc),
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2: the rest of the measurements + ALL annotations (late)
            measures.filter(F.col("m_ts") >= F.lit(mid)).write.mode("append").parquet(msrc)
            marks.write.mode("append").parquet(asrc)
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.table(name)
    agg_rows = (
        out.groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.sum(F.col("value") * F.col("mark")), 4).alias("pair_checksum"),
        )
        .orderBy("fingerprint")
        .collect()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        agg_rows, "fingerprint bigint, n_pairs bigint, pair_checksum double"
    ).select(
        F.col("fingerprint").alias("user_id"), "n_pairs", "pair_checksum"
    ).orderBy("user_id")


PH_STREAM_ENRICH_SQL = """
WITH m AS (
  SELECT user_id, ts AS m_ts, value FROM events WHERE event_id % 2 = 0
),
a AS (
  SELECT user_id, ts AS a_ts, value AS mark FROM events WHERE event_id % 2 = 1
)
SELECT m.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(m.value * a.mark), 4) AS pair_checksum
FROM m JOIN a ON m.user_id = a.user_id
  AND a.a_ts <= m.m_ts AND a.a_ts >= m.m_ts - INTERVAL 1 HOUR
GROUP BY m.user_id
ORDER BY m.user_id
"""

QUERIES.update({"ph_stream_enrich_join": ph_stream_enrich_join})
ORACLES.update({"ph_stream_enrich_join": PH_STREAM_ENRICH_SQL})


_KMV_K = 64
_KMV_STAGE = f"{STAGE_DIR}/kmv_hashes.parquet"


def ph_cardinality_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch per event type — the
    ORACLE-PAIRED sibling of ph_cardinality_approx: where HLL's register
    state is engine-private (DuckDB's approx_count_distinct cannot replay
    Spark's sketch), KMV's state is just the k smallest hash values, so
    the staged-artifact pattern applies: the xxhash64 step (the only
    non-SQL-expressible part) persists distinct (event_type, hash) rows
    to a staging parquet and the ENTIRE estimator — normalize to (0,1),
    take the k-th order statistic, est = (k-1)/u_k, exact count below k —
    replays in DuckDB over identical bytes. At 100 TB the sketch is the
    same shape: hash map-side, keep k minima per group (a bounded
    accumulator), estimate from u_k."""
    ev = load_table(spark, sf_dir, "events")
    staged = stage_once(
        spark,
        sf_dir,
        _KMV_STAGE,
        lambda: ev.select(
            "event_type",
            F.xxhash64(F.col("user_id").cast("string")).alias("h"),
        ).distinct(),
    )
    u = (F.col("h").cast("double") + F.lit(2.0**63)) / F.lit(2.0**64)
    agg = (
        staged.select("event_type", u.alias("u"))
        .groupBy("event_type")
        .agg(
            F.slice(F.array_sort(F.collect_list("u")), 1, _KMV_K).alias("mins"),
            F.count("*").cast("long").alias("n"),
        )
    )
    est = F.when(
        F.col("n") < _KMV_K, F.col("n").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) / F.element_at("mins", _KMV_K))
    return agg.select(
        "event_type",
        F.floor(est).cast("long").alias("est_users"),
        F.col("n").alias("n_hashes"),
    ).orderBy("event_type")


PH_CARDINALITY_KMV_SQL = f"""
WITH hashes AS (
  SELECT event_type, h FROM read_parquet('{_KMV_STAGE}/*.parquet')
),
normalized AS (
  SELECT event_type,
         (CAST(h AS DOUBLE) + 9223372036854775808.0)
           / 18446744073709551616.0 AS u
  FROM hashes
),
ranked AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM normalized
)
SELECT event_type,
       CAST(FLOOR(CASE WHEN max(n) < {_KMV_K} THEN max(n)
                       ELSE {float(_KMV_K - 1)} / max(CASE WHEN rn = {_KMV_K} THEN u END)
                  END) AS BIGINT) AS est_users,
       CAST(max(n) AS BIGINT) AS n_hashes
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


QUERIES["ph_cardinality_kmv"] = ph_cardinality_kmv
ORACLES["ph_cardinality_kmv"] = PH_CARDINALITY_KMV_SQL
