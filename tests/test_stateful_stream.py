"""Stateful streaming increase (applyInPandasWithState): state must carry
the last sample of each series ACROSS micro-batches — the boundary delta
(and a counter reset at the boundary) are only computable with keyed state,
which is exactly what distinguishes this from the foreachBatch/monoid
pipelines in streaming/rollup.py."""

import pytest

from promhouse_spark.schemas import SAMPLES_SCHEMA
from promhouse_spark.streaming.stateful import continuous_increase

# slow tier (r12): stateful streaming integration (35 s timeout-reap soak). The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow



def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SAMPLES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # batch 1 establishes per-series state
    _write_batch(
        spark,
        src,
        [
            (1, 1_000, 10.0),
            (1, 2_000, 13.0),  # +3
            (2, 1_000, 5.0),
        ],
    )
    return src, ckpt


def test_increase_state_survives_batches(spark, stream_env):
    src, ckpt = stream_env
    stream = (
        spark.readStream.schema(SAMPLES_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        continuous_increase(stream)
        .writeStream.format("memory")
        .queryName("inc_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["fingerprint"]: r
            for r in spark.sql("SELECT * FROM inc_test").collect()
        }
        # batch 1: series 1 rose 10→13 (+3); series 2 has one sample (0)
        assert first[1]["batch_increase"] == 3.0
        assert first[1]["cum_increase"] == 3.0
        assert first[2]["batch_increase"] == 0.0

        # batch 2: series 1 continues 13→20 (+7 across the BATCH BOUNDARY),
        # series 2 counter-resets 5→2 at the boundary (+2), then 2→4 (+2)
        _write_batch(
            spark,
            src,
            [
                (1, 3_000, 20.0),
                (2, 3_000, 2.0),
                (2, 4_000, 4.0),
            ],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM inc_test ORDER BY last_ts, fingerprint"
        ).collect()
        latest = {}
        for r in rows:  # memory sink in update mode appends; last row wins
            latest[r["fingerprint"]] = r
        assert latest[1]["batch_increase"] == 7.0
        assert latest[1]["cum_increase"] == 10.0  # 3 + 7 — state carried over
        assert latest[2]["batch_increase"] == 4.0  # reset→2 plus 2→4
        assert latest[2]["cum_increase"] == 4.0
        assert latest[2]["last_ts"] == 4_000
    finally:
        q.stop()


def test_increase_matches_batch_operator(spark, stream_env, tmp_path):
    """Differential: the streaming cumulative total over all batches equals
    the batch exact-sum increase over the union of the data — one window
    lag per series, each delta reset-aware, no extrapolation."""
    src, _ = stream_env
    _write_batch(spark, src, [(1, 3_000, 20.0), (1, 4_000, 2.0)])

    ckpt2 = str(tmp_path / "ckpt2")
    # one file per trigger: the second file MUST cross keyed state (the
    # boundary-delta + reset-at-boundary path this differential exists for)
    stream = (
        spark.readStream.schema(SAMPLES_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        continuous_increase(stream)
        .writeStream.format("memory")
        .queryName("inc_diff")
        .outputMode("update")
        .option("checkpointLocation", ckpt2)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["fingerprint"]: r["cum_increase"]
            for r in spark.sql(
                "SELECT * FROM inc_diff ORDER BY last_ts"
            ).collect()
        }
    finally:
        q.stop()

    from pyspark.sql import Window, functions as F

    prev = F.lag("value").over(Window.partitionBy("fingerprint").orderBy("timestamp_ms"))
    inc = (
        F.when(prev.isNull(), F.lit(0.0))
        .when(F.col("value") >= prev, F.col("value") - prev)
        .otherwise(F.col("value"))  # counter reset
    )
    batch = (
        spark.read.parquet(src)
        .withColumn("inc", inc)
        .groupBy("fingerprint")
        .agg(F.sum("inc").alias("total"))
        .collect()
    )
    for r in batch:
        assert got[r["fingerprint"]] == r["total"], r


def test_increase_timeout_reaps_idle_series(spark, stream_env):
    """timeout_ms arms a per-key processing-time timer; an idle series is
    removed from state (observable as numRowsRemoved in query progress) and
    a later sample re-seeds from scratch — its cumulative restarts at 0
    instead of continuing the pre-reap total.

    NOTE: with a processing-time timeout the engine keeps running no-data
    state-cleanup batches, so ``processAllAvailable`` never returns — the
    test polls the sink and the progress feed instead (same as production,
    where a trigger interval paces those cleanup batches)."""
    import time

    src, ckpt = stream_env
    stream = spark.readStream.schema(SAMPLES_SCHEMA).parquet(src)
    q = (
        continuous_increase(stream, timeout_ms=1_500)
        .writeStream.format("memory")
        .queryName("inc_timeout")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def poll(pred, what, tries=90):
        for _ in range(tries):
            if pred():
                return
            time.sleep(1)
        raise AssertionError(f"timed out waiting for {what}")

    def reaped():
        return any(
            so.get("numRowsRemoved", 0) > 0
            for p in q.recentProgress
            for so in p.get("stateOperators", [])
        )

    try:
        poll(
            lambda: spark.sql(
                "SELECT * FROM inc_timeout WHERE last_ts = 2000"
            ).count()
            > 0,
            "first batch output",
        )
        # series 1 ends batch 1 at cum=3; let its 1.5 s timer fire
        poll(reaped, "state reap (numRowsRemoved > 0)")
        _write_batch(spark, src, [(1, 3_000, 20.0)])
        poll(
            lambda: spark.sql(
                "SELECT * FROM inc_timeout WHERE last_ts = 3000"
            ).count()
            > 0,
            "post-reap output",
        )
        row = spark.sql(
            "SELECT * FROM inc_timeout WHERE last_ts = 3000"
        ).collect()[0]
        # state was removed: the 20.0 sample is a fresh series, not 13→20
        assert row["batch_increase"] == 0.0
        assert row["cum_increase"] == 0.0
        assert row["n_samples"] == 1
    finally:
        q.stop()
