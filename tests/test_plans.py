"""Physical-plan guards: the scale properties (pushdown, partition pruning,
broadcast strategy) must be visible in the executed plan — not assumed.

These assert on plan text, so they catch regressions like a filter that
stops reaching the parquet scan or a semi-join that silently becomes a
shuffle."""

import pytest
from pyspark.sql import functions as F

from promhouse_spark.models import Query, make_matchers
from promhouse_spark.plans.read import restrict_to_series, samples_in_range
from promhouse_spark.storage.parquet import SparkParquetStorage
from tests.fixtures import T0, get_data


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    st = SparkParquetStorage(spark, str(tmp_path_factory.mktemp("plans_store")))
    st.write(get_data())
    # second batch one day later → two day partitions on disk
    shifted = get_data()
    for ts in shifted:
        for i, s in enumerate(ts.samples):
            ts.samples[i] = type(s)(value=s.value, timestamp_ms=s.timestamp_ms + 86_400_000)
    st.write(shifted)
    return st


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_time_filter_prunes_day_partitions(store):
    """The derived date predicate must reach PartitionFilters so day
    partitions are pruned before IO (SURVEY §4 pushdown row)."""
    df = samples_in_range(store.samples_df(), T0, T0 + 10_000)
    plan = df._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan
    # the date bounds appear as partition filters, not post-scan filters
    assert "date" in plan.split("PartitionFilters")[1][:200]
    # and the row-group-level time predicate is pushed to parquet
    assert "PushedFilters" in plan
    assert "timestamp_ms" in plan.split("PushedFilters")[1][:200]


def test_inlist_restriction_is_pushed(store):
    fps = [1, 2, 3]
    df = restrict_to_series(store.samples_df(), fps, max_inlist=50)
    plan = df._jdf.queryExecution().toString()
    assert "In(fingerprint" in plan or "in(fingerprint" in plan.lower()


def test_semijoin_restriction_unhinted_but_broadcast(store):
    """The semi-join restriction must NOT force a broadcast (VERDICT r2 #2:
    the matched set is the whole registry on an empty-matcher select-all).
    At this tiny scale the planner still picks broadcast — from statistics,
    not from a hint."""
    fps = list(range(100))
    df = restrict_to_series(store.samples_df(), fps, max_inlist=50)
    assert "ResolvedHint" not in _analyzed(df)
    df.collect()  # let AQE finalize
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "Broadcast" in plan


def test_wide_restriction_is_a_local_relation(store):
    """Above ``max_inlist`` the fingerprint list becomes a local relation
    fed by one Arrow batch, and restricts to the same rows as the IN list
    over the same 3,000 fingerprints (the stored series plus absent ones)."""
    samples = store.samples_df()
    stored = [r.fingerprint for r in samples.select("fingerprint").distinct().collect()]
    fps = stored + list(range(1, 3_001 - len(stored)))
    wide = restrict_to_series(samples, fps, max_inlist=200)
    assert "LocalRelation" in wide._jdf.queryExecution().optimizedPlan().toString()
    inlist = restrict_to_series(samples, fps, max_inlist=len(fps))
    assert "LocalRelation" not in inlist._jdf.queryExecution().optimizedPlan().toString()
    rows = sorted(tuple(r) for r in wide.collect())
    assert rows and rows == sorted(tuple(r) for r in inlist.collect())
    assert len(rows) == samples.count()


def test_distributed_read_plan_carries_no_hint(store):
    """The cache_registry=False read path (VERDICT r2 #2): semi-join
    restriction + label attach must leave the join strategy to AQE."""
    q = Query(start_ms=T0, end_ms=T0 + 86_400_000 * 2, matchers=make_matchers())
    df = store.distributed_read_plan(q)
    assert "ResolvedHint" not in _analyzed(df)
    df.collect()
    plan = _plan(df)
    # tiny data → AQE still discovers broadcast is safe, without a hint
    assert "Broadcast" in plan


def test_ph_semijoin_subquery_carries_no_hint(spark, sf_dir):
    """J2 with an SF-scaled derived key set (VERDICT r2 #3)."""
    from promhouse_spark.workloads.events import ph_semijoin_subquery

    assert "ResolvedHint" not in _analyzed(ph_semijoin_subquery(spark, sf_dir))


def test_q1_aggregate_pushdown(spark, sf_dir):
    from promhouse_spark.workloads.tpch import q1_pricing_summary

    plan = q1_pricing_summary(spark, sf_dir)._jdf.queryExecution().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed  # the date filter reaches the scan


def test_q5_joins_are_broadcast(spark, sf_dir):
    """At small SF every join side is under autoBroadcastJoinThreshold, so
    the planner (statically or via AQE runtime stats) must still pick
    broadcast joins WITHOUT any forced hint on the SF-scaled tables."""
    from promhouse_spark.workloads.tpch import q5_local_supplier_volume

    df = q5_local_supplier_volume(spark, sf_dir)
    df.collect()  # let AQE finalize the adaptive plan
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan  # no unnecessary big-side shuffles


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_no_forced_broadcast_on_sf_scaled_tables(spark, sf_dir):
    """Scale guard (VERDICT r1 #1): a hard-coded broadcast() on a table that
    grows with SF is an OOM at the 100x target and overrides AQE. The
    analytics queries must carry hints ONLY on fixed-size dimensions
    (nation: 25 rows, region: 5 rows) — never on orders/customer/part/
    lineitem/supplier."""
    from promhouse_spark.workloads import extra, tpch

    hint_free = {
        "q3_shipping_priority": tpch.q3_shipping_priority,
        "q12_priority_by_shipmode": extra.q12_priority_by_shipmode,
        "q14_promo_share": extra.q14_promo_share,
        "q19_disjunctive": extra.q19_disjunctive,
    }
    for name, fn in hint_free.items():
        plan = _analyzed(fn(spark, sf_dir))
        assert "ResolvedHint" not in plan, f"{name} carries a forced join hint"

    # q5 hints exactly nation+region; q10 hints exactly nation
    assert _analyzed(tpch.q5_local_supplier_volume(spark, sf_dir)).count("ResolvedHint") == 2
    assert _analyzed(extra.q10_returned_items(spark, sf_dir)).count("ResolvedHint") == 1


def test_tpch2_decorrelated_shapes_carry_no_sf_hint(spark, sf_dir):
    """The third-wave shapes (correlated-subquery decorrelations) derive
    SF-scaled sets (per-part averages, per-order supplier counts, the
    revenue view) — none may carry a forced hint; q7 hints exactly its two
    25-row nation roles."""
    from promhouse_spark.workloads import tpch2

    for name in (
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q21_waiting_supplier",
        "q22_global_sales_opportunity",
    ):
        plan = _analyzed(tpch2.QUERIES[name](spark, sf_dir))
        assert "ResolvedHint" not in plan, f"{name} carries a forced join hint"
    assert _analyzed(tpch2.q7_volume_shipping(spark, sf_dir)).count("ResolvedHint") == 2


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read all 11 lineitem columns."""
    from promhouse_spark.session import load_table

    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().toString()
    read_schema = plan.split("ReadSchema")[1][:200] if "ReadSchema" in plan else ""
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema
