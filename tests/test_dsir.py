"""DSIR importance resampling (operators/dsir.py): feature stream shape,
planted-distribution selection bias, and the Gumbel keep contract. The
full pipeline is DuckDB-hash-verified via the registered query
``doc_dsir_select`` (tests/test_oracle_tail.py); these tests pin the
operator-level semantics directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from promhouse_spark.operators.dsir import dsir_select, feature_buckets, gumbel_keep


def test_feature_stream_is_unigrams_plus_bigrams(spark):
    df = spark.createDataFrame([("a bb ccc",), ("solo",), ("",)], ["text"])
    rows = df.select(
        F.size(feature_buckets("text")).alias("n"),
    ).collect()
    # "a bb ccc" -> 3 unigrams + 2 bigrams; "solo" -> 1 + 0; "" -> 0
    assert sorted(r["n"] for r in rows) == [0, 1, 5]
    # buckets are in range
    b = df.select(F.explode(feature_buckets("text")).alias("b")).collect()
    assert all(0 <= r["b"] < 64 for r in b)


def test_planted_target_distribution_scores_higher(spark):
    """Documents drawn from the target vocabulary must out-weight
    documents from a disjoint vocabulary — the core DSIR property."""
    target_text = "alpha beta gamma delta alpha beta"
    other_text = "zzz yyy xxx www zzz yyy"
    rows = []
    for i in range(20):
        rows.append((i, target_text, "t"))          # target-like raw docs
        rows.append((100 + i, other_text, "o"))     # off-target raw docs
    raw = spark.createDataFrame(rows, ["doc_id", "text", "kind"])
    out = dsir_select(raw, F.col("kind") == "t").collect()
    got = {r["doc_id"]: r["weight"] for r in out}
    t_w = [got[i] for i in range(20)]
    o_w = [got[100 + i] for i in range(20)]
    assert min(t_w) > max(o_w)  # clean separation on disjoint vocab
    kept_ids = {r["doc_id"] for r in out if r["keep"]}
    # selection is ∝ exp(weight): the target-like docs dominate the keeps
    assert len([i for i in kept_ids if i < 100]) > len(
        [i for i in kept_ids if i >= 100]
    )


def test_gumbel_keep_is_deterministic_and_consistent(spark):
    df = spark.createDataFrame(
        [(1, 3, 0.5), (2, 3, -9.0), (3, 3, 9.0)],
        ["doc_id", "n_feats", "weight"],
    )
    a = {r["doc_id"]: r for r in gumbel_keep(df).collect()}
    b = {r["doc_id"]: r for r in gumbel_keep(df).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k]["gumbel"] == b[k]["gumbel"]  # same noise every run
        # keep ≡ weight + gumbel > 0 (rounded columns only for display)
        assert a[k]["keep"] == (
            df.filter(F.col("doc_id") == k).first()["weight"] + a[k]["gumbel"]
            > 0
        ) or abs(a[k]["weight"] + a[k]["gumbel"]) < 1e-5
    assert a[3]["keep"] and not a[2]["keep"]  # ±9 dominates any Gumbel draw
