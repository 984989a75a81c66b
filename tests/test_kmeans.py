"""Hand-rolled Lloyd k-means (operators/kmeans.py): convergence on a
planted mixture, empty-cluster stability, and fit determinism across
partitionings. The full fit+assign pipeline is DuckDB-hash-verified
against the unrolled-Lloyd oracle via the registered query
``emb_kmeans_topics`` (tests/test_oracle_tail.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from promhouse_spark.operators.kmeans import assign_with_dist, kmeans_fit


def _planted(spark, n_per=20):
    """Two tight blobs far apart: cluster recovery must be exact."""
    rows = []
    for i in range(n_per):
        rows.append((i, [10.0 + (i % 3) * 0.01, 0.0]))
        rows.append((100 + i, [0.0, 10.0 + (i % 3) * 0.01]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_lloyd_recovers_planted_blobs(spark):
    df = _planted(spark)
    centers = kmeans_fit(df, k=2, iters=3)
    assigned = assign_with_dist(df, centers).collect()
    by_blob = {}
    for r in assigned:
        by_blob.setdefault(r["vec_id"] < 100, set()).add(r["centroid_id"])
    # each blob maps to exactly one cluster, and the two differ
    assert all(len(v) == 1 for v in by_blob.values())
    assert by_blob[True] != by_blob[False]
    # fitted centers sit on the blob means (quantized): distance is tiny
    assert all(r["dist"] < 0.1 for r in assigned)


def test_empty_cluster_keeps_previous_center(spark):
    # k=3 over two blobs: at least one cluster goes empty after the
    # first re-center; its centroid must persist, not NaN out
    df = _planted(spark, n_per=5)
    centers = kmeans_fit(df, k=3, iters=3)
    assert len(centers) == 3
    assert all(all(x == x for x in c) for c in centers)  # no NaN


def test_fit_is_deterministic_across_partitionings(spark):
    df = _planted(spark)
    f1 = kmeans_fit(df, k=2, iters=3)
    f2 = kmeans_fit(df.repartition(7), k=2, iters=3)
    assert f1 == f2


def test_exact_kernel_is_bit_identical_to_fold(spark, sf_dir, monkeypatch):
    """assign_with_dist_exact (the training kernel since r11)
    must be BIT-identical to the column fold — same centroid_id and the
    same double dist for every row (it replays the fold's sequential
    coordinate accumulation, so not even last-ulp drift is allowed) —
    and a constructed exact tie must break to the smaller cid in both."""
    from promhouse_spark.operators.kmeans import assign_with_dist_exact
    from promhouse_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centers = kmeans_fit(emb, k=4, iters=2)
    a = sorted(
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist(emb, centers).collect()
    )
    b = sorted(
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist_exact(emb, centers).collect()
    )
    assert a == b  # exact equality, doubles included

    # fits agree too (trajectory preserved step for step): the same fit
    # with the fold swapped in as the training kernel
    from promhouse_spark.operators import kmeans as K

    monkeypatch.setattr(K, "assign_with_dist_exact", assign_with_dist)
    assert kmeans_fit(emb, k=4, iters=2) == centers

    # exact tie: point (1,0) equidistant from (0,0) and (2,0) → cid 0
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    cents = [[0.0, 0.0], [2.0, 0.0]]
    ta = [
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist(df, cents).orderBy("vec_id").collect()
    ]
    tb = [
        (r["vec_id"], r["centroid_id"], r["dist"])
        for r in assign_with_dist_exact(df, cents).orderBy("vec_id").collect()
    ]
    assert ta == tb
    assert ta[2][1] == 0  # the tie broke to the smaller cid


def test_fit_on_backtick_column_name(spark):
    """A backtick in the vector column's name is quoted, not a syntax
    error: the fit equals the same fit on a plainly named column."""
    df = _planted(spark)
    odd = df.withColumnRenamed("embedding", "emb`ed")
    assert kmeans_fit(odd, k=2, iters=3, vec_col="emb`ed") == kmeans_fit(
        df, k=2, iters=3
    )


def test_exact_kernel_degenerate_inputs_match_fold(spark):
    """r11 ADVICE guard: NULL / ragged / NULL-element / NaN / Inf vectors
    must degrade exactly like the column fold — (0, NULL) for malformed
    vectors, (0, NaN) for a NaN coordinate (which the Arrow boundary
    would otherwise surface as NULL), (0, Inf) for an Inf coordinate —
    and non-finite CENTERS are rejected up front (the fold ranks a NaN
    distance last, np.argmin first)."""
    import math

    import pytest

    from promhouse_spark.operators.kmeans import assign_with_dist_exact

    rows = [
        (1, [1.0, 2.0]),
        (2, None),
        (3, [1.0]),
        (4, [1.0, 2.0, 3.0]),
        (5, [float("nan"), 1.0]),
        (6, [None, 2.0]),
        (7, [float("inf"), 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = [[0.0, 0.0], [1.0, 2.0]]
    fold = {
        r["vec_id"]: (r["centroid_id"], r["dist"])
        for r in assign_with_dist(df, centers).collect()
    }
    ex = {
        r["vec_id"]: (r["centroid_id"], r["dist"])
        for r in assign_with_dist_exact(df, centers).collect()
    }
    assert fold.keys() == ex.keys()
    for k in fold:
        (fc, fd), (ec, ed) = fold[k], ex[k]
        assert fc == ec, k
        if fd is None or ed is None:
            assert fd is None and ed is None, k
        elif math.isnan(fd) or math.isnan(ed):
            assert math.isnan(fd) and math.isnan(ed), k
        else:
            assert fd == ed, k
    with pytest.raises(ValueError, match="finite centroids"):
        assign_with_dist_exact(df, [[float("nan"), 0.0]])


def test_means_sql_matches_column_form(spark, sf_dir):
    """r12: the re-center step ships as ONE server-parsed SQL string
    (removing ~dim×5 py4j calls per iteration). The parsed expression —
    avg(element_at(CAST(col AS array<double>), <int literal>)) — must be
    the same analyzed aggregate as the Column form, so the collected
    means are BIT-identical doubles."""
    from promhouse_spark.operators.kmeans import assign_with_dist_exact
    from promhouse_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    centers = kmeans_fit(emb, k=4, iters=1)
    assigned = assign_with_dist_exact(emb, centers, "embedding")
    v = F.col("embedding").cast("array<double>")
    col_form = sorted(
        tuple(r)
        for r in assigned.groupBy("centroid_id")
        .agg(*[F.avg(F.element_at(v, i + 1)).alias(f"m{i}") for i in range(dim)])
        .collect()
    )
    assigned.createOrReplaceTempView("__t_means_sql")
    cast_v = "CAST(`embedding` AS array<double>)"
    sql_form = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT centroid_id, "
            + ", ".join(
                f"avg(element_at({cast_v}, {i + 1})) AS m{i}" for i in range(dim)
            )
            + " FROM __t_means_sql GROUP BY centroid_id"
        ).collect()
    )
    spark.catalog.dropTempView("__t_means_sql")
    assert col_form == sql_form  # exact equality, doubles included
