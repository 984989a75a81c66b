"""Hand-rolled Lloyd's k-means over an embedding column: the one
k-means fit and the one nearest-centroid kernel of the package. The topic
clustering query, the IVF coarse quantizer, the PQ and IVF-PQ
codebooks and the SemDeDup blocking stage all fit through
:func:`kmeans_fit` and assign through :func:`assign_with_dist_exact`,
so every fitted artifact has a VERIFIABLE training trajectory.

Each Lloyd iteration is built from SQL-replayable primitives
(sequential zip-fold squared-L2 argmin, smallest-cid tie-break) plus
one keyed aggregation for the means, so a DuckDB oracle can unroll the
iterations as a chained CTE and land on bit-identical centroids — the
same verified-training contract as operators/hashlr.py. Queries whose
index is not unrolled in SQL stage the fitted centroids and codes, and
their oracles replay everything downstream from those tables.

Spark shape (what must survive 100 TB):
  - assignment is map-side over centroid LITERALS (no join, no
    shuffle): the Arrow-batched :func:`assign_with_dist_exact` kernel,
    which replays the reference column fold's IEEE operation order and
    is bit-identical to it (r11 — the interpreted fold was 80% of the
    sf100 scaling gate);
  - the mean recompute is one keyed aggregation with ``dim``
    per-coordinate avg columns (k·(dim+1) doubles shuffled/collected as
    index metadata — the bounded-collect contract the ANN operators
    follow);
  - iteration count is a fixed hyper-parameter.

Determinism contract: centroid coordinates quantize to 1e-7 after every
iteration in both engines, crushing aggregation-order float drift
(~1e-15) so the unrolled oracle reproduces the trajectory exactly (the
driver side rounds half-away-from-zero via functions/quantize.py to
match DuckDB's mode — Python's half-to-even builtin would diverge at an
exact midpoint). Init is the k lowest-id vectors (deterministic and
SQL-replayable — what the unrolled oracle pins).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from promhouse_spark.functions.quantize import quantize

# per-fit temp-view names (means step below): unique per kmeans_fit call so
# concurrent fits in one session never clobber each other's view
_FIT_VIEW_IDS = itertools.count()


def assign_with_dist(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment keeping the squared-L2 distance, as a
    pure column expression: sequential zip-fold, struct-min on
    (distance, cid), both struct fields surfaced. This is the reference
    form a SQL engine replays bit-for-bit; production code assigns
    through its Arrow-batched twin :func:`assign_with_dist_exact`, and
    tests pin the two equal.

    Evaluation-strategy note (measured at sf10, 2M x 8 x 64): the
    zip-fold, though interpreted (higher-order lambdas get no codegen),
    BEATS a flat k·dim-term unrolled expression — the ~2000-node tree
    exceeds codegen budgets and falls back to node-at-a-time interpreted
    eval (42 s fold vs 57-60 s unrolled, both struct-min and least()
    argmins). Keep the fold."""
    v = F.col(vec_col).cast("array<double>")
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for i, c in enumerate(centers)
        ]
    )
    dists = F.transform(
        cent_arr,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(s["c"], v, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            s["cid"].alias("cid"),
        ),
    )
    best = F.array_min(dists)
    return df.withColumn("centroid_id", best["cid"]).withColumn(
        "dist", best["d"]
    )


def assign_with_dist_exact(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched assignment that is BIT-IDENTICAL to
    :func:`assign_with_dist` — same winner, same double ``dist`` — at
    vectorized speed, so the oracle-replayed training loop no longer has
    to pay the interpreted fold (~1 µs per (row, centroid); the two
    k-means queries were 80% of the r11 sf100 scaling gate).

    Why it is exact where a BLAS norm-trick kernel is not: the fold
    accumulates ``(v[j]-c[j])²`` sequentially in coordinate
    order, and IEEE-754 float addition is order-sensitive. This kernel
    replays that exact order — one numpy elementwise op per coordinate,
    ``acc = acc + d*d`` over j = 0..dim-1 — and elementwise fp64 numpy
    ops perform the same round-to-nearest-even operation per lane as
    Catalyst's scalar eval, so every (row, centroid) distance is the
    same double. The norm-trick kernel instead ranks by
    ``-2 v·c + ||c||²`` (different operations entirely), which can flip
    near-exact ties. Argmin tie-break: ``np.argmin`` takes the first
    (smallest cid) occurrence, matching the fold's struct-min.
    tests/test_kmeans.py pins full-frame equality on real data plus a
    constructed exact tie.

    Degenerate inputs match the fold exactly (r11 ADVICE — the bare
    kernel crashed where the fold degraded gracefully): a NULL, ragged
    (length ≠ dim), or NULL-element vector yields (centroid_id=0,
    dist=NULL), a NaN coordinate yields (0, NaN) — the NULL semantics are
    applied JVM-side from a validity predicate so the kernel stays pure
    float64. CENTERS must be finite: the fold's struct-min sorts a NaN
    distance last while np.argmin would sort it first, so a non-finite
    centroid breaks the bit-exactness contract — asserted up front. (A
    NaN/±Inf coordinate in a VECTOR poisons every centroid's distance
    identically in both forms, so those stay bit-exact.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centers, dtype=np.float64)  # k x dim
    if C.size and not np.isfinite(C).all():
        raise ValueError(
            "assign_with_dist_exact requires finite centroids: the fold "
            "ranks a NaN distance last, np.argmin first — a non-finite "
            "center would silently break the bit-identical contract"
        )
    dim = C.shape[1] if C.size else 0

    schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def kernel(vecs):
        raw = vecs.tolist()
        if not raw:
            return pd.DataFrame({"centroid_id": [], "dist": []})
        try:  # fast path: rectangular, no NULLs — the training-loop shape
            V = np.asarray(raw, dtype=np.float64)  # n x dim
            ok = V.ndim == 2 and V.shape[1] == dim
        except (TypeError, ValueError):
            ok = False
        if not ok:
            # NULL / ragged / NULL-element rows: substitute a zeros
            # placeholder so the batch stays vectorized; the JVM layer
            # overrides their output with the fold's (0, NULL)
            clean = [
                v
                if (
                    v is not None
                    and len(v) == dim
                    and not any(x is None for x in v)
                )
                else [0.0] * dim
                for v in raw
            ]
            V = np.asarray(clean, dtype=np.float64)
        n = V.shape[0]
        acc = np.zeros((n, C.shape[0]), dtype=np.float64)
        for j in range(dim):  # fold's coordinate order, one lane per row
            d = V[:, j, None] - C[None, :, j]
            acc += d * d
        cid = acc.argmin(axis=1)  # first occurrence = smallest cid
        dist = acc[np.arange(n), cid]
        return pd.DataFrame(
            {"centroid_id": cid.astype("int32"), "dist": dist}
        )

    kernel_udf = F.pandas_udf(kernel, returnType=schema)
    v = F.col(vec_col).cast("array<double>")
    valid = (
        v.isNotNull()
        & (F.size(v) == F.lit(dim))
        & ~F.exists(v, lambda x: x.isNull())
    )
    # a NaN coordinate poisons every centroid distance → the fold answers
    # (0, NaN); restore the NaN here because the Arrow boundary turns the
    # kernel's NaN dist into NULL on the way back
    has_nan = F.exists(v, lambda x: F.isnan(x))
    out = df.withColumn("_a", kernel_udf(v))
    return (
        out.withColumn(
            "centroid_id",
            F.when(valid, F.col("_a.centroid_id")).otherwise(F.lit(0)),
        )
        .withColumn(
            "dist",
            F.when(
                valid & has_nan, F.lit(float("nan"))
            ).otherwise(F.when(valid, F.col("_a.dist"))),
        )
        .drop("_a")
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 7,
) -> list[list[float]]:
    """Lloyd's algorithm: assign (map-side argmin over centroid
    literals) then re-center (one keyed agg per iteration, k·dim rows
    collected). Init is the k lowest-id vectors. Empty clusters keep
    their previous centroid. Returns the fitted centroid list.

    Assignment runs through :func:`assign_with_dist_exact`, which is
    bit-identical to :func:`assign_with_dist`, so the training
    trajectory (and the unrolled SQL oracle's hash) is the fold's, at
    ~10× its speed (r11: the interpreted fold made the two k-means
    queries 80% of the sf100 scaling gate, 312 + 261 s of 719 s).

    ``vec_col`` names a top-level column; any character is legal in it
    (the name is backtick-quoted for both the Column API and the means
    SQL)."""
    vec = "`" + vec_col.replace("`", "``") + "`"
    seeds = (
        df.orderBy(id_col)
        .limit(k)
        .select(F.col(vec).cast("array<double>").alias("v"))
        .collect()
    )
    centers = [[float(x) for x in r["v"]] for r in seeds]
    if not centers:
        return centers
    dim = len(centers[0])
    # per-coordinate avg as `dim` aggregate columns in ONE keyed agg —
    # not posexplode: exploding N×dim rows through a shuffle per
    # iteration dominated the fit at sf10 (128M-row explodes, 44 s);
    # column aggregates combine map-side and shuffle k×(dim+1) doubles.
    # The whole means step ships as ONE server-parsed SQL string over a
    # temp view instead of `dim` Column-API aggregates: building 64
    # `F.avg(F.element_at(...))` columns cost ~0.27 s of py4j round trips
    # PER ITERATION (~1.1 s of the 4.3 s query at sf0.1, measured warm),
    # the parse is <10 ms, and the parsed expression tree is IDENTICAL —
    # `element_at(CAST(col AS array<double>), <int literal>)` — so every
    # avg is bit-identical to the Column form (pinned in
    # tests/test_kmeans.py::test_means_sql_matches_column_form).
    spark = df.sparkSession
    view = f"__promhouse_kmeans_means_{next(_FIT_VIEW_IDS)}"
    cast_v = f"CAST({vec} AS array<double>)"
    means_sql = (
        "SELECT centroid_id, "
        + ", ".join(
            f"avg(element_at({cast_v}, {i + 1})) AS m{i}" for i in range(dim)
        )
        + f" FROM {view} GROUP BY centroid_id"
    )
    try:
        for _ in range(iters):
            assigned = assign_with_dist_exact(df, centers, vec)
            assigned.createOrReplaceTempView(view)
            means = spark.sql(means_sql).collect()
            new = [list(c) for c in centers]
            for r in means:
                new[r["centroid_id"]] = [
                    quantize(r[f"m{i}"], quant) for i in range(dim)
                ]
            centers = new
    finally:
        spark.catalog.dropTempView(view)
    return centers

