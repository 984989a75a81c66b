"""LLM-data-pipeline workloads, fifth wave (round 10).

- DSIR importance resampling (Xie et al. 2023): select raw documents
  that look like a target corpus by hashed-n-gram log-likelihood ratio,
  resampled with deterministic Gumbel noise (operators/dsir.py). The
  oracle replays the whole pipeline in DuckDB — same polynomial feature
  hash, add-one smoothing, Knuth-hash uniform → Gumbel transform.
- VERIFIED-TRAINING pair: doc_hashlr_quality (supervised — hashed-
  feature logistic regression, operators/hashlr.py) and
  emb_kmeans_topics (unsupervised — Lloyd's k-means,
  operators/kmeans.py). Both run their iterative fits as Spark keyed
  aggregations and both oracles UNROLL the iterations as chained
  MATERIALIZED CTEs with per-step 1e-7 quantization, so the hash match
  proves the distributed training trajectory itself, not just scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from promhouse_spark.session import load_table, materialize_tier

QUERIES: dict = {}
ORACLES: dict = {}

_K = 64  # feature buckets (tiny for oracle-exactness; shape is what scales)


def doc_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection over the documents corpus: target = the English
    subset, raw = everything; output the importance weight, Gumbel noise,
    and keep verdict per document. Plan (operators/dsir.py:dsir_select):
    ONE featurization pass into a materialized per-(doc, bucket) count
    frame; both 64-row histograms and the broadcast-joined scoring pass
    re-aggregate it — no second corpus scan, no global sort, no
    corpus-sized join."""
    from promhouse_spark.operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    return dsir_select(
        docs, is_target=F.col("lang") == "en", n_buckets=_K
    ).orderBy("doc_id")


DOC_DSIR_SELECT_SQL = rf"""
WITH feats AS (
  SELECT doc_id, lang,
         (ascii(substr(f, 1, 1)) * 31 + ascii(substr(f, 2, 1)) * 7
          + length(f)) % {_K} AS bucket
  FROM (
    SELECT doc_id, lang, unnest(list_concat(words,
             list_transform(range(len(words) - 1),
                            i -> words[i + 1] || ' ' || words[i + 2]))) AS f
    FROM (
      SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'),
                         x -> length(x) > 0) AS words
      FROM documents
    )
  )
),
domain AS (SELECT unnest(range({_K})) AS bucket),
t AS (SELECT bucket, count(*) AS t_cnt FROM feats WHERE lang = 'en'
      GROUP BY bucket),
r AS (SELECT bucket, count(*) AS r_cnt FROM feats GROUP BY bucket),
lr AS (
  SELECT d.bucket,
         ln((coalesce(t_cnt, 0) + 1)
            / ((SELECT sum(t_cnt) FROM t) + {_K}))
         - ln((coalesce(r_cnt, 0) + 1)
              / ((SELECT sum(r_cnt) FROM r) + {_K})) AS log_ratio
  FROM domain d LEFT JOIN t ON d.bucket = t.bucket
               LEFT JOIN r ON d.bucket = r.bucket
),
per_doc AS (
  SELECT doc_id, bucket, count(*) AS cnt FROM feats GROUP BY doc_id, bucket
),
w AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
         sum(cnt * log_ratio) AS weight
  FROM per_doc JOIN lr USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_feats, round(weight, 6) AS weight,
       round(-ln(-ln(((doc_id * 2654435761) % 1048576 + 0.5) / 1048576.0)),
             6) AS gumbel,
       (weight + (-ln(-ln(((doc_id * 2654435761) % 1048576 + 0.5)
                          / 1048576.0)))) > 0.0 AS keep
FROM w
ORDER BY doc_id
"""


QUERIES["doc_dsir_select"] = doc_dsir_select
ORACLES["doc_dsir_select"] = DOC_DSIR_SELECT_SQL


# ------------------------------------------------------------------ hashlr

_LR_ITERS = 32
_LR_RATE = 1.0
_LR_QUANT = 7
_LR_BUCKETS = 1024  # collision-light for the bench vocabulary
_LR_SCALE = 16.0  # per-doc feature mass; keeps the GD optimum near origin


def _stop_ratio_teacher() -> "F.Column":
    """Teacher label: English stopword density >= 0.06 — the expensive
    curator the student model distills (the CCNet/LLaMA recipe trains
    hashed linear models against exactly this kind of corpus-level
    quality signal). Tokenized EXACTLY like the features (\\s+ split,
    empties dropped) so the signal is linearly recoverable; an exact
    rational predicate both engines replay."""
    toks = F.filter(
        F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0
    )
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to", "in", "is"))
    )
    return (stop / F.size(toks)) >= 0.06


def doc_hashlr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-token quality classifier, TRAINED in Spark
    (operators/hashlr.py): full-batch logistic-regression GD where each
    step is a pair of keyed aggregations and the model (65 doubles) is the
    only driver-side state. Teacher = stopword-density quality gate;
    output scores every document. The oracle unrolls the identical GD
    steps as a chained DuckDB CTE over the same feature construction, so
    a hash match proves the distributed TRAINING TRAJECTORY, not just the
    scorer."""
    from promhouse_spark.operators.hashlr import (
        hashlr_features,
        hashlr_score,
        hashlr_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = materialize_tier(
        hashlr_features(
            docs,
            label=_stop_ratio_teacher(),
            n_buckets=_LR_BUCKETS,
            ngrams=1,
            scale=_LR_SCALE,
        )
    )
    bias, weights = hashlr_train(
        feats,
        n_buckets=_LR_BUCKETS,
        iters=_LR_ITERS,
        lr=_LR_RATE,
        quant=_LR_QUANT,
        scale=_LR_SCALE,
    )
    return hashlr_score(feats, bias, weights).orderBy("doc_id")


def _hashlr_oracle_sql() -> str:
    """Build the K-unrolled training oracle (the BPE-oracle trick): w{t}/
    b{t} CTEs chain the exact GD recurrence with the same 1e-7 per-step
    quantization the Spark trainer applies."""
    feats = rf"""
WITH raw_feats AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(list_filter(words,
                  t -> t IN ('the','a','of','and','to','in','is')))
              * 1.0 / len(words) >= 0.06 AS INT) AS y,
         (ascii(substr(f, 1, 1)) * 31 + ascii(substr(f, 2, 1)) * 7
          + length(f)) % {_LR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, words, unnest(words) AS f
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> length(x) > 0) AS words
      FROM documents
    )
  )
),
fx AS MATERIALIZED (
  SELECT doc_id, y, bucket,
         cnt * {_LR_SCALE} / sum(cnt) OVER (PARTITION BY doc_id) AS x
  FROM (SELECT doc_id, y, bucket, count(*) AS cnt
        FROM raw_feats GROUP BY doc_id, y, bucket)
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM fx),
w0 AS MATERIALIZED (SELECT unnest(range({_LR_BUCKETS})) AS bucket, 0.0 AS w),
b0 AS (SELECT 0.0 AS b)"""
    steps = []
    for t in range(1, _LR_ITERS + 1):
        p = t - 1
        steps.append(f"""
m{t} AS MATERIALIZED (
  SELECT f.doc_id, f.y,
         (SELECT b FROM b{p}) + sum(f.x * w.w) AS margin
  FROM fx f JOIN w{p} w USING (bucket)
  GROUP BY f.doc_id, f.y
),
r{t} AS MATERIALIZED (SELECT doc_id, 1.0 / (1.0 + exp(-margin)) - y AS resid FROM m{t}),
g{t} AS MATERIALIZED (
  SELECT f.bucket, sum(r.resid * f.x) AS g
  FROM fx f JOIN r{t} r USING (doc_id) GROUP BY f.bucket
),
w{t} AS MATERIALIZED (
  SELECT w.bucket,
         round(w.w - {_LR_RATE} * coalesce(g.g, 0) / (SELECT n FROM nd),
               {_LR_QUANT}) AS w
  FROM w{p} w LEFT JOIN g{t} g USING (bucket)
),
b{t} AS MATERIALIZED (
  SELECT round((SELECT b FROM b{p})
               - {_LR_RATE} * (SELECT avg(resid) FROM r{t}),
               {_LR_QUANT}) AS b
)""")
    final = f"""
SELECT f.doc_id, any_value(f.y) AS y,
       CAST(count(*) AS BIGINT) AS n_buckets_hit,
       round((SELECT b FROM b{_LR_ITERS}) + sum(f.x * w.w), 4) AS margin,
       ((SELECT b FROM b{_LR_ITERS}) + sum(f.x * w.w)) > 0 AS keep
FROM fx f JOIN w{_LR_ITERS} w USING (bucket)
GROUP BY f.doc_id
ORDER BY f.doc_id"""
    return feats + "," + ",".join(steps) + final


QUERIES["doc_hashlr_quality"] = doc_hashlr_quality
ORACLES["doc_hashlr_quality"] = _hashlr_oracle_sql()


# ------------------------------------------------------------------ kmeans

_KM_K = 8
_KM_ITERS = 4


def emb_kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic clustering of the embeddings corpus by hand-rolled Lloyd's
    k-means (operators/kmeans.py): assignment is a map-side argmin over
    centroid literals, the re-center step one keyed aggregation per
    iteration. Output is the final assignment with distance and cluster
    size — the blocking/balancing frame corpus-mixing stages consume.
    The oracle unrolls the identical Lloyd iterations in DuckDB (1e-7
    centroid quantization per step), so the hash match verifies the
    unsupervised TRAINING TRAJECTORY, like doc_hashlr_quality does for
    the supervised path."""
    from pyspark.sql import Window

    from promhouse_spark.operators.kmeans import (
        assign_with_dist_exact,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    # assign_with_dist_exact replays the column fold's IEEE operation
    # order in numpy batches — bit-identical centroid_id AND dist (the
    # oracle hash is over these), ~10× the interpreted fold (r11: the
    # 5 fold passes were 312 s of the 719 s sf100 gate)
    assigned = assign_with_dist_exact(emb, centers)
    w = Window.partitionBy("centroid_id")
    return assigned.select(
        "vec_id",
        F.col("centroid_id").alias("cluster_id"),
        F.round("dist", 4).alias("dist"),
        F.count(F.lit(1)).over(w).alias("cluster_n"),
    ).orderBy("vec_id")


_KM_DIST = (
    "list_sum(list_transform(range(1, len(c.c) + 1), "
    "i -> (v[i] - c.c[i]) * (v[i] - c.c[i])))"
)


def _kmeans_oracle_with() -> str:
    """Shared WITH-prefix for the Lloyd oracles: a{t} (argmin
    assignment), m{t} (per-coordinate means, 1e-7 quantized), c{t}
    (rebuilt centroids, empty clusters keep their previous center) —
    chained MATERIALIZED CTEs ending at c{_KM_ITERS}."""
    dist = _KM_DIST
    head = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_KM_K})
)"""
    steps = []
    for t in range(1, _KM_ITERS + 1):
        p = t - 1
        steps.append(f"""
a{t} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM e CROSS JOIN c{p} c
  ) WHERE rn = 1
),
m{t} AS MATERIALIZED (
  SELECT cid, i, round(avg(val), 7) AS m FROM (
    SELECT a.cid, unnest(range(1, len(e.v) + 1)) AS i, unnest(e.v) AS val
    FROM a{t} a JOIN e USING (vec_id)
  ) GROUP BY cid, i
),
c{t} AS MATERIALIZED (
  SELECT p.cid, coalesce(n.c, p.c) AS c
  FROM c{p} p LEFT JOIN
       (SELECT cid, list(m ORDER BY i) AS c FROM m{t} GROUP BY cid) n
       USING (cid)
)""")
    return head + "," + ",".join(steps)


def _kmeans_oracle_sql() -> str:
    """Full per-vector assignment at the fitted centroids (the verified
    training-trajectory query's oracle)."""
    return (
        _kmeans_oracle_with()
        + f"""
SELECT vec_id, cid AS cluster_id, round(dist, 4) AS dist,
       count(*) OVER (PARTITION BY cid) AS cluster_n
FROM (
  SELECT vec_id, cid, dist FROM (
    SELECT e.vec_id, c.cid, {_KM_DIST} AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KM_DIST}, c.cid) AS rn
    FROM e CROSS JOIN c{_KM_ITERS} c
  ) WHERE rn = 1
)
ORDER BY vec_id"""
    )


QUERIES["emb_kmeans_topics"] = emb_kmeans_topics
ORACLES["emb_kmeans_topics"] = _kmeans_oracle_sql()


def emb_kmeans_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-path twin of emb_kmeans_topics: same oracle-exact Lloyd
    fit and the same Arrow-batched assignment kernel
    (assign_with_dist_exact), aggregated into the per-cluster profile
    (size, mean/max distance) a corpus-mixing stage consumes. The DuckDB
    oracle replays the fit and aggregates the exact sequential-fold
    assignment — the hash match certifies the kernel agrees with the
    bit-exact argmin on real data, under the driver's independent gate
    rather than only in pytest."""
    from promhouse_spark.operators.kmeans import (
        assign_with_dist_exact,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = kmeans_fit(emb, k=_KM_K, iters=_KM_ITERS)
    assigned = assign_with_dist_exact(emb, centers)
    return (
        assigned.groupBy(F.col("centroid_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
            F.round(F.max("dist"), 4).alias("max_dist"),
        )
        .orderBy("cluster_id")
    )


def _kmeans_serve_oracle_sql() -> str:
    return (
        _kmeans_oracle_with()
        + f"""
SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(dist), 4) AS avg_dist, round(max(dist), 4) AS max_dist
FROM (
  SELECT vec_id, cid, dist FROM (
    SELECT e.vec_id, c.cid, {_KM_DIST} AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KM_DIST}, c.cid) AS rn
    FROM e CROSS JOIN c{_KM_ITERS} c
  ) WHERE rn = 1
)
GROUP BY cid
ORDER BY cid"""
    )


QUERIES["emb_kmeans_serve"] = emb_kmeans_serve
ORACLES["emb_kmeans_serve"] = _kmeans_serve_oracle_sql()
