"""LLM-data-pipeline workloads, fourth wave (round 6): BPE tokenizer
induction (the merge loop over operators/text.py:bpe_train), SemDeDup-style
IVF-blocked semantic dedup, and paragraph-granularity near-dup detection.

The BPE oracle replays the full iterative algorithm in DuckDB as K
UNROLLED CTE blocks (pair-count → argmax → positional merge) — the greedy
left-to-right merge is expressed with a run-parity rule over match
positions (within a run of consecutive matches, the 1st/3rd/5th merge),
which is provably identical to the Spark-side array fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from promhouse_spark.session import STAGE_DIR, load_table, materialize_tier, stage

_BPE_K = 8


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction over the documents corpus: the first
    8 merges learned from word-frequency-weighted character pairs
    (operators/text.py:bpe_train) — K driver iterations of one keyed
    aggregation + 1-row argmax each, ties broken (count desc, left, right)
    for engine determinism. Output: (step, left, right, cnt) with cnt
    measured before the merge applied."""
    from promhouse_spark.operators.text import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges, vocab = bpe_train(docs, "text", n_merges=_BPE_K)
    vocab.unpersist()
    return spark.createDataFrame(
        merges, "step long, left string, right string, cnt long"
    ).orderBy("step")


def _bpe_oracle_sql(k: int, source: str = "documents") -> str:
    ctes = [f"""words AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM {source}
  ) GROUP BY w
),
vocab0 AS MATERIALIZED (
  SELECT w, cnt,
         list_transform(range(1, len(w)+1), i -> w[i:i]) || ['</w>'] AS syms
  FROM words
)"""]
    for i in range(1, k + 1):
        p = i - 1
        ctes.append(f"""pairs{i} AS MATERIALIZED (
  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_transform(range(1, len(syms)), j -> {{'l': syms[j], 'r': syms[j+1]}})) AS p, cnt
    FROM vocab{p}
  ) GROUP BY p.l, p.r
),
top{i} AS (
  SELECT l, r, cnt FROM pairs{i} ORDER BY cnt DESC, l, r LIMIT 1
),
vocab{i} AS MATERIALIZED (
  -- greedy left-to-right merge, positionally: q merges iff (q, q+1)
  -- matches (l, r) and q sits at an odd offset within its run of
  -- consecutive matches (runs exist only when l = r); positions consumed
  -- as the right half (mg[q-1]) drop
  SELECT w, cnt,
         list_transform(
           list_filter(range(1, n+1), q -> NOT coalesce(mg[q-1], FALSE)),
           q -> CASE WHEN coalesce(mg[q], FALSE) THEN syms[q] || syms[q+1] ELSE syms[q] END
         ) AS syms
  FROM (
    SELECT w, cnt, syms, n,
           list_transform(range(1, n), q ->
             marks[q] AND (q - coalesce(list_max(list_filter(range(1, q), z -> NOT marks[z])), 0)) % 2 = 1
           ) AS mg
    FROM (
      SELECT v.w, v.cnt, v.syms, len(v.syms) AS n,
             list_transform(range(1, len(v.syms)), q -> v.syms[q] = t.l AND v.syms[q+1] = t.r) AS marks
      FROM vocab{p} v CROSS JOIN top{i} t
    )
  )
)""")
    unions = "\nUNION ALL ".join(
        f'SELECT CAST({i} AS BIGINT) AS step, l AS "left", r AS "right", cnt FROM top{i}'
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions + "\nORDER BY step"


def _bpe_vocab_ctes(k: int, source: str = "documents") -> str:
    """The WITH-clause prefix of the BPE oracle (vocab0..vocab{k}) — shared
    by the merge-list oracle, the tokenize oracle, and the capstone (which
    trains on a FILTERED corpus CTE via ``source``)."""
    full = _bpe_oracle_sql(k, source)
    return full[: full.rindex("\nSELECT CAST(1 AS BIGINT)")]


DOC_BPE_MERGES_SQL = _bpe_oracle_sql(_BPE_K)


QUERIES = {
    "doc_bpe_merges": doc_bpe_merges,
}

ORACLES = {
    "doc_bpe_merges": DOC_BPE_MERGES_SQL,
}


_CENTROIDS_STAGE = f"{STAGE_DIR}/semantic_centroids.parquet"


def doc_semantic_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup pairs over the embeddings corpus
    (operators/dedup.py:semantic_dedup_pairs_staged): the IVF k-means
    coarse quantizer (operators/kmeans.py:kmeans_fit) as the label-free
    blocking stage, exact cosine within clusters only. Threshold 0.4 is
    corpus-relative: the synthetic embeddings are near-uniform with a
    ~0.51 cosine ceiling (no natural near-identical pairs), so 0.4
    surfaces the true top of the similarity distribution — production
    corpora use 0.95+.

    HASH-PAIRED without unrolling the k-means fit in SQL: the query
    persists the fitted centroids to a staging parquet and assigns
    vectors by explicit argmin arithmetic, so the DuckDB oracle replays
    assignment + intra-cluster cosine over the SAME centroid table (the
    query always runs before its oracle in the harness). Recall further
    gated in tests/test_recall.py with PLANTED near-identical vectors."""
    from promhouse_spark.operators.dedup import semantic_dedup_pairs_staged

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs_staged(
        emb, _CENTROIDS_STAGE, num_centroids=16, threshold=0.4
    ).orderBy("id_a", "id_b")


DOC_SEMANTIC_DUPS_SQL = f"""
WITH cent AS (
  SELECT centroid_id, centroid
  FROM read_parquet('{_CENTROIDS_STAGE}/*.parquet')
),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(range(1, len(c.centroid) + 1),
                       i -> (v[i] - c.centroid[i]) * (v[i] - c.centroid[i]))),
                      c.centroid_id
           ) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
base AS (
  SELECT e.vec_id, v, centroid_id,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
  FROM e JOIN assign USING (vec_id)
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(range(1, len(a.v) + 1),
                 i -> a.v[i] * b.v[i])) / (a.norm * b.norm), 4) AS cosine
  FROM base a JOIN base b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs
WHERE cosine >= 0.4
ORDER BY id_a, id_b
"""


_CHUNK = 20


def doc_para_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity near-dup pairs: documents windowed into
    20-word pseudo-paragraphs (the synthetic corpus is single-line; real
    corpora split on \n\n), exact distinct-token Jaccard >= 0.8 between
    paragraphs of DIFFERENT documents, blocked by source
    (operators/dedup.py:paragraph_jaccard_pairs) — the boilerplate span
    detector whole-document similarity misses."""
    from promhouse_spark.operators.dedup import paragraph_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_jaccard_pairs(
        docs,
        chunk_words=_CHUNK,
        threshold=0.8,
        group_col="source",
        prefix_filter=False,
    ).orderBy("doc_a", "para_a", "doc_b", "para_b")


DOC_PARA_DUPS_SQL = f"""
WITH paras AS (
  SELECT doc_id, source, i - 1 AS para_idx,
         doc_id || '#' || CAST(i - 1 AS VARCHAR) AS para_id,
         array_to_string(list_slice(toks, (i-1)*{_CHUNK}+1, (i-1)*{_CHUNK}+{_CHUNK}), ' ') AS para
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(1, CAST(ceil(len(toks)/{_CHUNK}.0) AS INT) + 1)) AS i) u
  WHERE len(toks) > 0
),
tok AS (
  SELECT para_id, doc_id, para_idx, source,
         unnest(list_distinct(string_split(para, ' '))) AS token
  FROM paras
  WHERE len(para) > 0
),
sz AS (SELECT para_id, count(*) AS n FROM tok GROUP BY para_id),
inter AS (
  SELECT a.para_id AS pa, b.para_id AS pb,
         CAST(min(a.doc_id) AS BIGINT) AS doc_a, CAST(min(a.para_idx) AS INT) AS para_a,
         CAST(min(b.doc_id) AS BIGINT) AS doc_b, CAST(min(b.para_idx) AS INT) AS para_b,
         count(*) AS i
  FROM tok a JOIN tok b
    ON a.token = b.token AND a.source = b.source AND a.para_id < b.para_id
  GROUP BY 1, 2
)
SELECT doc_a, para_a, doc_b, para_b,
       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.para_id = pa
JOIN sz sb ON sb.para_id = pb
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8 AND doc_a != doc_b
ORDER BY doc_a, para_a, doc_b, para_b
"""


QUERIES["doc_semantic_dups"] = doc_semantic_dups
QUERIES["doc_para_dups"] = doc_para_dups
ORACLES["doc_semantic_dups"] = DOC_SEMANTIC_DUPS_SQL
ORACLES["doc_para_dups"] = DOC_PARA_DUPS_SQL


def doc_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform corpus sample: rank every document by its LCG
    id bucket (operators/sampling.py:split_bucket — pure per-row integer
    arithmetic, reproducible bit-for-bit in any engine) and keep the 50
    smallest. The distributed form of reservoir sampling with a fixed
    seed: a global TakeOrdered(50) — no full sort, no shuffle of the
    corpus, and the SAME 50 docs on every engine, run, and partitioning
    (F.rand cannot promise any of that)."""
    from promhouse_spark.operators.sampling import split_bucket

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.round(split_bucket("doc_id"), 8).alias("bucket"),
            "source",
        )
        .orderBy("bucket", "doc_id")
        .limit(50)
    )


DOC_SAMPLE_N_SQL = """
SELECT doc_id,
       round(((doc_id * 1103515245 + 12345) % 2147483648) / 2147483648.0, 8)
         AS bucket,
       source
FROM documents
ORDER BY bucket, doc_id
LIMIT 50
"""


def doc_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate share: the fraction of a document's 20-word
    pseudo-paragraphs that also appear (Jaccard >= 0.8) in a DIFFERENT
    document — the curation signal paragraph dedup exists to feed. Exact
    1e-6 fixed point (small-integer division). Only documents with at
    least one boilerplate paragraph are returned."""
    from promhouse_spark.operators.dedup import paragraph_jaccard_pairs, paragraphs
    from promhouse_spark.workloads.promql3 import _idiv

    docs = load_table(spark, sf_dir, "documents")
    # the union below consumes `pairs` twice (a-side + b-side), which
    # re-executed the whole paragraph-Jaccard self-join per side;
    # checkpoint the (threshold-bounded, tiny) pair set once (r11)
    pairs = paragraph_jaccard_pairs(
        docs, chunk_words=_CHUNK, threshold=0.8, group_col="source",
        prefix_filter=False,
    ).localCheckpoint(eager=True)
    boiler = (
        pairs.select(F.col("doc_a").alias("doc_id"), F.col("para_a").alias("para_idx"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("doc_id"), F.col("para_b").alias("para_idx"))
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_boiler"))
    )
    totals = (
        paragraphs(docs, chunk_words=_CHUNK)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_paras"))
    )
    return (
        boiler.join(totals, "doc_id")
        .select(
            "doc_id",
            "n_boiler",
            "n_paras",
            _idiv(F.col("n_boiler") * F.lit(1_000_000), F.col("n_paras")).alias(
                "boiler_share_e6"
            ),
        )
        .orderBy("doc_id")
    )


DOC_BOILERPLATE_SQL = f"""
WITH paras AS (
  SELECT doc_id, source, i - 1 AS para_idx,
         doc_id || '#' || CAST(i - 1 AS VARCHAR) AS para_id,
         array_to_string(list_slice(toks, (i-1)*{_CHUNK}+1, (i-1)*{_CHUNK}+{_CHUNK}), ' ') AS para
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(1, CAST(ceil(len(toks)/{_CHUNK}.0) AS INT) + 1)) AS i) u
  WHERE len(toks) > 0
),
tok AS (
  SELECT para_id, doc_id, para_idx, source,
         unnest(list_distinct(string_split(para, ' '))) AS token
  FROM paras
  WHERE len(para) > 0
),
sz AS (SELECT para_id, count(*) AS n FROM tok GROUP BY para_id),
inter AS (
  SELECT a.para_id AS pa, b.para_id AS pb,
         min(a.doc_id) AS doc_a, min(a.para_idx) AS para_a,
         min(b.doc_id) AS doc_b, min(b.para_idx) AS para_b,
         count(*) AS i
  FROM tok a JOIN tok b
    ON a.token = b.token AND a.source = b.source AND a.para_id < b.para_id
  GROUP BY 1, 2
),
dups AS (
  SELECT doc_a, para_a, doc_b, para_b
  FROM inter
  JOIN sz sa ON sa.para_id = pa
  JOIN sz sb ON sb.para_id = pb
  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8 AND doc_a != doc_b
),
boiler AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler FROM (
    SELECT DISTINCT doc_id, para_idx FROM (
      SELECT doc_a AS doc_id, para_a AS para_idx FROM dups
      UNION ALL
      SELECT doc_b AS doc_id, para_b AS para_idx FROM dups
    )
  ) GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
  FROM paras WHERE len(para) > 0 GROUP BY doc_id
)
SELECT b.doc_id, b.n_boiler, t.n_paras,
       (b.n_boiler * 1000000) // t.n_paras AS boiler_share_e6
FROM boiler b JOIN totals t USING (doc_id)
ORDER BY doc_id
"""


QUERIES["doc_sample_n"] = doc_sample_n
QUERIES["doc_boilerplate_ratio"] = doc_boilerplate_ratio
ORACLES["doc_sample_n"] = DOC_SAMPLE_N_SQL
ORACLES["doc_boilerplate_ratio"] = DOC_BOILERPLATE_SQL


def doc_curation_pipeline3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 curation capstone — this round's operators composed into
    ONE declarative chain: paragraph-granularity boilerplate share
    (paragraph_jaccard_pairs) gates out documents that are >= 50%
    boilerplate → deterministic LCG-bucket sampling keeps the 200
    lowest-bucket survivors (reproducible on any engine/partitioning) →
    per-source corpus rollup (docs, chars, tokens — exact BIGINTs).

    The value hash pins every stage at once; the oracle replays the
    identical chain as a CTE pipeline over pieces that were each
    hash-validated stand-alone (doc_boilerplate_ratio, doc_sample_n)."""
    from promhouse_spark.operators.dedup import paragraph_jaccard_pairs, paragraphs
    from promhouse_spark.operators.sampling import split_bucket
    from promhouse_spark.operators.text import token_count
    from promhouse_spark.workloads.promql3 import _idiv

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint the pair set: the union consumes it twice (r11, same
    # fix as doc_boilerplate_ratio)
    pairs = paragraph_jaccard_pairs(
        docs, chunk_words=_CHUNK, threshold=0.8, group_col="source",
        prefix_filter=False,
    ).localCheckpoint(eager=True)
    boiler = (
        pairs.select(F.col("doc_a").alias("doc_id"), F.col("para_a").alias("para_idx"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("doc_id"), F.col("para_b").alias("para_idx"))
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_boiler"))
    )
    totals = (
        paragraphs(docs, chunk_words=_CHUNK)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_paras"))
    )
    share = boiler.join(totals, "doc_id").select(
        "doc_id",
        _idiv(F.col("n_boiler") * F.lit(1_000_000), F.col("n_paras")).alias("share_e6"),
    )
    kept = (
        docs.join(share, "doc_id", "left")
        .filter(F.coalesce("share_e6", F.lit(0)) < 500_000)
    )
    sampled = (
        kept.select(
            "doc_id", "source", "n_chars",
            token_count("text").alias("n_tokens"),
            split_bucket("doc_id").alias("bucket"),
        )
        .orderBy("bucket", "doc_id")
        .limit(200)
    )
    return (
        sampled.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .orderBy("source")
    )


DOC_CURATION3_SQL = f"""
WITH paras AS (
  SELECT doc_id, source, i - 1 AS para_idx,
         doc_id || '#' || CAST(i - 1 AS VARCHAR) AS para_id,
         array_to_string(list_slice(toks, (i-1)*{_CHUNK}+1, (i-1)*{_CHUNK}+{_CHUNK}), ' ') AS para
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(1, CAST(ceil(len(toks)/{_CHUNK}.0) AS INT) + 1)) AS i) u
  WHERE len(toks) > 0
),
tok AS (
  SELECT para_id, doc_id, para_idx, source,
         unnest(list_distinct(string_split(para, ' '))) AS token
  FROM paras WHERE len(para) > 0
),
sz AS (SELECT para_id, count(*) AS n FROM tok GROUP BY para_id),
inter AS (
  SELECT a.para_id AS pa, b.para_id AS pb,
         min(a.doc_id) AS doc_a, min(a.para_idx) AS para_a,
         min(b.doc_id) AS doc_b, min(b.para_idx) AS para_b,
         count(*) AS i
  FROM tok a JOIN tok b
    ON a.token = b.token AND a.source = b.source AND a.para_id < b.para_id
  GROUP BY 1, 2
),
dups AS (
  SELECT doc_a, para_a, doc_b, para_b FROM inter
  JOIN sz sa ON sa.para_id = pa
  JOIN sz sb ON sb.para_id = pb
  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8 AND doc_a != doc_b
),
boiler AS (
  SELECT doc_id, count(*) AS n_boiler FROM (
    SELECT DISTINCT doc_id, para_idx FROM (
      SELECT doc_a AS doc_id, para_a AS para_idx FROM dups
      UNION ALL SELECT doc_b, para_b FROM dups
    )
  ) GROUP BY doc_id
),
totals AS (
  SELECT doc_id, count(*) AS n_paras FROM paras WHERE len(para) > 0 GROUP BY doc_id
),
share AS (
  SELECT b.doc_id, (b.n_boiler * 1000000) // t.n_paras AS share_e6
  FROM boiler b JOIN totals t USING (doc_id)
),
kept AS (
  SELECT d.doc_id, d.source, d.n_chars,
         len(string_split(d.text, ' ')) AS n_tokens,
         ((d.doc_id * 1103515245 + 12345) % 2147483648) / 2147483648.0 AS bucket
  FROM documents d LEFT JOIN share s USING (doc_id)
  WHERE coalesce(s.share_e6, 0) < 500000
),
sampled AS (
  SELECT * FROM kept ORDER BY bucket, doc_id LIMIT 200
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM sampled GROUP BY source
ORDER BY source
"""


QUERIES["doc_curation_pipeline3"] = doc_curation_pipeline3
ORACLES["doc_curation_pipeline3"] = DOC_CURATION3_SQL


# ---- model-based quality scoring (round 7) ---------------------------------

_QM_STAGE = f"{STAGE_DIR}/quality_model.parquet"
_EN_STOP_SQL = "('the','a','of','and','to','in','is')"


def _write_quality_model(spark: SparkSession, intercept, weights) -> None:
    """Write the fitted (intercept, weights) as the (idx, weight) rows the
    oracles read; idx -1 is the intercept. Rewritten on every run."""
    spark.createDataFrame(
        [(-1, intercept)] + list(enumerate(weights)), "idx int, weight double"
    ).coalesce(1).write.mode("overwrite").parquet(_QM_STAGE)


def doc_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (operators/text.py:train_quality_model):
    a logistic regression learns the heuristic quality gate from the
    corpus, its (intercept, weights) persist to a staging parquet, and
    every document is scored with plain column arithmetic — the
    fasttext-style learned filter production curation pipelines run,
    reduced to its replayable linear core. HASH-PAIRED: the oracle reads
    the staged coefficients and recomputes the identical linear term from
    the identical integer-derived features; the quality decision compares
    the LINEAR term to 0 (exactly reproducible), and the reported average
    probability rounds at 4 dp."""
    from promhouse_spark.operators.text import quality_score, train_quality_model

    docs = load_table(spark, sf_dir, "documents")
    intercept, weights = train_quality_model(docs)
    _write_quality_model(spark, intercept, weights)
    linear, prob = quality_score(intercept, weights)
    return (
        docs.select("source", linear.alias("lin"), prob.alias("p"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("p"), 4).alias("avg_score"),
            F.sum((F.col("lin") >= 0).cast("long")).cast("long").alias("n_pred_quality"),
        )
        .orderBy("source")
    )


DOC_QUALITY_MODEL_SQL = f"""
WITH w AS (SELECT idx, weight FROM read_parquet('{_QM_STAGE}/*.parquet')),
feat AS (
  SELECT source,
         n_chars / 1000.0 AS f0,
         len(string_split(text, ' ')) / 100.0 AS f1,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS f2,
         length(list_filter(string_split(text, ' '), t -> t IN {_EN_STOP_SQL}))
           * 1.0 / len(string_split(text, ' ')) AS f3
  FROM documents
),
scored AS (
  SELECT source,
         (SELECT weight FROM w WHERE idx = -1)
         + (SELECT weight FROM w WHERE idx = 0) * f0
         + (SELECT weight FROM w WHERE idx = 1) * f1
         + (SELECT weight FROM w WHERE idx = 2) * f2
         + (SELECT weight FROM w WHERE idx = 3) * f3 AS lin
  FROM feat
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(1.0 / (1.0 + exp(-lin))), 4) AS avg_score,
       CAST(sum(CASE WHEN lin >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pred_quality
FROM scored
GROUP BY source
ORDER BY source
"""


QUERIES["doc_quality_model"] = doc_quality_model
ORACLES["doc_quality_model"] = DOC_QUALITY_MODEL_SQL


# ---- tokenize with the trained BPE (round 7) --------------------------------


def doc_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token counting under the TRAINED tokenizer: apply the 8
    learned merges (operators/text.py:bpe_train's final vocab = word →
    merged symbol array) to every corpus word via one vocabulary join —
    the segmentation is per-WORD, so the corpus pass is a broadcast-sized
    join against the Zipf-bounded vocab, never a per-token Python loop.
    Output per source: whitespace words, BPE tokens, and the exact
    tokens-per-word ratio in 1e-6 fixed point. The oracle replays the
    full K-unrolled merge training AND the tokenize join in SQL."""
    from promhouse_spark.operators.text import bpe_train, tokens
    from promhouse_spark.workloads.promql3 import _idiv

    docs = load_table(spark, sf_dir, "documents")
    _merges, vocab = bpe_train(docs, "text", n_merges=_BPE_K)
    words = docs.select("source", F.explode(tokens("text")).alias("w"))
    joined = words.join(
        F.broadcast(vocab.select("w", F.size("syms").cast("long").alias("n_syms"))),
        "w",
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_tokens",
            _idiv(F.col("n_bpe_tokens") * F.lit(1_000_000), F.col("n_words")).alias(
                "tokens_per_word_e6"
            ),
        )
        .orderBy("source")
    )


DOC_BPE_TOKENIZE_SQL = _bpe_vocab_ctes(_BPE_K) + f"""
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
       (CAST(sum(len(v.syms)) AS BIGINT) * 1000000)
         // CAST(count(*) AS BIGINT) AS tokens_per_word_e6
FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) d
JOIN vocab{_BPE_K} v ON v.w = d.w
GROUP BY d.source
ORDER BY d.source
"""


QUERIES["doc_bpe_tokenize"] = doc_bpe_tokenize
ORACLES["doc_bpe_tokenize"] = DOC_BPE_TOKENIZE_SQL


# ---- real video frame sampling (round 7) ------------------------------------

_VIDEO_STAGE = f"{STAGE_DIR}/video_frames.parquet"


def doc_video_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pipeline end-to-end with a REAL raw-video decode: each
    document wraps as a valid YUV4MPEG2 asset (the format ffmpeg emits),
    Arrow-batched mapInPandas runs the actual y4m parser and samples
    frames every 250 ms (operators/multimodal.py:sample_video_frames),
    and the per-source rollup reads luma level + the inter-frame motion
    proxy (mean |Δ mean-luma| between consecutive sampled frames).
    HASH-PAIRED via the sampled-frame staging table: the decode stays
    Python; per-asset lag, the motion average, and the rollup replay in
    DuckDB over identical doubles."""
    from promhouse_spark.operators import multimodal as M
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    assets = M.synthesize_y4m_assets(docs)
    frames = M.sample_video_frames(assets, every_ms=250)
    per_frame = frames.join(
        docs.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id"
    ).select("asset_id", "source", "frame_idx", "frame_ts_ms", "sum_luma")
    staged = stage(per_frame, _VIDEO_STAGE)
    # EXACT integer fixed point throughout: sum_luma is an integer sum of
    # width*height uint8 values, so averages and deltas never leave BIGINT
    # arithmetic and the 1e-6 fixed-point results are engine-bit-identical
    # (a 4-dp double rounding flapped on exact midpoints here — luma means
    # are 1/64-grained rationals that LAND on .00005 boundaries)
    from promhouse_spark.workloads.promql3 import _idiv

    px = M.Y4M_W * M.Y4M_H
    w = W.partitionBy("asset_id").orderBy("frame_idx")
    d = staged.withColumn(
        "dl", F.abs(F.col("sum_luma") - F.lag("sum_luma").over(w))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count_distinct("asset_id").cast("long").alias("n_videos"),
            F.count("*").cast("long").alias("n_frames"),
            F.sum("sum_luma").cast("long").alias("__sl"),
            F.sum("dl").cast("long").alias("__sd"),
            F.count("dl").cast("long").alias("__nd"),
        )
        .select(
            "source",
            "n_videos",
            "n_frames",
            _idiv(F.col("__sl") * F.lit(1_000_000), F.col("n_frames") * px).alias(
                "avg_luma_e6"
            ),
            _idiv(F.col("__sd") * F.lit(1_000_000), F.col("__nd") * px).alias(
                "motion_e6"
            ),
        )
        .orderBy("source")
    )


DOC_VIDEO_MOTION_SQL = f"""
WITH f AS (
  SELECT * FROM read_parquet('{_VIDEO_STAGE}/*.parquet')
),
d AS (
  SELECT source, asset_id, sum_luma,
         abs(sum_luma - lag(sum_luma) OVER (
           PARTITION BY asset_id ORDER BY frame_idx)) AS dl
  FROM f
)
SELECT source,
       CAST(count(DISTINCT asset_id) AS BIGINT) AS n_videos,
       CAST(count(*) AS BIGINT) AS n_frames,
       (CAST(sum(sum_luma) AS BIGINT) * 1000000)
         // (CAST(count(*) AS BIGINT) * 64) AS avg_luma_e6,
       (CAST(sum(dl) AS BIGINT) * 1000000)
         // (CAST(count(dl) AS BIGINT) * 64) AS motion_e6
FROM d
GROUP BY source
ORDER BY source
"""


QUERIES["doc_video_motion"] = doc_video_motion
ORACLES["doc_video_motion"] = DOC_VIDEO_MOTION_SQL


# ---- real audio decode pipeline (round 7) ------------------------------------

_AUDIO_STAGE = f"{STAGE_DIR}/audio_stats.parquet"


def doc_audio_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline end-to-end with the REAL stdlib WAV decode: each
    document wraps as a valid RIFF/WAVE 8-bit PCM asset, Arrow-batched
    mapInPandas parses it and emits exact integer level statistics
    (operators/multimodal.py:audio_stats), and the per-source rollup
    reports the mean absolute PCM deviation in 1e-6 fixed point —
    bit-exact on both engines because 8-bit PCM decodes to k/128 floats
    that reconstruct their byte values exactly. Completes the modality
    triple: image (doc_multimodal_features), video (doc_video_motion),
    audio here, each with a real decoder and a hash-paired oracle over
    its staged decode output."""
    from promhouse_spark.operators import multimodal as M
    from promhouse_spark.workloads.promql3 import _idiv

    docs = load_table(spark, sf_dir, "documents")
    assets = M.synthesize_wav_assets(docs)
    stats = M.audio_stats(assets).join(
        docs.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id"
    ).select("asset_id", "source", "n_samples", "sum_abs_dev")
    staged = stage(stats, _AUDIO_STAGE)
    return (
        staged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.sum("n_samples").cast("long").alias("total_samples"),
            F.sum("sum_abs_dev").cast("long").alias("__dev"),
        )
        .select(
            "source",
            "n_assets",
            "total_samples",
            _idiv(F.col("__dev") * F.lit(1_000_000), F.col("total_samples")).alias(
                "mean_abs_dev_e6"
            ),
        )
        .orderBy("source")
    )


DOC_AUDIO_LEVEL_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(n_samples) AS BIGINT) AS total_samples,
       (CAST(sum(sum_abs_dev) AS BIGINT) * 1000000)
         // CAST(sum(n_samples) AS BIGINT) AS mean_abs_dev_e6
FROM read_parquet('{_AUDIO_STAGE}/*.parquet')
GROUP BY source
ORDER BY source
"""


QUERIES["doc_audio_level"] = doc_audio_level
ORACLES["doc_audio_level"] = DOC_AUDIO_LEVEL_SQL


# ---- curation capstone v4 (round 7) -----------------------------------------

_CAP4_SIG_STAGE = f"{STAGE_DIR}/cap4_signatures.parquet"


def doc_curation_pipeline4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 curation capstone — this round's operators composed into ONE
    chain: the LEARNED quality gate (logistic regression over exact
    features, decision on the staged linear term) filters the corpus →
    LSH-candidate + exact-shingle-verified near-dup removal drops the
    higher id of each pair → BPE trains on the SURVIVORS and tokenizes
    them → per-source rollup (input docs, quality survivors, dedup
    survivors, exact fixed-point tokens-per-word). The oracle replays the
    whole chain: staged model weights gate in SQL, staged signatures band
    in SQL, exact shingle verification in SQL, and the K-unrolled BPE CTE
    trains on the FILTERED corpus CTE."""
    from promhouse_spark.operators import dedup as D
    from promhouse_spark.operators.text import (
        bpe_train,
        quality_score,
        tokens,
        train_quality_model,
    )
    from promhouse_spark.workloads.promql3 import _idiv

    docs = load_table(spark, sf_dir, "documents")
    intercept, weights = train_quality_model(docs)
    _write_quality_model(spark, intercept, weights)
    linear, _ = quality_score(intercept, weights)
    # `kept` has four consumers (signature staging, shingle semi-join,
    # the final anti-join, the per-source rollup) and `final` below
    # feeds the ITERATIVE BPE trainer — every merge step is its own
    # action, so an unmaterialized `final` re-executed the whole
    # quality-gate + dedup chain once per merge (r11; 35 s at sf0.1).
    # Eager materializations compute each tier once; values unchanged.
    # Both tiers are CORPUS-SIZED (a filtered copy of the input corpus
    # with its text), so they stage through the RELIABLE checkpoint dir
    # (durable storage in production) — localCheckpoint would pin the
    # corpus to executor-local storage with no lineage (r11 verdict:
    # at 100 TB any executor loss kills the job).
    kept = materialize_tier(
        docs.filter(linear >= 0).select("doc_id", "source", "text"),
        site="pipeline4_kept",
    )

    staged_sig = stage(D.minhash_signatures(kept), _CAP4_SIG_STAGE)
    cand = D.minhash_lsh_from_signatures(staged_sig).select("doc_a", "doc_b")
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = kept.join(ids, "doc_id", "left_semi").select(
        "doc_id", F.array_distinct(D.shingles(F.split("text", " "), 3)).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    ver = (
        cand.join(a, "doc_a").join(b, "doc_b")
        .filter(F.round(inter / union, 4) >= 0.8)
    )
    drops = ver.select(F.col("doc_b").alias("doc_id")).distinct()
    final = materialize_tier(
        kept.join(drops, "doc_id", "left_anti"), site="pipeline4_final"
    )

    # ONE tokenize of the survivors serves both BPE training and the
    # per-source rollup: the (source, word) count tier is decision-sized
    # (Zipf-bounded vocabulary × sources), so it localCheckpoints; the
    # BPE word frequencies are its source-marginal (same integers the
    # trainer's own explode produced) and the rollup re-weights by cnt
    # (n_words = Σcnt, n_bpe = Σcnt·n_syms — exact integer identities).
    # Previously bpe_train and the rollup each exploded the staged
    # `final` tier — two full corpus tokenize+shuffle passes for counts
    # one pass already had.
    swf = materialize_tier(
        final.select("source", F.explode(tokens("text")).alias("wd"))
        .groupBy("source", "wd")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    wf = swf.groupBy("wd").agg(F.sum("cnt").cast("long").alias("cnt"))
    _merges, vocab = bpe_train(
        final, "text", n_merges=_BPE_K,
        word_counts=wf.select(F.col("wd").alias("w"), "cnt"),
    )
    tok = (
        swf.join(
            F.broadcast(
                vocab.select(F.col("w").alias("wd"), F.size("syms").cast("long").alias("n_syms"))
            ),
            "wd",
        )
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_syms")).cast("long").alias("n_bpe"),
        )
    )
    n_in = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    n_q = kept.groupBy("source").agg(F.count("*").cast("long").alias("n_quality"))
    n_f = final.groupBy("source").agg(F.count("*").cast("long").alias("n_final"))
    return (
        n_in.join(n_q, "source", "left")
        .join(n_f, "source", "left")
        .join(tok, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("n_final", F.lit(0)).cast("long").alias("n_final"),
            F.coalesce(
                _idiv(F.col("n_bpe") * F.lit(1_000_000), F.col("n_words")),
                F.lit(0),
            ).cast("long").alias("tokens_per_word_e6"),
        )
        .orderBy("source")
    )


_CAP4_LIN_SQL = """
  (SELECT weight FROM w WHERE idx = -1)
  + (SELECT weight FROM w WHERE idx = 0) * (n_chars / 1000.0)
  + (SELECT weight FROM w WHERE idx = 1) * (len(string_split(text, ' ')) / 100.0)
  + (SELECT weight FROM w WHERE idx = 2)
      * (len(list_distinct(string_split(text, ' '))) * 1.0
         / len(string_split(text, ' ')))
  + (SELECT weight FROM w WHERE idx = 3)
      * (length(list_filter(string_split(text, ' '), t -> t IN {stop}))
         * 1.0 / len(string_split(text, ' ')))
""".format(stop=_EN_STOP_SQL)

DOC_CURATION4_SQL = (
    f"""WITH w AS (SELECT idx, weight FROM read_parquet('{_QM_STAGE}/*.parquet')),
kept AS MATERIALIZED (
  SELECT doc_id, source, text FROM documents
  WHERE ({_CAP4_LIN_SQL}) >= 0
),
sig AS (
  SELECT doc_id, signature FROM read_parquet('{_CAP4_SIG_STAGE}/*.parquet')
),
banded AS (
  SELECT doc_id, b.band,
         list_slice(signature, b.band * 4 + 1, b.band * 4 + 4) AS chunk
  FROM sig, LATERAL (SELECT unnest(range(0, 12)) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
),
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
            i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM kept)
),
drops AS MATERIALIZED (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE round(len(list_intersect(sa.s, sb.s)) * 1.0 /
              (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4) >= 0.8
),
docs2 AS MATERIALIZED (
  SELECT k.* FROM kept k ANTI JOIN drops d ON k.doc_id = d.doc_id
),
"""
    + _bpe_vocab_ctes(_BPE_K, "docs2")[len("WITH ") :]
    + f""",
tok AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe
  FROM (SELECT source, unnest(string_split(text, ' ')) AS wd FROM docs2) d
  JOIN vocab{_BPE_K} v ON v.w = d.wd
  GROUP BY d.source
),
nin AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
nq AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY source),
nf AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM docs2 GROUP BY source)
SELECT nin.source, nin.n_docs,
       CAST(coalesce(nq.n, 0) AS BIGINT) AS n_quality,
       CAST(coalesce(nf.n, 0) AS BIGINT) AS n_final,
       CAST(coalesce((t.n_bpe * 1000000) // t.n_words, 0) AS BIGINT)
         AS tokens_per_word_e6
FROM nin
LEFT JOIN nq USING (source)
LEFT JOIN nf USING (source)
LEFT JOIN tok t USING (source)
ORDER BY nin.source
"""
)


QUERIES["doc_curation_pipeline4"] = doc_curation_pipeline4
ORACLES["doc_curation_pipeline4"] = DOC_CURATION4_SQL
