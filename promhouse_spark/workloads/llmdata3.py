"""LLM training-data pipeline workloads, round 3 (beyond-reference):
exact substring deduplication (cross-document repeated n-gram spans, the
Spark-native rendering of Lee et al. 2022) and its span-removal variant,
winnowing rolling-hash fingerprint overlap (MOSS), domain-temperature
resampling, PII scrubbing, char-trigram LM fluency scoring (CCNet-shaped),
BPE merge-step pair counts, tf·idf keyword extraction, deterministic
sequence packing, and the product-quantization ANN serving path.

Every query here is paired with a DuckDB oracle. The PQ and IVF-PQ
probes (k-means codebooks) pair via STAGED index artifacts: the fits stay
Spark-side, the oracle replays probe selection, (residual) ADC scoring,
shortlist, and exact rerank over the persisted tables; recall and
exact-rerank properties are additionally gated in tests/test_recall.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from promhouse_spark.operators import dedup as D
from promhouse_spark.operators import sampling as SP
from promhouse_spark.operators import similarity as S
from promhouse_spark.operators import text as X
from promhouse_spark.session import (
    STAGE_DIR,
    load_table,
    materialize_tier,
    stage_once,
)


def doc_substring_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated word 8-grams — the candidate set exact
    substring dedup removes. One explode + one keyed aggregation
    (operators/dedup.py:repeated_ngrams)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.repeated_ngrams(docs, n=8, min_docs=2).orderBy("gram")


DOC_SUBSTRING_DUPS_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, array_to_string(t[i : i+7], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-7, 1))) AS i) u
)
SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
ORDER BY gram
"""


def doc_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al.-style span removal: delete every non-first occurrence of a
    cross-document repeated 8-gram, keep the globally-first one. Surfaced as
    (doc_id, clean_hash, n_removed) so the full cleaned corpus is
    value-hash-comparable without shipping the texts."""
    docs = load_table(spark, sf_dir, "documents")
    out = D.remove_repeated_spans(docs, n=8, min_docs=2)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text")).alias("clean_hash"),
        F.col("n_removed_tokens").alias("n_removed"),
    ).orderBy("doc_id")


# NB: DuckDB list lambdas index from 1; Spark's ``filter`` lambda indexes
# from 0 — the two span-coverage predicates below are the same interval.
DOC_SUBSTRING_REMOVAL_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(t[i : i+7], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-7, 1))) AS i) u
),
dups AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
spans AS (SELECT g.* FROM grams g JOIN dups USING (gram)),
keeper AS (SELECT gram, min({'d': doc_id, 'p': pos}) AS k FROM spans GROUP BY gram),
removed AS (
  SELECT s.doc_id, list(DISTINCT s.pos) AS starts
  FROM spans s JOIN keeper k USING (gram)
  WHERE NOT (s.doc_id = k.k.d AND s.pos = k.k.p)
  GROUP BY s.doc_id
),
cleaned AS (
  SELECT t.doc_id,
         list_filter(t.t, (x, i) -> len(list_filter(coalesce(r.starts, []),
                                     s -> i >= s AND i < s + 8)) = 0) AS kept,
         len(t.t) AS n_toks
  FROM toks t LEFT JOIN removed r USING (doc_id)
)
-- array_to_string([]) is NULL in DuckDB but '' in Spark's concat_ws
SELECT doc_id, md5(coalesce(array_to_string(kept, ' '), '')) AS clean_hash,
       CAST(n_toks - len(kept) AS BIGINT) AS n_removed
FROM cleaned ORDER BY doc_id
"""


def doc_domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-temperature rebalancing (share ∝ count^0.7): per-source
    rollup of input size, tempered keep rate, and surviving rows. The keep
    decision is the deterministic LCG bucket vs a broadcast |domains|-row
    rate frame (operators/sampling.py:domain_resample)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = SP.domain_resample(docs, "source", "doc_id", alpha=0.7)
    n_in = SP.domain_rates(docs, "source", alpha=0.7).select("source", "n", "rate")
    agg = kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )
    return (
        n_in.join(agg, "source", "left")
        .select(
            "source",
            F.col("n").alias("n_in"),
            "rate",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("id_checksum", F.lit(0)).cast("long").alias("id_checksum"),
        )
        .orderBy("source")
    )


DOC_DOMAIN_RESAMPLE_SQL = """
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
rates AS (
  SELECT source, n,
         round((pow(n, 0.7) / n) / (SELECT max(pow(n, 0.7) / n) FROM counts), 6) AS rate
  FROM counts
),
kept AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN rates r USING (source)
  WHERE ((d.doc_id * 1103515245 + 12345) % 2147483648) / 2147483648.0 < r.rate
)
SELECT r.source, CAST(r.n AS BIGINT) AS n_in, r.rate,
       CAST(coalesce(count(k.doc_id), 0) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS id_checksum
FROM rates r LEFT JOIN kept k USING (source)
GROUP BY r.source, r.n, r.rate
ORDER BY r.source
"""


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a deterministically PII-enriched corpus (the
    driver corpus is synthetic words, so each doc gets an email / IPv4 /
    account number derived from its own keys appended — exercising every
    pattern class). Output: per-doc match counts + md5 of the scrubbed
    text (operators/text.py:scrub_pii)."""
    docs = load_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact "), F.col("source"), F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit("."),
            (F.floor(F.col("doc_id") / 256) % 256).cast("string"),
            F.lit(" acct "),
            F.lpad(((F.col("doc_id") * 7919) % 1000000000).cast("string"), 10, "0"),
        ).alias("text"),
    )
    return enriched.select(
        "doc_id",
        *X.pii_counts("text"),
        F.md5(X.scrub_pii("text")).alias("clean_hash"),
    ).orderBy("doc_id")


_PII_ENRICH = """
text || ' contact ' || source || '@example.com ip 10.0.' ||
CAST(doc_id % 256 AS VARCHAR) || '.' ||
CAST((doc_id // 256) % 256 AS VARCHAR) || ' acct ' ||
lpad(CAST((doc_id * 7919) % 1000000000 AS VARCHAR), 10, '0')
"""

DOC_PII_SCRUB_SQL = f"""
WITH enriched AS (SELECT doc_id, {_PII_ENRICH} AS text FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '\\b[0-9]{{9,18}}\\b')) AS BIGINT) AS n_longnum,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
      '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b', '<IP>', 'g'),
      '\\b[0-9]{{9,18}}\\b', '<NUM>', 'g')) AS clean_hash
FROM enriched ORDER BY doc_id
"""


# ---- PQ ANN serving path: sketch-based, rows-only driver check ------------

_PQ_STAGE = f"{STAGE_DIR}/pq_index"


def emb_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: ADC scan over 8-byte codes + exact rerank
    of the shortlist (operators/similarity.py:pq_probe). Index built once
    per (app, corpus) straight into the fixed path the DuckDB oracle reads
    (the oracle does not replay the per-subspace k-means fits; the ADC
    scan, shortlist, and exact rerank over the persisted tables are) and
    served from the persisted codes — the billion-vector memory-bound
    serving shape. Recall and rerank-exactness are gated in
    tests/test_recall.py."""
    from promhouse_spark.workloads.llmdata import _query_vec

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    stage_once(
        spark, sf_dir, _PQ_STAGE, lambda: S.pq_build(emb, _PQ_STAGE, m=8, k=16)
    )
    return S.pq_probe(spark, _PQ_STAGE, emb, _query_vec(spark, sf_dir), topk=10)


EMB_PQ_ANN_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
nq AS (
  SELECT list_transform(qv,
           x -> x / sqrt(list_sum(list_transform(qv, y -> y * y)))) AS v
  FROM q
),
cb AS (
  SELECT subspace, code, centroid
  FROM read_parquet('{_PQ_STAGE}/codebook/*.parquet')
),
lut AS (
  SELECT subspace, code,
         list_sum(list_transform(range(1, len(centroid) + 1),
           i -> (v[subspace * 8 + i] - centroid[i])
              * (v[subspace * 8 + i] - centroid[i]))) AS d
  FROM cb, nq
),
codes AS (
  SELECT vec_id, codes FROM read_parquet('{_PQ_STAGE}/codes/*.parquet')
),
expanded AS (
  SELECT vec_id, unnest(codes) AS code,
         unnest(range(0, len(codes))) AS subspace
  FROM codes
),
adc AS (
  SELECT e.vec_id, sum(l.d) AS adc
  FROM expanded e JOIN lut l ON l.subspace = e.subspace AND l.code = e.code
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 100)
SELECT em.vec_id,
       round(list_cosine_similarity(CAST(em.embedding AS DOUBLE[]), q.qv), 4)
         AS cosine
FROM embeddings em JOIN short USING (vec_id), q
WHERE em.vec_id <> 0
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


QUERIES = {
    "doc_substring_dups": doc_substring_dups,
    "doc_substring_removal": doc_substring_removal,
    "doc_domain_resample": doc_domain_resample,
    "doc_pii_scrub": doc_pii_scrub,
    "emb_pq_ann_topk": emb_pq_ann_topk,
}

ORACLES = {
    "doc_substring_dups": DOC_SUBSTRING_DUPS_SQL,
    "doc_substring_removal": DOC_SUBSTRING_REMOVAL_SQL,
    "doc_domain_resample": DOC_DOMAIN_RESAMPLE_SQL,
    "doc_pii_scrub": DOC_PII_SCRUB_SQL,
    "emb_pq_ann_topk": EMB_PQ_ANN_SQL,
}


def doc_charlm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency scoring: per-doc mean negative log probability
    of its character trigrams under the corpus-level trigram model
    (operators/text.py:char_ngram_model/charlm_score). The model side is
    |alphabet|³-bounded and broadcast; the doc side is one explode + one
    keyed aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    model = X.char_ngram_model(docs, "text", n=3)
    return (
        X.charlm_score(docs, model, n=3)
        .orderBy("doc_id")
    )


DOC_CHARLM_NLL_SQL = """
WITH grams AS (
  SELECT d.doc_id, substring(d.text, i, 3) AS gram
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 2, 1))) AS i) u
),
model AS (
  SELECT gram, ln(count(*) * 1.0 / (SELECT count(*) FROM grams)) AS logp
  FROM grams GROUP BY gram
)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       round(-avg(coalesce(m.logp, -20.0)), 4) AS avg_nll
FROM grams g LEFT JOIN model m USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""

QUERIES["doc_charlm_nll"] = doc_charlm_nll
ORACLES["doc_charlm_nll"] = DOC_CHARLM_NLL_SQL


def doc_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token-pair frequencies — the counting step of a BPE
    merge round at corpus scale (operators/text.py:adjacent_pair_counts):
    per-row pair expansion, one keyed aggregation, TakeOrdered top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        X.adjacent_pair_counts(docs)
        .orderBy(F.desc("cnt"), "left", "right")
        .limit(50)
    )


DOC_BPE_PAIRS_SQL = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
pairs AS (
  SELECT t[i] AS "left", t[i+1] AS "right"
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) u
)
SELECT "left", "right", CAST(count(*) AS BIGINT) AS cnt
FROM pairs GROUP BY 1, 2
ORDER BY cnt DESC, "left", "right"
LIMIT 50
"""


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf·idf keywords
    (operators/text.py:tfidf_top_terms), rank ties broken by term for a
    total order. Ranking happens on the ROUNDED score in both engines so
    float noise can't flip a rank at a tie."""
    docs = load_table(spark, sf_dir, "documents")
    return X.tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


DOC_TFIDF_SQL = """
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n * 1.0 / dfreq.df), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, score FROM (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY doc_id, rank
"""

QUERIES["doc_bpe_pairs"] = doc_bpe_pairs
QUERIES["doc_tfidf_top_terms"] = doc_tfidf_top_terms
ORACLES["doc_bpe_pairs"] = DOC_BPE_PAIRS_SQL
ORACLES["doc_tfidf_top_terms"] = DOC_TFIDF_SQL


def doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) overlap detection: pairs sharing ≥ 5 selected
    rolling-hash fingerprints (operators/dedup.py:winnowing_overlap_pairs,
    k=16 chars ≈ 3 words, window 8). Position-robust where word-n-gram
    dedup is tokenization-bound; any shared substring ≥ w+k-1 chars
    guarantees a shared fingerprint. k is sized to the driver corpus's
    31-word vocabulary — short grams collide corpus-wide there (measured:
    k=5 matches ~99% of all pairs, k=16 isolates the planted near-dups)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.winnowing_overlap_pairs(docs, k=16, w=8, min_shared=5).orderBy(
        "doc_a", "doc_b"
    )


DOC_WINNOW_PAIRS_SQL = """
WITH grams AS (
  SELECT doc_id, i, substring(text, i, 16) AS gram
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-15, 1))) AS i) u
),
hashed AS (
  SELECT doc_id, i,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(gram)+1),
                            j -> CAST(ascii(substring(gram, j, 1)) AS BIGINT))),
             (a, b) -> (a * 257 + b) % 2147483647) AS h
  FROM grams
),
arrs AS (
  SELECT doc_id, list(h ORDER BY i) AS hs FROM hashed GROUP BY doc_id
),
fps AS (
  SELECT DISTINCT doc_id, fp
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(hs)-7, 1)+1),
                                 i -> list_aggregate(hs[i : i+7], 'min'))) AS fp
    FROM arrs
  )
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 5
ORDER BY doc_a, doc_b
"""

QUERIES["doc_winnow_pairs"] = doc_winnow_pairs
ORACLES["doc_winnow_pairs"] = DOC_WINNOW_PAIRS_SQL


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing into 256-token bins across 8 hash
    shards (operators/sampling.py:pack_sequences) — the documents →
    fixed-length-training-sample step, sharded so no global sort exists."""
    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select("doc_id", X.token_count("text").alias("n_tokens"))
    return (
        SP.pack_sequences(with_counts, seq_len=256, num_shards=8)
        .orderBy("shard", "bin")
    )


DOC_PACK_SEQUENCES_SQL = """
WITH counted AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
binned AS (
  SELECT shard, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / 256.0) AS BIGINT) AS bin
  FROM counted
)
SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(sum(n_tokens) / 256.0, 4) AS fill_ratio
FROM binned
GROUP BY shard, bin
ORDER BY shard, bin
"""

QUERIES["doc_pack_sequences"] = doc_pack_sequences
ORACLES["doc_pack_sequences"] = DOC_PACK_SEQUENCES_SQL


def doc_curation_pipeline2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 curation capstone — the newer operators composed into ONE
    declarative chain: cross-document exact-substring span removal →
    PII scrubbing on the cleaned text → char-trigram fluency gate (keep
    docs below the corpus p90 NLL, model built on the scrubbed survivors) →
    domain-temperature resample (α=0.7) → sequence packing audit.

    Output: per (shard, bin) packing rollup of what survives the whole
    chain — so the value hash pins every stage at once. The oracle replays
    the identical chain as a CTE pipeline over the pieces that were each
    hash-validated stand-alone."""
    docs = load_table(spark, sf_dir, "documents")
    # `cleaned` has THREE consumers (the trigram model build, the NLL
    # scorer, and the text re-attach join) and `scored` two (the p90
    # threshold and the filter); without materialization each consumer
    # re-executed the span-removal + PII-scrub chain — the plan held 292
    # Exchange nodes and the query ran 28 s at sf0.1 (r11). One eager
    # materialization per tier computes each chain once; values are
    # unchanged (the recomputations were deterministic replays of the
    # same plan). Both tiers are CORPUS-SIZED (they carry the cleaned
    # text), so they stage through the RELIABLE checkpoint dir — durable
    # storage in production via $SPARK_GRAFT_CHECKPOINT_DIR — rather than
    # localCheckpoint, which would pin the whole corpus to executor-local
    # storage with no lineage (any executor loss kills a 100 TB job).
    cleaned = materialize_tier(
        D.remove_repeated_spans(docs, n=8, min_docs=2)
        .select("doc_id", "source", X.scrub_pii("clean_text").alias("text")),
        site="pipeline2_cleaned",
    )
    model = X.char_ngram_model(cleaned, "text", n=3)
    scored = materialize_tier(
        X.charlm_score(cleaned, model, n=3)
        .join(cleaned.select("doc_id", "source", "text"), "doc_id"),
        site="pipeline2_scored",
    )
    thresh = scored.agg(
        F.percentile("avg_nll", F.lit(0.9)).alias("t")
    )
    fluent = scored.crossJoin(F.broadcast(thresh)).filter(
        F.col("avg_nll") < F.col("t")
    )
    resampled = SP.domain_resample(fluent, "source", "doc_id", alpha=0.7)
    counted = resampled.select(
        "doc_id", X.token_count("text").alias("n_tokens")
    )
    return (
        SP.pack_sequences(counted, seq_len=256, num_shards=4)
        .orderBy("shard", "bin")
    )


DOC_CURATION2_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(t[i : i+7], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-7, 1))) AS i) u
),
dups AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
spans AS (SELECT g.* FROM grams g JOIN dups USING (gram)),
keeper AS (SELECT gram, min({'d': doc_id, 'p': pos}) AS k FROM spans GROUP BY gram),
removed AS (
  SELECT s.doc_id, list(DISTINCT s.pos) AS starts
  FROM spans s JOIN keeper k USING (gram)
  WHERE NOT (s.doc_id = k.k.d AND s.pos = k.k.p)
  GROUP BY s.doc_id
),
cleaned AS (
  SELECT t.doc_id, d.source,
         regexp_replace(regexp_replace(regexp_replace(
             coalesce(array_to_string(list_filter(t.t, (x, i) ->
                 len(list_filter(coalesce(r.starts, []), s -> i >= s AND i < s + 8)) = 0
             ), ' '), ''),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\b[0-9]{9,18}\\b', '<NUM>', 'g') AS text
  FROM toks t JOIN documents d USING (doc_id) LEFT JOIN removed r USING (doc_id)
),
cgrams AS (
  SELECT c.doc_id, substring(c.text, i, 3) AS gram
  FROM cleaned c,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(c.text) - 2, 1))) AS i) u
),
model AS (
  SELECT gram, ln(count(*) * 1.0 / (SELECT count(*) FROM cgrams)) AS logp
  FROM cgrams GROUP BY gram
),
scored AS (
  SELECT g.doc_id, round(-avg(coalesce(m.logp, -20.0)), 4) AS avg_nll
  FROM cgrams g LEFT JOIN model m USING (gram)
  GROUP BY g.doc_id
),
fluent AS (
  SELECT c.doc_id, c.source, c.text
  FROM scored s JOIN cleaned c USING (doc_id)
  WHERE s.avg_nll < (SELECT quantile_cont(avg_nll, 0.9) FROM scored)
),
counts AS (SELECT source, count(*) AS n FROM fluent GROUP BY source),
rates AS (
  SELECT source,
         round((pow(n, 0.7) / n) / (SELECT max(pow(n, 0.7) / n) FROM counts), 6) AS rate
  FROM counts
),
resampled AS (
  SELECT f.doc_id, length(string_split(f.text, ' ')) AS n_tokens
  FROM fluent f JOIN rates r USING (source)
  WHERE ((f.doc_id * 1103515245 + 12345) % 2147483648) / 2147483648.0 < r.rate
),
binned AS (
  SELECT doc_id % 4 AS shard, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / 256.0) AS BIGINT) AS bin
  FROM resampled
)
SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(sum(n_tokens) / 256.0, 4) AS fill_ratio
FROM binned
GROUP BY shard, bin
ORDER BY shard, bin
"""

QUERIES["doc_curation_pipeline2"] = doc_curation_pipeline2
ORACLES["doc_curation_pipeline2"] = DOC_CURATION2_SQL


# ---- IVF-PQ ANN (round 7): the composed billion-scale shape, hash-paired ---

_IVFPQ_STAGE = f"{STAGE_DIR}/ivfpq_index"
_IVFPQ_NPROBE = 8


def emb_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (FAISS IVFx,PQy shape): coarse k-means prunes to nprobe
    inverted lists, PQ codes on the RESIDUAL v − centroid score them via
    per-centroid LUT folds, shortlist rerank is exact cosine
    (operators/similarity.py:ivfpq_build/ivfpq_probe). HASH-PAIRED via the
    index, built once per (app, corpus) straight into the staging path the
    oracle reads: the k-means fits stay Spark-side, but probe selection,
    residual ADC scoring, the shortlist, and the exact rerank all replay
    in SQL over the identical centroid/codebook/code tables."""
    from promhouse_spark.workloads.llmdata import _query_vec

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    stage_once(
        spark, sf_dir, _IVFPQ_STAGE,
        lambda: S.ivfpq_build(emb, _IVFPQ_STAGE, num_centroids=16, m=8, k=16),
    )
    return S.ivfpq_probe(
        spark, _IVFPQ_STAGE, emb, _query_vec(spark, sf_dir),
        topk=10, nprobe=_IVFPQ_NPROBE,
    )


EMB_IVFPQ_ANN_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
nq AS (
  SELECT list_transform(qv,
           x -> x / sqrt(list_sum(list_transform(qv, y -> y * y)))) AS v
  FROM q
),
cent AS (
  SELECT centroid_id, centroid
  FROM read_parquet('{_IVFPQ_STAGE}/centroids/*.parquet')
),
probe AS (
  SELECT centroid_id, centroid FROM cent, nq
  ORDER BY list_sum(list_transform(range(1, len(centroid) + 1),
             i -> (v[i] - centroid[i]) * (v[i] - centroid[i]))),
           centroid_id
  LIMIT {_IVFPQ_NPROBE}
),
cb AS (
  SELECT subspace, code, centroid AS cbc
  FROM read_parquet('{_IVFPQ_STAGE}/codebook/*.parquet')
),
lut AS (
  SELECT p.centroid_id AS cid, cb.subspace, cb.code,
         list_sum(list_transform(range(1, len(cbc) + 1),
           i -> ((v[cb.subspace * 8 + i] - p.centroid[cb.subspace * 8 + i]) - cbc[i])
              * ((v[cb.subspace * 8 + i] - p.centroid[cb.subspace * 8 + i]) - cbc[i])))
           AS d
  FROM cb, probe p, nq
),
codes AS (
  SELECT vec_id, centroid_id, codes
  FROM read_parquet('{_IVFPQ_STAGE}/codes/*/*.parquet', hive_partitioning = true)
  WHERE centroid_id IN (SELECT centroid_id FROM probe)
),
expanded AS (
  SELECT vec_id, centroid_id, unnest(codes) AS code,
         unnest(range(0, len(codes))) AS subspace
  FROM codes
),
adc AS (
  SELECT e.vec_id, sum(l.d) AS adc
  FROM expanded e
  JOIN lut l ON l.cid = e.centroid_id
            AND l.subspace = e.subspace AND l.code = e.code
  GROUP BY e.vec_id
),
short AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 100)
SELECT em.vec_id,
       round(list_cosine_similarity(CAST(em.embedding AS DOUBLE[]), q.qv), 4)
         AS cosine
FROM embeddings em JOIN short USING (vec_id), q
WHERE em.vec_id <> 0
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


QUERIES["emb_ivfpq_ann_topk"] = emb_ivfpq_ann_topk
ORACLES["emb_ivfpq_ann_topk"] = EMB_IVFPQ_ANN_SQL
