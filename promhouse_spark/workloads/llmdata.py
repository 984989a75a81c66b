"""LLM training-data pipeline workloads over ``documents`` / ``embeddings``
(beyond-reference, driver north star): dedup, text analysis, similarity
search — each SQL-expressible variant paired with a DuckDB oracle; the
sketch-based variants (MinHash-LSH, SimHash, hyperplane-LSH ANN) are
registered without oracles (driver records the weaker rows-only check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from promhouse_spark.operators import dedup as D
from promhouse_spark.operators import similarity as S
from promhouse_spark.operators import text as X
from promhouse_spark.session import STAGE_DIR, load_table, stage, stage_once


def doc_exact_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy). The driver corpus has no byte-identical
    duplicates, so the operator runs over documents ∪ documents — every text
    then has exactly one duplicate, making the check non-trivial."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_duplicates(docs.unionAll(docs)).orderBy("content_hash")


DOC_EXACT_DUP_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_copies
FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
GROUP BY md5(text)
HAVING count(*) > 1
ORDER BY content_hash
"""


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.text_stats(docs).orderBy("doc_id")


DOC_TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       round(length(list_distinct(string_split(text, ' '))) * 1.0
             / length(string_split(text, ' ')), 4) AS ttr
FROM documents
ORDER BY doc_id
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: length window + stopword density (C4-style cheap
    filter), aggregated per source for a compact comparable result."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "source", X.quality_flag("text", "n_chars").alias("ok")
    )
    return (
        flagged.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("ok").cast("long").alias("n_quality"))
        .orderBy("source")
    )


_EN_STOP = "('the','a','of','and','to','in','is')"

DOC_QUALITY_SQL = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_chars >= 100 AND n_chars <= 10000
                 AND length(list_filter(string_split(text, ' '), t -> t IN {_EN_STOP})) * 1.0
                     / length(string_split(text, ' ')) >= 0.001
                THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
FROM documents
GROUP BY source
ORDER BY source
"""


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID; output is the (actual lang × predicted)
    confusion table."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", X.lang_id("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


def _lang_hits_sql(words: tuple[str, ...]) -> str:
    inlist = ",".join(f"'{w}'" for w in words)
    return f"length(list_filter(string_split(text, ' '), t -> t IN ({inlist})))"


_HITS = {lang: _lang_hits_sql(words) for lang, words in X.LANG_STOPWORDS.items()}

DOC_LANG_ID_SQL = f"""
WITH scored AS (
  SELECT lang,
         {_HITS['en']} AS h_en, {_HITS['de']} AS h_de,
         {_HITS['fr']} AS h_fr, {_HITS['es']} AS h_es
  FROM documents
), best AS (
  SELECT lang, h_en, h_de, h_fr, h_es,
         greatest(h_en, h_de, h_fr, h_es) AS hb
  FROM scored
)
SELECT lang,
       CASE WHEN hb = 0 THEN 'unk'
            WHEN h_en = hb THEN 'en'
            WHEN h_de = hb THEN 'de'
            WHEN h_fr = hb THEN 'fr'
            ELSE 'es' END AS pred_lang,
       count(*) AS n
FROM best
GROUP BY 1, 2
ORDER BY lang, pred_lang
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words document fingerprint (md5 of sorted distinct tokens) —
    dedup at the near-exact level; returns distinct-fingerprint counts per
    source."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", X.doc_fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_distinct_fp"))
        .orderBy("source")
    )


DOC_FINGERPRINT_SQL = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS n_distinct_fp
FROM documents
GROUP BY source
ORDER BY source
"""


def doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram(1) Jaccard near-dup pairs within the same source
    (blocking keeps the candidate space bounded)."""
    docs = load_table(spark, sf_dir, "documents")
    # prefix_filter=False: the driver corpus has a flat 31-token vocabulary
    # (the auto sniff would pick the plain join anyway; pinning it skips the
    # sniff aggregate on the judged/benched path)
    return D.ngram_jaccard_pairs(
        docs, group_col="source", threshold=0.8, prefix_filter=False
    ).orderBy(
        "doc_a", "doc_b"
    )


DOC_JACCARD_SQL = """
WITH tok AS (
  SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
), sz AS (
  SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b
    ON a.token = b.token AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
ORDER BY doc_a, doc_b
"""


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])


def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-10 for vec_id 0's
    embedding (query excluded from candidates)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return S.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


EMB_COSINE_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 4) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


def emb_knn_within_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by label: cosine ≥ 0.35 within the
    same label group. (Production near-dup thresholds are ~0.9; the
    synthetic corpus has no planted label-blocked dups, so the judged
    entry uses a threshold that yields NON-EMPTY pairs at every sf —
    14/26/391 at sf0.001/0.01/0.1 — a 0-row hash match certifies nothing.
    The 0.9-threshold semantics are recall-gated on planted duplicates in
    tests/test_recall.py.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_cosine_duplicates(
        emb, group_col="label", threshold=0.35
    ).orderBy("id_a", "id_b")


def emb_knn_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join (operators/similarity.py:knn_join): the 5 lowest-id
    embeddings — a bounded query batch — each matched to their 3 nearest
    corpus neighbors by cosine. The bounded left side makes the cross join
    5×N (a broadcast nested-loop at any scale), so exact k-NN is safe here;
    unbounded-left callers use the LSH/IVF paths instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.orderBy("vec_id").limit(5)
    return S.knn_join(batch, emb, k=3).orderBy("left_id", F.desc("cosine"), "right_id")


EMB_KNN_JOIN_BATCH_SQL = """
SELECT left_id, right_id, cosine FROM (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 4) AS cosine,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(b.embedding AS DOUBLE[])), 4) DESC,
                    b.vec_id
         ) AS rn
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 5) a
  CROSS JOIN embeddings b
) WHERE rn <= 3
ORDER BY left_id, cosine DESC, right_id
"""


EMB_KNN_WITHIN_LABEL_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.35
ORDER BY id_a, id_b
"""


# ---- sketch-based operators: no SQL oracle (rows-only driver check) -------


_MINHASH_STAGE = f"{STAGE_DIR}/minhash_signatures.parquet"
_SIMHASH_STAGE = f"{STAGE_DIR}/simhash_fps.parquet"


def doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH candidates, HASH-PAIRED: the xxhash64
    signature computation (the only non-SQL-expressible step) persists to
    a staging parquet the DuckDB oracle reads, then banding, the candidate
    self-join, and the agreement estimate replay in SQL over the identical
    longs. The staged signature table is also the production shape — at
    100 TB you materialize signatures once and band from the table."""
    docs = load_table(spark, sf_dir, "documents")
    staged = stage_once(
        spark, sf_dir, _MINHASH_STAGE, lambda: D.minhash_signatures(docs)
    )
    return D.minhash_lsh_from_signatures(staged).orderBy("doc_a", "doc_b")


DOC_MINHASH_LSH_SQL = f"""
WITH sig AS (
  SELECT doc_id, signature FROM read_parquet('{_MINHASH_STAGE}/*.parquet')
),
banded AS (
  SELECT doc_id, b.band,
         list_slice(signature, b.band * 4 + 1, b.band * 4 + 4) AS chunk
  FROM sig, LATERAL (SELECT unnest(range(0, 12)) AS band) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       round(len(list_filter(range(1, 49),
                 i -> sa.signature[i] = sb.signature[i])) / 48.0, 4)
         AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
ORDER BY doc_a, doc_b
"""


def doc_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups, HASH-PAIRED the same way: the packed-counter
    fingerprint fold persists to staging; the oracle computes hamming for
    ALL pairs by XOR+popcount — equal to the banded path by the pigeonhole
    completeness the banding guarantees (and tests/test_recall.py pins)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = stage_once(spark, sf_dir, _SIMHASH_STAGE, lambda: D.simhash(docs))
    return D.simhash_pairs_from_fingerprints(staged, max_hamming=8).orderBy(
        "doc_a", "doc_b"
    )


DOC_SIMHASH_DUPS_SQL = f"""
WITH fp AS (
  SELECT doc_id, simhash FROM read_parquet('{_SIMHASH_STAGE}/*.parquet')
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
ORDER BY doc_a, doc_b
"""


# the SAME signature table serves both the banded-candidate query and the
# verified-jaccard headline (identical params) — one materialization per
# (app, corpus), the production share-the-signatures shape
_JACC_SIG_STAGE = _MINHASH_STAGE


def doc_shingle_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SANE exact-Jaccard headline: banded MinHash-LSH generates
    the candidate pairs (sub-quadratic — signatures are a map-side pass,
    the band self-join only collides true near-dups), then each candidate
    is verified with EXACT distinct-3-shingle Jaccard ≥ 0.8 via
    array_intersect on the full shingle sets. This is the production
    candidate-generate → exact-verify pipeline (Lee et al. 2022 shape):
    the expensive exact math touches |candidates| rows, never the corpus
    cross-product — unlike ``doc_jaccard_pairs`` (tail entry), which pins
    EXACT all-pairs unigram semantics and is inherently O(n²) on any
    corpus where every pair is a near-candidate. Recall at J ≥ 0.8 from
    12×4 banding is 1-(1-J⁴)¹² ≥ 0.998 (gated in tests/test_recall.py for
    the 0.9 regime). Hash-paired via the staged signature table."""
    docs = load_table(spark, sf_dir, "documents")
    staged = stage_once(
        spark, sf_dir, _JACC_SIG_STAGE, lambda: D.minhash_signatures(docs)
    )
    # pairs only — the est_jaccard attach would execute two signature
    # joins whose output this query never reads (measured r11: 2 broadcast
    # builds + 2 staged scans per run removed). The deduped pair set is
    # ≪ corpus by LSH construction, so one eager localCheckpoint
    # materializes it ONCE for its three consumers (ids union + the two
    # verification joins) — previously the whole banded self-join pipeline
    # re-executed three times inside one query (plan showed 3 copies).
    cand = D.minhash_lsh_candidate_pairs(staged).localCheckpoint(eager=True)
    # shingle sets ONLY for candidate documents (semi-join first): the
    # verification cost is bounded by |candidates|, and the join build side
    # stays broadcast-small — materializing shingles for the whole corpus
    # would make Spark broadcast a corpus-sized array column
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(ids, "doc_id", "left_semi").select(
        "doc_id",
        F.array_distinct(D.shingles(F.split("text", " "), 3)).alias("s"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    j = F.round(inter / union, 4)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


DOC_SHINGLE_JACCARD_SQL = f"""
WITH sig AS (
  SELECT doc_id, signature FROM read_parquet('{_JACC_SIG_STAGE}/*.parquet')
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
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
            i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT c.doc_a, c.doc_b,
       round(len(list_intersect(sa.s, sb.s)) * 1.0 /
             (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4)
         AS jaccard
FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
WHERE round(len(list_intersect(sa.s, sb.s)) * 1.0 /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4) >= 0.8
ORDER BY doc_a, doc_b
"""


def emb_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return S.lsh_ann_topk(emb, _query_vec(spark, sf_dir), k=10)


_IVF_STAGE = f"{STAGE_DIR}/ivf_index"


def emb_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from the PERSISTED index (build once per session via
    ``ivf_build``, then every query is an ``ivf_probe`` that scans only the
    nprobe nearest centroid partitions — directory pruning, the 100 TB
    serving shape). The quantizer is the deterministic lowest-id-init
    ``kmeans_fit``, so a rebuild over the same corpus reproduces the same
    index. nprobe=10 of 16 lists — the driver's embeddings
    are near-uniform, so the inverted lists separate weakly and
    recall@10 ≥ 0.8 needs a wide probe; clustered real-world embeddings
    reach the same recall at far lower nprobe.

    The index is built straight into the fixed path the DuckDB oracle
    reads, once per (app, corpus): the oracle does not replay the k-means
    fit, but probe selection + list scan + cosine top-k over the persisted
    index ARE replayed from these exact tables."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    stage_once(
        spark, sf_dir, _IVF_STAGE,
        lambda: S.ivf_build(emb, _IVF_STAGE, num_centroids=16),
    )
    return S.ivf_probe(spark, _IVF_STAGE, _query_vec(spark, sf_dir), k=10, nprobe=10)


EMB_IVF_ANN_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cent AS (
  SELECT centroid_id, centroid
  FROM read_parquet('{_IVF_STAGE}/centroids/*.parquet')
),
probe AS (
  SELECT centroid_id FROM cent, q
  ORDER BY list_sum(list_transform(range(1, len(centroid) + 1),
             i -> (centroid[i] - qv[i]) * (centroid[i] - qv[i]))),
           centroid_id
  LIMIT 10
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM read_parquet('{_IVF_STAGE}/vectors/*/*.parquet', hive_partitioning = true)
  WHERE centroid_id IN (SELECT centroid_id FROM probe)
)
SELECT vec_id, round(list_cosine_similarity(v, q.qv), 4) AS cosine
FROM vecs, q
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


QUERIES = {
    "doc_exact_dup": doc_exact_dup,
    "doc_token_stats": doc_token_stats,
    "doc_quality": doc_quality,
    "doc_lang_id": doc_lang_id,
    "doc_fingerprint": doc_fingerprint,
    "doc_jaccard_pairs": doc_jaccard_pairs,
    "emb_cosine_topk": emb_cosine_topk,
    "emb_knn_within_label": emb_knn_within_label,
    "emb_knn_join_batch": emb_knn_join_batch,
    "doc_minhash_lsh": doc_minhash_lsh,
    "doc_simhash_dups": doc_simhash_dups,
    "doc_shingle_jaccard_lsh": doc_shingle_jaccard_lsh,
    "emb_lsh_ann_topk": emb_lsh_ann_topk,
    "emb_ivf_ann_topk": emb_ivf_ann_topk,
}

def _lsh_ann_oracle_sql(
    num_planes: int = 6, dim: int = 64, seed: int = 42, k: int = 10,
    min_candidates: int = 250,
) -> str:
    """DuckDB replay of the FULL multiprobe LSH ANN algorithm
    (operators/similarity.py:lsh_ann_topk): the deterministic hyperplanes
    are embedded as literals, bucket signatures / query margins / the
    Lv-et-al probe-cost ordering / the greedy candidate-budget stop are all
    integer-or-window SQL, and the shortlist is scored exactly like the
    brute-force oracle. Converts the entry from rows-only to hash-paired —
    possible because hyperplane LSH is plain arithmetic over fixed planes,
    unlike the xxhash64-based MinHash/SimHash sketches."""
    from promhouse_spark.operators.similarity import _planes

    planes = _planes(num_planes, dim, seed)
    plit = "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
    ) + "]"
    np1 = num_planes + 1
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
planes AS (SELECT {plit} AS ps),
m AS (
  SELECT list_transform(planes.ps, p -> list_inner_product(q.qv, p)) AS ms
  FROM planes, q
),
qbits AS (
  SELECT list_sum(list_transform(range(1, {np1}), i ->
    CASE WHEN ms[i] > 0 THEN (1::BIGINT << (i-1)) ELSE 0 END)) AS qb
  FROM m
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id <> 0
),
bucketed AS (
  SELECT vec_id, v,
         list_sum(list_transform(range(1, {np1}), i ->
           CASE WHEN list_inner_product(v, planes.ps[i]) > 0
                THEN (1::BIGINT << (i-1)) ELSE 0 END)) AS b
  FROM vecs, planes
),
hist AS (SELECT b, count(*) AS cnt FROM bucketed GROUP BY b),
scored AS (
  SELECT t.b AS pb,
         list_sum(list_transform(range(1, {np1}), i ->
           CASE WHEN (xor(t.b, qbits.qb) >> (i-1)) & 1 = 1
                THEN abs(m.ms[i]) ELSE 0.0 END)) AS cost
  FROM (SELECT unnest(range(0, {1 << num_planes})) AS b) t, qbits, m
),
probe AS (
  SELECT pb,
         coalesce(sum(coalesce(h.cnt, 0)) OVER (
           ORDER BY cost, pb ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM scored LEFT JOIN hist h ON h.b = scored.pb
)
SELECT vec_id, round(list_cosine_similarity(v, q.qv), 4) AS cosine
FROM bucketed, q
WHERE b IN (SELECT pb FROM probe WHERE cum_before < {min_candidates})
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


EMB_LSH_ANN_SQL = _lsh_ann_oracle_sql()



ORACLES = {
    "doc_exact_dup": DOC_EXACT_DUP_SQL,
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_quality": DOC_QUALITY_SQL,
    "doc_lang_id": DOC_LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "doc_jaccard_pairs": DOC_JACCARD_SQL,
    "emb_cosine_topk": EMB_COSINE_TOPK_SQL,
    "emb_knn_within_label": EMB_KNN_WITHIN_LABEL_SQL,
    "emb_knn_join_batch": EMB_KNN_JOIN_BATCH_SQL,
    "emb_lsh_ann_topk": EMB_LSH_ANN_SQL,
    "doc_minhash_lsh": DOC_MINHASH_LSH_SQL,
    "doc_simhash_dups": DOC_SIMHASH_DUPS_SQL,
    "doc_shingle_jaccard_lsh": DOC_SHINGLE_JACCARD_SQL,
    "emb_ivf_ann_topk": EMB_IVF_ANN_SQL,
}


_MM_STAGE = f"{STAGE_DIR}/multimodal_features.parquet"


def doc_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end with REAL image decode: each document
    is wrapped as a valid 8×8 P6 netpbm asset (raster = md5-of-text bytes,
    synthesized JVM-side), then Arrow-batched mapInPandas runs the actual
    netpbm parser + feature extraction (operators/codecs.py) and the
    per-source aggregate reads decoded channel statistics. HASH-PAIRED via
    the decoded-feature STAGING frame: the Python decode (not
    SQL-expressible) lands in a staging parquet; the downstream arithmetic
    — join + per-source aggregate — replays in DuckDB over the identical
    doubles. Decode itself stays pinned against an independent plain-Python
    decode in tests/test_llm_ops.py."""
    from promhouse_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    assets = M.synthesize_pnm_assets(docs)
    feats = M.extract_features(assets, decoder=M.default_decoder)
    joined = feats.join(
        docs.select(F.col("doc_id").alias("asset_id"), "source"), "asset_id"
    )
    per_asset = joined.select(
        "asset_id",
        "source",
        "n_bytes",
        F.element_at("feature", 6).alias("luma"),
        F.element_at("feature", 7).alias("luma_std"),
    )
    staged = stage(per_asset, _MM_STAGE)
    return (
        staged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.round(F.avg("luma"), 4).alias("avg_luma"),
            F.round(F.avg("luma_std"), 4).alias("avg_luma_std"),
        )
        .orderBy("source")
    )


DOC_MULTIMODAL_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       round(avg(luma), 4) AS avg_luma,
       round(avg(luma_std), 4) AS avg_luma_std
FROM read_parquet('{_MM_STAGE}/*.parquet')
GROUP BY source
ORDER BY source
"""


QUERIES.update({"doc_multimodal_features": doc_multimodal_features})
ORACLES["doc_multimodal_features"] = DOC_MULTIMODAL_SQL
