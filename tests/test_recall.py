"""Quality gates for the sketch/ANN operators that have no SQL oracle
(VERDICT r1 task 2): each `no_oracle` driver query is backed here by a
deterministic check against an exact reference computed on the same data.

- LSH / IVF ANN: recall@10 >= 0.8 against the exact brute-force top-k
  (`emb_cosine_topk` is the driver baseline) on the real testdata.
- SimHash banding: recall must be EXACTLY 1.0 within the radius — the
  pigeonhole band split guarantees any pair at hamming <= k agrees on one
  whole band, so the banded join must return the identical pair set as a
  brute-force all-pairs hamming scan.
- MinHash LSH: every pair with exact shingle-Jaccard >= 0.9 must be in the
  candidate set (the 12x4 banding S-curve has threshold ~0.47, so 0.9-similar
  pairs escape with probability < 1e-9), and the signature estimate must be
  close to the exact Jaccard on those pairs.

All checks are deterministic: fixed seeds, fixed testdata, no sampling.
"""

import math

import pytest
from pyspark.sql import functions as F

from promhouse_spark.operators import dedup as D
from promhouse_spark.operators import similarity as S
from promhouse_spark.session import load_table

# slow tier (r12): ANN recall gates with planted corpora (~3 min). The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow



@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def query_vec(spark, sf_dir):
    emb_full = load_table(spark, sf_dir, "embeddings")
    return list(emb_full.filter(F.col("vec_id") == 0).select("embedding").first()[0])


@pytest.fixture(scope="module")
def exact_top10(emb, query_vec):
    return [r["vec_id"] for r in S.cosine_topk(emb, query_vec, k=10).collect()]


def test_lsh_ann_recall(emb, query_vec, exact_top10):
    got = [r["vec_id"] for r in S.lsh_ann_topk(emb, query_vec, k=10).collect()]
    assert len(got) == 10  # r1 regression: single-bucket probe returned 2/10
    recall = len(set(exact_top10) & set(got)) / 10
    assert recall >= 0.8, f"LSH recall@10 {recall} < 0.8 (exact={exact_top10}, got={got})"


def test_simhash_band_completeness(docs):
    """The banded join must find EVERY pair within the hamming radius: compare
    against brute-force all-pairs hamming over the collected fingerprints
    (500 docs -> 125k pairs in driver python, exact and cheap)."""
    max_hamming = 8
    fps = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    ids = sorted(fps)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            x = (fps[a] ^ fps[b]) & 0xFFFFFFFFFFFFFFFF
            if bin(x).count("1") <= max_hamming:
                brute.add((a, b))
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_near_duplicates(docs, max_hamming=max_hamming).collect()
    }
    assert banded == brute, (
        f"banding recall {len(banded & brute)}/{len(brute)}; "
        f"spurious={len(banded - brute)}"
    )


def test_minhash_recall_vs_exact_jaccard(docs):
    """Every >= 0.9-Jaccard pair (exact, on the same 3-gram shingle sets) must
    appear in the MinHash-LSH candidate set, with a close estimate."""
    shingle_n = 3
    rows = docs.select(
        "doc_id",
        F.array_distinct(
            D.shingles(F.split(F.col("text"), " "), shingle_n)
        ).alias("sh"),
    ).collect()
    sets = {r["doc_id"]: set(r["sh"]) for r in rows}
    ids = sorted(sets)
    exact = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.9:
                exact[(a, b)] = j
    cand = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_candidates(docs, shingle_n=shingle_n).collect()
    }
    missing = set(exact) - set(cand)
    assert not missing, f"minhash LSH missed high-jaccard pairs: {missing}"
    for pair, j in exact.items():
        assert abs(cand[pair] - j) <= 0.15, (
            f"estimate {cand[pair]} far from exact {j} for {pair}"
        )


def test_lsh_probe_order_is_margin_sorted():
    """Query-directed probe order: zero-flip bucket first, then buckets by
    ascending lost margin, covering all 2^planes ids exactly once."""
    margins = [0.5, -0.1, 0.3]
    qbits = 0b101  # signs of margins
    order = S._probe_order(qbits, margins)
    assert order[0] == qbits
    assert sorted(order) == list(range(8))
    def cost(b):
        flips = b ^ qbits
        return sum(abs(margins[i]) for i in range(3) if flips >> i & 1)
    costs = [cost(b) for b in order]
    assert costs == sorted(costs)
    # cheapest single flip is the smallest |margin| plane (bit 1)
    assert order[1] == qbits ^ 0b010


def test_ivf_persisted_index_prunes_partitions(spark, emb, query_vec, exact_top10, tmp_path):
    """Build/probe split: the persisted probe reaches recall@10 >= 0.8 at
    nprobe=10 of 16, and scans only the nprobe nearest inverted lists
    (centroid_id is a partition column -> directory pruning)."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "ivf")
    S.ivf_build(emb, idx, num_centroids=16)

    probed = S.ivf_probe(spark, idx, query_vec, k=10, nprobe=10)
    got = [r["vec_id"] for r in probed.collect()]
    assert len(got) == 10
    recall = len(set(exact_top10) & set(got)) / 10
    assert recall >= 0.8, f"IVF recall@10 {recall} < 0.8 (exact={exact_top10}, got={got})"

    # the executed scan must touch files from exactly <= nprobe partitions
    centers = {
        r["centroid_id"]: list(r["centroid"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    q = [float(x) for x in query_vec]
    probe = sorted(centers, key=lambda i: sum((a - b) ** 2 for a, b in zip(centers[i], q)))[:10]
    scanned = (
        spark.read.parquet(f"{idx}/vectors")
        .filter(F.col("centroid_id").isin(probe))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    dirs = {r["f"].rsplit("/", 2)[1] for r in scanned}
    assert len(dirs) <= 10
    assert all(d.startswith("centroid_id=") for d in dirs)
    assert {int(d.split("=")[1]) for d in dirs} <= set(probe)


def test_fold_assignment_matches_built_lists(spark, emb, tmp_path):
    """The reference column fold (kmeans.assign_with_dist, what a SQL
    engine replays) must put every vector in the inverted list the build
    wrote it to — both are L2-argmin over the same frozen centroids."""
    from promhouse_spark.operators.kmeans import assign_with_dist

    idx = str(tmp_path / "ivf-assign")
    S.ivf_build(emb, idx, num_centroids=16)
    centers_map = {
        r["centroid_id"]: list(r["centroid"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    centers = [centers_map[i] for i in range(len(centers_map))]
    built = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    recomputed = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_with_dist(emb, centers).collect()
    }
    assert recomputed == built


def test_ivf_add_registers_new_vectors(spark, emb, query_vec, tmp_path):
    """Incremental maintenance: vectors appended via ivf_add land in the
    correct inverted-list directory and are immediately visible to probes —
    a duplicate of the query vector must surface as the top hit."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "ivf-add")
    S.ivf_build(emb, idx, num_centroids=16)
    n0 = spark.read.parquet(f"{idx}/vectors").count()

    new = spark.createDataFrame(
        [(99991, [float(x) for x in query_vec], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    S.ivf_add(spark, idx, new)

    vecs = spark.read.parquet(f"{idx}/vectors")
    assert vecs.count() == n0 + 1
    # the new row's partition is the true nearest centroid
    centers_map = {
        r["centroid_id"]: list(r["centroid"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    q = [float(x) for x in query_vec]
    want = min(
        centers_map,
        key=lambda i: sum((a - b) ** 2 for a, b in zip(centers_map[i], q)),
    )
    got_cid = vecs.filter(F.col("vec_id") == 99991).collect()[0]["centroid_id"]
    assert got_cid == want
    # and the probe now surfaces it first (cosine 1.0 with itself)
    top = S.ivf_probe(spark, idx, query_vec, k=3, nprobe=4).collect()
    assert top[0]["vec_id"] == 99991


def test_ivf_drift_trigger_and_rebuild(spark, tmp_path):
    """Frozen-quantizer drift lifecycle. A skewed append (a dense new region
    centred on the bisector of the two closest STALE centroids) pushes the
    list imbalance over the rebuild threshold; ivf_rebuild restores balance
    and probe efficiency.

    The degradation to pin is PRUNING POWER, not recall-at-fixed-nprobe:
    assignment and probe share the same nearest-centroid metric, so a drift
    query's own list still holds its local neighbors — but that list has
    swallowed most of the drifted corpus, so the probe scans nearly
    everything (partition pruning in name only). After the refit the region
    owns proportionate centroids again: same recall, a fraction of the
    scanned rows."""
    import math
    import random

    random.seed(5)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    # unit-sphere corpus: the probe prunes by L2-to-centroid but scores by
    # cosine; on the sphere the two rankings agree
    base = [(i, unit([random.gauss(0, 1) for _ in range(3)])) for i in range(160)]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf-drift")
    S.ivf_build(df, idx, num_centroids=8)
    stats0 = S.ivf_list_stats(spark, idx)
    assert not S.ivf_needs_rebuild(stats0), stats0["imbalance"]

    centers = {
        r["centroid_id"]: list(r["centroid"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    ids = list(centers)
    ca, cb = min(
        ((a, b) for a in ids for b in ids if a < b),
        key=lambda p: sum((x - y) ** 2 for x, y in zip(centers[p[0]], centers[p[1]])),
    )
    mid = unit([(x + y) / 2 for x, y in zip(centers[ca], centers[cb])])
    drift = [
        (1000 + i, unit([m + random.uniform(-0.6, 0.6) for m in mid]))
        for i in range(600)
    ]
    S.ivf_add(
        spark,
        idx,
        spark.createDataFrame(drift, "vec_id long, embedding array<double>"),
    )
    stats1 = S.ivf_list_stats(spark, idx)
    assert S.ivf_needs_rebuild(stats1), stats1["imbalance"]
    assert stats1["n_vectors"] == 760

    # 8 deterministic queries from the drift region (the exact cap centre is
    # adversarial for ANY partitioning — it sits on every split boundary)
    queries = [drift[j][1] for j in range(0, 600, 75)]

    def avg_cost_recall(nprobe=2):
        """Mean over the drift queries of (rows the probe must scan,
        recall@10)."""
        cs = {
            r["centroid_id"]: list(r["centroid"])
            for r in spark.read.parquet(f"{idx}/centroids").collect()
        }
        sizes = S.ivf_list_stats(spark, idx)["list_sizes"]
        all_vecs = spark.read.parquet(f"{idx}/vectors").cache()
        costs, recalls = [], []
        for q in queries:
            probed = sorted(
                cs, key=lambda i: sum((a - b) ** 2 for a, b in zip(cs[i], q))
            )[:nprobe]
            costs.append(sum(sizes.get(c, 0) for c in probed))
            exact = {r["vec_id"] for r in S.cosine_topk(all_vecs, q, k=10).collect()}
            got = {
                r["vec_id"]
                for r in S.ivf_probe(spark, idx, q, k=10, nprobe=nprobe).collect()
            }
            recalls.append(len(exact & got) / 10)
        all_vecs.unpersist()
        return sum(costs) / len(costs), sum(recalls) / len(recalls)

    cost_before, recall_before = avg_cost_recall()
    S.ivf_rebuild(spark, idx)
    stats2 = S.ivf_list_stats(spark, idx)
    cost_after, recall_after = avg_cost_recall()

    assert stats2["imbalance"] < stats1["imbalance"]
    assert not S.ivf_needs_rebuild(stats2), stats2["imbalance"]
    # probe efficiency restored: recall held on a fraction of the rows
    assert recall_after >= 0.9 and recall_after >= recall_before - 0.1
    assert cost_after <= cost_before / 1.5, (cost_before, cost_after)


@pytest.fixture(scope="module")
def pq_index(spark, emb, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("pqidx") / "pq")
    S.pq_build(emb, idx, m=8, k=16)
    return idx


def test_pq_adc_recall_with_rerank(spark, emb, query_vec, exact_top10, pq_index):
    """Product quantization: 8-byte codes (m=8, k=16 over 64 dims), ADC
    shortlist of 100, exact cosine rerank. The reranked top-10 must hit
    recall@10 >= 0.8 against brute force, and because the rerank is exact,
    every returned cosine equals the brute-force value for that id."""
    idx = pq_index

    # stored codes really are m small ints (the 32x memory cut is real)
    codes = spark.read.parquet(f"{idx}/codes")
    row = codes.first()
    assert len(row["codes"]) == 8 and all(0 <= c < 16 for c in row["codes"])
    assert codes.count() == emb.count()

    got_rows = S.pq_probe(spark, idx, emb, query_vec, topk=10, shortlist=100).collect()
    got = [r["vec_id"] for r in got_rows]
    recall = len(set(exact_top10) & set(got)) / 10
    assert recall >= 0.8, f"PQ recall@10 {recall}"

    exact_cos = {
        r["vec_id"]: r["cosine"]
        for r in S.cosine_topk(emb, query_vec, k=len(emb.collect())).collect()
    }
    for r in got_rows:
        assert r["cosine"] == exact_cos[r["vec_id"]]


def test_pq_full_shortlist_is_exact(spark, emb, query_vec, exact_top10, pq_index):
    """Shortlist >= corpus size makes PQ degrade to exact brute force."""
    idx = pq_index
    n = emb.count()
    got = [
        r["vec_id"]
        for r in S.pq_probe(spark, idx, emb, query_vec, topk=10, shortlist=n).collect()
    ]
    assert got == exact_top10


def test_ivfpq_recall_and_pruning(spark, emb, query_vec, exact_top10, tmp_path):
    """IVF-PQ composition: residual-coded ADC over only the nprobe probed
    partitions must still reach recall@10 >= 0.8 after exact rerank, and
    the code scan must touch no directory outside the probe set. (This
    corpus is near-uniform random, the worst case for a coarse quantizer —
    12 of 16 lists are needed; clustered real embeddings prune far harder.)"""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "ivfpq")
    S.ivfpq_build(emb, idx, num_centroids=16, m=8, k=16)

    got = [
        r["vec_id"]
        for r in S.ivfpq_probe(
            spark, idx, emb, query_vec, topk=10, nprobe=12, shortlist=200
        ).collect()
    ]
    recall = len(set(exact_top10) & set(got)) / 10
    assert recall >= 0.8, f"IVF-PQ recall@10 {recall}"

    # partition pruning: the probed scan reads <= nprobe directories
    centers = {
        r["centroid_id"]: list(r["centroid"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    import math

    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q)) or 1.0
    q = [x / qn for x in q]
    probe = sorted(
        centers, key=lambda i: sum((a - b) ** 2 for a, b in zip(centers[i], q))
    )[:12]
    scanned = (
        spark.read.parquet(f"{idx}/codes")
        .filter(F.col("centroid_id").isin(probe))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    dirs = {r["f"].rsplit("/", 2)[1] for r in scanned}
    assert {int(d.split("=")[1]) for d in dirs} <= set(probe)


def test_embedding_lsh_duplicates_recall(spark, sf_dir):
    """Label-free LSH-bucketed embedding dedup: every emitted pair must be
    exact (precision 1 by construction — pairs are cosine-verified), and
    OR-amplified bucketing must recover ≥80% of the true ≥0.9-cosine pairs
    the brute-force label-blocked operator finds across ALL labels."""
    from promhouse_spark.operators import dedup as D
    from promhouse_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    truth = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_cosine_duplicates(
            emb, group_col=None, threshold=0.9
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_lsh_duplicates(emb, threshold=0.9).collect()
    }
    assert got <= truth  # no false positives — exact cosine gate
    if truth:
        recall = len(got & truth) / len(truth)
        assert recall >= 0.8, f"recall {recall:.2f} over {len(truth)} true pairs"


def test_semantic_dedup_recall(spark, sf_dir):
    """SemDeDup (k-means-blocked) pairs: every emitted pair is exact
    (cosine-verified within clusters — precision 1 vs brute force by
    construction), planted near-identical vectors are recovered, and
    overall recall vs the unblocked brute-force truth stays >= 0.8 (the
    only misses SemDeDup permits are cross-cluster, rare by design)."""
    from pyspark.sql import functions as F

    from promhouse_spark.operators import dedup as D
    from promhouse_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # plant: clone every 25th vector with a tiny first-component nudge
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x)
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(planted)
    n_planted = planted.count()

    truth = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_cosine_duplicates(
            corpus, group_col=None, threshold=0.95
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in D.semantic_dedup_pairs(
            corpus, num_centroids=8, threshold=0.95
        ).collect()
    }
    assert got <= truth  # precision 1: same exact-cosine gate
    planted_pairs = {(v, v + 1_000_000) for (v, _) in truth if (v, v + 1_000_000) in truth}
    found_planted = {p for p in planted_pairs if p in got}
    assert len(planted_pairs) >= n_planted  # the nudge kept cosine >= 0.95
    assert len(found_planted) / len(planted_pairs) >= 0.9
    if truth:
        assert len(got & truth) / len(truth) >= 0.8

    # the keep-min-id pruning drops exactly the distinct higher-id members
    kept = D.semantic_dedup(corpus, num_centroids=8, threshold=0.95)
    drop_ids = {b for (_, b) in got}
    assert kept.count() == corpus.count() - len(drop_ids)
