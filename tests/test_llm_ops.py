"""Unit tests for the LLM-pipeline operators: dedup (exact / minhash /
simhash / jaccard), similarity search, text analysis, multimodal plumbing.
Small hand-built corpora with known-duplicate structure."""

import math

import pytest
from pyspark.sql import functions as F

from promhouse_spark.operators import dedup as D
from promhouse_spark.operators import similarity as S
from promhouse_spark.operators import text as X
from promhouse_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tonight")  # one token differs
    other = "completely different content about spark query engines and shuffles"
    rows = [
        (1, base, "s1"),
        (2, base, "s1"),        # exact dup of 1
        (3, near, "s1"),        # near dup of 1
        (4, other, "s1"),
        (5, "short text", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_duplicates(corpus):
    groups = D.exact_duplicates(corpus).collect()
    assert len(groups) == 1
    assert groups[0]["keeper"] == 1 and groups[0]["n_copies"] == 2


def test_minhash_lsh_finds_near_dup(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_candidates(corpus).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # identical docs agree on every hash
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5  # near dup caught by LSH
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_simhash_fold_is_bit_exact(spark):
    """The packed-counter single-fold sketch must match the per-bit SimHash
    definition exactly: for every bit i, set iff 2·ones_i > n over the
    distinct-shingle xxhash64 values. Oracle is plain Python over Spark's
    own shingle hashes, so only the fold shape is under test."""
    import random

    from pyspark.sql import functions as F

    random.seed(11)
    words = [f"w{i}" for i in range(80)]
    rows = [
        (i, " ".join(random.choices(words, k=random.randint(5, 60))))
        for i in range(25)
    ] + [(100, "a b"), (101, "solo")]  # one-shingle and empty-shingle edges
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    toks = F.split(F.col("text"), " ")
    hs_rows = df.select(
        "doc_id",
        F.transform(
            F.array_distinct(D.shingles(toks, 2)), lambda s: F.xxhash64(s)
        ).alias("hs"),
    ).collect()
    for r in hs_rows:
        hs, n, fp = r["hs"], len(r["hs"]), 0
        for i in range(64):
            if 2 * sum((h >> i) & 1 for h in hs) > n:
                fp |= (1 << i) if i < 63 else -(1 << 63)
        fp &= (1 << 64) - 1
        fp = fp - (1 << 64) if fp >= (1 << 63) else fp
        assert got[r["doc_id"]] == fp


def test_simhash_near_duplicates(corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             D.simhash_near_duplicates(corpus, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0  # identical → identical simhash
    assert pairs.get((1, 3), 99) <= 10  # near dup → small hamming
    assert (1, 4) not in pairs


def test_ngram_jaccard_pairs(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, group_col="source", threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # base has 13 distinct tokens, near shares 12, union 14 → 12/14
    assert abs(pairs[(1, 3)] - round(12 / 14, 4)) < 1e-9
    assert (1, 4) not in pairs


def test_embedding_cosine_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),   # near dup of 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),      # same vector, different label → blocked
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.embedding_cosine_duplicates(df, group_col="label", threshold=0.99).collect()}
    assert pairs == {(1, 2)}


def test_cosine_topk_exact(spark):
    rows = [(i, [math.cos(i / 10.0), math.sin(i / 10.0)]) for i in range(1, 50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = S.cosine_topk(df, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 2, 3]  # smallest angles first
    assert top[0]["cosine"] >= top[1]["cosine"] >= top[2]["cosine"]


def test_lsh_ann_subset_of_exact_ordering(spark):
    rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.1 * (i % 3)]) for i in range(1, 100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.05, 0.0]
    approx = S.lsh_ann_topk(df, q, k=5, num_planes=4)
    exact = {r["vec_id"]: r["cosine"] for r in S.cosine_topk(df, q, k=99).collect()}
    got = approx.collect()
    assert 0 < len(got) <= 5
    for r in got:  # every ANN hit carries the true cosine score
        assert abs(exact[r["vec_id"]] - r["cosine"]) < 1e-6


def test_knn_join(spark):
    left = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    right = spark.createDataFrame(
        [(i, [math.cos(a), math.sin(a)]) for i, a in [(1, 0.1), (2, 0.5), (3, 1.4)]],
        "vec_id long, embedding array<float>",
    )
    rows = S.knn_join(left, right, k=2).collect()
    assert [r["right_id"] for r in rows] == [1, 2]


def test_knn_join_left_bound_enforced(spark):
    """The quadratic cross join must refuse an unbounded left side unless
    the caller opts out explicitly with max_left_rows=None."""
    big = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_left_rows"):
        S.knn_join(big, big, k=2, max_left_rows=10)
    # explicit opt-out runs (and still returns k rows per left id)
    rows = S.knn_join(big, big, k=2, max_left_rows=None).collect()
    assert len(rows) == 60
    # within the bound: unchanged behavior
    assert len(S.knn_join(big, big, k=1, max_left_rows=30).collect()) == 30


def test_text_ops(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat", 19)], "doc_id long, text string, n_chars long"
    )
    row = df.select(
        X.token_count("text").alias("n"),
        X.distinct_token_count("text").alias("d"),
        X.stopword_count("text", ("the", "and")).alias("s"),
        X.lang_id("text").alias("lang"),
        X.doc_fingerprint("text").alias("fp"),
    ).collect()[0]
    assert row["n"] == 5 and row["d"] == 4 and row["s"] == 3
    assert row["lang"] == "en"
    # fingerprint is order-insensitive on the token bag
    row2 = spark.createDataFrame([(1, "hat the the cat and", 19)], "doc_id long, text string, n_chars long") \
        .select(X.doc_fingerprint("text").alias("fp")).collect()[0]
    assert row["fp"] == row2["fp"]


def test_multimodal_pipeline(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", 11), (2, "", 0)], "doc_id long, text string, n_chars long"
    )
    assets = M.assets_from_documents(docs)
    assert [f.name for f in assets.schema.fields] == ["asset_id", "media_type", "payload", "meta"]
    feats = M.extract_features(assets, decoder=M.fake_decoder).collect()
    by_id = {r["asset_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == 11
    assert len(by_id[1]["feature"]) == 8
    assert by_id[1]["feature"][0] == 11.0  # first feature = byte length
    # default decoder sniffs magic bytes: raw utf-8 is no known container
    with pytest.raises(Exception) as ei:
        M.extract_features(assets).collect()
    assert "ValueError" in str(ei.value) or isinstance(ei.value, ValueError)
    # compressed codecs stay an explicit stub
    jpegish = spark.createDataFrame(
        [(3, "image", bytearray(b"\xff\xd8\xff\xe0jpegdata"), None)], M.ASSET_SCHEMA
    )
    with pytest.raises(Exception) as ei:
        M.extract_features(jpegish).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sample_plan(spark):
    assets = spark.createDataFrame(
        [(1, "video", bytearray(b"x"), (None, None, None, 3500, "h264"))],
        M.ASSET_SCHEMA,
    )
    frames = M.frame_sample_plan(assets, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_ngram_jaccard_max_df_skew_guard(corpus):
    # docs 1,2,3 share almost all tokens → every shared token has document
    # frequency 3/5 = 0.6 > 0.5 and is dropped by the cap
    pairs_exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, group_col="source", threshold=0.1).collect()
    }
    pairs_capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            corpus, group_col="source", threshold=0.1, max_df=0.5
        ).collect()
    }
    assert (1, 2) in pairs_capped and pairs_capped[(1, 2)] == 1.0  # exact dup survives
    # (1,3) was a near-dup on the full vocabulary; after the cap removes the
    # cluster-shared tokens only the differing tokens remain → pair drops out
    assert (1, 3) in pairs_exact and (1, 3) not in pairs_capped


def test_ivf_ann_recall(spark, tmp_path):
    import math

    rows = [(i, [math.cos(i / 25.0), math.sin(i / 25.0), ((i * 37) % 100) / 100.0])
            for i in range(1, 400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.1, 0.3]
    idx = str(tmp_path / "ivf")
    S.ivf_build(df, idx, num_centroids=8)
    exact = [r["vec_id"] for r in S.cosine_topk(df, q, k=10).collect()]
    approx = [r["vec_id"] for r in S.ivf_probe(spark, idx, q, k=10, nprobe=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall} (exact={exact}, approx={approx})"
    # full probe == exact
    full = [r["vec_id"] for r in S.ivf_probe(spark, idx, q, k=10, nprobe=8).collect()]
    assert full == exact


def test_ivf_add_null_embedding_lands_in_list_zero(spark, tmp_path):
    """A NULL embedding in an ivf_add batch appends without raising; the
    exact kernel assigns it like the reference fold does, to list 0."""
    rows = [(i, [float(i % 7), float(i % 5)]) for i in range(40)]
    idx = str(tmp_path / "ivf-null")
    S.ivf_build(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        idx,
        num_centroids=4,
    )
    S.ivf_add(
        spark,
        idx,
        spark.createDataFrame(
            [(100, None), (101, [6.0, 4.0])], "vec_id long, embedding array<double>"
        ),
    )
    vecs = spark.read.parquet(f"{idx}/vectors")
    assert vecs.count() == 42
    got = {r["vec_id"]: r["centroid_id"] for r in vecs.filter("vec_id >= 100").collect()}
    assert got[100] == 0


def test_multimodal_features_match_independent_python(spark, sf_dir):
    """VERDICT r2 task 6: doc_multimodal_features was the last query with no
    deterministic gate. Pin the per-asset feature table AND the driver
    query's aggregate against an INDEPENDENT plain-Python computation of the
    fake-decoder math over the same parquet rows (the math is re-implemented
    inline here, not imported, so a bug in fake_decoder or in the Spark
    plumbing — mapInPandas batching, join, aggregate — breaks this test)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from promhouse_spark.operators import multimodal as M
    from promhouse_spark.session import load_table
    from promhouse_spark.workloads.llmdata import doc_multimodal_features

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pylist()

    def features(payload: bytes) -> list[float]:
        # independent re-statement of the deterministic fake decoder
        if not payload:
            return [0.0] * 8
        n = len(payload)
        raw = [
            float(n),
            payload[0] / 255.0,
            payload[-1] / 255.0,
            sum(payload) / (255.0 * n),
            min(payload) / 255.0,
            max(payload) / 255.0,
            payload[n // 2] / 255.0,
            sum(1 for b in payload if b == 0) / n,
        ]
        # the Spark feature column is array<float> — round-trip through f32
        return [float(np.float32(x)) for x in raw]

    expected = {}
    for row in docs:
        payload = row["text"].encode("utf-8")
        expected[row["doc_id"]] = (features(payload), len(payload), row["source"])

    # 1) per-asset feature table: exact equality, every row
    assets = M.assets_from_documents(load_table(spark, sf_dir, "documents"))
    got = M.extract_features(assets, decoder=M.fake_decoder).collect()
    assert len(got) == len(expected)
    for r in got:
        feats, n_bytes, _ = expected[r["asset_id"]]
        assert r["n_bytes"] == n_bytes
        assert list(r["feature"]) == feats, f"asset {r['asset_id']} features differ"

    # 2) the driver query's per-source aggregate over the REAL netpbm path:
    # recompute the whole chain — P6 synthesis (md5 raster), header parse,
    # luma statistics — in plain Python, no promhouse imports in the math.
    import hashlib

    by_source = {}
    for row in docs:
        digest = hashlib.md5(row["text"].encode()).hexdigest()
        raster = (digest * 7)[:192].encode()
        payload = b"P6\n8 8\n255\n" + raster
        # independent parse: fixed header, then 64 RGB triples
        assert payload[:11] == b"P6\n8 8\n255\n" and len(payload) == 203
        px = [b / 255.0 for b in raster]
        luma = [
            0.299 * px[i] + 0.587 * px[i + 1] + 0.114 * px[i + 2]
            for i in range(0, 192, 3)
        ]
        mean = sum(luma) / 64
        var = sum((x - mean) ** 2 for x in luma) / 64
        f6 = float(np.float32(mean))
        f7 = float(np.float32(var**0.5))
        agg = by_source.setdefault(row["source"], [0, 0, 0.0, 0.0])
        agg[0] += 1
        agg[1] += len(payload)
        agg[2] += f6
        agg[3] += f7
    rows = doc_multimodal_features(spark, sf_dir).collect()
    assert sorted(r["source"] for r in rows) == sorted(by_source)
    for r in rows:
        n, total, lsum, ssum = by_source[r["source"]]
        assert r["n_assets"] == n
        assert r["total_bytes"] == total
        assert r["avg_luma"] == pytest.approx(round(lsum / n, 4), abs=1e-6)
        assert r["avg_luma_std"] == pytest.approx(round(ssum / n, 4), abs=1e-6)


def test_connected_components_chain_and_clique(spark):
    """A 4-node chain (worst-case diameter), a triangle, an isolated pair,
    and a singleton-free graph: every node must land on its component min,
    including multi-hop propagation along the chain."""
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),        # chain: component 10
         (20, 21), (21, 22), (20, 22),        # triangle: component 20
         (31, 30)],                           # pair given in desc order
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in D.connected_components(edges).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_connected_components_max_iter_bound(spark):
    """max_iter=1 on the chain stops after one hop — labels are the 1-hop
    minima, not the fixpoint — proving the bound actually cuts off."""
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in D.connected_components(edges, max_iter=1).collect()
    }
    assert got[13] == 12  # 1 hop: 13 sees only 12, not 10


def test_hash_split_deterministic_and_partition_independent(spark):
    from promhouse_spark.operators import sampling as SP

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    one = {r["doc_id"]: r["split"] for r in SP.hash_split(df, "doc_id").collect()}
    two = {
        r["doc_id"]: r["split"]
        for r in SP.hash_split(df.repartition(13), "doc_id").collect()
    }
    assert one == two  # partitioning must not affect assignment
    from collections import Counter

    frac = Counter(one.values())
    assert 0.75 <= frac["train"] / 2000 <= 0.85
    assert 0.05 <= frac["val"] / 2000 <= 0.15
    assert 0.05 <= frac["test"] / 2000 <= 0.15
    # xxhash64 production path: same contract, different hash
    x = {
        r["doc_id"]: r["split"]
        for r in SP.hash_split(df, "doc_id", method="xxhash64").collect()
    }
    assert set(x.values()) == {"train", "val", "test"}


def test_cardinality_approx_error_bound(spark, sf_dir):
    """ph_cardinality_approx is hash-paired (fixed-point HLL replayed in
    DuckDB over staged hashes); this is the accuracy gate on top of that:
    the m=16384 estimate within 2% of the exact countDistinct per group."""
    from promhouse_spark.workloads.extra import ph_cardinality_approx
    from promhouse_spark.session import load_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in ph_cardinality_approx(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["x"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(1, 0.02 * ex), (k, approx[k], ex)


def test_cardinality_kmv_error_bound(spark, sf_dir):
    """ph_cardinality_kmv IS oracle-paired (the estimator replays in SQL
    over staged hashes); this gates its STATISTICAL quality: the KMV
    estimate within 3/sqrt(k) relative error of the exact countDistinct,
    and exact below k."""
    from promhouse_spark.workloads.extra import _KMV_K, ph_cardinality_kmv
    from promhouse_spark.session import load_table

    est = {
        r["event_type"]: (r["est_users"], r["n_hashes"])
        for r in ph_cardinality_kmv(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["x"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert set(est) == set(exact)
    tol = 3.0 / (_KMV_K ** 0.5)
    for k, ex in exact.items():
        e, n = est[k]
        assert n == ex  # staged distinct hashes == distinct users
        if ex < _KMV_K:
            assert e == ex
        else:
            assert abs(e - ex) <= tol * ex, (k, e, ex)


def test_jaccard_prefix_filter_is_lossless(spark, sf_dir):
    """PPJoin prefix filtering must return the IDENTICAL pair set as the
    plain token join at every threshold — it is a candidate-pruning
    technique, not an approximation. Checked on real corpus data at three
    thresholds, grouped and ungrouped."""
    from promhouse_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    for thr, grp in [(0.5, None), (0.8, "source"), (0.3, "source")]:
        plain = sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs(
                    docs,
                    group_col=grp,
                    threshold=thr,
                    prefix_filter=False,
                    bitmask=False,  # pin the token join: this test is its coverage
                ).collect(),
            )
        )
        fast = sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs(
                    docs, group_col=grp, threshold=thr, prefix_filter=True
                ).collect(),
            )
        )
        assert fast == plain, f"thr={thr} grp={grp}: {len(fast)} vs {len(plain)}"


def test_jaccard_bitmask_is_lossless(spark, sf_dir):
    """The r12 bitmask path (≤64-token vocabulary → one long per doc,
    bit_count intersections) must return the IDENTICAL pair set as the
    plain token join — same pairs, same DOUBLES (the counts are the same
    integers, so i/(na+nb-i) must match bit for bit). Checked on the real
    corpus grouped and (forced) ungrouped, at three thresholds."""
    from promhouse_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    for thr, grp, bm in [
        (0.8, "source", "auto"),  # the judged queries' shape
        (0.3, "source", "auto"),
        (0.5, None, True),  # ungrouped needs the explicit opt-in
    ]:
        plain = sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs(
                    docs,
                    group_col=grp,
                    threshold=thr,
                    prefix_filter=False,
                    bitmask=False,
                ).collect(),
            )
        )
        fast = sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs(
                    docs,
                    group_col=grp,
                    threshold=thr,
                    prefix_filter=False,
                    bitmask=bm,
                ).collect(),
            )
        )
        assert fast == plain, f"thr={thr} grp={grp}: {len(fast)} vs {len(plain)}"
        assert len(plain) > 0  # a 0-row match certifies nothing


def test_jaccard_bitmask_gates(spark):
    """Auto-gating of the bitmask path: a >64-token vocabulary falls back
    (sniff returns None), NULL/empty texts behave like the token join,
    and threshold 0.0 keeps the token-join semantics (zero-overlap pairs
    stay absent)."""
    big_vocab = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(i, i + 10)), "s") for i in range(80)],
        "doc_id long, text string, source string",
    )
    assert D._small_vocabulary(big_vocab, "text", 64) is None

    rows = [
        (1, "a b c", "s"),
        (2, "a b c", "s"),
        (3, None, "s"),  # NULL text: no pairs either way
        (4, "", "s"),  # "" tokenizes to [""] — a real (odd) token
        (5, "x y z", "s"),  # zero overlap with doc 1/2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for thr in (0.5, 1.0):
        plain = sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs(
                    df, group_col="source", threshold=thr, bitmask=False
                ).collect(),
            )
        )
        fast = sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs(
                    df, group_col="source", threshold=thr, bitmask=True
                ).collect(),
            )
        )
        assert fast == plain, thr
    # threshold 0.0: auto must NOT engage (the dense form would emit
    # zero-overlap pairs the token join never produces)
    zero = D.ngram_jaccard_pairs(df, group_col="source", threshold=0.0)
    pairs = {(r["doc_a"], r["doc_b"]) for r in zero.collect()}
    assert (1, 5) not in pairs  # no shared token → absent, token-join semantics


def test_jaccard_bitmask_64_token_vocabulary(spark):
    """A vocabulary of exactly 64 tokens passes the bitmask gate, and the
    token at bit 63 (the sign bit of a long) must not overflow: the pair
    set and doubles equal the token join's."""
    vocab = [f"w{j}" for j in range(64)]
    rows = [
        (i, " ".join(vocab[(i * 5 + j) % 64] for j in range(12)), "s")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert len(D._small_vocabulary(df, "text", 64)) == 64

    def pairs(bitmask):
        return sorted(
            map(
                tuple,
                D.ngram_jaccard_pairs(
                    df, group_col="source", threshold=0.3, bitmask=bitmask
                ).collect(),
            )
        )

    plain = pairs(False)
    assert plain  # a 0-row match certifies nothing
    assert pairs(True) == plain


def test_jaccard_bitmask_forced_rejects_max_df(spark, corpus):
    with pytest.raises(ValueError, match="max_df"):
        D.ngram_jaccard_pairs(corpus, threshold=0.5, max_df=0.5, bitmask=True)


def test_jaccard_bitmask_forced_rejects_nonpositive_threshold(spark, corpus):
    for thr in (0.0, -0.1):
        with pytest.raises(ValueError, match="threshold > 0"):
            D.ngram_jaccard_pairs(corpus, threshold=thr, bitmask=True)


def test_jaccard_bitmask_missing_token_is_null_not_ansi_error(spark):
    """A token absent from the token→bit map gives a NULL mask (no pair)
    instead of an ANSI map-key error."""
    df = spark.createDataFrame(
        [(1, "a b", "s"), (2, "a b", "s"), (3, "a zz", "s")],
        "doc_id long, text string, source string",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = D._jaccard_bitmask(df, "doc_id", "text", "source", 0.5, ["a", "b"]).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def _zipf_corpus(spark, n_docs=120, vocab=400, seed=3):
    import random

    random.seed(seed)
    weights = [1.0 / (r + 1) for r in range(vocab)]
    tokens = [f"t{r}" for r in range(vocab)]
    rows = [
        (i, " ".join(random.choices(tokens, weights=weights, k=random.randint(8, 20))))
        for i in range(n_docs)
    ]
    rows.append((1000, rows[0][1]))  # exact dup → guaranteed pair
    rows.append((1001, rows[1][1] + " zzznovel"))  # near dup
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_vocabulary_skew_sniff(spark, sf_dir):
    """The df sniff must flag a Zipf corpus and NOT the driver's flat
    31-token synthetic vocabulary (where the prefix cannot prune)."""
    from promhouse_spark.session import load_table

    assert D._is_zipfian(D.vocabulary_skew(_zipf_corpus(spark)))
    docs = load_table(spark, sf_dir, "documents")
    assert not D._is_zipfian(D.vocabulary_skew(docs))


def test_jaccard_auto_prefix_on_zipf_corpus(spark):
    """On a Zipfian vocabulary, auto mode takes the prefix branch, generates
    strictly fewer candidate pairs than the plain token join, and returns
    the identical exact pair set."""
    df = _zipf_corpus(spark)
    plain = sorted(
        map(
            tuple,
            D.ngram_jaccard_pairs(df, threshold=0.5, prefix_filter=False).collect(),
        )
    )
    auto = sorted(map(tuple, D.ngram_jaccard_pairs(df, threshold=0.5).collect()))
    assert auto == plain
    assert len(plain) >= 2  # the planted dup + near-dup made it through

    arrs = D._token_arrays(df, "doc_id", "text", None)
    n_prefix = D._prefix_candidates(arrs, "doc_id", None, 0.5).count()
    toks = arrs.select("doc_id", F.explode("toks").alias("token"))
    a, b = toks.alias("a"), toks.alias("b")
    n_plain = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
        .count()
    )
    assert n_prefix < n_plain, (n_prefix, n_plain)


def test_bpe_train_rerank_and_greedy_merge(spark):
    """Merging 'a b' -> 'ab' must re-rank the NEXT round's pairs: ('ab','c')
    exists only after merge 1 and must win round 2 on the post-merge
    counts (tie with ('c','</w>') broken lexicographically). Also pins the
    greedy left-to-right fold: [a,a,a] with pair (a,a) -> [aa,a]."""
    from promhouse_spark.operators.text import bpe_train, merge_pair_expr

    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], "text string")
    merges, vocab = bpe_train(df, n_merges=3)
    assert merges == [(1, "a", "b", 3), (2, "ab", "c", 2), (3, "abc", "</w>", 2)]
    segs = {r.w: r.syms for r in vocab.collect()}
    vocab.unpersist()
    assert segs == {"abc": ["abc</w>"], "abd": ["ab", "d", "</w>"]}

    from pyspark.sql import functions as F

    folded = (
        spark.createDataFrame([(["a", "a", "a"],)], "syms array<string>")
        .select(merge_pair_expr(F.col("syms"), "a", "a").alias("m"))
        .first()
        .m
    )
    assert folded == ["aa", "a"]


def test_paragraph_dedup_finds_planted_boilerplate(spark):
    """A 5-word boilerplate paragraph shared by two otherwise-disjoint
    documents must surface as a cross-document paragraph pair — at
    whole-document granularity the Jaccard is far below threshold, which
    is the point of sub-document dedup. Both the exact and the MinHash
    paths must find it."""
    from promhouse_spark.operators import dedup as D

    boiler = "subscribe to our mailing list"
    rows = [
        (1, "alpha beta gamma delta epsilon " + boiler),
        (2, "one two three four five " + boiler),
        (3, "red green blue yellow purple cyan magenta umber teal navy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = D.paragraph_jaccard_pairs(
        df, chunk_words=5, threshold=0.9, prefix_filter=False
    ).collect()
    got = {(r.doc_a, r.para_a, r.doc_b, r.para_b) for r in exact}
    assert got == {(1, 1, 2, 1)}  # the boiler chunk, nothing else

    # whole-document exact jaccard misses it at the same threshold
    whole = D.ngram_jaccard_pairs(df, threshold=0.9, prefix_filter=False).collect()
    assert whole == []

    mh = D.paragraph_minhash_pairs(
        df, chunk_words=5, threshold=0.9, shingle_n=2
    ).collect()
    assert {(r.doc_a, r.para_a, r.doc_b, r.para_b) for r in mh} == {(1, 1, 2, 1)}


def test_gopher_signals_hand_computed(spark):
    """Gopher rule set on crafted documents: every signal pinned by hand."""
    from promhouse_spark.operators.text import gopher_signals

    good = " ".join(
        ["the", "be", "to", "of", "and"] * 12 + ["alpha", "beta"] * 5
    )  # 70 words, all alphabetic, 5 stopword kinds
    docs = spark.createDataFrame(
        [
            (1, good),
            # bullets + ellipsis + duplicate lines
            (2, "- one two...\n- one two...\nplain line here\n\npara\n\npara"),
            # symbols: 4 '#' in 8 words
            (3, "a# b# c# d# eeee ffff gggg hhhh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_signals(docs).collect()}
    g = out[1]
    assert g["n_words"] == 70 and g["alpha_word_frac"] == 1.0
    assert g["stop_hits"] == 5 and g["dup_line_frac"] == 0.0
    b = out[2]
    # 5 non-empty lines: two identical bullets (1 dup), plain, para, para (1 dup)
    assert b["bullet_line_frac"] == pytest.approx(2 / 5)
    assert b["ellipsis_line_frac"] == pytest.approx(2 / 5)
    assert b["dup_line_frac"] == pytest.approx(2 / 5)
    # paragraphs split on blank lines: [2 bullet lines + plain, para, para]
    assert b["dup_para_frac"] == pytest.approx(1 / 3)
    # duplicate chars: one '- one two...' (12) + one 'para' (4) of 47 total
    # (12+12+15+4+4)
    assert b["dup_line_char_frac"] == pytest.approx(round(16 / 47, 6))
    s = out[3]
    assert s["symbol_ratio"] == pytest.approx(4 / 8)
    assert not s["gopher_pass"]


def test_cluster_safe_split_no_leakage(spark):
    """Near-dup pairs NEVER straddle splits; singletons match hash_split."""
    from promhouse_spark.operators.sampling import cluster_safe_split, hash_split

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 41)], "doc_id long"
    )
    # chain 1-2-3 (one cluster via transitivity) + pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = cluster_safe_split(docs, pairs).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    rep_of = {r["doc_id"]: r["rep"] for r in out}
    assert rep_of[1] == rep_of[2] == rep_of[3] == 1
    assert split_of[1] == split_of[2] == split_of[3]
    assert split_of[10] == split_of[11]
    # singletons: identical to plain hash_split on their own id
    plain = {
        r["doc_id"]: r["split"] for r in hash_split(docs).collect()
    }
    for d in range(4, 10):
        assert split_of[d] == plain[d]


def test_shingles_null_and_empty_token_array(spark):
    """NULL and empty token arrays both produce the single empty-string
    shingle — a NULL-text doc must hash into minhash, not silently drop
    (the pre-zip_with sequence form's contract)."""
    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, []), (3, None)],
        "doc_id long, toks array<string>",
    )
    out = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", D.shingles("toks", n=3).alias("sh")).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == [""]
    assert out[3] == [""]


def test_quantize_matches_duckdb_rounding_mode():
    """Driver-side trainer quantization must round half-away-from-zero
    (DuckDB's mode), not Python's half-to-even — at an exact 1e-7
    midpoint the engines would otherwise diverge and the whole verified
    training trajectory hash would flip."""
    import duckdb

    from promhouse_spark.functions.quantize import quantize

    cases = [
        2.5, -2.5, 0.5, -0.5, 1.5, -1.5,  # digit-0 midpoints
        0.00000035, -0.00000035, 0.00000025, -0.00000025,  # 1e-7 grid
        0.12345675, -0.12345675, 1.0, -1.0, 0.0,
    ]
    for x in cases:
        for d in (0, 7):
            got = quantize(x, d)
            want = duckdb.sql(
                f"select round({x!r}::DOUBLE, {d})"
            ).fetchone()[0]
            assert got == want, (x, d, got, want)
    # the builtin disagrees at the canonical midpoint — proves the helper
    # is load-bearing, not redundant
    assert round(-2.5) != quantize(-2.5, 0)
