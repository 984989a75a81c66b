"""Deduplication operators for training-data pipelines (beyond-reference).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup — every kernel stays in
built-in Spark functions (xxhash64, higher-order array functions, aggregates),
so the hot path is JVM/Tungsten with whole-stage codegen; there is no Python
in any per-row loop. The shapes:

- exact:        hash-groupBy (one shuffle on the content hash)
- minhash+LSH:  shingle → signature (agg per doc) → band → bucket self-join —
                candidate pairs ∝ true near-dups, never O(n²)
- simhash:      64-bit sketch per doc + banded hamming join
- n-gram Jaccard: explode distinct shingles → equi-join on shingle →
                pair intersection counts (the exact version LSH approximates)

At 100 TB: the only all-to-all op is the bucket/band self-join, and its join
key (band hash / shingle) is high-cardinality by construction, so AQE's skew
split handles hot buckets; everything else is a keyed aggregation.

Note on caching: the pair-generating operators persist() the frame consumed
by both self-join sides (computing the signatures twice costs more than the
cache). The handles live until Spark's LRU eviction or session end — in a
long-lived driver that loops these operators, call
``spark.catalog.clearCache()`` between passes if storage-memory pressure
shows up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from promhouse_spark.session import materialize_tier

# MinHash parameter field: h32 in [0, 2^32); a·h+b stays < 2^63 (no overflow),
# reduced mod a prime > 2^32.
_MH_PRIME = 4294967311  # smallest prime > 2^32
_MH_MAX = (1 << 32) - 1


def _plan_probe(df: DataFrame) -> tuple[bool, int] | None:
    """Best-effort peek at Catalyst internals through the PRIVATE ``_jdf``
    py4j bridge — the only function in the engine that touches it (other
    operators import THIS helper rather than the bridge). Returns
    ``(plan_already_repartitioned, optimized_size_in_bytes)``, or ``None``
    whenever the bridge is unavailable or its shape changed (Spark Connect,
    version drift). Never raises: callers must treat ``None`` as "unknown"
    and decide from public metadata only."""
    try:
        qe = df._jdf.queryExecution()
        has_repartition = "Repartition" in qe.analyzed().toString()
        size = int(str(qe.optimizedPlan().stats().sizeInBytes()))
        return has_repartition, size
    except Exception:  # noqa: BLE001 — private API: any failure means "unknown"
        return None


def ensure_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Spread an under-partitioned input across the cluster before an
    explode-heavy stage. Small corpora often arrive as one parquet file →
    one partition → the whole shingle/sketch pipeline runs on one core.

    Parallelism is estimated WITHOUT ``df.rdd.getNumPartitions()`` (which
    forces plan-to-RDD conversion on every call, VERDICT r2 #5):

    - a scan backed by ≥ ``min(target, 8)`` files already parallelizes
      (public ``inputFiles()`` metadata);
    - a plan that already contains a repartition is left alone;
    - a big single-file scan is detected via the optimizer's size estimate
      vs ``spark.sql.files.maxPartitionBytes`` (the splitter makes ~one
      partition per maxPartitionBytes).

    The last two signals come from :func:`_plan_probe` (private API,
    isolated there); when the probe returns ``None`` the answer degrades to
    "repartition" — correct, at worst one redundant exchange on an input
    that was already spread. All metadata-only either way."""
    target = df.sparkSession.sparkContext.defaultParallelism
    need = min(target, 8)
    try:
        if len(df.inputFiles()) >= need:
            return df
    except Exception:  # noqa: BLE001 — e.g. non-file-backed plans
        pass
    probe = _plan_probe(df)
    if probe is not None:
        has_repartition, size = probe
        if has_repartition:
            return df  # caller already chose a distribution
        max_pb = 128 * 1024 * 1024
        try:
            raw = str(df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes"))
            max_pb = int(raw.lower().rstrip("b")) if raw.lower().rstrip("b").isdigit() else max_pb
        except Exception:  # noqa: BLE001
            pass
        if size >= need * max_pb:
            return df  # few big splittable files → the scan splitter spreads
    return df.repartition(target, *keys) if keys else df.repartition(target)


def _mh_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via splitmix64-style mixing of the seed."""
    params = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        # a stays below 2^31 so a·h32 + b < 2^63 (no LongType overflow)
        a = (z % ((1 << 31) - 1)) + 1
        b = (z >> 32) % _MH_PRIME
        params.append((a, b))
    return params


def shingles(tokens_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (docs shorter than n produce
    one truncated shingle).

    Built by zipping the array with its own shifted slices rather than
    ``slice(c, i, n)`` inside a transform lambda: higher-order lambdas
    evaluate interpreted (no common-subexpression elimination), so when
    callers pass a COMPUTED token expression (e.g. ``split(text)``) an
    inner reference re-runs it per shingle — O(words²) per document.
    The zip form references the token expression n+1 times per row."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    length = F.greatest(F.size(c) - (n - 1), F.lit(1))
    out = F.slice(c, 1, length)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(c, j + 1, length),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    # empty OR NULL token array: the original sequence form produced one
    # empty-string shingle for both (greatest() ignores NULL, concat_ws
    # skips a NULL array); preserve that contract — size(NULL) is NULL so
    # a bare == 0 test would silently drop NULL-text docs from minhash
    return F.when(
        c.isNull() | (F.size(c) <= 0), F.array(F.lit(""))
    ).otherwise(out)


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per duplicated content
    with the keeper (min id) and the group size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 48,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Per-doc MinHash signature as an array<long> column, entirely in
    built-ins and entirely shuffle-free: shingle → xxhash64 array, then one
    fold over the hashes with a ``num_hashes``-slot running-minimum
    accumulator — ``aggregate(h32s, [P..], (acc, x) -> zip_with(acc, params,
    (m, p) -> least(m, perm(p, x))))``.

    The earlier explode→groupBy formulation shuffled #docs × #shingles rows
    and paid 48-aggregate codegen; this is a pure per-row map — at 100 TB it
    pipelines with the scan, no exchange at all. The loop order matters:
    folding over the hash array once keeps the shingle split/hash chain
    evaluated once per document even after Catalyst's CollapseProject
    inlines it (the params-outer formulation re-hashed every shingle
    ``num_hashes``× because the inlined chain sat inside the per-param
    lambda)."""
    df = ensure_parallelism(df, id_col)
    toks = F.split(F.col(text_col), " ")
    h32s = F.transform(
        F.array_distinct(shingles(toks, shingle_n)),
        lambda s: F.pmod(F.xxhash64(s), F.lit(1 << 32)),
    )
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for (a, b) in _mh_params(num_hashes, seed)
        ]
    )
    # P is prime and > every pmod value, so it is the identity for least()
    init = F.array_repeat(F.lit(_MH_PRIME).cast("long"), num_hashes)
    sig = F.aggregate(
        h32s,
        init,
        lambda acc, x: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(m, F.pmod(p["a"] * x + p["b"], F.lit(_MH_PRIME))),
        ),
    )
    return df.select(F.col(id_col), sig.alias("signature"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate pairs with the
    estimated Jaccard (fraction of agreeing signature positions).

    Returns [doc_a, doc_b, est_jaccard]; rows/bands tunes the S-curve
    threshold (12 bands × 4 rows ≈ 0.47). 48 hash functions is the measured
    sweet spot for single-shot latency: codegen/JIT cost grows with the
    aggregate-expression count (64 also hits a pathological JIT regime on
    repeat runs), while fewer hashes lose estimator resolution."""
    # persisted once, consumed three times (both join sides share the banded
    # lineage; the signature attach reuses it after the pair dedup)
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, seed).persist()
    return minhash_lsh_from_signatures(sig, id_col, num_hashes, bands)


def minhash_lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 48,
    bands: int = 12,
) -> DataFrame:
    """Banding + candidate self-join ONLY: deduped (doc_a, doc_b) pairs
    without the signature re-attach — for consumers that verify candidates
    with their own exact measure (``doc_shingle_jaccard_lsh`` re-scores
    with exact shingle Jaccard and never reads ``est_jaccard``; executing
    the two attach joins there was pure waste — 2 broadcast builds + 2
    signature scans per run, measured r11)."""
    rows = num_hashes // bands
    # the band self-join moves only (id, band, bucket) — 24 bytes/row, not
    # the 48-long signature; at corpus scale the exchange is 20× slimmer and
    # the dedup shuffle never carries arrays. The band array is built as ONE
    # SQL expression string: the per-band F.struct/F.xxhash64/F.slice loop
    # cost ~0.5 s of py4j round trips per query BUILD (measured r11 —
    # repeated bench/driver invocations rebuild the plan each time), while
    # a single expr() parses server-side in ~1 ms; the analyzed plan is
    # identical (same functions, same literals).
    bands_sql = ", ".join(
        f"struct({i} AS band, "
        f"xxhash64(slice(signature, {i * rows + 1}, {rows})) AS bucket)"
        for i in range(bands)
    )
    banded = sig.select(
        F.col(id_col),
        F.expr(f"explode(array({bands_sql}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_from_signatures(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 48,
    bands: int = 12,
) -> DataFrame:
    """The banding + candidate-join stage of :func:`minhash_lsh_candidates`,
    taking an already-computed ``(id, signature array<long>)`` frame —
    split out so a PERSISTED signature table can feed it: the xxhash64
    signature computation is the only non-SQL-expressible step, so staging
    the signatures lets a SQL oracle replay banding, candidate join, and
    the agreement estimate over the identical longs."""
    pairs = minhash_lsh_candidate_pairs(sig, id_col, num_hashes, bands)
    # candidate pairs ≪ corpus: attach signatures after dedup (AQE picks
    # broadcast/shuffle by runtime size; ids are unique so no skew)
    attached = pairs.join(
        sig.select(F.col(id_col).alias("doc_a"), F.col("signature").alias("sig_a")),
        "doc_a",
    ).join(
        sig.select(F.col(id_col).alias("doc_b"), F.col("signature").alias("sig_b")),
        "doc_b",
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(num_hashes),
        4,
    )
    return attached.select("doc_a", "doc_b", est.alias("est_jaccard"))


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    num_bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document, all in built-ins and shuffle-free:
    shingle → xxhash64 array, then ONE fold over the hashes carrying all 64
    one-counters packed two-per-long in a 32-field struct accumulator (bit i
    and bit i+32 share long ``i`` as 32-bit lanes), then a per-doc unpack +
    bit-pack. Bit i of the fingerprint is set when the ±1 sum is positive,
    i.e. when ``2·ones_i > n``.

    Shape history, measured at sf0.1 (5000 docs, local[32], steady-state):
    explode→groupBy(64 conditional aggs) shuffled #docs × #shingles rows;
    64 separate scalar folds avoided the shuffle but re-traversed the hash
    array per bit — O(64·S), 2.6 s; an array<int> accumulator updated via
    ``zip_with`` was O(S) traversals but 3× SLOWER (7.5 s — per-element
    array allocation + 64 lambda dispatches); this struct-of-longs
    accumulator is O(S) with plain column arithmetic per step: 2.2 s, and
    the gap over the 64-fold version grows with document length. Counters
    are 32-bit so docs up to 2³¹ distinct shingles are safe."""
    df = ensure_parallelism(df, id_col)
    toks = F.split(F.col(text_col), " ")
    hs = F.transform(
        F.array_distinct(shingles(toks, shingle_n)), lambda s: F.xxhash64(s)
    )
    # hs/n materialized in their own projection so the folds reuse them
    withh = df.select(F.col(id_col), hs.alias("hs"), F.size(hs).alias("n"))
    n_lanes = num_bits // 2
    acc0 = F.struct(*[F.lit(0).cast("long").alias(f"c{j}") for j in range(n_lanes)])

    def step(acc, x):
        cols = []
        for j in range(n_lanes):
            lo = F.shiftright(x, j).bitwiseAND(F.lit(1))
            hi = F.shiftleft(F.shiftright(x, j + n_lanes).bitwiseAND(F.lit(1)), 32)
            cols.append((acc[f"c{j}"] + lo + hi).alias(f"c{j}"))
        return F.struct(*cols)

    packed = F.aggregate(F.col("hs"), acc0, step)
    w2 = withh.select(id_col, "n", packed.alias("pk"))
    fp = F.lit(0).cast("long")
    for i in range(num_bits):
        j, half = i % n_lanes, i // n_lanes
        cnt = F.shiftright(F.col("pk")[f"c{j}"], 32 * half).bitwiseAND(
            F.lit(0xFFFFFFFF)
        )
        # bit 63 is the sign bit in two's-complement LongType
        bit_value = (1 << i) if i < 63 else -(1 << 63)
        fp = fp.bitwiseOR(
            F.when(cnt * 2 > F.col("n"), F.lit(bit_value).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return w2.select(id_col, fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k, using band blocking.

    Pigeonhole: splitting 64 bits into ``max_hamming + 1`` bands guarantees
    any pair within distance ``max_hamming`` agrees on at least one whole
    band — so band count scales with the requested radius (k=3 → the classic
    4×16-bit split) and recall stays complete, never all-to-all."""
    fps = materialize_tier(simhash(df, id_col, text_col, shingle_n))
    return simhash_pairs_from_fingerprints(fps, id_col, max_hamming)


def simhash_pairs_from_fingerprints(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """The banding + hamming stage of :func:`simhash_near_duplicates` over
    an already-computed ``(id, simhash long)`` frame — split out so a
    persisted fingerprint table can feed it (the xxhash64 fingerprint is
    the only non-SQL step; pairing from the fingerprints is XOR+popcount
    any engine can replay)."""
    n_bands = min(max_hamming + 1, 32)
    # band bit-boundaries: spread 64 bits as evenly as possible
    bounds = [round(i * 64 / n_bands) for i in range(n_bands + 1)]
    banded = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", bounds[i])
                        .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                        .alias("chunk"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def vocabulary_skew(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """One-aggregate document-frequency sniff over the distinct-token frame,
    used to decide whether PPJoin prefix filtering will pay off.

    Prefix filtering wins exactly when the vocabulary is Zipfian: a hot head
    (stopword-class tokens that quadratically blow up the token self-join)
    plus a long rare tail (prefixes made of rare tokens have tiny join
    fan-out). Both signals come from the df distribution: ``max_df`` high →
    head exists; ``median_df`` low → tail exists. A flat vocabulary (like
    the driver's 31-token synthetic corpus) has a high max AND a high
    median — no tail, nothing to prune, prefix verification is pure
    overhead.

    Cost: one token-keyed aggregate (vocabulary-sized result) + one scalar
    aggregate — trivial next to the self-join it gates."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    )
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    row = dfreq.agg(
        F.count("*").alias("vocab"),
        F.max("df").alias("max_df"),
        F.percentile_approx("df", 0.5).alias("median_df"),
        F.sum("df").alias("total_tokens"),
    ).first()
    n_docs = df.count()
    return {
        "n_docs": n_docs,
        "vocab": row["vocab"],
        "max_df": row["max_df"],
        "median_df": row["median_df"],
        "total_tokens": row["total_tokens"],
    }


def _is_zipfian(stats: dict) -> bool:
    """Zipfian ⇔ a hot head exists (max df ≥ 5% of docs) AND the typical
    token is rare (median df ≤ max(2, 1% of docs))."""
    n = max(stats["n_docs"], 1)
    return stats["max_df"] >= 0.05 * n and stats["median_df"] <= max(2, 0.01 * n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    threshold: float = 0.5,
    max_df: float | None = None,
    prefix_filter: bool | str = "auto",
    bitmask: bool | str = "auto",
) -> DataFrame:
    """Exact distinct-token Jaccard similarity pairs ≥ threshold (optionally
    blocked by ``group_col`` to bound the candidate space).

    ``max_df`` is the skew guard for large corpora: tokens present in more
    than that fraction of documents (stopword-class tokens) are the hot join
    keys that quadratically blow up the token self-join; dropping them
    changes the token sets (Jaccard becomes approximate on the reduced
    vocabulary) but bounds the per-key join fan-out. Leave None for the
    exact oracle-comparable semantics.

    ``prefix_filter`` is the LOSSLESS version of that guard (SSJoin/PPJoin
    prefix filtering, Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): order
    tokens globally by ascending document frequency; any pair with
    J ≥ t must share a token within each side's first
    ``n − ⌈t·n⌉ + 1`` rarest tokens, so only those prefix rows enter the
    self-join (the frequent tokens that drive the quadratic fan-out are
    exactly the ones the prefix excludes), and the surviving candidates are
    rescored EXACTLY via array_intersect on the full token sets. Same
    result set, provably — equivalence is pinned in tests.

    Measured trade-off (sf0.1 driver corpus): the synthetic documents use a
    31-token vocabulary, so every token is stopword-class, the prefix can't
    prune (there ARE no rare tokens), and the verification pass adds work —
    plain join 1.3 s vs prefixed 2.2 s. On a real Zipfian vocabulary the
    prefix excludes the head of the distribution and the candidate set
    collapses toward the true pair set.

    The default ``prefix_filter="auto"`` measures the df distribution first
    (:func:`vocabulary_skew`, one cheap token aggregate) and turns the
    prefix on only for Zipfian vocabularies; both branches return the
    identical exact pair set, so auto-selection is a pure plan choice. Pass
    ``True``/``False`` to pin a branch when the corpus shape is known (the
    driver queries pin ``False``: flat synthetic vocabulary, skip the
    sniff).

    ``bitmask`` (r12) is the plan choice for exactly the corpus shape
    where neither guard helps: a FLAT vocabulary of ≤ 64 tokens, where
    every token is stopword-class, the prefix cannot prune, and the token
    self-join degenerates to the full in-group pair set carrying
    ~|intersection| join rows per pair into a pair-keyed aggregation.
    There each document's distinct-token set is ONE 64-bit integer
    (global token → bit, from a one-job vocabulary sniff that doubles as
    the ≤64 gate), pairs are enumerated once by the group equi-join, and
    ``|a ∩ b| = bit_count(a & b)`` is three integer ops per pair — no
    token explode on the join path, no pair-keyed aggregation, and the
    join shuffles 12 bytes per document instead of one row per token.
    The counts (i, na, nb) are the same integers as the token join's, so
    the produced doubles are bit-identical (pinned in tests). ``"auto"``
    engages it only when the semantics match the plain join (``max_df``
    None — the cap changes token sets; ``threshold > 0`` — at 0.0 the
    token join omits zero-overlap pairs, the dense form would emit them)
    and the enumeration scales (``group_col`` set → shuffle equi-join,
    never a corpus broadcast); pass ``True`` to force it ungrouped or
    ``False`` to skip the sniff job. Forcing it where the semantics differ
    (``max_df`` set, or ``threshold <= 0``) raises ``ValueError``."""
    df = ensure_parallelism(df, id_col)
    if bitmask == "auto":
        bitmask = (
            max_df is None
            and threshold > 0
            and group_col is not None
            and prefix_filter is not True  # an explicitly pinned plan wins
        )
    if bitmask:
        if max_df is not None:
            raise ValueError(
                "bitmask=True computes the exact join; max_df changes the "
                "semantics (capped vocabulary) — pick one"
            )
        if threshold <= 0:
            raise ValueError(
                "bitmask=True needs threshold > 0: the token join never "
                "emits zero-overlap pairs, the bitmask pair scan would"
            )
        vocab = _small_vocabulary(df, text_col, 64)
        if vocab is not None:
            return _jaccard_bitmask(
                df, id_col, text_col, group_col, threshold, vocab
            )
    if prefix_filter == "auto":
        # max_df requests the APPROXIMATE capped-vocabulary semantics; the
        # prefix branch computes the exact join, so it must not be
        # auto-substituted.
        prefix_filter = max_df is None and _is_zipfian(
            vocabulary_skew(df, id_col, text_col)
        )
    if prefix_filter:
        if max_df is not None:
            raise ValueError(
                "prefix_filter=True computes the exact join; max_df changes "
                "the semantics (capped vocabulary) — pick one"
            )
        return _jaccard_prefix_filtered(df, id_col, text_col, group_col, threshold)
    toks = df.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    ).persist()  # consumed three times: both join sides + the size table
    if max_df is not None:
        n_docs = df.count()
        hot = (
            toks.groupBy("token")
            .agg(F.countDistinct(id_col).alias("df"))
            .filter(F.col("df") > max_df * n_docs)
            .select("token")
        )
        toks = toks.join(F.broadcast(hot), "token", "left_anti").persist()
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    cond = (F.col("a.token") == F.col("b.token")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def _small_vocabulary(
    df: DataFrame, text_col: str, max_tokens: int
) -> list[str] | None:
    """The corpus's distinct-token vocabulary, sorted, if it has at most
    ``max_tokens`` entries — else None. One job: tokenize + distinct with
    a ``limit(max_tokens + 1)`` so an over-large vocabulary never collects
    more than the gate needs."""
    rows = (
        df.select(
            F.explode(
                F.array_distinct(F.split(F.col(text_col), " "))
            ).alias("token")
        )
        .distinct()
        .limit(max_tokens + 1)
        .collect()
    )
    if not rows or len(rows) > max_tokens:
        return None  # empty corpus: nothing to gain, skip the map literal
    return sorted(r["token"] for r in rows)


def _jaccard_bitmask(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None,
    threshold: float,
    vocab: list[str],
) -> DataFrame:
    """Exact Jaccard pairs for a ≤64-token vocabulary (see
    ngram_jaccard_pairs): each distinct-token set folds into one long via
    a token→bit map literal, the self-join enumerates in-group (a < b)
    pairs once, and intersection/sizes come from ``bit_count`` — the same
    integers the token join aggregates, so ``i/(na+nb-i)`` is the same
    double and the pair set is identical. A token missing from the map
    makes the document's mask NULL (``try_element_at``: no ANSI error),
    so it pairs with nothing."""
    # bit 63 is the sign bit in two's-complement LongType
    mlit = F.create_map(
        *[
            x
            for i, t in enumerate(vocab)
            for x in (
                F.lit(t),
                F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long"),
            )
        ]
    )
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    mask = F.aggregate(
        F.transform(toks, lambda t: F.try_element_at(mlit, t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    base = df.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        mask.alias("__m"),
    ).withColumn("__n", F.bit_count("__m"))
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    i = F.bit_count(F.col("a.__m").bitwiseAND(F.col("b.__m")))
    j = i / (F.col("a.__n") + F.col("b.__n") - i)
    return (
        a.join(b, cond)
        .filter(j >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(j, 4).alias("jaccard"),
        )
    )


def _token_arrays(
    df: DataFrame, id_col: str, text_col: str, group_col: str | None
) -> DataFrame:
    """(id, [group], toks: distinct-token array, n: its size), persisted —
    the shared base for prefix candidate generation and exact
    verification."""
    grp = [F.col(group_col)] if group_col else []
    return df.select(
        F.col(id_col),
        *grp,
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
        F.size(F.array_distinct(F.split(F.col(text_col), " "))).alias("n"),
    ).persist()


def _prefix_candidates(
    arrs: DataFrame, id_col: str, group_col: str | None, threshold: float
) -> DataFrame:
    """PPJoin candidate pairs: join only each document's rarest
    ``n − ⌈t·n⌉ + 1`` tokens in global ascending-df order."""
    grp = [F.col(group_col)] if group_col else []
    toks = arrs.select(id_col, *grp, "n", F.explode("toks").alias("token"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    ranked = toks.join(dfreq, "token")
    pos = F.row_number().over(W.partitionBy(id_col).orderBy("df", "token"))
    # ⌈t·n⌉ with a ulp guard: 0.8*20 must not float up to 16.0000…04 → 17
    # (a too-short prefix silently LOSES pairs; the guard only ever
    # lengthens it by at most one token)
    required = F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
    prefix = ranked.withColumn("pos", pos).filter(
        F.col("pos") <= F.col("n") - required + 1
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cond = (F.col("a.token") == F.col("b.token")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _jaccard_prefix_filtered(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None,
    threshold: float,
) -> DataFrame:
    """Prefix-filtered exact Jaccard join (see ngram_jaccard_pairs).

    Candidate generation joins only each document's rarest
    ``n − ⌈t·n⌉ + 1`` tokens (global ascending-df order — the canonical
    PPJoin order, maximizing pruning because rare tokens have tiny join
    fan-out); verification rescans nothing: candidates join back to the
    full distinct-token ARRAYS and ``size(array_intersect())`` gives the
    exact overlap in one vectorized pass."""
    arrs = _token_arrays(df, id_col, text_col, group_col)
    cand = _prefix_candidates(arrs, id_col, group_col, threshold)
    ja = arrs.select(F.col(id_col).alias("doc_a"), F.col("toks").alias("ta"),
                     F.col("n").alias("na"))
    jb = arrs.select(F.col(id_col).alias("doc_b"), F.col("toks").alias("tb"),
                     F.col("n").alias("nb"))
    i = F.size(F.array_intersect("ta", "tb"))
    j = i / (F.col("na") + F.col("nb") - i)
    return (
        cand.join(ja, "doc_a")
        .join(jb, "doc_b")
        .filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def embedding_cosine_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold, optionally blocked by
    ``group_col`` (cluster/label) to avoid the full cross join."""
    df = ensure_parallelism(df, id_col)
    v = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)).alias("norm"),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if group_col:
        cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Distributed connected components over an undirected dup-pair graph:
    the glue between pair generation (Jaccard / MinHash / SimHash /
    embedding-cosine) and "keep one document per duplicate cluster".

    Min-label propagation over the static symmetrized edge set: every node
    starts labeled with its own id; each round every node takes the minimum
    of its label and its neighbors' labels (one shuffle-join on node id +
    one keyed aggregation per round). By induction the label after round k
    is the minimum id within k hops, so the fixpoint is the component
    minimum, reached in O(diameter) rounds — 1-2 for real duplicate
    clusters, which are near-cliques; ``max_iter`` bounds adversarial
    chains. Per round the label frame is localCheckpointed — without it the
    join lineage doubles per iteration and Catalyst re-plans the whole
    history.

    Returns (node, component) with component = min node id reachable.
    Driver-side work is one boolean convergence check per round (``head(1)``
    on the changed-labels frame), never the edge or node set itself.
    """
    # undirected → both directions, self-loops dropped; edges are REUSED
    # every round, so materialize once
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    e = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = e.select("u").distinct().select("u", F.col("u").alias("label"))
    for _ in range(max_iter):
        neigh = (
            e.join(lab.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        nxt = (
            lab.join(neigh, "u", "left")
            .select(
                "u",
                F.least("label", F.coalesce("nmin", "label")).alias("label"),
                (F.col("nmin") < F.col("label")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        done = not nxt.filter(F.col("changed")).head(1)
        lab = nxt.drop("changed")
        if done:
            break
    return lab.select(F.col("u").alias("node"), F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# Exact substring (repeated n-gram span) deduplication — beyond-reference.
#
# The Spark-friendly rendering of "Deduplicating Training Data Makes Language
# Models Better" (Lee et al., 2022, arXiv:2107.06499): the paper builds a
# corpus-wide suffix array to find byte spans repeated across documents; a
# suffix array is a single global sorted structure that fights Spark's
# partitioned execution model, so here the repeated-span detector is the
# standard distributed approximation — fixed-length word n-grams, one
# explode + one keyed aggregation. A span of length ≥ n repeated across
# documents necessarily repeats every one of its length-n sub-grams, so
# n-gram detection is complete for spans ≥ n (it cannot miss one); removal
# then masks every token covered by a repeated gram.
# ---------------------------------------------------------------------------


def repeated_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Word n-grams that occur in ≥ ``min_docs`` distinct documents:
    (gram, n_docs, n_occ).

    Shape at scale: explode is a per-row flat map that pipelines with the
    scan (no exchange); the single shuffle is the groupBy on the gram, with
    map-side partial aggregation. ``count(distinct doc_id)`` plans as
    Spark's two-phase partial-distinct expand — still one data-scale
    exchange. For 100 TB the gram key should be ``xxhash64(gram)`` with a
    ``min(gram)`` exemplar to shrink shuffle rows ~5×; at test scale the
    plain gram keeps the result oracle-comparable.
    """
    df = ensure_parallelism(df, id_col)
    toks = F.split(F.col(text_col), " ")
    g = df.select(
        F.col(id_col), F.explode(shingles(toks, n)).alias("gram")
    )
    return (
        g.groupBy("gram")
        .agg(
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Every (doc, position) whose word n-gram is repeated across ≥
    ``min_docs`` documents: (id, pos, gram), pos 1-based.

    The dup-gram set rejoins the positional gram stream on the gram key —
    both sides hash-partition on the same key, so the join reuses the
    aggregation's partitioning (no extra exchange of the big side beyond
    the one the aggregation already paid)."""
    dups = repeated_ngrams(df, id_col, text_col, n, min_docs).select("gram")
    toks = F.split(F.col(text_col), " ")
    pos_grams = df.select(
        F.col(id_col),
        F.posexplode(shingles(toks, n)).alias("pos0", "gram"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "gram")
    return pos_grams.join(dups, "gram").select(id_col, "pos", "gram")


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Lee et al.-style span removal: for every cross-document repeated
    n-gram, keep the globally-first occurrence (min (id, pos)) and delete
    the tokens of every other occurrence. Returns the input columns plus
    ``clean_text`` and ``n_removed_tokens``.

    Distributed shape: ONE positional gram explode feeds both a single
    gram-keyed aggregation — the distinct-doc dup test AND the
    globally-first keeper (min (id, pos) packed into a sortable struct,
    avoiding a window over the full span stream) come out of the same
    pass — and the join probe that re-attaches every occurrence; both
    sides hash-partition on the gram, so runtime exchange reuse executes
    the explode once. (The previous form ran the dup test as its own
    explode+aggregation (repeated_ngram_spans), joined, then aggregated
    the surviving span stream AGAIN for the keeper — two more gram-scale
    exchanges over the corpus for values this single aggregation already
    had. The keeper min is over the same set either way: the spans of a
    dup gram are exactly that gram's occurrences.) Per-doc span lists
    come back via one join on the doc id; the final mask is a pure
    per-row two-arg ``filter`` lambda over the token array — no window
    functions, nothing driver-side.
    """
    toks0 = F.split(F.col(text_col), " ")
    pos_grams = (
        ensure_parallelism(df, id_col)
        .select(
            F.col(id_col),
            F.posexplode(shingles(toks0, n)).alias("pos0", "gram"),
        )
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "gram")
    )
    keeper = (
        pos_grams.groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("_nd"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("k"),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("gram", F.col(f"k.{id_col}").alias("_kid"), F.col("k.pos").alias("_kpos"))
    )
    removed = (
        pos_grams.join(keeper, "gram")
        .filter(~((F.col(id_col) == F.col("_kid")) & (F.col("pos") == F.col("_kpos"))))
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_starts"))
    )
    out = df.join(removed, id_col, "left")
    toks = F.split(F.col(text_col), " ")
    starts = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    # token at 0-based index i is covered iff some span start s (1-based)
    # satisfies s-1 <= i < s-1+n
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            starts, lambda s: (i >= s - 1) & (i < s - 1 + F.lit(n))
        ),
    )
    return out.select(
        *df.columns,
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed_tokens"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS local
# document fingerprinting algorithm): rolling-hash every character k-gram,
# then keep the minimum hash of every window of w consecutive k-gram hashes.
# The guarantee: any shared substring of length ≥ w+k-1 contributes at least
# one IDENTICAL selected fingerprint to both documents, so overlap detection
# needs only an equi-join on the fingerprint value — position-robust where
# the word-n-gram path (repeated_ngrams) is tokenization-bound.
#
# The gram hash is a polynomial fold ((acc·257 + char) mod 2³¹−1) instead of
# xxhash64 because the DuckDB oracle must compute bit-identical values —
# both engines fold the same ASCII codes with the same arithmetic.
# ---------------------------------------------------------------------------

_WINNOW_BASE = 257
_WINNOW_MOD = 2147483647


def _gram_hash(gram: Column) -> Column:
    codes = F.transform(
        F.sequence(F.lit(1), F.length(gram)),
        lambda j: F.ascii(gram.substr(j, F.lit(1))),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _WINNOW_BASE + c) % _WINNOW_MOD,
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint set: (id, fp) — fp the selected
    (window-minimum) k-gram hashes, distinct per doc.

    Shape: posexplode the k-gram positions (a generator, pipelines with the
    scan), hash each gram with ONE bounded fold per row, then a per-doc
    rolling ``min`` window over ``w`` consecutive positions + distinct.
    One shuffle on the doc id (the window), one on (id, fp) (the
    distinct) — both bounded by document length.

    An earlier all-array formulation (transform-of-slice-of-transform)
    looked shuffle-free but was O(len²·k) per document: Catalyst inlines
    the hash-array expression into the window-min lambda, so every window
    recomputed EVERY gram hash — the same inlining trap
    ``minhash_signatures`` documents. Flat rows + a window function keep
    each hash computed once and inside codegen."""
    c = F.col(text_col)
    # Per-position k-gram hashes via Horner over k SHIFTED SLICES of a
    # once-computed char-code array, instead of hashing each k-char
    # substring independently: the per-gram fold re-ran substr+ascii
    # k times per position (len·k string ops, 7.8 s of the 10 s
    # fingerprint stage at sf0.1 — measured r11), while here each char
    # code is extracted once and the k Horner passes are integer-only
    # zip_with sweeps. The arithmetic is the identical
    # ``acc·B + code (mod M)`` recurrence over the identical codes, so
    # every hash is the same long (integer-exact; pinned by equality
    # tests) and the DuckDB oracle is untouched. Docs shorter than k
    # keep the single truncated-gram hash via the per-gram fold.
    codes = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda j: F.ascii(c.substr(j, F.lit(1))).cast("long"),
    )
    # bind the code array to an ATTRIBUTE before slicing: the k shifted
    # slices below would otherwise each re-evaluate the codes transform
    # (no CSE across interpreted expressions — measured 3× SLOWER than
    # the per-gram fold when left inline, r11)
    staged = df.select(
        F.col(id_col), c.alias("__t"), codes.alias("__cd")
    )
    tc = F.col("__t")
    npos = F.greatest(F.length(tc) - (k - 1), F.lit(1))
    acc = F.slice(F.col("__cd"), 1, npos)
    for j in range(1, k):
        acc = F.zip_with(
            F.slice(F.col("__cd"), j + 1, npos),
            acc,
            lambda cj, a: (a * _WINNOW_BASE + cj) % _WINNOW_MOD,
        )
    # NULL text keeps its single (pos 0, NULL-hash) row exactly like the
    # per-gram form (greatest() ignores NULL, so the old sequence still
    # emitted one gram); without the isNull arm the row would vanish
    hashes = F.when(
        tc.isNull() | (F.length(tc) < k), F.array(_gram_hash(tc))
    ).otherwise(acc)
    pos = staged.select(
        F.col(id_col), F.posexplode(hashes).alias("__i", "__h")
    )
    from pyspark.sql import Window as W

    doc_w = W.partitionBy(id_col).orderBy("__i")
    roll = doc_w.rowsBetween(0, w - 1)
    mins = pos.select(
        F.col(id_col),
        "__i",
        F.min("__h").over(roll).alias("fp"),
        F.max("__i").over(
            W.partitionBy(id_col).rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("__maxi"),
    )
    # windows exist only at positions 0..max(len-w, 0) (0-based posexplode);
    # shorter docs keep their single truncated window
    return (
        mins.filter(F.col("__i") <= F.greatest(F.col("__maxi") - (w - 1), F.lit(0)))
        .select(id_col, "fp")
        .distinct()
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 3,
    max_df: float | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints:
    (doc_a, doc_b, n_shared). The pair generator is an equi-join on the
    fingerprint value — bucketed by construction (each fp joins only its
    own bucket), never all-pairs.

    ``max_df`` is the hot-key guard (guide §2.5, same contract as the
    Jaccard path's ``max_df``): a fingerprint present in more than that
    FRACTION of documents — boilerplate shared by f docs produces f² join
    rows — is dropped before the self-join, bounding the per-key fan-out
    at the cost of not counting boilerplate fingerprints toward
    ``n_shared`` (overlap becomes approximate on the reduced set). Leave
    None for the exact oracle-comparable semantics."""
    # materialize the fingerprint set ONCE: both sides of the self-join
    # consume it, and without the checkpoint the whole fingerprint
    # pipeline (posexplode + per-gram k-char polynomial hash + rolling
    # window + distinct) executed twice per run (r11; the fingerprint
    # set is the winnowed ~2/(w+1) selection of positions, far smaller
    # than the gram stream it derives from — at production scale this is
    # the "stage the signatures" shape the minhash path already uses)
    fps = winnowing_fingerprints(df, id_col, text_col, k, w).localCheckpoint(
        eager=True
    )
    if max_df is not None:
        # document frequency per fingerprint over the (already distinct
        # per doc) fingerprint set — one fp-keyed aggregate, tiny next to
        # the self-join it gates; the threshold scales with the corpus
        n_docs = df.select(id_col).distinct().count()
        cap = max(1, int(max_df * n_docs))
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > cap)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("doc_a"), "fp")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def embedding_lsh_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_tables: int = 6,
    planes_per_table: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Label-free embedding near-dup pairs at scale: block by random
    hyperplane LSH buckets instead of a metadata column, generate pairs
    only WITHIN buckets, then keep pairs whose exact cosine ≥ threshold.

    ``num_tables`` independent hash tables (different plane seeds) give the
    standard OR-amplified recall: two vectors at angle θ collide in one
    table with prob (1 − θ/π)^planes, missed by all tables with prob
    (1 − p)^tables. Candidate volume stays bucket-bounded — never the
    all-pairs join ``embedding_cosine_duplicates`` needs blocking to
    avoid — and pairs found by several tables dedupe before the exact
    cosine, so the expensive math runs once per candidate.

    Same output shape as ``embedding_cosine_duplicates``:
    (id_a, id_b, cosine)."""
    from promhouse_spark.operators.similarity import _planes, lsh_bucket

    df = ensure_parallelism(df, id_col)
    v = F.col(vec_col).cast("array<double>")
    dim = len(df.select(vec_col).first()[0])
    base = df.select(
        F.col(id_col),
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias("n"),
        *[
            lsh_bucket(v, _planes(planes_per_table, dim, seed + 1000 * t)).alias(
                f"__b{t}"
            )
            for t in range(num_tables)
        ],
    ).persist()
    cand = None
    for t in range(num_tables):
        a = base.select(F.col(id_col).alias("doc_a"), F.col(f"__b{t}").alias("__b"))
        b = base.select(F.col(id_col).alias("doc_b"), F.col(f"__b{t}").alias("__b"))
        pairs = a.join(b, "__b").filter(F.col("doc_a") < F.col("doc_b")).select(
            "doc_a", "doc_b"
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()
    left = base.select(
        F.col(id_col).alias("doc_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    right = base.select(
        F.col(id_col).alias("doc_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        cand.join(left, "doc_a")
        .join(right, "doc_b")
        .select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---- SemDeDup: k-means-blocked semantic dedup (Abbas et al. 2023) --------


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings with the IVF coarse quantizer
    (operators/similarity.py:ivf_index — the package's one k-means,
    ``kmeans.kmeans_fit``, and its exact nearest-centroid kernel), then
    exact cosine pairs WITHIN each cluster only. The candidate space
    is cluster-bounded — sum of per-cluster squares, never the corpus
    cross-join — which is the whole SemDeDup idea: at 100 TB you pick
    num_centroids so clusters hold ~1e4 vectors and intra-cluster pairs
    stay tractable, trading recall of cross-cluster near-dups (rare by
    construction: near-identical embeddings land on the same centroid).

    Label-FREE, unlike ``embedding_cosine_duplicates(group_col=...)``, and
    cheaper than the OR-amplified ``embedding_lsh_duplicates`` when a
    corpus-level clustering is already being built for curation anyway.

    Output: (id_a, id_b, cosine) — identical shape to the other embedding
    pair generators, so connected_components / keep-one policies compose.
    """
    from promhouse_spark.operators.similarity import ivf_index

    assigned, _ = ivf_index(df, num_centroids, id_col, vec_col)
    return _intra_cluster_pairs(assigned, id_col, vec_col, threshold)


def semantic_dedup_pairs_staged(
    df: DataFrame,
    centroids_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """``semantic_dedup_pairs`` with the fitted centroids PERSISTED to
    ``centroids_path`` (parquet: centroid_id, centroid array<double>).
    The assignment is explicit argmin arithmetic over those doubles
    (``kmeans.assign_with_dist_exact``, bit-identical to the SQL-replayable
    column fold), so everything downstream of the fitted centroids —
    assignment argmin + intra-cluster cosine — is replayable by any SQL
    engine over the persisted table, which is how the driver's DuckDB
    oracle hash-verifies SemDeDup end-to-end."""
    from promhouse_spark.operators.similarity import ivf_index

    assigned, centers = ivf_index(df, num_centroids, id_col, vec_col)
    df.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "centroid_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(centroids_path)
    return _intra_cluster_pairs(assigned, id_col, vec_col, threshold)


def _intra_cluster_pairs(
    assigned: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    # materialize the assignment ONCE: embedding_cosine_duplicates
    # consumes the assigned frame on several subtrees (both join sides,
    # norm prefilter), and without the checkpoint the plan held 8 copies
    # of the Arrow assignment kernel — the corpus was re-assigned eight
    # times per run (r11). Production shape: the assignment IS the
    # partitioned IVF layout a real index materializes to storage.
    return embedding_cosine_duplicates(
        assigned.localCheckpoint(eager=True),
        id_col=id_col,
        vec_col=vec_col,
        group_col="centroid_id",
        threshold=threshold,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """Corpus pruning via SemDeDup pairs: drop the higher-id member of
    every semantic near-dup pair (keep-min-id — a deterministic greedy
    stand-in for the paper's keep-lowest-centroid-similarity policy; the
    pair generation is the expensive part, the keep policy is swappable).
    One anti-join against the distinct drop set."""
    pairs = semantic_dedup_pairs(df, id_col, vec_col, num_centroids, threshold)
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


# ---- Paragraph-granularity near-dup ---------------------------------------


def paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    chunk_words: int | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode documents into paragraph rows — the sub-document granularity
    production dedup pipelines work at (boilerplate headers/footers repeat
    across documents whose whole-text similarity is low).

    ``sep`` splits on a real paragraph separator; ``chunk_words`` instead
    windows the token stream into fixed-size pseudo-paragraphs (for corpora
    with no separator structure, like the single-line synthetic testdata).
    Output: (id_col, para_idx, para, para_id) — ``para_id`` is the
    composite "doc#idx" string key the pair generators block on. Pure
    column expressions + one explode; no shuffle."""
    if chunk_words is not None:
        toks = F.split(F.col(text_col), " ")
        n_chunks = F.ceil(F.size(toks) / F.lit(chunk_words)).cast("int")
        parts = F.transform(
            F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
            lambda i: F.array_join(
                F.slice(toks, (i - 1) * chunk_words + 1, chunk_words), " "
            ),
        )
    else:
        parts = F.split(F.col(text_col), F.lit(sep))
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.posexplode(parts).alias("para_idx", "para"),
    ).filter(F.length("para") > 0)
    return out.select(
        id_col,
        *keep_cols,
        "para_idx",
        "para",
        F.concat_ws("#", F.col(id_col), F.col("para_idx")).alias("para_id"),
    )


def paragraph_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int | None = None,
    sep: str = "\n\n",
    threshold: float = 0.8,
    cross_doc_only: bool = True,
    group_col: str | None = None,
    **jaccard_kwargs,
) -> DataFrame:
    """Exact paragraph-level near-dup pairs: explode to paragraphs, then
    distinct-token Jaccard over the paragraph frame (same lossless
    machinery as ``ngram_jaccard_pairs``, so max_df / prefix_filter guards
    apply, and ``group_col`` blocks candidates exactly as at document
    granularity). ``cross_doc_only`` keeps only pairs from DIFFERENT
    documents — the boilerplate-detection signal. Output: (doc_a, para_a,
    doc_b, para_b, jaccard)."""
    paras = paragraphs(
        df,
        id_col,
        text_col,
        sep,
        chunk_words,
        keep_cols=(group_col,) if group_col else (),
    )
    pairs = ngram_jaccard_pairs(
        paras,
        id_col="para_id",
        text_col="para",
        group_col=group_col,
        threshold=threshold,
        **jaccard_kwargs,
    )
    split_a = F.split(F.col("doc_a"), "#")
    split_b = F.split(F.col("doc_b"), "#")
    out = pairs.select(
        split_a[0].cast("long").alias("doc_a"),
        split_a[1].cast("int").alias("para_a"),
        split_b[0].cast("long").alias("doc_b"),
        split_b[1].cast("int").alias("para_b"),
        "jaccard",
    )
    if cross_doc_only:
        out = out.filter(F.col("doc_a") != F.col("doc_b"))
    return out


def paragraph_minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int | None = None,
    sep: str = "\n\n",
    threshold: float = 0.7,
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 3,
    cross_doc_only: bool = True,
) -> DataFrame:
    """MinHash-LSH paragraph near-dup pairs — the scale path: paragraph
    explode, then the shuffle-free signature fold + banded self-join keyed
    by para_id (operators above), candidates bucket-bounded exactly as at
    document granularity. Output: (doc_a, para_a, doc_b, para_b,
    est_jaccard)."""
    paras = paragraphs(df, id_col, text_col, sep, chunk_words)
    pairs = minhash_lsh_candidates(
        paras,
        id_col="para_id",
        text_col="para",
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    ).filter(F.col("est_jaccard") >= threshold)
    split_a = F.split(F.col("doc_a"), "#")
    split_b = F.split(F.col("doc_b"), "#")
    out = pairs.select(
        split_a[0].cast("long").alias("doc_a"),
        split_a[1].cast("int").alias("para_a"),
        split_b[0].cast("long").alias("doc_b"),
        split_b[1].cast("int").alias("para_b"),
        "est_jaccard",
    )
    if cross_doc_only:
        out = out.filter(F.col("doc_a") != F.col("doc_b"))
    return out
