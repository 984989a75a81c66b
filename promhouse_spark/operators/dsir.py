"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) as a pure-DataFrame pipeline.

Given a small TARGET corpus (the distribution you want more of) and the
RAW corpus to select from, DSIR scores every raw document with the
log-likelihood ratio of its hashed n-gram features under bag-of-words
models of target vs raw, then resamples with Gumbel-top-k noise so
selection is ∝ exp(weight) rather than a hard argmax.

Spark shape (the part that must survive 100 TB):
  - one projection builds the unigram+bigram feature stream per document
    (no UDF — split/transform/concat column expressions);
  - the two feature histograms are keyed aggregations producing exactly
    ``n_buckets`` rows each — they join back as a BROADCAST, so the
    scoring pass is scan → explode → per-doc aggregation, shuffling only
    on doc_id;
  - no global sort: the Gumbel trick turns "sample ∝ exp(w)" into an
    independent per-row keep test (weight + gumbel > threshold), which
    is exactly how the paper scales it to CommonCrawl.

The feature hash here is a cheap polynomial over (first char, second
char, length) so a SQL oracle replays it bit-for-bit; production would
swap in a stronger hash (the bucket histogram/broadcast shape is
identical). Reference scope note: the reference engine (PromHouse) has
no corpus operators at all — this is part of the beyond-reference
LLM-data surface the project brief asks for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from promhouse_spark.session import materialize_tier


def feature_buckets(text: Column | str, n_buckets: int = 64) -> Column:
    """Hashed unigram+bigram feature stream of a text column: an array of
    bucket ids in [0, n_buckets). Bigrams are adjacent-word pairs joined
    with one space, hashed by the same polynomial."""
    t = F.col(text) if isinstance(text, str) else text
    words = F.filter(F.split(t, r"\s+"), lambda w: F.length(w) > 0)
    # bigram i joins words[i] and words[i+1], built by zipping the array
    # with its own 1-shifted slice. NOT element_at(words, i+2) inside the
    # transform lambda: higher-order lambdas evaluate interpreted (no
    # common-subexpression elimination), so an inner reference to the
    # computed `words` re-runs the regex split PER ELEMENT — O(words²)
    # per document (measured: 6x the whole-pipeline cost at sf10). The
    # zip form references `words` a constant number of times per row.
    n1 = F.greatest(F.size(words) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(words, 1, n1),
        F.slice(words, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    feats = F.concat(words, bigrams)
    return F.transform(
        feats,
        lambda x: (
            F.ascii(F.substring(x, 1, 1)) * 31
            + F.ascii(F.substring(x, 2, 1)) * 7
            + F.length(x)
        )
        % n_buckets,
    )


def gumbel_keep(
    weights: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.0,
    noise_buckets: int = 1_048_576,
) -> DataFrame:
    """Gumbel-top-k resampling as an independent per-row test: keep when
    ``weight + gumbel(doc_id) > threshold``, with the Gumbel noise derived
    from a deterministic per-document uniform (Knuth multiplicative hash
    of the id) so both engines and repeated runs agree. No global sort,
    no window over the whole corpus — the property that lets selection
    run at corpus scale."""
    u = (
        F.pmod(F.col(id_col) * F.lit(2654435761), F.lit(noise_buckets))
        + F.lit(0.5)
    ) / F.lit(float(noise_buckets))
    g = -F.log(-F.log(u))
    return weights.select(
        id_col,
        "n_feats",
        F.round("weight", 6).alias("weight"),
        F.round(g, 6).alias("gumbel"),
        ((F.col("weight") + g) > F.lit(threshold)).alias("keep"),
    )


def dsir_select(
    raw: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    threshold: float = 0.0,
) -> DataFrame:
    """The whole DSIR pipeline off ONE featurization pass: add-one-smoothed
    per-bucket log(P_target / P_raw) over the ``is_target`` rows vs all
    rows, each document's importance log-weight (sum of count ·
    log_ratio over its feature buckets), then :func:`gumbel_keep`.

    Featurizing separately for the target histogram, the raw histogram
    and the scoring pass would scan the corpus three times; the explode is
    ~100x every downstream aggregation (measured 3x end-to-end at sf10),
    and at 100 TB three corpus scans instead of one is disqualifying.
    Here the per-(doc, bucket) count frame is materialized once; both
    histograms are 64-row re-aggregations of it (broadcast-sized index
    metadata, never fact data), the two corpus totals come from one
    bounded collect, and scoring reuses the same frame through a
    broadcast join."""
    per_doc = materialize_tier(
        raw.select(
            id_col,
            is_target.alias("_is_target"),
            F.explode(feature_buckets(text_col, n_buckets)).alias("bucket"),
        )
        .groupBy(id_col, "_is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = per_doc.agg(
        F.sum(F.when(F.col("_is_target"), F.col("cnt")).otherwise(0)).alias("t"),
        F.sum("cnt").alias("r"),
    ).first()
    spark = raw.sparkSession
    domain = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    t = (
        per_doc.filter("_is_target")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("t_cnt"))
    )
    r = per_doc.groupBy("bucket").agg(F.sum("cnt").alias("r_cnt"))
    lr = (
        domain.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .na.fill({"t_cnt": 0, "r_cnt": 0})
        .select(
            "bucket",
            (
                F.log(
                    (F.col("t_cnt") + 1) / F.lit(float(totals["t"] + n_buckets))
                )
                - F.log(
                    (F.col("r_cnt") + 1) / F.lit(float(totals["r"] + n_buckets))
                )
            ).alias("log_ratio"),
        )
    )
    w = (
        per_doc.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("log_ratio")).alias("weight"),
        )
    )
    return gumbel_keep(w, id_col=id_col, threshold=threshold)
