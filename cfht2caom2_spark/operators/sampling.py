"""Deterministic stratified sampling — the data-mixing primitive.

Training-data pipelines rarely train on the raw corpus: each stratum
(language, source, quality bucket) gets a target sampling rate so the final
mixture matches a token budget.  The sampler here is a *pure function of the
row key*: keep a row iff ``hash(key) mod M < rate * M``.  That makes the
sample (a) reproducible across runs/partitionings/cluster sizes, (b) a
narrow map-side filter — zero shuffle, pushes right down onto the scan —
and (c) consistent across tables: any other table keyed by the same id
selects the SAME rows, so features joined later stay aligned.

Reference analogue: rule-profile dispatch (P13) — per-category config chosen
by a row attribute (reference metadata.py:121-126 cache keys select per-
instrument behavior); here the per-stratum attribute selects a rate.

The hash is the md5-derived oracle-portable one (functions expressible
verbatim in DuckDB), reduced mod 1e6 for rate resolution of 1e-6.  At crawl
scale the same construction runs with xxhash64 (JVM intrinsic,
``sample_bucket_fast``); determinism and uniformity arguments are identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 1_000_000


def sample_bucket(key: Column) -> Column:
    """Uniform bucket in [0, 1e6) — first 15 md5 hex chars mod 1e6.
    (DuckDB twin: ``('0x' || substr(md5(key), 1, 15))::BIGINT % 1000000``.)"""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
    return h.cast("bigint") % BUCKETS


def sample_bucket_fast(key: Column) -> Column:
    """Production bucket: xxhash64 (JVM intrinsic, no hex round-trip)."""
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(BUCKETS))


def stratified_sample(df: DataFrame, key_col: str, stratum_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      bucket_fn=None) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``rates``: stratum value -> keep rate in [0, 1].  Strata absent from the
    map use ``default_rate``.  The rate lookup compiles to a CASE chain
    (strata cardinality is config-sized), the whole filter is one codegen'd
    predicate on the scan — no shuffle, no Python.
    """
    bucket = (bucket_fn or sample_bucket)(F.col(key_col))
    # integer thresholds computed driver-side: engine-independent (no float
    # multiply at execution time, so the DuckDB oracle can't diverge by ulp)
    threshold = F.lit(int(round(default_rate * BUCKETS)))
    for value, r in rates.items():
        threshold = F.when(F.col(stratum_col) == value,
                           F.lit(int(round(r * BUCKETS)))).otherwise(threshold)
    return df.filter(bucket < threshold)


def split_assign(df: DataFrame, key_col: str, splits: dict[str, float],
                 seed: int = 0) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets exactly one
    ``split`` label, a pure function of (key, seed) — disjoint and exhaustive
    by construction, stable across runs/partitionings/cluster sizes, and
    consistent across tables keyed by the same id (features split with
    their documents, so a doc can never leak across the boundary through a
    side table).

    ``splits``: ordered {name: fraction}; fractions are converted to
    integer bucket thresholds driver-side (same no-float-at-execution
    discipline as stratified_sample).  Rows past the last threshold —
    possible only when the fractions sum below 1 — fall into the LAST
    split, so the assignment is total either way.  A new ``seed`` is a
    fresh independent split with zero state (the epoch-permutation
    argument, operators/packing.py).
    """
    if not splits:
        raise ValueError("splits must name at least one split")
    bucket = sample_bucket(
        F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed))))
    names = list(splits)
    # CASE chain lowest-threshold-first so the first matching range wins,
    # mirroring the oracle's CASE WHEN ordering; remainder -> last split
    cum, chain = 0, None
    for name in names:
        cum += int(round(splits[name] * BUCKETS))
        cond = bucket < F.lit(cum)
        chain = F.when(cond, name) if chain is None \
            else chain.when(cond, name)
    return df.withColumn("split", chain.otherwise(F.lit(names[-1])))


def assemble_mixture(spark, decisions_path: str, out_path: str,
                     rates: dict[str, float],
                     default_rate: float = 0.0) -> dict:
    """Corpus assembly: kept docs -> per-language deterministic sample (by
    url, stratified on ``lang_pred``) ->
    training-mixture parquet.  The final step of the filter pipeline
    (reference analogue: the store step after all visitors pass,
    cfht_name.py:750-754) — reads the decisions store, so re-assembling a
    new mixture never recomputes the pipeline.

    Scale shape: keep-filter + hash predicate are map-side on the scan
    (partition-pruned by p_day where present); the only wide op is the
    output repartition-by-day write.  Returns {docs, tokens} actually
    sampled (computed via observe, riding the write)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    decisions = spark.read.parquet(decisions_path)
    mixed = stratified_sample(
        decisions.filter(F.col("keep")), "url", "lang_pred",
        rates, default_rate, bucket_fn=sample_bucket_fast)
    obs = Observation("mixture")
    mixed = mixed.observe(
        obs, F.count(F.lit(1)).alias("docs"),
        F.sum("n_words").alias("tokens"))
    writer = mixed.write.mode("overwrite")
    if "p_day" in decisions.columns:
        writer = writer.partitionBy("p_day")
    writer.parquet(out_path)
    got = obs.get
    return {"docs": got["docs"], "tokens": got["tokens"]}


LABELS = ("head", "middle", "tail")


def rank_buckets(df: DataFrame, value_col: str, stratum_col: str,
                 id_col: str) -> DataFrame:
    """CCNet-style per-stratum rank bucketing (Wenzek et al. 2020 split
    each language by LM perplexity into head/middle/tail): a ``bucket``
    label from ntile over (value, id) within the stratum — EXACT
    equal-count buckets, fully deterministic through the id tiebreak.
    Lower value = better = first label (CCNet's convention: low perplexity
    is the head).

    This is the SPEC (and the DuckDB-oracle-portable form: ntile semantics
    — equal groups, earlier groups take the remainder — are identical in
    both engines).  It sorts each stratum, which is exactly what CCNet
    does, but at 10^12 docs prefer ``threshold_buckets``: same contract,
    no corpus sort.

    NULL values: callers must not pass them (a NULL score sorts FIRST here
    but falls to the LAST label in ``threshold_buckets`` — the one place
    the two paths would diverge); score columns in this repo are
    non-nullable by construction."""
    w = Window.partitionBy(stratum_col).orderBy(value_col, id_col)
    t = F.ntile(len(LABELS)).over(w)
    return df.withColumn(
        "bucket", F.element_at(F.array(*[F.lit(x) for x in LABELS]), t))


def threshold_buckets(df: DataFrame, value_col: str,
                      stratum_col: str) -> DataFrame:
    """The production path for ``rank_buckets``: per-stratum
    ``percentile_approx`` cut points (one tiny map-side-combined agg — a
    bounded sketch per stratum, never a sort), broadcast back, map-side
    comparison labels.  Bucket sizes are approximate within the sketch's
    rank error (1/10,000); the label ORDER is exact by construction
    (every 'head' value <= every 'middle' value within a stratum, ties
    landing on the lower bucket)."""
    n = len(LABELS)
    fracs = [i / n for i in range(1, n)]
    cuts = df.groupBy(stratum_col).agg(
        F.percentile_approx(value_col, fracs, 10_000).alias("_cuts"))
    v = F.col(value_col)
    label = F.lit(LABELS[-1])
    for i in range(n - 2, -1, -1):
        label = F.when(v <= F.element_at("_cuts", i + 1), LABELS[i]) \
            .otherwise(label)
    return (df.join(F.broadcast(cuts), stratum_col)
              .withColumn("bucket", label)
              .drop("_cuts"))
