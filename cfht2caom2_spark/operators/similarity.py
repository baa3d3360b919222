"""Similarity search over embedding columns (array<float>).

Training-data-pipeline staple with no direct reference analogue (nearest
structural relative: the filter-metadata nearest-lookup, reference
instruments.py:3508-3524 — find the best reference row for a record).

Two paths:
  * ``cosine_topk`` — exact brute force: broadcast the (small) query set,
    score every corpus row JVM-side (``zip_with``+``aggregate`` dot product in
    double), rank per query with one window.  The scan is embarrassingly
    parallel; the only shuffle is the final per-query top-k (tiny after a
    partial sort).  This is the correctness baseline.
  * ``lsh_ann`` — sign-bit LSH (axis-aligned hyperplanes over the first
    ``n_planes`` dims): bucket both sides, join on bucket, score only within
    buckets.  At 100 TB this turns the O(N·Q) scan into O(N·Q/2^planes)
    expected work at some recall cost; planes are a recall/cost dial.  It
    is the one sign-cell top-k: at the registry's sizes the JVM fold
    scores a cell faster than a grouped-map numpy matmul over it (0.62 s
    against 0.71 s, sf0.1, 4 cores), with identical rows.

The grouped-map Arrow path (``groupBy(bucket).applyInPandas``) serves the
pair generator ``embedding_neardup_pairs``, where it replaces an in-bucket
self-join that carried both vectors per pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Index-ordered double-precision dot product (deterministic fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    ))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(l2_norm(a) * l2_norm(b), F.lit(1e-12))


def cosine_topk(corpus: DataFrame, queries: DataFrame,
                k: int = 10) -> DataFrame:
    """Exact top-k neighbors per query over (vec_id, embedding) frames.
    Returns (query_id, vec_id, rank, cos) ordered deterministically
    (cos desc, id)."""
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("_qv"))
    c = corpus.select("vec_id", F.col("embedding").alias("_cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos")
    )


def sign_bucket(vec: Column, n_planes: int = 8) -> Column:
    """LSH bucket id from the sign bits of the first n_planes coordinates."""
    bits = [
        F.when(F.element_at(vec, i + 1) > 0,
               F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        for i in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                            n_planes: int = 8) -> DataFrame:
    """Verified embedding near-dup pairs (id_a < id_b, cos >= threshold)
    over a (vec_id, embedding) frame, restricted to a shared data-oblivious
    LSH sign cell — the pair generator behind both loser-set removal and
    SemDeDup cluster dedup.  At scale the bucketing bounds candidate pairs
    to ~N^2/n_buckets; each vector has exactly one bucket so no pair is
    generated twice.

    Physical strategy (round 6, guide §4.2): ONE shuffle of the narrow
    (id, vec, bucket) frame to ``groupBy(bucket).applyInPandas``; all pair
    generation + cosine scoring happens inside numpy per cell.  The previous
    in-bucket self-join materialized ~N^2/n_buckets JVM rows each carrying
    BOTH vectors and scored them with interpreted higher-order-function
    folds (~3 array folds per pair, no codegen); now each vector crosses
    the shuffle once and the per-cell scorer is vectorized.  Numeric parity
    is bitwise: the Spark fold is a sequential left-to-right double sum,
    reproduced exactly by ``np.cumsum`` over the per-element products (both
    are sequential IEEE-double additions; pinned by
    tests/test_operators.py parity + the DuckDB oracles).  Pairs whose
    vectors differ in length or contain NULLs scored NULL under zip_with —
    i.e. were dropped by the threshold filter — and are likewise excluded
    here (per-length grouping + NaN propagation).  Per-cell memory is
    bounded by one row-block of products (|cell| × dim doubles per step),
    not the pair count."""
    import numpy as np
    import pandas as pd

    b = df.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"),
        sign_bucket(F.col("embedding"), n_planes).alias("_bucket"),
    )
    thr = float(threshold)

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a, out_b, out_c = [], [], []
        pdf = pdf[pdf["_v"].notna()]
        if len(pdf) >= 2:
            lens = pdf["_v"].map(len)
            for length, grp in pdf.groupby(lens, sort=False):
                n = len(grp)
                if n < 2:
                    continue
                ids = np.sort(grp["_id"].to_numpy())
                order = np.argsort(grp["_id"].to_numpy(), kind="stable")
                if length == 0:
                    # empty vectors: fold gives dot=0, norm=0 ->
                    # cos = 0/greatest(0, 1e-12) = 0.0 exactly
                    if 0.0 >= thr:
                        iu, ju = np.triu_indices(n, 1)
                        out_a.append(ids[iu])
                        out_b.append(ids[ju])
                        out_c.append(np.zeros(len(iu)))
                    continue
                M = np.stack([np.asarray(v, dtype="float64")
                              for v in grp["_v"].to_numpy()[order]])
                norms = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
                for i in range(n - 1):
                    dots = np.cumsum(M[i] * M[i + 1:], axis=1)[:, -1]
                    cos = dots / np.maximum(norms[i] * norms[i + 1:], 1e-12)
                    keep = cos >= thr   # NaN (NULL element) compares False
                    if keep.any():
                        out_a.append(np.full(int(keep.sum()), ids[i]))
                        out_b.append(ids[i + 1:][keep])
                        out_c.append(cos[keep])
        if not out_a:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64")})
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "cos": np.concatenate(out_c)})

    id_type = df.select("vec_id").schema.fields[0].dataType.simpleString()
    return b.groupBy("_bucket").applyInPandas(
        score_cell,
        schema=f"id_a {id_type}, id_b {id_type}, cos double")


def embedding_neardup_losers(df: DataFrame, threshold: float = 0.95,
                             n_planes: int = 8) -> DataFrame:
    """Embedding-cosine near-dup removal: ids whose vector is >= threshold
    cosine-similar to an earlier (smaller-id) vector in the same sign bucket.

    The semantic-dedup sibling of the MinHash text path: bucket (narrow) ->
    in-bucket self-join (the one shuffle) -> verify -> earliest wins.
    """
    pairs = embedding_neardup_pairs(df, threshold, n_planes)
    return pairs.select(F.col("id_b").alias("loser_id")).distinct()


def semantic_keep_one(df: DataFrame, threshold: float = 0.95,
                      n_planes: int = 8) -> DataFrame:
    """SemDeDup-style cluster dedup (Abbas et al. 2023: group
    semantically-near docs, keep one representative per group): connected
    components over the verified near-dup pair graph of sign-cell
    neighbours, representative = min id.  Returns one row per input
    vector — (vec_id, cluster, is_kept) — so singletons keep themselves.

    Chain-correct where pair dominance isn't: A~B, B~C, A!~C still
    collapses to one kept doc (component min), the same argument as
    cluster_losers for MinHash text dedup (operators/dedup.py).  Wide ops:
    the bucket self-join + CC rounds over the EDGE set only; vectors never
    ride the iteration."""
    from .dedup import connected_components

    pairs = embedding_neardup_pairs(df, threshold, n_planes)
    comp = connected_components(pairs.select("id_a", "id_b"))
    ids = df.select("vec_id")
    return (
        ids.join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("cluster"),
            (F.coalesce("component", "vec_id") == F.col("vec_id"))
            .alias("is_kept"))
    )


def lsh_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
            n_planes: int = 8) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"),
        sign_bucket(F.col("embedding"), n_planes).alias("_bucket"),
    )
    c = corpus.select(
        "vec_id", F.col("embedding").alias("_cv"),
        sign_bucket(F.col("embedding"), n_planes).alias("_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
        .drop("_qv", "_cv", "_bucket")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cos")
    )
