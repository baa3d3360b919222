"""Distributed k-means over embedding columns + centroid-cell IVF ANN.

Completes the similarity family (operators/similarity.py): ``sign_bucket``'s
hyperplane cells are data-OBLIVIOUS — cell population follows the sign
pattern of the data, not its density, so hot cells stay hot.  Real IVF
indexes (FAISS-style) train centroids ON the data so cells track density;
training-data pipelines reuse the same centroids for cluster-balanced
sampling and per-cluster dedup/inspection (SemDeDup partitions by k-means
cell before the within-cell cosine pass).

Reference analogue: the nearest-reference metadata lookup
(/root/reference/cfht2caom2/instruments.py:3508-3524) — pick the closest
row from a small reference set; here the reference set is learned.

Scale design (the 100 TB story):
  * ASSIGNMENT has one implementation, ``_nearest_cells``: inside a
    mapInPandas crossing, per Arrow batch, all k distances from the
    identity ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 (one matmul), first
    minimum.  ``assign_cells``, every Lloyd's iteration of
    ``train_centroids``, ``kmeans_cost`` and both sides of
    ``ivf_centroid_topk`` call it, so the plan and its cost do not grow
    with k*dim (no centroid literal in any plan).  FP caveat: the matmul
    associates additions differently from a sequential (x-c)^2 fold, so a
    vector equidistant to rounding between two cells may label differently
    than the DuckDB oracle's fold; exact ties break to the lowest cell id,
    the rule the oracle's ``ORDER BY dist, cluster`` implements.
  * Each Lloyd's iteration is ONE map-side-combined ``groupBy(cluster)``
    with ``dim`` avg aggregates: the shuffle carries k*dim partial
    (sum, count) pairs PER MAP TASK — never the vectors.  A 10^9-vector
    corpus at dim=1024, k=256 shuffles ~2 MB per task per iteration.
  * The driver holds exactly the k x dim centroid matrix between
    iterations (k=256, dim=1024 -> 2 MB) — the same bounded-driver-state
    contract as the day list / union-find precedents.
  * Empty clusters keep their previous centroid (standard Lloyd's repair),
    so k never silently shrinks.

``init_centroids`` is deterministic and oracle-portable: the k usable
vectors with the smallest (hash60("<id>:<seed>"), id) key — the packing
module's epoch permutation applied to centroid seeding, reproducible in
DuckDB with the same md5 expression, on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .packing import shuffle_key


def init_centroids(df: DataFrame, k: int, seed: int = 0,
                   ) -> list[list[float]]:
    """Deterministic seeding: the k usable (vec_id, embedding) vectors with
    the smallest (hash60(id:seed), id) shuffle key, cluster id = key rank.
    Usable means ``_nearest_cells`` can rank it: not NULL, no NULL element,
    and the corpus dimension (the most common length among the non-NULL
    vectors with no NULL element, the shortest on a tie).  So no seed is a
    centroid no vector can join.  The registry oracle (``_KM_INIT_SQL``)
    seeds from every row; the two agree on corpora without degenerate
    vectors, like the testdata.  One aggregate and one bounded collect —
    exactly k rows regardless of corpus size."""
    vecs = df.select(F.col("vec_id").alias("_id"),
                     F.transform(F.col("embedding"),
                                 lambda x: x.cast("double")).alias("_v")) \
        .filter(~F.exists("_v", lambda x: x.isNull()))
    dim = vecs.agg(F.mode(F.size("_v"), deterministic=True)).first()[0]
    rows = (
        vecs.filter(F.size("_v") == F.lit(dim))
        .withColumn("_key", shuffle_key(F.col("_id"), seed))
        .orderBy("_key", "_id")
        .limit(k)
        .collect()
    )
    return [list(r["_v"]) for r in rows]


def train_centroids(df: DataFrame, k: int, n_iter: int = 10,
                    seed: int = 0) -> list[list[float]]:
    """Lloyd's algorithm: assign (one crossing that carries each vector out
    with its cell) -> per-cluster mean (one map-side-combined shuffle of
    k*dim partials, summed in the JVM) -> repeat.  Vectors that label NULL
    (``assign_cells``) join no cluster.  Returns the k x dim centroid list;
    deterministic up to FP merge order for a given (input, k, seed,
    n_iter) — the final-merge combine order follows shuffle block fetch
    arrival, which Spark does not guarantee, so borderline assignments can
    drift at the ulp level across runs.  Empty input trains no
    centroids."""
    centroids = init_centroids(df, k, seed)
    if not centroids:
        return centroids
    dim = len(centroids[0])
    for _ in range(n_iter):
        means = (
            _cells(df, centroids, "_v")
            .filter(F.col("_cell").isNotNull())
            .groupBy("_cell")
            .agg(*[F.avg(F.element_at("_v", i + 1).cast("double"))
                   .alias(f"_m{i}") for i in range(dim)])
            .collect()
        )
        new = list(centroids)  # empty cluster -> keep previous centroid
        for r in means:
            new[r["_cell"]] = [r[f"_m{i}"] for i in range(dim)]
        centroids = new
    return centroids


def kmeans_cost(df: DataFrame, centroids: list[list[float]]) -> float:
    """Sum of squared distances to the assigned centroid (the Lloyd's
    objective) — one narrow crossing + one scalar agg in the JVM.  Each
    distance is the index-ordered float64 fold sum((x_i - c_i)^2) to the
    vector's cell, not the matmul's value, which can differ at the ulp
    level and go slightly negative.  Vectors that label NULL cost nothing;
    one with a NaN or infinite element makes the cost NaN or +inf.  Empty
    input (or an empty centroid list) costs 0.0: F.sum over zero rows is
    SQL NULL, which float() would otherwise TypeError on (reachable via the
    train-centroids CLI on an empty parquet)."""
    if not centroids:
        return 0.0
    import numpy as np
    import pandas as pd

    cent = _centroid_matrix(centroids)

    def fold(batches):
        for pdf in batches:
            rows, vecs, near = _nearest_cells(pdf["_v"], cent)
            d = np.zeros(len(pdf))
            diff = vecs - cent[near[:, 0]]
            with np.errstate(invalid="ignore", over="ignore"):
                d[rows] = np.cumsum(diff * diff, axis=1)[:, -1]
            unranked = np.ones(len(pdf), dtype=bool)
            unranked[rows] = False
            # a masked float array: NaN stays NaN, only unranked rows are NULL
            yield pd.DataFrame({"_d": pd.arrays.FloatingArray(d, unranked)})

    row = df.select(_null_if_null_element()) \
        .mapInPandas(fold, schema="_d double") \
        .select(F.sum("_d").alias("c")).first()
    return float(row["c"]) if row["c"] is not None else 0.0


def assign_cells(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, cell): every embedding labeled with its nearest-centroid
    cell — the IVF index build / cluster-balanced-sampling key.  One
    mapInPandas crossing that ships only (id, vec); no shuffle.

    Degenerate vectors: a NULL vector, one whose length differs from the
    centroids' or one with a NULL element labels NULL; one with a NaN or
    infinite element labels cell 0 (``_nearest_cells``)."""
    return _cells(df, centroids, "vec_id") \
        .withColumnRenamed("_cell", "cell")


def _centroid_matrix(centroids: list[list[float]]):
    """The k x dim float64 centroid matrix (0 x 0 for no centroids)."""
    import numpy as np

    dim = len(centroids[0]) if centroids else 0
    return np.asarray(centroids, dtype="float64").reshape(len(centroids), dim)


def _null_if_null_element() -> Column:
    """``_v``: the embedding, NULL when it holds a NULL element — Arrow
    hands pandas a NULL element as NaN, and the two label differently."""
    vec = F.col("embedding")
    return F.when(F.exists(vec, lambda x: x.isNull()), F.lit(None)) \
        .otherwise(vec).alias("_v")


def _cells(df: DataFrame, centroids: list[list[float]], *cols: str,
           ) -> DataFrame:
    """``cols`` plus ``_cell``, the nearest centroid of each row's
    embedding, from one mapInPandas crossing.  ``cols`` are columns of
    ``df`` or ``_v``, the embedding as the kernel reads it
    (``_null_if_null_element``); they pass through unchanged."""
    import pandas as pd

    cent = _centroid_matrix(centroids)
    src = df.select(*[c for c in cols if c != "_v"], _null_if_null_element())

    def label(batches):
        for pdf in batches:
            rows, _, near = _nearest_cells(pdf["_v"], cent)
            cell = pd.array([None] * len(pdf), dtype="Int64")
            cell[rows] = near[:, 0]
            yield pdf[list(cols)].assign(_cell=cell)

    return src.mapInPandas(
        label, schema=src.select(*cols).schema.add("_cell", "long"))


def _nearest_cells(vectors, cent, n: int = 1):
    """The one nearest-centroid kernel, over one Arrow batch of vectors
    against the k x dim float64 matrix ``cent``.

    Returns ``(rows, vecs, near)``: the positions of the vectors it ranks,
    their float64 matrix, and each one's ``n`` nearest cell ids, nearest
    first.  A NULL vector, or one whose length is not dim, is not ranked
    (nor is anything when there are no centroids).  All k squared
    distances come from ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2, one matmul
    per batch; a distance that comes out NaN ranks as +inf, and equal
    distances rank the lower cell id first.  So a vector with a NaN or
    infinite element, whose every distance is NaN or +inf, ranks the cells
    in id order: it labels cell 0."""
    import numpy as np

    k, dim = cent.shape
    vals = list(vectors)
    rows = [i for i, v in enumerate(vals)
            if k and v is not None and len(v) == dim]
    vecs = np.array([vals[i] for i in rows], dtype="float64") \
        .reshape(len(rows), dim)
    if not rows:
        return rows, vecs, np.zeros((0, n), dtype="int64")
    with np.errstate(invalid="ignore", over="ignore"):
        d2 = ((vecs * vecs).sum(axis=1)[:, None]
              - 2.0 * (vecs @ cent.T) + (cent * cent).sum(axis=1))
    d2[np.isnan(d2)] = np.inf
    near = (np.argmin(d2, axis=1)[:, None] if n == 1
            else np.argsort(d2, axis=1, kind="stable")[:, :n])
    return rows, vecs, near


def ivf_centroid_topk(corpus: DataFrame, queries: DataFrame,
                      centroids: list[list[float]],
                      k: int = 10, n_probe: int = 2) -> DataFrame:
    """IVF ANN with trained centroid cells over (vec_id, embedding) frames:
    corpus vectors live in their nearest cell; each query probes its
    ``n_probe`` nearest cells and ranks candidates by cosine.  Returns
    (query_id, vec_id, rank, cos).

    The corpus side keys on cell id only; the join fan-out is bounded by
    n_probe * |queries| rows on the broadcast side.  Recall/cost dial =
    (k_cells, n_probe), the FAISS IVF contract, with cells that track
    data density (unlike sign_bucket).

    Both sides rank cells with ``_nearest_cells``: the corpus side labels
    like ``assign_cells``, and a query vector that is NULL, ragged, or has
    a NULL, NaN or infinite element probes nothing and returns no rows.
    Per-candidate scoring runs as one numpy pass per query (np.cumsum ==
    the cosine fold bitwise; lexsort == the row_number(cos desc, vec_id)
    ordering); a NaN- or infinite-element corpus vector in a probed cell
    has a NULL cos and ranks after every finite one, by vec_id.
    """
    import numpy as np
    import pandas as pd

    id_type = corpus.select("vec_id").schema.fields[0] \
        .dataType.simpleString()
    vec_type = corpus.select("embedding").schema.fields[0] \
        .dataType.simpleString()
    cent = _centroid_matrix(centroids)

    c = _cells(corpus, centroids, "vec_id", "_v") \
        .withColumnRenamed("_v", "_cv")

    def probe_cells(batches):
        for pdf in batches:
            rows, vecs, near = _nearest_cells(pdf["_v"], cent, n_probe)
            finite = np.isfinite(vecs).all(axis=1)
            near = near[finite]
            at = np.repeat(np.asarray(rows, dtype="int64")[finite],
                           near.shape[1])
            yield pd.DataFrame({
                "query_id": pdf["vec_id"].to_numpy()[at],
                "_qv": pd.Series(pdf["_v"].to_numpy()[at], dtype=object),
                "_cell": near.ravel()})

    q_cells = queries.select("vec_id", _null_if_null_element()).mapInPandas(
        probe_cells,
        schema=f"query_id {id_type}, _qv {vec_type}, _cell bigint")

    cand = (
        c.join(F.broadcast(q_cells), "_cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "_qv", "_cv")
    )

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # every query here is finite and every candidate has the query's
        # length: the probe and the corpus labels ranked them both
        qv = np.asarray(pdf["_qv"].iloc[0], dtype="float64")
        qn = np.sqrt(np.cumsum(qv * qv)[-1])
        ids = pdf["vec_id"].to_numpy()
        M = np.array(list(pdf["_cv"]), dtype="float64")
        with np.errstate(invalid="ignore", over="ignore"):
            dots = np.cumsum(M * qv, axis=1)[:, -1]
            norms = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
            cos = dots / np.maximum(norms * qn, 1e-12)
        # NULL-cos candidates (a NaN or infinite element) rank LAST by
        # vec_id — the window's desc NULLS-LAST
        nanmask = np.isnan(cos)
        null_last = np.where(nanmask, 1.0, 0.0)
        negcos = np.where(nanmask, 0.0, -cos)  # keep NaN out of sort keys
        order = np.lexsort((ids, negcos, null_last))[:k]
        out_cos = [None if nanmask[i] else float(cos[i]) for i in order]
        return pd.DataFrame({
            "query_id": pdf["query_id"].iloc[0],
            "vec_id": ids[order],
            "rank": np.arange(1, len(order) + 1, dtype="int32"),
            "cos": pd.Series(out_cos, dtype=object),
        })

    return cand.groupBy("query_id").applyInPandas(
        topk,
        schema=f"query_id {id_type}, vec_id {id_type}, rank int, "
               "cos double")


def cluster_balanced_sample(df: DataFrame, centroids: list[list[float]],
                            cap_per_cell: int, seed: int = 0) -> DataFrame:
    """Diversity-preserving downsample: each k-means cell is thinned toward
    ``cap_per_cell`` expected rows, so over-represented clusters (boilerplate
    regions, template farms) stop dominating the mixture while sparse
    clusters survive intact — the cluster-balancing step SemDeDup/DCLM run
    after cell assignment.

    Keep rule: ``bucket(id:seed) * n_cell < cap * BUCKETS`` — all-BIGINT
    cross-engine-exact arithmetic (no float threshold at execution time; the
    product stays under 2^63 up to 10^12 rows per cell at BUCKETS=10^6).
    Consequences, both deterministic:
      * cells at or under the cap pass ENTIRELY (bucket < BUCKETS always);
      * larger cells keep a Binomial(n_cell, cap/n_cell) subset — expected
        cap rows — chosen by the id hash, so reruns/partitionings agree.

    Scale shape: assignment is narrow; the only wide op is the k-row cell
    count (map-side combined), which joins back broadcast; the keep filter
    is map-side.  No per-cell sort/window, so a degenerate giant cell costs
    a scan, not a single-task top-N."""
    from .sampling import BUCKETS, sample_bucket

    assigned = assign_cells(df, centroids)
    # the slim (id, cell) frame feeds BOTH the cell-count aggregate and the
    # keep-filter join-back; without materialization the k*dim assignment
    # evaluates twice per row (guide §2.4 pay-once discipline)
    assigned = assigned.localCheckpoint(eager=False)
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_n"))
    bucket = sample_bucket(
        F.concat_ws(":", F.col("vec_id").cast("string"), F.lit(str(seed))))
    return (
        assigned.join(F.broadcast(counts), "cell")
        .filter(bucket * F.col("_n")
                < F.lit(int(cap_per_cell) * BUCKETS).cast("bigint"))
        .select("vec_id", "cell")
    )
