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
  * ASSIGNMENT has two physical paths (``assign_cells``): a pure column
    expression over a k-element LITERAL centroid array for small k*dim
    (zero shuffle, zero Python — but the literal tree re-instantiates per
    lambda, so Catalyst analysis/codegen cost grows with k*dim and the
    path degrades past a few thousand literal nodes), and a vectorized
    mapInPandas numpy path for production k*dim (FAISS-like k=256,
    dim=1024) that computes all distances with one matmul per batch
    (bounded batch memory).  The matmul associates additions differently
    from the expression's sequential fold, so a vector equidistant to
    rounding between two cells may label differently on the two paths
    (``assign_cells``' FP caveat); exact ties break to the lowest cluster
    id on both, the same rule the DuckDB oracle's ``ORDER BY dist,
    cluster`` implements.
  * Each Lloyd's iteration is ONE map-side-combined ``groupBy(cluster)``
    with ``dim`` avg aggregates: the shuffle carries k*dim partial
    (sum, count) pairs PER MAP TASK — never the vectors.  A 10^9-vector
    corpus at dim=1024, k=256 shuffles ~2 MB per task per iteration.
  * The driver holds exactly the k x dim centroid matrix between
    iterations (k=256, dim=1024 -> 2 MB) — the same bounded-driver-state
    contract as the day list / union-find precedents.
  * Empty clusters keep their previous centroid (standard Lloyd's repair),
    so k never silently shrinks.

``init_centroids`` is deterministic and oracle-portable: the k vectors with
the smallest (hash60("<id>:<seed>"), id) key — the packing module's epoch
permutation applied to centroid seeding, reproducible in DuckDB with the
same md5 expression, on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .packing import shuffle_key


def sq_dist(a: Column, b: Column) -> Column:
    """Index-ordered double-precision squared L2 distance (deterministic
    fold, same shape as similarity.dot)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v * v,
    )


def _centroid_lit(centroids: list[list[float]]) -> Column:
    """The k x dim centroid matrix as one literal array<array<double>>."""
    return F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])


def nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """0-based id of the nearest centroid by squared L2; ties -> lowest id
    (``array_position`` returns the FIRST index of the min element)."""
    dists = F.transform(_centroid_lit(centroids), lambda c: sq_dist(vec, c))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("bigint")


def init_centroids(df: DataFrame, k: int, seed: int = 0,
                   ) -> list[list[float]]:
    """Deterministic seeding: the k (vec_id, embedding) vectors with the
    smallest (hash60(id:seed), id) shuffle key, cluster id = key rank.
    Bounded collect — exactly k rows regardless of corpus size."""
    rows = (
        df.select(F.col("vec_id").alias("_id"),
                  F.transform(F.col("embedding"),
                              lambda x: x.cast("double")).alias("_v"))
        .withColumn("_key", shuffle_key(F.col("_id"), seed))
        .orderBy("_key", "_id")
        .limit(k)
        .collect()
    )
    return [list(r["_v"]) for r in rows]


def train_centroids(df: DataFrame, k: int, n_iter: int = 10,
                    seed: int = 0) -> list[list[float]]:
    """Lloyd's algorithm: assign (narrow expression) -> per-cluster mean
    (one map-side-combined shuffle of k*dim partials) -> repeat.  Returns
    the k x dim centroid list; deterministic up to FP merge order for a
    given (input, k, seed, n_iter) — the final-merge combine order follows
    shuffle block fetch arrival, which Spark does not guarantee, so
    borderline assignments can drift at the ulp level across runs."""
    centroids = init_centroids(df, k, seed)
    dim = len(centroids[0]) if centroids else 0
    vecs = df.select(F.col("embedding").alias("_v"))
    for _ in range(n_iter):
        assigned = vecs.withColumn(
            "_cell", nearest_centroid(F.col("_v"), centroids))
        means = (
            assigned.groupBy("_cell")
            .agg(*[F.avg(F.element_at("_v", i + 1).cast("double"))
                   .alias(f"_m{i}") for i in range(dim)])
            .collect()
        )
        new = list(centroids)  # empty cluster -> keep previous centroid
        for r in means:
            new[int(r["_cell"])] = [r[f"_m{i}"] for i in range(dim)]
        centroids = new
    return centroids


def kmeans_cost(df: DataFrame, centroids: list[list[float]]) -> float:
    """Sum of squared distances to the assigned centroid (the Lloyd's
    objective) — one narrow scan + one scalar agg.  Empty input (or an
    empty centroid list) costs 0.0: F.sum over zero rows is SQL NULL, which
    float() would otherwise TypeError on (reachable via the train-centroids
    CLI on an empty parquet)."""
    if not centroids:
        return 0.0
    vec = F.col("embedding")
    dists = F.transform(_centroid_lit(centroids), lambda c: sq_dist(vec, c))
    row = df.select(F.sum(F.array_min(dists)).alias("c")).first()
    return float(row["c"]) if row["c"] is not None else 0.0


def assign_cells(df: DataFrame, centroids: list[list[float]],
                 vectorized: bool | None = None) -> DataFrame:
    """(vec_id, cell): every embedding labeled with its nearest-centroid
    cell — the IVF index build / cluster-balanced-sampling key.

    Degenerate vectors label the same on both paths: a NULL vector, one
    whose length differs from the centroids' or one with a NULL element
    labels NULL (``zip_with`` pads the distance to NULL); one with a NaN or
    infinite element labels cell 0 (every distance is NaN, or every one
    +inf, and ``array_position`` finds the first).

    Two physical paths, same labeling (parity pinned by
    tests/test_operators.py::test_assign_cells_vectorized_parity):

      * expression (default for small k*dim): pure projection, no shuffle,
        no Python.  The centroid matrix is inlined as a LITERAL
        array<array<double>> — at production scale (k=256, dim=1024 ≈ 262k
        Literal nodes, re-instantiated per transform lambda) Catalyst
        analysis cost blows up and codegen falls past the 64 KB method
        limit into interpreted mode, so this path does NOT survive large
        k*dim (measured: see OPTIMIZATION_r06.md kmeans microbench).
      * vectorized (auto at k*dim >= ``_VEC_KDIM_THRESHOLD``): one
        mapInPandas crossing shipping only (id, vec); each batch computes
        all k distances via the BLAS identity ||x-c||^2 = ||x||^2 - 2x.c
        + ||c||^2 (one matmul per batch) and takes the first-min argmin.
        FP caveat, deliberate: the matmul associates additions differently
        from ``sq_dist``'s sequential fold, so distances can differ at the
        ulp level and a vector equidistant-to-rounding between two cells
        may flip — the standard FAISS-style trade.  EXACT ties (duplicate
        centroids) still resolve identically (equal inputs give equal
        doubles; argmin first-min == array_position lowest cell).  The
        microbench in OPTIMIZATION_r06.md measures both paths at k=256,
        dim=512: the literal expression tree costs ~70 s of driver-side
        analysis before the first task runs; this path plans in
        milliseconds.

    ``vectorized=None`` auto-selects; True/False force a path."""
    if vectorized is None:
        k = len(centroids)
        dim = len(centroids[0]) if centroids else 0
        vectorized = k * dim >= _VEC_KDIM_THRESHOLD
    if not vectorized:
        return df.select(
            "vec_id",
            nearest_centroid(F.col("embedding"), centroids).alias("cell"))

    import numpy as np
    import pandas as pd

    cent = np.asarray(centroids, dtype="float64")

    def assign_batches(batches):
        for pdf in batches:
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "cell": _nearest_cells(pdf["_v"], cent)})

    id_type = df.select("vec_id").schema.fields[0].dataType.simpleString()
    return df.select("vec_id", _null_if_null_element()) \
        .mapInPandas(assign_batches,
                     schema=f"vec_id {id_type}, cell bigint")


def _null_if_null_element() -> Column:
    """``_v``: the embedding, NULL when it holds a NULL element — Arrow
    hands pandas a NULL element as NaN, and the two label differently."""
    vec = F.col("embedding")
    return F.when(F.exists(vec, lambda x: x.isNull()), F.lit(None)) \
        .otherwise(vec).alias("_v")


def _nearest_cells(vectors, cent):
    """The vectorized twin of ``nearest_centroid`` over one batch, against
    the k x dim float64 matrix ``cent``: all k distances via
    ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 (one matmul), first min.  NULL /
    wrong-length vectors label NULL and NaN / infinite ones cell 0, like
    the expression path (``assign_cells``)."""
    import numpy as np
    import pandas as pd

    dim = cent.shape[1]
    raw = [None if v is None or len(v) != dim
           else np.asarray(v, dtype="float64") for v in vectors]
    ok = np.array([v is not None for v in raw], dtype=bool)
    cells = pd.array([None] * len(raw), dtype="Int64")
    if ok.any():
        vecs = np.stack([v for v in raw if v is not None])
        with np.errstate(invalid="ignore", over="ignore"):
            d2 = ((vecs * vecs).sum(axis=1)[:, None]
                  - 2.0 * (vecs @ cent.T) + (cent * cent).sum(axis=1))
        first = np.argmin(d2, axis=1)
        first[~np.isfinite(vecs).all(axis=1)] = 0
        cells[np.flatnonzero(ok)] = first
    return cells


# expression-path literal trees stay fast well past the oracle's toy size;
# the crossover (measured at sf1.0, OPTIMIZATION_r06.md) sits around a few
# thousand literal nodes, after which analysis/codegen dominates
_VEC_KDIM_THRESHOLD = 4096


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

    Physical shape (round 6): cell assignment on BOTH sides goes through
    the same small/large k*dim dispatch as ``assign_cells`` (the literal
    centroid tree costs ~70 s of driver analysis at k=256/dim=512 — the
    probe-side posexplode over the literal distance array pays it too),
    and per-candidate scoring runs as one numpy pass per query
    (np.cumsum == the cosine fold bitwise; lexsort == the
    row_number(cos desc, vec_id) ordering, candidates with NULL/ragged
    vectors ranked last by vec_id with NULL cos — the expression
    NULLS-LAST behavior).  Large-k*dim probe caveat: a query whose OWN
    vector is NULL/ragged probes nothing there, where the expression
    path's NULLS-FIRST ascending sort would probe the first n_probe cell
    ids — degenerate input, documented divergence.
    """
    import numpy as np
    import pandas as pd

    kk = len(centroids)
    dim = len(centroids[0]) if centroids else 0
    big = kk * dim >= _VEC_KDIM_THRESHOLD
    id_type = corpus.select("vec_id").schema.fields[0] \
        .dataType.simpleString()
    vec_type = corpus.select("embedding").schema.fields[0] \
        .dataType.simpleString()

    if not big:
        c = corpus.select(
            F.col("vec_id").alias("vec_id"), F.col("embedding").alias("_cv"),
            nearest_centroid(F.col("embedding"), centroids).alias("_cell"))
        dists = F.transform(_centroid_lit(centroids),
                            lambda cc: sq_dist(F.col("embedding"), cc))
        q_cells = (
            queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("_qv"),
                           F.posexplode(dists).alias("_i", "_d"))
            .withColumn("_pr", F.row_number().over(
                Window.partitionBy("query_id").orderBy("_d", "_i")))
            .filter(F.col("_pr") <= n_probe)
            .select("query_id", "_qv",
                    F.col("_i").cast("bigint").alias("_cell"))
        )
    else:
        cent = np.asarray(centroids, dtype="float64")
        cent_t = np.ascontiguousarray(cent.T)
        c2 = (cent * cent).sum(axis=1)

        def corpus_cells(batches):
            for pdf in batches:
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "_cv": pdf["embedding"],
                    "_cell": _nearest_cells(pdf["_v"], cent)})

        c = corpus.select("vec_id", "embedding",
                          _null_if_null_element()).mapInPandas(
            corpus_cells,
            schema=f"vec_id {id_type}, _cv {vec_type}, _cell bigint")

        def probe_cells(batches):
            for pdf in batches:
                rows_id, rows_qv, rows_cell = [], [], []
                for qid, v in zip(pdf["vec_id"], pdf["embedding"]):
                    if v is None or len(v) != dim:
                        continue
                    qv = np.asarray(v, dtype="float64")
                    if np.isnan(qv).any():
                        continue
                    d2 = ((qv * qv).sum() - 2.0 * (qv @ cent_t)
                          + c2)
                    near = np.lexsort((np.arange(kk), d2))[:n_probe]
                    for cell in near:
                        rows_id.append(qid)
                        rows_qv.append(v)
                        rows_cell.append(int(cell))
                yield pd.DataFrame({"query_id": rows_id,
                                    "_qv": pd.Series(rows_qv,
                                                     dtype=object),
                                    "_cell": rows_cell}) \
                    if rows_id else pd.DataFrame(
                        {"query_id": pd.Series(dtype=object),
                         "_qv": pd.Series(dtype=object),
                         "_cell": pd.Series(dtype="int64")})

        q_cells = queries.select("vec_id", "embedding").mapInPandas(
            probe_cells,
            schema=f"query_id {id_type}, _qv {vec_type}, _cell bigint")

    cand = (
        c.join(F.broadcast(q_cells), "_cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "_qv", "_cv")
    )

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qv_raw = pdf["_qv"].iloc[0]
        qv = (np.asarray(qv_raw, dtype="float64")
              if qv_raw is not None else np.array([]))
        qn = np.sqrt(np.cumsum(qv * qv)[-1]) if len(qv) else None
        ids = pdf["vec_id"].to_numpy()
        raw = [None if (v is None or qn is None or len(v) != len(qv))
               else np.asarray(v, dtype="float64") for v in pdf["_cv"]]
        ok = np.array([v is not None for v in raw])
        cos = np.full(len(ids), np.nan)
        if ok.any():
            M = np.stack([v for v, o in zip(raw, ok) if o])
            dots = np.cumsum(M * qv, axis=1)[:, -1]
            norms = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
            cos[np.flatnonzero(ok)] = dots / np.maximum(norms * qn, 1e-12)
        # NULL-cos candidates (null/ragged vector, null element, null
        # query vector) rank LAST by vec_id — the window's desc NULLS-LAST
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

    # assignment via assign_cells so the production-k*dim vectorized path
    # dispatches here too (the literal-tree blowup this module documents
    # would otherwise survive on the sampling path)
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
