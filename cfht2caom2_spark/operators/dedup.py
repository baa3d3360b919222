"""Deduplication family: MinHash+LSH, SimHash, connected components,
duplication weights.

Reference analogue: duplicate-destination elimination preferring the canonical
form (reference cfht_name.py:370-380) and obsolete-artifact cleanup
(cleanup_augmentation.py:77-147) — "of several representations of the same
content, deterministically keep one".  The scale-path design follows the
published MinHash/LSH banding construction (Broder 1997; Lee et al. 2022
"Deduplicating Training Data Makes Language Models Better").

Scale notes (the part that matters at 10^12 docs):
  * signatures are computed in one narrow vectorized Python crossing
    (functions/kernels.py), no shuffle;
  * the ONLY wide op is the band-bucket self-join; band keys are high-entropy
    (md5-derived), so buckets are balanced by construction and AQE skew-join
    covers residual hot buckets (e.g. boilerplate-identical pages);
  * candidate pairs are verified (MinHash agreement estimate) before any row
    is dropped, so LSH banding parameters trade recall, never precision;
  * winner selection is "earliest wins" (min sort key), the reference's W2
    first-wins semantics (cfht_name.py:370-380), made deterministic by a total
    ordering (order_col, id_col).

Dropping policy: a doc is removed if it is near-duplicate of ANY doc with a
smaller sort key (pair-dominance, not transitive closure).  This is the
standard one-pass policy for web-scale dedup — transitive closure needs
iterative joins; ``minhash_losers_from_sig(policy="clusters")`` provides it
via ``connected_components``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.kernels import MERSENNE_31
from ..functions.tokens import md5_fingerprint
from ..session import release


# --- shingles / minhash --------------------------------------------------------

def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of whitespace-normalized lowercase text.

    Built from k shifted slices zipped together — strictly linear.  (The
    index-lambda formulation ``transform(sequence(...), i ->
    element_at(toks, i+j))`` re-evaluates the inline token expression per
    element: O(n^2) per document, a real 50x slowdown at 200+ tokens.)
    """
    toks = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit(""))
    n = F.size(toks)
    win = F.greatest(n - (k - 1), F.lit(1))
    sh = F.slice(toks, 1, win)
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(toks, j + 1, win),
                        lambda a, b: F.concat_ws(" ", a, b))
    # shorter-than-k docs: the whole text is the single shingle
    return F.array_distinct(
        F.when(n >= k, sh).otherwise(F.array(F.array_join(toks, " ")))
    )


def shingle_hash(shingle: Column) -> Column:
    """Oracle-portable hash: first 15 hex chars of md5, reduced mod 2^31-1.
    (Identical expression exists in DuckDB — used by the oracle queries.)"""
    h = F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("bigint")
    return h % MERSENNE_31


def shingle_hash_fast(shingle: Column) -> Column:
    """Production hash: CRC32 (JVM intrinsic, ~10x cheaper than md5 hex +
    BigInteger conv, and allocation-light — md5 hashing was the GC-bound
    serial fraction that capped dedup scaling).  Reproducible outside the
    JVM via ``zlib.crc32`` (same polynomial), which the golden reference
    labeler uses."""
    return F.crc32(shingle.cast("binary")) % MERSENNE_31


def _perm_params(num_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation; a odd, both < 2^31 so a*x + b
    stays < 2^63 (no overflow divergence between engines)."""
    return [((2 * i + 1) % MERSENNE_31, (i * 40_503 + 1_299_721) % MERSENNE_31)
            for i in range(num_perms)]


def minhash_sig_frame(df: DataFrame, id_col: str, text_col: str,
                      num_perms: int, k: int = 3, hash_fn=None,
                      out_id: str = "_id",
                      out_sig: str = "_sig") -> DataFrame:
    """(id, signature array<bigint>) built in one vectorized Python
    crossing (``kernels.minhash_sig``) for the crc32 (default /
    ``shingle_hash_fast``) or md5 (``shingle_hash``) base hash; any other
    ``hash_fn`` raises ValueError (``kernels.base_hash``).  Bit-identical
    to the expression fold over ``word_shingles`` (tests/reference_impl.py
    ``minhash_signature``; pinned by tests/test_kernel_parity.py and the
    DuckDB oracles).  Pinned NULL rule: NULL text signs as
    [MERSENNE_31]*num_perms — the fold's least() SKIPS the [NULL] hash,
    so the accumulator keeps its init, and all NULL-text docs share a
    signature and band together, same as the fold.  ``""`` signs as its
    single empty shingle.  The expression fold is interpreted
    (higher-order functions don't codegen) at ~2 ms/doc; the numpy
    broadcast is ~30 us/doc."""
    import numpy as np
    import pandas as pd

    from ..functions.kernels import base_hash, minhash_sig

    h = base_hash(hash_fn)
    perms = _perm_params(num_perms)
    A = np.array([a for a, _ in perms], dtype=np.int64)
    B = np.array([b for _, b in perms], dtype=np.int64)
    null_sig = [MERSENNE_31] * num_perms

    def one(text):
        return null_sig if text is None else minhash_sig(text, A, B, k, h)

    id_type = df.select(id_col).schema.fields[0].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                out_id: pdf[id_col].to_numpy(),
                out_sig: pd.Series([one(t) for t in pdf[text_col]],
                                   dtype=object),
            })

    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{out_id} {id_type}, {out_sig} array<bigint>")


def banded_keys(sig: DataFrame, id_col: str,
                bands: int, rows_per_band: int,
                sig_col: str = "_sig") -> DataFrame:
    """(id, band, key) LSH bucket rows from a (id, signature-array) frame —
    one explode (rows -> rows×bands); band keys concatenate the band's
    minhashes.  Shared by the near-dup self-join (lsh_candidate_pairs) and
    the corpus×eval fuzzy-decontamination join (decontam.fuzzy_decontaminate)."""
    return sig.select(
        id_col,
        F.explode(F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), lambda b:
            F.struct(
                b.alias("band"),
                F.concat_ws("_", *[
                    F.element_at(F.col(sig_col), (b * rows_per_band + r + 1).cast("int"))
                    for r in range(rows_per_band)
                ]).alias("key"),
            ))).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                        bands: int = 8, rows_per_band: int = 2,
                        k: int = 3, hash_fn=None) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) via banded minhash buckets.

    One explode (rows -> rows×bands) + one self-join on (band, band_key).
    Band keys concatenate the band's minhashes; bucket join is the single
    shuffle of the dedup stage.
    """
    sig = minhash_sig_frame(df, id_col, text_col, bands * rows_per_band, k,
                            hash_fn)
    # both sides of the bucket self-join would re-run the shingle+minhash
    # work from the input otherwise — materialize the slim (id, 32-long)
    # signature frame once (same pay-once discipline as simhash_pairs)
    sig = sig.localCheckpoint(eager=False)
    banded = banded_keys(sig, "_id", bands, rows_per_band)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return pairs


# --- simhash -------------------------------------------------------------------

def hash60(feature: Column) -> Column:
    """Full-width oracle-portable hash: first 15 hex chars of md5 = 60 bits
    (DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``).  Unlike
    shingle_hash there is NO mod-2^31 reduction — simhash reads individual
    BITS of the feature hash, and a 31-bit hash would pin every bit above
    30 to a constant."""
    return F.conv(F.substring(F.md5(feature), 1, 15), 16, 10).cast("bigint")


def hash60_fast(feature: Column) -> Column:
    """Production 60-bit hash: xxhash64 (JVM intrinsic, no hex round-trip /
    BigInteger) masked to the low 60 bits so downstream math stays in
    non-negative BIGINT range.  Different hash family than hash60 (no
    Python twin), so values differ; the packing shuffle key uses it."""
    return F.xxhash64(feature).bitwiseAND(F.lit((1 << 60) - 1))


def simhash(text: Column, bits: int = 16, features_fn=None,
            hash_fn=None) -> Column:
    """Per-row SimHash — pure array expressions, no shuffle (Charikar
    2002).  Bit j of the output is 1 iff the sum over features of ±1
    (feature-hash bit j) is positive.

    Defaults keep the original q_simhash surface: features = distinct
    words, hash = shingle_hash (31-bit — fine for bits <= 31).  With
    shingle features + hash60 this is the expression reference of
    ``_simhash_md5_frame`` (the signature ``simhash_pairs`` uses), where
    ordering matters and all 60 hash bits carry signal."""
    if features_fn is None:
        def features_fn(t):
            return F.array_distinct(
                F.filter(F.split(F.lower(F.trim(t)), r"\s+"),
                         lambda x: x != F.lit("")))
    hashes = F.transform(features_fn(text), hash_fn or shingle_hash)
    # ONE fold over the hash array accumulating all per-bit counters (per-bit
    # separate folds would re-evaluate the token/md5 pipeline `bits` times)
    zeros = F.array_repeat(F.lit(0).cast("bigint"), bits)

    def step(acc: Column, h: Column) -> Column:
        contrib = F.array(*[
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1)).cast("bigint")
            for j in range(bits)
        ])
        return F.zip_with(acc, contrib, lambda a, b: a + b)

    counts = F.aggregate(hashes, zeros, step)
    # assemble the bit pattern in ONE weighted traversal of counts (indexing
    # counts per bit would re-evaluate the aggregate per reference)
    return F.aggregate(
        counts,
        F.struct(F.lit(0).cast("bigint").alias("v"),
                 F.lit(1).cast("bigint").alias("w")),
        lambda acc, c: F.struct(
            (acc["v"] + F.when(c > 0, acc["w"]).otherwise(F.lit(0).cast("bigint"))).alias("v"),
            (acc["w"] * 2).alias("w"),
        ),
        lambda acc: acc["v"],
    )


def _simhash_md5_frame(docs: DataFrame, id_col: str, text_col: str,
                       bits: int, k: int) -> DataFrame:
    """(_id, _sh) simhash signatures over md5-hashed word k-shingles via
    one vectorized Python crossing (``kernels.simhash60``) — bit-identical
    to ``simhash(features_fn=word_shingles(k), hash_fn=hash60)``: hashlib
    md5 over UTF-8 == F.md5, first 15 hex chars == the 60-bit hash, and the
    per-bit ±1 sums / weighted reassembly are exact integer arithmetic.
    Pinned NULL rule: NULL text signs as 0 — the expression fold hashes
    word_shingles(NULL) = [NULL], whose per-bit contrib hits the
    otherwise(-1) branch for every bit, so no count goes positive (NOT a
    NULL signature — all NULL-text docs are hamming-0 pairs of each other
    and of any doc whose simhash is within max_hamming of 0)."""
    import pandas as pd

    from ..functions.kernels import simhash60

    def sig_batches(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "_id": pdf[id_col].to_numpy(),
                "_sh": pd.Series([0 if t is None else simhash60(t, bits, k)
                                  for t in pdf[text_col]], dtype="int64"),
            })

    id_type = docs.select(id_col).schema.fields[0].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        sig_batches, schema=f"_id {id_type}, _sh bigint")


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 60,
                  n_bands: int = 4, max_hamming: int = 3,
                  shingle_k: int = 3) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming LSH — the third member of
    the near-dup family (exact sha / MinHash Jaccard / SimHash Hamming).

    Pigeonhole guarantee: with ``n_bands`` equal-width bands and
    ``max_hamming <= n_bands - 1``, any pair within the Hamming threshold
    shares at least one identical band, so the banded candidate join has
    EXACT recall vs the all-pairs spec (the DuckDB oracle brute-forces that
    spec; results match row-for-row, no approximation to excuse).

    Scale shape: the only wide op is a self-equi-join on (band, band_value)
    — 2^(bits/n_bands) buckets per band.  At corpus scale pick
    ``bits``/``n_bands`` so buckets stay fine-grained (e.g. 60/4 -> 15-bit
    bands = 32k buckets; AQE skew-join splits residual hot buckets, conf in
    session.py).  Candidates shuffle only (id, simhash) — never text.
    ``bits`` is capped at 62 to keep band arithmetic and the Hamming XOR in
    non-negative BIGINT range on both engines.

    Reference analogue: the pair-generating blueprint of the MinHash LSH
    self-join (this file, minhash_pairs) applied to the Hamming metric;
    reference's own near-dup check is single-key equality
    (/root/reference/cfht2caom2/instruments.py:838 merge discipline).
    """
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    if bits > 62:
        raise ValueError("bits > 62 would overflow signed BIGINT band math")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands >= {max_hamming + 1} "
            "for exact banded recall")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    # the expression form (simhash + hash60) folds a `bits`-element contrib
    # array per shingle per doc (~bits × shingles interpreted lambda
    # evals); one mapInPandas crossing computes the identical signature
    # with hashlib md5 + one numpy bit-matrix per doc, pinned by the
    # brute-force DuckDB oracle
    sh = _simhash_md5_frame(docs, id_col, text_col, bits, shingle_k)
    # both sides of the banded self-join would otherwise re-run the whole
    # shingle+hash+fold signature from the scan (2x the dominant cost);
    # materialize the slim (id, 8-byte simhash) frame once — at corpus
    # scale this is the same pay-once discipline as the minhash signature
    # pin in the pipeline
    sh = sh.localCheckpoint(eager=False)
    bands = sh.select(
        "_id", "_sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("_sh"), b * band_bits)
                .bitwiseAND(F.lit(mask)).alias("val"))
            for b in range(n_bands)])).alias("bv"))
    left = bands.select(F.col("_id").alias("id_a"),
                        F.col("_sh").alias("sh_a"), "bv")
    right = bands.select(F.col("_id").alias("id_b"),
                         F.col("_sh").alias("sh_b"), "bv")
    cand = (left.join(right, "bv")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b")
            .distinct())
    return (cand
            .withColumn("hamming",
                        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# --- transitive closure (cluster labeling) -------------------------------------

def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"): for every node u, attach each strictly-larger
    neighbor to min(Γ(u) ∪ {u}).  Input/output edges oriented (src > dst)."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("_m"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: for every node u with its smaller neighbors Γ(u)
    (edges arrive oriented src > dst), attach u and all of Γ(u) to min(Γ(u)).
    Output stays oriented (src > dst)."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("_m"))
    moved = (
        edges.join(mins, "src")
        .filter(F.col("dst") != F.col("_m"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    centers = mins.select(F.col("src"), F.col("_m").alias("dst"))
    return moved.union(centers).distinct()


def _cc_driver_small(spark, edges: DataFrame) -> DataFrame:
    """Union-find over a BOUNDED collected edge set (the small-graph branch
    of connected_components; see its call site for the size argument).
    Same output contract: (node, component=min node id), pairs-nodes only.

    Round 6: the edge set crosses to the driver as ONE Arrow batch
    (``toPandas``; ~16 B/edge) instead of per-row Row objects (~100+
    B/edge of Python overhead) and returns the same way — that is what
    makes the raised threshold's memory bound real."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:        # path compression
            parent[x], x = root, parent[x]
        return root

    pdf = edges.toPandas()
    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = pd.DataFrame({"node": list(parent.keys())})
    out["component"] = [find(n) for n in out["node"]]
    schema = edges.select(F.col("src").alias("node"),
                          F.col("dst").alias("component")).schema
    return spark.createDataFrame(out, schema)


def connected_components(pairs: DataFrame, max_rounds: int = 10,
                         small_graph_threshold: int = 2_000_000) -> DataFrame:
    """Transitive closure of near-dup pairs at scale: alternating large-star /
    small-star contraction (Kiveris et al. 2014).  Converges to a star forest
    in O(log n) rounds w.h.p.; every round is two shuffles over the EDGE set
    only (the corpus never moves), so the cost is bounded by the duplicate
    graph, not the table.

    Unlike the round-1 min-label loop, there is no per-round driver-side
    convergence ``.count()`` job: each round materializes via localCheckpoint
    (which also truncates the iterative plan's lineage) and the convergence
    probe — "no dst is still a src", i.e. the graph is a star forest — is a
    left-semi ``isEmpty`` over those checkpointed edges.

    Each round's checkpoint is released once its successor is
    materialized, so only the final round stays pinned (the returned frame
    reads it; Spark's cleaner frees it with the frame).  Preemption
    caveat: ``session.release``.

    Returns (node, component) with component = min node id of the cluster;
    nodes absent from ``pairs`` (singletons) are not returned.

    Adaptive branch: when the materialized edge count is <=
    ``small_graph_threshold`` (default 2M edges), a driver-side union-find
    replaces the iteration: each star round costs ~3 fixed Spark jobs
    (contract + checkpoint + fused convergence probe), pure scheduling
    overhead at that size — at sf1.0's 369k-edge minhash graph the
    iterative path spent ~5 s on ~4 rounds of jobs the union-find does in
    under a second.  Driver memory at the default threshold, honestly:
    the Arrow batch is ~16 B/edge (~32 MB), but the Python parent DICT
    dominates at ~200 B per distinct endpoint — worst case ~4M nodes ≈
    0.8 GB transient, sized against this engine's 8g default driver
    (session.get_spark); on a memory-tight driver pass a smaller
    threshold.  Identical labeling (paths-agree test); the star
    contraction below remains the scale path and every algorithmic test
    pins it via ``small_graph_threshold=0``.
    """
    edges = pairs.select(
        F.greatest("id_a", "id_b").alias("src"),
        F.least("id_a", "id_b").alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    edges = edges.localCheckpoint()
    # duplicate graphs are typically tiny relative to the corpus: size the
    # iteration's partitioning to the ACTUAL edge count (the count is free —
    # edges are already materialized).  This thins the map stages and the
    # per-round probe scans; post-shuffle task counts remain AQE-decided
    # (coalescePartitions only shrinks to default parallelism).
    n_edges = edges.count()
    if n_edges <= small_graph_threshold:
        # adaptive small-graph path (the AQE-broadcast analogue, decided
        # from the MEASURED edge count, which is already on the driver):
        # each star round costs a fixed ~3 Spark jobs (contract + checkpoint
        # + fused convergence probe) — pure scheduling overhead when the
        # edge set fits one Arrow batch.  A bounded driver-side union-find
        # (~16 B/edge Arrow + ~200 B/node dict; see the docstring's honest
        # worst case vs the 8g driver) produces the identical
        # (node, min-id component) labeling in one collect.  The iterative
        # path below remains THE scale path; equivalence is pinned by
        # tests/test_operators.py::test_connected_components_paths_agree.
        small = _cc_driver_small(pairs.sparkSession, edges)
        release([edges])
        return small
    # defaultParallelism as the ceiling, not edges.rdd.getNumPartitions():
    # the .rdd handle would force a DF->RDD conversion just to read a number
    cur = edges.sparkSession.sparkContext.defaultParallelism
    target = max(1, min(cur, n_edges // 50_000 + 1))
    if target < cur:
        edges, prev = edges.repartition(target).localCheckpoint(), edges
        release([prev])
    converged = False
    for _ in range(max_rounds):
        edges, prev = _small_star(_large_star(edges)).localCheckpoint(), edges
        release([prev])
        # converged iff the edge set IS a star forest: every src points to
        # exactly one dst AND no dst is itself a src.  (The second condition
        # alone is NOT sufficient — a node attached to two different roots
        # has no dst-as-src yet the component is still split.)
        non_star = edges.alias("a").join(
            edges.alias("b"), F.col("a.dst") == F.col("b.src"), "left_semi")
        multi_parent = (edges.groupBy("src")
                        .agg(F.count(F.lit(1)).alias("_n"))
                        .filter(F.col("_n") > 1))
        # ONE probe job per round instead of two: isEmpty is a take(1), so
        # a non-converged round usually short-circuits on the first branch
        # and a converged round evaluates both in the same job
        probe = non_star.select(F.lit(1).alias("_p")).unionAll(
            multi_parent.select(F.lit(1).alias("_p")))
        if probe.isEmpty():
            converged = True
            break
    labels = edges.select(F.col("src").alias("node"),
                          F.col("dst").alias("component"))
    if not converged:
        # max_rounds exhausted on a pathological graph: collapse residual
        # multi-parent rows to one deterministic label so callers (loser
        # joins) never see duplicate node rows.  NOTE this degraded output
        # may split a true cluster across labels (the min-node-id contract
        # holds only at convergence — raise max_rounds if this path is hit);
        # at convergence the collapse is skipped entirely (no extra shuffle).
        labels = labels.groupBy("node").agg(
            F.min("component").alias("component"))
    roots = (edges.select(F.col("dst").alias("node")).distinct()
             .join(edges.select(F.col("src").alias("node")).distinct(),
                   "node", "left_anti")
             .withColumn("component", F.col("node")))
    return labels.union(roots)


def cluster_losers(pairs: DataFrame, keyed: DataFrame,
                   id_col: str = "_id", ord_col: str = "_ord",
                   max_rounds: int = 10) -> DataFrame:
    """Transitive-closure loser selection: every doc in a near-dup component
    except its earliest member (min (ord, id)) is dropped.

    More aggressive than pair-dominance on CHAINS: if A~B and B~D but A is
    not similar to D, pair-dominance keeps D (no earlier direct partner)
    while the cluster policy drops it (same component as the earlier A) —
    the semantics most published dedup pipelines call "cluster dedup"
    (Lee et al. 2022 §3.2 keep-one-per-cluster).

    ``keyed``: (id_col, ord_col) one row per id, supplies the ordering.
    Returns a one-column DataFrame ``loser_id``.
    """
    comp = connected_components(pairs, max_rounds)
    labeled = comp.join(
        keyed.select(F.col(id_col).alias("node"), F.col(ord_col).alias("_o")),
        "node")
    w = Window.partitionBy("component").orderBy("_o", "node")
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("node").alias("loser_id"))
    )


def minhash_losers_from_sig(df: DataFrame, id_col: str, order_col: str,
                            sig_col: str = "minhash_sig",
                            bands: int = 8, rows_per_band: int = 4,
                            threshold: float = 0.8,
                            persist_tracker: list | None = None,
                            policy: str = "pairs") -> DataFrame:
    """Near-dup losers from PRECOMPUTED signatures (the production path).

    Verification uses the standard MinHash similarity estimator — the
    fraction of agreeing permutations (Broder 1997) — instead of an exact
    shingle Jaccard: with 32 permutations the estimate has sigma ~0.07 at
    J=0.8, the same verification large-scale dedup pipelines use, and it
    touches only the 32-element signature arrays (no second pass over text).

    Precondition: ``df`` holds ONE row per id (``build_pipeline`` passes
    one canonical row per url).  Nothing here re-ranks: a second row for an
    id would enter the bands as its own document.

    Plan shape: slim (id, ord, sig) projection, materialized once (eager
    ``localCheckpoint``: it fans out to both sides of the band self-join
    and both signature fetches, and a lazy persist would cost one cache-read
    job per branch) -> band explode of (surrogate-id, band, key) ONLY ->
    self-join on (band, key) -> distinct candidate pairs -> fetch both REAL
    ids + signatures per PAIR -> estimator filter -> earliest-wins.  No
    window, so the band self-join is the only shuffle of the signatures.
    Text never moves; the full 32-perm signature ships once per candidate
    pair instead of once per banded row, and the ×bands explode carries an
    8-byte xxhash64 surrogate instead of the url (together ~12× less
    band-join traffic than the round-1 shape — SCALE_RUNBOOK.md §3);
    candidate pairs colliding in several bands are estimated once, not once
    per collision.  The checkpoint lives in executor block storage
    (preemption caveat: ``session.release``).

    ``persist_tracker``: optional list the pinned signature frame is
    appended to, for the caller to ``session.release`` once the losers
    have been read.

    ``policy``: ``"pairs"`` (default) drops a doc that is near-dup of ANY
    earlier doc — one pass after the checkpoint.  ``"clusters"`` labels
    connected components of the verified-pair graph and keeps only the
    earliest doc per component (more aggressive on chains; see
    ``cluster_losers``); its star-contraction rounds also run EAGERLY.
    Either way the upstream plan executes when this function is CALLED, not
    at the caller's action — upstream frames should be materialized
    (build_pipeline does this).
    """
    num_perms = bands * rows_per_band
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(order_col).alias("_ord"),
        F.col(sig_col).alias("_sig"),
    ).filter(F.col("_sig").isNotNull()).localCheckpoint(eager=True)
    if persist_tracker is not None:
        persist_tracker.append(keyed)
    # the banding/pair stages use an 8-byte xxhash64 SURROGATE of the id
    # (urls average 60-100 B — the id would dominate the banded row,
    # SCALE_RUNBOOK.md §3).  Collision accounting: a collision between
    # UNRELATED docs only adds candidate-pair variants, each verified (and
    # rejected) against the REAL ids' signatures below.  The one loss mode
    # is a true near-dup pair whose two members collide with EACH OTHER
    # (the < filter then suppresses that pair): per true pair that is
    # P = 2^-64, i.e. ~5e-9 expected misses even at 10^11 true dup pairs —
    # quantified, not zero.  Real ids come back at the signature fetch.
    keyed_s = keyed.withColumn("_sid", F.xxhash64(F.col("_id")))
    banded = keyed_s.select(
        "_sid",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[
                    F.element_at(F.col("_sig"), b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ]).alias("key"),
            ) for b in range(bands)
        ])).alias("bk"),
    ).select("_sid", "bk.band", "bk.key")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(r, ["band", "key"])
        .filter(F.col("l._sid") < F.col("r._sid"))
        .select(F.col("l._sid").alias("sid_a"), F.col("r._sid").alias("sid_b"))
        .distinct()
    )
    sigs_a = keyed_s.select(F.col("_sid").alias("sid_a"),
                            F.col("_id").alias("id_a"),
                            F.col("_ord").alias("_ord_a"),
                            F.col("_sig").alias("_sig_a"))
    sigs_b = keyed_s.select(F.col("_sid").alias("sid_b"),
                            F.col("_id").alias("id_b"),
                            F.col("_ord").alias("_ord_b"),
                            F.col("_sig").alias("_sig_b"))
    est = (
        F.size(F.filter(
            F.zip_with(F.col("_sig_a"), F.col("_sig_b"),
                       lambda a, b: F.when(a == b, 1).otherwise(0)),
            lambda x: x == 1,
        )).cast("double") / F.lit(float(num_perms))
    )
    verified = (
        pairs.join(sigs_a, "sid_a").join(sigs_b, "sid_b")
        .filter(est >= threshold)
    )
    if policy == "clusters":
        return cluster_losers(verified.select("id_a", "id_b"),
                              keyed, "_id", "_ord")
    return (
        verified.select(
            F.when((F.col("_ord_a") < F.col("_ord_b"))
                   | ((F.col("_ord_a") == F.col("_ord_b"))
                      & (F.col("id_a") < F.col("id_b"))),
                   F.col("id_b")).otherwise(F.col("id_a")).alias("loser_id")
        )
        .distinct()
    )


def duplication_weights(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Soft dedup: instead of DROPPING repeated content, weight it down —
    every doc gets its content-group multiplicity and the 1/n sampling
    weight that makes each distinct content unit contribute equally to a
    training epoch (the "count once, not n times" reweighting used when
    hard dedup is too aggressive, e.g. templated-but-distinct pages).

    One window over the content fingerprint — the same shuffle key as the
    exact-dedup collapse; no joins.  Returns (id, dup_count, dup_weight).
    """
    w = Window.partitionBy(md5_fingerprint(F.col(text_col)))
    n = F.count(F.lit(1)).over(w)
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("dup_count"),
        (F.lit(1.0) / n).alias("dup_weight"),
    )
