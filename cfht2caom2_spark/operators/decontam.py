"""Benchmark decontamination — flag training docs overlapping an eval set.

The standard LLM-training-data hygiene pass (GPT-3 appendix C / Lee et al.
2022 §6 shape): a training document is *contaminated* when it shares at least
``min_overlap`` distinct word k-grams with any document of a benchmark/eval
suite.  Reference analogue: the reject-list lookup consulted before any file
is processed (reference cfht_name.py:560-575 checks the rejected cache and
skips known-bad inputs — here the "known set" is the eval suite and the
consequence is a flag, not a skip).

Scale shape (10^12 training docs, ~10^6 benchmark docs):
  * the benchmark side is BOUNDED (eval suites are tiny and fixed), so its
    distinct-gram table is genuinely broadcastable — this is the one join in
    the engine where a broadcast hint is correct by construction, not by
    runtime luck.  ~10^8 grams x 8 B ≈ 1 GB worst case; below executor
    memory, and the hint is still left to AQE by default (``hint_broadcast``)
    so a pathological suite degrades to a shuffle join instead of an OOM.
  * the training side explodes to (id, gram_hash) — slim 16-B rows — but the
    inner join against the benchmark grams filters that stream map-side
    (broadcast) BEFORE any shuffle: only matching grams (a tiny fraction of
    the corpus) reach the per-doc count aggregation.
  * per-doc total gram counts are computed narrow (array size), never
    shuffled.

Gram identity uses the md5-derived ``shingle_hash`` (oracle-portable; the
production swap to crc32 via ``hash_fn=shingle_hash_fast`` halves the cost,
same as the dedup path).  Hash collisions can only ADD overlap counts
(never lose a true overlap), and both engines hash identically, so the
DuckDB parity check is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_hash


def gram_set_frame(docs: DataFrame, id_col: str, text_col: str,
                   k: int = 3, hash_fn=None,
                   out_col: str = "_grams") -> DataFrame:
    """(id, distinct hashed k-gram array) built in one vectorized Python
    crossing (``kernels.gram_hashes``) for the md5 (default /
    ``shingle_hash``) or crc32 (``shingle_hash_fast``) hash; any other
    ``hash_fn`` raises ValueError.  Bit-identical to the expression
    ``array_distinct(transform(word_shingles(text, k), hash))``
    (tests/reference_impl.py ``gram_set``): first-occurrence order, hashes
    reduced mod 2^31-1 and de-duplicated post-hash (collisions collapse).
    Pinned NULL rule: NULL text gives a [NULL] single-element array
    (word_shingles(NULL) folds that way)."""
    import pandas as pd

    from ..functions.kernels import base_hash, gram_hashes

    h = base_hash(hash_fn or shingle_hash)
    id_type = docs.select(id_col).schema.fields[0].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                out_col: pd.Series([[None] if t is None
                                    else gram_hashes(t, k, h)
                                    for t in pdf[text_col]], dtype=object),
            })

    return docs.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, {out_col} array<bigint>")


def benchmark_grams(bench: DataFrame, text_col: str = "text", k: int = 3,
                    hash_fn=None) -> DataFrame:
    """One-column distinct gram table of the whole eval suite, from one
    vectorized Python crossing with a per-partition distinct (a set per
    task, so the exchange carries partials).  NULL-text rows are skipped:
    their [NULL] gram is inert in every join and in the bitmap."""
    import pandas as pd

    from ..functions.kernels import base_hash, gram_hashes

    h = base_hash(hash_fn or shingle_hash)

    def run(batches):
        vals: set[int] = set()
        for pdf in batches:
            for t in pdf[text_col]:
                if t is not None:
                    vals.update(gram_hashes(t, k, h))
        yield pd.DataFrame({"bench_gram": pd.Series(sorted(vals),
                                                    dtype="int64")})

    return bench.select(text_col).mapInPandas(
        run, schema="bench_gram bigint").distinct()


def bench_gram_bitmap(bench_g: DataFrame, bits: int) -> DataFrame:
    """Exact membership bitmap of ``gram mod bits`` over the bench gram
    table, packed as (word_idx, word) longs — at most ``bits/64`` rows
    (512 KiB at the default 2^22 bits) no matter how large the eval suite
    grows, so broadcasting it is correct by construction, not by runtime
    luck.  One-hash scheme => ZERO false negatives (a true overlap can
    never be filtered out); false positives (~n_bench_grams/bits) are
    removed by the exact join downstream."""
    bkt = F.pmod(F.col("bench_gram"), F.lit(bits))
    return (
        bench_g.select(bkt.alias("_bkt"))
        .select(
            F.floor(F.col("_bkt") / 64).alias("word_idx"),
            F.expr("shiftleft(1L, CAST(_bkt % 64 AS INT))").alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("word"))
    )


def decontaminate(docs: DataFrame, bench: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = 3, min_overlap: int = 5,
                  hash_fn=None, hint_broadcast: bool = False,
                  prefilter_bits: int = 1 << 22) -> DataFrame:
    """Per-doc contamination flags: (id, n_grams, n_overlap, contaminated).

    ``n_overlap`` counts the doc's distinct grams that appear anywhere in the
    benchmark suite; ``contaminated`` = n_overlap >= min_overlap.  Every
    input doc appears exactly once in the output (left join semantics)
    PROVIDED ids are unique; duplicate ids yield one output row per input
    row (callers joining back must aggregate or distinct — see
    plans/pipeline.py decontam join-back discipline).

    ``prefilter_bits`` (0 disables): the corpus-side gram stream is pruned
    map-side against the fixed-size bench bitmap BEFORE the overlap join's
    exchange — at 10^12 docs this drops ~all of the exploded (id, gram)
    stream (only gram values colliding with a bench bucket survive) while
    the bench table itself may be too big to broadcast.  Results are
    bit-identical with the filter on or off (exact join downstream; the
    bitmap has no false negatives).

    Pinned gram frames (round 6, guide §2.4): the per-doc gram table
    feeds the exploded overlap stream AND the final n_grams projection, and
    the bench gram table feeds the bitmap AND the overlap join — Catalyst
    reuses neither subtree across the differently-pruned consumers, so the
    tokenize + shingle + hash work (the dominant cost; md5 in oracle mode)
    was evaluated once per branch.  Lazy localCheckpoints pin both slim
    gram frames so every consumer reads the blocks (sf1.0: 15.2 s -> ~5 s).
    """
    grams = gram_set_frame(docs, id_col, text_col, k, hash_fn) \
        .localCheckpoint(eager=False)
    bench_g = benchmark_grams(bench, text_col=text_col, k=k,
                              hash_fn=hash_fn).localCheckpoint(eager=False)
    if hint_broadcast:
        bench_g = F.broadcast(bench_g)

    doc_grams = grams.select(id_col, F.explode("_grams").alias("_g"))
    if prefilter_bits:
        bitmap = bench_gram_bitmap(bench_g, prefilter_bits)
        doc_grams = (
            doc_grams
            .withColumn("_bkt", F.pmod(F.col("_g"), F.lit(prefilter_bits)))
            .withColumn("word_idx", F.floor(F.col("_bkt") / 64))
            # inner join: a word_idx absent from the bitmap means no bench
            # gram hashes anywhere in those 64 buckets — drop is correct
            .join(F.broadcast(bitmap), "word_idx", "inner")
            .filter(F.expr(
                "(word & shiftleft(1L, CAST(_bkt % 64 AS INT))) != 0"))
            .drop("_bkt", "word_idx", "word")
        )
    overlap = (
        doc_grams
        .join(bench_g, F.col("_g") == F.col("bench_gram"), "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_overlap"))
    )
    return (
        grams.select(id_col, F.size("_grams").cast("bigint").alias("n_grams"))
        .join(overlap, on=id_col, how="left")
        .select(
            id_col,
            "n_grams",
            F.coalesce(F.col("_n_overlap"), F.lit(0)).cast("bigint")
            .alias("n_overlap"),
            (F.coalesce(F.col("_n_overlap"), F.lit(0)) >= min_overlap)
            .alias("contaminated"),
        )
    )


def fuzzy_decontaminate(docs: DataFrame, bench: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        bands: int = 8, rows_per_band: int = 2, k: int = 3,
                        min_est_jaccard: float = 0.5,
                        hash_fn=None, hint_broadcast: bool = False) -> DataFrame:
    """Near-duplicate (fuzzy) decontamination: flag training docs whose
    MinHash signature collides with an eval-suite doc in any LSH band AND
    whose signature agreement estimates Jaccard >= ``min_est_jaccard``.

    Complements the exact k-gram pass (``decontaminate``): paraphrased or
    lightly-edited eval leakage shares few exact 3-grams but keeps a high
    shingle Jaccard, which the banded signature still catches (Lee et al.
    2022 §6 uses the same two-tier exact+fuzzy hygiene).  Reference
    analogue: the reject-list lookup (reference cfht_name.py:560-575), here
    with approximate instead of exact membership.

    Scale shape (10^12 training docs, ~10^6 eval docs):
      * eval side is BOUNDED: its banded-key table is (bands × n_eval) slim
        rows — genuinely broadcastable (``hint_broadcast``; left to AQE by
        default), so the corpus band stream is pruned map-side with NO
        corpus-side shuffle beyond the candidate distinct.
      * corpus side pays one signature fold (shared discipline with the
        dedup family: the slim (id, 16-long) sig frame is materialized once
        and reused for banding and the agreement join).
      * only band-colliding docs (a tiny fraction) reach the agreement join
        and per-doc aggregation.

    Returns flagged docs only: (id, n_bench_matches, max_est_jaccard) —
    est_jaccard = fraction of agreeing signature components (granularity
    1/num_perms), exact-rational in both engines so the DuckDB twin matches
    bitwise.
    """
    from .dedup import banded_keys, minhash_sig_frame

    num_perms = bands * rows_per_band
    sig_d = minhash_sig_frame(docs, id_col, text_col, num_perms, k,
                              hash_fn).localCheckpoint(eager=False)
    sig_b = minhash_sig_frame(bench, id_col, text_col, num_perms, k,
                              hash_fn, out_id="_bid", out_sig="_bsig"
                              ).localCheckpoint(eager=False)

    band_d = banded_keys(sig_d, "_id", bands, rows_per_band)
    band_b = banded_keys(sig_b, "_bid", bands, rows_per_band, sig_col="_bsig")
    if hint_broadcast:
        band_b = F.broadcast(band_b)
    cand = band_d.join(band_b, ["band", "key"]).select("_id", "_bid").distinct()

    agree = F.aggregate(
        F.zip_with(F.col("_sig"), F.col("_bsig"),
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    scored = (
        cand.join(sig_d, "_id").join(sig_b, "_bid")
        .withColumn("_ej", agree / F.lit(float(num_perms)))
        .filter(F.col("_ej") >= min_est_jaccard)
    )
    return (
        scored.groupBy("_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bench_matches"),
             F.max("_ej").alias("max_est_jaccard"))
        .select(F.col("_id").alias(id_col), "n_bench_matches",
                "max_est_jaccard")
    )


def decontam_report(docs: DataFrame, bench: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    k: int = 3, min_overlap: int = 5,
                    hash_fn=None, prefilter_bits: int = 1 << 22) -> DataFrame:
    """Per-EVAL-doc contamination audit: for each benchmark doc, how many
    training docs share >= min_overlap distinct k-grams with IT, and the
    deepest such overlap.  The doc-level pass (``decontaminate``) answers
    "is this training doc tainted?"; this answers the auditor's converse —
    "which eval tasks leak, and how badly?" — the report you attach to an
    eval-integrity review.  Reference analogue: the per-artifact rejection
    report (reference cfht_name.py:560-575 reject cache + run summaries).

    Scale shape: same as ``decontaminate`` — the corpus gram stream is
    bitmap-pruned map-side before its one exchange; the only new cost is
    that surviving grams carry the bench id through the pair groupBy
    (bench-suite sized keys, bounded).
    """
    doc_g = gram_set_frame(docs, id_col, text_col, k, hash_fn).select(
        id_col, F.explode("_grams").alias("_g"))
    bench_gd = gram_set_frame(bench, id_col, text_col, k, hash_fn).select(
        F.col(id_col).alias("_bid"), F.explode("_grams").alias("_g"))
    # bench_gd feeds the bitmap AND the pair join (decontaminate's
    # recompute pattern); the corpus stream is consumed once, so only the
    # bench side is pinned
    bench_gd = bench_gd.localCheckpoint(eager=False)
    if prefilter_bits:
        bitmap = bench_gram_bitmap(
            bench_gd.select(F.col("_g").alias("bench_gram")).distinct(),
            prefilter_bits)
        doc_g = (
            doc_g
            .withColumn("_bkt", F.pmod(F.col("_g"), F.lit(prefilter_bits)))
            .withColumn("word_idx", F.floor(F.col("_bkt") / 64))
            .join(F.broadcast(bitmap), "word_idx", "inner")
            .filter(F.expr(
                "(word & shiftleft(1L, CAST(_bkt % 64 AS INT))) != 0"))
            .drop("_bkt", "word_idx", "word")
        )
    pair = (
        doc_g.join(bench_gd, "_g")
        .groupBy(id_col, "_bid")
        .agg(F.count(F.lit(1)).alias("_n_overlap"))
        .filter(F.col("_n_overlap") >= min_overlap)
    )
    return (
        pair.groupBy("_bid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated_docs"),
             F.max("_n_overlap").cast("bigint").alias("max_overlap"))
        .select(F.col("_bid").alias(id_col), "n_contaminated_docs",
                "max_overlap")
    )
