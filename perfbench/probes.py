"""Per-layer probes of the traced run, shared by both workloads.

Each probe times one layer on the workload's own input, in a span of its
own, outside the operations the end-to-end numbers come from.
"""

from __future__ import annotations

import statistics
import time

from pyspark import StorageLevel
from pyspark.sql import Window
from pyspark.sql import functions as F

from cfht2caom2_spark.config import DEFAULT_PROFILE
from cfht2caom2_spark.functions.fused import with_extract_and_scores
from cfht2caom2_spark.functions.quality import (with_quality_score,
                                                with_quality_stats)
from cfht2caom2_spark.functions.scrub import scrub_rules_fired, scrubbed
from cfht2caom2_spark.operators.dedup import minhash_losers_from_sig

from .harness import CORES

PROFILE = DEFAULT_PROFILE
PERMS = PROFILE.minhash_bands * PROFILE.minhash_rows_per_band


def noop(df) -> None:
    """Execute ``df`` fully and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def timed(tr, name: str, fn):
    """(seconds, result) of ``fn()`` run inside span ``name``."""
    with tr.span(name) as rec:
        out = fn()
    return rec["end"] - rec["start"], out


def kernel_us_per_doc(rows: list[dict]) -> dict[str, float]:
    """Single-thread direct calls of the fused UDF's kernels on ``rows``
    (generator dicts): median of 3 repetitions, microseconds per page."""
    import numpy as np

    from cfht2caom2_spark.functions.extraction import extract_html, sha256_text
    from cfht2caom2_spark.functions.fused import minhash_sig_py
    from cfht2caom2_spark.functions.langid import TrigramLangID
    from cfht2caom2_spark.functions.perplexity import BigramLM
    from cfht2caom2_spark.operators.dedup import _perm_params

    lid, lm = TrigramLangID(), BigramLM()
    perms = _perm_params(PERMS)
    a = np.array([p for p, _ in perms], dtype=np.int64)
    b = np.array([q for _, q in perms], dtype=np.int64)
    n = len(rows)

    def per_doc(fn):
        times, out = [], None
        for _ in range(3):
            t = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t)
        return statistics.median(times) / n * 1e6, out

    extract_us, texts = per_doc(lambda: [
        extract_html(r["html"]) if r["html"] is not None and len(r["html"]) > 0
        else r["text"] for r in rows])
    sha_us, _ = per_doc(lambda: [sha256_text(t) for t in texts])
    langid_us, (langs, _) = per_doc(lambda: lid.predict_batch(texts))
    ppl_us, _ = per_doc(lambda: lm.perplexity_batch(texts, langs))
    minhash_us, _ = per_doc(lambda: [minhash_sig_py(t, a, b, PROFILE.shingle_size)
                                     for t in texts])
    return {"functions.extraction.extract_us_per_doc": extract_us,
            "functions.extraction.sha_us_per_doc": sha_us,
            "functions.langid.us_per_doc": langid_us,
            "functions.perplexity.us_per_doc": ppl_us,
            "functions.fused.minhash_us_per_doc": minhash_us}


def _fused(spark, pages):
    return with_extract_and_scores(pages, spark, minhash_perms=PERMS,
                                   shingle_k=PROFILE.shingle_size)


def _dedup_losers(base, tracker: list):
    """The pipeline's dedup step composed from the same calls
    (plans/pipeline.py): exact collapse by content hash, then banded
    MinHash over one canonical page per hash."""
    alive = base.select("url", "warc_ts", "extracted_sha256", "minhash_sig") \
        .filter(F.col("extracted_sha256").isNotNull())
    canonical = alive.withColumn(
        "_url_rn", F.row_number().over(
            Window.partitionBy("url").orderBy("warc_ts"))) \
        .filter(F.col("_url_rn") == 1).drop("_url_rn")
    ranked = canonical.withColumn("_sha_rn", F.row_number().over(
        Window.partitionBy("extracted_sha256").orderBy("warc_ts", "url")))
    exact = ranked.filter(F.col("_sha_rn") > 1).select("url")
    near = minhash_losers_from_sig(
        ranked.filter(F.col("_sha_rn") == 1).drop("_sha_rn"),
        id_col="url", order_col="warc_ts",
        bands=PROFILE.minhash_bands,
        rows_per_band=PROFILE.minhash_rows_per_band,
        threshold=PROFILE.dedup_jaccard, persist_tracker=tracker,
        policy=PROFILE.dedup_policy)
    return exact, near


def layer_probes(tr, spark, pages, sample_rows: list[dict]) -> dict[str, float]:
    """Scan, fused Arrow pass (plain and under the Python UDF profiler),
    JVM quality and scrub expressions, dedup, and the direct kernel calls,
    all over ``pages`` (the operation's input)."""
    m: dict[str, float] = {}
    m["sources.table.scan_s"], _ = timed(tr, "sources.table.scan",
                                         lambda: noop(pages))
    m["sources.table.files"] = len(pages.inputFiles())
    m["functions.fused.pass_s"], _ = timed(
        tr, "functions.fused.pass", lambda: noop(_fused(spark, pages)))

    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        timed(tr, "functions.fused.profiled_pass",
              lambda: noop(_fused(spark, pages)))
        stats = spark._profiler_collector._perf_profile_results
        m["functions.fused.python_s"] = sum(s.total_tt for s in stats.values())
        spark.profile.clear()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")

    kernels = kernel_us_per_doc(sample_rows)
    m.update(kernels)
    rows = pages.count()
    m["functions.fused.crossing_s"] = (
        m["functions.fused.pass_s"] - rows * sum(kernels.values()) / 1e6 / CORES)

    post = _fused(spark, pages).drop("html", "text") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    tracker = [post]
    try:
        timed(tr, "functions.fused.persist", post.count)
        m["functions.quality.exprs_s"], _ = timed(
            tr, "functions.quality.exprs", lambda: noop(with_quality_score(
                with_quality_stats(post, text_col="extracted_text",
                                   lang_col="lang_pred"))))
        text = F.col("extracted_text")
        m["functions.scrub.exprs_s"], _ = timed(
            tr, "functions.scrub.exprs", lambda: noop(post.select(
                scrubbed(text).alias("s"), scrub_rules_fired(text).alias("r"))))
        exact, near = _dedup_losers(post, tracker)
        with tr.span("operators.dedup.exec") as rec:
            m["operators.dedup.exact_losers"] = exact.count()
            m["operators.dedup.near_losers"] = near.count()
        m["operators.dedup.exec_s"] = rec["end"] - rec["start"]
    finally:
        for df in tracker:
            df.unpersist()
    return m
