"""Cross-increment decisions compaction — the obsolete-artifact cleanup pass.

Reference analogue: ``cleanup_augmentation`` removes artifacts superseded by
newer representations of the same content
(/root/reference/cfht2caom2/cleanup_augmentation.py:77-147).  Web recast:
state-mode ticks run with dedupe off (each tick sees only its increment —
incremental.process_increment), so byte-identical content arriving in
DIFFERENT increments survives in multiple kept rows.  This periodic pass
re-ranks every kept row by content hash across the whole store and demotes
all but the earliest (adds ``exact_duplicate`` to rules, flips ``keep``),
writing a fresh canonical table — the same rewrite-don't-mutate shape as an
Iceberg rewrite/compaction action.

Scale shape: one window over (extracted_sha256) on a column-pruned read of
the decisions store (hash + keys + decision columns; scrubbed_text rides
only through the final projection), one day-partitioned write.  No joins,
no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .resume import partition_id_col


def demote_cross_increment_duplicates(decisions: DataFrame) -> DataFrame:
    """Among KEPT rows sharing an extracted_sha256, keep the earliest by
    (warc_ts, url); demote the rest: rules += exact_duplicate,
    keep = false, scrubbed_text = null (stored artifacts are for kept docs
    only).  Dropped rows and null-hash rows pass through unchanged.

    Only CONTESTED rows (kept, non-null hash) enter the window: dropped and
    failed-extraction rows (a large class at crawl scale whose hash is NULL,
    which would all land in the single NULL window partition) never shuffle —
    they ride the union branch untouched."""
    # null-safe: decisions parquet from foreign writers can carry NULL keep;
    # `keep & ...` would evaluate NULL there and BOTH filter branches below
    # would drop the row (filter excludes non-true).  Coalesce to false so
    # such rows ride the pass-through branch untouched.
    contested = F.coalesce(
        F.col("keep") & F.col("extracted_sha256").isNotNull(), F.lit(False))
    w = Window.partitionBy("extracted_sha256").orderBy(
        F.col("warc_ts"), F.col("url"))
    demoted = _demoted(
        decisions.filter(contested)
        .withColumn("_demote", F.row_number().over(w) > 1),
        F.col("_demote")).drop("_demote")
    return decisions.filter(~contested).unionByName(demoted)


def _demoted(decisions: DataFrame, demote: Column) -> DataFrame:
    """The demotion contract, on the rows where ``demote`` holds: rules +=
    exact_duplicate, keep -> false, scrubbed_text -> NULL (stored
    artifacts are for kept docs only).  Other rows pass through."""
    return decisions.withColumns({
        "rules": F.when(demote, F.array_sort(F.array_union(
            F.col("rules"), F.array(F.lit("exact_duplicate")))))
        .otherwise(F.col("rules")),
        "keep": F.when(demote, F.lit(False)).otherwise(F.col("keep")),
        "scrubbed_text": F.when(demote, F.lit(None).cast("string"))
        .otherwise(F.col("scrubbed_text")),
    })


def compact_decisions(spark: SparkSession, decisions_path: str,
                      out_path: str) -> dict:
    """Read the accumulated decisions store, demote cross-increment exact
    duplicates, write the canonical table day-partitioned to ``out_path``
    (rewrite, not in-place mutation — rerunnable, old store untouched).

    Returns {"rows": total, "demoted": n} via one ``observe`` riding the
    write action."""
    from pyspark.sql import Observation

    # snapshot the pre-compaction keep flag BEFORE demotion so the metric
    # compares against the original decision, not the rewritten one
    decisions = spark.read.parquet(decisions_path) \
        .withColumn("_was_kept", F.col("keep"))
    compacted = demote_cross_increment_duplicates(decisions)
    obs = Observation("compaction_metrics")
    compacted = compacted.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("_was_kept") & ~F.col("keep"), 1).otherwise(0))
        .alias("demoted"),
    ).drop("_was_kept")
    if "p_day" not in compacted.columns:
        compacted = compacted.withColumn("p_day", partition_id_col())
    (compacted.write.mode("overwrite").partitionBy("p_day")
     .parquet(out_path))
    m = obs.get
    return {"rows": m["rows"], "demoted": m["demoted"]}


# ---------------------------------------------------------------------------
# online cross-increment dedup (one left join against the history's shas)
#
# The increment is the tick's unpinned pipeline output: every plan
# branch that references it re-runs the fused MapInPandas pass.  So the
# demotion references it once and never filters on ``keep`` — such a
# filter is pushed below the pipeline's decision projection, where
# PruneFilters then infers constraints over the whole inlined decision tree
# (seconds of planning per tick).
# ---------------------------------------------------------------------------

def demote_against_history(increment: DataFrame,
                           history: DataFrame) -> DataFrame:
    """Online cross-increment exact dedup: demote increment rows whose
    ``extracted_sha256`` already has a KEPT row in the accumulated history
    store — the streaming-tick complement of the offline compaction rewrite
    (history-wins ordering; within-increment dups are the pipeline's own
    exact-dedup stage's job).

    Plan shape: the history's kept, non-null shas are read once (column
    pruned), reduced with ``distinct()`` so several history copies of one
    content never multiply increment rows, and left-joined to the
    increment.  One projection applies the demotion contract
    (``_demoted``: rules += exact_duplicate, keep flips, scrubbed_text
    nulls) to rows that are kept AND matched; every
    other row, NULL-keep and NULL-hash rows included, passes through
    unchanged.  The increment is referenced once, so its fused Python pass
    runs once per tick."""
    hist_shas = (
        history.filter(F.col("keep") & F.col("extracted_sha256").isNotNull())
        .select("extracted_sha256").distinct()
        .withColumn("_hist", F.lit(True))
    )
    demote = F.coalesce(F.col("keep") & F.col("_hist"), F.lit(False))
    return _demoted(increment.join(hist_shas, "extracted_sha256", "left"),
                    demote).select(*increment.columns)
