"""Preview / derived-artifact sink (S11) + preview cube statistics (A4).

Reference analogue: preview/thumbnail generation and storage — the reference
renders a small derived artifact per record and stores it next to the main
product (preview_augmentation.py visit; stored as additional artifacts per
plane), and computes display statistics (zscale cuts) to render it.  Web-text
recast: a bounded snippet + display stats per KEPT doc written alongside the
decisions output, and a CUBE report over the preview dimensions for the
gallery view.

Scale shape: previews derive from the already-written decisions parquet
(read-back of the just-completed day partitions — no recompute of the model
pipeline), project three short columns, and write partitioned identically to
decisions, so the sink is a narrow column-pruned scan + write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .resume import partition_id_col

SNIPPET_CHARS = 200


def preview_rows(decisions: DataFrame) -> DataFrame:
    """One preview artifact per KEPT doc: a ``SNIPPET_CHARS`` snippet +
    display stats.

    p_day is passed through when present and derived from warc_ts otherwise
    (same derivation as compact_decisions) so ``write_previews`` can always
    partition by it."""
    p_day = (F.col("p_day") if "p_day" in decisions.columns
             else partition_id_col())
    return decisions.filter(F.col("keep")).select(
        "url", "warc_ts",
        F.substring("scrubbed_text", 1, SNIPPET_CHARS).alias("snippet"),
        F.length("scrubbed_text").cast("bigint").alias("n_chars"),
        F.col("lang_pred"),
        p_day.alias("p_day"),
    )


def write_previews(decisions: DataFrame, path: str) -> None:
    """Idempotent preview sink: day-partitioned dynamic overwrite, same
    partitioning as decisions so re-running a day replaces its previews."""
    previews = preview_rows(decisions)
    (previews.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("p_day").parquet(path))
