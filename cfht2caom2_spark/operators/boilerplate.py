"""Cross-document boilerplate line removal — corpus-level line dedup.

Reference analogue: cleanup of artifacts shared across records
(/root/reference/cfht2caom2/cleanup_augmentation.py:77-147 removes artifacts
superseded across the collection) — here recast as the CCNet/RefinedWeb
line-level dedup step (Wenzek et al. 2020 §3.1; Penedo et al. 2023 §3.3):
a line occurring verbatim in many documents is template boilerplate
(navigation, cookie banners, footers) and is stripped from every document
before model training.

This is CORPUS-level state (a line's document frequency), unlike the
``repeated_line_frac`` stat (``kernels.quality_stats``), which is
within-document.

Scale shape: two shuffles, both over slim projections —
  1. groupBy(normalized line) over (doc_id, line) pairs for document
     frequencies; high-entropy key, AQE-balanced;
  2. groupBy(doc_id) to reassemble surviving lines in order.
The boilerplate line set joins via left-anti with the strategy left to AQE
(it is usually small, but nothing breaks if it is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def remove_boilerplate_lines(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             min_doc_freq: int = 3,
                             persist_tracker: list | None = None
                             ) -> DataFrame:
    """Strip lines whose trimmed form appears in >= min_doc_freq distinct
    docs; returns (id_col, cleaned_text) with surviving lines rejoined in
    original order.  Docs whose every line is boilerplate drop out (same
    semantics as the keep/drop gates: nothing left to train on), and so do
    NULL-text docs (no lines to survive) — run this on rows that passed the
    empty_payload gate, or left-join the result back by id to keep them.

    Pinned stream (round 6, guide §2.4): the exploded line stream feeds
    both the document-frequency groupBy and the anti-join probe; a lazy
    localCheckpoint pins it so the split+explode runs once, not once per
    consumer (the span/decontam pay-once discipline).

    ``persist_tracker``: optional list the pinned stream is appended to,
    for the caller to ``session.release`` once the result has been read
    (``minhash_losers_from_sig``'s contract)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).localCheckpoint(eager=False)
    if persist_tracker is not None:
        persist_tracker.append(lines)
    norm = F.trim(F.col("line"))
    boiler = (
        lines.filter(norm != "")
        .groupBy(norm.alias("nline"))
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("nline")
    )
    surviving = lines.join(boiler, norm == F.col("nline"), "left_anti")
    # array_distinct: when the caller's id is a content-derived key, several
    # identical input rows may share it — their (pos, line) pairs coincide
    # exactly, so distinct reassembles ONE clean copy instead of
    # interleaving n copies of every line.  A no-op for unique ids (pos
    # values are already distinct within one doc).
    return (
        surviving.groupBy(id_col)
        .agg(F.array_distinct(
            F.array_sort(F.collect_list(F.struct("pos", "line")))).alias("_o"))
        .select(
            id_col,
            F.array_join(F.transform(F.col("_o"), lambda s: s["line"]), "\n")
            .alias("cleaned_text"),
        )
    )
