"""Incremental ("state") mode — the reference's run_state, two ways.

Reference analogue: ``cfht_run_state`` processes time-boxed work discovered
from a persisted bookmark (composable.py:116-139; config/config.yml:86-99;
bookmark semantics pinned by tests/test_composable.py:351-388).  Both recasts
run the SAME plan as batch (``build_pipeline``) — the reference reuses one
visitor list for run and run_state (composable.py:83-88), and so do we.

1. ``process_increment`` — micro-batch over snapshot ranges: the bookmark is
   the last processed snapshot id (state.yml analogue, kept in a JSON file);
   each call processes exactly the rows appended since.  On Iceberg this is
   the incremental-scan API verbatim.
2. ``stream_pages`` — Structured Streaming over the table's data directory
   (file source discovers new parquet files = new snapshots), with
   ``foreachBatch`` applying the batch plan, checkpointed offsets replacing
   the bookmark.  A 1-day watermark bounds ``dropDuplicatesWithinWatermark``
   on url, so re-arrivals inside that horizon are dropped before the plan
   (files are immutable, so there is no late-update semantics to handle).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_PROFILE, RuleProfile
from ..plans.pipeline import build_pipeline
from ..session import release
from ..sources.pages import PAGES_SCHEMA
from ..sources.table import SnapshotTable


# -- 1. snapshot-range micro-batches -----------------------------------------

def read_bookmark(path: str) -> int | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["last_snapshot_id"]


def write_bookmark(path: str, snapshot_id: int) -> None:
    with open(path, "w") as fh:
        json.dump({"last_snapshot_id": snapshot_id}, fh)


def process_increment(spark: SparkSession, table: SnapshotTable, out_dir: str,
                      bookmark_path: str,
                      profile: RuleProfile = DEFAULT_PROFILE,
                      dedupe: bool = False,
                      history_dedup: bool = False) -> dict:
    """One state-mode tick: rows in (bookmark, current] -> decisions.

    Exactly-once EFFECT under at-least-once execution: the tick's output
    directory is keyed on the bookmark (``since_snapshot=<last>``) and written
    with overwrite.  A crash between the decisions write and the bookmark
    write leaves the bookmark unadvanced, so the retried tick re-derives a
    SUPERSET range (bookmark, new-current] and overwrites the same directory
    — no duplicate rows survive.  (Plain append + bookmark-after would
    duplicate the crashed tick's rows.)

    Dedup defaults off within an increment (cross-increment near-dup removal
    belongs to a periodic batch compaction pass, as in production CC pipelines
    where MinHash runs per-dump)."""
    last = read_bookmark(bookmark_path)
    current = table.current_snapshot() or 0
    if last is not None and current <= last:
        return {"processed": 0, "snapshot": current}
    from pyspark.sql import Observation

    inc = table.incremental(spark, after=last, until=current)
    # pins taken while the plan is built are released even on a failure
    pinned: list = []
    try:
        decisions = build_pipeline(inc.drop("p_day"), spark, profile,
                                   dedupe=dedupe, persist_tracker=pinned)
        if history_dedup:
            # online cross-increment exact dedup: content already kept by a
            # PRIOR tick demotes now instead of waiting for the offline
            # compaction rewrite.  The store's distinct kept shas left-join
            # the tick's output once, so the fused pass still runs once
            # (operators/compact.py).
            from ..operators.compact import demote_against_history
            from ..operators.resume import read_store

            # a corrupt store raises rather than silently skipping the dedup
            history = read_store(spark, f"{out_dir}/decisions")
            if history is not None:
                decisions = demote_against_history(decisions, history)
        # metrics ride the write action — one execution per tick, not two
        obs = Observation("tick_metrics")
        decisions = decisions.observe(obs, F.count(F.lit(1)).alias("n"))
        since = -1 if last is None else last
        (decisions.withColumn("p_day", F.date_format("warc_ts", "yyyy-MM-dd"))
         .write.mode("overwrite").partitionBy("p_day")
         .parquet(f"{out_dir}/decisions/since_snapshot={since}"))
        n = obs.get["n"]
    finally:
        release(pinned)
    write_bookmark(bookmark_path, current)
    return {"processed": n, "snapshot": current}


# -- 2. structured streaming ---------------------------------------------------

def stream_pages(spark: SparkSession, table: SnapshotTable, out_dir: str,
                 profile: RuleProfile = DEFAULT_PROFILE,
                 trigger_once: bool = True):
    """readStream over the page store; the batch plan runs per micro-batch.

    ``dropDuplicatesWithinWatermark`` on url covers re-arrivals inside the
    watermark horizon (the store_modified_files_only analogue,
    config/config.yml:33-36).  Exactly-once sink EFFECT: each micro-batch
    writes to its own ``epoch=<epoch_id>`` directory with overwrite, so a
    replayed epoch (foreachBatch is at-least-once) overwrites its previous
    partial output instead of appending a duplicate copy.  Readers see one
    extra partition column (``epoch``) on the decisions root.
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(table.data_dir)
    )
    stream = stream.withWatermark("warc_ts", "1 day").dropDuplicatesWithinWatermark(["url"])

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        decisions = build_pipeline(batch_df, spark, profile, dedupe=False)
        (decisions.withColumn("p_day", F.date_format("warc_ts", "yyyy-MM-dd"))
         .write.mode("overwrite").partitionBy("p_day")
         .parquet(f"{out_dir}/decisions/epoch={epoch_id}"))

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

