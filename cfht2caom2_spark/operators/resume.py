"""Per-partition lineage + checkpoint resume (north_rule requirement).

Reference analogue: the success/failure/retry reports and the
skip-unchanged-files gate — the reference records per-run outcomes
(config/config.yml:50-84, asserted at tests/test_composable.py:187-190) and
skips work whose md5 matches what was already stored
(config/config.yml:33-36).  Recast: a ``lineage`` table with one row per
completed work partition; a restarted run filters out the input rows of the
days it lists and recomputes nothing that finished (P15).

Work-partition key: the ``warc_ts`` day (the table's physical partition key),
so resume granularity == storage partition granularity.  The done days are
collected to the driver (one string per day) and applied as a literal
``NOT IN`` filter on ``date_format(warc_ts)``.  That is a row-level filter,
not partition pruning: the input's ``p_day`` column is dropped before the
pipeline, so completed days are still scanned, then filtered out before the
fused pass.  A fresh output has no lineage store and no filter at all.

Idempotence under retries: lineage rows are written AFTER the decision rows
for a day land (write-then-commit ordering); re-running a day overwrites its
decision output deterministically, so a crash between the two writes costs
one recompute, never corruption — the same at-least-once-with-idempotent-
writes contract the reference's retry loop provides (config.yml:100-102).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import RuleProfile

LINEAGE_SCHEMA = T.StructType([
    T.StructField("partition_id", T.StringType(), False),
    T.StructField("input_snapshot_id", T.LongType(), True),
    T.StructField("rule_versions", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("n_in", T.LongType(), True),
    T.StructField("n_keep", T.LongType(), True),
    T.StructField("n_drop", T.LongType(), True),
    T.StructField("completed_at", T.TimestampType(), True),
])


def partition_id_col() -> F.Column:
    """The day key: the ``warc_ts`` day, the page store's and every
    decisions write's ``p_day``, the lineage ``partition_id`` and
    ``pending_work``'s filter.  Resume is only correct while all of them
    use this one expression."""
    return F.date_format(F.col("warc_ts"), "yyyy-MM-dd")


def lineage_rows(decisions: DataFrame, profile: RuleProfile,
                 snapshot_id: int) -> DataFrame:
    """Aggregate one lineage row per completed partition (A6)."""
    versions = F.map_from_arrays(
        F.array(*[F.lit(k) for k in profile.rule_versions()]),
        F.array(*[F.lit(v) for v in profile.rule_versions().values()]),
    )
    return (
        decisions.groupBy(partition_id_col().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_drop"),
        )
        .withColumns({
            "input_snapshot_id": F.lit(snapshot_id).cast("long"),
            "rule_versions": versions,
            "completed_at": F.current_timestamp(),
        })
        .select([f.name for f in LINEAGE_SCHEMA.fields])
    )


def write_lineage(lineage: DataFrame, path: str) -> None:
    lineage.write.mode("append").parquet(path)


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet store at ``path``, or None if nothing was written yet.

    Only a missing store, or one with no data file (a first write that
    crashed mid-commit leaves only the committer's ``_temporary``), means
    "empty".  Any other failure (a corrupt store) raises: treating it as
    empty would silently redo finished work and duplicate its output."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND",
                                    "UNABLE_TO_INFER_SCHEMA"):
            raise
        return None


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    lineage = read_store(spark, path)
    if lineage is None:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return lineage


def pending_work(pages: DataFrame, lineage: DataFrame,
                 snapshot_id: int | None = None) -> DataFrame:
    """Input minus completed partitions (P15).

    Collects the done day ids (the lineage store holds one short row per
    completed day and run: thousands of strings on the driver, not data;
    deduplicated here, which spares the collect a shuffle) and filters the
    input by a literal ``NOT IN``; rows with a NULL day pass, as no lineage
    row can name them.  A literal filter keeps ``pages``' plan free of a
    join, so every later action over the result costs no broadcast job."""
    done = lineage
    if snapshot_id is not None:
        done = done.filter(F.col("input_snapshot_id") == snapshot_id)
    days = sorted({r[0] for r in done.select("partition_id").collect()})
    if not days:
        return pages
    pid = partition_id_col()
    return pages.filter(pid.isNull() | ~pid.isin(days))
