"""Per-partition lineage + checkpoint resume (north_rule requirement).

Reference analogue: the success/failure/retry reports and the
skip-unchanged-files gate — the reference records per-run outcomes
(config/config.yml:50-84, asserted at tests/test_composable.py:187-190) and
skips work whose md5 matches what was already stored
(config/config.yml:33-36).  Recast: a ``lineage`` table with one row per
completed work partition; a restarted run LEFT ANTI JOINs the input against it
and recomputes nothing that finished (P15).

Work-partition key: the ``warc_ts`` day (the table's physical partition key),
so resume granularity == storage partition granularity and the anti-join
prunes whole directories at scan time (partition pruning, no data read).

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


def partition_id_col(ts_col: str = "warc_ts") -> F.Column:
    return F.date_format(F.col(ts_col), "yyyy-MM-dd")


def lineage_rows(decisions: DataFrame, profile: RuleProfile,
                 snapshot_id: int, ts_col: str = "warc_ts") -> DataFrame:
    """Aggregate one lineage row per completed partition (A6)."""
    versions = F.map_from_arrays(
        F.array(*[F.lit(k) for k in profile.rule_versions()]),
        F.array(*[F.lit(v) for v in profile.rule_versions().values()]),
    )
    return (
        decisions.groupBy(partition_id_col(ts_col).alias("partition_id"))
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
                 snapshot_id: int | None = None, ts_col: str = "warc_ts") -> DataFrame:
    """Input minus completed partitions — the resume anti-join (P15).

    The predicate is on the partition column, so with day-partitioned storage
    Catalyst turns this into partition pruning, not a row-level scan."""
    done = lineage
    if snapshot_id is not None:
        done = done.filter(F.col("input_snapshot_id") == snapshot_id)
    done = done.select("partition_id").distinct()
    return (
        pages.withColumn("_pid", partition_id_col(ts_col))
        .join(F.broadcast(done), F.col("_pid") == F.col("partition_id"), "left_anti")
        .drop("_pid")
    )
