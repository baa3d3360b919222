"""Per-host normalization — skew-aware two-phase consensus aggregation.

Reference analogue: sibling-record backfill within an observation group
(Sitelle p<->z copy, instruments.py:1951-2019; WIRCam :3016-3072) — a record
missing a value takes it from group consensus.  Web recast: a page whose
language prediction is low-confidence takes the majority language of its
host (hosts are strongly monolingual in practice).

Scale design (the part the reference never needed, SURVEY.md §4 skew row):
host is a SKEWED key — one hot host can be 30%+ of a crawl.  A naive
``groupBy(host)`` hashes every row of that host to one reducer.  This
operator aggregates in two phases instead:

  phase 1: groupBy(host, salt, lang) — the salt (derived from the url hash)
           splits the hot host's rows across the cluster; partial counts.
  phase 2: groupBy(host, lang) over the tiny partial-count table; majority
           pick with a deterministic tiebreak.

The consensus table is then joined back; AQE chooses broadcast while the
table fits and a shuffle join beyond that — one row per host grows with the
corpus, so a mandatory broadcast hint would violate the repo's no-unbounded-
broadcast invariant.  (With AQE skew-join enabled the naive plan also
survives, but the two-phase form bounds reducer memory by construction.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.identity import host as host_of

# phase-1 salts per host: how many reducers one hot host's rows spread over
N_SALTS = 16


def host_lang_consensus(df: DataFrame, min_conf: float = 0.5) -> DataFrame:
    """(host, consensus_lang, n_votes): majority ``lang_pred`` among rows
    whose ``lang_conf`` is at least ``min_conf``, by ``url`` host."""
    votes = (
        df.filter(F.col("lang_conf") >= min_conf)
        .select(
            host_of(F.col("url")).alias("host"),
            F.pmod(F.xxhash64(F.col("url")), F.lit(N_SALTS)).alias("_salt"),
            F.col("lang_pred").alias("lang"),
        )
    )
    partial = votes.groupBy("host", "_salt", "lang").agg(
        F.count(F.lit(1)).alias("_c"))
    totals = partial.groupBy("host", "lang").agg(F.sum("_c").alias("n_votes"))
    best = totals.groupBy("host").agg(
        F.min_by(
            F.struct("lang", "n_votes"),
            # (n_votes desc, lang asc) — the SAME tie-break as the
            # oracle-checked q_source_lang_consensus, so the two consensus
            # implementations agree on tied groups
            F.struct((-F.col("n_votes")).alias("neg_votes"), F.col("lang")),
        ).alias("_b")
    )
    return best.select("host", F.col("_b.lang").alias("consensus_lang"),
                       F.col("_b.n_votes").alias("n_votes"))


def with_host_lang_backfill(df: DataFrame, min_conf: float = 0.5,
                            adopt_below: float = 0.3) -> DataFrame:
    """Low-confidence rows adopt their host's consensus language.

    Adds ``lang_final`` (= lang_pred, or the host consensus when
    lang_conf < adopt_below and a consensus exists) and ``lang_source``
    ('model' | 'host_consensus').  The consensus side is one row per host —
    small but corpus-growing, so NO mandatory broadcast hint: AQE picks
    broadcast while it fits and falls back to a shuffle join beyond
    autoBroadcastJoinThreshold (the repo-wide no-unbounded-broadcast
    invariant, tests/test_plan_shape.py).
    """
    consensus = host_lang_consensus(df, min_conf)
    joined = df.withColumn("_host", host_of(F.col("url"))).join(
        consensus, F.col("_host") == F.col("host"), "left"
    )
    adopt = (F.col("lang_conf") < adopt_below) \
        & F.col("consensus_lang").isNotNull()
    return (
        joined.withColumn("lang_final",
                          F.when(adopt, F.col("consensus_lang"))
                          .otherwise(F.col("lang_pred")))
        .withColumn("lang_source",
                    F.when(adopt, F.lit("host_consensus")).otherwise(F.lit("model")))
        .drop("_host", "host", "consensus_lang", "n_votes")
    )
