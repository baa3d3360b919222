"""Physical-plan shape assertions — the plans must STAY the plans we chose.

Guards the scale properties the engine's 100 TB story depends on: predicate
pushdown into the scan, column pruning, broadcast dimension joins, and the
flagship's single-Python-crossing / zero-shuffle narrow prefix.  A regression
here is a silent 10x at scale even when results stay correct.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_no_dedup_is_single_python_pass_no_shuffle(spark):
    from cfht2caom2_spark.plans.driver_queries import q_pipeline_flagship

    plan = plan_of(q_pipeline_flagship(spark, SF))
    # one fused Arrow crossing, not three
    assert plan.count("MapInPandas") == 1
    # narrow end-to-end: the only Exchange allowed is the explicit fan-out
    # repartition of the tiny local test file
    assert plan.count("Exchange") <= 1


def test_semi_join_filter_pushed_to_scan(spark):
    from cfht2caom2_spark.plans.driver_queries import q_semi_join

    plan = plan_of(q_semi_join(spark, SF))
    assert "LeftSemi" in plan
    # quantity predicate reaches the parquet scan
    assert "GreaterThanOrEqual(l_quantity" in plan


def test_dimension_joins_broadcast(spark):
    from cfht2caom2_spark.plans.driver_queries import q_revenue_by_nation

    plan = plan_of(q_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_column_pruning_metadata_only_query(spark):
    from cfht2caom2_spark.plans.driver_queries import q_lang_report

    plan = plan_of(q_lang_report(spark, SF))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    # the fat text column must not be read for a metadata-only report
    assert all("text" not in l.split("ReadSchema")[1] for l in scan_lines)


def test_dedup_loser_join_has_no_mandatory_broadcast(spark):
    """The loser set is unbounded at crawl scale (30%+ exact dups), so the
    pipeline must NOT force a broadcast of it — AQE picks the strategy from
    the runtime size.  Round-1 regression: explicit F.broadcast() hints here
    would OOM executors at 100 TB."""
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages

    df = build_pipeline(synth_pages(spark, 200), spark, dedupe=True)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # and the loser sets join back exactly once (exact ∪ near, one union)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("Join LeftOuter") == 1

    # with EVERY corpus-sized side-table feature on (host consensus,
    # boilerplate line set) there is still no mandatory broadcast anywhere
    from dataclasses import replace

    from cfht2caom2_spark.config import DEFAULT_PROFILE

    full = build_pipeline(
        synth_pages(spark, 200), spark, dedupe=True,
        profile=replace(DEFAULT_PROFILE, host_lang_backfill=True,
                        boilerplate_removal=True, span_removal=True))
    assert "ResolvedHint" not in \
        full._jdf.queryExecution().analyzed().toString()


def test_dedup_ranks_once_before_the_plan(spark):
    """The url and content-hash windows run once, into a frame that the
    exact losers and the minhash candidates both read: the returned plan
    holds no Window.  A Window here means each dedup branch re-runs both
    window shuffles at the write."""
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages

    df = build_pipeline(synth_pages(spark, 200), spark, dedupe=True)
    assert "Window" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_minhash_losers_do_not_rerank(spark):
    """minhash_losers_from_sig takes one row per id (its precondition): no
    per-id window ranks its input again."""
    from cfht2caom2_spark.operators.dedup import minhash_losers_from_sig

    sigs = spark.createDataFrame(
        [(f"u{i}", i, [i % 3] * 8) for i in range(12)],
        "url string, ord int, minhash_sig array<bigint>")
    losers = minhash_losers_from_sig(sigs, "url", "ord", bands=2,
                                     rows_per_band=4, threshold=0.8)
    assert "Window" not in \
        losers._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(r[0] for r in losers.collect()) == \
        sorted(f"u{i}" for i in range(3, 12))


# Spark jobs one run_batch call launched over 300 synthetic pages with a
# fresh output, under the test session (8 cores, 8 shuffle partitions)
RUN_BATCH_JOBS = 16


def test_run_batch_job_count(spark, tmp_path):
    """Every fixed step of run_batch runs once: one rank of the dedup
    frame, no emptiness probe or resume join on a fresh output, and the
    day list from the write's Observation.  Each extra job is fixed cost
    on every batch."""
    from cfht2caom2_spark.plans.pipeline import run_batch
    from cfht2caom2_spark.sources.pages import synth_pages

    sc = spark.sparkContext
    pages = synth_pages(spark, 300)
    sc.setJobGroup("test_run_batch_job_count", "run_batch job count")
    try:
        res = run_batch(spark, pages, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["processed"] == 300
    jobs = sc.statusTracker().getJobIdsForGroup("test_run_batch_job_count")
    assert len(jobs) <= RUN_BATCH_JOBS, len(jobs)


def test_flagship_plan_shape_under_production_conf(spark):
    """The plan invariants must hold under the checked-in 100-TB conf
    (conf/spark-100tb.conf): shuffle.partitions=2000 + AQE on.  Guards
    against conf-dependent plan regressions — a plan that is narrow at 64
    shuffle partitions but grows an exchange or a mandatory broadcast at
    2000 would be a silent 10x on the real cluster."""
    from cfht2caom2_spark.plans.driver_queries import q_pipeline_flagship
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2000")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        plan = plan_of(q_pipeline_flagship(spark, SF))
        assert plan.count("MapInPandas") == 1
        assert plan.count("Exchange") <= 1
        full = build_pipeline(synth_pages(spark, 200), spark, dedupe=True)
        analyzed = full._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed
        logical = full._jdf.queryExecution().optimizedPlan().toString()
        assert logical.count("Join LeftOuter") == 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_decontam_join_strategy_left_to_aqe(spark):
    """The eval-suite gram table is bounded-but-not-guaranteed-small, and
    the doc-gram stream is corpus-sized: neither side may carry a mandatory
    broadcast hint by default (AQE decides from runtime sizes; a
    pathological suite degrades to a shuffle join instead of an executor
    OOM).  hint_broadcast=True is the explicit opt-in."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.operators.decontam import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)

    def logical(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # the ONLY permitted mandatory broadcast is the bench-gram bitmap
    # (fixed <= bits/64 rows by construction, operators/decontam.py): one
    # ResolvedHint, none on the bench table or doc-gram stream themselves
    default_logical = str(
        decontaminate(docs, bench)._jdf.queryExecution().logical())
    assert default_logical.count("ResolvedHint") == 1
    assert "bit_or" in default_logical  # the hinted subtree IS the bitmap
    no_prefilter = str(decontaminate(
        docs, bench, prefilter_bits=0)._jdf.queryExecution().logical())
    assert "ResolvedHint" not in no_prefilter
    hinted = decontaminate(docs, bench, hint_broadcast=True,
                           prefilter_bits=0)
    assert "broadcast" in str(
        hinted._jdf.queryExecution().logical()).lower()


def test_decontam_bitmap_prefilter_prunes_before_overlap_shuffle(spark):
    """Round-4 verdict #6: the fixed-size bench bitmap prunes the exploded
    doc-gram stream map-side BEFORE the overlap count's exchange, and the
    prune is invisible in the results (exact join downstream removes the
    bitmap's false positives; the one-hash bitmap has no false negatives)."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.operators.decontam import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)

    on = decontaminate(docs, bench)
    plan = plan_of(on)
    assert "shiftleft" in plan          # the bitmap membership test
    assert "BroadcastHashJoin" in plan  # bitmap join never shuffles
    # logical plans print parent-first: the membership filter sitting AFTER
    # the overlap aggregate in the text means it is INSIDE the aggregate's
    # input subtree, i.e. evaluated before that aggregate's exchange
    logical = str(on._jdf.queryExecution().optimizedPlan())
    assert logical.index("shiftleft") > logical.index("count(1)")

    off = decontaminate(docs, bench, prefilter_bits=0)
    assert "shiftleft" not in plan_of(off)
    a = sorted(map(tuple, on.collect()))
    b = sorted(map(tuple, off.collect()))
    assert a == b


def test_stratified_sample_predicate_pushed_to_scan(spark):
    """The sampling predicate is a pure function of scanned columns — it
    must run inside the scan stage with no Exchange in the plan at all
    (zero-shuffle map-side sampling is the operator's contract)."""
    from cfht2caom2_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "fr": 0.5}))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_bench_list_covers_every_registered_query():
    """bench.py's BENCH_QUERIES must track the query registry — a query
    added to QUERIES but not the bench list silently drops out of the
    per-round performance record."""
    import re

    import bench
    from cfht2caom2_spark.plans.driver_queries import (NO_ORACLE_QUERIES,
                                                       QUERIES)

    registered = set(QUERIES) | set(NO_ORACLE_QUERIES)
    covered = set(bench.BENCH_QUERIES) | bench.BENCH_EXCLUDED
    assert covered == registered, covered ^ registered


def test_repeated_spans_plan_no_mandatory_broadcast(spark):
    """ExactSubstr spans (operators/spans.py): the duplicated-key set is
    corpus-growing (30%+ of crawl windows are duplicated), so no side may
    carry a mandatory broadcast; all shuffles run over slim (id, pos, key)
    projections with strategy left to AQE."""
    from cfht2caom2_spark.operators.spans import repeated_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = repeated_spans(docs, k=8)
    assert "ResolvedHint" not in str(df._jdf.queryExecution().logical())
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_pack_blocks_single_partition_window_only_over_totals(spark):
    """pack_blocks' global cumsum must never collapse the corpus into one
    partition: the only Exchange SinglePartition allowed in the plan is the
    one feeding the n_partitions-row per-partition-totals prefix window.
    The corpus side rides a range repartition + per-partition window."""
    from cfht2caom2_spark.functions.tokens import ws_token_count
    from cfht2caom2_spark.operators.packing import _running_sums, pack_blocks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # the corpus path, read before pack_blocks pins it (the pin truncates
    # the plan at Scan ExistingRDD): range exchange(s), then narrow sort +
    # the Arrow running-sum crossing (a Window.partitionBy(_pid) here would
    # force an EXTRA corpus-sized hash exchange — the regression this pins)
    corpus = plan_of(_running_sums(docs, ["doc_id"], "doc_id", "text",
                                   ws_token_count, None))
    assert "rangepartitioning" in corpus.lower()
    assert "Exchange hashpartitioning" not in corpus
    assert "Exchange SinglePartition" not in corpus
    plan = plan_of(pack_blocks(docs, "doc_id", "text", block_tokens=128))
    # the only hash exchange allowed is the tiny map-side-combined totals
    # aggregate
    assert plan.count("Exchange hashpartitioning") == 1
    totals_region = plan[plan.index("Exchange hashpartitioning"):]
    assert "HashAggregate" in totals_region.splitlines()[1]
    # exactly one single-partition exchange — the n_partitions-row totals
    # prefix window, never the corpus
    assert plan.count("Exchange SinglePartition") == 1
    # the prefix frame joins back broadcast — never a corpus shuffle join
    assert "BroadcastHashJoin" in plan


def test_fuzzy_decontam_no_mandatory_broadcast_default(spark):
    """fuzzy_decontaminate leaves join strategy to AQE by default: the
    corpus-side band table is unbounded, and the eval side is only
    broadcast when the caller asserts boundedness via hint_broadcast."""
    from cfht2caom2_spark.operators.decontam import fuzzy_decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    bench = docs.filter("doc_id % 101 = 0")
    out = fuzzy_decontaminate(docs, bench)
    assert "ResolvedHint" not in \
        out._jdf.queryExecution().analyzed().toString()
    hinted = fuzzy_decontaminate(docs, bench, hint_broadcast=True)
    assert "ResolvedHint" in \
        hinted._jdf.queryExecution().analyzed().toString()


def test_history_tick_is_single_python_pass_no_union(spark, tmp_path):
    """A history-dedup tick references the un-persisted pipeline output
    once: one fused Arrow crossing and no Union of per-branch copies (each
    copy re-ran the fused pass, and each branch's ``keep`` filter sent
    PruneFilters into constraint inference over the decision tree)."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.operators.compact import demote_against_history
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages
    from cfht2caom2_spark.sources.table import SnapshotTable
    from cfht2caom2_spark.streaming.incremental import process_increment

    table = SnapshotTable(f"{tmp_path}/pages")
    bm, out = str(tmp_path / "bm.json"), str(tmp_path / "out")
    table.append(synth_pages(spark, 60))
    process_increment(spark, table, out, bm, history_dedup=True)
    table.append(synth_pages(spark, 60).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("interval 30 days")))
    process_increment(spark, table, out, bm, history_dedup=True)

    inc = table.read(spark, table.current_snapshot()).drop("p_day")
    history = spark.read.parquet(f"{out}/decisions")
    plan = plan_of(demote_against_history(
        build_pipeline(inc, spark, dedupe=False), history))
    assert plan.count("MapInPandas") == 1
    assert "Union" not in plan
