"""``state_ticks_history``: repeated ``SnapshotTable.append`` of one
increment, each followed by ``process_increment(history_dedup=True)``
against a decisions store that grows every tick.

From tick 1 on, every increment re-sends a fixed number of pages that an
earlier tick kept, under new urls, so history demotion has real work and
its expected count is known by construction (``inputs.tick_rows``)."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

from cfht2caom2_spark.config import DEFAULT_PROFILE
from cfht2caom2_spark.operators.compact import demote_against_history
from cfht2caom2_spark.plans.pipeline import build_pipeline
from cfht2caom2_spark.sources.pages import gen_row
from cfht2caom2_spark.sources.table import SnapshotTable
from cfht2caom2_spark.streaming.incremental import (process_increment,
                                                    read_bookmark,
                                                    write_bookmark)

from . import inputs, oracle, probes
from .harness import OpResult
from .trace import inspect_plan

# warm-up ticks 0-1, then at most ``max_ticks - 2`` timed ticks; the
# reference labels the fresh pages of the first ``labeled // fresh`` ticks
SIZES = {"full": {"fresh": 300, "resent": 60, "max_ticks": 5, "labeled": 1200},
         "tiny": {"fresh": 100, "resent": 20, "max_ticks": 4, "labeled": 400}}


class StateTicksHistory:
    name = "state_ticks_history"

    def __init__(self, spark, run_dir: Path, seed: int, scale: str):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        size = SIZES[scale]
        self.fresh, self.resent = size["fresh"], size["resent"]
        self.max_ticks, self.labeled = size["max_ticks"], size["labeled"]
        self.inc_root = str(run_dir / "increments")
        self.store = str(run_dir / "store")
        self.bookmark = str(run_dir / "bookmark.json")
        self.table = SnapshotTable(str(run_dir / "pages"))
        self.ticks: list[dict] = []     # t, since, processed per tick run
        self.append_s: list[float] = []

    def prepare(self) -> None:
        self.sizes = inputs.write_increments(
            self.spark, self.inc_root, self.max_ticks, self.fresh,
            self.resent, self.seed)

    def has_next(self) -> bool:
        return len(self.ticks) < self.max_ticks

    def _since(self) -> int:
        last = read_bookmark(self.bookmark)
        return -1 if last is None else last

    def _append(self) -> tuple[int, float]:
        t = len(self.ticks)
        inc = self.spark.read.parquet(f"{self.inc_root}/tick={t}")
        start = time.perf_counter()
        self.table.append(inc)
        return t, time.perf_counter() - start

    def warmup(self) -> None:
        # tick 0 has no history yet; tick 1 warms the history plan
        self.op()
        self.op()

    def op(self) -> OpResult:
        since = self._since()
        t, append_s = self._append()
        start = time.perf_counter()
        res = process_increment(self.spark, self.table, self.store,
                                self.bookmark, history_dedup=True)
        dt = time.perf_counter() - start
        self.ticks.append({"t": t, "since": since, "res": res})
        self.append_s.append(append_s)
        return OpResult(dt, dt + append_s, self.sizes[t])

    def traced_op(self, tr) -> OpResult:
        """Append plus ``process_increment`` composed from the same public
        calls, one span per layer call (mirrors
        streaming/incremental.py::process_increment)."""
        spark, profile = self.spark, DEFAULT_PROFILE
        start = time.perf_counter()
        with tr.span("op.tick") as top:
            with tr.span("sources.table.append"):
                since = self._since()
                t, append_s = self._append()
            t_tick = time.perf_counter()
            with tr.span("streaming.incremental.bookmark"):
                last = read_bookmark(self.bookmark)
                current = self.table.current_snapshot() or 0
            with tr.span("sources.table.incremental"):
                inc = self.table.incremental(spark, after=last, until=current)
                tr.count("sources.table.files", len(inc.inputFiles()))
            persisted: list = []
            with tr.span("plans.pipeline.build"):
                decisions = build_pipeline(inc.drop("p_day"), spark, profile,
                                           dedupe=False, persist_tracker=persisted)
            plain = decisions
            with tr.span("streaming.incremental.history_read"):
                history = spark.read.parquet(f"{self.store}/decisions")
            with tr.span("operators.compact.demote_plan"):
                decisions = demote_against_history(decisions, history)
                obs = Observation("tick_metrics")
                decisions = decisions.observe(obs, F.count(F.lit(1)).alias("n"))
            with tr.span("plans.pipeline.write"):
                (decisions.withColumn("p_day", F.date_format("warc_ts", "yyyy-MM-dd"))
                 .write.mode("overwrite").partitionBy("p_day")
                 .parquet(f"{self.store}/decisions/since_snapshot={since}"))
                n = obs.get["n"]
                for df in persisted:
                    df.unpersist()
            with tr.span("streaming.incremental.bookmark"):
                write_bookmark(self.bookmark, current)
        end = time.perf_counter()
        # planned again outside the operation (see batch.traced_op)
        inspect_plan(tr, plain, "streaming.incremental.plain")
        inspect_plan(tr, decisions, "plans.pipeline")
        self.ticks.append({"t": t, "since": since,
                           "res": {"processed": n, "snapshot": current}})
        self.append_s.append(append_s)
        return OpResult(end - t_tick, end - start, self.sizes[t],
                        traced_span=top["id"])

    def probes(self, tr) -> dict[str, float]:
        """The layer probes over the last tick's increment, then the
        history scan, the demotion alone, and the same tick without
        history dedup."""
        spark, last = self.spark, self.ticks[-1]
        prev, cur = last["since"], last["res"]["snapshot"]
        after = None if prev < 0 else prev
        inc = self.table.incremental(spark, after=after, until=cur).drop("p_day")
        sample = [gen_row(j, self.seed) for j in range(min(256, self.fresh))]
        m = probes.layer_probes(tr, spark, inc, sample)
        m["sources.table.append_s"] = sorted(self.append_s)[len(self.append_s) // 2]

        store = spark.read.parquet(f"{self.store}/decisions")
        m["streaming.incremental.history_scan_s"], _ = probes.timed(
            tr, "streaming.incremental.history_scan", lambda: probes.noop(store))
        m["streaming.incremental.store_files"] = len(store.inputFiles())

        pre = build_pipeline(inc, spark, DEFAULT_PROFILE, dedupe=False).persist()
        try:
            probes.timed(tr, "plans.pipeline.persist", pre.count)
            history = store.filter(F.col("since_snapshot") != prev)
            demoted = demote_against_history(pre, history)
            m["operators.compact.demote_s"], _ = probes.timed(
                tr, "operators.compact.demote", lambda: probes.noop(demoted))
            m["operators.compact.history_demoted"] = demoted.filter(
                F.array_contains("rules", "exact_duplicate")).count()
        finally:
            pre.unpersist()

        plain_bm = str(self.run_dir / "bookmark-plain.json")
        if after is not None:
            write_bookmark(plain_bm, after)
        m["streaming.incremental.plain_tick_s"], _ = probes.timed(
            tr, "streaming.incremental.plain_tick", lambda: process_increment(
                spark, self.table, str(self.run_dir / "store-plain"), plain_bm,
                history_dedup=False))
        return m

    def collect(self) -> list[dict]:
        got = []
        for tick in self.ticks:
            rows = [tuple(r) for r in self.spark.read.parquet(
                f"{self.store}/decisions/since_snapshot={tick['since']}")
                .select("url", "extracted_sha256", "keep", "rules").collect()]
            got.append({**tick, "rows": rows})
        return got

    def check(self, collected: list[dict], flip_one_keep: bool):
        """(checked ticks, wrong ones, Score over all of them, problems).
        A tick is wrong when a decision differs from the reference (dedup
        rules ignored on both sides), an extraction hash differs, a page is
        missing, or
        history demotion demoted other than the constructed count."""
        ref = oracle.reference(self.labeled, self.seed)
        total, wrong, problems = oracle.Score(), 0, []
        for k, tick in enumerate(collected):
            t, rows = tick["t"], tick["rows"]
            s = oracle.score(rows, ref, ignore_dedup=True,
                             flip_one_keep=flip_one_keep and k == 0)
            total.add(s)
            resent = [r for r in rows if inputs.RESENT_HOST in r[0]]
            demoted = [r for r in rows if "exact_duplicate" in (r[3] or ())]
            want_resent = 0 if t == 0 else self.resent
            bad = []
            if tick["res"].get("processed") != self.sizes[t] or len(rows) != self.sizes[t]:
                bad.append(f"processed {tick['res']} rows {len(rows)}, "
                           f"want {self.sizes[t]}")
            if s.keep_mismatches or s.keep_f1 < 0.99:
                bad.append(f"keep mismatches {s.keep_mismatches} (f1 {s.keep_f1:.4f})")
            if s.sha_equal != s.compared:
                bad.append(f"extraction sha mismatches {s.compared - s.sha_equal}")
            if (len(resent) != want_resent or len(demoted) != want_resent
                    or any(r[2] for r in resent)):
                bad.append(f"history demoted {len(demoted)} of {len(resent)} "
                           f"re-sent pages, want {want_resent}")
            if bad:
                wrong += 1
                problems.append(f"tick {t}: " + "; ".join(bad))
        return len(collected), wrong, total, problems
