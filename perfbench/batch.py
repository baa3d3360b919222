"""``batch_flagship``: ``plans.pipeline.run_batch`` with the default profile
(fused UDF, pair dedup, previews, resume against an empty lineage) over one
written snapshot of synthetic pages.  Every operation writes to a fresh
output directory."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

from cfht2caom2_spark.config import DEFAULT_PROFILE
from cfht2caom2_spark.operators.preview import write_previews
from cfht2caom2_spark.operators.resume import (lineage_rows, pending_work,
                                               read_lineage, write_lineage)
from cfht2caom2_spark.plans.pipeline import build_pipeline, run_batch
from cfht2caom2_spark.sources.pages import gen_row

from . import inputs, oracle, probes, registry
from .harness import OpResult
from .trace import inspect_plan

# every page is labeled: dedup is corpus-wide, so a labeled prefix alone
# would miss near-duplicate pairs that cross its end.  ``docs`` and
# ``vecs`` size the tables of the traced run's registry probe.
SIZES = {"full": {"rows": 3000, "docs": 300, "vecs": 500},
         "tiny": {"rows": 300, "docs": 100, "vecs": 200}}


class BatchFlagship:
    name = "batch_flagship"

    def __init__(self, spark, run_dir: Path, seed: int, scale: str):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.size = SIZES[scale]
        self.rows = self.size["rows"]
        self.outputs: list[tuple[str, dict]] = []
        self.registry_failures: dict[str, list[str]] | None = None
        self.append_s = 0.0
        self._n = 0

    def _pages(self):
        return self.table.read(self.spark, self.sid).drop("p_day")

    def prepare(self) -> None:
        t = time.perf_counter()
        self.table, self.sid = inputs.write_batch_table(
            self.spark, str(self.run_dir / "pages"), self.rows, self.seed)
        self.append_s = time.perf_counter() - t

    def warmup(self) -> None:
        self.op()

    def has_next(self) -> bool:
        return True

    def _out(self) -> str:
        self._n += 1
        return str(self.run_dir / f"out-{self._n}")

    def op(self) -> OpResult:
        out = self._out()
        t = time.perf_counter()
        res = run_batch(self.spark, self._pages(), out, snapshot_id=self.sid)
        dt = time.perf_counter() - t
        self.outputs.append((out, res))
        return OpResult(dt, dt, self.rows)

    def traced_op(self, tr) -> OpResult:
        """``run_batch`` composed from the same public calls, one span per
        layer call (mirrors plans/pipeline.py::run_batch)."""
        spark, profile, out = self.spark, DEFAULT_PROFILE, self._out()
        lineage_path, decisions_path = f"{out}/lineage", f"{out}/decisions"
        t = time.perf_counter()
        with tr.span("op.run_batch") as top:
            with tr.span("operators.resume.pending"):
                work = pending_work(self._pages(),
                                    read_lineage(spark, lineage_path),
                                    snapshot_id=self.sid)
                empty = work.isEmpty()
            if empty:
                raise RuntimeError("resume found no pending work in a fresh output")
            persisted: list = []
            with tr.span("plans.pipeline.build"):
                decisions = build_pipeline(work, spark, profile,
                                           persist_tracker=persisted)
                decisions = decisions.withColumn(
                    "p_day", F.date_format(F.col("warc_ts"), "yyyy-MM-dd"))
                obs = Observation("pipeline_metrics")
                decisions = decisions.observe(
                    obs, F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"))
            with tr.span("plans.pipeline.write"):
                (decisions.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("p_day").parquet(decisions_path))
                metrics = obs.get
                for df in persisted:
                    df.unpersist()
            with tr.span("plans.pipeline.readback"):
                written = spark.read.parquet(decisions_path)
                done_days = [r["p_day"] for r in work.select(
                    F.date_format("warc_ts", "yyyy-MM-dd").alias("p_day"))
                    .distinct().collect()]
                fresh = written.filter(F.col("p_day").isin(done_days))
            with tr.span("operators.preview.write"):
                write_previews(fresh, f"{out}/previews")
            with tr.span("operators.resume.lineage"):
                write_lineage(lineage_rows(fresh, profile, self.sid), lineage_path)
        dt = time.perf_counter() - t
        # planned again outside the operation: inspecting the plan inside
        # it would add a second planning pass to the traced time
        inspect_plan(tr, decisions, "plans.pipeline")
        res = {"processed": metrics["n"], "kept": metrics["kept"],
               "partitions": len(done_days)}
        self.outputs.append((out, res))
        return OpResult(dt, dt, self.rows, traced_span=top["id"])

    def probes(self, tr) -> dict[str, float]:
        sample = [gen_row(j, self.seed) for j in range(min(256, self.rows))]
        m = probes.layer_probes(tr, self.spark, self._pages(), sample)
        m["sources.table.append_s"] = self.append_s
        sf_dir = self.run_dir / "registry"
        registry.write_tables(sf_dir, self.seed, self.size["docs"], self.size["vecs"])
        reg_m, self.registry_failures = registry.run_queries(tr, self.spark, sf_dir)
        m.update(reg_m)
        return m

    def collect(self) -> list[dict]:
        """Per operation: the returned counts and the decisions rows."""
        got = []
        for out, res in self.outputs:
            rows = [tuple(r) for r in self.spark.read.parquet(f"{out}/decisions")
                    .select("url", "extracted_sha256", "keep", "rules").collect()]
            got.append({"out": out, "res": res, "rows": rows})
        return got

    def check(self, collected: list[dict], flip_one_keep: bool):
        """(checked operations, wrong ones, Score over all of them,
        problems).  A traced run's registry queries count as operations
        too: one is wrong when it raised or missed its oracle."""
        ref = oracle.reference(self.rows, self.seed)
        total, wrong, problems = oracle.Score(), 0, []
        checked = len(collected)
        if self.registry_failures is not None:
            checked += len(registry.QUERIES)
            wrong += len(self.registry_failures)
            problems += [p for ps in self.registry_failures.values() for p in ps]
        for k, op in enumerate(collected):
            s = oracle.score(op["rows"], ref, ignore_dedup=False,
                             flip_one_keep=flip_one_keep and k == 0)
            total.add(s)
            bad = []
            if op["res"].get("processed") != self.rows or len(op["rows"]) != self.rows:
                bad.append(f"processed {op['res']} rows {len(op['rows'])}, "
                           f"want {self.rows}")
            if s.compared != self.rows:
                bad.append(f"only {s.compared} rows compared")
            if s.keep_mismatches or s.keep_f1 < 0.99:
                bad.append(f"keep mismatches {s.keep_mismatches} (f1 {s.keep_f1:.4f})")
            if s.sha_equal != s.compared:
                bad.append(f"extraction sha mismatches {s.compared - s.sha_equal}")
            if bad:
                wrong += 1
                problems.append(f"{op['out']}: " + "; ".join(bad))
        return checked, wrong, total, problems
