"""The driver-query registry over the benchmark's own pages, probed in the
traced run of ``batch_flagship``.

The probe writes two seeded tables in the layout the queries read
(``<dir>/<table>.parquet``):

- ``documents``: one row per page among the first ``docs`` generator rows
  of the batch input that has text after extraction.  ``doc_id`` is the
  generator row id, ``text`` the page's extracted text
  (``functions.extraction.extract_html``, as the pipeline extracts it),
  ``lang`` the generator's language (``und`` when it has none), ``source``
  the url's host and ``n_chars`` the text's length.
- ``embeddings``: ``vecs`` seeded 64-d float32 vectors scattered around 16
  centres; ``label`` is the centre.

Each query runs once: its function call (``build``) and a noop-sink write
(``exec``), each in a span of its own, so the status tracker counts its
Spark jobs.  Its output is then compared with its ``oracle_sql`` in DuckDB
(``tests/oracle_harness.compare``), outside the spans.
"""

from __future__ import annotations

import sys
from pathlib import Path
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cfht2caom2_spark.functions.extraction import extract_html
from cfht2caom2_spark.plans.driver_queries import ORACLES
from cfht2caom2_spark.plans.driver_queries import QUERIES as REGISTRY
from cfht2caom2_spark.sources.pages import gen_row

from .probes import noop

# the operator layer each query reaches is in NOTES.md
QUERIES = (
    "q_pipeline_flagship_span", "q_decontaminate", "q_decontam_report",
    "q_boilerplate_lines", "q_repeated_spans", "q_semantic_keep_one",
    "q_embedding_neardup", "q_dedup_clusters", "q_minhash_pairs",
    "q_ivf_kmeans_topk", "q_dsir_weights", "q_block_texts",
)

# Known mismatches between a query and its oracle on these pages.  They
# are compared and counted in ``oracle_match``, but do not fail the run.
KNOWN_ORACLE_DEFECTS = {
    "q_minhash_pairs": "the oracle SQL shingles the text as it is, while "
                       "operators.dedup.word_shingles lower-cases it first",
}
# Not compared: the query is built on q_minhash_pairs (same defect), and
# its recursive oracle takes about 40 s at 300 pages.
NOT_COMPARED = {"q_dedup_clusters"}

METRIC_UNITS = {"build_s": "s", "exec_s": "s", "jobs": "count"}
DIM, CENTRES = 64, 16


def metric_units() -> dict[str, str]:
    """Per-layer metric name -> unit for the registry probe."""
    out = {f"plans.driver_queries.{q}.{m}": u
           for q in QUERIES for m, u in METRIC_UNITS.items()}
    out["plans.driver_queries.suite_s"] = "s"
    out["plans.driver_queries.oracle_match"] = "ratio"
    return out


def write_tables(sf_dir: Path, seed: int, docs: int, vecs: int) -> None:
    sf_dir.mkdir(parents=True, exist_ok=True)
    rows = []
    for i in range(docs):
        r = gen_row(i, seed)
        html = r["html"]
        text = extract_html(html) if html is not None and len(html) > 0 else r["text"]
        if text:
            rows.append((i, text, r["lang"] or "und",
                         urlsplit(r["url"]).hostname, len(text)))
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    }), sf_dir / "documents.parquet")

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(CENTRES, DIM))
    label = rng.integers(0, CENTRES, size=vecs)
    emb = (centres[label] + rng.normal(scale=0.8, size=(vecs, DIM))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), sf_dir / "embeddings.parquet")


def run_queries(tr, spark, sf_dir: Path) -> tuple[dict[str, float],
                                                  dict[str, list[str]]]:
    """Time every query under spans and compare it with its oracle.
    Returns (metrics, query -> problems for each query that fails the
    run).  The ``.jobs`` counts come from the spans once the tracer
    finishes (``run.py``)."""
    import duckdb

    from tests.oracle_harness import compare

    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{sf_dir / table}.parquet')")
    m: dict[str, float] = {}
    failures: dict[str, list[str]] = {}
    compared = matched = 0
    for q in QUERIES:
        prefix = f"plans.driver_queries.{q}"
        try:
            with tr.span(f"{prefix}.build") as b:
                df = REGISTRY[q](spark, str(sf_dir))
            with tr.span(f"{prefix}.exec") as e:
                noop(df)
        except Exception as exc:  # a query that raises fails the run
            failures[q] = [f"{q}: {type(exc).__name__}: {exc}"]
            continue
        m[f"{prefix}.build_s"] = b["end"] - b["start"]
        m[f"{prefix}.exec_s"] = e["end"] - e["start"]
        if q in NOT_COMPARED:
            continue
        problems = compare(q, df, ORACLES[q], con)
        compared += 1
        matched += not problems
        if problems and q not in KNOWN_ORACLE_DEFECTS:
            failures[q] = problems
        elif problems:
            print(f"[perfbench] known oracle defect in {q} "
                  f"({KNOWN_ORACLE_DEFECTS[q]}): {problems[0]}",
                  file=sys.stderr)
    con.close()
    m["plans.driver_queries.suite_s"] = sum(
        v for k, v in m.items() if k.endswith(("build_s", "exec_s")))
    m["plans.driver_queries.oracle_match"] = matched / max(compared, 1)
    return m, failures
