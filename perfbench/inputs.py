"""Seeded inputs owned by the benchmark.

Every page is ``sources.pages.gen_row(i, seed)``: a pure function of the row
id and the seed, so the same seed always gives the same tables and the
reference labeler can recompute every expected decision.  The engine only
ever receives the written tables.
"""

from __future__ import annotations

import random
from datetime import timedelta

import pandas as pd
from pyspark.sql import types as T

from cfht2caom2_spark.sources.pages import PAGES_SCHEMA, gen_row, synth_pages
from cfht2caom2_spark.sources.table import SnapshotTable

# Seed kept out of every tuning run; a later performance claim must also
# hold on it.
HELD_OUT_SEED = 90_210

# Pages re-sent by a later tick carry this host, and the id of the page
# they copy in the usual ``/p/<id>`` form.
RESENT_HOST = "resent.example.net"


def write_batch_table(spark, root: str, rows: int, seed: int):
    """The batch workload's input: one snapshot of ``rows`` synthetic pages.
    Returns (table, snapshot_id)."""
    table = SnapshotTable(root)
    return table, table.append(synth_pages(spark, rows, seed))


def tick_rows(t: int, fresh: int, resent: int, seed: int) -> list[dict]:
    """Increment ``t``: pages [t*fresh, (t+1)*fresh) plus, from tick 1 on,
    ``resent`` copies of earlier pages under new urls, a month later.

    The copies are drawn from generator classes 00-54 (clean docs, kept by
    construction), so each copy's content already has a kept row in the
    decisions store and history demotion must demote exactly ``resent``
    rows per tick.  ``fresh`` is a whole number of generator centuries, so
    the exact re-arrivals the generator plants (classes 89-90) stay in the
    tick of the page they repeat."""
    if fresh % 100:
        raise ValueError(f"fresh={fresh} is not a multiple of 100")
    rows = [gen_row(j, seed) for j in range(t * fresh, (t + 1) * fresh)]
    if t == 0 or not resent:
        return rows
    rng = random.Random(seed * 1_000_003 + t)
    pool = [j for j in range(t * fresh) if j % 100 <= 54]
    for j in sorted(rng.sample(pool, min(resent, len(pool)))):
        r = gen_row(j, seed)
        r["url"] = f"https://{RESENT_HOST}/t{t}/p/{j:09d}.html"
        r["warc_ts"] = r["warc_ts"] + timedelta(days=30)
        rows.append(r)
    return rows


def write_increments(spark, root: str, n_ticks: int, fresh: int,
                     resent: int, seed: int) -> list[int]:
    """Write every increment once, partitioned by ``tick``; a tick reads
    ``<root>/tick=<t>``.  Returns the page count of each increment."""
    frames = []
    for t in range(n_ticks):
        pdf = pd.DataFrame(tick_rows(t, fresh, resent, seed),
                           columns=[f.name for f in PAGES_SCHEMA.fields])
        pdf["tick"] = t
        frames.append(pdf)
    schema = T.StructType(list(PAGES_SCHEMA.fields)
                          + [T.StructField("tick", T.IntegerType())])
    (spark.createDataFrame(pd.concat(frames, ignore_index=True), schema)
     .write.partitionBy("tick").parquet(root))
    return [len(f) for f in frames]
