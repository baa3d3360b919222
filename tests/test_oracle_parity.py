"""Every queries() entry vs its DuckDB oracle — the driver's check, locally.

Runs at sf0.001 for speed (the driver itself runs sf0.01; semantics are
scale-free).
"""

from __future__ import annotations

import pytest

from cfht2caom2_spark.plans.driver_queries import ORACLES, QUERIES

from .oracle_harness import compare, duck_con

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_parity(name, spark, con):
    problems = compare(name, QUERIES[name](spark, SF), ORACLES[name], con)
    assert problems == []


def test_all_queries_have_oracles_or_are_declared():
    from cfht2caom2_spark.plans.driver_queries import NO_ORACLE_QUERIES
    assert set(ORACLES) == set(QUERIES)
    assert not (set(NO_ORACLE_QUERIES) & set(QUERIES))


def test_repeated_spans_flat_builder_parity_k13(spark):
    """A window size past the registry query's k=8 gets its own DuckDB
    parity check."""
    import duckdb

    from cfht2caom2_spark.operators.spans import repeated_spans
    from cfht2caom2_spark.plans.driver_queries import _repeated_spans_sql

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    con = duck_con(sf)
    problems = compare("spans_k13", repeated_spans(docs, k=13, min_count=2),
                       _repeated_spans_sql(13, 2), con)
    assert problems == [], problems


def test_trained_weights_score_parity_is_bitwise(spark):
    """Feature-space contract (round-4 verdict #6): weights from a FRESH
    train_quality_weights run — not the frozen vector — must score
    bitwise-identically between with_quality_score(weights=w) and the
    identically-parameterized DuckDB SQL.  Any drift between
    score_feature_exprs and the trainer's feature projection, or a weight
    literal that doesn't round-trip, breaks this."""
    from cfht2caom2_spark.functions.quality import train_quality_weights
    from cfht2caom2_spark.plans.driver_queries import (
        _quality_score_sql, q_quality_score_trained)
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages

    decisions = build_pipeline(synth_pages(spark, 400), spark,
                               dedupe=False).cache()
    w = train_quality_weights(decisions)
    stats = decisions.filter("n_words IS NOT NULL").select(
        "url", "n_words", "mean_word_len", "symbol_ratio", "stopword_frac",
        "alpha_word_frac", "repeated_line_frac")
    from cfht2caom2_spark.functions.quality import with_quality_score
    spark_scores = {r["url"]: r["quality_score"]
                    for r in with_quality_score(stats, weights=w).collect()}
    decisions.unpersist()

    import duckdb
    con = duckdb.connect()
    con.register("s", stats.toPandas())
    sql = f"SELECT url, {_quality_score_sql(weights=w)} AS q FROM s"
    duck_scores = {u: q for u, q in con.execute(sql).fetchall()}
    con.close()
    assert spark_scores.keys() == duck_scores.keys()
    import struct
    for u, v in spark_scores.items():
        assert struct.pack("<d", v) == struct.pack("<d", duck_scores[u]), u


# Capitalised documents: a doc in mixed case, its lower-case twin and a
# mixed-case copy, in one source; bench members (doc_id % 97 == 0) among
# them; a doc whose repeats differ only in case.  The shared test tables
# are all lower case, so only these show an oracle that does not
# lower-case before shingling as the engine does.
_CAPITALISED = [
    (0, "src0", "The Quick Brown Fox Jumps Over The Lazy Dog Near The River"),
    (1, "src0", "the quick brown fox jumps over the lazy dog near the river"),
    (2, "src0", "the QUICK brown FOX jumps over THE lazy dog near the RIVER"),
    (3, "src1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (4, "src1", "Repeat Words repeat words Repeat Words repeat words again"),
    (97, "src1", "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta Iota Kappa"),
]
# q_dedup_clusters' oracle embeds q_minhash_pairs'
SHINGLE_QUERIES = ("q_jaccard_pairs", "q_minhash_pairs", "q_dedup_clusters",
                   "q_decontaminate", "q_fuzzy_decontaminate",
                   "q_decontam_report", "q_simhash")


@pytest.fixture(scope="module")
def capitalised(tmp_path_factory):
    import duckdb
    import pandas as pd

    sf = tmp_path_factory.mktemp("capitalised")
    pd.DataFrame(
        [(i, t, "en", src, len(t)) for i, src, t in _CAPITALISED],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(sf / "documents.parquet")
    c = duckdb.connect()
    c.execute("CREATE VIEW documents AS SELECT * FROM "
              f"read_parquet('{sf}/documents.parquet')")
    yield str(sf), c
    c.close()


@pytest.mark.parametrize("name", SHINGLE_QUERIES)
def test_shingle_oracles_lower_case_like_the_engine(name, spark, capitalised):
    sf, c = capitalised
    assert compare(name, QUERIES[name](spark, sf), ORACLES[name], c) == []
