"""DSIR importance weighting (operators/dsir.py).

Pins: evidence direction (target-looking docs outrank off-target docs), OOV
neutrality, empty-doc coverage, deterministic selection, the hashed
production mode's contract with the string-feature oracle mode, and the
broadcast shape of the scoring join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cfht2caom2_spark.operators.dsir import (LAMBDA_SCALE, doc_features,
                                             importance_weights,
                                             select_top_k)


def _corpus(spark):
    # target rows repeat "alpha beta"; raw-only rows repeat "zzz qqq"
    rows = []
    for i in range(8):
        rows.append((i, "alpha beta alpha beta alpha beta", "en"))
    for i in range(8, 16):
        rows.append((i, "zzz qqq zzz qqq zzz qqq", "xx"))
    rows.append((16, "", "en"))                       # empty doc
    rows.append((17, "rare1 rare2", "en"))            # all-OOV doc
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_importance_direction_and_edges(spark):
    docs = _corpus(spark)
    w = importance_weights(docs, F.col("lang") == "en", min_count=3)
    got = {r["doc_id"]: r.asDict() for r in w.collect()}
    assert len(got) == 18  # every input row scored, empty doc included
    # target-looking docs strictly outrank the off-target ones
    assert got[0]["importance"] > 0 > got[8]["importance"]
    # empty doc: zero features, zero importance
    assert got[16]["n_feats"] == 0 and got[16]["importance_scaled"] == 0
    # all-OOV doc: features counted, but no vocab evidence => importance 0
    assert got[17]["n_feats"] > 0 and got[17]["importance_scaled"] == 0


def test_doc_features_bag_multiplicity(spark):
    df = spark.createDataFrame([("A b  a",)], "text string")
    feats = df.select(doc_features(F.col("text")).alias("f")).head()["f"]
    # lowercased unigrams with multiplicity + space-joined bigrams
    assert feats == ["a", "b", "a", "a b", "b a"]


def test_select_top_k_deterministic(spark):
    docs = _corpus(spark)
    w = importance_weights(docs, F.col("lang") == "en", min_count=3)
    first = [r["doc_id"] for r in select_top_k(w, 5).collect()]
    second = [r["doc_id"] for r in select_top_k(w, 5).collect()]
    assert first == second and len(first) == 5
    # ties inside the uniform target block break by ascending doc_id
    assert first == sorted(first)


def test_hashed_mode_matches_string_mode_when_collision_free(spark):
    """The production path (xxhash64 % B) must produce the SAME importance
    as the oracle-parity string mode whenever the bucket space is collision
    free and the string mode keeps every feature (min_count=1) — hashing
    only renames features until buckets collide."""
    docs = _corpus(spark)
    feats = docs.select(
        F.explode(doc_features(F.col("text"))).alias("f")).distinct()
    n_distinct = feats.count()
    buckets = 1 << 30
    n_buckets_hit = feats.select(
        F.pmod(F.xxhash64("f"), F.lit(buckets)).alias("b")
    ).distinct().count()
    assert n_buckets_hit == n_distinct  # precondition: collision-free

    ws = importance_weights(docs, F.col("lang") == "en", min_count=1)
    wh = importance_weights(docs, F.col("lang") == "en",
                            hash_buckets=buckets)
    a = {r["doc_id"]: r["importance_scaled"] for r in ws.collect()}
    b = {r["doc_id"]: r["importance_scaled"] for r in wh.collect()}
    assert a == b


def test_hashed_mode_table_bounded(spark):
    """Hashed mode's weight table is <= n_buckets rows by construction —
    the fixed-size-broadcast guarantee the 100 TB path rests on."""
    from cfht2caom2_spark.operators.dsir import (_exploded_features,
                                                 feature_weights)
    docs = _corpus(spark)
    feats = _exploded_features(docs, "doc_id", "text",
                               F.col("lang") == "en", 2).withColumn(
        "feature", F.pmod(F.xxhash64("feature"), F.lit(7)).cast("string"))
    lam = feature_weights(feats, min_count=1, hash_buckets=7)
    assert lam.count() <= 7


def test_scoring_join_is_broadcast(spark):
    docs = _corpus(spark)
    w = importance_weights(docs, F.col("lang") == "en", min_count=3)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_importance_is_density_of_scaled(spark):
    docs = _corpus(spark)
    w = importance_weights(docs, F.col("lang") == "en", min_count=3)
    for r in w.collect():
        denom = LAMBDA_SCALE * max(r["n_feats"], 1)
        assert r["importance"] == r["importance_scaled"] / denom


def test_dsir_cli_writes_weights_and_selection(spark, tmp_path, monkeypatch):
    import cfht2caom2_spark.__main__ as cli
    import cfht2caom2_spark.session as session_mod

    monkeypatch.setattr(session_mod, "get_spark",
                        lambda app_name=None, **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    _corpus(spark).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    rc = cli.main(["dsir", "--input", str(tmp_path / "docs"),
                   "--target", "lang = 'en'", "--out",
                   str(tmp_path / "out"), "--top-k", "4",
                   "--min-count", "3"])
    assert rc == 0
    w = spark.read.parquet(str(tmp_path / "out" / "weights"))
    assert w.count() == 18
    sel = spark.read.parquet(str(tmp_path / "out" / "selected"))
    ids = [r["doc_id"] for r in sel.collect()]
    assert len(ids) == 4 and all(i < 8 for i in ids)  # target block wins
