"""Heuristic stats + scrub chain vs hand-computed expectations on tiny frames.

The analogue of the reference's getter guards (elevation 0-90 range check,
instruments.py:385-393; humidity guard :439-444): each stat pinned on inputs
designed to hit its edge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cfht2caom2_spark.config import DEFAULT_PROFILE
from cfht2caom2_spark.functions.quality import with_quality_stats
from cfht2caom2_spark.functions.scrub import scrub_rules_fired, scrubbed


@pytest.fixture(scope="module")
def stats(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "aaa bbb### ccc#@$ ddd", "en"),
        (3, "line one\nline one\nline one\nother", "en"),
        (4, "12345 67890 11 22 33", "en"),
        (5, None, None),
        (6, "的是了在和", "zh"),
    ]
    df = spark.createDataFrame(rows, "id bigint, extracted_text string, lang_pred string")
    return {r["id"]: r for r in
            with_quality_stats(df, lang_col="lang_pred").collect()}


def test_n_words_and_mean_len(stats):
    assert stats[1]["n_words"] == 6
    assert stats[1]["mean_word_len"] == pytest.approx(17 / 6)


def test_symbol_ratio(stats):
    # 6 symbol chars of 21 total in row 2
    assert stats[2]["symbol_ratio"] == pytest.approx(6 / 21)


def test_stopword_frac(stats):
    assert stats[1]["stopword_frac"] == pytest.approx(3 / 6)  # the, on, the


def test_repeated_lines(stats):
    assert stats[3]["repeated_line_frac"] == pytest.approx(1 - 2 / 4)


def test_alpha_frac_numeric(stats):
    assert stats[4]["alpha_word_frac"] == 0.0


def test_null_text_stats_are_null(stats):
    assert stats[5]["n_words"] is None


def test_zh_char_tokens(stats):
    assert stats[6]["n_words"] == 5
    assert stats[6]["stopword_frac"] == 1.0  # all five are zh stop chars


def _scrub(df):
    text = F.col("extracted_text")
    return df.select(scrubbed(text).alias("scrubbed_text"),
                     scrub_rules_fired(text).alias("scrub_rules"))


def test_scrub_chain(spark):
    df = spark.createDataFrame(
        [(1, "mail a@b.com call +1 555-123-4567 ssn 123-45-6789 ip 10.0.0.1 ok")],
        "id bigint, extracted_text string")
    row = _scrub(df).collect()[0]
    assert row["scrubbed_text"] == \
        "mail <EMAIL> call <PHONE> ssn <SSN> ip <IP> ok"
    assert row["scrub_rules"] == ["pii_email", "pii_ipv4", "pii_phone", "pii_ssn"]


def test_scrub_clean_text_untouched(spark):
    df = spark.createDataFrame([(1, "nothing sensitive here")],
                               "id bigint, extracted_text string")
    row = _scrub(df).collect()[0]
    assert row["scrubbed_text"] == "nothing sensitive here"
    assert row["scrub_rules"] == []


def test_rule_versions_complete():
    from cfht2caom2_spark.config import RULE_IDS
    v = DEFAULT_PROFILE.rule_versions()
    assert set(v) == set(RULE_IDS)


def test_scrub_phone_formats_without_country_code(spark):
    """Regression (review finding): bare 555-123-4567, (555) 123-4567 and
    dotted forms must scrub — the original pattern required a country code."""
    df = spark.createDataFrame(
        [(1, "call 555-123-4567 or (555) 123-4567 or 555.123.4567 end")],
        "id bigint, extracted_text string")
    row = _scrub(df).collect()[0]
    assert "555" not in row["scrubbed_text"]
    assert row["scrubbed_text"].count("<PHONE>") == 3


def test_scrub_prefilter_gate_is_identity_preserving(spark):
    """The one-scan PII prefilter (scrub._ANY_PII gate) must be byte-
    invisible: gated chain == raw ungated chain on clean, PII-bearing,
    empty and null rows alike."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.config import PII_PATTERNS
    from cfht2caom2_spark.functions.scrub import scrubbed

    rows = [
        (1, "mail a@b.com call 555-123-4567 ssn 123-45-6789 ip 10.0.0.1"),
        (2, "perfectly clean prose with no sensitive fields anywhere"),
        (3, ""),
        (4, None),
        (5, "edge email-ish a@b without tld and 12-34 partial digits"),
    ]
    df = spark.createDataFrame(rows, "id bigint, t string")
    raw = F.col("t")
    for _rule, pattern, repl in PII_PATTERNS:
        raw = F.regexp_replace(raw, pattern, repl)
    out = df.select(
        scrubbed(F.col("t")).alias("gated"), raw.alias("ungated")).collect()
    for r in out:
        assert r["gated"] == r["ungated"]


def test_quality_score_bounds_and_monotonicity(spark):
    """Score lies in (0,1); clean prose outranks symbol soup and repeated
    lines; null stats (empty payload) yield a null score."""
    from cfht2caom2_spark.functions.quality import (with_quality_score,
                                                    with_quality_stats)

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then walks "
            "to the river where it drinks some water before the evening"),
        (2, "#### @@@@ $$$$ %%%% ^^^^ &&&& **** ~~~~ |||| ==== #### @@@@"),
        (3, "same line\nsame line\nsame line\nsame line\nsame line"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id bigint, extracted_text string")
    out = {r["id"]: r["quality_score"]
           for r in with_quality_score(with_quality_stats(df)).collect()}
    assert 0.0 < out[1] < 1.0 and 0.0 < out[2] < 1.0
    assert out[1] > out[2]          # symbol soup penalized
    assert out[1] > out[3]          # repetition penalized
    assert out[4] is None           # null payload -> null score


def test_train_quality_weights_separates_and_drops_in(spark):
    """The promised trained-classifier path: LR over the six score features
    on a decisions frame returns a QUALITY_WEIGHTS-shaped dict that drops
    into with_quality_score and ranks kept docs above dropped ones."""
    from cfht2caom2_spark.functions.quality import (QUALITY_WEIGHTS,
                                                    train_quality_weights,
                                                    with_quality_score)
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages

    decisions = build_pipeline(synth_pages(spark, 600), spark,
                               dedupe=False).cache()
    w = train_quality_weights(decisions)
    assert set(w) == set(QUALITY_WEIGHTS)
    assert all(isinstance(v, float) for v in w.values())

    scored = with_quality_score(
        decisions.drop("quality_score"), weights=w).select(
        "keep", "quality_score").filter("quality_score IS NOT NULL")
    rows = scored.collect()
    kept = sorted(r["quality_score"] for r in rows if r["keep"])
    dropped = sorted(r["quality_score"] for r in rows if not r["keep"])
    assert kept and dropped
    assert all(0.0 < s < 1.0 for s in kept + dropped)
    # ranking AUC via midrank-free count (ties broken conservatively):
    # keep depends partly on model features outside the six stats, so
    # demand clear separation, not perfection
    import bisect
    wins = sum(bisect.bisect_left(dropped, s) for s in kept)
    auc = wins / (len(kept) * len(dropped))
    assert auc > 0.75, auc
    decisions.unpersist()


def test_char_simpson_and_distinct_frac(spark):
    from .reference_impl import (char_run_sq_sum, char_simpson,
                                 distinct_char_frac)
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, ""), (3, "abcd"), (4, "aabb"), (5, "中中文")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in df.select(
        "doc_id",
        char_run_sq_sum(F.col("text")).alias("sq"),
        char_simpson(F.col("text")).alias("s"),
        distinct_char_frac(F.col("text")).alias("d"),
    ).collect()}
    assert got[1]["s"] == 1.0 and got[1]["d"] == 0.25        # one char only
    assert got[2]["sq"] == 0 and got[2]["s"] == 0.0          # empty guard
    assert got[3]["s"] == 0.25 and got[3]["d"] == 1.0        # all distinct
    assert got[4]["sq"] == 8 and got[4]["s"] == 0.5          # 2² + 2²
    assert got[5]["sq"] == 5 and got[5]["d"] == 2 / 3        # codepoints
