"""Gopher/C4-style heuristic quality statistics, the rules over them, and
the model-based quality score.

Reference analogue: the ~40 keyword-chain getters with validity guards
(reference instruments.py:385-653, e.g. elevation range-check 0-90 at :385-393,
humidity guard at :439-444) — each output field is a guarded pure function
of the row.  Here the 14 per-row text statistics have one implementation,
the Python kernel ``kernels.quality_stats``.  The pipeline computes them
inside its fused extraction pass (functions/fused.py), which already holds
the text, so they cost no Arrow crossing of their own; as Spark
expressions they needed ~9 higher-order lambdas over the token and line
arrays, which Spark runs interpreted, row by row.  ``with_quality_stats``
runs the same kernel as one pandas UDF over (text, lang) for any other
frame: the registry's documents and text the pipeline rewrote after the
fused pass.  Two more stat blocks run as vectorized Python crossings: the
opt-in Gopher repetition ladder (``with_repetition_ladder``) and the
registry's character stats (``char_stats_fast``, one mapInPandas).  The
JVM expression forms of all three live in tests/reference_impl.py as the
bit-for-bit references.

The rules (``heuristic_rules``, ``repetition_ladder_rules``) and the score
(``quality_score``) stay Column expressions over the stat columns, shared
by the batch pipeline, the streaming mode and the DuckDB-oracle queries.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import RuleProfile
from . import kernels

_LONG, _DOUBLE, _BOOL = T.LongType(), T.DoubleType(), T.BooleanType()
QUALITY_STAT_FIELDS: tuple[T.StructField, ...] = tuple(
    T.StructField(c, t) for c, t in zip(kernels.QUALITY_STAT_COLS, (
        _LONG, _DOUBLE, _DOUBLE, _DOUBLE, _DOUBLE, _DOUBLE, _DOUBLE,
        _DOUBLE, _DOUBLE, _DOUBLE, _LONG, _BOOL, _BOOL, _LONG), strict=True))
_PANDAS_DTYPE = {_LONG: "Int64", _BOOL: "boolean", _DOUBLE: "float64"}


def quality_stats_frame(texts, langs, index=None) -> pd.DataFrame:
    """The 14 stat columns of a batch of (text, lang) pairs, one
    ``kernels.quality_stats`` call per row.  Nullable dtypes keep NULL-text
    rows NULL across Arrow (no stat is ever NaN: every denominator is
    > 0)."""
    rows = [kernels.quality_stats(t, lg) for t, lg in zip(texts, langs)]
    cols = zip(*rows) if rows else [()] * len(QUALITY_STAT_FIELDS)
    return pd.DataFrame({
        f.name: pd.Series(c, index=index, dtype=_PANDAS_DTYPE[f.dataType])
        for f, c in zip(QUALITY_STAT_FIELDS, cols)})


def with_quality_stats(df: DataFrame, text_col: str = "extracted_text",
                       lang_col: str | None = None) -> DataFrame:
    """Append (or replace) the 14 heuristic stat columns
    (``kernels.QUALITY_STAT_COLS``) from one iterator-form pandas UDF over
    (text, lang): only those two columns cross Arrow, and the stats come
    back as one struct.  Without ``lang_col`` every row is read as en
    (word tokens, en stop words), as is a NULL lang."""

    @F.pandas_udf(T.StructType(list(QUALITY_STAT_FIELDS)))
    def quality_stats(batches: Iterator[tuple[pd.Series, pd.Series]]
                      ) -> Iterator[pd.DataFrame]:
        for texts, langs in batches:
            yield quality_stats_frame(texts, langs)

    lang = F.col(lang_col) if lang_col else F.lit(None).cast("string")
    return (df.drop(*kernels.QUALITY_STAT_COLS)
            .withColumn("_stats", quality_stats(F.col(text_col), lang))
            .withColumns({c: F.col("_stats")[c]
                          for c in kernels.QUALITY_STAT_COLS})
            .drop("_stats"))


# --- Gopher dup-ngram ladder -------------------------------------------------
#
# The repetition family beyond lines/paragraphs/2-grams (Rae et al. 2021
# Table A1): top-{2,3,4}-gram char fraction and dup-{5..10}-gram char
# fraction, computed by the one Python kernel (kernels.repetition_ladder)
# behind one Arrow crossing.  As Spark expressions the same stats need a
# sort and a struct-accumulator fold per rung, and higher-order functions
# run interpreted: with the gates on, a warm run_batch over 3,000 synthetic
# pages (4 cores) took 10-13.5 s with 9 expression rungs and 5.3-6.9 s with
# the kernel.

REP_LADDER_COLS: tuple[str, ...] = tuple(
    [f"top_{n}gram_char_frac" for n in kernels.REP_LADDER_TOP_NS]
    + [f"dup_{n}gram_char_frac" for n in kernels.REP_LADDER_DUP_NS])


def with_repetition_ladder(df: DataFrame, text_col: str = "extracted_text",
                           lang_col: str | None = None) -> DataFrame:
    """Append the 9 ladder stats (top_{2,3,4}gram_char_frac,
    dup_{5..10}gram_char_frac) from one iterator-form pandas UDF over
    (text, lang): only those two columns cross Arrow, and the 9 fractions
    come back as one struct.  Same token dispatch as with_quality_stats:
    ``lang == "zh"`` rows tokenize per code point (``kernels.zh_tokens``),
    every other row (NULL lang, or no ``lang_col``) by the word rule.
    NULL text gives NULL fractions, which the rules read as not fired.
    Opt-in from the pipeline via RuleProfile.gopher_repetition_gates."""
    fields = [T.StructField(c, T.DoubleType()) for c in REP_LADDER_COLS]

    @F.pandas_udf(T.StructType(fields))
    def repetition_ladder(batches: Iterator[tuple[pd.Series, pd.Series]]
                ) -> Iterator[pd.DataFrame]:
        nulls = [None] * len(REP_LADDER_COLS)
        for texts, langs in batches:
            rows = [nulls if t is None else kernels.repetition_ladder(
                        kernels.zh_tokens(t) if lg == "zh"
                        else kernels.word_tokens(t))
                    for t, lg in zip(texts, langs)]
            # float64 columns: NULL rows become NaN, which Arrow writes as
            # NULL (no fraction is ever NaN: its denominator is > 0)
            yield pd.DataFrame(rows, columns=list(REP_LADDER_COLS),
                               dtype="float64")

    lang = F.col(lang_col) if lang_col else F.lit(None).cast("string")
    return (df.withColumn("_ladder", repetition_ladder(F.col(text_col), lang))
            .withColumns({c: F.col("_ladder")[c] for c in REP_LADDER_COLS})
            .drop("_ladder"))


def repetition_ladder_rules(profile: RuleProfile) -> dict[str, Column]:
    rules: dict[str, Column] = {}
    for n, thr in profile.max_top_ngram_char_frac:
        rules[f"dup_top_{n}gram"] = F.col(f"top_{n}gram_char_frac") > thr
    for n, thr in profile.max_dup_ngram_char_frac:
        rules[f"dup_{n}gram"] = F.col(f"dup_{n}gram_char_frac") > thr
    return rules


def char_stats_fast(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, n_chars_text, char_sq_sum, char_simpson, distinct_char_frac)
    via one vectorized mapInPandas crossing.  The Column-fold references it
    must match bitwise live in tests/reference_impl.py.

    ``char_simpson`` = sum_c (count_c / n)², the algebraic stand-in for
    character entropy (a monotone transform of Rényi-2 entropy; log is not
    identically rounded across libms): high values flag ascii-art, padding
    and single-char spam that token-level stats miss.

    Round-6 motivation is not just speed but DETERMINISM of speed: the
    expression form's per-codepoint array_sort + struct fold is big enough
    that HotSpot's decision to compile the generated loop is a per-JVM
    coin flip — the same query ran 1.5 s or 6.5 s at sf1.0 depending on
    the JVM, stable within a session (BENCH_r05's own samples:
    [8.4, 2.4, 2.3]).  A collections.Counter per doc computes the same
    exact integers (sum of count² over codepoints, distinct codepoints)
    and the same single double divisions; parity pinned by the DuckDB
    oracle and test_char_stats_fast_parity.  NULL text yields zeros here
    (expression form: NULL) — absent from this engine's tables (the
    testdata generator never emits NULL text)."""
    from collections import Counter

    import pandas as pd

    def stats_batches(batches):
        def one(t):
            t = t or ""
            n = len(t)
            if n == 0:
                return (0, 0, 0.0, 0.0)
            cnt = Counter(t)
            sq = sum(c * c for c in cnt.values())
            return (n, sq, float(sq) / float(n * n),
                    float(len(cnt)) / float(n))

        for pdf in batches:
            rows = [one(t) for t in pdf[text_col]]
            res = pd.DataFrame(
                rows, columns=["n_chars_text", "char_sq_sum",
                               "char_simpson", "distinct_char_frac"]) \
                if rows else pd.DataFrame({
                    "n_chars_text": pd.Series(dtype="int64"),
                    "char_sq_sum": pd.Series(dtype="int64"),
                    "char_simpson": pd.Series(dtype="float64"),
                    "distinct_char_frac": pd.Series(dtype="float64")})
            res.insert(0, id_col, pdf[id_col].to_numpy())
            yield res

    id_type = df.select(id_col).schema.fields[0].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        stats_batches,
        schema=f"{id_col} {id_type}, n_chars_text bigint, "
               "char_sq_sum bigint, char_simpson double, "
               "distinct_char_frac double")


def heuristic_rules(profile: RuleProfile) -> dict[str, Column]:
    """rule_id -> fired-predicate over the stat columns.  The decision stage
    folds these into the rules array (the rejected.record analogue)."""
    return {
        "too_short": F.col("n_words") < profile.min_words,
        "too_long": F.col("n_words") > profile.max_words,
        "word_len_low": F.col("mean_word_len") < profile.min_mean_word_len,
        "word_len_high": F.col("mean_word_len") > profile.max_mean_word_len,
        "symbol_ratio": F.col("symbol_ratio") > profile.max_symbol_ratio,
        "stopword_frac": F.col("stopword_frac") < profile.min_stopword_frac,
        "alpha_frac": F.col("alpha_word_frac") < profile.min_alpha_word_frac,
        "repeated_lines": F.col("repeated_line_frac") > profile.max_repeated_line_frac,
        "repeated_paragraphs": (F.col("repeated_paragraph_frac")
                                > profile.max_repeated_paragraph_frac),
        "bullet_lines": (F.col("bullet_line_frac")
                         > profile.max_bullet_line_frac),
        "ellipsis_lines": (F.col("ellipsis_line_frac")
                           > profile.max_ellipsis_line_frac),
        # C4's line gate at doc granularity; the default threshold 0.0 can
        # never fire (frac >= 0) — deployments opt in via the profile
        "terminal_punct": (F.col("terminal_punct_line_frac")
                           < profile.min_terminal_punct_line_frac),
        # count/frac are never negative, so the 0 defaults can't fire
        "too_few_sentences": F.col("sentence_count") < profile.min_sentences,
        "lorem_ipsum": (F.col("has_lorem_ipsum") if profile.block_lorem_ipsum
                        else F.lit(False)),
        "curly_brace": (F.col("has_curly_brace") if profile.block_curly_brace
                        else F.lit(False)),
        "toxicity": F.col("toxicity_hits") > profile.max_toxicity_hits,
    }


# --- model-based quality score ----------------------------------------------
#
# The DCLM/FineWeb-style continuous quality signal: a linear model over the
# heuristic stats squashed to (0, 1).  Downstream mixing samples by score
# bucket instead of a hard keep/drop (operators/sampling.py).  The weights
# here are fixed, documented placeholders — a trained classifier (fastText /
# logistic regression on annotated pages) drops in as a new weight vector,
# same column formula, no plan change.
#
# Reference analogue: records carry a GRADED level next to the binary
# accept/reject — Plane.calibrationLevel assigned per product during mapping
# (reference instruments.py:369-372) and propagated through merges
# (instruments.py:838); here the grade is continuous and drives sampling.
#
# Engine-portability constraint (the reason there is no exp/ln here): the
# DuckDB oracle compares DOUBLES BITWISE, and transcendental functions are
# not guaranteed identically rounded across libms.  Every op used — +, -, *,
# /, abs, sqrt — IS correctly rounded under IEEE-754, so Spark and DuckDB
# agree to the last bit.  The squash is the algebraic sigmoid
# z -> 0.5 + z / (2 * (1 + |z|)), monotone, range (0, 1).

QUALITY_WEIGHTS = {
    "bias": -2.0,
    "sqrt_n_words": 0.08,       # saturating size credit (sqrt, not log: IEEE-exact)
    "stopword_frac": 4.0,       # natural-language evidence
    "alpha_word_frac": 2.0,
    "symbol_ratio": -8.0,       # markup/ascii-art penalty
    "repeated_line_frac": -3.0,
    "mean_word_len_dev": -0.15, # distance from the ~5-char prose sweet spot
}


WORD_LEN_SWEET_SPOT = 5.0   # ~prose mean word length the dev-term centers on


def score_feature_exprs(n_words_c: Column, mean_word_len_c: Column,
                        symbol_ratio_c: Column, stopword_frac_c: Column,
                        alpha_word_frac_c: Column,
                        repeated_line_frac_c: Column) -> dict[str, Column]:
    """The ONE definition of the score's feature space, shared by scoring
    and training so trained weights can never silently fit a different
    space.  INSERTION ORDER IS LOAD-BEARING: quality_score sums the terms
    in this order and the DuckDB oracle mirrors it — floating-point
    addition is order-sensitive and the parity check is bitwise."""
    return {
        "sqrt_n_words": F.sqrt(n_words_c.cast("double")),
        "stopword_frac": stopword_frac_c,
        "alpha_word_frac": alpha_word_frac_c,
        "symbol_ratio": symbol_ratio_c,
        "repeated_line_frac": repeated_line_frac_c,
        "mean_word_len_dev": F.abs(mean_word_len_c
                                   - F.lit(WORD_LEN_SWEET_SPOT)),
    }


def quality_score(n_words_c: Column, mean_word_len_c: Column,
                  symbol_ratio_c: Column, stopword_frac_c: Column,
                  alpha_word_frac_c: Column,
                  repeated_line_frac_c: Column,
                  weights: dict[str, float] | None = None) -> Column:
    w = weights or QUALITY_WEIGHTS
    z = F.lit(w["bias"])
    feats = score_feature_exprs(n_words_c, mean_word_len_c, symbol_ratio_c,
                                stopword_frac_c, alpha_word_frac_c,
                                repeated_line_frac_c)
    for name, expr in feats.items():
        z = z + F.lit(w[name]) * expr
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def with_quality_score(df: DataFrame,
                       weights: dict[str, float] | None = None) -> DataFrame:
    """Append ``quality_score`` from the stat columns (with_quality_stats
    must have run).  Null stats (empty payload) propagate to a null score.
    ``weights``: a trained vector from ``train_quality_weights`` drops in
    here; None keeps the documented placeholder weights."""
    return df.withColumn("quality_score", quality_score(
        F.col("n_words"), F.col("mean_word_len"), F.col("symbol_ratio"),
        F.col("stopword_frac"), F.col("alpha_word_frac"),
        F.col("repeated_line_frac"), weights=weights))


def train_quality_weights(decisions: DataFrame) -> dict[str, float]:
    """Fit the promised trained classifier for the quality score: a Spark ML
    logistic regression over the SAME six features ``quality_score``
    consumes, returned as a QUALITY_WEIGHTS-shaped dict so it drops
    straight into ``with_quality_score(weights=...)`` with no plan change
    (the DCLM/FineWeb recipe — train on labeled keep/drop decisions, score
    the corpus, mix by score bucket; operators/sampling.py).

    Input: any frame with the stat columns + the boolean ``keep`` label (a
    decisions store read works as-is).  Rows with null stats (empty
    payloads) are excluded — they carry no trainable signal and the
    pipeline gates them deterministically anyway.  Training is JVM-side
    (pyspark.ml), one pass shape: assemble -> unregularized L-BFGS, at most
    50 iterations; fine at corpus scale (each iteration is one map-reduce
    over the slim feature projection).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feat_exprs = score_feature_exprs(
        F.col("n_words"), F.col("mean_word_len"), F.col("symbol_ratio"),
        F.col("stopword_frac"), F.col("alpha_word_frac"),
        F.col("repeated_line_frac"))
    feats = list(feat_exprs)
    prepared = (
        decisions
        .filter(F.col("n_words").isNotNull()
                & F.col("keep").isNotNull())
        .select(
            *[expr.alias(name) for name, expr in feat_exprs.items()],
            F.col("keep").cast("double").alias("label"),
        )
    )
    assembled = VectorAssembler(inputCols=feats, outputCol="features") \
        .transform(prepared)
    model = LogisticRegression(maxIter=50, regParam=0.0).fit(assembled)
    out = {"bias": float(model.intercept)}
    out.update({name: float(c) for name, c in zip(feats, model.coefficients)})
    return out
