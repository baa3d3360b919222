"""Operator-level queries + ANSI-SQL oracles for the driver's DuckDB check.

Each entry exercises one operator family from SURVEY.md §2 on the driver's
testdata tables and has a semantically identical DuckDB SQL string.  Parity
discipline:
  * every computed column is aliased identically on both sides;
  * all integer aggregates are BIGINT, ratios are DOUBLE computed with the
    same operation order (guarded divisions — Spark 4 runs ANSI mode);
  * money sums go through exact integer cents so float summation order can't
    diverge between engines;
  * hashes are md5-derived (identical in both engines); MinHash/SimHash
    arithmetic stays below 2^62 so int64 overflow semantics never differ.

The SQL strings are built programmatically where the expansion is mechanical
(MinHash permutations); they remain plain ANSI SQL DuckDB executes verbatim.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_PROFILE, STOPWORDS
from ..functions import quality as Q
from ..functions import tokens as TK
from ..functions.scrub import scrubbed
from ..operators import similarity as SIM
from ..operators.decision import assemble_rules
from ..operators.dedup import (MERSENNE_31, _perm_params, lsh_candidate_pairs,
                               shingle_hash, word_shingles)

QueryFn = Callable[[SparkSession, str], DataFrame]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Heavy per-row compute reads: fan a small local file out to all cores
    (a real table would already arrive in many partitions; the testdata is a
    single tiny file, which otherwise pins expression-heavy queries to 1 task)."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


# --------------------------------------------------------------------------
# SQL fragments shared by the oracles
# --------------------------------------------------------------------------

_SW_EN = ",".join(f"'{w}'" for w in STOPWORDS["en"])
_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"
# the lower-cased token list: every shingle oracle tokenizes with it, as the
# engine's word_shingles / kernels.shingles lower-case before shingling
_LTOKS = (r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), "
          r"x -> x <> '')")
_SHINGLE_HASH = "(('0x' || substr(md5({s}), 1, 15))::BIGINT % 2147483647)"


def _shingles_sql(toks: str = "toks", k: int = 3) -> str:
    parts = "||' '||".join(f"{toks}[i+{j}]" for j in range(k))
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, greatest(len({toks})-{k-1}, 1)), i -> {parts}) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


# --------------------------------------------------------------------------
# P11 — heuristic text statistics (documents)
# --------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heuristic stats of every document, from the one stat kernel
    (``quality.with_quality_stats``: one pandas UDF, every row read as en).
    Also serves bench.py's documented warm-up intent: the suite warm-up
    materializes q_text_stats "so per-query numbers measure the plan, not
    interpreter startup" — with the engine's hot paths now Arrow-based,
    the warm-up query must itself start the Python workers, or the first
    timed pandas query pays the ~3 s worker+import cost instead."""
    docs = Q.with_quality_stats(_t_wide(spark, sf_dir, "documents"),
                                text_col="text")
    return docs.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "stopword_frac", "alpha_word_frac", "repeated_line_frac",
        "repeated_paragraph_frac", "bullet_line_frac", "ellipsis_line_frac",
        "terminal_punct_line_frac", "sentence_count", "has_lorem_ipsum",
        "has_curly_brace")


# the six stats quality_score reads (quality.score_feature_exprs); the
# rules of _doc_rules_array read five of them
_SCORE_STATS = ("n_words", "mean_word_len", "symbol_ratio", "stopword_frac",
                "alpha_word_frac", "repeated_line_frac")


# prs: blank-line-delimited paragraphs — '\n{2,}' is literal in DuckDB
# single-quoted strings (no escape processing), RE2 reads it as the regex
_STATS_CTE_SQL = f"""
  SELECT doc_id, text, {_TOKS} AS toks,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lns,
         list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                     p -> trim(p) <> '') AS prs
  FROM documents
"""

_STATS_EXPRS_SQL = f"""
  len(toks)::BIGINT AS n_words,
  coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
    / greatest(len(toks), 1)::DOUBLE AS mean_word_len,
  (length(text) - length(regexp_replace(text, '[#@$%^&*+=~|]', '', 'g')))::DOUBLE
    / greatest(length(text), 1)::DOUBLE AS symbol_ratio,
  len(list_filter(toks, x -> lower(x) IN ({_SW_EN})))::DOUBLE
    / greatest(len(toks), 1)::DOUBLE AS stopword_frac,
  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-zÀ-ÿ一-鿿]')))::DOUBLE
    / greatest(len(toks), 1)::DOUBLE AS alpha_word_frac,
  CASE WHEN len(lns) <= 0 THEN 0.0
       ELSE 1.0 - len(list_distinct(lns))::DOUBLE / len(lns)::DOUBLE
  END AS repeated_line_frac,
  CASE WHEN len(prs) <= 0 THEN 0.0
       ELSE 1.0 - len(list_distinct(prs))::DOUBLE / len(prs)::DOUBLE
  END AS repeated_paragraph_frac,
  CASE WHEN len(lns) <= 0 THEN 0.0
       ELSE len(list_filter(lns, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
            / len(lns)::DOUBLE
  END AS bullet_line_frac,
  CASE WHEN len(lns) <= 0 THEN 0.0
       ELSE len(list_filter(lns,
                l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
            / len(lns)::DOUBLE
  END AS ellipsis_line_frac,
  CASE WHEN len(lns) <= 0 THEN 0.0
       ELSE len(list_filter(lns, l -> regexp_matches(l, '[.!?"]\\s*$')))::DOUBLE
            / len(lns)::DOUBLE
  END AS terminal_punct_line_frac,
  len(regexp_extract_all(text, '[.!?](\\s|$)|[。！？]'))::BIGINT
    AS sentence_count,
  contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
  contains(text, '{{') AS has_curly_brace
"""

Q_TEXT_STATS_SQL = f"""
WITH t AS ({_STATS_CTE_SQL.strip()}
)
SELECT doc_id,
{_STATS_EXPRS_SQL.strip()}
FROM t
"""


# --------------------------------------------------------------------------
# P11b — n-gram repetition statistics (Gopher dup-ngram family)
# --------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition gates beyond repeated lines (Rae et al. 2021
    Table A1 dup-ngram family): fraction of word 2-grams occupied by the most
    frequent 2-gram, and the distinct-2-gram fraction.  Pure array
    expressions — the per-doc "most frequent" comes from ONE fold over the
    sorted 2-gram array (longest equal run), no explode/shuffle."""
    docs = _t_wide(spark, sf_dir, "documents")
    docs = docs.withColumn("_toks", TK.word_tokens(F.col("text")))
    t = F.col("_toks")
    n = F.size(t)
    grams = TK.word_ngrams(t, 2)
    sorted_g = F.array_sort(grams)
    acc0 = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("bigint").alias("run"),
                    F.lit(0).cast("bigint").alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1) \
            .otherwise(F.lit(1).cast("bigint"))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    best = F.aggregate(sorted_g, acc0, step, lambda a: a["best"])
    has_grams = n >= 2
    return docs.select(
        "doc_id",
        F.when(has_grams, best.cast("double") / (n - 1).cast("double"))
        .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        F.when(has_grams,
               F.size(F.array_distinct(grams)).cast("double")
               / (n - 1).cast("double"))
        .otherwise(F.lit(1.0)).alias("distinct_bigram_frac"),
    )


Q_REPETITION_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
),
c AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
),
m AS (
  SELECT doc_id,
         max(cnt)::DOUBLE / sum(cnt)::DOUBLE AS top_bigram_frac,
         count(*)::DOUBLE / sum(cnt)::DOUBLE AS distinct_bigram_frac
  FROM c GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(m.top_bigram_frac, 0.0) AS top_bigram_frac,
       coalesce(m.distinct_bigram_frac, 1.0) AS distinct_bigram_frac
FROM t LEFT JOIN m USING (doc_id)
"""


# --------------------------------------------------------------------------
# P14 — keep/drop decision from heuristic rules only (documents)
# --------------------------------------------------------------------------

_DOC_RULES = (
    ("too_short", "n_words < 50"),
    ("word_len_low", "mean_word_len < 3.0"),
    ("word_len_high", "mean_word_len > 10.0"),
    ("symbol_ratio", "symbol_ratio > 0.10"),
    ("stopword_frac", "stopword_frac < 0.01"),
    ("alpha_frac", "alpha_word_frac < 0.80"),
)


def _doc_rules_array():
    """Fired-rule array over the q_text_stats columns (shared by the decision
    and the per-rule report so both attribute identically): the pipeline's
    rules over those stats, at the default profile's thresholds."""
    rules = Q.heuristic_rules(DEFAULT_PROFILE)
    return assemble_rules({r: rules[r] for r, _ in _DOC_RULES})


def q_quality_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = q_text_stats(spark, sf_dir)
    rules = _doc_rules_array()
    return stats.select(
        "doc_id",
        F.array_join(rules, ",").alias("rules_str"),
        (F.size(rules) == 0).alias("keep"),
    )


_DOC_RULE_CASES = ", ".join(
    f"CASE WHEN {cond} THEN '{rule}' END" for rule, cond in _DOC_RULES
)
Q_QUALITY_DECISION_SQL = f"""
WITH s AS ({Q_TEXT_STATS_SQL.strip()}),
r AS (
  SELECT doc_id,
    list_sort(list_filter([{_DOC_RULE_CASES}], x -> x IS NOT NULL)) AS rules
  FROM s
)
SELECT doc_id, coalesce(array_to_string(rules, ','), '') AS rules_str,
       coalesce(len(rules), 0) = 0 AS keep
FROM r
"""


# --------------------------------------------------------------------------
# A4 — cube statistics over preview artifacts (documents)
# --------------------------------------------------------------------------

def q_preview_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(lang, length-bucket) over the preview projection (snippet +
    display stats) — the gallery-view report.  Reference analogue: preview
    rendering computes display statistics per artifact
    (/root/reference/cfht2caom2/preview_augmentation.py zscale cuts)."""
    docs = _t(spark, sf_dir, "documents")
    prev = docs.select(
        "lang",
        (F.floor(F.length("text") / 500) * 500).cast("bigint").alias("len_bucket"),
        F.substring("text", 1, 200).alias("snippet"),
    )
    return (
        prev.cube("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_previews"),
            F.avg(F.length("snippet").cast("double")).alias("avg_snippet_len"),
        )
    )


Q_PREVIEW_STATS_SQL = """
WITH prev AS (
  SELECT lang,
         (floor(length(text) / 500) * 500)::BIGINT AS len_bucket,
         substr(text, 1, 200) AS snippet
  FROM documents
)
SELECT lang, len_bucket, count(*)::BIGINT AS n_previews,
       avg(length(snippet)::DOUBLE) AS avg_snippet_len
FROM prev
GROUP BY CUBE (lang, len_bucket)
"""


# --------------------------------------------------------------------------
# A5 — per-rule drop attribution report (documents)
# --------------------------------------------------------------------------

def q_rule_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(rules) -> groupBy(rule).count(): which rule drops the most
    docs — the first report a pipeline operator asks for.  Reference
    analogue: per-reason rejection counts, asserted at
    /root/reference/cfht2caom2/tests/test_composable.py:187-190."""
    stats = q_text_stats(spark, sf_dir)
    return (
        stats.select(F.explode(_doc_rules_array()).alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


Q_RULE_REPORT_SQL = f"""
WITH s AS ({Q_TEXT_STATS_SQL.strip()}),
r AS (
  SELECT doc_id,
    list_filter([{_DOC_RULE_CASES}], x -> x IS NOT NULL) AS rules
  FROM s
)
SELECT rule, count(*)::BIGINT AS n_docs
FROM (SELECT unnest(rules) AS rule FROM r)
GROUP BY rule
"""


# --------------------------------------------------------------------------
# A5 — grouped report (documents)
# --------------------------------------------------------------------------

def q_lang_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (F.sum("n_chars").cast("double")
             / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double")).alias("avg_chars"),
        )
    )


Q_LANG_REPORT_SQL = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       sum(n_chars)::DOUBLE / greatest(count(*), 1)::DOUBLE AS avg_chars
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------
# token counting (documents)
# --------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TK.ws_token_count(F.col("text")).alias("ws_tokens"),
        TK.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


Q_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
  len({_TOKS})::BIGINT AS ws_tokens,
  len(regexp_extract_all(text, '{TK.BPE_ISH_PATTERN}'))::BIGINT AS bpe_ish_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# fingerprints (documents)
# --------------------------------------------------------------------------

def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TK.md5_fingerprint(F.col("text")).alias("md5_fp"),
        TK.rolling_hash(F.col("text")).alias("rolling_fp"),
    )


Q_FINGERPRINT_SQL = r"""
SELECT doc_id,
  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS md5_fp,
  list_reduce(
    list_transform(generate_series(1, length(text)),
                   i -> ascii(substring(text, i, 1))::BIGINT),
    (a, b) -> (a * 31 + b) % 1000000007
  ) AS rolling_fp
FROM documents
"""


# --------------------------------------------------------------------------
# P10 — PII scrub chain (documents + synthesized PII suffix)
# --------------------------------------------------------------------------

_PII_SUFFIX = (" contact user{ID}@example.com or +1 555-123-4567"
               " ssn 123-45-6789 host 10.1.2.3")


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_wide(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-123-4567 ssn 123-45-6789 host 10.1.2.3"),
    )
    return docs.select("doc_id", scrubbed(pii_text).alias("scrubbed"))


def _scrub_sql_chain(col: str) -> str:
    from ..config import PII_PATTERNS
    out = col
    for _rule, pattern, repl in PII_PATTERNS:
        sql_pat = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}', 'g')"
    return out


Q_SCRUB_PII_SQL = f"""
SELECT doc_id,
  {_scrub_sql_chain("text || ' contact user' || doc_id::VARCHAR || "
                    "'@example.com or +1 555-123-4567 ssn 123-45-6789 host 10.1.2.3'")}
  AS scrubbed
FROM documents
"""


# --------------------------------------------------------------------------
# dedup: exact groups + first-wins (documents)
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(TK.md5_fingerprint(F.col("text")).alias("md5_fp"))
        .agg(F.min("doc_id").alias("keeper_id"),
             F.count(F.lit(1)).alias("n_dups"))
    )


Q_DEDUP_EXACT_SQL = r"""
SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS md5_fp,
       min(doc_id) AS keeper_id, count(*)::BIGINT AS n_dups
FROM documents GROUP BY 1
"""


def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(TK.md5_fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "source")
    )


Q_DEDUP_FIRST_WINS_SQL = r"""
SELECT doc_id, lang, source FROM documents
QUALIFY row_number() OVER (
  PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
  ORDER BY doc_id) = 1
"""


# --------------------------------------------------------------------------
# J8a — exact n-gram Jaccard similarity pairs (documents, same source)
# --------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.35


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFICATION BASELINE, not a production path: all-pairs self-join,
    O(n²) per source group — run only at small SF to cross-check MinHash
    recall.  The scale path is q_minhash_pairs / minhash_losers_from_sig."""
    docs = _t_wide(spark, sf_dir, "documents").select(
        "doc_id", "source", word_shingles(F.col("text"), 3).alias("_sh")
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = (
        a.join(b, (F.col("a.source") == F.col("b.source"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .withColumn("_i", F.size(F.array_intersect("a._sh", "b._sh")).cast("double"))
        .withColumn("_u", F.size(F.array_union("a._sh", "b._sh")).cast("double"))
        .withColumn("jaccard", F.col("_i") / F.greatest(F.col("_u"), F.lit(1.0)))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return pairs.select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
        F.col("jaccard"),
    )


Q_JACCARD_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, source, {_shingles_sql(_LTOKS, 3)} AS sh FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  len(list_intersect(a.sh, b.sh))::DOUBLE
    / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)::DOUBLE
  AS jaccard
FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
    / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)::DOUBLE
  >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# J8b — MinHash LSH candidate pairs (documents)
# --------------------------------------------------------------------------

MH_BANDS, MH_ROWS = 8, 2


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t_wide(spark, sf_dir, "documents")
    # oracle parity needs the md5-derived hash (DuckDB has no crc32)
    return lsh_candidate_pairs(docs, "doc_id", "text",
                               bands=MH_BANDS, rows_per_band=MH_ROWS, k=3,
                               hash_fn=shingle_hash)


def _minhash_sql() -> str:
    perms = _perm_params(MH_BANDS * MH_ROWS)
    mh_exprs = ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * {_SHINGLE_HASH.format(s='s')} + {b})"
        f" % {MERSENNE_31}))"
        for a, b in perms
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_shingles_sql(_LTOKS, 3)} AS sh FROM documents
),
sig AS (
  SELECT doc_id, [{mh_exprs}] AS s FROM t
),
banded AS (
  SELECT doc_id, b,
         s[{MH_ROWS}*b + 1]::VARCHAR || '_' || s[{MH_ROWS}*b + 2]::VARCHAR AS key
  FROM sig, UNNEST(generate_series(0, {MH_BANDS - 1})) AS u(b)
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM banded l JOIN banded r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
"""


Q_MINHASH_PAIRS_SQL = _minhash_sql()


# --------------------------------------------------------------------------
# J8c — transitive-closure cluster labels over the candidate pairs
# --------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction connected components over the MinHash pair graph:
    every doc in a near-dup cluster gets the cluster's min doc_id as its
    label.  Reference analogue: multi-record merge groups
    (/root/reference/cfht2caom2/tests/test_multi_plane.py:85-116)."""
    from ..operators.dedup import connected_components

    pairs = q_minhash_pairs(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component"))


Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({Q_MINHASH_PAIRS_SQL.strip()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lbl)::BIGINT AS component
FROM reach GROUP BY node
"""


# --------------------------------------------------------------------------
# SimHash fingerprints (documents)
# --------------------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash of each doc's distinct lower-cased words
    (``kernels.simhash_words``) through the SimHash frame
    ``simhash_pairs`` signs with; NULL text signs as NULL."""
    from ..functions.kernels import simhash_words
    from ..operators.dedup import simhash_frame

    docs = _t_wide(spark, sf_dir, "documents")
    return simhash_frame(docs, "doc_id", "text",
                         lambda t: simhash_words(t, 16), None).select(
        F.col("_id").alias("doc_id"), F.col("_sh").alias("simhash16"))


def _simhash_cte(bits: int, out_col: str) -> str:
    """DuckDB twin of ``kernels.simhash_words`` at ``bits`` — CTE chain
    ending in sh(doc_id, {out_col})."""
    return f"""w AS (
  SELECT doc_id, unnest(list_distinct({_LTOKS})) AS tok FROM documents
),
h AS (
  SELECT doc_id, {_SHINGLE_HASH.format(s='tok')} AS hh FROM w
),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, UNNEST(generate_series(0, {bits - 1})) AS u(b)
  GROUP BY doc_id, b
),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT
           AS {out_col}
  FROM bits GROUP BY doc_id
)"""


Q_SIMHASH_SQL = f"""
WITH {_simhash_cte(16, "simhash16")}
SELECT doc_id, simhash16 FROM sh
"""


# --------------------------------------------------------------------------
# SimHash banded Hamming near-dup pairs (documents)
# --------------------------------------------------------------------------

SH_BITS, SH_BANDS, SH_MAX_HAMMING = 60, 4, 3


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — banded LSH join with
    EXACT recall at hamming <= n_bands-1 (pigeonhole), so the brute-force
    all-pairs oracle matches row-for-row.  60-bit shingle simhash: on this
    corpus real near-dups sit at hamming 1-7 with the random background at
    15+, so the <=3 cut is a clean separator."""
    from ..operators.dedup import simhash_pairs

    docs = _t_wide(spark, sf_dir, "documents")
    return simhash_pairs(docs, bits=SH_BITS, n_bands=SH_BANDS,
                         max_hamming=SH_MAX_HAMMING)


def _simhash60_shingle_cte() -> str:
    """DuckDB twin of ``kernels.simhash60`` at bits=60, k=3: CTE chain
    ending in sh(doc_id, s60)."""
    return f"""t AS (
  SELECT doc_id, {_shingles_sql(_LTOKS, 3)} AS shl FROM documents
),
feat AS (SELECT doc_id, unnest(shl) AS s FROM t),
hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS v FROM feat),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
  FROM hh, UNNEST(generate_series(0, {SH_BITS - 1})) AS u(b)
  GROUP BY doc_id, b
),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN sgn > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS s60
  FROM bits GROUP BY doc_id
)"""


Q_SIMHASH_PAIRS_SQL = f"""
WITH {_simhash60_shingle_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.s60, b.s60))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s60, b.s60)) <= {SH_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
# similarity search (embeddings)
# --------------------------------------------------------------------------

TOPK_K, TOPK_NQUERIES = 10, 5


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFICATION BASELINE, not a production path: brute-force cosine over
    every (query, vector) pair — run only at small SF to cross-check ANN
    ranking.  The scale path is q_ann_lsh."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQUERIES)
    return SIM.cosine_topk(emb, queries, k=TOPK_K).select(
        "query_id", "vec_id", "rank"
    )


Q_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {TOPK_NQUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[])
      / greatest(sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
               * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])),
               1e-12) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-cell LSH top-k (operators/similarity.py::lsh_ann): candidates
    restricted to the query's 8-plane sign bucket, ranked by cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQUERIES)
    return SIM.lsh_ann(emb, queries, k=TOPK_K, n_planes=8).select(
        "query_id", "vec_id", "rank"
    )


_BUCKET_SQL = ("(" + " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
    for i in range(8)) + ")")

Q_ANN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
      WHERE vec_id < {TOPK_NQUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[])
      / greatest(sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
               * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])),
               1e-12) AS cos
  FROM b e JOIN q ON e.bucket = q.bucket
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


EMB_DEDUP_THRESHOLD = 0.35


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.embedding_neardup_losers(
        emb, threshold=EMB_DEDUP_THRESHOLD, n_planes=8)


Q_EMBEDDING_NEARDUP_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
),
pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
    list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
      / greatest(sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
               * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[])),
               1e-12) AS cos
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT DISTINCT id_b AS loser_id FROM pairs WHERE cos >= {EMB_DEDUP_THRESHOLD}
"""


def q_semantic_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster dedup over embeddings: connected components of the
    cosine near-dup graph, keep the min-id representative per cluster; one
    row per vector (singletons keep themselves)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.semantic_keep_one(
        emb, threshold=EMB_DEDUP_THRESHOLD, n_planes=8)


Q_SEMANTIC_KEEP_ONE_SQL = f"""
WITH RECURSIVE b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
),
pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
    list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
      / greatest(sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
               * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[])),
               1e-12) AS cos
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
),
p2 AS (SELECT id_a, id_b FROM pairs WHERE cos >= {EMB_DEDUP_THRESHOLD}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p2
  UNION
  SELECT id_b AS src, id_a AS dst FROM p2
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
SELECT e.vec_id,
       coalesce(c.component, e.vec_id)::BIGINT AS cluster,
       (coalesce(c.component, e.vec_id) = e.vec_id) AS is_kept
FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
"""


# --------------------------------------------------------------------------
# relational operator checks (TPC-H-ish tables)
# --------------------------------------------------------------------------

def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("bigint")


def q_pricing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial+final hash agg; exact integer-cent arithmetic
    so float summation order can't diverge from the oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp_ntz")
    )
    disc_bp = F.round(F.col("l_discount") * 10000).cast("bigint")
    revenue_e6 = (_cents("l_extendedprice") * (F.lit(10000) - disc_bp))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_price_cents"),
            F.sum(revenue_e6).alias("sum_disc_price_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q_PRICING_REPORT_SQL = """
SELECT l_returnflag, l_linestatus,
  sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
  sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_base_price_cents,
  sum(round(l_extendedprice * 100)::BIGINT
      * (10000 - round(l_discount * 10000)::BIGINT))::BIGINT AS sum_disc_price_e6,
  count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 shape: fact scan + broadcast dimension joins (customer->nation
    ->region are the small sides; Spark broadcasts them)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    disc_bp = F.round(F.col("l_discount") * 10000).cast("bigint")
    revenue_e6 = _cents("l_extendedprice") * (F.lit(10000) - disc_bp)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(revenue_e6).alias("revenue_e6"),
             F.count(F.lit(1)).alias("n_items"))
    )


Q_REVENUE_BY_NATION_SQL = """
SELECT r_name, n_name,
  sum(round(l_extendedprice * 100)::BIGINT
      * (10000 - round(l_discount * 10000)::BIGINT))::BIGINT AS revenue_e6,
  count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_window_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4-J6 shape: null backfill from group siblings via ignorenulls window.
    'error' events have their value masked, then recovered from the first
    non-masked event of the same user (deterministic total order)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "masked", F.when(F.col("event_type") != "error", F.col("value"))
    )
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return ev.select(
        "event_id", "user_id",
        F.coalesce(F.col("masked"),
                   F.first("masked", ignorenulls=True).over(w)).alias("value_filled"),
    )


Q_WINDOW_BACKFILL_SQL = """
WITH m AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type <> 'error' THEN value END AS masked
  FROM events
)
SELECT event_id, user_id,
  coalesce(masked, first_value(masked IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS value_filled
FROM m
"""


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 shape: left anti join — events of users who never purchased."""
    ev = _t(spark, sf_dir, "events")
    done = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        ev.join(done, "user_id", "left_anti")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    )


Q_ANTI_JOIN_RESUME_SQL = """
SELECT user_id, count(*)::BIGINT AS n_events FROM events e
WHERE NOT EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase' AND p.user_id = e.user_id)
GROUP BY user_id
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 shape: left semi join — orders having any high-quantity line."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


Q_SEMI_JOIN_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
"""


def q_incremental_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 shape: time-boxed increment (predicate on the partition-time column)
    + tumbling daily rollup."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-03").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-06").cast("timestamp_ntz"))
    )
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"))
    )


Q_INCREMENTAL_WINDOW_SQL = """
SELECT date_trunc('day', ts) AS day, event_type,
       count(*)::BIGINT AS n_events,
       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
FROM events
WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-06'
GROUP BY 1, 2
"""


def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort+limit top-k with a deterministic tiebreak."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_cents"))
        .orderBy(F.col("total_cents").desc(), F.col("user_id"))
        .limit(10)
    )


Q_TOPK_USERS_SQL = """
SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS total_cents
FROM events GROUP BY user_id
ORDER BY total_cents DESC, user_id LIMIT 10
"""


def q_merge_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 shape: MERGE/upsert — later event wins per (user_id, event_type)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


Q_MERGE_LAST_WINS_SQL = """
SELECT user_id, event_type, event_id, value FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
"""


# --------------------------------------------------------------------------
# P7 — SQL-expressible language-marker heuristic (documents)
# --------------------------------------------------------------------------

_LANGS_SQL = ("en", "fr", "de", "es")


def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword argmax (deterministic tie-break: hit count desc, lang
    asc; zero hits -> 'und').  The production trigram model lives in
    functions/langid.py; this is its SQL-checkable little sibling."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = TK.word_tokens(F.col("text"))
    docs = docs.withColumn("_toks", toks)

    def in_sw(lg: str):
        # single-arg lambda (F.filter dispatches on lambda arity)
        return lambda t: F.lower(t).isin(*STOPWORDS[lg])

    hits = {
        lg: F.size(F.filter(F.col("_toks"), in_sw(lg))) for lg in _LANGS_SQL
    }
    best = F.lit("und")
    best_hits = F.lit(0)
    for lg in _LANGS_SQL:  # iterate asc; strict > keeps the earlier lang on tie
        cond = hits[lg] > best_hits
        best = F.when(cond, F.lit(lg)).otherwise(best)
        best_hits = F.when(cond, hits[lg]).otherwise(best_hits)
    return docs.select("doc_id", best.alias("lang_pred"),
                       best_hits.cast("bigint").alias("marker_hits"))


def _langid_sql() -> str:
    hit_exprs = ", ".join(
        "len(list_filter(toks, x -> lower(x) IN ({})))::BIGINT AS h_{}".format(
            ",".join(f"'{w}'" for w in STOPWORDS[lg]), lg)
        for lg in _LANGS_SQL
    )
    # replicate the Spark fold procedurally via nested CASE
    fold_lang, fold_hits = "'und'", "0"
    for lg in _LANGS_SQL:
        fold_lang = f"CASE WHEN h_{lg} > {fold_hits} THEN '{lg}' ELSE {fold_lang} END"
        fold_hits = f"CASE WHEN h_{lg} > {fold_hits} THEN h_{lg} ELSE {fold_hits} END"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {hit_exprs} FROM t)
SELECT doc_id, {fold_lang} AS lang_pred, ({fold_hits})::BIGINT AS marker_hits
FROM h
"""


Q_LANGID_HEURISTIC_SQL = _langid_sql()


# --------------------------------------------------------------------------
# J4-analogue — per-group consensus (documents: source plays the host role)
# --------------------------------------------------------------------------

def q_source_lang_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority lang per source via the skew-aware two-phase aggregation
    (operators/hostnorm.py pattern): partial counts on a salted key, final
    merge, deterministic winner (count desc, lang asc)."""
    docs = _t(spark, sf_dir, "documents")
    partial = docs.select(
        "source", (F.col("doc_id") % 16).alias("_salt"), "lang"
    ).groupBy("source", "_salt", "lang").agg(F.count(F.lit(1)).alias("_c"))
    totals = partial.groupBy("source", "lang").agg(
        F.sum("_c").cast("bigint").alias("n_votes"))
    w = Window.partitionBy("source").orderBy(
        F.col("n_votes").desc(), F.col("lang"))
    return (
        totals.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("source", F.col("lang").alias("consensus_lang"), "n_votes")
    )


Q_SOURCE_LANG_CONSENSUS_SQL = """
WITH t AS (
  SELECT source, lang, count(*)::BIGINT AS n_votes
  FROM documents GROUP BY source, lang
)
SELECT source, lang AS consensus_lang, n_votes FROM t
QUALIFY row_number() OVER (PARTITION BY source
                           ORDER BY n_votes DESC, lang) = 1
"""


# --------------------------------------------------------------------------
# grouping sets — CUBE report (documents)
# --------------------------------------------------------------------------

def q_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("total_chars"))
    )


Q_CUBE_REPORT_SQL = """
SELECT lang, source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY CUBE (lang, source)
"""


# --------------------------------------------------------------------------
# Cross-document boilerplate line removal (documents)
# --------------------------------------------------------------------------

BOILERPLATE_MIN_DF = 3


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb line-level dedup: strip lines occurring verbatim in
    >= 3 distinct docs (template boilerplate) — corpus-level state, unlike
    the within-doc repeated_line_frac stat."""
    from ..operators.boilerplate import remove_boilerplate_lines

    docs = _t_wide(spark, sf_dir, "documents")
    return remove_boilerplate_lines(docs, min_doc_freq=BOILERPLATE_MIN_DF)


Q_BOILERPLATE_LINES_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
),
l AS (
  SELECT doc_id, i AS pos, ls[i] AS line
  FROM d, UNNEST(generate_series(1, len(ls))) AS u(i)
),
b AS (
  SELECT trim(line) AS nline FROM l WHERE trim(line) <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {BOILERPLATE_MIN_DF}
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
FROM l
WHERE trim(line) NOT IN (SELECT nline FROM b)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# End-to-end ORACLE-CHECKED pipeline sibling (documents)
# --------------------------------------------------------------------------

def q_pipeline_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every flagship stage EXCEPT the model UDFs, composed into one
    hash-checked query: stats -> heuristic rules -> keep -> scrub (kept docs
    only) -> exact-dup first-wins canonical flag.  The flagship itself gets
    only a rows-only driver check (langid/perplexity have no SQL
    equivalent); this sibling closes that gap with a full value-hash check
    of the composed pipeline semantics."""
    from ..functions.tokens import md5_fingerprint

    stats = Q.with_quality_stats(_t_wide(spark, sf_dir, "documents"),
                                 text_col="text").select(
        "doc_id", "text", *_SCORE_STATS)
    w = Window.partitionBy(md5_fingerprint(F.col("text"))).orderBy("doc_id")
    out = (
        stats.withColumn("_rules", _doc_rules_array())
        .withColumn("keep", F.size("_rules") == 0)
        .withColumn("is_canonical", F.row_number().over(w) == 1)
    )
    return out.select(
        "doc_id",
        F.array_join("_rules", ",").alias("rules_str"),
        "keep",
        F.when(F.col("keep"), scrubbed(F.col("text"))).alias("scrubbed_text"),
        "is_canonical",
    )


def _pipeline_heuristic_sql() -> str:
    return f"""
WITH t AS ({_STATS_CTE_SQL.strip()}
),
s AS (
  SELECT doc_id, text,
{_STATS_EXPRS_SQL.strip()}
  FROM t
),
r AS (
  SELECT doc_id, text,
    list_sort(list_filter([{_DOC_RULE_CASES}], x -> x IS NOT NULL)) AS rules
  FROM s
)
SELECT doc_id,
  coalesce(array_to_string(rules, ','), '') AS rules_str,
  coalesce(len(rules), 0) = 0 AS keep,
  CASE WHEN coalesce(len(rules), 0) = 0
       THEN {_scrub_sql_chain('text')} END AS scrubbed_text,
  (row_number() OVER (
     PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
     ORDER BY doc_id) = 1) AS is_canonical
FROM r
"""


Q_PIPELINE_HEURISTIC_SQL = _pipeline_heuristic_sql()


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    "q_text_stats": q_text_stats,
    "q_quality_decision": q_quality_decision,
    "q_lang_report": q_lang_report,
    "q_token_count": q_token_count,
    "q_fingerprint": q_fingerprint,
    "q_scrub_pii": q_scrub_pii,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_first_wins": q_dedup_first_wins,
    "q_jaccard_pairs": q_jaccard_pairs,
    "q_minhash_pairs": q_minhash_pairs,
    "q_simhash": q_simhash,
    "q_simhash_pairs": q_simhash_pairs,
    "q_cosine_topk": q_cosine_topk,
    "q_ann_lsh": q_ann_lsh,
    "q_embedding_neardup": q_embedding_neardup,
    "q_semantic_keep_one": q_semantic_keep_one,
    "q_source_lang_consensus": q_source_lang_consensus,
    "q_cube_report": q_cube_report,
    "q_pricing_report": q_pricing_report,
    "q_revenue_by_nation": q_revenue_by_nation,
    "q_window_backfill": q_window_backfill,
    "q_anti_join_resume": q_anti_join_resume,
    "q_semi_join": q_semi_join,
    "q_incremental_window": q_incremental_window,
    "q_topk_users": q_topk_users,
    "q_merge_last_wins": q_merge_last_wins,
    "q_langid_heuristic": q_langid_heuristic,
    "q_rule_report": q_rule_report,
    "q_dedup_clusters": q_dedup_clusters,
    "q_preview_stats": q_preview_stats,
    "q_repetition_stats": q_repetition_stats,
    "q_pipeline_heuristic": q_pipeline_heuristic,
    "q_boilerplate_lines": q_boilerplate_lines,
}

ORACLES: dict[str, str] = {
    "q_text_stats": Q_TEXT_STATS_SQL,
    "q_quality_decision": Q_QUALITY_DECISION_SQL,
    "q_rule_report": Q_RULE_REPORT_SQL,
    "q_preview_stats": Q_PREVIEW_STATS_SQL,
    "q_repetition_stats": Q_REPETITION_STATS_SQL,
    "q_pipeline_heuristic": Q_PIPELINE_HEURISTIC_SQL,
    "q_boilerplate_lines": Q_BOILERPLATE_LINES_SQL,
    "q_lang_report": Q_LANG_REPORT_SQL,
    "q_token_count": Q_TOKEN_COUNT_SQL,
    "q_fingerprint": Q_FINGERPRINT_SQL,
    "q_scrub_pii": Q_SCRUB_PII_SQL,
    "q_dedup_exact": Q_DEDUP_EXACT_SQL,
    "q_dedup_first_wins": Q_DEDUP_FIRST_WINS_SQL,
    "q_jaccard_pairs": Q_JACCARD_PAIRS_SQL,
    "q_minhash_pairs": Q_MINHASH_PAIRS_SQL,
    "q_dedup_clusters": Q_DEDUP_CLUSTERS_SQL,
    "q_simhash": Q_SIMHASH_SQL,
    "q_simhash_pairs": Q_SIMHASH_PAIRS_SQL,
    "q_cosine_topk": Q_COSINE_TOPK_SQL,
    "q_ann_lsh": Q_ANN_LSH_SQL,
    "q_embedding_neardup": Q_EMBEDDING_NEARDUP_SQL,
    "q_semantic_keep_one": Q_SEMANTIC_KEEP_ONE_SQL,
    "q_source_lang_consensus": Q_SOURCE_LANG_CONSENSUS_SQL,
    "q_cube_report": Q_CUBE_REPORT_SQL,
    "q_pricing_report": Q_PRICING_REPORT_SQL,
    "q_revenue_by_nation": Q_REVENUE_BY_NATION_SQL,
    "q_window_backfill": Q_WINDOW_BACKFILL_SQL,
    "q_anti_join_resume": Q_ANTI_JOIN_RESUME_SQL,
    "q_semi_join": Q_SEMI_JOIN_SQL,
    "q_incremental_window": Q_INCREMENTAL_WINDOW_SQL,
    "q_topk_users": Q_TOPK_USERS_SQL,
    "q_merge_last_wins": Q_MERGE_LAST_WINS_SQL,
    "q_langid_heuristic": Q_LANGID_HEURISTIC_SQL,
}




# queries with no SQL-expressible oracle (model UDFs / full pipeline):
# the driver records a rows-only check for these.
DOCS_PROFILE = None  # built lazily to avoid import cycles


def _docs_profile():
    """Rule profile calibrated to the testdata documents domain (synthetic
    jargon text: ppl p50≈24.5, lang_conf p50≈0.2 under the web-prose models —
    the same per-domain threshold dispatch the reference does per instrument,
    instruments.py:3578-3655)."""
    global DOCS_PROFILE
    if DOCS_PROFILE is None:
        from ..config import RuleProfile
        DOCS_PROFILE = RuleProfile(
            version="2026.08.1-docs",
            min_words=20,
            max_perplexity=30.0,
            min_lang_conf=0.0,   # disabled: jargon fits no natural-language model
        )
    return DOCS_PROFILE


def q_pipeline_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full quality-filter pipeline over the documents table (pre-extracted
    text -> passthrough branch), minus dedup (covered by q_minhash_pairs)."""
    from .pipeline import build_pipeline

    out = build_pipeline(_flagship_pages(spark, sf_dir), spark,
                         profile=_docs_profile(), dedupe=False,
                         has_html=False)
    # the driver's canonicalizer sorts every output column through pandas,
    # where array cells are unhashable — serialize the rules array for the
    # harness (same pattern as q_quality_decision); build_pipeline's
    # production output keeps the array type.
    return (out.withColumn("rules_str", F.array_join("rules", ","))
            .withColumn("scrub_rules_str", F.array_join("scrub_rules", ","))
            .drop("rules", "scrub_rules"))


class _ConstLangID:
    """Deterministic drop-in for TrigramLangID (MODEL CONTRACT,
    functions/langid.py): every non-empty text is ('en', 1.0).  Lets the
    driver VALUE-HASH the real build_pipeline (q_pipeline_flagship_det) —
    with a constant model the whole flagship output is SQL-expressible."""

    def predict_batch(self, texts):
        texts = list(texts)
        return (["en" if t else "und" for t in texts],
                [1.0 if t else 0.0 for t in texts])


class _ConstLM:
    """Deterministic drop-in for BigramLM (MODEL CONTRACT): ppl = 1.0."""

    def perplexity_batch(self, texts, langs):
        import numpy as np

        return np.array([1.0 if t else float("inf") for t in texts])


def _flagship_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages-shaped input shared by both flagship queries."""
    return _t_wide(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit("2025-06-01").cast("timestamp_ntz")
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _quality_score_sql(weights: dict[str, float] | None = None) -> str:
    """DuckDB twin of functions.quality.quality_score — same literals, same
    left-associated op order, only IEEE-exact ops (+,-,*,/,abs,sqrt), so the
    doubles match Spark's bitwise.  ``weights`` parameterizes the vector the
    same way quality_score(weights=...) does.  Weight literals are emitted
    as STRING casts ('1.23...'::DOUBLE): a bare high-precision literal is a
    DuckDB DECIMAL(>15 digits) whose cast to DOUBLE goes through int128 /
    10^scale and can land 1 ulp off the correctly-rounded decimal parse —
    the string parse is correctly rounded, keeping parity bitwise for ANY
    trained vector."""
    from ..functions.quality import QUALITY_WEIGHTS
    Wf = weights or QUALITY_WEIGHTS
    W = {k: f"'{v!r}'::DOUBLE" for k, v in Wf.items()}
    z = (f"({W['bias']} + {W['sqrt_n_words']} * sqrt(n_words::DOUBLE)"
         f" + {W['stopword_frac']} * stopword_frac"
         f" + {W['alpha_word_frac']} * alpha_word_frac"
         f" + {W['symbol_ratio']} * symbol_ratio"
         f" + {W['repeated_line_frac']} * repeated_line_frac"
         f" + {W['mean_word_len_dev']} * abs(mean_word_len - 5.0))")
    return f"(0.5 + {z} / (2.0 * (1.0 + abs({z}))))"


def _det_pipeline(spark: SparkSession, sf_dir: str,
                  **profile_overrides) -> DataFrame:
    """build_pipeline under the constant models + det profile, projected to
    the SQL-expressible column set — shared by the det flagship and its
    profile variants (span removal etc.)."""
    from dataclasses import replace

    from .pipeline import build_pipeline

    profile = replace(DEFAULT_PROFILE, version="2026.08.1-det",
                      max_perplexity=float("inf"), min_lang_conf=0.0,
                      allowed_langs=("en", "und"), **profile_overrides)
    out = build_pipeline(_flagship_pages(spark, sf_dir), spark,
                         profile=profile, dedupe=False, has_html=False,
                         langid_model=_ConstLangID(), ppl_model=_ConstLM())
    return out.select(
        "url", "extracted_sha256", "n_words", "mean_word_len", "symbol_ratio",
        "stopword_frac", "alpha_word_frac", "repeated_line_frac",
        "repeated_paragraph_frac", "quality_score", "span_removed_tokens",
        F.array_join("rules", ",").alias("rules_str"), "keep",
        F.array_join("scrub_rules", ",").alias("scrub_rules_str"),
        "scrubbed_text",
    )


def q_pipeline_flagship_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL build_pipeline under a constant language model — every output
    column deterministic, so the driver hash-checks the actual flagship plan
    (not a re-composition): extraction passthrough + sha256, heuristic stats,
    the full decision rule set (incl. empty_payload / toxicity / repeated
    lines that q_pipeline_heuristic's reduced set omits), and the kept-only
    scrub artifact.  Complements q_pipeline_flagship, whose trigram/bigram
    model columns have no SQL equivalent (rows-only driver check)."""
    return _det_pipeline(spark, sf_dir)


_DET_RULE_CASES = ", ".join(
    f"CASE WHEN {cond} THEN '{rule}' END" for rule, cond in (
        ("empty_payload", "text IS NULL OR length(text) = 0"),
        ("too_short", "n_words < 50"),
        ("too_long", "n_words > 100000"),
        ("word_len_low", "mean_word_len < 3.0"),
        ("word_len_high", "mean_word_len > 10.0"),
        ("symbol_ratio", "symbol_ratio > 0.10"),
        ("stopword_frac", "stopword_frac < 0.01"),
        ("alpha_frac", "alpha_word_frac < 0.80"),
        ("repeated_lines", "repeated_line_frac > 0.30"),
        ("repeated_paragraphs", "repeated_paragraph_frac > 0.30"),
        ("bullet_lines", "bullet_line_frac > 0.90"),
        ("ellipsis_lines", "ellipsis_line_frac > 0.30"),
        # default min_terminal_punct_line_frac = 0.0: the case is listed so
        # the oracle tracks the full rule surface, but a frac is never < 0
        ("terminal_punct", "terminal_punct_line_frac < 0.0"),
        # min_sentences default 0: listed for surface parity, can't fire
        ("too_few_sentences", "sentence_count < 0"),
        ("lorem_ipsum", "has_lorem_ipsum"),
        ("curly_brace", "has_curly_brace"),
        ("toxicity", "toxicity_hits > 0"),
    )
)


def _scrub_rules_sql(col: str) -> str:
    """DuckDB twin of functions.scrub.scrub_rules_fired: sorted ids of the
    PII patterns matching the text ('' for no match / NULL text)."""
    from ..config import PII_PATTERNS
    cases = ", ".join(
        f"CASE WHEN regexp_matches({col}, '{pat.replace(chr(39), chr(39) * 2)}')"
        f" THEN '{rule}' END"
        for rule, pat, _repl in PII_PATTERNS
    )
    return (f"coalesce(array_to_string(list_sort(list_filter([{cases}],"
            f" x -> x IS NOT NULL)), ','), '')")


def _pipeline_flagship_det_sql(pre_ctes: str = "",
                               base_cte: str | None = None) -> str:
    """The det-flagship oracle, parameterizable so profile variants reuse
    the ONE stats/rules/scrub chain.  ``base_cte`` must yield
    (url, orig_text, text, span_removed_tokens): ``orig_text`` is the
    as-crawled extraction — extracted_sha256 hashes THAT, because the
    pipeline computes the sha in the extraction pass, before any cleaning
    mutates extracted_text — while ``text`` is what stats/rules/scrub
    see.  ``pre_ctes`` (trailing-comma'd) lets a variant prepend e.g. the
    span-scrub chain."""
    from ..config import TOXICITY_WORDS
    tox = ",".join(f"'{w}'" for w in TOXICITY_WORDS)
    if base_cte is None:
        base_cte = ("SELECT 'doc://' || doc_id::VARCHAR AS url, "
                    "text AS orig_text, text, "
                    "0::BIGINT AS span_removed_tokens FROM documents")
    return f"""
WITH {pre_ctes}base AS (
  {base_cte}
),
t AS (
  SELECT url, orig_text, text, span_removed_tokens, {_TOKS} AS toks,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lns,
         list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                     p -> trim(p) <> '') AS prs
  FROM base
),
s AS (
  SELECT url, orig_text, text, span_removed_tokens,
{_STATS_EXPRS_SQL.strip()},
  len(list_filter(toks, x -> lower(x) IN ({tox})))::BIGINT AS toxicity_hits
  FROM t
),
r AS (
  SELECT *,
    list_sort(list_filter([{_DET_RULE_CASES}], x -> x IS NOT NULL)) AS rules
  FROM s
)
SELECT url,
  CASE WHEN orig_text IS NOT NULL THEN sha256(orig_text) END AS extracted_sha256,
  n_words, mean_word_len, symbol_ratio, stopword_frac, alpha_word_frac,
  repeated_line_frac, repeated_paragraph_frac,
  {_quality_score_sql()} AS quality_score,
  span_removed_tokens,
  coalesce(array_to_string(rules, ','), '') AS rules_str,
  coalesce(len(rules), 0) = 0 AS keep,
  {_scrub_rules_sql('text')} AS scrub_rules_str,
  CASE WHEN coalesce(len(rules), 0) = 0
       THEN {_scrub_sql_chain('text')} END AS scrubbed_text
FROM r
"""


Q_PIPELINE_FLAGSHIP_DET_SQL = _pipeline_flagship_det_sql()

# registered here (not in the dict literals above) because the flagship
# section defines these names after the registries
QUERIES["q_pipeline_flagship_det"] = q_pipeline_flagship_det
ORACLES["q_pipeline_flagship_det"] = Q_PIPELINE_FLAGSHIP_DET_SQL


NO_ORACLE_QUERIES: dict[str, QueryFn] = {
    "q_pipeline_flagship": q_pipeline_flagship,
}


# --------------------------------------------------------------------------
# decontamination — benchmark n-gram overlap (operators/decontam.py)
# --------------------------------------------------------------------------

DECONTAM_BENCH_MOD = 97     # doc_id % 97 == 0 -> the synthetic "eval suite"
DECONTAM_K = 3
DECONTAM_MIN_OVERLAP = 5


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing >= 5 distinct word 3-grams with the
    benchmark subset (GPT-3-style decontamination; the benchmark is a
    deterministic slice of the same table, so the slice's own members show
    up fully contaminated — the expected self-overlap signal)."""
    from ..operators.decontam import decontaminate

    docs = _t_wide(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    return decontaminate(docs, bench, id_col="doc_id", text_col="text",
                         k=DECONTAM_K, min_overlap=DECONTAM_MIN_OVERLAP,
                         hash_fn=shingle_hash)


Q_DECONTAMINATE_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform({_shingles_sql(_LTOKS, DECONTAM_K)},
                                      s -> {_SHINGLE_HASH.format(s='s')}))
         AS grams
  FROM documents
),
bg AS (
  SELECT DISTINCT unnest(grams) AS bench_gram FROM g
  WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
),
e AS (SELECT doc_id, unnest(grams) AS gm FROM g),
ov AS (
  SELECT e.doc_id, count(*)::BIGINT AS n_overlap
  FROM e JOIN bg ON e.gm = bg.bench_gram
  GROUP BY e.doc_id
)
SELECT g.doc_id, len(g.grams)::BIGINT AS n_grams,
       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(ov.n_overlap, 0) >= {DECONTAM_MIN_OVERLAP} AS contaminated
FROM g LEFT JOIN ov ON g.doc_id = ov.doc_id
"""


# --------------------------------------------------------------------------
# stratified sampling / data mixing (operators/sampling.py)
# --------------------------------------------------------------------------

MIX_RATES = {"en": 0.6, "fr": 0.35, "de": 0.35, "es": 0.35, "zh": 0.2}
MIX_DEFAULT_RATE = 0.05


def _mix_bucket_sql() -> str:
    return ("(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT"
            " % 1000000)")


def _mix_threshold_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{v}' THEN {int(round(r * 1_000_000))}"
        for v, r in MIX_RATES.items()
    )
    return f"CASE {whens} ELSE {int(round(MIX_DEFAULT_RATE * 1_000_000))} END"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sample — the data-mixing filter.
    Pure map-side predicate (no shuffle); same rows at any parallelism."""
    from ..operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, key_col="doc_id", stratum_col="lang",
        rates=MIX_RATES, default_rate=MIX_DEFAULT_RATE,
    ).select("doc_id", "lang", "source")


Q_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source FROM documents
WHERE {_mix_bucket_sql()} < {_mix_threshold_sql()}
"""


def q_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-mix audit: docs + whitespace tokens per language stratum."""
    from ..operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, key_col="doc_id", stratum_col="lang",
        rates=MIX_RATES, default_rate=MIX_DEFAULT_RATE,
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TK.ws_token_count(F.col("text"))).alias("tokens"),
    )


Q_MIXTURE_REPORT_SQL = f"""
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(len({_TOKS}))::BIGINT AS tokens
FROM documents
WHERE {_mix_bucket_sql()} < {_mix_threshold_sql()}
GROUP BY lang
"""


def q_decontaminate_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of q_decontaminate (crc32 ``shingle_hash_fast``
    instead of the md5-parity hash DuckDB needs): the bench record should
    track the hash that SHIPS, not the oracle's.  No SQL oracle (DuckDB has
    no crc32) — correctness is pinned by pytest equality of the
    (doc_id, contaminated) outcome against the oracle-hash path and by the
    zlib.crc32 golden in tests (hash-agnostic semantics)."""
    from ..operators.decontam import decontaminate
    from ..operators.dedup import shingle_hash_fast

    docs = _t_wide(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    return decontaminate(docs, bench, id_col="doc_id", text_col="text",
                         k=DECONTAM_K, min_overlap=DECONTAM_MIN_OVERLAP,
                         hash_fn=shingle_hash_fast)


def q_dedup_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of q_dedup_clusters (crc32 shingle hash +
    star-contraction CC).  Cluster membership is hash-agnostic up to
    collisions, so pytest checks its components against the oracle-hash
    path; the bench trend line quotes THIS query's cost."""
    from ..operators.dedup import connected_components, shingle_hash_fast

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text",
                                bands=MH_BANDS, rows_per_band=MH_ROWS, k=3,
                                hash_fn=shingle_hash_fast)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component"))


QUERIES["q_decontaminate"] = q_decontaminate
ORACLES["q_decontaminate"] = Q_DECONTAMINATE_SQL
NO_ORACLE_QUERIES["q_decontaminate_fast"] = q_decontaminate_fast
NO_ORACLE_QUERIES["q_dedup_clusters_fast"] = q_dedup_clusters_fast


# --------------------------------------------------------------------------
# fuzzy (MinHash) decontamination — near-dup eval overlap, not just exact
# k-grams (operators/decontam.py::fuzzy_decontaminate)
# --------------------------------------------------------------------------

FUZZY_DECONTAM_MIN_EJ = 0.5   # >= 8 of 16 signature components agree


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs whose MinHash signature band-collides with an
    eval doc and agrees on >= half the components (paraphrase-robust
    two-tier hygiene beside the exact pass q_decontaminate; eval suite =
    the same deterministic doc_id slice, so slice members self-flag at
    est_jaccard 1.0 — the expected signal)."""
    from ..operators.decontam import fuzzy_decontaminate

    docs = _t_wide(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    # md5-derived shingle_hash for oracle parity; production swaps
    # hash_fn=shingle_hash_fast (crc32), same as the dedup family
    return fuzzy_decontaminate(docs, bench, id_col="doc_id", text_col="text",
                               bands=MH_BANDS, rows_per_band=MH_ROWS, k=3,
                               min_est_jaccard=FUZZY_DECONTAM_MIN_EJ,
                               hash_fn=shingle_hash)


def _fuzzy_decontam_sql() -> str:
    np = MH_BANDS * MH_ROWS
    perms = _perm_params(np)
    mh_exprs = ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * {_SHINGLE_HASH.format(s='s')} + {b})"
        f" % {MERSENNE_31}))"
        for a, b in perms
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_shingles_sql(_LTOKS, 3)} AS sh FROM documents
),
sig AS (
  SELECT doc_id, [{mh_exprs}] AS s FROM t
),
banded AS (
  SELECT doc_id, b,
         s[{MH_ROWS}*b + 1]::VARCHAR || '_' || s[{MH_ROWS}*b + 2]::VARCHAR AS key
  FROM sig, UNNEST(generate_series(0, {MH_BANDS - 1})) AS u(b)
),
cand AS (
  SELECT DISTINCT d.doc_id, r.doc_id AS bid
  FROM banded d JOIN banded r ON d.b = r.b AND d.key = r.key
  WHERE r.doc_id % {DECONTAM_BENCH_MOD} = 0
),
scored AS (
  SELECT c.doc_id,
         len(list_filter(generate_series(1, {np}),
                         i -> sd.s[i] = sb.s[i])) / {np}.0 AS ej
  FROM cand c
  JOIN sig sd ON sd.doc_id = c.doc_id
  JOIN sig sb ON sb.doc_id = c.bid
)
SELECT doc_id, count(*)::BIGINT AS n_bench_matches,
       max(ej) AS max_est_jaccard
FROM scored WHERE ej >= {FUZZY_DECONTAM_MIN_EJ} GROUP BY doc_id
"""


QUERIES["q_fuzzy_decontaminate"] = q_fuzzy_decontaminate
ORACLES["q_fuzzy_decontaminate"] = _fuzzy_decontam_sql()


# --------------------------------------------------------------------------
# exact-substring repeated spans (operators/spans.py, ExactSubstr dedup)
# --------------------------------------------------------------------------

SPAN_K = 8            # >= K-token runs count as duplicated (50 at crawl
                      # scale per Lee et al.; 8 so sf0.01 docs exercise it)
SPAN_MIN_COUNT = 2


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span summary per doc: merged >=K-token
    runs occurring more than once anywhere in the corpus.  The operator
    keys windows by xxhash64, as the pipeline's span block does; the
    oracle runs the raw window strings, which give the same rows unless two
    64-bit keys collide."""
    from ..operators.spans import repeated_spans

    docs = _t_wide(spark, sf_dir, "documents")
    return repeated_spans(docs, id_col="doc_id", text_col="text",
                          k=SPAN_K, min_count=SPAN_MIN_COUNT)


def _repeated_spans_sql(k: int, min_count: int) -> str:
    """Oracle template parameterized on (k, min_count) so tests can pin the
    k>12 flat window builder (operators/spans.py) against DuckDB too, not
    just the registry's SPAN_K."""
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                           '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, u.i - 1 AS pos,
         array_to_string(toks[u.i:u.i + {k - 1}], ' ') AS key
  FROM t, UNNEST(generate_series(1, len(toks) - {k - 1})) AS u(i)
  WHERE len(toks) >= {k}
),
dup AS (
  SELECT key FROM w GROUP BY key HAVING count(*) >= {min_count}
),
m AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (key)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       + {k}
              THEN 1 ELSE 0 END AS brk
  FROM m
),
g AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
sp AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {k - 1} AS e
  FROM g GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_spans,
         sum(e - s + 1)::BIGINT AS dup_token_count
  FROM sp GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
       coalesce(agg.n_spans, 0)::BIGINT AS n_spans,
       coalesce(agg.dup_token_count, 0)::BIGINT AS dup_token_count,
       coalesce(agg.dup_token_count, 0)::DOUBLE
         / greatest(len(t.toks), 1)::DOUBLE AS dup_token_frac
FROM t LEFT JOIN agg USING (doc_id)
"""


Q_REPEATED_SPANS_SQL = _repeated_spans_sql(SPAN_K, SPAN_MIN_COUNT)

QUERIES["q_repeated_spans"] = q_repeated_spans
ORACLES["q_repeated_spans"] = Q_REPEATED_SPANS_SQL


def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal with keep-one semantics: the first occurrence of
    each duplicated window (by doc_id, pos) is exempt; later occurrences'
    tokens are stripped and the doc rebuilt from the survivors (original
    text kept byte-identical when nothing is removed)."""
    from ..operators.spans import remove_repeated_spans

    docs = _t_wide(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, id_col="doc_id", text_col="text",
                                 k=SPAN_K, min_count=SPAN_MIN_COUNT)


Q_SPAN_SCRUB_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS ltoks,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '') AS otoks
  FROM documents
),
w AS (
  SELECT doc_id, u.i - 1 AS pos,
         array_to_string(ltoks[u.i:u.i + {SPAN_K - 1}], ' ') AS key
  FROM t, UNNEST(generate_series(1, len(ltoks) - {SPAN_K - 1})) AS u(i)
  WHERE len(ltoks) >= {SPAN_K}
),
s AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY key) AS cnt,
         row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
  FROM w
),
m AS (SELECT doc_id, pos FROM s WHERE cnt >= {SPAN_MIN_COUNT} AND rn > 1),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       + {SPAN_K}
              THEN 1 ELSE 0 END AS brk
  FROM m
),
gi AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
sp AS (
  SELECT doc_id, island, min(pos) AS sp_s, max(pos) + {SPAN_K - 1} AS sp_e
  FROM gi GROUP BY doc_id, island
),
tok AS (
  SELECT t.doc_id, u.i - 1 AS idx, t.otoks[u.i] AS tok
  FROM t, UNNEST(generate_series(1, len(t.otoks))) AS u(i)
),
rem AS (
  SELECT DISTINCT tok.doc_id, tok.idx
  FROM tok JOIN sp ON tok.doc_id = sp.doc_id
                  AND tok.idx BETWEEN sp.sp_s AND sp.sp_e
),
removed AS (SELECT doc_id, count(*)::BIGINT AS n FROM rem GROUP BY doc_id),
keptagg AS (
  SELECT tok.doc_id,
         string_agg(tok.tok, ' ' ORDER BY tok.idx) AS cleaned
  FROM tok ANTI JOIN rem USING (doc_id, idx)
  GROUP BY tok.doc_id
)
SELECT t.doc_id,
  CASE WHEN coalesce(removed.n, 0) = 0 THEN t.text
       ELSE coalesce(keptagg.cleaned, '') END AS cleaned_text,
  coalesce(removed.n, 0)::BIGINT AS removed_token_count
FROM t
LEFT JOIN removed USING (doc_id)
LEFT JOIN keptagg USING (doc_id)
"""

QUERIES["q_span_scrub"] = q_span_scrub
ORACLES["q_span_scrub"] = Q_SPAN_SCRUB_SQL


def q_pipeline_flagship_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The det flagship with span_removal ON (profile span_k=SPAN_K so the
    sf-scale docs exercise it): hash-checks the ACTUAL pipeline span block —
    sha-folded join-back, first-occurrence exemption, stats/rules/scrub over
    the CLEANED text, extracted_sha256 still hashing the as-crawled text,
    and the span_removed_tokens attribution column non-trivially populated
    (the round-4 audit gap: span mutations were invisible in the decisions
    store)."""
    return _det_pipeline(spark, sf_dir, span_removal=True,
                         span_k=SPAN_K, span_min_count=SPAN_MIN_COUNT)


# the span-scrub chain as pre-CTEs feeding the shared det oracle: the
# pipeline's exemption order (_ord=warc_ts, id, pos) collapses to
# (doc_id, pos) here because the flagship synthesizes warc_ts monotone in
# doc_id; the Spark side ships xxhash64 window keys, the oracle raw
# strings — identical output barring a 64-bit collision (~1e-9 here,
# documented in operators/spans.py)
_SPAN_DET_PRE = f"""sd_t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS ltoks,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '') AS otoks
  FROM documents
),
sd_w AS (
  SELECT doc_id, u.i - 1 AS pos,
         array_to_string(ltoks[u.i:u.i + {SPAN_K - 1}], ' ') AS key
  FROM sd_t, UNNEST(generate_series(1, len(ltoks) - {SPAN_K - 1})) AS u(i)
  WHERE len(ltoks) >= {SPAN_K}
),
sd_s AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY key) AS cnt,
         row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
  FROM sd_w
),
sd_m AS (SELECT doc_id, pos FROM sd_s
         WHERE cnt >= {SPAN_MIN_COUNT} AND rn > 1),
sd_isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       + {SPAN_K}
              THEN 1 ELSE 0 END AS brk
  FROM sd_m
),
sd_gi AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM sd_isl
),
sd_sp AS (
  SELECT doc_id, island, min(pos) AS sp_s, max(pos) + {SPAN_K - 1} AS sp_e
  FROM sd_gi GROUP BY doc_id, island
),
sd_tok AS (
  SELECT sd_t.doc_id, u.i - 1 AS idx, sd_t.otoks[u.i] AS tok
  FROM sd_t, UNNEST(generate_series(1, len(sd_t.otoks))) AS u(i)
),
sd_rem AS (
  SELECT DISTINCT sd_tok.doc_id, sd_tok.idx
  FROM sd_tok JOIN sd_sp ON sd_tok.doc_id = sd_sp.doc_id
                        AND sd_tok.idx BETWEEN sd_sp.sp_s AND sd_sp.sp_e
),
sd_removed AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM sd_rem GROUP BY doc_id),
sd_kept AS (
  SELECT sd_tok.doc_id,
         string_agg(sd_tok.tok, ' ' ORDER BY sd_tok.idx) AS cleaned
  FROM sd_tok ANTI JOIN sd_rem USING (doc_id, idx)
  GROUP BY sd_tok.doc_id
),
"""

_SPAN_DET_BASE = """SELECT 'doc://' || sd_t.doc_id::VARCHAR AS url,
         sd_t.text AS orig_text,
         CASE WHEN coalesce(sd_removed.n, 0) = 0 THEN sd_t.text
              ELSE coalesce(sd_kept.cleaned, '') END AS text,
         coalesce(sd_removed.n, 0)::BIGINT AS span_removed_tokens
  FROM sd_t
  LEFT JOIN sd_removed USING (doc_id)
  LEFT JOIN sd_kept USING (doc_id)"""

Q_PIPELINE_FLAGSHIP_SPAN_SQL = _pipeline_flagship_det_sql(
    pre_ctes=_SPAN_DET_PRE, base_cte=_SPAN_DET_BASE)

QUERIES["q_pipeline_flagship_span"] = q_pipeline_flagship_span
ORACLES["q_pipeline_flagship_span"] = Q_PIPELINE_FLAGSHIP_SPAN_SQL
QUERIES["q_stratified_sample"] = q_stratified_sample
ORACLES["q_stratified_sample"] = Q_STRATIFIED_SAMPLE_SQL
QUERIES["q_mixture_report"] = q_mixture_report
ORACLES["q_mixture_report"] = Q_MIXTURE_REPORT_SQL


# --------------------------------------------------------------------------
# model-based quality score (functions/quality.py::quality_score)
# --------------------------------------------------------------------------

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous quality signal + decile bucket per document — the
    DCLM/FineWeb-style mixing feature (sampling by bucket happens via
    operators/sampling.py)."""
    from ..functions.quality import quality_score

    stats = Q.with_quality_stats(_t_wide(spark, sf_dir, "documents"),
                                 text_col="text").select(
        "doc_id", *_SCORE_STATS)
    scored = stats.withColumn("quality_score", quality_score(
        F.col("n_words"), F.col("mean_word_len"), F.col("symbol_ratio"),
        F.col("stopword_frac"), F.col("alpha_word_frac"),
        F.col("repeated_line_frac")))
    return scored.select(
        "doc_id", "quality_score",
        F.least(F.floor(F.col("quality_score") * 10), F.lit(9))
        .cast("bigint").alias("q_decile"),
    )


Q_QUALITY_SCORE_SQL = f"""
WITH t AS ({_STATS_CTE_SQL.strip()}
),
s AS (
  SELECT doc_id,
{_STATS_EXPRS_SQL.strip()}
  FROM t
),
q AS (
  SELECT doc_id, {_quality_score_sql()} AS quality_score FROM s
)
SELECT doc_id, quality_score,
       least(floor(quality_score * 10), 9)::BIGINT AS q_decile
FROM q
"""

QUERIES["q_quality_score"] = q_quality_score
ORACLES["q_quality_score"] = Q_QUALITY_SCORE_SQL


# A real train_quality_weights output (LR over a 3k-row deterministic synth
# decisions store), frozen so the oracle can carry the same literals.  The
# point of this query is the score/train feature-space CONTRACT: trained
# weights drop into with_quality_score(weights=...) and the parity with the
# identically-parameterized SQL stays bitwise — any drift between
# score_feature_exprs and the trainer's feature projection breaks the hash.
TRAINED_WEIGHTS_FROZEN = {
    "bias": -20.966467171278076,
    "sqrt_n_words": 1.4001651086623486,
    "stopword_frac": 15.815454764711689,
    "alpha_word_frac": 3.394008518826225,
    "symbol_ratio": -59.23422021684087,
    "repeated_line_frac": -50.432374225111225,
    "mean_word_len_dev": -0.305020987288846,
}


def q_quality_score_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_quality_score scored with a TRAINED (non-default) weight vector —
    the --quality-weights CLI path, exercised under the oracle."""
    from ..functions.quality import quality_score

    stats = Q.with_quality_stats(_t_wide(spark, sf_dir, "documents"),
                                 text_col="text").select(
        "doc_id", *_SCORE_STATS)
    scored = stats.withColumn("quality_score", quality_score(
        F.col("n_words"), F.col("mean_word_len"), F.col("symbol_ratio"),
        F.col("stopword_frac"), F.col("alpha_word_frac"),
        F.col("repeated_line_frac"), weights=TRAINED_WEIGHTS_FROZEN))
    return scored.select(
        "doc_id", "quality_score",
        F.least(F.floor(F.col("quality_score") * 10), F.lit(9))
        .cast("bigint").alias("q_decile"),
    )


Q_QUALITY_SCORE_TRAINED_SQL = f"""
WITH t AS ({_STATS_CTE_SQL.strip()}
),
s AS (
  SELECT doc_id,
{_STATS_EXPRS_SQL.strip()}
  FROM t
),
q AS (
  SELECT doc_id,
         {_quality_score_sql(weights=TRAINED_WEIGHTS_FROZEN)} AS quality_score
  FROM s
)
SELECT doc_id, quality_score,
       least(floor(quality_score * 10), 9)::BIGINT AS q_decile
FROM q
"""

QUERIES["q_quality_score_trained"] = q_quality_score_trained
ORACLES["q_quality_score_trained"] = Q_QUALITY_SCORE_TRAINED_SQL


def q_char_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language char-bigram counts over normalized padded text — the
    distributed counting stage of corpus_lm_counts (functions/perplexity.py):
    what the perplexity LM trains on when fit from the corpus itself.  The
    shuffle carries only (lang, bigram) partial counts, bounded by charset²
    regardless of corpus size."""
    from ..functions.perplexity import char_bigram_counts

    docs = _t_wide(spark, sf_dir, "documents")
    return char_bigram_counts(docs, text_col="text", lang_col="lang")


Q_CHAR_BIGRAM_COUNTS_SQL = r"""
WITH t AS (
  SELECT lang,
         ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ' AS n
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
bg AS (
  SELECT lang, substr(n, u.i, 2) AS bigram
  FROM t, UNNEST(generate_series(1, length(n) - 1)) AS u(i)
)
SELECT lang, bigram, count(*)::BIGINT AS n FROM bg GROUP BY lang, bigram
"""

QUERIES["q_char_bigram_counts"] = q_char_bigram_counts
ORACLES["q_char_bigram_counts"] = Q_CHAR_BIGRAM_COUNTS_SQL


# --------------------------------------------------------------------------
# corpus bigram counts — LM-training statistics (CCNet trains its filter LM
# on corpus text; this is the count-collection pass that feeds it)
# --------------------------------------------------------------------------

BIGRAM_TOP_K = 20


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram occurrence counts, top-20 per language with a
    deterministic tie-break.  The aggregation is the classic map-side-
    combined wordcount (one shuffle on (lang, bigram)); the top-k window
    runs over the already-aggregated counts.  At crawl scale the count
    table is vocab^2-sized — production prunes with a count threshold
    (HAVING n >= K) before any window; the top-k here is report-sized."""
    docs = _t_wide(spark, sf_dir, "documents")
    docs = docs.withColumn("_toks", TK.word_tokens(F.lower(F.col("text"))))
    counts = (
        docs.select("lang",
                    F.explode(TK.word_ngrams(F.col("_toks"), 2))
                    .alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= BIGRAM_TOP_K).drop("_rn"))


Q_BIGRAM_COUNTS_SQL = f"""
WITH t AS (
  SELECT lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
b AS (
  SELECT lang,
         unnest(CASE WHEN len(toks) >= 2 THEN
                  list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1])
                ELSE []::VARCHAR[] END) AS bigram
  FROM t
),
c AS (SELECT lang, bigram, count(*)::BIGINT AS n FROM b GROUP BY 1, 2)
SELECT lang, bigram, n FROM c
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram)
        <= {BIGRAM_TOP_K}
"""

QUERIES["q_bigram_counts"] = q_bigram_counts
ORACLES["q_bigram_counts"] = Q_BIGRAM_COUNTS_SQL


# --------------------------------------------------------------------------
# corpus vocabulary counts — the tokenizer-training feed
# --------------------------------------------------------------------------

VOCAB_MIN_COUNT = 5     # the HAVING prune: singleton/typo tail never leaves
VOCAB_TOP_K = 50        # the map-side combine (report-sized here)


def q_vocab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram vocabulary with counts — what a BPE/unigram tokenizer
    trains from.  Map-side-combined wordcount (ONE shuffle on the token),
    with the count-threshold prune applied IN the aggregation (HAVING
    n >= K) so the unbounded singleton tail — most of a crawl's distinct
    tokens — never reaches the top-k window; deterministic tie-break."""
    docs = _t_wide(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TK.word_tokens(F.lower(F.col("text"))))
                    .alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= VOCAB_MIN_COUNT)
    )
    w = Window.orderBy(F.col("n").desc(), "token")
    return (counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= VOCAB_TOP_K).drop("_rn"))


Q_VOCAB_COUNTS_SQL = f"""
WITH t AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents
),
c AS (
  SELECT token, count(*)::BIGINT AS n FROM t
  GROUP BY token HAVING count(*) >= {VOCAB_MIN_COUNT}
)
SELECT token, n FROM c
QUALIFY row_number() OVER (ORDER BY n DESC, token) <= {VOCAB_TOP_K}
"""

QUERIES["q_vocab_counts"] = q_vocab_counts
ORACLES["q_vocab_counts"] = Q_VOCAB_COUNTS_SQL


# --------------------------------------------------------------------------
# URL canonicalization — crawl identity before any dedup (P-series)
# --------------------------------------------------------------------------

def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical crawl identity: synthesized campaign-style URLs (UTM
    params, click ids, fragments, trailing slashes — derived
    deterministically per doc) collapse to their canonical form via
    functions.identity.canonical_url; identical regexp chain in DuckDB."""
    from ..functions.identity import canonical_url, host

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://s"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/art/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("/?utm_source=feed&utm_campaign=c"),
                        (F.col("doc_id") % 5).cast("string"),
                        F.lit("&page=2")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("?gclid=g"), F.col("doc_id").cast("string"),
                       F.lit("#section-3")))
        .otherwise(F.lit("/")),
    )
    return docs.select(
        "doc_id", url.alias("url"),
        canonical_url(url).alias("canonical"),
        host(url).alias("host"),
    )


def _canonical_sql(col: str) -> str:
    """DuckDB twin of identity.canonical_url — the SAME decomposition
    (first-'?' split, param-list filter, path-slash normalize), not a
    regex-chain approximation."""
    from ..functions.identity import TRACKING_PARAMS
    tracking = "|".join(TRACKING_PARAMS)
    nf = f"regexp_replace({col}, '#.*$', '')"
    base = (f"regexp_replace(regexp_replace({nf}, '\\?.*$', ''),"
            f" '(//[^/]+/.+?)/$', '\\1')")
    query = (f"CASE WHEN strpos({nf}, '?') > 0"
             f" THEN substr({nf}, strpos({nf}, '?') + 1) ELSE '' END")
    kept = (f"list_filter(string_split({query}, '&'),"
            f" kv -> kv <> '' AND NOT regexp_matches(kv,"
            f" '^(?:{tracking})='))")
    return (f"CASE WHEN len({kept}) > 0"
            f" THEN {base} || '?' || array_to_string({kept}, '&')"
            f" ELSE {base} END")


Q_URL_CANONICAL_SQL = f"""
WITH u AS (
  SELECT doc_id,
    'https://s' || (doc_id % 7)::VARCHAR || '.example.org/art/'
      || doc_id::VARCHAR ||
    CASE WHEN doc_id % 3 = 0 THEN
           '/?utm_source=feed&utm_campaign=c' || (doc_id % 5)::VARCHAR
           || '&page=2'
         WHEN doc_id % 3 = 1 THEN
           '?gclid=g' || doc_id::VARCHAR || '#section-3'
         ELSE '/' END AS url
  FROM documents
)
SELECT doc_id, url,
  {_canonical_sql('url')} AS canonical,
  's' || ((doc_id % 7))::VARCHAR || '.example.org' AS host
FROM u
"""

QUERIES["q_url_canonical"] = q_url_canonical
ORACLES["q_url_canonical"] = Q_URL_CANONICAL_SQL


# --------------------------------------------------------------------------
# DSIR importance resampling — training-data selection (operators/dsir.py)
# --------------------------------------------------------------------------

DSIR_MIN_COUNT = 3      # string-mode vocab prune (raw count >= K)
DSIR_TOP_K = 100        # selection size for q_dsir_sample
DSIR_NMAX = 2           # word 1- and 2-gram features


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every document scored by
    the algebraic likelihood contrast of its word 1-2-gram bag under the
    target domain (lang='en' — the "looks like Wikipedia" stand-in) vs the
    raw corpus.  Fixed-point BIGINT feature weights keep the per-doc sum
    exact so the DuckDB parity is bitwise (module docstring has the full
    rationale)."""
    from ..operators.dsir import importance_weights

    docs = _t_wide(spark, sf_dir, "documents")
    return importance_weights(docs, F.col("lang") == "en",
                              id_col="doc_id", text_col="text",
                              n_max=DSIR_NMAX, min_count=DSIR_MIN_COUNT)


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DSIR selection: the DSIR_TOP_K highest-importance docs
    (density desc, doc_id tie-break) — the admit-the-top-slice step."""
    from ..operators.dsir import importance_weights, select_top_k

    docs = _t_wide(spark, sf_dir, "documents")
    w = importance_weights(docs, F.col("lang") == "en",
                           id_col="doc_id", text_col="text",
                           n_max=DSIR_NMAX, min_count=DSIR_MIN_COUNT)
    return select_top_k(w, DSIR_TOP_K)


# features = unigrams || bigrams, multiplicity kept (the BAG, not the set)
_DSIR_FEATS_CTE = f"""
  SELECT doc_id, lang = 'en' AS is_target,
         unnest(toks || CASE WHEN len(toks) >= 2 THEN
                  list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1])
                ELSE []::VARCHAR[] END) AS feature
  FROM (SELECT doc_id, lang, {_LTOKS} AS toks FROM documents)
"""

# operation order mirrors operators/dsir.py EXACTLY: every arithmetic step
# is +,-,*,/ on explicitly-cast DOUBLEs (correctly rounded => bitwise equal),
# the per-feature contrast is floored to BIGINT, and the per-doc sum is
# integer — float summation order cannot diverge between engines
_DSIR_WEIGHTS_CTE = f"""
f AS ({_DSIR_FEATS_CTE.strip()}
),
c AS (
  SELECT feature, count(*)::BIGINT AS cr,
         count(*) FILTER (WHERE is_target)::BIGINT AS ct
  FROM f GROUP BY feature HAVING count(*) >= {DSIR_MIN_COUNT}
),
tot AS (
  SELECT sum(ct)::BIGINT AS t_tot, sum(cr)::BIGINT AS r_tot,
         count(*)::BIGINT AS v
  FROM c
),
lam AS (
  SELECT feature,
         floor(
           (((ct + 1)::DOUBLE / (t_tot + 1 * v)::DOUBLE)
            - ((cr + 1)::DOUBLE / (r_tot + 1 * v)::DOUBLE))
           / (((ct + 1)::DOUBLE / (t_tot + 1 * v)::DOUBLE)
              + ((cr + 1)::DOUBLE / (r_tot + 1 * v)::DOUBLE))
           * (1000000)::DOUBLE
         )::BIGINT AS lambda_scaled
  FROM c, tot
),
s AS (
  SELECT doc_id, count(*)::BIGINT AS n_feats,
         sum(coalesce(lambda_scaled, 0))::BIGINT AS importance_scaled
  FROM f LEFT JOIN lam USING (feature)
  GROUP BY doc_id
),
w AS (
  SELECT d.doc_id,
         coalesce(s.n_feats, 0)::BIGINT AS n_feats,
         coalesce(s.importance_scaled, 0)::BIGINT AS importance_scaled,
         coalesce(s.importance_scaled, 0)::DOUBLE
           / ((1000000)::DOUBLE
              * greatest(coalesce(s.n_feats, 0), 1)::DOUBLE) AS importance
  FROM documents d LEFT JOIN s USING (doc_id)
)
"""

Q_DSIR_WEIGHTS_SQL = f"""
WITH {_DSIR_WEIGHTS_CTE.strip()}
SELECT doc_id, n_feats, importance_scaled, importance FROM w
"""

Q_DSIR_SAMPLE_SQL = f"""
WITH {_DSIR_WEIGHTS_CTE.strip()}
SELECT doc_id, importance, importance_scaled FROM w
QUALIFY row_number() OVER (ORDER BY importance DESC, doc_id)
        <= {DSIR_TOP_K}
"""

QUERIES["q_dsir_weights"] = q_dsir_weights
ORACLES["q_dsir_weights"] = Q_DSIR_WEIGHTS_SQL
QUERIES["q_dsir_sample"] = q_dsir_sample
ORACLES["q_dsir_sample"] = Q_DSIR_SAMPLE_SQL


# --------------------------------------------------------------------------
# character-diversity statistics (P11 family; functions/quality.py)
# --------------------------------------------------------------------------

def q_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution quality stats: Simpson concentration (the
    algebraic entropy substitute) + distinct-char fraction, per doc.
    Round 6: computed by the vectorized batch twin
    (quality.char_stats_fast) — the expression folds' generated loop was a
    per-JVM JIT coin flip (1.5 s or 6.5 s at sf1.0); the Counter path is
    deterministic and exact (integer numerators, one double division each,
    bitwise parity discipline unchanged)."""
    docs = _t_wide(spark, sf_dir, "documents")
    return Q.char_stats_fast(docs, id_col="doc_id", text_col="text")


# DuckDB explodes per-codepoint via substr/generate_series (string_split on
# '' yields [''] for empty text, so it is NOT the right twin); the grouped
# count² sum is integer, matching the Spark fold exactly
Q_CHAR_STATS_SQL = """
WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
e AS (
  SELECT doc_id, substr(text, u.i, 1) AS ch
  FROM t, UNNEST(generate_series(1, n)) AS u(i)
),
c AS (SELECT doc_id, ch, count(*)::BIGINT AS cnt FROM e GROUP BY 1, 2),
s AS (
  SELECT doc_id, sum(cnt * cnt)::BIGINT AS sq, count(*)::BIGINT AS nd
  FROM c GROUP BY doc_id
)
SELECT t.doc_id,
       t.n::BIGINT AS n_chars_text,
       coalesce(s.sq, 0)::BIGINT AS char_sq_sum,
       CASE WHEN t.n <= 0 THEN 0.0
            ELSE s.sq::DOUBLE / (t.n * t.n)::DOUBLE END AS char_simpson,
       CASE WHEN t.n <= 0 THEN 0.0
            ELSE s.nd::DOUBLE / t.n::DOUBLE END AS distinct_char_frac
FROM t LEFT JOIN s USING (doc_id)
"""

QUERIES["q_char_stats"] = q_char_stats
ORACLES["q_char_stats"] = Q_CHAR_STATS_SQL


# --------------------------------------------------------------------------
# BPE tokenizer — train on the corpus, encode every doc (functions/bpe.py)
# --------------------------------------------------------------------------

BPE_N_MERGES = 60
BPE_VOCAB_TOP_K = 2000


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table on the corpus (Sennrich et al. 2016:
    distributed wordcount -> bounded-vocab merge learning) and encode every
    document with it — the tokenizer loop q_vocab_counts feeds, closed.
    No SQL oracle (merge learning and replay are iterative); correctness is
    pinned by pytest equality against an independent merge-replay reference
    over the full sf0.001 table plus the paper's worked example."""
    from ..functions.bpe import train_bpe, with_bpe_tokens

    docs = _t_wide(spark, sf_dir, "documents")
    merges = train_bpe(docs, text_col="text", n_merges=BPE_N_MERGES,
                       vocab_top_k=BPE_VOCAB_TOP_K)
    encoded = with_bpe_tokens(docs, merges, text_col="text")
    return encoded.select(
        "doc_id",
        F.size("bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        F.md5(F.array_join("bpe_tokens", "")).alias("tokens_md5"),
    )


NO_ORACLE_QUERIES["q_bpe_tokens"] = q_bpe_tokens


# --------------------------------------------------------------------------
# line-format gates — Gopher bullet/ellipsis + C4 terminal punctuation
# --------------------------------------------------------------------------

# thresholds chosen so every rule FIRES on part of the synthesized corpus
# (the defaults 0.90/0.30/0.0 would never fire on sentence-shaped testdata)
LINE_BULLET_THR = 0.35
LINE_ELLIPSIS_THR = 0.25
LINE_TERM_THR = 0.30


def _line_format_text() -> F.Column:
    """Deterministic per-doc multi-line text: 10 lines cycling bullet /
    ellipsis / terminated / bare shapes, phase-shifted by doc_id so the
    per-doc fractions vary across the table (same synthesize-the-input
    trick as q_url_canonical)."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda j: F.when((F.col("doc_id") + j) % 4 == 0,
                             F.concat(F.lit("- bullet item "),
                                      j.cast("string")))
            .when((F.col("doc_id") + j) % 4 == 1,
                  F.concat(F.lit("teaser thought "), j.cast("string"),
                           F.lit("...")))
            .when((F.col("doc_id") + j) % 4 == 2,
                  F.concat(F.lit("a proper sentence "), j.cast("string"),
                           F.lit(".")))
            .otherwise(F.concat(F.lit("bare fragment "),
                                j.cast("string")))),
        "\n")


def q_line_format_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three line-format stats + their fired rules over synthesized
    multi-line docs — exercises the Gopher bullet/ellipsis gates and the
    C4 terminal-punct gate with thresholds low enough to actually fire
    (the production defaults sit in RuleProfile)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    docs = docs.withColumn("text", _line_format_text())
    stats = Q.with_quality_stats(docs, text_col="text").select(
        "doc_id", "bullet_line_frac", "ellipsis_line_frac",
        "terminal_punct_line_frac")
    rules = assemble_rules({
        "bullet_lines": F.col("bullet_line_frac") > LINE_BULLET_THR,
        "ellipsis_lines": F.col("ellipsis_line_frac") > LINE_ELLIPSIS_THR,
        "terminal_punct": (F.col("terminal_punct_line_frac")
                           < LINE_TERM_THR),
    })
    return stats.withColumn("rules_str", F.array_join(rules, ","))


Q_LINE_FORMAT_STATS_SQL = f"""
WITH u AS (
  SELECT doc_id,
         array_to_string(list_transform(generate_series(0, 9), j ->
           CASE WHEN (doc_id + j) % 4 = 0 THEN '- bullet item ' || j::VARCHAR
                WHEN (doc_id + j) % 4 = 1
                  THEN 'teaser thought ' || j::VARCHAR || '...'
                WHEN (doc_id + j) % 4 = 2
                  THEN 'a proper sentence ' || j::VARCHAR || '.'
                ELSE 'bare fragment ' || j::VARCHAR END),
           chr(10)) AS text
  FROM documents
),
t AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lns
  FROM u
),
s AS (
  SELECT doc_id,
    CASE WHEN len(lns) <= 0 THEN 0.0
         ELSE len(list_filter(lns, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
              / len(lns)::DOUBLE END AS bullet_line_frac,
    CASE WHEN len(lns) <= 0 THEN 0.0
         ELSE len(list_filter(lns,
                  l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
              / len(lns)::DOUBLE END AS ellipsis_line_frac,
    CASE WHEN len(lns) <= 0 THEN 0.0
         ELSE len(list_filter(lns, l -> regexp_matches(l, '[.!?"]\\s*$')))::DOUBLE
              / len(lns)::DOUBLE END AS terminal_punct_line_frac
  FROM t
)
SELECT doc_id, bullet_line_frac, ellipsis_line_frac,
       terminal_punct_line_frac,
       coalesce(array_to_string(list_sort(list_filter([
         CASE WHEN bullet_line_frac > {LINE_BULLET_THR}
              THEN 'bullet_lines' END,
         CASE WHEN ellipsis_line_frac > {LINE_ELLIPSIS_THR}
              THEN 'ellipsis_lines' END,
         CASE WHEN terminal_punct_line_frac < {LINE_TERM_THR}
              THEN 'terminal_punct' END
       ], x -> x IS NOT NULL)), ','), '') AS rules_str
FROM s
"""

QUERIES["q_line_format_stats"] = q_line_format_stats
ORACLES["q_line_format_stats"] = Q_LINE_FORMAT_STATS_SQL


# --------------------------------------------------------------------------
# Gopher dup-ngram ladder — top-{2,3,4}-gram / dup-{5..10}-gram char fracs
# --------------------------------------------------------------------------

# planted repetition: a 5-word phrase appended doc_id % 6 times to a 120-char
# prefix of the real text, so every ladder stat takes a spread of values and
# the published Gopher thresholds genuinely fire on part of the table
_REP_PHRASE = " quick brown fox jumps over"


def q_repetition_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher repetition ladder (Rae et al. 2021 Table A1) with the
    published thresholds: fraction of token chars in the most frequent
    {2,3,4}-gram and in duplicated {5..10}-grams, plus the fired
    dup_top_{n}gram / dup_{n}gram rules.  The stats come from
    quality.with_repetition_ladder, the same one-crossing kernel the
    pipeline runs under profile.gopher_repetition_gates."""
    docs = _t_wide(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 120),
            F.expr(f"repeat('{_REP_PHRASE}', cast(doc_id % 6 as int))"),
        ).alias("text"))
    stats = Q.with_repetition_ladder(docs, text_col="text").select(
        "doc_id", *Q.REP_LADDER_COLS)
    rules = assemble_rules(Q.repetition_ladder_rules(DEFAULT_PROFILE))
    return stats.withColumn("rules_str", F.array_join(rules, ","))


def _ladder_sql() -> str:
    tops = dict(DEFAULT_PROFILE.max_top_ngram_char_frac)
    dups = dict(DEFAULT_PROFILE.max_dup_ngram_char_frac)
    ctes, fracs, cases, joins = [], [], [], []
    for n in sorted(tops) + sorted(dups):
        k = n - 1
        ctes.append(f"""
g{n} AS (
  SELECT doc_id, i, array_to_string(toks[i:i+{k}], ' ') AS gram
  FROM (SELECT doc_id,
               unnest(generate_series(1, greatest(len(toks)-{k}, 0))) AS i,
               toks
        FROM tt))""")
    for n in sorted(tops):
        k = n - 1
        ctes.append(f"""
top{n} AS (
  SELECT doc_id, cnt * (length(gram) - {k}) AS cov
  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g{n} GROUP BY 1, 2)
  QUALIFY row_number() OVER (PARTITION BY doc_id
            ORDER BY cnt DESC, length(gram) - {k} DESC, gram ASC) = 1)""")
        joins.append(f"LEFT JOIN top{n} USING (doc_id)")
        fracs.append(
            f"CASE WHEN total_chars <= 0 THEN 0.0 ELSE "
            f"coalesce(top{n}.cov, 0)::DOUBLE / total_chars::DOUBLE END "
            f"AS top_{n}gram_char_frac")
        cases.append(f"CASE WHEN top_{n}gram_char_frac > {tops[n]} "
                     f"THEN 'dup_top_{n}gram' END")
    for n in sorted(dups):
        k = n - 1
        ctes.append(f"""
d{n} AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, i,
               count(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM g{n})
  WHERE cnt > 1),
cov{n} AS (
  SELECT p.doc_id, sum(length(p.toks[p.j]))::BIGINT AS covered
  FROM pos p
  WHERE EXISTS (SELECT 1 FROM d{n} d
                WHERE d.doc_id = p.doc_id
                  AND d.i BETWEEN p.j - {k} AND p.j)
  GROUP BY 1)""")
        joins.append(f"LEFT JOIN cov{n} USING (doc_id)")
        fracs.append(
            f"CASE WHEN total_chars <= 0 THEN 0.0 ELSE "
            f"coalesce(cov{n}.covered, 0)::DOUBLE / total_chars::DOUBLE END "
            f"AS dup_{n}gram_char_frac")
        cases.append(f"CASE WHEN dup_{n}gram_char_frac > {dups[n]} "
                     f"THEN 'dup_{n}gram' END")
    sep = ",\n    "
    return f"""
WITH base AS (
  SELECT doc_id,
         substr(text, 1, 120)
           || repeat('{_REP_PHRASE}', (doc_id % 6)::INT) AS text
  FROM documents
),
tc AS (SELECT doc_id, {_TOKS} AS toks FROM base),
tt AS (SELECT doc_id, toks,
              coalesce(list_sum(list_transform(toks, x -> length(x))),
                       0)::BIGINT AS total_chars
       FROM tc),
pos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS j, toks
        FROM tt),{",".join(ctes)}
, s AS (
  SELECT tt.doc_id,
    {sep.join(fracs)}
  FROM tt {" ".join(joins)}
)
SELECT doc_id, {", ".join(c.split(" AS ")[-1] for c in fracs)},
  coalesce(array_to_string(list_sort(list_filter([
    {sep.join(cases)}
  ], x -> x IS NOT NULL)), ','), '') AS rules_str
FROM s
"""


QUERIES["q_repetition_ladder"] = q_repetition_ladder
ORACLES["q_repetition_ladder"] = _ladder_sql()


# --------------------------------------------------------------------------
# training-corpus ordering: deterministic global shuffle + fixed-length
# block packing (operators/packing.py)
# --------------------------------------------------------------------------

SHUFFLE_SEED = 7
SHUFFLE_TOPN = 100
PACK_BLOCK_TOKENS = 128
_HASH60 = "('0x' || substr(md5({s}), 1, 15))::BIGINT"


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First SHUFFLE_TOPN docs of the seed-7 epoch permutation with their
    rank — evidences the deterministic total order (hash60(id:seed), id).
    The full-corpus path is the same orderBy (TeraSort-shaped range sort);
    the limit keeps the registry row count bounded.  Rank is computed over
    the already-limited 100-row frame, so the unpartitioned row_number
    window never sees the corpus."""
    from ..operators.packing import global_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    top = global_shuffle(docs, "doc_id", SHUFFLE_SEED).limit(SHUFFLE_TOPN)
    w = Window.orderBy("shuffle_key", "doc_id")
    return top.withColumn("shuffle_rank",
                          F.row_number().over(w).cast("bigint"))


_CORPUS_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         {_HASH60.format(s=f"doc_id::VARCHAR || ':' || '{SHUFFLE_SEED}'")}
           AS shuffle_key
  FROM documents
),
top AS (
  SELECT doc_id, shuffle_key FROM keyed
  ORDER BY shuffle_key, doc_id LIMIT {SHUFFLE_TOPN}
)
SELECT doc_id, shuffle_key,
       row_number() OVER (ORDER BY shuffle_key, doc_id)::BIGINT
         AS shuffle_rank
FROM top
"""


def q_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chop packing map at PACK_BLOCK_TOKENS tokens/block in
    doc_id order: every doc's global token offset and the block ids it
    spans.  The global cumsum runs as the two-stage range-partition scan
    (operators/packing.py) — the oracle's single window cumsum is the
    semantics it must reproduce on any partitioning."""
    from ..operators.packing import pack_blocks

    docs = _t(spark, sf_dir, "documents")
    return pack_blocks(docs, "doc_id", "text",
                       block_tokens=PACK_BLOCK_TOKENS)


_PACK_BLOCKS_SQL = f"""
WITH t AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       (start_offset // {PACK_BLOCK_TOKENS})::BIGINT AS first_block,
       CASE WHEN n_tokens > 0
            THEN (start_offset + n_tokens - 1) // {PACK_BLOCK_TOKENS}
            ELSE start_offset // {PACK_BLOCK_TOKENS} END::BIGINT AS last_block,
       CASE WHEN n_tokens > 0
            THEN (start_offset + n_tokens - 1) // {PACK_BLOCK_TOKENS}
                 - start_offset // {PACK_BLOCK_TOKENS} + 1
            ELSE 0 END::BIGINT AS n_blocks
FROM c
"""


QUERIES["q_corpus_shuffle"] = q_corpus_shuffle
ORACLES["q_corpus_shuffle"] = _CORPUS_SHUFFLE_SQL
QUERIES["q_pack_blocks"] = q_pack_blocks
ORACLES["q_pack_blocks"] = _PACK_BLOCKS_SQL


# --------------------------------------------------------------------------
# soft dedup (duplication weights) + decontamination audit report
# --------------------------------------------------------------------------


def q_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: content-group multiplicity + the 1/n sampling weight per
    doc (operators/dedup.py::duplication_weights) — reweight instead of
    drop, so each distinct content unit counts once per epoch."""
    from ..operators.dedup import duplication_weights

    return duplication_weights(_t(spark, sf_dir, "documents"))


Q_DUP_WEIGHTS_SQL = r"""
SELECT doc_id,
       count(*) OVER (PARTITION BY
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
       )::BIGINT AS dup_count,
       1.0 / count(*) OVER (PARTITION BY
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
       ) AS dup_weight
FROM documents
"""


def q_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-doc audit: for each benchmark doc, how many training docs
    share >= 5 distinct 3-grams with it and the deepest overlap — the
    converse of q_decontaminate (which flags the training side)."""
    from ..operators.decontam import decontam_report

    docs = _t_wide(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    return decontam_report(docs, bench, id_col="doc_id", text_col="text",
                           k=DECONTAM_K, min_overlap=DECONTAM_MIN_OVERLAP,
                           hash_fn=shingle_hash)


Q_DECONTAM_REPORT_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform({_shingles_sql(_LTOKS, DECONTAM_K)},
                                      s -> {_SHINGLE_HASH.format(s='s')}))
         AS grams
  FROM documents
),
e AS (SELECT doc_id, unnest(grams) AS gm FROM g),
be AS (SELECT doc_id AS bid, unnest(grams) AS gm FROM g
       WHERE doc_id % {DECONTAM_BENCH_MOD} = 0),
pair AS (
  SELECT e.doc_id, be.bid, count(*)::BIGINT AS n_overlap
  FROM e JOIN be ON e.gm = be.gm
  GROUP BY e.doc_id, be.bid
  HAVING count(*) >= {DECONTAM_MIN_OVERLAP}
)
SELECT bid AS doc_id, count(*)::BIGINT AS n_contaminated_docs,
       max(n_overlap)::BIGINT AS max_overlap
FROM pair GROUP BY bid
"""


QUERIES["q_dup_weights"] = q_dup_weights
ORACLES["q_dup_weights"] = Q_DUP_WEIGHTS_SQL
QUERIES["q_decontam_report"] = q_decontam_report
ORACLES["q_decontam_report"] = Q_DECONTAM_REPORT_SQL


def q_block_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized training sequences for the q_pack_blocks map: one
    row per fixed-length block, text assembled from every doc slice
    crossing it in stream order (packing.materialize_blocks)."""
    from ..operators.packing import materialize_blocks, pack_blocks

    docs = _t_wide(spark, sf_dir, "documents")
    packed = pack_blocks(docs, "doc_id", "text",
                         block_tokens=PACK_BLOCK_TOKENS)
    return materialize_blocks(docs, packed, "doc_id", "text",
                              block_tokens=PACK_BLOCK_TOKENS)


_BLOCK_TEXTS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
c AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS n,
         coalesce(sum(len(toks)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS strt
  FROM t
),
p AS (
  SELECT b.block_id,
         strt + greatest(0, b.block_id * {PACK_BLOCK_TOKENS} - strt) AS pos,
         toks[(greatest(0, b.block_id * {PACK_BLOCK_TOKENS} - strt) + 1):
              (least(n, (b.block_id + 1) * {PACK_BLOCK_TOKENS} - strt))]
           AS piece
  FROM c, UNNEST(generate_series(strt // {PACK_BLOCK_TOKENS},
                                 (strt + n - 1) // {PACK_BLOCK_TOKENS}))
       AS b(block_id)
  WHERE n > 0
)
SELECT block_id,
       array_to_string(flatten(list(piece ORDER BY pos)), ' ')
         AS block_text,
       sum(len(piece))::BIGINT AS n_tokens
FROM p GROUP BY block_id
"""


QUERIES["q_block_texts"] = q_block_texts
ORACLES["q_block_texts"] = _BLOCK_TEXTS_SQL


# --------------------------------------------------------------------------
# trained-centroid IVF (k-means cells) + deterministic corpus splits
# --------------------------------------------------------------------------

KM_K, KM_SEED, KM_NPROBE = 8, 3, 2
# init-centroid key: the packing epoch permutation applied to seeding
_KM_KEY = _HASH60.format(s=f"vec_id::VARCHAR || ':' || '{KM_SEED}'")
# oracle squared-L2: the index-ordered (x-y)^2 fold of kmeans_cost
_KM_DIST = ("list_sum(list_transform(list_zip({a}, {b}),"
            " p -> (p[1] - p[2]) * (p[1] - p[2])))")
_KM_INIT_SQL = f"""
init AS (
  SELECT row_number() OVER (ORDER BY k, vec_id) - 1 AS cell, cv
  FROM (SELECT vec_id, {_KM_KEY} AS k, embedding::DOUBLE[] AS cv
        FROM embeddings ORDER BY k, vec_id LIMIT {KM_K})
)"""


def _km_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    from ..operators.kmeans import init_centroids

    return init_centroids(_t(spark, sf_dir, "embeddings"), KM_K,
                          seed=KM_SEED)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector labeled with its nearest centroid cell (the IVF index
    build / cluster-balanced-sampling key, operators/kmeans.py).  Centroids
    here are the deterministic oracle-portable INIT picks so DuckDB can
    derive the identical set; the Lloyd's-trained path is pinned by pytest
    (iterative training is not one SQL query)."""
    from ..operators.kmeans import assign_cells

    return assign_cells(_t_wide(spark, sf_dir, "embeddings"),
                        _km_centroids(spark, sf_dir))


Q_KMEANS_ASSIGN_SQL = f"""
WITH {_KM_INIT_SQL},
dist AS (
  SELECT e.vec_id, i.cell,
         {_KM_DIST.format(a="e.embedding::DOUBLE[]", b="i.cv")} AS d
  FROM embeddings e CROSS JOIN init i
)
SELECT vec_id, cell FROM (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dist
) WHERE rn = 1
"""


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over trained-centroid cells: corpus in its nearest cell,
    each query probes its KM_NPROBE nearest cells, cosine top-k within
    the probed cells (operators/kmeans.py::ivf_centroid_topk).  The
    density-tracking sibling of q_ann_lsh's sign-bucket cells."""
    from ..operators.kmeans import ivf_centroid_topk

    emb = _t_wide(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQUERIES)
    return ivf_centroid_topk(
        emb, queries, _km_centroids(spark, sf_dir),
        k=TOPK_K, n_probe=KM_NPROBE,
    ).select("query_id", "vec_id", "rank")


Q_IVF_KMEANS_TOPK_SQL = f"""
WITH {_KM_INIT_SQL},
cdist AS (
  SELECT e.vec_id, e.embedding, i.cell,
         {_KM_DIST.format(a="e.embedding::DOUBLE[]", b="i.cv")} AS d
  FROM embeddings e CROSS JOIN init i
),
c AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT vec_id, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM cdist
  ) WHERE rn = 1
),
qc AS (
  SELECT vec_id AS query_id, embedding AS qv, cell FROM (
    SELECT vec_id, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM cdist WHERE vec_id < {TOPK_NQUERIES}
  ) WHERE rn <= {KM_NPROBE}
),
scored AS (
  SELECT qc.query_id, c.vec_id,
    list_dot_product(qc.qv::DOUBLE[], c.embedding::DOUBLE[])
      / greatest(sqrt(list_dot_product(qc.qv::DOUBLE[], qc.qv::DOUBLE[]))
               * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                       c.embedding::DOUBLE[])), 1e-12) AS cos
  FROM c JOIN qc ON c.cell = qc.cell
  WHERE c.vec_id <> qc.query_id
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


SPLIT_SEED = 11
SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment per doc — disjoint,
    exhaustive, a pure function of (doc_id, seed)
    (operators/sampling.py::split_assign)."""
    from ..operators.sampling import split_assign

    return split_assign(_t(spark, sf_dir, "documents").select("doc_id"),
                        "doc_id", SPLIT_FRACS, seed=SPLIT_SEED)


_SPLIT_BUCKET = (_HASH60.format(s=f"doc_id::VARCHAR || ':' || '{SPLIT_SEED}'")
                 + " % 1000000")
Q_SPLIT_ASSIGN_SQL = f"""
SELECT doc_id,
       CASE WHEN b < 800000 THEN 'train'
            WHEN b < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {_SPLIT_BUCKET} AS b FROM documents)
"""


QUERIES["q_kmeans_assign"] = q_kmeans_assign
ORACLES["q_kmeans_assign"] = Q_KMEANS_ASSIGN_SQL
QUERIES["q_ivf_kmeans_topk"] = q_ivf_kmeans_topk
ORACLES["q_ivf_kmeans_topk"] = Q_IVF_KMEANS_TOPK_SQL
QUERIES["q_split_assign"] = q_split_assign
ORACLES["q_split_assign"] = Q_SPLIT_ASSIGN_SQL


KM_CAP, KM_SAMPLE_SEED = 40, 5


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced downsample over the k-means cells: each cell thinned
    toward KM_CAP expected rows by the all-BIGINT keep rule
    bucket(id:seed) * n_cell < cap * 10^6 (kmeans.cluster_balanced_sample);
    cells at/under the cap pass entirely."""
    from ..operators.kmeans import cluster_balanced_sample

    return cluster_balanced_sample(_t_wide(spark, sf_dir, "embeddings"),
                                   _km_centroids(spark, sf_dir),
                                   cap_per_cell=KM_CAP, seed=KM_SAMPLE_SEED)


_KM_SAMPLE_BUCKET = (_HASH60.format(
    s=f"vec_id::VARCHAR || ':' || '{KM_SAMPLE_SEED}'") + " % 1000000")
Q_CLUSTER_SAMPLE_SQL = f"""
WITH {_KM_INIT_SQL},
dist AS (
  SELECT e.vec_id, i.cell,
         {_KM_DIST.format(a="e.embedding::DOUBLE[]", b="i.cv")} AS d
  FROM embeddings e CROSS JOIN init i
),
a AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dist
  ) WHERE rn = 1
),
c AS (SELECT cell, count(*)::BIGINT AS n FROM a GROUP BY cell)
SELECT a.vec_id, a.cell
FROM a JOIN c ON a.cell = c.cell
WHERE ({_KM_SAMPLE_BUCKET}) * c.n < {KM_CAP} * 1000000
"""


QUERIES["q_cluster_sample"] = q_cluster_sample
ORACLES["q_cluster_sample"] = Q_CLUSTER_SAMPLE_SQL


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail terciles per language
    (operators/sampling.py::rank_buckets — the exact ntile spec; the
    no-sort percentile-threshold production path is pinned against it by
    pytest).  Value column here is the exact whitespace token count so the
    oracle is self-contained; production feeds model perplexity."""
    from ..operators.sampling import rank_buckets

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", TK.ws_token_count(F.col("text")).alias("v"))
    return rank_buckets(docs, "v", "lang", "doc_id").select(
        "doc_id", "lang", "bucket")


Q_CCNET_BUCKETS_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, len({_TOKS})::BIGINT AS v FROM documents
)
SELECT doc_id, lang,
       (['head', 'middle', 'tail'])[
           ntile(3) OVER (PARTITION BY lang ORDER BY v, doc_id)] AS bucket
FROM t
"""


QUERIES["q_ccnet_buckets"] = q_ccnet_buckets
ORACLES["q_ccnet_buckets"] = Q_CCNET_BUCKETS_SQL
