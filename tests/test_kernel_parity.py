"""Word-rule kernel parity and single-home guards.

Every Python crossing that tokenizes, signs word shingles or computes
the heuristic stats goes through ``functions/kernels.py``, and every Spark
expression that tokenizes or builds word n-grams goes through
``functions/tokens.py``.  Here the two homes are compared with each other,
and each signature frame and the stat kernel with its Spark expression
reference, bit for bit, on hypothesis-drawn batches of adversarial text
(NULL, empty, whitespace-only, non-ASCII whitespace, non-ASCII case); static
checks keep the tokenizer, the n-gram join, the day key, the MinHash
modulus, the heuristic stats and the nearest-centroid assignment from being
re-forked into other modules, and the deleted sketch twins from coming
back.
"""

from __future__ import annotations

import ast
import re
from functools import reduce
from pathlib import Path

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cfht2caom2_spark.functions import kernels
from cfht2caom2_spark.functions.tokens import word_ngrams, word_tokens
from cfht2caom2_spark.operators.decontam import gram_set_frame
from cfht2caom2_spark.operators.dedup import (minhash_sig_frame,
                                              shingle_hash, shingle_hash_fast,
                                              simhash_frame, word_shingles)
from cfht2caom2_spark.operators.packing import hash60, hash60_fast

from .reference_impl import (gram_set, minhash_signature, quality_stat_exprs,
                             simhash)

PKG = Path(__file__).resolve().parent.parent / "cfht2caom2_spark"
KERNELS = PKG / "functions" / "kernels.py"
TOKENS = PKG / "functions" / "tokens.py"
SPANS = PKG / "operators" / "spans.py"

# ASCII whitespace (Java's \s), the characters Java's \s does NOT match but
# str.split() does (\x1c, NBSP, U+3000, U+2028), and non-ASCII case pairs
_ALPHABET = list("aBc") + [" ", "\t", "\n", "\x0b", "\f", "\r", "\x1c",
                           "\u00a0", "\u3000", "\u2028", "\u0130", "\u00df",
                           "\u03a3", "\u00e9"]
_TEXT = st.one_of(st.none(), st.text(alphabet=_ALPHABET, max_size=24))
_ADVERSARIAL = [None, "", "   ", " \t\n\x0b\f\r ", "a b c\u3000d e",
                "x\u00a0y z\u2028w", "one\x1ctwo three",
                "\u0130STANBUL \u00df \u03a3 \u0391\u03a3",
                "Same same SAME same", "a b",
                # repeated shingles among distinct ones: the distinct-set
                # rule of gram sets and simhash changes the result here
                "spam spam spam spam eggs ham", "x y z x y z x y z w"]
_PERMS = 8
_BITS = 60
_WORD_BITS = 16


def _as_json(name: str, value):
    return F.to_json(F.struct(value.alias("v"))).alias(name)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_TEXT, min_size=1, max_size=16),
       k=st.sampled_from([1, 3]))
@example(texts=_ADVERSARIAL, k=3)
@example(texts=_ADVERSARIAL, k=1)
def test_signature_frames_match_expression_references(spark, texts, k):
    """minhash_sig_frame (crc32, md5), gram_set_frame (md5, crc32) and
    simhash_frame (md5 shingles as simhash_pairs signs, lower-cased words
    as q_simhash signs) equal their expression references bit for bit,
    NULL rules included.  Values are compared as JSON so each side is one
    Spark job: the expressions in one select, the frames in one union."""
    # two slices, not one per core: each Python task has a fixed cost
    rows = spark.sparkContext.parallelize(list(enumerate(texts)), 2)
    df = spark.createDataFrame(rows, "id bigint, t string")
    t = F.col("t")
    exprs = {
        "mh_crc": minhash_signature(t, _PERMS, k, shingle_hash_fast),
        "mh_md5": minhash_signature(t, _PERMS, k, shingle_hash),
        "gs_md5": gram_set(t, k, shingle_hash),
        "gs_crc": gram_set(t, k, shingle_hash_fast),
        "sim": simhash(t, _BITS, lambda c: word_shingles(c, k), hash60),
        "sim_words": simhash(
            t, _WORD_BITS,
            lambda c: F.array_distinct(word_tokens(F.lower(c))),
            shingle_hash),
    }
    frames = {
        "mh_crc": minhash_sig_frame(df, "id", "t", _PERMS, k,
                                    hash_fn=shingle_hash_fast, out_id="id",
                                    out_sig="v"),
        "mh_md5": minhash_sig_frame(df, "id", "t", _PERMS, k,
                                    hash_fn=shingle_hash, out_id="id",
                                    out_sig="v"),
        "gs_md5": gram_set_frame(df, "id", "t", k,
                                 hash_fn=shingle_hash).select(
            "id", F.col("_grams").alias("v")),
        "gs_crc": gram_set_frame(df, "id", "t", k,
                                 hash_fn=shingle_hash_fast).select(
            "id", F.col("_grams").alias("v")),
        "sim": simhash_frame(
            df, "id", "t", lambda x: kernels.simhash60(x, _BITS, k), 0),
        "sim_words": simhash_frame(
            df, "id", "t", lambda x: kernels.simhash_words(x, _WORD_BITS),
            None),
    }
    frames.update({n: frames[n].select(F.col("_id").alias("id"),
                                       F.col("_sh").alias("v"))
                   for n in ("sim", "sim_words")})
    want = {(name, r["id"]): r[name]
            for r in df.select("id", *[_as_json(n, e)
                                       for n, e in exprs.items()]).collect()
            for name in exprs}
    got = reduce(DataFrame.unionByName, [
        f.select(F.lit(n).alias("name"), "id", _as_json("v", F.col("v")))
        for n, f in frames.items()])
    assert {(r["name"], r["id"]): r["v"] for r in got.collect()} == want, \
        (k, texts)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_TEXT, min_size=1, max_size=16))
@example(texts=_ADVERSARIAL)
def test_word_rule_expressions_match_kernels(spark, texts):
    """tokens.word_tokens, plain and over F.lower, equals
    kernels.word_tokens of the text and of its Python lower(); and
    tokens.word_ngrams(toks, n) for n = 1..5 equals the space-joined
    Python windows, [] when there are fewer than n tokens.  NULL text
    gives NULL everywhere.  One Spark job per batch."""
    rows = spark.sparkContext.parallelize(list(enumerate(texts)), 2)
    df = spark.createDataFrame(rows, "id bigint, t string")
    toks = word_tokens(F.col("t"))
    ns = range(1, 6)
    got = {r["id"]: r for r in df.select(
        "id", toks.alias("toks"),
        word_tokens(F.lower(F.col("t"))).alias("ltoks"),
        *[word_ngrams(toks, n).alias(f"g{n}") for n in ns]).collect()}
    for i, text in enumerate(texts):
        want = None if text is None else kernels.word_tokens(text)
        want_grams = {f"g{n}": None if want is None else
                      [" ".join(want[j:j + n])
                       for j in range(len(want) - n + 1)] for n in ns}
        assert got[i].asDict() == {
            "id": i, "toks": want,
            "ltoks": None if text is None else kernels.word_tokens(
                text.lower()),
            **want_grams}, repr(text)


# fragments of heuristic-stat inputs: ASCII and non-ASCII whitespace, the
# line terminators Java's $ sits before (\r, U+0085, U+2028, U+2029),
# ellipses and terminal punctuation, bullets, symbols, NBSP and U+3000
# inside tokens, a non-BMP char, CJK, and case pairs (İ, Σ, capitals) for
# the stop-word, toxicity and "lorem ipsum" matches
_STAT_FRAGMENTS = [
    " ", "  ", "\t", "\n", "\n\n", "\r", "\x0b", "\f", "\x85", "\u2028",
    "\u2029", "...", "\u2026", ".", "!", "?", '"', "-", "*", "\u2022", "#",
    "@", "{", "the", "THE", "Is", "\u0130s", "\u0130S", "\u03a3\u0391\u03a3",
    "la", "und", "lorem", "LOREM", "ipsum", "\u0130PSUM", "badword1",
    "BADWORD1", "x\u00a0y", "a\u3000b", "\U0001f600", "\u7684", "\u662f",
    "\u3002", "\u00e9t\u00e9", "\u00d7", "42"]
_STAT_TEXT = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_STAT_FRAGMENTS), max_size=24).map("".join))
_STAT_LANG = st.sampled_from([None, "en", "fr", "de", "es", "zh", "und"])
_STAT_ROWS = [
    (None, "en"), ("", "en"), ("", "zh"), ("   ", None), (" \t\n\r ", "zh"),
    ("\t\n\t\n", "en"), ("a\tb\n\t\n\t", "fr"),
    ("wait...\r\nmore\u2026\x85\nend.\u2028\nstop...\u2029", "en"),
    ("So.\u2028", "en"), ("So.\x85", "en"), ("trail... \r", "en"),
    ("- a\n\t* b\n\u2022 c\n d", "en"), ("x\u00a0y a\u3000b \U0001f600", "en"),
    ("\u0130s THE Is \u03a3\u0391\u03a3 BADWORD1", "en"),
    ("LOREM \u0130PSUM", "en"), ("Lorem Ipsum dolor", None),
    ("\u7684\u662f \u5728\u3002\u4e86", "zh"), ("la LA Le und", "fr"),
    ("p one\n\np one\n\n\n  \n\np two", "de"), ("{#@$} ~|", "es")]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(_STAT_TEXT, _STAT_LANG), min_size=1,
                     max_size=16))
@example(rows=_STAT_ROWS)
def test_quality_stats_kernel_matches_expression_references(spark, rows):
    """with_quality_stats (the Python kernel behind one pandas UDF) equals
    the JVM Column forms of all 14 stats bit for bit, with a lang column
    and without one (every row en), NULL rules, types and Java's
    whitespace, ``$`` and ``split(.., "")`` rules included."""
    from cfht2caom2_spark.functions.quality import with_quality_stats

    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, t, lg) for i, (t, lg) in enumerate(rows)], 2),
        "id bigint, t string, lang string")
    cols = list(kernels.QUALITY_STAT_COLS)
    for lang_col in ("lang", None):
        lang = None if lang_col is None else F.col(lang_col)
        want = df.select("id", *[e.alias(c) for c, e in quality_stat_exprs(
            F.col("t"), lang).items()])
        got = with_quality_stats(df, text_col="t", lang_col=lang_col)
        assert got.select("id", *cols).schema == want.schema
        assert sorted(got.select("id", *cols).collect()) == \
            sorted(want.collect()), (lang_col, rows)


def test_fused_pass_stats_match_expression_references(spark):
    """The fused extraction pass emits the 14 stats of (extracted_text,
    lang_pred) exactly as the JVM Column forms compute them."""
    from cfht2caom2_spark.functions.fused import with_extract_and_scores
    from cfht2caom2_spark.sources.pages import synth_pages

    fused = with_extract_and_scores(synth_pages(spark, 400, 7), spark) \
        .select("url", "extracted_text", "lang_pred",
                *kernels.QUALITY_STAT_COLS).localCheckpoint()
    exprs = quality_stat_exprs(F.col("extracted_text"), F.col("lang_pred"))
    want = fused.select("url", *[e.alias(c) for c, e in exprs.items()])
    got = fused.select("url", *kernels.QUALITY_STAT_COLS)
    assert got.schema == want.schema
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_unsupported_hash_raises(spark):
    """Only the crc32 and md5 families have a Python kernel; any other
    hash fails on the driver instead of silently changing the plan."""
    df = spark.createDataFrame([(1, "a b c")], "id bigint, t string")
    with pytest.raises(ValueError, match="no Python kernel"):
        minhash_sig_frame(df, "id", "t", 4, 3, hash_fn=hash60_fast)
    with pytest.raises(ValueError, match="no Python kernel"):
        gram_set_frame(df, "id", "t", 3, hash_fn=hash60_fast)


def _package_modules():
    return [(p, ast.parse(p.read_text(), str(p)))
            for p in sorted(PKG.rglob("*.py"))]


def _is_ascii_ws_split(pattern: str, flags: int) -> bool:
    """True iff the regex matches exactly Java's default \\s class:
    each ASCII whitespace char, and none of \\x1c, NBSP or a letter."""
    try:
        rx = re.compile(pattern, flags)
    except (re.error, TypeError):
        return False
    return (all(rx.fullmatch(c) for c in " \t\n\x0b\f\r")
            and not any(rx.fullmatch(c) for c in "\x1c\u00a0a"))


def _flags_value(node) -> int:
    """Value of a flags expression built from ``re.X`` names and ``|``."""
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name) \
            and node.value.id == "re":
        return int(getattr(re, node.attr))
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitOr):
        return _flags_value(node.left) | _flags_value(node.right)
    return 0


def test_ascii_whitespace_tokenizer_lives_only_in_kernels():
    """The ASCII-whitespace token regex is compiled in one module."""
    homes = []
    for path, tree in _package_modules():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "re"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and isinstance(node.args[0].value, str)):
                continue
            flags = next((kw.value for kw in node.keywords
                          if kw.arg == "flags"), None)
            if flags is None and node.func.attr == "compile" \
                    and len(node.args) > 1:
                flags = node.args[1]
            if _is_ascii_ws_split(node.args[0].value, _flags_value(flags)):
                homes.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert homes and all(h.startswith("functions/kernels.py:")
                         for h in homes), homes


def _call_name(node) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else \
        f.id if isinstance(f, ast.Name) else None


def _const_args(node) -> list:
    return [a.value if isinstance(a, ast.Constant) else None
            for a in node.args]


def test_word_rule_and_day_key_live_in_one_place():
    """The Spark-side word rule has one home, functions/tokens.py: no other
    module splits on ``\\s+`` or joins tokens with ``concat_ws(" ", ...)``.
    The day key ``'yyyy-MM-dd'`` is spelled once in the package
    (``resume.partition_id_col``), so the write's p_day, the lineage id and
    the resume filter cannot drift apart."""
    forks, days = [], []
    for path, tree in _package_modules():
        site = str(path.relative_to(PKG))
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and node.value == "yyyy-MM-dd":
                days.append(f"{site}:{node.lineno}")
            if not isinstance(node, ast.Call) or path == TOKENS:
                continue
            name, args = _call_name(node), _const_args(node)
            if (name == "split" and r"\s+" in args) or (
                    name == "concat_ws" and args[:1] == [" "]):
                forks.append(f"{site}:{node.lineno} {name}")
    assert not forks and len(days) == 1, (forks, days)


# the JVM Column forms of the heuristic stats (tests/reference_impl.py) and
# the regexes they ran inside Spark expressions
_STAT_FORMS = {"zh_chars", "lines", "paragraphs", "stopword_frac_by_lang",
               *kernels.QUALITY_STAT_COLS}
_STAT_PATTERNS = {"[#@$%^&*+=~|]", "[A-Za-zÀ-ÿ一-鿿]", r"^\s*[-*•]",
                  r"(\.\.\.|…)\s*$", r"[.!?\"]\s*$", r"[.!?](\s|$)|[。！？]"}
_SPARK_REGEX_CALLS = {"rlike", "regexp", "regexp_like", "regexp_count",
                      "regexp_replace", "regexp_extract_all", "split"}


def test_heuristic_stats_live_only_in_the_kernel():
    """``kernels.quality_stats`` is the one implementation of the 14
    heuristic stats: no package module defines or calls a function named
    like a stat's Column form, and no Spark regex call runs one of the
    stats' patterns."""
    forks = []
    for path, tree in _package_modules():
        site = str(path.relative_to(PKG))
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in _STAT_FORMS:
                forks.append(f"{site}:{node.lineno} def {node.name}")
            if not isinstance(node, ast.Call):
                continue
            name = _call_name(node)
            if name in _STAT_FORMS:
                forks.append(f"{site}:{node.lineno} {name}()")
            if name in _SPARK_REGEX_CALLS and any(
                    isinstance(c, ast.Constant) and c.value in _STAT_PATTERNS
                    for c in ast.walk(node)):
                forks.append(f"{site}:{node.lineno} {name} pattern")
    assert not forks, forks


# the JVM Column forms of nearest-centroid assignment (tests/reference_impl.py)
_CENTROID_FORMS = {"sq_dist", "nearest_centroid", "_centroid_lit",
                   "centroid_dists"}


def _is_literal_matrix(node) -> bool:
    """An ``array(...)`` call holding an ``array(...)`` of ``lit(...)``: a
    matrix inlined into the plan as literals."""
    return _call_name(node) == "array" and any(
        c is not node and isinstance(c, ast.Call) and _call_name(c) == "array"
        and any(isinstance(x, ast.Call) and _call_name(x) == "lit"
                for x in ast.walk(c))
        for c in ast.walk(node))


def test_nearest_centroid_lives_only_in_the_kernel():
    """``kmeans._nearest_cells`` is the one nearest-centroid
    implementation: no package module defines or calls the expression
    fold's functions, or inlines a literal matrix into a plan."""
    forks = []
    for path, tree in _package_modules():
        site = str(path.relative_to(PKG))
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) \
                    and node.name in _CENTROID_FORMS:
                forks.append(f"{site}:{node.lineno} def {node.name}")
            if not isinstance(node, ast.Call):
                continue
            if _call_name(node) in _CENTROID_FORMS:
                forks.append(f"{site}:{node.lineno} {_call_name(node)}()")
            if _is_literal_matrix(node):
                forks.append(f"{site}:{node.lineno} literal matrix")
    assert not forks, forks


# twins deleted for a single path each: the BLAS copy of lsh_ann and the
# expression SimHash fold (now tests/reference_impl.py ``simhash``)
_DELETED_TWINS = {"ivf_topk_grouped", "simhash"}


def test_sketch_operators_have_one_path_each():
    """``similarity.lsh_ann`` is the one sign-cell top-k and
    ``kernels.simhash_vote`` the one SimHash bit vote: no package module
    defines ``ivf_topk_grouped`` or an expression ``simhash``.  The span
    window key is always xxhash64: spans.py has no ``key_fn``."""
    forks = [f"{path.relative_to(PKG)}:{node.lineno} def {node.name}"
             for path, tree in _package_modules()
             for node in ast.walk(tree)
             if isinstance(node, ast.FunctionDef)
             and node.name in _DELETED_TWINS]
    assert not forks, forks
    assert "key_fn" not in SPANS.read_text()


def test_mersenne_modulus_defined_only_in_kernels():
    defs = []
    for path, tree in _package_modules():
        for node in ast.walk(tree):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            if any(isinstance(t, ast.Name) and t.id == "MERSENNE_31"
                   for t in targets):
                defs.append(path)
    assert defs == [KERNELS], defs
