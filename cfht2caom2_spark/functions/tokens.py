"""The word rule as Spark expressions, token counting and document
fingerprinting — built-in expressions only.

``word_tokens`` and ``word_ngrams`` are the one JVM home of the word rule,
as ``functions/kernels.py`` is its one Python home: every Spark-expression
tokenizer and word n-gram in the package calls them, and
``tests/test_kernel_parity.py`` checks them against the Python kernels.
The rule: tokens are runs of non-whitespace under Java's default ``\\s``
class (ASCII whitespace only), after a ``trim`` that strips only U+0020;
n-grams join ``n`` consecutive tokens with one space.  Callers that want
lower case pass ``F.lower(col)`` (``trim`` strips only U+0020, which
``lower`` neither makes nor removes, so ``trim(lower(x))`` equals
``lower(trim(x))``); callers that want NULL -> ``[]`` pass
``F.coalesce(col, F.lit(""))``.

Other utilities over text columns:
  * whitespace token count and a BPE-ish subword count (regex segmentation
    approximating GPT-2's pre-tokenizer word/number/punct split);
  * md5 fingerprint of whitespace-normalized text (exact-dup key);
  * polynomial rolling hash over the character stream (order-sensitive
    fingerprint; the classic Rabin-Karp shape) via ``F.aggregate`` — stays in
    the JVM, and is expressible verbatim in the DuckDB oracle via
    ``list_reduce``.

Reference analogue: md5-based change detection (`store_modified_files_only`,
reference config/config.yml:33-36) and the string-projection getter family
(cfht_name.py:433-444).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# GPT-2-style pre-tokenizer approximation: a token is a letter run, a digit
# run, or a single non-space symbol.  Same regex works in RE2 for the oracle.
BPE_ISH_PATTERN = r"[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-z0-9À-ÿ\s]"

POLY_MOD = 1_000_000_007
POLY_BASE = 31


def word_tokens(text: Column) -> Column:
    """Whitespace tokens with empties removed (identical to the SQL oracle's
    list_filter(regexp_split_to_array(trim(x),'\\s+'), t->t<>'')); NULL
    text gives NULL."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as single-space-joined strings, in
    order, repeats kept; ``[]`` when there are fewer than ``n`` tokens.
    Gram i (0-based) covers tokens i..i+n-1.

    Built from n shifted slices zipped together — n-1 array passes, linear
    in the token count.  An index lambda such as ``transform(sequence(..),
    i -> array_join(slice(toks, i, n)))`` builds each gram once instead,
    which only pays off for large n (measured at sf0.1: the cascade won at
    n = 8, 1.7 s vs 3.7 s; the slice form won at n = 50); every caller here
    has n <= 10."""
    win = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, win)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, j + 1, win),
                           lambda a, b: F.concat_ws(" ", a, b))
    return grams


def ws_token_count(text: Column) -> Column:
    return F.size(word_tokens(text)).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish segments via regexp_count (JVM, no tokenizer lib)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("bigint")


def norm_text(text: Column) -> Column:
    """Whitespace-normalized lowercase text — the dedup canonical form."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def md5_fingerprint(text: Column) -> Column:
    return F.md5(norm_text(text).cast("binary"))


def rolling_hash(text: Column) -> Column:
    """Polynomial hash sum(c_i * 31^i) mod 1e9+7 over ASCII codes, computed
    left-to-right with mod at each step (all intermediates < 2^35, overflow-
    free in int64 under both Spark and DuckDB semantics)."""
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * POLY_BASE + c) % POLY_MOD,
    )
