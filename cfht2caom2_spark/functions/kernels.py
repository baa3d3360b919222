"""Word kernels — the one Python home of tokenize -> shingle -> hash, and
of the per-document heuristic stats built on the same tokens.

Every vectorized Python crossing that tokenizes words or signs word
k-shingles (the fused stage's MinHash and heuristic stats, the
dedup/decontam signature frames and SimHash bit vote, span windows, the
Gopher repetition ladder) calls these pure functions, so the rule cannot
drift between copies.
``functions/tokens.py`` (``word_tokens``, ``word_ngrams``) is the JVM side
of the same rule, which every Spark expression that tokenizes or builds
word n-grams calls (``operators.dedup.word_shingles`` among them); parity
is pinned by the DuckDB oracles and ``tests/test_kernel_parity.py``.

The rule: tokens are runs of non-whitespace under Java's default ``\\s``
class (ASCII whitespace ONLY — ``str.split()`` would also split on NBSP,
U+3000, U+2028 and \\x1c-\\x1f, which the JVM path does not); shingles are
the UTF-8 bytes of k consecutive lower-cased tokens joined by one space;
fewer than k tokens give the single whole-text shingle (``b""`` for empty
or whitespace-only text).  NULL handling is each caller's own pinned rule.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from zlib import crc32

import numpy as np

from ..config import STOPWORDS, TOXICITY_WORDS
from ..corpora import ZH_STOP_CHARS

MERSENNE_31 = 2_147_483_647  # 2^31 - 1, the classic MinHash modulus

# Java's default \s: [ \t\n\x0B\f\r]
WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
_TOKEN = re.compile(r"[^ \t\n\x0b\f\r]+").findall


def word_tokens(text: str) -> list[str]:
    """ASCII-whitespace tokens of ``text``: its maximal runs of anything
    else (one ``findall``, a quarter faster than splitting on ``WS_RE``
    and dropping the empty pieces)."""
    return _TOKEN(text)


def zh_tokens(text: str) -> list[str]:
    """One token per code point after stripping ASCII whitespace (Java's
    ``\\s``), for space-free CJK text."""
    return list(WS_RE.sub("", text))


def shingles(text: str, k: int) -> list[bytes]:
    """UTF-8 word k-shingles of the lower-cased text, in order, repeats
    kept.  Tokens are encoded once, not once per shingle: UTF-8 is
    byte-compositional, so joining encoded tokens equals encoding the
    joined string."""
    toks = [t.encode("utf-8") for t in word_tokens(text.lower())]
    if len(toks) < k:
        return [b" ".join(toks)]
    return [b" ".join(w) for w in zip(*[toks[j:] for j in range(k)])]


def md5_60(data: bytes) -> int:
    """First 15 hex chars of md5 as an int (60 bits) == the JVM's
    ``conv(substring(md5(x), 1, 15), 16, 10)`` (``packing.hash60``)."""
    return int(hashlib.md5(data).hexdigest()[:15], 16)


def base_hash(hash_fn):
    """Python twin of a Column-level shingle hash: crc32 (zlib, the same
    polynomial as ``F.crc32``) for ``shingle_hash_fast``, ``md5_60`` for
    ``shingle_hash``.  Returns the UNREDUCED value; the kernels apply
    ``% MERSENNE_31`` where the Column forms do.  Any other hash has no
    Python twin and raises ``ValueError``."""
    from ..operators.dedup import shingle_hash, shingle_hash_fast

    if hash_fn is shingle_hash_fast:
        return crc32
    if hash_fn is shingle_hash:
        return md5_60
    raise ValueError(f"no Python kernel for shingle hash {hash_fn!r}; "
                     "use shingle_hash or shingle_hash_fast")


def minhash_sig(text: str, A, B, k: int, h) -> list[int]:
    """MinHash signature of ``text``'s k-shingles under base hash ``h``
    and permutations ``(A * x + B) % MERSENNE_31`` — one
    (n_shingles x n_perms) numpy broadcast.  Repeated shingles cannot
    change a min, so they are not de-duplicated."""
    hs = np.array([h(s) for s in shingles(text, k)], dtype=np.int64)
    hs %= MERSENNE_31
    return ((hs[:, None] * A + B) % MERSENNE_31).min(axis=0).tolist()


def gram_hashes(text: str, k: int, h) -> list[int]:
    """Distinct hashed k-shingles (``h(s) % MERSENNE_31``) in
    first-occurrence order; hash collisions collapse too."""
    return list(dict.fromkeys(
        h(s) % MERSENNE_31 for s in dict.fromkeys(shingles(text, k))))


def simhash_vote(hashes, bits: int) -> int:
    """Charikar SimHash bit vote over feature hashes (each < 2^63): bit j
    (j < ``bits``) is set iff more hashes have bit j set than clear.  No
    hashes give 0.  The one bit-vote kernel behind every SimHash
    signature."""
    hs = np.fromiter(hashes, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.int64)
    counts = (2 * ((hs[:, None] >> shifts) & 1) - 1).sum(axis=0)
    return int((np.int64(1) << shifts)[counts > 0].sum())


def simhash60(text: str, bits: int, k: int) -> int:
    """SimHash of the DISTINCT k-shingles under their 60-bit md5 hash."""
    return simhash_vote((md5_60(s) for s in set(shingles(text, k))), bits)


def simhash_words(text: str, bits: int) -> int:
    """SimHash of the DISTINCT lower-cased words under the md5 shingle
    hash reduced mod 2^31-1 (``dedup.shingle_hash``), so ``bits`` <= 31.
    Text with no words gives 0."""
    return simhash_vote((md5_60(w.encode("utf-8")) % MERSENNE_31
                         for w in set(word_tokens(text.lower()))), bits)


# --- Gopher dup-ngram ladder -------------------------------------------------

REP_LADDER_TOP_NS: tuple[int, ...] = (2, 3, 4)
REP_LADDER_DUP_NS: tuple[int, ...] = (5, 6, 7, 8, 9, 10)


def repetition_ladder(toks: list[str]) -> list[float]:
    """The Gopher repetition ladder (Rae et al. 2021 Table A1) of one
    token list: the top-{2,3,4}-gram then the dup-{5..10}-gram character
    fractions.  Character fractions are over TOKEN characters (separators
    excluded on both sides of the ratio); no tokens, or only empty ones,
    give 0.0 everywhere.

    * top rung: count x token chars of the most frequent word n-gram,
      max by (count, then token chars).  Overlapping occurrences count
      independently, so single-token spam can exceed 1.0 — harmless for a
      ``>`` gate.  Ties on (count, chars) share the same product, so no
      gram-order tie-break is needed.
    * dup rung: token chars inside at least one occurrence of an n-gram
      that occurs more than once (the union of covered positions; overlap
      is not double-counted).

    One Counter per (doc, n) counts the grams; a bytearray marks the
    covered positions.  Numerators and denominators are exact integers
    with one final division, so the fractions equal the DuckDB oracle's
    (``q_repetition_ladder``) bit for bit."""
    T = len(toks)
    lens = [len(t) for t in toks]
    tot = sum(lens)
    if tot <= 0:
        return [0.0] * (len(REP_LADDER_TOP_NS) + len(REP_LADDER_DUP_NS))
    out = []
    for n in REP_LADDER_TOP_NS:
        cnt = Counter(zip(*[toks[j:] for j in range(n)]))
        cov = 0
        if cnt:
            bc = max(cnt.values())
            cov = bc * max(sum(map(len, g)) for g, c in cnt.items()
                           if c == bc)
        out.append(float(cov) / float(tot))
    for n in REP_LADDER_DUP_NS:
        grams = list(zip(*[toks[j:] for j in range(n)]))
        cnt = Counter(grams)
        covered = bytearray(T)
        for i, g in enumerate(grams):
            if cnt[g] > 1:
                covered[i:i + n] = b"\x01" * n
        chars = sum(ln for ln, c in zip(lens, covered) if c)
        out.append(float(chars) / float(tot))
    return out


# --- Gopher/C4 heuristic stats -----------------------------------------------
#
# The 14 per-document stats every keep/drop decision reads:
#   * n_words, mean_word_len, symbol_ratio, stopword_frac, alpha_word_frac,
#     toxicity_hits: Gopher's document gates (Rae et al. 2021 Table A1);
#   * repeated_line_frac, repeated_paragraph_frac: the share of lines, and
#     of blank-line-delimited paragraphs, that repeat an earlier one (a
#     repeated multi-line block has unique lines, so it needs the second);
#   * bullet_line_frac, ellipsis_line_frac: lines opening with a bullet
#     (link farms) or closing with an ellipsis (teaser pages), Gopher;
#   * terminal_punct_line_frac: lines ending in . ! ? or ", C4's line rule
#     (Raffel et al. 2020 §2.2) at document granularity;
#   * sentence_count, has_lorem_ipsum, has_curly_brace: C4's page gates.
# They are computed here, in Python, because the fused extraction pass holds
# the text: as Spark expressions they needed ~9 higher-order lambdas over
# the token and line arrays, which Spark runs interpreted, per row.  The
# semantics are the JVM expressions' (tests/reference_impl.py keeps them as
# the bit-for-bit reference), so where Java and Python differ the kernel
# copies Java:
#   * ``\s`` is ASCII whitespace only, and Spark's ``trim`` strips only
#     U+0020;
#   * Java's ``$`` also matches before one final line terminator: ``\r``,
#     U+0085, U+2028 or U+2029 (``\n`` never survives the line split);
#   * ``split(x, "")`` of an empty string is ``[""]``, one empty token;
#   * fractions divide exact integers once, in the expressions' order.
# Spark's ``lower`` and ``str.lower`` agree (İ -> "i̇", final sigma), so
# stop-word, toxicity and "lorem ipsum" matching lower-case in Python.

QUALITY_STAT_COLS: tuple[str, ...] = (
    "n_words", "mean_word_len", "symbol_ratio", "stopword_frac",
    "alpha_word_frac", "repeated_line_frac", "repeated_paragraph_frac",
    "bullet_line_frac", "ellipsis_line_frac", "terminal_punct_line_frac",
    "sentence_count", "has_lorem_ipsum", "has_curly_brace", "toxicity_hits")

_JAVA_WS = " \t\n\x0b\f\r"
# Gopher symbol-to-char ratio symbols (ASCII only: CJK text is not penalized)
_SYMBOLS = "#@$%^&*+=~|"
# a token is "alphabetic" when it holds one of these (Latin-1 letters' range
# includes × and ÷, as the Column form's did)
_ALPHA = re.compile("[A-Za-zÀ-ÿ一-鿿]").search
# C4's sentence terminator: a CJK full stop, which zh prose does not
# space-separate, or [.!?] before whitespace or the end (Java's $).  One
# leading class lets the regex engine skip to candidates (4x faster than
# the alternation); the lookahead consumes nothing, which cannot change
# the count, since whitespace is never a terminator
_SENTENCE = re.compile(
    r"[.!?。！？](?:(?<=[。！？])"
    r"|(?=[ \t\n\x0b\f\r]|\Z|[\x85\u2028\u2029]\Z))").findall
_PARAGRAPH = re.compile(r"\n{2,}").split
# the terminators Java's $ may precede that Java's \s does not cover
_JAVA_EOL = ("\x85", "\u2028", "\u2029")
_BULLETS = ("-", "*", "•")
_ELLIPSES = ("...", "…")
_TERMINALS = (".", "!", "?", '"')
_STOP = {lang: frozenset(words) for lang, words in STOPWORDS.items()}
_ZH_STOP = frozenset(ZH_STOP_CHARS)
_TOXIC = frozenset(TOXICITY_WORDS)
_NULL_STATS = (None,) * len(QUALITY_STAT_COLS)


def _line_end(line: str) -> str:
    """``line`` without what ``\\s*$`` matches at its end in Java."""
    if line[-1] in _JAVA_EOL:
        line = line[:-1]
    return line.rstrip(_JAVA_WS)


def _repeat_frac(parts: list[str]) -> float:
    """1 - distinct/n over the parts; 0.0 when there are none."""
    return 1.0 - float(len(set(parts))) / float(len(parts)) if parts else 0.0


def _frac(hits: int, n: int) -> float:
    """hits/n over the lines; 0.0 when there are none."""
    return float(hits) / float(n) if n else 0.0


def quality_stats(text: str | None, lang: str | None) -> tuple:
    """The 14 heuristic stats of one document, in ``QUALITY_STAT_COLS``
    order; all None for NULL text.

    Tokens: ``zh_tokens`` (``[""]`` when nothing but whitespace is left)
    on ``lang == "zh"`` rows, ``word_tokens`` on every other row.  Stop
    words: zh rows use ``ZH_STOP_CHARS``, fr/de/es rows their own list,
    every other row (NULL lang too) the en list.  Lines split on ``\\n``
    and paragraphs on ``\\n{2,}``; a part counts when ``strip(" ")``
    leaves something."""
    if text is None:
        return _NULL_STATS
    if lang == "zh":
        toks = zh_tokens(text) or [""]
        stop = _ZH_STOP
    else:
        toks = word_tokens(text)
        stop = _STOP.get(lang, _STOP["en"])
    ltoks = list(map(str.lower, toks))
    n = len(toks)
    words = float(max(n, 1))
    # the alpha regex runs once per distinct token
    alpha = set(filter(_ALPHA, set(toks)))

    lines = [ln for ln in text.split("\n") if ln.strip(" ")]
    n_lines = len(lines)
    bullets = ellipses = terminals = 0
    for ln in lines:
        if ln.lstrip(_JAVA_WS).startswith(_BULLETS):
            bullets += 1
        end = _line_end(ln)
        if end.endswith(_ELLIPSES):
            ellipses += 1
        if end.endswith(_TERMINALS):
            terminals += 1
    # without a blank line there is at most one paragraph, which repeats
    # nothing: skip the split
    paragraphs = ([p for p in _PARAGRAPH(text) if p.strip(" ")]
                  if "\n\n" in text else [])

    return (
        n,
        float(sum(map(len, toks))) / words,
        float(sum(map(text.count, _SYMBOLS))) / float(max(len(text), 1)),
        float(sum(map(stop.__contains__, ltoks))) / words,
        float(sum(map(alpha.__contains__, toks))) / words,
        _repeat_frac(lines),
        _repeat_frac(paragraphs),
        _frac(bullets, n_lines),
        _frac(ellipses, n_lines),
        _frac(terminals, n_lines),
        len(_SENTENCE(text)),
        "lorem ipsum" in text.lower(),
        "{" in text,
        sum(map(_TOXIC.__contains__, ltoks)),
    )
