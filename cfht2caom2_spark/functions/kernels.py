"""Word-shingle kernels — the one Python home of tokenize -> shingle -> hash.

Every vectorized Python crossing that tokenizes words or signs word
k-shingles (the fused stage's MinHash, the dedup/decontam signature
frames, span windows, the Gopher repetition ladder, the driver's token
arrays) calls these pure functions, so the rule cannot drift between
copies.
``functions/tokens.py`` (``word_tokens``, ``word_ngrams``) is the JVM side
of the same rule, which every Spark expression that tokenizes or builds
word n-grams calls (``operators.dedup.word_shingles``/``simhash`` among
them); parity is pinned by the DuckDB oracles and
``tests/test_kernel_parity.py``.

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

MERSENNE_31 = 2_147_483_647  # 2^31 - 1, the classic MinHash modulus

# Java's default \s: [ \t\n\x0B\f\r]
WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def word_tokens(text: str) -> list[str]:
    """ASCII-whitespace tokens of ``text``, empty tokens dropped."""
    return [t for t in WS_RE.split(text) if t]


def zh_tokens(text: str) -> list[str]:
    """One token per code point after stripping ASCII whitespace — the
    Python twin of ``quality.zh_chars`` (Java's ``\\s`` removed, then a
    per-character split), for space-free CJK text."""
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
    ``conv(substring(md5(x), 1, 15), 16, 10)`` (``dedup.hash60``)."""
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


def simhash60(text: str, bits: int, k: int) -> int:
    """Charikar SimHash over the DISTINCT k-shingles' 60-bit md5 hashes:
    bit j is set iff more shingles have hash bit j set than clear."""
    hs = np.array([md5_60(s) for s in set(shingles(text, k))],
                  dtype=np.int64)
    shifts = np.arange(bits, dtype=np.int64)
    counts = (2 * ((hs[:, None] >> shifts) & 1) - 1).sum(axis=0)
    return int((np.int64(1) << shifts)[counts > 0].sum())


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
