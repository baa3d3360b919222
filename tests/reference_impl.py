"""Independent pure-Python reference labeler for the golden-output tests.

Recomputes every pipeline decision WITHOUT Spark — plain Python over the
generator rows — mirroring how the reference pins behavior with expected XML
files produced outside the code under test
(/root/reference/cfht2caom2/tests/test_caom_gen_visit.py:101-209).  The Spark
pipeline must reach F1 >= 0.99 against these labels (north_rule) and
byte-identical extraction hashes.

Shares ONLY the model classes (langid/perplexity) and the extractor with the
engine — those are plain functions unit-tested separately; everything the
Spark expression layer does (tokenization, stats, rules, minhash dedup) is
re-derived here with independent code.

The Spark expression references at the bottom are not part of the labeler:
``minhash_signature``, ``gram_set`` and ``simhash`` are the JVM side of the
word-shingle kernel parity tests and build on the engine's Column-level
``word_shingles`` and shingle hashes; ``char_run_sq_sum``, ``char_simpson`` and
``distinct_char_frac`` are the Column folds ``char_stats_fast`` must match;
``quality_stat_exprs`` and the 14 stat expressions it assembles are the
JVM semantics ``kernels.quality_stats`` must match; ``nearest_centroid``,
``kmeans_cost`` and the ``sq_dist`` fold under them are the k-means
semantics ``kmeans._nearest_cells`` must match.
"""

from __future__ import annotations

import hashlib
import re

from cfht2caom2_spark.config import (DEFAULT_PROFILE, PII_PATTERNS, STOPWORDS,
                                     TOXICITY_WORDS, RuleProfile)
from cfht2caom2_spark.corpora import ZH_STOP_CHARS
from cfht2caom2_spark.functions.extraction import extract_html
from cfht2caom2_spark.functions.langid import TrigramLangID
from cfht2caom2_spark.functions.perplexity import BigramLM
from cfht2caom2_spark.sources.pages import gen_row

_MERSENNE = 2_147_483_647


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.strip()) if t]


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = [t for t in re.split(r"\s+", text.lower().strip()) if t]
    if len(toks) >= k:
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    return {" ".join(toks)}


def _shingle_hash(s: str) -> int:
    # matches operators.dedup.shingle_hash_fast (Spark F.crc32 == zlib.crc32)
    import zlib
    return zlib.crc32(s.encode("utf-8")) % _MERSENNE


def _minhash_sig(shingles: set[str], num_perms: int) -> list[int]:
    hs = [_shingle_hash(s) for s in shingles]
    sig = []
    for i in range(num_perms):
        a = (2 * i + 1) % _MERSENNE
        b = (i * 40_503 + 1_299_721) % _MERSENNE
        sig.append(min((a * x + b) % _MERSENNE for x in hs))
    return sig


def reference_labels(n_rows: int, seed: int = 42,
                     profile: RuleProfile = DEFAULT_PROFILE) -> dict[str, dict]:
    """url -> {sha256, lang_pred, keep, rules, scrubbed} for n generator rows.

    For duplicate urls (re-arrival fixtures) the later warc_ts wins in the
    dict, matching nothing in particular — tests compare per (url, warc_ts)
    via the row list instead; this helper keys by url only for convenience of
    the non-rearrival classes.
    """
    lid, lm = TrigramLangID(), BigramLM()
    rows = []
    for i in range(n_rows):
        r = gen_row(i, seed)
        text = extract_html(r["html"]) if (r["html"] is not None and len(r["html"]) > 0) else r["text"]
        rows.append((i, r, text))

    # --- per-row rules ------------------------------------------------------
    results: dict[str, dict] = {}
    alive = []  # (url, warc_ts, text) candidates for dedup
    for i, r, text in rows:
        rules: set[str] = set()
        lang, conf, ppl = "und", 0.0, float("inf")
        scrubbed = None
        if text is None or len(text) == 0:
            rules.add("empty_payload")
        if text:
            lang, conf = lid.predict_one(text)
            ppl = lm.perplexity_one(text, lang)
            if lang == "zh":
                toks = [c for c in re.sub(r"\s+", "", text)]
            else:
                toks = _tokens(text)
            n = len(toks)
            mean_len = sum(len(t) for t in toks) / max(n, 1)
            n_sym = sum(text.count(c) for c in "#@$%^&*+=~|")
            symbol_ratio = n_sym / max(len(text), 1)
            if lang in STOPWORDS:
                sw = set(STOPWORDS[lang])
            else:
                sw = set(ZH_STOP_CHARS) if lang == "zh" else set(STOPWORDS["en"])
            swf = sum(1 for t in toks if t.lower() in sw) / max(n, 1)
            alpha = sum(1 for t in toks
                        if re.search(r"[A-Za-zÀ-ÿ一-鿿]", t)) / max(n, 1)
            lines = [l for l in text.split("\n") if l.strip()]
            rep = 1 - len(set(lines)) / len(lines) if lines else 0.0
            paras = [p for p in re.split(r"\n{2,}", text) if p.strip()]
            rep_p = 1 - len(set(paras)) / len(paras) if paras else 0.0
            tox = sum(1 for t in toks if t.lower() in TOXICITY_WORDS)

            if n < profile.min_words:
                rules.add("too_short")
            if n > profile.max_words:
                rules.add("too_long")
            if lang != "zh" and mean_len < profile.min_mean_word_len:
                rules.add("word_len_low")
            if lang != "zh" and mean_len > profile.max_mean_word_len:
                rules.add("word_len_high")
            if symbol_ratio > profile.max_symbol_ratio:
                rules.add("symbol_ratio")
            if swf < profile.min_stopword_frac:
                rules.add("stopword_frac")
            if alpha < profile.min_alpha_word_frac:
                rules.add("alpha_frac")
            if rep > profile.max_repeated_line_frac:
                rules.add("repeated_lines")
            if rep_p > profile.max_repeated_paragraph_frac:
                rules.add("repeated_paragraphs")
            n_lines = max(len(lines), 1)
            bullet = sum(1 for l in lines
                         if re.search(r"^\s*[-*•]", l)) / n_lines
            ellip = sum(1 for l in lines
                        if re.search(r"(\.\.\.|…)\s*$", l)) / n_lines
            term = sum(1 for l in lines
                       if re.search(r"[.!?\"]\s*$", l)) / n_lines
            # fracs are 0.0 for line-less text (matching the Spark stats),
            # so bullet/ellipsis can't fire there and terminal_punct fires
            # only under an opted-in threshold
            if bullet > profile.max_bullet_line_frac:
                rules.add("bullet_lines")
            if ellip > profile.max_ellipsis_line_frac:
                rules.add("ellipsis_lines")
            if term < profile.min_terminal_punct_line_frac:
                rules.add("terminal_punct")
            sent = sum(1 for _ in re.finditer(r"[.!?](\s|$)|[。！？]", text))
            if sent < profile.min_sentences:
                rules.add("too_few_sentences")
            if profile.block_lorem_ipsum and "lorem ipsum" in text.lower():
                rules.add("lorem_ipsum")
            if profile.block_curly_brace and "{" in text:
                rules.add("curly_brace")
            if profile.gopher_repetition_gates:
                tchars = sum(len(t) for t in toks)
                for gn, thr in profile.max_top_ngram_char_frac:
                    grams = [" ".join(toks[i:i + gn])
                             for i in range(len(toks) - gn + 1)]
                    if grams and tchars:
                        counts: dict[str, int] = {}
                        for g in grams:
                            counts[g] = counts.get(g, 0) + 1
                        cnt, glen, _g = max(
                            ((c, len(g) - (gn - 1), g)
                             for g, c in counts.items()),
                            key=lambda t3: (t3[0], t3[1], [-ord(ch) for ch
                                                           in t3[2]]))
                        if cnt * glen / tchars > thr:
                            rules.add(f"dup_top_{gn}gram")
                for gn, thr in profile.max_dup_ngram_char_frac:
                    grams = [" ".join(toks[i:i + gn])
                             for i in range(len(toks) - gn + 1)]
                    seen: dict[str, int] = {}
                    for g in grams:
                        seen[g] = seen.get(g, 0) + 1
                    covered: set[int] = set()
                    for i, g in enumerate(grams):
                        if seen[g] > 1:
                            covered.update(range(i, i + gn))
                    cov = sum(len(toks[j]) for j in covered)
                    if tchars and cov / tchars > thr:
                        rules.add(f"dup_{gn}gram")
            if tox > profile.max_toxicity_hits:
                rules.add("toxicity")
            thr = (profile.max_perplexity_zh if lang == "zh"
                   else profile.max_perplexity)
            if ppl > thr:
                rules.add("perplexity")
            if conf < profile.min_lang_conf:
                rules.add("lang_conf")
            if lang not in profile.allowed_langs:
                rules.add("lang_blocked")

            scrubbed = text
            for _rid, pat, repl in PII_PATTERNS:
                scrubbed = re.sub(pat, repl, scrubbed)
            alive.append((r["url"], r["warc_ts"], text))

        results[r["url"]] = {
            "warc_ts": r["warc_ts"],
            "sha256": hashlib.sha256(text.encode()).hexdigest() if text else None,
            "lang_pred": lang,
            "rules": rules,
            "scrubbed": scrubbed,
        }

    # --- minhash near-dup (pair dominance, earliest wins) --------------------
    num_perms = profile.minhash_bands * profile.minhash_rows_per_band
    # first arrival per url represents the url (same rule as the engine)
    alive = sorted(alive, key=lambda x: (x[1], x[0]))
    seen_urls = set()
    firsts = []
    for url, ts, text in alive:
        if url not in seen_urls:
            seen_urls.add(url)
            firsts.append((url, ts, text))
    alive = firsts
    # exact-duplicate collapse by content hash (same order: earliest canonical
    # wins; later urls with identical bytes get exact_duplicate and do not
    # participate in minhash — mirrors plans/pipeline.py)
    seen_sha: dict[str, str] = {}
    canonicals = []
    for url, ts, text in alive:
        sha = hashlib.sha256(text.encode()).hexdigest()
        if sha in seen_sha:
            results[url]["rules"].add("exact_duplicate")
        else:
            seen_sha[sha] = url
            canonicals.append((url, ts, text))
    alive = canonicals
    sigs = {}
    sh = {}
    for url, ts, text in alive:
        s = _shingles(text, profile.shingle_size)
        sh[url] = s
        sigs[url] = _minhash_sig(s, num_perms)
    urls = sorted(sigs)
    buckets: dict[tuple, list[str]] = {}
    for url in urls:
        sig = sigs[url]
        for b in range(profile.minhash_bands):
            key = (b, tuple(sig[b * profile.minhash_rows_per_band:
                                (b + 1) * profile.minhash_rows_per_band]))
            buckets.setdefault(key, []).append(url)
    ts_of = {url: ts for url, ts, _ in alive}
    losers = set()
    for members in buckets.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if a == b:
                    continue
                # MinHash similarity estimator — fraction of agreeing
                # permutations (same verification as the engine's
                # minhash_losers_from_sig)
                est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / num_perms
                if est >= profile.dedup_jaccard:
                    # earliest (warc_ts, url) wins
                    if (ts_of[a], a) < (ts_of[b], b):
                        losers.add(b)
                    else:
                        losers.add(a)
    for url in losers:
        results[url]["rules"].add("near_duplicate")

    for url, res in results.items():
        res["keep"] = len(res["rules"]) == 0
    return results


# --- Spark expression references of the word-shingle kernels ----------------
# The engine signs documents only through functions/kernels.py (one Python
# crossing per frame).  These are the JVM expression forms those frames must
# reproduce bit for bit (tests/test_kernel_parity.py); they live here because
# no shipped plan uses them.

def minhash_signature(text, num_perms: int, k: int = 3, hash_fn=None):
    """array<bigint> of num_perms minhashes of ``word_shingles(text, k)``:
    ONE fold over the shingle-hash array computing all permutations per
    element (zip_with least against the running minima).  NULL text folds
    [NULL], which least() skips: [MERSENNE_31] * num_perms."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.functions.kernels import MERSENNE_31
    from cfht2caom2_spark.operators.dedup import (_perm_params,
                                                  shingle_hash_fast,
                                                  word_shingles)

    hashes = F.transform(word_shingles(text, k), hash_fn or shingle_hash_fast)
    perms = _perm_params(num_perms)
    init = F.array_repeat(F.lit(MERSENNE_31).cast("bigint"), num_perms)

    def step(acc, x):
        cand = F.array(*[(F.lit(a) * x + F.lit(b)) % MERSENNE_31
                         for a, b in perms])
        return F.zip_with(acc, cand, lambda m, c: F.least(m, c))

    return F.aggregate(hashes, init, step)


def gram_set(text, k: int = 3, hash_fn=None):
    """Distinct hashed word k-grams of a text column (array<bigint>);
    ``shingle_hash`` (md5) by default."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.operators.dedup import shingle_hash, word_shingles

    return F.array_distinct(
        F.transform(word_shingles(text, k), hash_fn or shingle_hash))


def simhash(text, bits: int, features_fn, hash_fn):
    """Per-row SimHash as one expression fold (Charikar 2002): bit j is 1
    iff the sum over ``features_fn(text)`` of ±1 (bit j of ``hash_fn`` of
    the feature) is positive.  Distinct lower-cased words under
    ``shingle_hash`` are ``kernels.simhash_words``; ``word_shingles`` under
    ``packing.hash60`` is ``kernels.simhash60``.  NULL text: the word
    features are NULL, so the signature is NULL; ``word_shingles(NULL)`` is
    [NULL], whose contribution is -1 at every bit, so the signature is 0."""
    from pyspark.sql import functions as F

    hashes = F.transform(features_fn(text), hash_fn)
    zeros = F.array_repeat(F.lit(0).cast("bigint"), bits)

    def step(acc, h):
        contrib = F.array(*[
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1)).cast("bigint")
            for j in range(bits)
        ])
        return F.zip_with(acc, contrib, lambda a, b: a + b)

    counts = F.aggregate(hashes, zeros, step)
    return F.aggregate(
        counts,
        F.struct(F.lit(0).cast("bigint").alias("v"),
                 F.lit(1).cast("bigint").alias("w")),
        lambda acc, c: F.struct(
            (acc["v"] + F.when(c > 0, acc["w"])
             .otherwise(F.lit(0).cast("bigint"))).alias("v"),
            (acc["w"] * 2).alias("w")),
        lambda acc: acc["v"],
    )


# --- Spark expression references of the character statistics ---------------
# quality.char_stats_fast computes these in one Python crossing; the Column
# folds below are its bitwise reference (test_char_stats_fast_parity).

def char_run_sq_sum(text):
    """Sum over distinct characters of count², as exact BIGINT — the
    numerator of the Simpson (Herfindahl) character-concentration index.
    ONE fold over the SORTED char array (longest-equal-run bookkeeping):
    the integer result means the index needs exactly one double division,
    bitwise-safe under the DuckDB oracle whatever the summation order."""
    from pyspark.sql import functions as F

    # split('', '') yields [''] (not []) — drop it so empty text folds to 0
    sorted_c = F.array_sort(
        F.filter(F.split(text, ""), lambda c: c != F.lit("")))
    acc0 = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("bigint").alias("run"),
                    F.lit(0).cast("bigint").alias("acc"))

    def step(acc, x):
        is_run = x == acc["prev"]
        run = F.when(is_run, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        # retire the finished run's run² when the char changes
        acc_out = F.when(is_run, acc["acc"]) \
            .otherwise(acc["acc"] + acc["run"] * acc["run"])
        return F.struct(x.alias("prev"), run.alias("run"),
                        acc_out.alias("acc"))

    return F.aggregate(sorted_c, acc0, step,
                       lambda a: a["acc"] + a["run"] * a["run"])


def char_simpson(text):
    """sum_c (count_c / n)², range (0, 1], 1 = one repeated character;
    0.0 for empty text."""
    from pyspark.sql import functions as F

    n = F.length(text)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        char_run_sq_sum(text).cast("double") / (n * n).cast("double"))


def distinct_char_frac(text):
    """Distinct characters over total characters; 0.0 for empty text."""
    from pyspark.sql import functions as F

    n = F.length(text)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(F.split(text, ""))).cast("double")
        / n.cast("double"))


# --- Spark expression references of the heuristic stats ---------------------
# kernels.quality_stats computes the 14 stats in Python, in the fused pass
# and behind quality.with_quality_stats; these Column forms are the JVM
# semantics it must reproduce bit for bit (test_kernel_parity.py).  Each is
# one Catalyst expression over the text or its token array; the
# higher-order ones run interpreted, which is why no shipped plan uses them.

_ALPHA_CLASS = "[A-Za-zÀ-ÿ一-鿿]"


def zh_chars(text):
    """Per-character tokens for space-free CJK text: Java's \\s removed,
    then a per-code-point split (``[""]`` for nothing left)."""
    from pyspark.sql import functions as F

    return F.split(F.regexp_replace(text, r"\s+", ""), "")


def n_words(toks):
    from pyspark.sql import functions as F

    return F.size(toks).cast("bigint")


def mean_word_len(toks):
    from pyspark.sql import functions as F

    total = F.aggregate(toks, F.lit(0).cast("bigint"),
                        lambda a, t: a + F.length(t))
    return total.cast("double") / F.greatest(
        F.size(toks), F.lit(1)).cast("double")


def symbol_ratio(text):
    from pyspark.sql import functions as F

    n_sym = F.length(text) - F.length(
        F.regexp_replace(text, "[#@$%^&*+=~|]", ""))
    return n_sym.cast("double") / F.greatest(
        F.length(text), F.lit(1)).cast("double")


def stopword_frac(toks, lang: str = "en"):
    from pyspark.sql import functions as F

    sw = ZH_STOP_CHARS if lang == "zh" else STOPWORDS[lang]
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*sw)))
    return hits.cast("double") / F.greatest(
        F.size(toks), F.lit(1)).cast("double")


def stopword_frac_by_lang(toks, lang):
    """Per-row language dispatch: fr/de/es/zh their own list, every other
    lang (NULL too) en."""
    from pyspark.sql import functions as F

    expr = stopword_frac(toks, "en")
    for lg in ("fr", "de", "es", "zh"):
        expr = F.when(lang == lg, stopword_frac(toks, lg)).otherwise(expr)
    return expr


def alpha_word_frac(toks):
    from pyspark.sql import functions as F

    hits = F.size(F.filter(toks, lambda t: t.rlike(_ALPHA_CLASS)))
    return hits.cast("double") / F.greatest(
        F.size(toks), F.lit(1)).cast("double")


def lines(text):
    from pyspark.sql import functions as F

    return F.filter(F.split(text, "\n"), lambda l: F.trim(l) != F.lit(""))


def paragraphs(text):
    from pyspark.sql import functions as F

    return F.filter(F.split(text, r"\n{2,}"),
                    lambda p: F.trim(p) != F.lit(""))


def _repeat_frac(parts):
    from pyspark.sql import functions as F

    n = F.size(parts)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(parts)).cast("double") / n.cast("double"))


def repeated_line_frac(text):
    return _repeat_frac(lines(text))


def repeated_paragraph_frac(text):
    return _repeat_frac(paragraphs(text))


def _line_frac(text, pattern: str):
    from pyspark.sql import functions as F

    ls = lines(text)
    n = F.size(ls)
    hits = F.size(F.filter(ls, lambda l: l.rlike(pattern)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n.cast("double"))


def bullet_line_frac(text):
    return _line_frac(text, r"^\s*[-*•]")


def ellipsis_line_frac(text):
    return _line_frac(text, r"(\.\.\.|…)\s*$")


def terminal_punct_line_frac(text):
    return _line_frac(text, r"[.!?\"]\s*$")


def sentence_count(text):
    from pyspark.sql import functions as F

    return F.regexp_count(
        text, F.lit(r"[.!?](\s|$)|[。！？]")).cast("bigint")


def has_lorem_ipsum(text):
    from pyspark.sql import functions as F

    return F.contains(F.lower(text), F.lit("lorem ipsum"))


def has_curly_brace(text):
    from pyspark.sql import functions as F

    return F.contains(text, F.lit("{"))


def toxicity_hits(toks):
    from pyspark.sql import functions as F

    return F.size(F.filter(
        toks, lambda t: F.lower(t).isin(*TOXICITY_WORDS))).cast("bigint")


def quality_stat_exprs(text, lang=None) -> dict:
    """The 14 stats of ``text`` as Column expressions, in
    ``kernels.QUALITY_STAT_COLS`` order: zh tokens and stop words on
    ``lang == "zh"`` rows, word tokens otherwise; en stop words without a
    ``lang`` column."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.functions.tokens import word_tokens

    if lang is None:
        toks = word_tokens(text)
        sw = stopword_frac(toks, "en")
    else:
        toks = F.when(lang == "zh", zh_chars(text)).otherwise(
            word_tokens(text))
        sw = stopword_frac_by_lang(toks, lang)
    return {
        "n_words": n_words(toks),
        "mean_word_len": mean_word_len(toks),
        "symbol_ratio": symbol_ratio(text),
        "stopword_frac": sw,
        "alpha_word_frac": alpha_word_frac(toks),
        "repeated_line_frac": repeated_line_frac(text),
        "repeated_paragraph_frac": repeated_paragraph_frac(text),
        "bullet_line_frac": bullet_line_frac(text),
        "ellipsis_line_frac": ellipsis_line_frac(text),
        "terminal_punct_line_frac": terminal_punct_line_frac(text),
        "sentence_count": sentence_count(text),
        "has_lorem_ipsum": has_lorem_ipsum(text),
        "has_curly_brace": has_curly_brace(text),
        "toxicity_hits": toxicity_hits(toks),
    }


# --- Spark expression references of the nearest-centroid kernel -------------
# operators/kmeans.py assigns cells only through ``_nearest_cells`` (one
# matmul per Arrow batch).  These Column folds over an inlined literal
# centroid array are the JVM semantics it must label like, and the
# sequential fold ``kmeans_cost`` must equal bit for bit; no shipped plan
# uses them.

def sq_dist(a, b):
    """Index-ordered double-precision squared L2 distance (deterministic
    fold, same shape as similarity.dot)."""
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v * v,
    )


def _centroid_lit(centroids):
    """The k x dim centroid matrix as one literal array<array<double>>."""
    from pyspark.sql import functions as F

    return F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])


def centroid_dists(vec, centroids):
    """array<double>: ``sq_dist`` from ``vec`` to each centroid, by id.  A
    NULL or ragged vector, or one with a NULL element, gives NULLs."""
    from pyspark.sql import functions as F

    return F.transform(_centroid_lit(centroids), lambda c: sq_dist(vec, c))


def nearest_centroid(vec, centroids):
    """0-based id of the nearest centroid by squared L2; ties -> lowest id
    (``array_position`` returns the FIRST index of the min element;
    ``array_min`` skips NULL and ranks NaN above every number)."""
    from pyspark.sql import functions as F

    dists = centroid_dists(vec, centroids)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("bigint")


def kmeans_cost(df, centroids) -> float:
    """Sum over ``df``'s embeddings of the nearest centroid's ``sq_dist``."""
    from pyspark.sql import functions as F

    row = df.select(F.sum(F.array_min(
        centroid_dists(F.col("embedding"), centroids))).alias("c")).first()
    return float(row["c"]) if row["c"] is not None else 0.0
