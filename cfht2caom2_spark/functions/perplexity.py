"""Character-bigram perplexity scoring (CCNet-style LM quality gate).

Reference analogue: the data-visitor pass that opens payload bytes and derives
a numeric score per record (espadons_energy_augmentation.py:139-153 reads the
wavelength vector and reduces it to bounds) — a per-record numeric reduction
over content, separate from the metadata rules.

A KenLM 5-gram LM would slot in identically (same broadcast + batch
contract); the container has no kenlm, so the LM is a per-language add-one
character-bigram model trained on the embedded seed corpora.  Perplexity is
``2^H`` with H the average negative log2 probability of each character given
its predecessor, under the model of ``lang`` (falling back to English for
unknown languages so the score is always defined — total function, never an
exception).
"""

from __future__ import annotations

import math
import re
from collections import Counter

from pyspark.sql import functions as F

from ..corpora import CORPORA

_RE_WS = re.compile(r"\s+")


class BigramLM:
    """Per-language add-one char-bigram LM.  Pure, picklable, broadcastable."""

    def __init__(self, corpora: dict[str, str] | None = None,
                 counts: dict[str, tuple[dict, dict]] | None = None):
        """Build from seed ``corpora`` strings (default) or directly from
        ``counts`` — {lang: (bigram->count, char->count)} as produced by
        ``corpus_lm_counts``' Spark aggregation or any equivalent counter.
        Both routes share the SAME smoothing formula, so a model trained on
        a corpus string equals a model built from that string's counts."""
        if counts is None:
            corpora = corpora or CORPORA
            counts = {}
            for lang, corpus in corpora.items():
                text = " " + _RE_WS.sub(" ", corpus.lower()) + " "
                counts[lang] = (
                    Counter(text[i: i + 2] for i in range(len(text) - 1)),
                    Counter(text),
                )
        self.models: dict[str, dict[str, float]] = {}
        self.floors: dict[str, float] = {}
        for lang, (bigrams, unigrams) in counts.items():
            vocab = len(unigrams) + 1
            self.models[lang] = {
                bg: math.log2((c + 1) / (unigrams[bg[0]] + vocab))
                for bg, c in bigrams.items()
            }
            # unseen bigram: assume unseen context with count ~ median unigram
            self.floors[lang] = math.log2(1 / (vocab * 4))
        # integer-keyed variants for the numpy scoring path: bigram id =
        # code(c1) * 2^16 + code(c2) over UTF-16 code units
        self.models_int: dict[str, dict[int, float]] = {}
        for lang, model in self.models.items():
            self.models_int[lang] = {
                (ord(bg[0]) << 16) | ord(bg[1]): lp for bg, lp in model.items()
            }
        # sorted-id + logprob arrays per lang: bigram-id -> logprob resolves
        # with one np.searchsorted instead of a python dict.get per unique
        # bigram (same exact semantics, vectorized)
        import numpy as np

        self._sorted: dict[str, tuple] = {}
        for lang, mi in self.models_int.items():
            ids = np.fromiter(mi.keys(), dtype=np.int64, count=len(mi))
            lps = np.fromiter(mi.values(), dtype=np.float64, count=len(mi))
            order = np.argsort(ids)
            self._sorted[lang] = (ids[order], lps[order])
        # the python dicts are construction scaffolding only — scoring reads
        # the arrays; dropping them shrinks the broadcast every task ships
        del self.models, self.models_int

    SAMPLE_CHARS = 1000

    def perplexity_one_scalar(self, text: str | None, lang: str | None) -> float:
        """Reference scalar semantics — the spec `perplexity_batch` must match
        (pinned by batch-parity test).  Production paths call
        `perplexity_batch`; `perplexity_one` delegates to a batch of 1 so
        every caller shares one numeric code path."""
        import numpy as np

        if not text:
            return float("inf")
        lang = lang if lang in self._sorted else "en"
        floor = self.floors[lang]
        sorted_ids, sorted_lps = self._sorted[lang]
        sample = " " + _RE_WS.sub(" ", text[: self.SAMPLE_CHARS].lower()) + " "
        codes = np.frombuffer(sample.encode("utf-16-le"), dtype=np.uint16)
        n = len(codes) - 1
        if n <= 0:
            return float("inf")
        ids = (codes[:-1].astype(np.int64) << 16) | codes[1:]
        uniq, counts = np.unique(ids, return_counts=True)
        pos = np.searchsorted(sorted_ids, uniq)
        pos[pos >= len(sorted_ids)] = 0
        hit = sorted_ids[pos] == uniq
        logps = np.where(hit, sorted_lps[pos], floor)
        total = float(np.dot(counts, logps))
        return 2.0 ** (-total / n)

    def perplexity_one(self, text: str | None, lang: str | None) -> float:
        return float(self.perplexity_batch([text], [lang])[0])

    def perplexity_batch(self, texts, langs):
        """Whole-batch scoring grouped by resolved language: per lang, ONE
        np.unique over (doc_id << 32 | bigram_id) keys and a segment
        `np.add.reduceat` per document — amortizes the per-doc numpy fixed
        overhead (measured ~49 us/doc scalar) across the Arrow batch.
        reduceat reduces each doc's segment independently in the ascending-
        bigram order a single-doc call sees, so batch == N x scalar (pinned
        by test).  Returns a float64 numpy array aligned with the input."""
        import numpy as np

        texts = list(texts)
        langs = list(langs)
        out = np.full(len(texts), np.inf, dtype=np.float64)
        by_lang: dict[str, list[tuple[int, bytes]]] = {}
        for i, (t, l) in enumerate(zip(texts, langs)):
            if not t:
                continue
            l = l if l in self._sorted else "en"
            sample = " " + _RE_WS.sub(" ", t[: self.SAMPLE_CHARS].lower()) + " "
            by_lang.setdefault(l, []).append((i, sample.encode("utf-16-le")))
        for l, rows in by_lang.items():
            floor = self.floors[l]
            sorted_ids, sorted_lps = self._sorted[l]
            d = len(rows)
            lens = np.fromiter((len(e) // 2 for _, e in rows),
                               dtype=np.int64, count=d)
            codes = np.frombuffer(b"".join(e for _, e in rows),
                                  dtype=np.uint16).astype(np.int64)
            doc_of = np.repeat(np.arange(d, dtype=np.int64), lens)
            ids = (codes[:-1] << 16) | codes[1:]
            valid = doc_of[:-1] == doc_of[1:]
            combined = (doc_of[:-1][valid] << 32) | ids[valid]
            uniq, counts = np.unique(combined, return_counts=True)
            bg = uniq & 0xFFFFFFFF
            pos = np.searchsorted(sorted_ids, bg)
            pos[pos >= len(sorted_ids)] = 0
            hit = sorted_ids[pos] == bg
            logps = np.where(hit, sorted_lps[pos], floor)
            # one bincount: doc -> sum counts * logprob, accumulated in
            # ascending-bigram order per doc (batch-of-1 == batch-of-N)
            totals = np.bincount(uniq >> 32, weights=counts * logps,
                                 minlength=d)
            ppl = 2.0 ** (-totals / (lens - 1))
            out[[i for i, _ in rows]] = ppl
        return out


class KenLMModel:
    """KenLM drop-in for BigramLM — same broadcast + batch contract
    (MODEL CONTRACT: ``perplexity_batch(texts, langs) -> float array``;
    anything implementing it slots into the fused stage and build_pipeline
    unchanged — exercised by tests/test_model_swap.py).

    Construct with {lang: path-to-arpa-or-binary}; model BYTES are pickled
    so broadcast ships them and each task loads once (kenlm.Model holds a
    file handle and is not picklable).  Raises ImportError without the
    kenlm package — import-guarded, covered by a skipif-marked test.
    """

    def __init__(self, model_paths: dict[str, str], fallback_lang: str = "en"):
        self._blobs = {}
        for lang, path in model_paths.items():
            with open(path, "rb") as fh:
                self._blobs[lang] = fh.read()
        self._fallback = fallback_lang
        self._models: dict | None = None
        self._load()  # fail fast on the driver if kenlm is missing

    def _load(self):
        if self._models is None:
            import os
            import tempfile

            import kenlm

            self._models = {}
            for lang, blob in self._blobs.items():
                fd, path = tempfile.mkstemp(suffix=".arpa")
                try:
                    with os.fdopen(fd, "wb") as fh:
                        fh.write(blob)
                    self._models[lang] = kenlm.Model(path)
                finally:
                    os.unlink(path)
        return self._models

    def __getstate__(self):
        return {"_blobs": self._blobs, "_fallback": self._fallback}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._models = None

    def perplexity_batch(self, texts, langs):
        import numpy as np

        models = self._load()
        texts, langs = list(texts), list(langs)
        out = np.full(len(texts), np.inf, dtype=np.float64)
        for i, (t, l) in enumerate(zip(texts, langs)):
            if not t:
                continue
            m = models.get(l if l in models else self._fallback)
            if m is None:
                continue
            sent = _RE_WS.sub(" ", t).strip()
            n_words = max(sent.count(" ") + 1, 1)
            # kenlm full-sentence log10 prob (with BOS/EOS) -> per-word ppl
            out[i] = 10.0 ** (-m.score(sent) / (n_words + 1))
        return out



# ---------------------------------------------------------------------------
# corpus-scale training
# ---------------------------------------------------------------------------

def char_bigram_counts(df, text_col: str = "extracted_text",
                       lang_col: str = "lang_pred"):
    """(lang, bigram, n) over the whitespace-normalized, lower-cased,
    space-padded text — EXACTLY the counting the seed-corpus constructor
    does per language, expressed as JVM columns: one transform/explode and
    one map-side-combined groupBy, so at corpus scale the shuffle carries
    only (lang, bigram) partial counts (bounded by charset², never by
    corpus size).

    Reference analogue: the per-collection statistics pass that derives
    model inputs from the payload itself (espadons energy bounds,
    /root/reference/cfht2caom2/espadons_energy_augmentation.py:139-153).
    """
    # Round 6 (guide §4.2): the previous JVM form split every document into
    # a per-codepoint string array, zipped it into ~len(text) two-char
    # strings and exploded them — ~16M tiny string allocations at sf1.0
    # (15.9 s).  Counting is the textbook vectorized-batch job: one
    # mapInPandas crossing carries only (lang, text), each task folds its
    # whole partition into a charset²-bounded counter via numpy (codepoint
    # pairs packed into int64 keys, doc boundaries masked exactly), and the
    # final groupBy sums per-task partials — the same map-side-combine
    # shape, with the per-row work two orders of magnitude cheaper.
    # Semantics are unchanged: kernels.WS_RE is Java's default \s
    # ([ \t\n\x0B\f\r]) and str.lower matches UTF8String.toLowerCase on
    # this pipeline's text; equivalence vs the expression form is pinned by
    # the DuckDB oracle (tests/test_oracle_parity.py) and
    # tests/test_operators.py char-bigram parity.
    import numpy as np
    import pandas as pd

    from .kernels import WS_RE

    base = (df.filter(F.col(text_col).isNotNull()
                      & F.col(lang_col).isNotNull())
            .select(F.col(lang_col).alias("lang"),
                    F.col(text_col).alias("_t")))

    def count_partition(batches):
        per_lang: dict[str, dict[int, int]] = {}
        for pdf in batches:
            for lang, grp in pdf.groupby("lang", sort=False):
                texts = [" " + WS_RE.sub(" ", t.lower()) + " "
                         for t in grp["_t"]]
                joined = "".join(texts)
                codes = np.frombuffer(
                    joined.encode("utf-32-le"), dtype=np.uint32)
                if len(codes) < 2:
                    continue
                keys = (codes[:-1].astype(np.int64) << 21) | codes[1:]
                # mask the artificial bigram straddling each doc boundary
                valid = np.ones(len(codes) - 1, dtype=bool)
                ends = np.cumsum([len(t) for t in texts])[:-1]
                valid[ends - 1] = False
                uniq, cnt = np.unique(keys[valid], return_counts=True)
                acc = per_lang.setdefault(lang, {})
                for k, c in zip(uniq.tolist(), cnt.tolist()):
                    acc[k] = acc.get(k, 0) + c
        rows = [(lang, chr(k >> 21) + chr(k & ((1 << 21) - 1)), c)
                for lang, acc in per_lang.items()
                for k, c in acc.items()]
        yield pd.DataFrame(rows, columns=["lang", "bigram", "n"]) \
            if rows else pd.DataFrame(
                {"lang": pd.Series(dtype="object"),
                 "bigram": pd.Series(dtype="object"),
                 "n": pd.Series(dtype="int64")})

    partials = base.mapInPandas(
        count_partition, schema="lang string, bigram string, n long")
    return (partials.groupBy("lang", "bigram")
            .agg(F.sum("n").alias("n")))


def char_unigram_counts(df, text_col: str = "extracted_text"):
    """(lang, char, n) over the same normalized padded text, by
    ``lang_pred``."""
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "),
        F.lit(" "))
    base = (df.filter(F.col(text_col).isNotNull()
                      & F.col("lang_pred").isNotNull())
            .select(F.col("lang_pred").alias("lang"), norm.alias("_n")))
    chars = base.select(
        "lang", F.explode(F.split("_n", "")).alias("ch")
    ).filter(F.col("ch") != "")
    return chars.groupBy("lang", "ch").agg(F.count(F.lit(1)).alias("n"))


def corpus_lm_counts(df, text_col: str = "extracted_text") -> dict:
    """Run both count jobs and assemble {lang: (bigram->n, char->n)} by
    ``lang_pred`` on the driver — the serializable intermediate the
    train-lm CLI prints.  ``BigramLM(counts=corpus_lm_counts(df,
    text_col=...))`` trains the perplexity LM FROM the corpus (the CCNet
    recipe: fit the LM on your own kept text, score against it).  Counting
    is distributed (map-side-combined aggregations whose shuffle is
    bounded by charset²), only the per-language count tables land on the
    driver, and the model reuses the seed-corpus smoothing verbatim, so a
    model trained on one document equals ``BigramLM(corpora={lang: doc})``
    exactly (pytest-pinned).  A decisions store holds the trainable text
    in ``scrubbed_text``."""
    counts: dict[str, tuple[Counter, Counter]] = {}
    for r in char_bigram_counts(df, text_col).collect():
        counts.setdefault(r["lang"], (Counter(), Counter()))[0][r["bigram"]] = r["n"]
    for r in char_unigram_counts(df, text_col).collect():
        counts.setdefault(r["lang"], (Counter(), Counter()))[1][r["ch"]] = r["n"]
    return counts


def lm_counts_to_json(model_df_counts: dict) -> str:
    """Serialize {lang: (bigram->n, char->n)} for the train-lm CLI."""
    import json

    return json.dumps({
        lang: {"bigrams": dict(bg), "chars": dict(un)}
        for lang, (bg, un) in model_df_counts.items()
    })


def lm_counts_from_json(payload: str) -> "BigramLM":
    """Rebuild a trained model from the train-lm CLI's JSON."""
    import json

    raw = json.loads(payload)
    counts = {lang: (Counter(d["bigrams"]), Counter(d["chars"]))
              for lang, d in raw.items()}
    return BigramLM(counts=counts)
