"""Language identification — broadcast n-gram model, Arrow-batched scoring.

Reference analogue: instrument detection with an honest fallback chain
(``get_instrument``, reference cfht_name.py:447-522): try strong evidence
first, degrade gracefully, NEVER raise — unsupported input yields a sentinel
(cfht_name.py:516-520).  Here: CJK-ratio shortcut -> character-trigram
naive-Bayes over the seed corpora -> ``und`` sentinel below the confidence
floor (the ``lang_conf`` drop-rule fires downstream, it is not an error).

Execution contract (north_rule "no per-row Python"): the model is trained once
on the driver, shipped via ``SparkContext.broadcast``, and applied inside the
fused stage's ``mapInPandas`` pass (functions/fused.py) — the model
deserializes once per task, then ``predict_batch`` scores whole Arrow batches
with vectorized numpy ops.  This is the Spark idiom replacing fastText in
environments where the binary model/library is unavailable; the class is
swappable for a fastText wrapper with the same ``predict_batch`` signature.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from ..corpora import CORPORA

_RE_WS = re.compile(r"\s+")
_RE_CJK = re.compile("[一-鿿]")


def _normalize(text: str) -> str:
    return " " + _RE_WS.sub(" ", text.lower()).strip() + " "


class TrigramLangID:
    """Add-one-smoothed character-trigram naive Bayes.  Pure, picklable.

    The unseen-trigram penalty is a UNIFORM floor across languages: with
    per-corpus floors, the language with the smallest corpus gets the highest
    floor and wins by default on out-of-domain text (the degenerate case any
    honest small-model langid hits).  Scripts gate candidates first: a model
    whose script doesn't appear in the text can't win on floor ties.
    """

    UNSEEN_LOGPROB = -9.0
    SAMPLE_CHARS = 600  # classification saturates well below this

    def __init__(self):
        self.langs: list[str] = sorted(CORPORA)
        self.logprob: dict[str, dict[str, float]] = {}
        self.floor: dict[str, float] = {}
        for lang, corpus in CORPORA.items():
            text = _normalize(corpus)
            counts = Counter(text[i : i + 3] for i in range(len(text) - 2))
            total = sum(counts.values())
            vocab = len(counts) + 1
            self.logprob[lang] = {
                g: math.log((c + 1) / (total + vocab)) for g, c in counts.items()
            }
            self.floor[lang] = self.UNSEEN_LOGPROB
        # one preassembled (G+1 x L) score matrix; grams map to row indices
        # (UTF-16 code units packed into int64), last row = unseen floor —
        # scoring is then counts @ M[idx], no per-gram array work
        import numpy as np

        all_grams = sorted(set().union(*[set(m) for m in self.logprob.values()]))
        self.rowmap: dict[int, int] = {
            (ord(g[0]) << 32) | (ord(g[1]) << 16) | ord(g[2]): i
            for i, g in enumerate(all_grams)
        }
        rows = [[self.logprob[l].get(g, self.floor[l]) for l in self.langs]
                for g in all_grams]
        rows.append([self.floor[l] for l in self.langs])
        self.score_matrix = np.array(rows, dtype=np.float64)
        # transposed copy for the batch path: per-lang row gathers are
        # contiguous, feeding one np.bincount per language
        self.score_matrix_t = np.ascontiguousarray(self.score_matrix.T)
        self.floor_row = len(all_grams)
        # sorted-id + row-permutation arrays: gram-id -> row resolves with one
        # np.searchsorted instead of a python dict.get per unique gram (the
        # dict path profiled at ~40% of predict_one)
        ids = np.fromiter(self.rowmap.keys(), dtype=np.int64, count=len(self.rowmap))
        order = np.argsort(ids)
        self._sorted_ids = ids[order]
        self._sorted_rows = np.fromiter(
            self.rowmap.values(), dtype=np.int64, count=len(self.rowmap))[order]
        # the python dicts are construction scaffolding only — scoring reads
        # the arrays; dropping them halves what the broadcast ships to every
        # executor and what each task deserializes
        del self.rowmap, self.logprob

    def predict_one_scalar(self, text: str | None) -> tuple[str, float]:
        """Reference scalar semantics — the spec `predict_batch` must match
        (pinned by tests/test_extraction.py batch-parity test).  Production
        paths call `predict_batch`; `predict_one` delegates to a batch of 1
        so every caller shares one numeric code path."""
        if not text:
            return "und", 0.0
        # CJK shortcut — the strong-evidence-first branch
        n = min(len(text), self.SAMPLE_CHARS)
        sample = text[:n]
        cjk = len(_RE_CJK.findall(sample))
        if cjk / max(n, 1) > 0.30:
            return "zh", min(1.0, cjk / max(n, 1) + 0.5)
        norm = _normalize(sample)
        n_grams = len(norm) - 2
        if n_grams <= 0:
            return "und", 0.0
        # vectorized: UTF-16 code units -> int64 trigram ids -> np.unique ->
        # one lookup per UNIQUE gram, counts (x) score-matrix product
        import numpy as np

        codes = np.frombuffer(norm.encode("utf-16-le"), dtype=np.uint16) \
            .astype(np.int64)
        ids = (codes[:-2] << 32) | (codes[1:-1] << 16) | codes[2:]
        uniq, counts = np.unique(ids, return_counts=True)
        # vectorized id->row: searchsorted into the sorted gram-id array,
        # misses fall to the floor row (exactly rowmap.get(u, floor_row))
        pos = np.searchsorted(self._sorted_ids, uniq)
        pos[pos >= len(self._sorted_ids)] = 0
        hit = self._sorted_ids[pos] == uniq
        idx = np.where(hit, self._sorted_rows[pos], self.floor_row)
        acc = counts @ self.score_matrix[idx]
        # script gating: zh competes only when CJK is actually present
        zh_ok = cjk / max(n, 1) > 0.05
        scores = {
            lang: acc[k] / n_grams
            for k, lang in enumerate(self.langs)
            if lang != "zh" or zh_ok
        }
        # deterministic argmax: score desc, lang asc
        best = min(scores, key=lambda l: (-scores[l], l))
        ordered = sorted(scores.values(), reverse=True)
        # margin-based confidence in (0,1]: softmax over per-gram avg logprob
        margin = ordered[0] - (ordered[1] if len(ordered) > 1 else ordered[0] - 1.0)
        conf = 1.0 - math.exp(-3.0 * margin)
        # absolute-fit floor: pure gibberish fits no model
        if ordered[0] < -7.5:
            conf = min(conf, 0.2)
        return best, max(0.0, min(1.0, conf))

    def predict_one(self, text: str | None) -> tuple[str, float]:
        langs, confs = self.predict_batch([text])
        return langs[0], confs[0]

    # keep doc-index shifts inside int64: 48 gram bits + 15 doc bits < 63
    _BATCH_CHUNK = 16384

    def predict_batch(self, texts) -> tuple[list[str], list[float]]:
        """Whole-batch scoring: ONE np.unique over (doc_id << 48 | trigram_id)
        keys for the entire Arrow batch, one score-matrix gather, and a
        segment `np.add.reduceat` per document — the per-doc numpy fixed
        overhead (the measured ~86 us/doc of `predict_one_scalar`) amortizes
        across the batch.  reduceat reduces each doc's segment independently
        in the same ascending-gram order a single-doc call sees, so a batch
        of N is bit-identical to N batches of 1 (pinned by test)."""
        import numpy as np

        texts = list(texts)
        langs_out: list[str] = ["und"] * len(texts)
        confs_out: list[float] = [0.0] * len(texts)
        # stage 1 (per-doc, cheap C calls): sample, CJK gate, normalize, encode
        doc_idx: list[int] = []
        encs: list[bytes] = []
        n_grams_chars: list[int] = []  # predict_one divides by CHAR count
        zh_ok: list[bool] = []
        for i, t in enumerate(texts):
            if not t:
                continue
            n = min(len(t), self.SAMPLE_CHARS)
            sample = t[:n]
            cjk = len(_RE_CJK.findall(sample))
            r = cjk / max(n, 1)
            if r > 0.30:
                langs_out[i] = "zh"
                confs_out[i] = min(1.0, r + 0.5)
                continue
            norm = _normalize(sample)
            if len(norm) - 2 <= 0:
                continue  # und, 0.0
            doc_idx.append(i)
            encs.append(norm.encode("utf-16-le"))
            n_grams_chars.append(len(norm) - 2)
            zh_ok.append(r > 0.05)
        L = len(self.langs)
        zhi = self.langs.index("zh") if "zh" in self.langs else -1
        for lo in range(0, len(doc_idx), self._BATCH_CHUNK):
            hi = min(lo + self._BATCH_CHUNK, len(doc_idx))
            d = hi - lo
            lens = np.fromiter((len(e) // 2 for e in encs[lo:hi]),
                               dtype=np.int64, count=d)
            codes = np.frombuffer(b"".join(encs[lo:hi]), dtype=np.uint16) \
                .astype(np.int64)
            doc_of = np.repeat(np.arange(d, dtype=np.int64), lens)
            ids = (codes[:-2] << 32) | (codes[1:-1] << 16) | codes[2:]
            # a trigram is a doc's iff it does not span a doc boundary
            valid = doc_of[:-2] == doc_of[2:]
            combined = (doc_of[:-2][valid] << 48) | ids[valid]
            uniq, counts = np.unique(combined, return_counts=True)
            gram = uniq & ((1 << 48) - 1)
            pos = np.searchsorted(self._sorted_ids, gram)
            pos[pos >= len(self._sorted_ids)] = 0
            hit = self._sorted_ids[pos] == gram
            idx = np.where(hit, self._sorted_rows[pos], self.floor_row)
            # one bincount per language over (doc -> sum counts * logprob):
            # sequential accumulation in ascending-gram order per doc, so a
            # batch of 1 and a batch of N add in the identical order
            docu = uniq >> 48
            cf = counts.astype(np.float64)
            acc = np.empty((d, L), dtype=np.float64)
            for li in range(L):
                acc[:, li] = np.bincount(
                    docu, weights=cf * self.score_matrix_t[li][idx],
                    minlength=d)
            scores = acc / np.array(n_grams_chars[lo:hi],
                                    dtype=np.float64)[:, None]
            masked = scores.copy()
            if zhi >= 0:
                masked[~np.array(zh_ok[lo:hi], dtype=bool), zhi] = -np.inf
            best = np.argmax(masked, axis=1)  # first max = lang-asc tie-break
            if L >= 2:
                part = np.partition(masked, L - 2, axis=1)
                top1, top2 = part[:, L - 1], part[:, L - 2]
            else:
                top1 = masked[:, 0]
                top2 = np.full(d, -np.inf)
            # single-candidate rows reproduce the scalar ordered[0]-1.0 branch
            margin = np.where(np.isneginf(top2), 1.0, top1 - top2)
            conf = 1.0 - np.exp(-3.0 * margin)
            conf = np.where(top1 < -7.5, np.minimum(conf, 0.2), conf)
            conf = np.clip(conf, 0.0, 1.0)
            for k in range(d):
                langs_out[doc_idx[lo + k]] = self.langs[best[k]]
                confs_out[doc_idx[lo + k]] = float(conf[k])
        return langs_out, confs_out


class FastTextLangID:
    """fastText drop-in for TrigramLangID — same broadcast + batch contract
    (MODEL CONTRACT: ``predict_batch(texts) -> (list[lang], list[conf])``;
    anything implementing it slots into the fused stage and build_pipeline
    unchanged — exercised by tests/test_model_swap.py).

    Construct with the path to a lid.176.bin / lid.176.ftz model; the
    instance pickles the raw model BYTES so ``SparkContext.broadcast``
    ships it to executors and each task deserializes once (the fastText
    handle itself is not picklable).  Raises ImportError without the
    fasttext package — this container does not bundle it, so the class is
    import-guarded and covered by a skipif-marked contract test.
    """

    def __init__(self, model_path: str, conf_floor: float = 0.0):
        with open(model_path, "rb") as fh:
            self._model_bytes = fh.read()
        self._conf_floor = conf_floor
        self._ft = None
        self._load()  # fail fast on the driver if fasttext is missing

    def _load(self):
        if self._ft is None:
            import os
            import tempfile

            import fasttext

            fd, path = tempfile.mkstemp(suffix=".bin")
            try:
                with os.fdopen(fd, "wb") as fh:
                    fh.write(self._model_bytes)
                self._ft = fasttext.load_model(path)
            finally:
                os.unlink(path)
        return self._ft

    def __getstate__(self):
        return {"_model_bytes": self._model_bytes,
                "_conf_floor": self._conf_floor}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._ft = None

    def predict_batch(self, texts) -> tuple[list[str], list[float]]:
        ft = self._load()
        texts = list(texts)
        langs, confs = ["und"] * len(texts), [0.0] * len(texts)
        idx = [i for i, t in enumerate(texts) if t]
        # fastText predicts a whole list in one C++ call; newlines are
        # illegal in its input, collapse them first
        labels, probs = ft.predict(
            [_RE_WS.sub(" ", texts[i]) for i in idx])
        for j, i in enumerate(idx):
            conf = float(probs[j][0])
            if conf >= self._conf_floor:
                langs[i] = labels[j][0].replace("__label__", "")
                confs[i] = min(1.0, conf)
        return langs, confs
