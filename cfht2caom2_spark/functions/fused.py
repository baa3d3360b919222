"""Fused extraction + model-scoring + heuristic-stats stage — one Arrow
crossing.

Reference analogue: single-visit fusion — when STORE/INGEST/MODIFY co-occur,
the reference replaces the multi-executor list with ONE fused executor so the
file bytes and headers are read exactly once (composable.py:90-98 decision,
cfht_name.py:830-903 executor choice).  Here: extraction, language-ID and
perplexity all need the payload on the Python side, so shipping the batch
across the Arrow boundary three times (mapInPandas + two pandas UDFs) pays
3x serialization.  This stage does all of it in one ``mapInPandas`` pass:

    payload bytes -> extracted_text, extracted_sha256,
                     lang_pred, lang_conf, ppl,
                     the 14 heuristic stats of (extracted_text, lang_pred)
                     [, minhash_sig]

The stats ride the pass because the text is already in Python here: one
Arrow crossing spreads its cost over the batch, while the same stats as
Spark expressions ran ~9 interpreted higher-order lambdas per row.

The per-stage modules (extraction/langid/perplexity) and the word kernels
(functions/kernels.py) are the unit-tested source of truth; this stage
only composes their pure batch kernels.  It is the pipeline's only
extraction + scoring path.
"""

from __future__ import annotations

from collections.abc import Iterator
from zlib import crc32

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.dedup import _perm_params
from .extraction import extract_html, sha256_text
from .kernels import minhash_sig
from .langid import TrigramLangID
from .perplexity import BigramLM
from .quality import QUALITY_STAT_FIELDS, quality_stats_frame

_OUT_FIELDS = [
    T.StructField("extracted_text", T.StringType()),
    T.StructField("extracted_sha256", T.StringType()),
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("ppl", T.DoubleType()),
]

_SIG_FIELD = T.StructField("minhash_sig", T.ArrayType(T.LongType()))


def minhash_sig_py(text: str | None, A, B, k: int = 3):
    """MinHash of word k-shingles under the crc32 base hash
    (``kernels.minhash_sig``; the ``shingle_hash_fast`` family).  Runs
    here because Spark's higher-order array functions are interpreted, not
    codegen'd: a JVM-side fold costs ~2 ms/doc and dominates the whole
    pipeline, while one (n_shingles x n_perms) numpy broadcast is ~30 us.

    Pinned NULL rule: NULL and ``""`` sign as None, so the dedup stage
    skips those rows.  Whitespace-only text is not empty: it signs as the
    single ``b""`` shingle, like the JVM path's ``word_shingles``."""
    if not text:
        return None
    return minhash_sig(text, A, B, k, crc32)


def with_extract_and_scores(df: DataFrame, spark: SparkSession,
                            langid_model: TrigramLangID | None = None,
                            ppl_model: BigramLM | None = None,
                            has_html: bool = True,
                            minhash_perms: int = 0,
                            shingle_k: int = 3) -> DataFrame:
    """Append extraction, all model scores, the heuristic stats (+ an
    optional MinHash signature) in a single Arrow pass, extracting from
    ``html`` (``text`` where the html is empty, or always when not
    ``has_html``)."""
    bc = spark.sparkContext.broadcast(
        (langid_model or TrigramLangID(), ppl_model or BigramLM())
    )
    # payload columns cross INTO Python (extraction needs the bytes) but are
    # consumed there — returning them would ship every page body back across
    # Arrow a second time for a downstream .drop(); exclude them from the
    # output schema instead (halves UDF serialization traffic)
    consumed = {"html", "text"}
    kept_fields = [f for f in df.schema.fields if f.name not in consumed]
    fields = kept_fields + _OUT_FIELDS + list(QUALITY_STAT_FIELDS)
    if minhash_perms:
        import numpy as np

        perms = _perm_params(minhash_perms)
        A = np.array([a for a, _ in perms], dtype=np.int64)
        B = np.array([b for _, b in perms], dtype=np.int64)
        fields = fields + [_SIG_FIELD]
    schema = T.StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lid, lm = bc.value  # one deserialize per task
        for pdf in batches:
            if has_html:
                texts = [
                    extract_html(h) if h is not None and len(h) > 0 else t
                    for h, t in zip(pdf["html"], pdf["text"])
                ]
            else:
                texts = [t for t in pdf["text"]]
            # whole-batch model scoring: one np.unique + segment-reduceat per
            # Arrow batch instead of ~135 us/doc of per-doc numpy fixed cost
            langs, confs = lid.predict_batch(texts)
            ppls = lm.perplexity_batch(texts, langs)
            out = pdf.drop(columns=[c for c in ("html", "text")
                                    if c in pdf.columns])
            out["extracted_text"] = pd.Series(texts, index=pdf.index, dtype=object)
            out["extracted_sha256"] = out["extracted_text"].map(
                sha256_text, na_action="ignore")
            out["lang_pred"] = langs
            out["lang_conf"] = pd.Series(confs, index=pdf.index, dtype="float64")
            out["ppl"] = pd.Series(ppls, index=pdf.index, dtype="float64")
            out = pd.concat(
                [out, quality_stats_frame(texts, langs, pdf.index)], axis=1)
            if minhash_perms:
                out["minhash_sig"] = pd.Series(
                    [minhash_sig_py(t, A, B, shingle_k) for t in texts],
                    index=pdf.index, dtype=object)
            yield out

    return df.mapInPandas(run, schema=schema)
