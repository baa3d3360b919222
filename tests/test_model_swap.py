"""Real-model swap contract (VERDICT r2 item 4).

Reference analogue: instrument detection is the reference's most defended
function — a golden-tested fallback chain per instrument
(/root/reference/cfht2caom2/tests/test_caom_gen_visit.py:101-171).  Here the
swap surface is the MODEL CONTRACT documented in functions/langid.py and
functions/perplexity.py: any object with ``predict_batch`` (langid) or
``perplexity_batch`` (LM) slots into the fused stage and build_pipeline
unchanged.

Two layers:
  * an always-running test drives the WHOLE pipeline with stub models that
    implement only the contract — proving no code path reaches for
    TrigramLangID/BigramLM internals;
  * skipif-marked tests exercise the real FastTextLangID / KenLMModel
    adapters when the libraries exist (this container has neither — the
    adapters fail fast with ImportError, also asserted).
"""

from __future__ import annotations

import importlib.util

import pytest

from cfht2caom2_spark.plans.pipeline import build_pipeline
from cfht2caom2_spark.sources.pages import synth_pages

HAS_FASTTEXT = importlib.util.find_spec("fasttext") is not None
HAS_KENLM = importlib.util.find_spec("kenlm") is not None


class StubLangID:
    """Minimal contract implementation: deterministic fake predictions."""

    def predict_batch(self, texts):
        texts = list(texts)
        langs = ["xx" if t else "und" for t in texts]
        confs = [0.9 if t else 0.0 for t in texts]
        return langs, confs


class StubLM:
    """Minimal contract implementation: ppl = 7.5 for text, inf for empty."""

    def perplexity_batch(self, texts, langs):
        import numpy as np

        return np.array([7.5 if t else float("inf") for t in texts])


@pytest.mark.parametrize("dedupe", [True, False])
def test_contract_stub_models_drive_pipeline(spark, dedupe):
    """build_pipeline consumes ONLY the documented contract methods: with
    stub models every scored row carries the stub's outputs, whether or not
    the fused pass also computes the MinHash signature (``dedupe``)."""
    from dataclasses import replace

    from cfht2caom2_spark.config import DEFAULT_PROFILE

    pages = synth_pages(spark, 120)
    # 'xx' is not an allowed lang — relax the gate so keep paths still run
    profile = replace(DEFAULT_PROFILE, allowed_langs=("xx",),
                      max_perplexity=10.0)
    rows = build_pipeline(
        pages, spark, profile=profile, dedupe=dedupe,
        langid_model=StubLangID(), ppl_model=StubLM(),
    ).collect()
    scored = [r for r in rows if r["extracted_sha256"] is not None
              and r["n_words"] and r["n_words"] > 0]
    assert scored
    for r in scored:
        assert r["lang_pred"] == "xx", r["url"]
        assert r["lang_conf"] == 0.9
        assert r["ppl"] == 7.5
    # contract models are broadcast-pickled: rules still fire downstream
    assert any(r["keep"] for r in rows)


@pytest.mark.skipif(not HAS_FASTTEXT, reason="fasttext not installed")
def test_fasttext_adapter_end_to_end(spark, tmp_path):
    """With fasttext present: train a toy supervised model, wrap it in
    FastTextLangID, run the fused pipeline — predictions flow through."""
    import fasttext

    from cfht2caom2_spark.functions.langid import FastTextLangID

    train = tmp_path / "train.txt"
    train.write_text(
        "\n".join(["__label__en the cat sat on the mat"] * 50
                  + ["__label__fr le chat est sur le tapis"] * 50))
    model_path = str(tmp_path / "toy.bin")
    fasttext.train_supervised(str(train), epoch=5).save_model(model_path)
    lid = FastTextLangID(model_path)
    langs, confs = lid.predict_batch(
        ["the cat sat on the mat", None, "le chat est sur le tapis"])
    assert langs[1] == "und" and set(langs) <= {"en", "fr", "und"}
    rows = build_pipeline(synth_pages(spark, 60), spark, dedupe=False,
                          langid_model=lid).collect()
    assert any(r["lang_pred"] in ("en", "fr") for r in rows)


@pytest.mark.skipif(not HAS_KENLM, reason="kenlm not installed")
def test_kenlm_adapter_end_to_end(spark, tmp_path):
    """With kenlm present: load a tiny ARPA file, wrap it in KenLMModel,
    run the fused pipeline — perplexities flow through."""
    from cfht2caom2_spark.functions.perplexity import KenLMModel

    arpa = tmp_path / "tiny.arpa"
    arpa.write_text(
        "\\data\\\nngram 1=4\n\n\\1-grams:\n-1.0\t<unk>\n-0.5\t<s>\n"
        "-0.5\t</s>\n-0.7\tthe\n\n\\end\\\n")
    lm = KenLMModel({"en": str(arpa)})
    ppls = lm.perplexity_batch(["the the the", None], ["en", "en"])
    assert ppls[0] > 0 and ppls[1] == float("inf")
    rows = build_pipeline(synth_pages(spark, 60), spark, dedupe=False,
                          ppl_model=lm).collect()
    assert any(r["ppl"] is not None and r["ppl"] > 0 for r in rows)


@pytest.mark.skipif(HAS_FASTTEXT and HAS_KENLM,
                    reason="libs present — fail-fast path not reachable")
def test_adapters_fail_fast_without_libs(tmp_path):
    """Without the libraries the adapters raise on the DRIVER at
    construction (never inside an executor task mid-job)."""
    blob = tmp_path / "blob.bin"
    blob.write_bytes(b"not a real model")
    if not HAS_FASTTEXT:
        from cfht2caom2_spark.functions.langid import FastTextLangID

        with pytest.raises(ImportError):
            FastTextLangID(str(blob))
    if not HAS_KENLM:
        from cfht2caom2_spark.functions.perplexity import KenLMModel

        with pytest.raises(ImportError):
            KenLMModel({"en": str(blob)})


def test_corpus_trained_lm_matches_seed_constructor(spark):
    """Corpus-scale LM training (the train-quality discipline applied to
    the perplexity model): a model trained via the Spark counting jobs on
    one document equals BigramLM(corpora={lang: doc}) EXACTLY — same
    floors, same sorted id/logprob arrays, bitwise-equal perplexities —
    so the distributed path can never drift from the seed-corpus
    smoothing.  Also pins the JSON round-trip the train-lm CLI ships."""
    import numpy as np

    from cfht2caom2_spark.functions.perplexity import (BigramLM,
                                                       corpus_lm_counts,
                                                       lm_counts_from_json,
                                                       lm_counts_to_json)

    doc = ("The quick brown fox jumps over the lazy dog.  Pack my box "
           "with five dozen liquor jugs; amazingly few discotheques "
           "provide jukeboxes.")
    seed = BigramLM(corpora={"en": doc})
    df = spark.createDataFrame([(doc, "en")],
                               "extracted_text string, lang_pred string")
    trained = BigramLM(counts=corpus_lm_counts(df,
                                               text_col="extracted_text"))

    assert trained.floors == seed.floors
    for lang in seed._sorted:
        assert np.array_equal(trained._sorted[lang][0], seed._sorted[lang][0])
        assert np.array_equal(trained._sorted[lang][1], seed._sorted[lang][1])

    probe = "few jugs of liquor for the quick dog"
    assert (trained.perplexity_one(probe, "en")
            == seed.perplexity_one(probe, "en"))

    # JSON round trip (the CLI artifact): counts -> json -> model == direct
    rt = lm_counts_from_json(lm_counts_to_json(corpus_lm_counts(df)))
    assert rt.floors == trained.floors
    for lang in trained._sorted:
        assert np.array_equal(rt._sorted[lang][0], trained._sorted[lang][0])
        assert np.array_equal(rt._sorted[lang][1], trained._sorted[lang][1])


def test_corpus_trained_lm_scores_in_domain_lower(spark):
    """A corpus-trained LM prefers in-domain prose over character soup —
    the CCNet selection signal the trained model exists to provide."""
    from cfht2caom2_spark.functions.perplexity import (BigramLM,
                                                       corpus_lm_counts)
    from cfht2caom2_spark.sources.pages import synth_pages
    from cfht2caom2_spark.plans.pipeline import build_pipeline

    dec = build_pipeline(synth_pages(spark, 300), spark, dedupe=False)
    # the LM trains on the stored artifact of the kept docs
    lm = BigramLM(counts=corpus_lm_counts(dec.filter("keep"),
                                          text_col="scrubbed_text"))
    kept_text = dec.filter("keep").select("scrubbed_text").first()[0]
    assert lm.perplexity_one(kept_text, "en") < lm.perplexity_one(
        "qzx jkw vvq pzf xqj wkz qqq zzz xxx jjj", "en")
