"""Property-based tests (hypothesis) for the pure kernels.

The reference has no property testing (SURVEY §5); these harden the total-
function contract the engine relies on: kernels NEVER raise on arbitrary
input, and are deterministic — a task retry must reproduce bytes exactly.
"""

from __future__ import annotations

import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cfht2caom2_spark.functions.extraction import extract_html, sha256_text
from cfht2caom2_spark.functions.fused import minhash_sig_py
from cfht2caom2_spark.functions.langid import TrigramLangID
from cfht2caom2_spark.functions.perplexity import BigramLM
from cfht2caom2_spark.operators.dedup import _perm_params

_LID = TrigramLangID()
_LM = BigramLM()
_PERMS = _perm_params(16)
_A = np.array([a for a, _ in _PERMS], dtype=np.int64)
_B = np.array([b for _, b in _PERMS], dtype=np.int64)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_extract_html_total_and_deterministic(payload):
    a = extract_html(payload)
    b = extract_html(payload)
    assert a == b
    if a is not None:
        assert a == a.strip()
        assert "  " not in a.replace("\n", "|")  # no space runs survive


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2048))
def test_langid_total(text):
    lang, conf = _LID.predict_one(text)
    assert lang in set(_LID.langs) | {"und"}
    assert 0.0 <= conf <= 1.0


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2048),
       st.sampled_from(["en", "fr", "de", "es", "zh", "xx", None]))
def test_perplexity_total(text, lang):
    ppl = _LM.perplexity_one(text, lang)
    assert ppl > 0  # inf allowed for empty


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from("the quick brown fox alpha beta gamma".split()),
                min_size=0, max_size=60))
def test_minhash_sig_matches_naive(words):
    """numpy path == naive per-permutation python reimplementation."""
    import zlib

    text = " ".join(words)
    got = minhash_sig_py(text, _A, _B, 3)
    toks = text.lower().split()
    if not toks:
        assert got is None
        return
    if len(toks) >= 3:
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    else:
        sh = {" ".join(toks)}
    hs = [zlib.crc32(s.encode()) % 2_147_483_647 for s in sh]
    want = [min((a * h + b) % 2_147_483_647 for h in hs) for a, b in _PERMS]
    assert got == want


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=1024))
def test_sha256_stability(text):
    assert sha256_text(text) == sha256_text(text)


# --- the fused crossing on adversarial payloads -----------------------------

# HTML fragments with invalid UTF-8 (a lone continuation byte, a truncated
# 2- and 3-byte sequence, an overlong encoding, a surrogate half), control
# bytes and a latin-1 charset sniff
_HTML_PARTS = [b"<p>", b"</p>", b"<br>", b"<script>x()</script>", b"word ",
               b"caf\xc3\xa9 ", b"\x80", b"\xc3", b"\xe2\x82", b"\xc0\xaf",
               b"\xed\xa0\x80", b"\xff\xfe", b"\x00\x01", b"&amp; ",
               b'<meta charset="latin-1">', b"\n\n", b"\t "]
# one page over 1 MB: valid markup with a few invalid bytes per line
_BIG_HTML = (b"<html><body>"
             + b"<p>lorem ipsum dolor \xff sit amet \xc3 consectetur</p>\n"
             * 22_000 + b"</body></html>")


@settings(max_examples=5, deadline=None)
@given(st.lists(st.one_of(
    st.binary(max_size=300),
    st.lists(st.sampled_from(_HTML_PARTS), max_size=40).map(b"".join)),
    min_size=1, max_size=6))
def test_fused_extraction_matches_kernels_on_invalid_utf8(spark, payloads):
    """with_extract_and_scores' extracted_text and extracted_sha256 equal
    extract_html and sha256_text applied row by row, on invalid-UTF-8
    HTML bytes and a page over 1 MB: the Arrow crossing adds nothing to,
    and loses nothing from, the per-row kernels."""
    from cfht2caom2_spark.functions.fused import with_extract_and_scores

    assert len(_BIG_HTML) > 1 << 20
    pages = [_BIG_HTML] + payloads
    df = spark.createDataFrame([(f"u{i}", p, None)
                                for i, p in enumerate(pages)],
                               "url string, html binary, text string")
    got = {r["url"]: (r["extracted_text"], r["extracted_sha256"])
           for r in with_extract_and_scores(df, spark).collect()}
    want = {}
    for i, p in enumerate(pages):
        text = extract_html(p)
        want[f"u{i}"] = (text, sha256_text(text))
    assert want["u0"][0] is not None
    assert got == want


# --- repeated spans vs an independent python reference ----------------------

def _ref_repeated_spans(docs, k, min_count):
    """Pure-python ExactSubstr summary: window-count vote + interval merge
    (independent re-derivation, not a port of the Spark fold)."""
    counts: dict[str, int] = {}
    per_doc = {}
    for did, text in docs:
        toks = (text or "").lower().split()
        ws = ([" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
              if len(toks) >= k else [])
        per_doc[did] = (toks, ws)
        for w in ws:
            counts[w] = counts.get(w, 0) + 1
    out = {}
    for did, (toks, ws) in per_doc.items():
        spans: list[list[int]] = []
        for p in (i for i, w in enumerate(ws) if counts[w] >= min_count):
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + k - 1)
            else:
                spans.append([p, p + k - 1])
        dup = sum(e - s + 1 for s, e in spans)
        out[did] = (len(toks), len(spans), dup)
    return out


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_repeated_spans_matches_python_reference(spark, data):
    """Random tiny corpora (repetition-prone 4-word alphabet) through BOTH
    window builders (k=3 cascade / k=13 flat) must match the independent
    python reference exactly — marks, merge rule, counts."""
    from cfht2caom2_spark.operators.spans import repeated_spans

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=30).map(" ".join)
    docs = [(i, data.draw(doc)) for i in range(data.draw(st.integers(2, 5)))]
    k = data.draw(st.sampled_from([3, 13]))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_spans"], r["dup_token_count"])
           for r in repeated_spans(df, k=k, min_count=2).collect()}
    assert got == _ref_repeated_spans(docs, k, 2)


def _ref_ladder(toks: list[str], n: int) -> tuple[float, float]:
    """Independent python model of the ladder's (top-n-gram, dup-n-gram)
    char fractions of a token list: counts via dict, coverage via
    position set."""
    tchars = sum(len(t) for t in toks)
    grams = ([" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
             if len(toks) >= n else [])
    if not grams or not tchars:
        return 0.0, 0.0
    counts: dict[str, int] = {}
    for g in grams:
        counts[g] = counts.get(g, 0) + 1
    # max (count, token-chars), lexicographically-smallest gram on full tie
    best = min(sorted(counts.items()),
               key=lambda kv: (-kv[1], -(len(kv[0]) - (n - 1))))
    top = best[1] * (len(best[0]) - (n - 1)) / tchars
    covered: set[int] = set()
    for i, g in enumerate(grams):
        if counts[g] > 1:
            covered.update(range(i, i + n))
    dup = sum(len(toks[j]) for j in covered) / tchars
    return top, dup


def _ref_ladder_fracs(toks: list[str]) -> tuple[float, ...]:
    """The 9 ladder fractions in ``quality.REP_LADDER_COLS`` order."""
    from cfht2caom2_spark.functions.kernels import (REP_LADDER_DUP_NS,
                                                    REP_LADDER_TOP_NS)

    return (tuple(_ref_ladder(toks, n)[0] for n in REP_LADDER_TOP_NS)
            + tuple(_ref_ladder(toks, n)[1] for n in REP_LADDER_DUP_NS))


# Java's default \s (ASCII whitespace): the word rule's separators, and
# what zh rows strip before splitting per code point
_ASCII_WS = "[ \t\n\x0b\f\r]"


def _ref_tokens(text: str, lang: str | None) -> list[str]:
    if lang == "zh":
        return list(re.sub(_ASCII_WS, "", text))
    return [t for t in re.split(_ASCII_WS + "+", text) if t]


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_repetition_ladder_matches_python_reference(spark, data):
    """Random repetition-prone docs through with_repetition_ladder (the
    pipeline's ladder) must equal the independent python model
    bit-for-bit (integer numerators/denominators, one final division on
    both sides) for all 9 rungs.  Draws cover zh rows (per-code-point
    tokens), NULL lang (word tokens), NULL text (NULL fractions), and
    non-ASCII whitespace (NBSP, U+3000) and a non-BMP char inside tokens,
    which the word rule does not split on."""
    from cfht2caom2_spark.functions import quality as Q

    word = st.sampled_from(["aa", "bbb", "c", "dd", "e\u00a0e", "\u3000",
                            "\U0001f600"])
    sep = st.sampled_from([" ", "  ", "\t", "\n"])
    doc = st.one_of(st.none(), st.lists(st.tuples(word, sep), max_size=40)
                    .map(lambda ws: "".join(w + s for w, s in ws)))
    lang = st.sampled_from(["en", "zh", None])
    docs = [(i, data.draw(doc), data.draw(lang))
            for i in range(data.draw(st.integers(2, 4)))]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, "
                               "lang string")
    got = {r["doc_id"]: tuple(r[c] for c in Q.REP_LADDER_COLS)
           for r in Q.with_repetition_ladder(df, text_col="text",
                                             lang_col="lang").collect()}
    want = {i: (None,) * len(Q.REP_LADDER_COLS) if text is None
            else _ref_ladder_fracs(_ref_tokens(text, lg))
            for i, text, lg in docs}
    assert got == want


# dyadic coordinates: every k-means distance, by fold or by matmul, is
# exact, so exact ties between cells are frequent and both sides see them
_KM_COORD = st.sampled_from([-2.0, -1.0, -0.5, 0.0, 0.25, 0.5, 1.0, 3.0])
_KM_CENTS = [[0.0, 1.0, -1.0], [1.0, 0.0, 0.5], [0.0, 1.0, -1.0],
             [-2.0, 0.25, 3.0]]                  # cells 0 and 2 coincide
_KM_VEC = st.one_of(
    st.lists(_KM_COORD, min_size=3, max_size=3),
    st.none(),
    st.lists(st.one_of(_KM_COORD, st.sampled_from(
        [None, float("nan"), float("inf"), float("-inf")])),
        min_size=0, max_size=5))


def _same_double(a: float, b: float) -> bool:
    return a == b or (a != a and b != b)


@settings(max_examples=8, deadline=None)
@given(st.lists(_KM_VEC, min_size=1, max_size=12))
def test_kmeans_kernel_matches_reference_fold_on_degenerate_vectors(
        spark, vecs):
    """Finite vectors mixed with NULL, ragged, NULL-, NaN- and
    infinite-element ones: assign_cells labels equal the expression fold's
    (tests/reference_impl.py), kmeans_cost equals the fold's cost bit for
    bit (with and without the non-finite rows), and in ivf_centroid_topk
    a degenerate query probes nothing while every finite one returns
    rows exactly when its 2 nearest cells hold another vector."""
    import math

    from pyspark.sql import functions as F

    from cfht2caom2_spark.operators.kmeans import (assign_cells,
                                                   ivf_centroid_topk,
                                                   kmeans_cost)

    from . import reference_impl as R

    df = spark.createDataFrame(list(enumerate(vecs)),
                               "vec_id bigint, embedding array<float>")
    emb = F.col("embedding")
    ref = {r["vec_id"]: (r["cell"], r["d"]) for r in df.select(
        "vec_id", R.nearest_centroid(emb, _KM_CENTS).alias("cell"),
        R.centroid_dists(emb, _KM_CENTS).alias("d")).collect()}
    got = {r["vec_id"]: r["cell"]
           for r in assign_cells(df, _KM_CENTS).collect()}
    assert got == {i: cell for i, (cell, _) in ref.items()}

    finite = [i for i, v in enumerate(vecs) if v is not None
              and len(v) == 3 and all(x is not None and math.isfinite(x)
                                      for x in v)]
    for part in (df, df.filter(F.col("vec_id").isin(finite))):
        assert _same_double(kmeans_cost(part, _KM_CENTS),
                            R.kmeans_cost(part, _KM_CENTS))

    probes = {q: sorted(range(len(_KM_CENTS)),
                        key=lambda c: (ref[q][1][c], c))[:2]
              for q in finite}
    want = {q for q, cells in probes.items()
            if any(ref[i][0] in cells for i in ref if i != q)}
    topk = ivf_centroid_topk(df, df, _KM_CENTS, k=3, n_probe=2)
    assert {r["query_id"] for r in topk.collect()} == want


def test_split_assign_matches_python_md5_model(spark):
    """The split label is a pure function of (id, seed) with md5 semantics —
    pinned against an independent python computation so the contract can't
    drift toward whatever the engines happen to agree on."""
    import hashlib

    from cfht2caom2_spark.operators.sampling import BUCKETS, split_assign

    fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    seed = 11
    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r["split"]
           for r in split_assign(df, "doc_id", fracs, seed=seed).collect()}

    def py_split(doc_id):
        h = hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()
        b = int(h[:15], 16) % BUCKETS
        cum = 0
        for name, f in fracs.items():
            cum += int(round(f * BUCKETS))
            if b < cum:
                return name
        return "test"

    assert got == {i: py_split(i) for i in range(300)}


def test_cluster_sample_invariant_under_repartitioning(spark):
    """The cluster-balanced keep-set is a pure function of the data — the
    same rows survive at any partitioning (the cluster-size-independence
    contract every deterministic sampler in this repo carries)."""
    from cfht2caom2_spark.operators.kmeans import (cluster_balanced_sample,
                                                   train_centroids)

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.normal(5.0 * (i % 4), 0.4, 4)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = train_centroids(df, k=4, n_iter=3, seed=0)
    a = {(r["vec_id"], r["cell"]) for r in
         cluster_balanced_sample(df.repartition(2), cents, 10).collect()}
    b = {(r["vec_id"], r["cell"]) for r in
         cluster_balanced_sample(df.repartition(13), cents, 10).collect()}
    assert a == b and a
