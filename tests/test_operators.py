"""Operator-level tests: dedup family, similarity, decontamination, spans,
sampling, packing, clustering.

The analogue of the reference's per-operator unit layer (storage-name parsing
tests, /root/reference/cfht2caom2/tests/test_storage_name.py) on tiny frames.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cfht2caom2_spark.operators.dedup import (connected_components,
                                              minhash_losers_from_sig,
                                              minhash_sig_frame, simhash,
                                              word_shingles)
from cfht2caom2_spark.operators.similarity import cosine_topk, lsh_ann


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs into the "
            "quiet forest where the old river bends toward the small village "
            "every morning people gather near the stone bridge")
    rows = [
        (1, base, 1),
        (2, base + " with an extra footer line", 2),          # near-dup of 1
        (3, "prepended intro " + base, 3),                    # near-dup of 1
        (4, "completely different text about databases and query engines "
            "partitioning shuffles joins aggregates windows and sorts in "
            "columnar engines with vectorized execution and codegen", 4),
        (5, base, 5),                                          # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, ord bigint")


def test_minhash_losers(docs):
    sigs = minhash_sig_frame(docs, "doc_id", "text", num_perms=32,
                             out_id="doc_id", out_sig="minhash_sig")
    losers = minhash_losers_from_sig(docs.join(sigs, "doc_id"), "doc_id",
                                     "ord", threshold=0.7)
    got = sorted(r["loser_id"] for r in losers.collect())
    assert got == [2, 3, 5]  # 1 wins (lowest ord); 4 unrelated


def test_word_shingles_short_doc(spark):
    df = spark.range(1).select(F.lit("one two").alias("t"))
    sh = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert sh == ["one two"]


def test_simhash_similar_texts_close(docs):
    out = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", simhash(F.col("text"), 16).alias("sh")).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert out[1] == out[5]                      # identical text
    assert hamming(out[1], out[2]) <= 4          # near-dup: close
    assert hamming(out[1], out[4]) >= 5          # unrelated: far

def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint")
    comp = {r["node"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_connected_components_releases_superseded_rounds(spark, pinned_rdds):
    """Each star round's checkpoint supersedes the previous round's, which
    is released once the new one is materialized: a chain that needs
    several rounds leaves only the final round pinned (the result reads
    it).  The small-graph path collects its edges and keeps none."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a bigint, id_b bigint")
    before = pinned_rdds()
    comp = connected_components(chain, small_graph_threshold=0).collect()
    assert len(comp) == 41 and {r["component"] for r in comp} == {0}
    assert len(pinned_rdds() - before) <= 1
    before = pinned_rdds()
    comp = connected_components(chain).collect()
    assert len(comp) == 41 and {r["component"] for r in comp} == {0}
    assert pinned_rdds() <= before


def test_identity_projections(spark):
    """P1-P4: the url host is a pure deterministic projection."""
    from cfht2caom2_spark.functions.identity import host

    df = spark.createDataFrame([("https://example.com/a/page.html",)],
                               "url string")
    out = df.select(host(F.col("url")).alias("h")).collect()
    assert out[0]["h"] == "example.com"


def test_remove_boilerplate_lines(spark):
    """Cross-doc line dedup: a line in >=3 docs is stripped everywhere,
    order is preserved, and a doc made entirely of boilerplate drops out."""
    from cfht2caom2_spark.operators.boilerplate import remove_boilerplate_lines

    banner = "accept cookies to continue"
    rows = [
        (1, f"{banner}\nunique one\nmore text"),
        (2, f"first line\n{banner}\nsecond line"),
        (3, f"tail content\n{banner}"),
        (4, banner),                       # all boilerplate -> drops out
        (5, "no template here\nat all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["cleaned_text"]
           for r in remove_boilerplate_lines(df, min_doc_freq=3).collect()}
    assert out[1] == "unique one\nmore text"
    assert out[2] == "first line\nsecond line"   # order preserved
    assert out[3] == "tail content"
    assert 4 not in out
    assert out[5] == "no template here\nat all"  # below-threshold untouched


def test_cluster_losers_vs_pair_dominance_on_chain(spark):
    """A~B, B~D, A!~D with order A<D<B: pair-dominance keeps D (no earlier
    DIRECT partner) while the cluster policy drops it (same component as the
    earlier A) — the defining divergence of the two policies."""
    from cfht2caom2_spark.operators.dedup import cluster_losers

    pairs = spark.createDataFrame(
        [("A", "B"), ("B", "D")], "id_a string, id_b string")
    keyed = spark.createDataFrame(
        [("A", 1), ("D", 2), ("B", 3)], "_id string, _ord int")
    losers = {r["loser_id"] for r in cluster_losers(pairs, keyed).collect()}
    assert losers == {"B", "D"}  # component {A,B,D}: earliest A survives
    # pair-dominance over the same graph: B loses (to A and to D); D has no
    # earlier direct partner and survives
    pair_losers = set()
    order = {"A": 1, "D": 2, "B": 3}
    for a, b in [("A", "B"), ("B", "D")]:
        pair_losers.add(b if order[a] < order[b] else a)
    assert pair_losers == {"B"}


def test_pipeline_clusters_policy_resolves_cluster(spark):
    """dedup_policy='clusters' in the flagship: the 3-member near-dup
    fixture cluster still resolves to exactly one survivor."""
    import re

    from cfht2caom2_spark.config import RuleProfile
    from cfht2caom2_spark.plans.pipeline import build_pipeline
    from cfht2caom2_spark.sources.pages import synth_pages

    prof = RuleProfile(dedup_policy="clusters")
    out = build_pipeline(synth_pages(spark, 200), spark, profile=prof).collect()
    clusters = {}
    for r in out:
        m = re.search(r"/p/(\d{9})", r["url"])
        i = int(m.group(1))
        if i % 100 in (86, 87, 88):
            clusters.setdefault(i // 100, []).append(r)
    assert clusters
    for century, rows in clusters.items():
        dups = [r for r in rows if "near_duplicate" in r["rules"]]
        assert len(dups) == len(rows) - 1, (century, [r["rules"] for r in rows])


def test_connected_components_two_root_counterexample(spark):
    """Regression: after one star round the graph {(1,7),(3,7),(3,8),(2,8)}
    becomes {(3,1),(7,1),(3,2),(8,2)} — no dst is a src, yet node 3 still has
    TWO parents, so a probe checking only dst-as-src exits with the component
    split and duplicate node labels.  The probe must also require single
    parents."""
    from cfht2caom2_spark.operators.dedup import (cluster_losers,
                                                  connected_components)

    pairs = spark.createDataFrame(
        [(1, 7), (3, 7), (3, 8), (2, 8)], "id_a bigint, id_b bigint")
    comp = connected_components(pairs, small_graph_threshold=0).collect()
    labels = {}
    for r in comp:
        assert r["node"] not in labels, f"duplicate label for {r['node']}"
        labels[r["node"]] = r["component"]
    assert set(labels.values()) == {1}          # ONE component, rooted at 1
    assert set(labels) == {1, 2, 3, 7, 8}
    keyed = spark.createDataFrame(
        [(n, n) for n in (1, 2, 3, 7, 8)], "_id bigint, _ord bigint")
    losers = sorted(r["loser_id"] for r in
                    cluster_losers(pairs, keyed).collect())
    assert losers == [2, 3, 7, 8]               # earliest (1) survives


def test_connected_components_star_contraction_random_graph(spark):
    """Large-star/small-star vs a python union-find golden on a random graph
    (chains, cycles, crossing edges — the shapes min-label loops get slow on)."""
    import random

    from cfht2caom2_spark.operators.dedup import connected_components

    rng = random.Random(42)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges += [(i, i + 1) for i in range(300, 340)]          # a 41-node chain
    edges = [(a, b) for a, b in edges if a != b]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in parent:
        want.setdefault(find(n), set()).add(n)
    golden = {n: min(mem) for root, mem in want.items() for n in mem}

    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["node"]: r["component"]
           for r in connected_components(df, small_graph_threshold=0).collect()}
    assert got == golden


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    return (spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"),
            vecs)


def test_cosine_topk_matches_numpy(emb):
    df, vecs = emb
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=5).collect()
    got = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    v = vecs.astype("float64")
    sims = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    sims[0] = -np.inf
    want = list(np.argsort(-sims)[:5])
    assert got == want


def test_lsh_ann_subset_of_bucket(emb):
    df, vecs = emb
    out = lsh_ann(df, df.filter(F.col("vec_id") == 0), k=5, n_planes=4).collect()
    assert out  # some candidates share the bucket
    # every returned neighbor must share the sign-bucket of query 0
    bucket0 = sum((1 << i) for i in range(4) if vecs[0][i] > 0)
    for r in out:
        b = sum((1 << i) for i in range(4) if vecs[r["vec_id"]][i] > 0)
        assert b == bucket0


def test_host_lang_consensus_backfill(spark):
    from cfht2caom2_spark.operators.hostnorm import (host_lang_consensus,
                                                     with_host_lang_backfill)
    rows = [
        ("https://a.com/1", "fr", 0.9), ("https://a.com/2", "fr", 0.8),
        ("https://a.com/3", "en", 0.7), ("https://a.com/4", "de", 0.1),
        ("https://b.com/1", "es", 0.05),  # no confident votes on b.com
        # c.com: 1 de vote vs 1 en vote — tie must break to the FIRST lang
        # ascending (same semantics as q_source_lang_consensus)
        ("https://c.com/1", "en", 0.9), ("https://c.com/2", "de", 0.9),
    ]
    df = spark.createDataFrame(rows, "url string, lang_pred string, lang_conf double")
    cons = {r["host"]: (r["consensus_lang"], r["n_votes"])
            for r in host_lang_consensus(df, min_conf=0.5).collect()}
    assert cons["a.com"] == ("fr", 2)
    assert "b.com" not in cons
    assert cons["c.com"] == ("de", 1)  # tie -> lexically first lang
    out = {r["url"]: (r["lang_final"], r["lang_source"])
           for r in with_host_lang_backfill(df, min_conf=0.5).collect()}
    assert out["https://a.com/4"] == ("fr", "host_consensus")   # adopted
    assert out["https://a.com/3"] == ("en", "model")            # confident, kept
    assert out["https://b.com/1"] == ("es", "model")            # no consensus


def test_ivf_grouped_matches_lsh_ann(spark, emb):
    """Grouped-map numpy path and the expression path must agree on ranks
    (same bucketing, same cosine, different physical strategy)."""
    from cfht2caom2_spark.operators.similarity import ivf_topk_grouped
    df, _ = emb
    queries = df.filter(F.col("vec_id") < 3)
    a = {(r["query_id"], r["rank"]): r["vec_id"]
         for r in lsh_ann(df, queries, k=5, n_planes=4).collect()}
    b = {(r["query_id"], r["rank"]): r["vec_id"]
         for r in ivf_topk_grouped(df, queries, k=5, n_planes=4).collect()}
    assert a == b


def test_python_minhash_matches_jvm(spark):
    """fused.minhash_sig_py (numpy path) must equal operators.dedup.
    minhash_signature with the crc32 hash (JVM path) — the production
    signature is computed in Python, the declarative one in Spark SQL."""
    import numpy as np
    from cfht2caom2_spark.functions.fused import minhash_sig_py
    from cfht2caom2_spark.operators.dedup import (_perm_params,
                                                  shingle_hash_fast)

    from .reference_impl import minhash_signature

    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "one two",
        "single",
        "Mixed CASE Text with   extra  whitespace and\nnewlines in it here",
        # U+00A0 (what extract_html emits for &nbsp;) is NOT a separator in
        # the JVM \s class — the Python path must agree
        "non breaking space words glued by unicode whitespace here",
        "a b c d e f g h",
    ]
    perms = _perm_params(32)
    A = np.array([a for a, _ in perms], dtype=np.int64)
    B = np.array([b for _, b in perms], dtype=np.int64)
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    jvm = [r["s"] for r in df.select(
        minhash_signature(F.col("t"), 32, 3, shingle_hash_fast).alias("s")
    ).collect()]
    py = [minhash_sig_py(t, A, B, 3) for t in texts]
    assert jvm == py


# --- decontamination ---------------------------------------------------------

def test_decontaminate_flags_exact_and_spares_partial(spark):
    """Exact benchmark copy >= min_overlap grams -> contaminated; a 4-word
    shared run (2 shared 3-grams) stays under the default threshold; fully
    disjoint text has zero overlap."""
    from cfht2caom2_spark.operators.decontam import decontaminate

    bench_text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                  "lambda mu")
    train = spark.createDataFrame(
        [
            (1, bench_text),                                # exact copy
            (2, "alpha beta gamma delta unrelated words follow here now"),
            (3, "totally disjoint content about something else entirely ok"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)],
                                  "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           decontaminate(train, bench, min_overlap=5).collect()}
    assert out[1]["contaminated"] and out[1]["n_overlap"] == out[1]["n_grams"]
    assert not out[2]["contaminated"] and out[2]["n_overlap"] == 2
    assert not out[3]["contaminated"] and out[3]["n_overlap"] == 0
    assert len(out) == 3  # every input doc appears exactly once


def test_decontaminate_hash_fn_swap_same_flags(spark):
    """Production crc32 hash and the md5 oracle hash agree on the flags
    (collisions can only add counts; identical texts always collide)."""
    from cfht2caom2_spark.operators.decontam import decontaminate
    from cfht2caom2_spark.operators.dedup import (shingle_hash,
                                                  shingle_hash_fast)

    docs = spark.createDataFrame(
        [(i, f"doc {i} shares this long common sentence about rivers and "
              "bridges every single morning" if i % 2 == 0
          else f"unique content {i} with nothing borrowed at all beyond")
         for i in range(10)],
        "doc_id bigint, text string")
    bench = docs.filter(F.col("doc_id") == 0)
    a = {r["doc_id"]: r["contaminated"]
         for r in decontaminate(docs, bench, hash_fn=shingle_hash).collect()}
    b = {r["doc_id"]: r["contaminated"]
         for r in decontaminate(docs, bench,
                                hash_fn=shingle_hash_fast).collect()}
    assert a == b
    assert a[0] is True  # the benchmark doc itself is fully self-contaminated


def test_fuzzy_decontaminate_flags_neardup_and_spares_disjoint(spark):
    """A lightly-edited copy of an eval doc (one word changed — few exact
    3-grams survive but shingle Jaccard stays high) is flagged by the fuzzy
    pass; disjoint text never reaches the agreement join.  Exact copies
    self-flag at est_jaccard 1.0."""
    from cfht2caom2_spark.operators.decontam import fuzzy_decontaminate

    bench_text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                  "lambda mu nu xi omicron pi rho sigma tau upsilon")
    edited = bench_text.replace("iota", "jota")  # one-token paraphrase
    train = spark.createDataFrame(
        [
            (1, bench_text),   # exact copy -> est_jaccard 1.0
            (2, edited),       # near-dup -> flagged by signature agreement
            (3, "totally disjoint content about something else entirely ok "
                "padded with more unrelated words to cross shingle minimum"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)],
                                  "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           fuzzy_decontaminate(train, bench, min_est_jaccard=0.5).collect()}
    assert out[1]["max_est_jaccard"] == 1.0
    assert 2 in out and out[2]["max_est_jaccard"] >= 0.5
    assert 3 not in out
    # the exact pass loses 3 of the 18 grams to the one-token edit (every
    # 3-gram covering the changed token), so a full-overlap requirement
    # misses the paraphrase — the reason the fuzzy tier exists
    from cfht2caom2_spark.operators.decontam import decontaminate
    exact = {r["doc_id"]: r for r in decontaminate(
        train.filter("doc_id = 2"), bench, min_overlap=18).collect()}
    assert exact[2]["n_overlap"] == 15 and not exact[2]["contaminated"]


# --- stratified sampling -----------------------------------------------------

def test_stratified_sample_deterministic_and_nested(spark):
    """Sampling is a pure function of the key (partitioning-independent) and
    monotone in the rate (the 20% sample is a subset of the 50% sample)."""
    from cfht2caom2_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "fr") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")

    s_small = stratified_sample(df, "doc_id", "lang", {"en": 0.2, "fr": 0.2})
    s_big = stratified_sample(df.repartition(7), "doc_id", "lang",
                              {"en": 0.5, "fr": 0.5})
    small_ids = {r["doc_id"] for r in s_small.collect()}
    big_ids = {r["doc_id"] for r in s_big.collect()}
    assert small_ids <= big_ids                      # nested samples
    assert small_ids == {r["doc_id"] for r in s_small.collect()}  # stable
    # rate lands near nominal (md5 uniformity; 3000 keys, +-5 sigma bounds)
    assert 0.14 < len(small_ids) / 3000 < 0.26
    assert 0.44 < len(big_ids) / 3000 < 0.56


def test_stratified_sample_default_rate_excludes(spark):
    from cfht2caom2_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(i, "xx") for i in range(100)],
                               "doc_id bigint, lang string")
    assert stratified_sample(df, "doc_id", "lang", {"en": 1.0}).count() == 0
    assert stratified_sample(df, "doc_id", "lang", {},
                             default_rate=1.0).count() == 100


def test_stratified_sample_fast_bucket_same_shape(spark):
    """xxhash64 production bucket: same operator contract (determinism +
    nesting), different hash family."""
    from cfht2caom2_spark.operators.sampling import (sample_bucket_fast,
                                                     stratified_sample)

    df = spark.createDataFrame([(i, "en") for i in range(2000)],
                               "doc_id bigint, lang string")
    lo = stratified_sample(df, "doc_id", "lang", {"en": 0.3},
                           bucket_fn=sample_bucket_fast)
    hi = stratified_sample(df, "doc_id", "lang", {"en": 0.7},
                           bucket_fn=sample_bucket_fast)
    lo_ids = {r["doc_id"] for r in lo.collect()}
    hi_ids = {r["doc_id"] for r in hi.collect()}
    assert lo_ids <= hi_ids
    assert 0.22 < len(lo_ids) / 2000 < 0.38


def test_decontaminate_threshold_monotone(spark):
    """Raising min_overlap can only shrink the contaminated set (the
    operator's precision dial; banding-style guarantee: threshold trades
    recall, never adds false flags)."""
    from cfht2caom2_spark.operators.decontam import decontaminate

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(i, base[: 20 + i * 9] + f" tail{i} filler words here") for i in range(8)],
        "doc_id bigint, text string")
    bench = spark.createDataFrame([(0, base)], "doc_id bigint, text string")
    sets = []
    for t in (1, 3, 6):
        out = decontaminate(docs, bench, min_overlap=t)
        sets.append({r["doc_id"] for r in out.collect() if r["contaminated"]})
    assert sets[2] <= sets[1] <= sets[0]
    assert sets[0]  # at threshold 1 the overlapping prefixes flag


def test_dedup_clusters_fast_component_invariants(spark):
    """Production-hash CC twin (q_dedup_clusters_fast): labels must satisfy
    the CC contract — every component label is the min doc_id of its member
    set, one row per node — and the planted exact-duplicate docs of the
    testdata must land in a shared cluster under the crc32 hash exactly as
    under the oracle hash."""
    from cfht2caom2_spark.plans.driver_queries import q_dedup_clusters_fast

    SF = "/root/testdata/sf0.001"
    fast = q_dedup_clusters_fast(spark, SF).collect()
    nodes = [r["doc_id"] for r in fast]
    assert len(nodes) == len(set(nodes))  # one label per node
    comp: dict[int, list[int]] = {}
    for r in fast:
        comp.setdefault(r["component"], []).append(r["doc_id"])
    for label, members in comp.items():
        assert label == min(members), (label, members)
    # the minhash estimator property holds for ANY uniform shingle hash:
    # every TRULY similar pair (exact Jaccard >= threshold, the quadratic
    # verification baseline) must be co-clustered by the production-hash
    # path — recall ~0.9997 at J=0.8 under 8 bands x 2 rows.  Borderline
    # band-collision pairs below the threshold are hash-dependent noise
    # and deliberately not compared (q_dedup_clusters, the oracle-hash
    # sibling, carries the DuckDB parity check for those).
    from cfht2caom2_spark.plans.driver_queries import q_jaccard_pairs

    fast_lbl = {r["doc_id"]: r["component"] for r in fast}
    true_pairs = [(r["id_a"], r["id_b"])
                  for r in q_jaccard_pairs(spark, SF).collect()]
    assert true_pairs
    for a, b in true_pairs:
        assert fast_lbl.get(a) == fast_lbl.get(b) is not None, (a, b)


def test_span_fast_twins_match_oracle_mode(spark):
    """Production-hash span twins (q_repeated_spans_fast / q_span_scrub_fast,
    xxhash64 window keys) must produce EXACTLY the oracle-mode (string-key)
    output on the test table — a 64-bit collision is the only divergence
    mode (~1e-9 at this window cardinality) and can only ADD a false span,
    so byte-equality here is the strongest check available without SQL."""
    from cfht2caom2_spark.plans.driver_queries import (q_repeated_spans,
                                                      q_repeated_spans_fast,
                                                      q_span_scrub,
                                                      q_span_scrub_fast)

    SF = "/root/testdata/sf0.001"
    for oracle_fn, fast_fn in ((q_repeated_spans, q_repeated_spans_fast),
                               (q_span_scrub, q_span_scrub_fast)):
        want = {tuple(r) for r in oracle_fn(spark, SF).collect()}
        got = {tuple(r) for r in fast_fn(spark, SF).collect()}
        assert got == want, (oracle_fn.__name__,
                             len(got - want), len(want - got))


# --- exact-substring repeated spans (operators/spans.py) --------------------

def _span_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_repeated_spans_cross_doc_and_boundaries(spark):
    """A shared >=K-token sentence marks ONE merged span in each carrier
    with exact token boundaries; unrelated docs report zero."""
    from cfht2caom2_spark.operators.spans import repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = _span_docs(spark, [
        (1, f"intro one two three {shared} tail4 tail5"),
        (2, f"{shared} other closing words here"),
        (3, "entirely unrelated text with eight distinct plain words"),
    ])
    out = {r["doc_id"]: r for r in repeated_spans(
        docs, k=8, min_count=2).collect()}
    assert len(out) == 3
    # doc 1: tokens 0-3 are prefix, shared = tokens 4..11 -> 8 dup tokens
    assert out[1]["n_spans"] == 1 and out[1]["dup_token_count"] == 8
    assert out[2]["n_spans"] == 1 and out[2]["dup_token_count"] == 8
    assert out[3]["n_spans"] == 0 and out[3]["dup_token_frac"] == 0.0


def test_repeated_spans_long_run_merges_to_one_span(spark):
    """Tiling invariance: a 2K-token shared run produces K+1 marked windows
    that must merge into exactly ONE span covering 2K tokens."""
    from cfht2caom2_spark.operators.spans import repeated_spans

    run = " ".join(f"w{i}" for i in range(16))  # 16 tokens, K=8
    docs = _span_docs(spark, [
        (1, f"unique opening {run}"),
        (2, f"{run} unique ending"),
    ])
    out = {r["doc_id"]: r for r in repeated_spans(
        docs, k=8, min_count=2).collect()}
    assert out[1]["n_spans"] == 1 and out[1]["dup_token_count"] == 16
    assert out[2]["n_spans"] == 1 and out[2]["dup_token_count"] == 16


def test_repeated_spans_within_doc_and_two_islands(spark):
    """Within-doc repetition counts (ExactSubstr semantics), and two
    far-apart shared runs stay two separate spans."""
    from cfht2caom2_spark.operators.spans import repeated_spans

    a = "p1 p2 p3 p4 p5 p6 p7 p8"
    b = "q1 q2 q3 q4 q5 q6 q7 q8"
    gap = " ".join(f"g{i}" for i in range(12))
    docs = _span_docs(spark, [
        (1, f"{a} {gap} {b}"),
        (2, f"{a} middle filler words {b}"),
        (3, f"{a} again later on comes {a}"),   # self-repeat
    ])
    out = {r["doc_id"]: r for r in repeated_spans(
        docs, k=8, min_count=2).collect()}
    assert out[1]["n_spans"] == 2 and out[1]["dup_token_count"] == 16
    assert out[3]["dup_token_count"] >= 16  # both self-copies flagged


def test_repeated_spans_hash_key_swap_matches_exact(spark):
    """Production key_fn (xxhash64, 64-bit) reproduces the exact string-key
    result — the oracle mode and the scale mode agree.  (crc32 mod 2^31-1,
    the MinHash-family hash, is deliberately NOT used here: corpus-wide
    window-key cardinality passes the 2^31 birthday bound at ~10^5 windows
    and manufactured 2 false spans on this very table.)"""
    from cfht2caom2_spark.operators.spans import repeated_spans
    from cfht2caom2_spark.plans.driver_queries import (SPAN_K,
                                                       SPAN_MIN_COUNT)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = sorted(map(tuple, repeated_spans(
        docs, k=SPAN_K, min_count=SPAN_MIN_COUNT).collect()))
    hashed = sorted(map(tuple, repeated_spans(
        docs, k=SPAN_K, min_count=SPAN_MIN_COUNT,
        key_fn=lambda c: F.xxhash64(c)).collect()))
    assert exact == hashed


def test_remove_repeated_spans_keep_first(spark):
    """Keep-one semantics: the earliest occurrence (doc order, then pos)
    keeps its text byte-identical; later occurrences lose exactly the
    duplicated tokens and are rebuilt case-preserved from the survivors."""
    from cfht2caom2_spark.operators.spans import remove_repeated_spans

    shared = "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta"  # 8 tokens
    docs = _span_docs(spark, [
        (1, f"first doc keeps everything {shared}"),
        (2, f"{shared} second doc loses the copied run"),
        (3, "untouched doc with no duplicated content at all"),
    ])
    out = {r["doc_id"]: r for r in remove_repeated_spans(
        docs, k=8, min_count=2).collect()}
    assert out[1]["removed_token_count"] == 0
    assert out[1]["cleaned_text"] == f"first doc keeps everything {shared}"
    assert out[2]["removed_token_count"] == 8
    assert out[2]["cleaned_text"] == "second doc loses the copied run"
    assert out[3]["removed_token_count"] == 0
    assert out[3]["cleaned_text"].startswith("untouched")


def test_remove_repeated_spans_all_removed_and_case(spark):
    """A doc that is entirely a later copy empties to ''; matching is
    case-insensitive but reconstruction preserves the original case."""
    from cfht2caom2_spark.operators.spans import remove_repeated_spans

    run = "one two three four five six seven eight"
    docs = _span_docs(spark, [
        (1, f"Prefix words here {run}"),
        (2, run.upper()),                       # later, case-variant copy
    ])
    out = {r["doc_id"]: r for r in remove_repeated_spans(
        docs, k=8, min_count=2).collect()}
    assert out[1]["removed_token_count"] == 0
    assert out[1]["cleaned_text"] == f"Prefix words here {run}"
    assert out[2]["cleaned_text"] == "" and out[2]["removed_token_count"] == 8


def test_connected_components_paths_agree(spark):
    """The adaptive small-graph driver path (union-find) and the
    star-contraction scale path must produce identical labelings on the
    shapes the counterexample/random tests guard."""
    import random

    from cfht2caom2_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(120)]
    edges += [(1, 7), (3, 7), (3, 8), (2, 8)]       # the two-root shape
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    small = {(r["node"], r["component"]) for r in
             connected_components(df).collect()}            # driver path
    star = {(r["node"], r["component"]) for r in
            connected_components(df, small_graph_threshold=0).collect()}
    assert small == star


def test_canonical_url_edges(spark):
    """URL canonicalization: tracking params stripped wherever they sit,
    fragments dropped, separator chain stays valid, root slash preserved,
    clean urls byte-identical."""
    from cfht2caom2_spark.functions.identity import canonical_url

    cases = [
        ("https://a.com/x?utm_source=nl&page=2", "https://a.com/x?page=2"),
        ("https://a.com/x?page=2&utm_source=nl", "https://a.com/x?page=2"),
        ("https://a.com/x?utm_source=a&utm_campaign=b",  "https://a.com/x"),
        ("https://a.com/x?gclid=123#frag", "https://a.com/x"),
        ("https://a.com/x/", "https://a.com/x"),
        ("https://a.com/", "https://a.com/"),          # root slash stays
        ("https://a.com/x?q=1&fbclid=z&r=2", "https://a.com/x?q=1&r=2"),
        ("https://a.com/clean?q=1", "https://a.com/clean?q=1"),
        # round-4 review failure cases:
        # a literal '&' in the PATH is not a param separator
        ("https://a.com/docs&ref=nav", "https://a.com/docs&ref=nav"),
        # repeated tracking params ALL go
        ("https://a.com/x?utm_source=a&utm_source=b&page=1",
         "https://a.com/x?page=1"),
        # trailing path slash collapses even with a query present
        ("https://a.com/x/?page=2", "https://a.com/x?page=2"),
        ("https://a.com/x?", "https://a.com/x"),       # bare '?'
        # round-5 review failure cases: java.net.URI rejects these, so a
        # parse_url-derived query NULLed out and silently stripped the
        # WHOLE legitimate query (collapsing distinct pages pre-dedup).
        # The first-'?' string split must keep them verbatim.
        ("https://a.com/search?q=a b", "https://a.com/search?q=a b"),
        ("https://a.com/x?f=a|b&utm_source=nl", "https://a.com/x?f=a|b"),
        ("https://a.com/x?r=[1,2]", "https://a.com/x?r=[1,2]"),
        ("https://a.com/x?q=café&gclid=g", "https://a.com/x?q=café"),
        # bare 'ref' is FUNCTIONAL (branch/pagination selectors) and no
        # longer in the default tracking set
        ("https://a.com/repo?ref=main", "https://a.com/repo?ref=main"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_canonical_url_duckdb_twin_on_malformed_urls(spark):
    """The DuckDB oracle twin (_canonical_sql) and the Spark column agree on
    URLs java.net.URI would REJECT — the round-5 review's gap: parity held
    only for well-formed synthesized URLs while crawl data is full of
    unencoded spaces/|/[/non-ASCII."""
    import duckdb
    import pandas as pd

    from cfht2caom2_spark.functions.identity import canonical_url
    from cfht2caom2_spark.plans.driver_queries import _canonical_sql

    urls = [
        "https://a.com/search?q=a b",
        "https://a.com/x?f=a|b&utm_source=nl",
        "https://a.com/x?r=[1,2]&fbclid=f",
        "https://a.com/x?q=café&page=2",
        "https://a.com/docs&ref=nav?utm_source=a",
        "https://a.com/x/?utm_source=a&q=^caret",
        "https://a.com/x?utm_source=a&utm_source=b",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got_spark = [r["c"] for r in
                 df.select(canonical_url(F.col("url")).alias("c")).collect()]
    con = duckdb.connect()
    con.register("u", pd.DataFrame({"url": urls}))
    got_duck = [r[0] for r in con.execute(
        f"SELECT {_canonical_sql('url')} FROM u").fetchall()]
    assert got_spark == got_duck


def test_blocked_domain_rule_case_insensitive(spark):
    """Hostnames are case-insensitive (RFC 4343): mixed-case crawl URLs and
    mixed-case blocklist entries must both still match — the safety gate
    previously compared parse_url's original-case HOST verbatim."""
    from cfht2caom2_spark.operators.decision import blocked_domain_rule

    df = spark.createDataFrame([
        ("https://BadSite.com/x", True),
        ("https://WWW.BADSITE.COM/y", True),
        ("https://sub.badsite.com/z", True),
        ("https://Mixed.Example/a", True),      # mixed-case LIST entry
        ("https://goodsite.com/b", False),
        ("https://notbadsite.com/c", False),    # suffix != subdomain
    ], "url string, want boolean")
    got = df.select(
        "want",
        blocked_domain_rule(F.col("url"),
                            ("badsite.com", "MIXED.example")).alias("fired"),
    ).collect()
    assert all(r["fired"] == r["want"] for r in got)


def test_canonical_url_custom_tracking_params(spark):
    """Deployments opting into aggressive stripping pass their own param
    set; the default set must NOT strip those."""
    from cfht2caom2_spark.functions.identity import (TRACKING_PARAMS,
                                                     canonical_url)

    assert "ref" not in TRACKING_PARAMS
    df = spark.createDataFrame(
        [("https://a.com/repo?ref=main&page=2",)], "url string")
    aggressive = TRACKING_PARAMS + ("ref",)
    got = df.select(
        canonical_url(F.col("url")).alias("default"),
        canonical_url(F.col("url"), tracking_params=aggressive).alias("agg"),
    ).collect()[0]
    assert got["default"] == "https://a.com/repo?ref=main&page=2"
    assert got["agg"] == "https://a.com/repo?page=2"


def test_simhash_pairs_banded_hamming(spark):
    """Banded SimHash near-dup join: near-identical docs pair up within the
    Hamming cut, unrelated docs don't, and the parameter guards that keep
    banded recall EXACT (pigeonhole needs n_bands > max_hamming) raise."""
    import pytest

    from cfht2caom2_spark.operators.dedup import simhash_pairs

    base = " ".join(f"tok{i % 97} word{i % 31}" for i in range(120))
    rows = [
        (1, base),
        (2, base + " extra trailing bit"),           # near-dup of 1
        (3, " ".join(f"zz{i} qq{i % 7}" for i in range(150))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs(docs).collect()}
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert not any(3 in p for p in got)

    with pytest.raises(ValueError, match="divisible"):
        simhash_pairs(docs, bits=50, n_bands=4)
    with pytest.raises(ValueError, match="overflow"):
        simhash_pairs(docs, bits=64, n_bands=4)
    with pytest.raises(ValueError, match="exact banded recall"):
        simhash_pairs(docs, n_bands=4, max_hamming=4)


def test_semantic_keep_one_chain_collapse(spark):
    """SemDeDup cluster dedup is chain-correct: A~B and B~C with A!~C still
    collapses to ONE kept representative (pair dominance would keep C);
    singletons keep themselves; one row per input vector."""
    import math

    from cfht2caom2_spark.operators.similarity import semantic_keep_one

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [(1, vec(5)), (2, vec(25)), (3, vec(45)),   # chain at cos20°≈.94
            (4, vec(85))]                              # singleton
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: (r["cluster"], r["is_kept"])
           for r in semantic_keep_one(emb, threshold=0.9,
                                      n_planes=2).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (4, True)}


# --- corpus ordering: global shuffle + block packing -------------------------

def test_materialize_blocks_rejects_mismatched_count_fn(spark):
    """A pack_blocks map built with a non-whitespace count_fn (e.g. BPE)
    used to silently mis-slice every block in materialize_blocks; the
    count-consistency guard now fails the job with both counts in the
    message, while a matching map still materializes."""
    import pytest

    from cfht2caom2_spark.functions.tokens import ws_token_count
    from cfht2caom2_spark.operators.packing import (materialize_blocks,
                                                    pack_blocks)

    docs = spark.createDataFrame(
        [(i, "tok " * 5) for i in range(6)], "doc_id bigint, text string")
    bad_map = pack_blocks(docs, "doc_id", "text", block_tokens=8,
                          count_fn=lambda c: ws_token_count(c) * 2)
    with pytest.raises(Exception, match="count_fn"):
        materialize_blocks(docs, bad_map, "doc_id", "text",
                           block_tokens=8).collect()
    good_map = pack_blocks(docs, "doc_id", "text", block_tokens=8)
    out = materialize_blocks(docs, good_map, "doc_id", "text",
                             block_tokens=8)
    assert out.count() == 4    # 30 tokens / 8 per block -> 4 blocks


def test_pack_blocks_partitioning_invariant_and_contiguous(spark):
    """The packing map is a pure function of the input: identical under
    different range-partition counts (prefix + local cumsum == global
    cumsum for any contiguous split), spans are contiguous and gap-free,
    and empty docs occupy no span."""
    from cfht2caom2_spark.operators.packing import pack_blocks

    rows = [(i, " ".join(f"w{j}" for j in range(i % 17))) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = {r["doc_id"]: r.asDict() for r in
         pack_blocks(docs, block_tokens=10, num_partitions=2).collect()}
    b = {r["doc_id"]: r.asDict() for r in
         pack_blocks(docs, block_tokens=10, num_partitions=7).collect()}
    assert a == b
    # contiguous token stream in doc_id order: each start = prev start + n
    off = 0
    for i in range(60):
        assert a[i]["start_offset"] == off
        off += a[i]["n_tokens"]
        if a[i]["n_tokens"] == 0:
            assert a[i]["n_blocks"] == 0
        else:
            assert a[i]["first_block"] == a[i]["start_offset"] // 10
            assert (a[i]["last_block"]
                    == (a[i]["start_offset"] + a[i]["n_tokens"] - 1) // 10)


def test_global_shuffle_deterministic_epochs(spark):
    """Same seed -> identical order on any partitioning; different seed ->
    a different permutation of the same ids (a fresh epoch)."""
    from cfht2caom2_spark.operators.packing import global_shuffle

    docs = spark.createDataFrame([(i, "x") for i in range(200)],
                                 "doc_id bigint, text string")
    o1 = [r["doc_id"] for r in global_shuffle(docs, seed=1).collect()]
    o1b = [r["doc_id"] for r in
           global_shuffle(docs.repartition(7), seed=1).collect()]
    o2 = [r["doc_id"] for r in global_shuffle(docs, seed=2).collect()]
    assert o1 == o1b
    assert sorted(o1) == sorted(o2) == list(range(200))
    assert o1 != o2 and o1 != list(range(200))


def test_duplication_weights_and_decontam_report(spark):
    """Soft dedup: n copies of one content each weigh 1/n, distinct content
    weighs 1.  Report: each eval doc counts the training docs overlapping
    it (including itself when bench is a corpus slice), independent of
    other eval docs."""
    from cfht2caom2_spark.operators.decontam import decontam_report
    from cfht2caom2_spark.operators.dedup import duplication_weights

    long_a = " ".join(f"alpha{i}" for i in range(12))
    long_b = " ".join(f"beta{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, long_a), (2, long_a), (3, "  " + long_a + " "),  # ws-normalized dup
         (4, long_b), (5, "unrelated words " * 6)],
        "doc_id bigint, text string")
    w = {r["doc_id"]: r for r in duplication_weights(docs).collect()}
    assert [w[i]["dup_count"] for i in (1, 2, 3, 4, 5)] == [3, 3, 3, 1, 1]
    assert w[1]["dup_weight"] == 1.0 / 3 and w[4]["dup_weight"] == 1.0

    bench = docs.filter("doc_id in (2, 4)")
    rep = {r["doc_id"]: r for r in
           decontam_report(docs, bench, min_overlap=5).collect()}
    # bench doc 2 (content A): overlapped by train docs 1,2,3
    assert rep[2]["n_contaminated_docs"] == 3
    assert rep[2]["max_overlap"] == 10      # all 10 distinct 3-grams of A
    # bench doc 4 (content B): only itself
    assert rep[4]["n_contaminated_docs"] == 1 and rep[4]["max_overlap"] == 10


def test_materialize_blocks_round_trips_the_token_stream(spark):
    """Concatenating the materialized blocks in block_id order reproduces
    the exact global token stream: docs cross block boundaries, every
    block but the last is exactly full, and empty docs vanish."""
    from cfht2caom2_spark.operators.packing import (materialize_blocks,
                                                    pack_blocks)

    rows = [(i, " ".join(f"d{i}w{j}" for j in range(5 + (i * 3) % 7)))
            for i in range(20)] + [(20, ""), (21, "   ")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    packed = pack_blocks(docs, block_tokens=8)
    blocks = {r["block_id"]: r for r in
              materialize_blocks(docs, packed, block_tokens=8).collect()}
    stream = [w for i in range(22) for w in rows[i][1].split()]
    n_blocks = (len(stream) + 7) // 8
    assert sorted(blocks) == list(range(n_blocks))
    for b in range(n_blocks):
        expect = stream[b * 8:(b + 1) * 8]
        assert blocks[b]["block_text"].split() == expect
        assert blocks[b]["n_tokens"] == len(expect)


# --------------------------------------------------------------------------
# k-means centroids + trained-cell IVF (operators/kmeans.py)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def blob_vecs(spark):
    """60 vectors in 3 well-separated 4-d blobs; label = blob id."""
    rng = np.random.RandomState(7)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    rows = []
    for i in range(60):
        b = i % 3
        v = centers[b] + rng.normal(0, 0.3, 4)
        rows.append((i, [float(x) for x in v], b))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")


def test_kmeans_recovers_planted_blobs(blob_vecs):
    from cfht2caom2_spark.operators.kmeans import (assign_cells,
                                                   init_centroids,
                                                   kmeans_cost,
                                                   train_centroids)

    cents = train_centroids(blob_vecs, k=3, n_iter=5, seed=1)
    assert kmeans_cost(blob_vecs, cents) < kmeans_cost(
        blob_vecs, init_centroids(blob_vecs, 3, seed=1))
    got = assign_cells(blob_vecs, cents).join(
        blob_vecs.select("vec_id", "label"), "vec_id").collect()
    # every blob maps to exactly one cell and vice versa (perfect recovery
    # on separated blobs), regardless of which cell id each blob drew
    blob_to_cell = {}
    for r in got:
        blob_to_cell.setdefault(r["label"], set()).add(r["cell"])
    cells = [c for s in blob_to_cell.values() for c in s]
    assert all(len(s) == 1 for s in blob_to_cell.values())
    assert len(set(cells)) == 3


def test_kmeans_deterministic(blob_vecs):
    from cfht2caom2_spark.operators.kmeans import train_centroids

    a = train_centroids(blob_vecs, k=3, n_iter=3, seed=1)
    b = train_centroids(blob_vecs, k=3, n_iter=3, seed=1)
    assert a == b


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from cfht2caom2_spark.operators.kmeans import (init_centroids,
                                                   train_centroids)

    # two IDENTICAL vectors + k=3 means two init centroids coincide; ties
    # break to the lowest cell, so the higher twin owns NOTHING from the
    # first assignment on — Lloyd's repair must keep its position instead
    # of shrinking k or crashing on a missing group
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [50.0, 50.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    init = init_centroids(df, 3, seed=0)          # k == n: all 3 picked
    trained = train_centroids(df, k=3, n_iter=2, seed=0)
    assert len(trained) == 3                      # k never shrinks
    # exactly one of the coincident twins starves and stays at init
    twins = [i for i, c in enumerate(init) if init.count(c) == 2]
    assert len(twins) == 2
    assert trained[twins[1]] == init[twins[1]]
    # and both data clusters are represented
    import math
    for target in ([0.0, 0.0], [50.0, 50.0]):
        assert any(math.dist(c, target) < 1.0 for c in trained)


def test_ivf_centroid_probe_all_cells_matches_exact(blob_vecs):
    """With n_probe = n_cells the trained-cell IVF degrades to brute force:
    its (query, vec, rank) set must equal cosine_topk's exactly — pins the
    probe plumbing (cell assignment, candidate join, ranking) with zero
    recall excuse."""
    from cfht2caom2_spark.operators.kmeans import (ivf_centroid_topk,
                                                   train_centroids)

    cents = train_centroids(blob_vecs, k=3, n_iter=3, seed=1)
    queries = blob_vecs.filter(F.col("vec_id") < 4)
    exact = cosine_topk(blob_vecs, queries, k=5).select(
        "query_id", "vec_id", "rank").collect()
    ivf = ivf_centroid_topk(blob_vecs, queries, cents, k=5,
                            n_probe=3).select(
        "query_id", "vec_id", "rank").collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, exact))


def test_ivf_centroid_single_probe_stays_in_home_blob(blob_vecs):
    """n_probe=1 on converged blob centroids: every neighbor returned for a
    query comes from the query's own blob (cells track density)."""
    from cfht2caom2_spark.operators.kmeans import (ivf_centroid_topk,
                                                   train_centroids)

    cents = train_centroids(blob_vecs, k=3, n_iter=5, seed=1)
    queries = blob_vecs.filter(F.col("vec_id") < 3)
    got = ivf_centroid_topk(blob_vecs, queries, cents, k=5, n_probe=1)
    joined = got.join(
        blob_vecs.select(F.col("vec_id"), F.col("label").alias("nl")),
        "vec_id").collect()
    for r in joined:
        assert r["nl"] == r["query_id"] % 3


# --------------------------------------------------------------------------
# deterministic corpus splits (operators/sampling.py::split_assign)
# --------------------------------------------------------------------------


def test_split_assign_total_disjoint_and_sized(spark):
    from cfht2caom2_spark.operators.sampling import split_assign

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, "doc_id",
                       {"train": 0.8, "val": 0.1, "test": 0.1}, seed=4)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 5000          # exhaustive
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    assert abs(counts["test"] / 5000 - 0.1) < 0.02


def test_split_assign_deterministic_and_seed_sensitive(spark):
    from cfht2caom2_spark.operators.sampling import split_assign

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.5, "test": 0.5}
    a = {r["doc_id"]: r["split"]
         for r in split_assign(df, "doc_id", fr, seed=1).collect()}
    b = {r["doc_id"]: r["split"]
         for r in split_assign(df, "doc_id", fr, seed=1).collect()}
    c = {r["doc_id"]: r["split"]
         for r in split_assign(df, "doc_id", fr, seed=2).collect()}
    assert a == b
    assert a != c


def test_split_assign_remainder_falls_into_last_split(spark):
    from cfht2caom2_spark.operators.sampling import split_assign

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out = split_assign(df, "doc_id", {"a": 0.1, "b": 0.1}, seed=0)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 200           # nothing unassigned
    assert counts.get("b", 0) > counts.get("a", 0)  # b soaks the remainder


def test_cluster_balanced_sample_caps_and_keeps_small_cells(blob_vecs):
    from cfht2caom2_spark.operators.kmeans import (assign_cells,
                                                   cluster_balanced_sample,
                                                   train_centroids)

    cents = train_centroids(blob_vecs, k=3, n_iter=5, seed=1)
    # 20 vectors per blob; cap=25 >= cell size -> EVERYTHING passes exactly
    full = cluster_balanced_sample(blob_vecs, cents, cap_per_cell=25, seed=9)
    assert full.count() == blob_vecs.count()
    # cap=8 thins each 20-row cell toward 8 expected rows
    thin = cluster_balanced_sample(blob_vecs, cents, cap_per_cell=8, seed=9)
    per_cell = {r["cell"]: r["n"] for r in
                thin.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
                .collect()}
    assert set(per_cell) <= {0, 1, 2}
    for n in per_cell.values():
        assert 1 <= n <= 16          # binomial(20, 0.4) well inside [1,16]
    # deterministic: same seed -> same set; kept sets nest is NOT required
    again = {r["vec_id"] for r in
             cluster_balanced_sample(blob_vecs, cents, cap_per_cell=8,
                                     seed=9).collect()}
    assert again == {r["vec_id"] for r in thin.collect()}
    # thinned output labels agree with plain assignment
    lbl = {r["vec_id"]: r["cell"]
           for r in assign_cells(blob_vecs, cents).collect()}
    assert all(lbl[r["vec_id"]] == r["cell"] for r in thin.collect())


def test_semantic_keep_one_kmeans_cells_bridge_sign_boundary(spark):
    """Two near-identical vectors straddling the first-coordinate sign
    boundary: sign buckets put them in different cells (pair missed),
    trained k-means cells put them together (pair found) — the reason the
    SemDeDup path accepts centroids."""
    from cfht2caom2_spark.operators.kmeans import train_centroids
    from cfht2caom2_spark.operators.similarity import semantic_keep_one

    rows = [(0, [0.01, 1.0, 0.0, 0.0]), (1, [-0.01, 1.0, 0.0, 0.0]),
            (2, [5.0, -4.0, 2.0, 1.0]), (3, [-3.0, 2.0, -4.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sign = {r["vec_id"]: r["is_kept"]
            for r in semantic_keep_one(df, threshold=0.95,
                                       n_planes=4).collect()}
    assert sign[0] and sign[1]      # boundary split: both "unique", missed
    cents = train_centroids(df, k=3, n_iter=4, seed=2)
    km = {r["vec_id"]: r["is_kept"]
          for r in semantic_keep_one(df, threshold=0.95,
                                     centroids=cents).collect()}
    assert km[0] and not km[1]      # same cell: pair found, min id kept
    assert km[2] and km[3]


def test_embedding_neardup_pairs_centroid_mode_skips_null_bucket(spark):
    """Centroid mode: a vector whose dimension differs from the centroids'
    has no nearest cell (NULL bucket).  Two identical such vectors must
    not pair — the NULL bucket is not a cell — while same-dimension
    duplicates still do."""
    from cfht2caom2_spark.operators.similarity import embedding_neardup_pairs

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]),
            (2, [1.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(
        df, threshold=0.95, centroids=[[1.0, 0.0], [0.0, 1.0]]).collect()}
    assert pairs == {(0, 1)}


def test_repetition_ladder_fast_parity(spark):
    """repetition_ladder_stats_fast (the batch-counting mapInPandas twin)
    equals the 9 Column-expression ladder rungs bitwise on adversarial
    inputs: repeated phrases (deep dup coverage), count-vs-charlen winner
    conflicts in the top rung, short docs (< n tokens), empty and
    whitespace-only text, multi-space separators."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.functions import quality as Q

    rows = [
        (0, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (1, "aa bb aa bb aa bb cc dd ee ff gg hh ii jj kk ll mm nn"),
        (2, "the quick brown fox jumps over the lazy dog " * 4),
        (3, "longword longword xx yy zz " + "q w " * 12),
        (4, "one two three"),            # < n for every dup rung
        (5, ""),                          # no tokens
        (6, "   "),                       # whitespace only
        (7, "a  b   a  b a b a b a b a b a b"),  # multi-space separators
        (8, "x " * 30 + "copy me twice copy me twice copy me twice"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    docs = docs.withColumn("_toks", Q.tokens(F.col("text")))
    t = F.col("_toks")
    cols = [F.col("doc_id")]
    for n in Q.REP_LADDER_TOP_NS:
        cols.append(Q.top_ngram_char_frac(t, n)
                    .alias(f"top_{n}gram_char_frac"))
    for n in Q.REP_LADDER_DUP_NS:
        cols.append(Q.dup_ngram_char_frac(t, n)
                    .alias(f"dup_{n}gram_char_frac"))
    expr = {r["doc_id"]: r.asDict() for r in docs.select(*cols).collect()}
    fast = {r["doc_id"]: r.asDict()
            for r in Q.repetition_ladder_stats_fast(
                docs, id_col="doc_id", text_col="text").collect()}
    assert expr == fast
    # sanity: the adversarial rows actually exercise non-zero coverage
    assert fast[0]["dup_5gram_char_frac"] > 0.9
    assert fast[8]["dup_5gram_char_frac"] > 0.0


def test_simhash_pairs_null_text_parity(spark):
    """NULL-text docs sign as simhash 0 (the fold's otherwise(-1) branch
    fires for every bit), so they are hamming-0 pairs of each other — the
    md5 fast frame must reproduce that, not drop the rows (round-6 review
    catch).  The cross-check brute-forces the pairs from the expression
    ``simhash`` signatures."""
    from itertools import combinations

    from cfht2caom2_spark.operators.dedup import (hash60, simhash,
                                                  simhash_pairs,
                                                  word_shingles)

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "regular text that is unlike others "
                                   "entirely and long enough")],
        "doc_id bigint, text string")
    fast = {(r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_pairs(docs, bits=60, n_bands=4,
                                   max_hamming=3).collect()}
    sig = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id",
        simhash(F.col("text"), bits=60, features_fn=word_shingles,
                hash_fn=hash60).alias("sh")).collect()}
    expr = {(a, b, bin(sig[a] ^ sig[b]).count("1"))
            for a, b in combinations(sorted(sig), 2)}
    expr = {p for p in expr if p[2] <= 3}
    assert fast == expr
    assert (1, 2, 0) in fast


def test_assign_cells_vectorized_null_ragged_and_string_ids(spark):
    """The vectorized assignment must label NULL / wrong-length /
    NULL-element vectors NULL like the expression path, and carry a
    non-bigint id type through its output schema (round-6 review catch:
    the schema used to hardcode bigint)."""
    from cfht2caom2_spark.operators.kmeans import assign_cells

    cents = [[0.0, 1.0], [1.0, 0.0]]
    rows = [("a", [0.1, 0.9]), ("b", None), ("c", [1.0, 0.0, 0.0]),
            ("d", [None, 1.0]), ("e", [0.9, 0.2])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    expr = {r["vec_id"]: r["cell"]
            for r in assign_cells(df, cents, vectorized=False).collect()}
    vec = {r["vec_id"]: r["cell"]
           for r in assign_cells(df, cents, vectorized=True).collect()}
    assert expr == vec
    assert expr["b"] is None and expr["c"] is None and expr["d"] is None
    assert expr["a"] == 0 and expr["e"] == 1


def test_ivf_centroid_topk_big_kdim_path_matches_small(spark):
    """At k*dim >= the dispatch threshold ivf_centroid_topk switches both
    sides to the vectorized path; on clean data the output must equal the
    expression path bitwise (cumsum == the fold; lexsort == the window
    ordering on both the probe and the rank)."""
    import random

    from cfht2caom2_spark.operators import kmeans as KM

    rng = random.Random(3)
    dim, n = 16, 120
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = df.filter("vec_id < 3")
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(8)]
    small = {(r["query_id"], r["vec_id"], r["rank"], r["cos"])
             for r in KM.ivf_centroid_topk(df, queries, cents,
                                           k=5, n_probe=2).collect()}
    orig = KM._VEC_KDIM_THRESHOLD
    KM._VEC_KDIM_THRESHOLD = 8 * dim          # force the big path
    try:
        big = {(r["query_id"], r["vec_id"], r["rank"], r["cos"])
               for r in KM.ivf_centroid_topk(df, queries, cents,
                                             k=5, n_probe=2).collect()}
    finally:
        KM._VEC_KDIM_THRESHOLD = orig
    assert small == big and len(small) > 0


def test_char_stats_fast_parity(spark):
    """char_stats_fast equals the char_run_sq_sum/char_simpson/
    distinct_char_frac expression folds bitwise, including the empty-text
    zero guards and single-char/run-heavy inputs."""
    from pyspark.sql import functions as F

    from cfht2caom2_spark.functions import quality as Q

    from . import reference_impl as R

    rows = [(0, "aaaa"), (1, "abcabc"), (2, ""), (3, "a"),
            (4, "the quick brown fox " * 3), (5, "zz  zz\tzz\nzz")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    text = F.col("text")
    expr = {r["doc_id"]: r.asDict() for r in docs.select(
        "doc_id",
        F.length(text).cast("bigint").alias("n_chars_text"),
        R.char_run_sq_sum(text).alias("char_sq_sum"),
        R.char_simpson(text).alias("char_simpson"),
        R.distinct_char_frac(text).alias("distinct_char_frac"),
    ).collect()}
    fast = {r["doc_id"]: r.asDict()
            for r in Q.char_stats_fast(docs, id_col="doc_id",
                                       text_col="text").collect()}
    assert expr == fast
    assert fast[0]["char_simpson"] == 1.0          # single repeated char


def test_kmeans_assignment_plan_is_narrow(spark):
    """assign_cells (expression path) is a pure projection: no Exchange, no
    Python crossing — the invariant that makes per-iteration Lloyd's cost
    one shuffle."""
    from cfht2caom2_spark.operators.kmeans import assign_cells

    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])],
        "vec_id bigint, embedding array<float>")
    plan = assign_cells(df, [[0.0, 1.0], [1.0, 0.0]]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_assign_cells_vectorized_parity(spark):
    """The production-k*dim numpy-matmul assignment path labels every
    vector like the literal-expression path on this data: the matmul
    identity can differ from sq_dist's sequential fold at the ulp level
    (documented FAISS-style trade), which flips a label only for vectors
    equidistant-to-rounding between cells — absent here by construction.
    EXACT ties are probed with duplicated centroids (tie on EVERY vector):
    np.argmin's first-min must match array_position's lowest-cell rule."""
    import math
    import random

    from cfht2caom2_spark.operators.kmeans import assign_cells

    rng = random.Random(7)
    dim, k, n = 19, 6, 400
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(k)]
    cents[3] = list(cents[1])           # exact duplicate -> guaranteed ties
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    expr = {r["vec_id"]: r["cell"]
            for r in assign_cells(df, cents, vectorized=False).collect()}
    vec = {r["vec_id"]: r["cell"]
           for r in assign_cells(df, cents, vectorized=True).collect()}
    assert expr == vec
    assert any(v == 1 for v in expr.values())  # ties resolved to cell 1
    assert not any(v == 3 for v in expr.values())
    # auto-dispatch: small k*dim stays on the narrow expression plan,
    # large k*dim crosses to Python
    small = assign_cells(df, cents) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in small
    big_c = [[math.sin(i * j + 1) for j in range(256)] for i in range(64)]
    big = assign_cells(df.limit(1), big_c) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in big


def test_train_centroids_cli_lifecycle(spark, tmp_path, monkeypatch, capsys):
    import json

    import cfht2caom2_spark.__main__ as cli
    import cfht2caom2_spark.session as session_mod

    monkeypatch.setattr(session_mod, "get_spark",
                        lambda app_name=None, **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in
                 (rng.normal(0, 0.2, 3) + (10.0 * (i % 2)))])
            for i in range(40)]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>") \
        .write.mode("overwrite").parquet(str(tmp_path / "emb"))
    rc = cli.main(["train-centroids", "--input", str(tmp_path / "emb"),
                   "--k", "2", "--iters", "4", "--seed", "1",
                   "--cap", "5", "--out", str(tmp_path / "sample")])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["k"] == 2 and out["dim"] == 3
    assert len(out["centroids"]) == 2
    # the two blobs sit at ~0 and ~10 per coordinate
    lo, hi = sorted(out["centroids"], key=lambda c: c[0])
    assert all(abs(x) < 1 for x in lo) and all(abs(x - 10) < 1 for x in hi)
    sample = spark.read.parquet(str(tmp_path / "sample"))
    assert out["sampled"] == sample.count()
    per = {r["cell"]: r["n"] for r in sample.groupBy("cell")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(1 <= n <= 12 for n in per.values())  # binomial(20, 1/4)


def test_threshold_buckets_tracks_rank_buckets(spark):
    """The no-sort production path vs the ntile spec: order is exact (every
    head value <= every middle value <= every tail value per stratum) and
    bucket sizes agree within the sketch tolerance on a spread-out value
    column."""
    from cfht2caom2_spark.operators.sampling import (rank_buckets,
                                                     threshold_buckets)

    rows = [(i, "en" if i % 2 else "fr", float((i * 37) % 997))
            for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, v double")
    exact = rank_buckets(df, "v", "lang", "doc_id")
    approx = threshold_buckets(df, "v", "lang")
    order = {"head": 0, "middle": 1, "tail": 2}
    for out in (exact, approx):
        got = out.groupBy("lang", "bucket").agg(
            F.min("v").alias("lo"), F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n")).collect()
        by_lang = {}
        for r in got:
            by_lang.setdefault(r["lang"], []).append(r)
        for lang, rs in by_lang.items():
            rs.sort(key=lambda r: order[r["bucket"]])
            assert [r["bucket"] for r in rs] == ["head", "middle", "tail"]
            for a, b in zip(rs, rs[1:]):
                assert a["hi"] <= b["lo"]            # order exact
            for r in rs:
                assert abs(r["n"] - 100) <= 10       # ~300/lang, terciles


def test_rank_buckets_deterministic_on_ties(spark):
    """All-equal values: the id tiebreak still yields equal-count buckets,
    identically on rerun."""
    from cfht2caom2_spark.operators.sampling import rank_buckets

    df = spark.createDataFrame([(i, "en", 1.0) for i in range(9)],
                               "doc_id bigint, lang string, v double")
    a = {r["doc_id"]: r["bucket"]
         for r in rank_buckets(df, "v", "lang", "doc_id").collect()}
    b = {r["doc_id"]: r["bucket"]
         for r in rank_buckets(df, "v", "lang", "doc_id").collect()}
    assert a == b
    from collections import Counter
    assert Counter(a.values()) == {"head": 3, "middle": 3, "tail": 3}
    assert [a[i] for i in range(9)] == ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
