"""Exact-substring repeated-span detection — ExactSubstr-style dedup.

The remaining member of the dedup family (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better" §4.1): any run of >= K tokens
that occurs more than once in the corpus is a *duplicated span*.  MinHash
(operators/dedup.py) judges whole documents; this operator finds the
copied REGIONS inside otherwise-distinct documents (quoted boilerplate,
syndicated article bodies, license blocks).

Reference analogue: the reference repairs/flags known-bad *parts* of a
record while keeping the record (instruments.py:222-266 value repair); here
the known-bad part is a token range and the flag is per-span.

Spark-first decomposition (suffix arrays do not distribute; the standard
scalable recast is window-hash voting):

  1. per doc, all K-token window keys as ONE array expression (the
     word_shingles zip cascade — k-1 zips, O(n*k) total, no explode yet);
  2. posexplode to a slim (doc, pos, key) stream — same shape as the
     decontamination gram stream;
  3. duplicated keys = groupBy(key) HAVING count > 1 — map-side-combined
     wordcount, the only wide aggregation, high-entropy key;
  4. inner join the stream against the duplicated-key set (AQE-decided;
     both sides slim) -> marked window starts per doc;
  5. per-doc span assembly: sort the marked starts, ONE fold merges
     overlapping [p, p+K-1] windows into maximal spans (gaps-and-islands,
     O(marks) per doc, no further shuffle).

Steps 2-5 are shared by the summary (``repeated_spans``) and the removal
(``remove_repeated_spans``) through ``_span_intervals`` — one fold, one
merge rule, impossible for the two surfaces to drift apart.

A span of duplicated text of length L >= K produces L-K+1 consecutive
marked windows that merge back into exactly one [start, end] interval, so
the output is independent of how the span was tiled.

``key_fn=None`` keeps the raw window string as the key — exact semantics,
zero collisions, and DuckDB-portable (the oracle runs the same strings).
Production passes ``key_fn=lambda c: F.xxhash64(c)``: 8-byte keys through
the shuffle instead of ~8*K-byte strings; a collision can only ADD a false
span (conservative, never loses a true duplicate).  The 64-bit space
matters: the dedup family's crc32 hash lives mod 2^31-1, where corpus-wide
window-key cardinality collides by the birthday bound at ~10^5 windows
(measured: 2 false spans on the 500-doc test table) — fine for MinHash
signatures (per-doc minima), wrong for global key identity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text: Column, lower: bool = True) -> Column:
    """Whitespace tokens, empties removed; NULL text -> empty array (so
    every downstream size() is 0, never -1/NULL — the oracle twins
    coalesce identically)."""
    t = F.coalesce(text, F.lit(""))
    if lower:
        t = F.lower(t)
    return F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))


def window_keys(text: Column, k: int) -> Column:
    """All K-token window strings of ``text`` in position order (NOT
    distinct — position i of the array is the window starting at token i).
    Lower-cased whitespace tokens, matching operators.dedup.word_shingles;
    docs with < k tokens yield an empty array (no window is a full K-run).

    Two builders, chosen by K (measured at sf0.1, steady state):

      * zip cascade (word_shingles' form): k-1 array passes that EXTEND the
        accumulated window string — O(k^2) chars copied per window, but
        minimal per-element overhead.  Wins small K (k=8: 1.7 s vs 3.7 s).
      * flat transform(sequence, i -> array_join(slice(toks, i, k))): each
        window built exactly once, O(k) chars — wins the production K
        (k=50: 1.7 s vs 6.2 s) and keeps the codegen unit CONSTANT-size
        where the cascade's k-1-deep tree pays ~4 s of one-time compile.
    """
    toks = _tokens(text)
    n = F.size(toks)
    if k <= 12:
        win = F.greatest(n - (k - 1), F.lit(1))
        sh = F.slice(toks, 1, win)
        for j in range(1, k):
            sh = F.zip_with(sh, F.slice(toks, j + 1, win),
                            lambda a, b: F.concat_ws(" ", a, b))
    else:
        sh = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "))
    return F.when(n >= k, sh).otherwise(
        F.array().cast("array<string>"))


def _window_stream(docs: DataFrame, id_col: str, text_col: str, k: int,
                   ord_expr: Column | None = None) -> DataFrame:
    """The exploded (id[, _ord], pos, key-string) window stream built in one
    vectorized Python crossing (round 6, guide §4.2) — byte-identical
    strings to ``posexplode(window_keys(text, k))``: lower-cased space-only-
    trimmed ASCII-whitespace tokens, K-token windows single-space-joined,
    docs with < k tokens (or NULL text) emitting nothing.  The zip-cascade
    expression built each window through k-1 interpreted array passes and
    its generated code was large enough to hit the per-JVM JIT lottery;
    a str.join per window is both faster and deterministic.  Carried
    columns (id, optional _ord) keep their input types."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    from ..functions.kernels import word_tokens

    sel = [F.col(id_col)]
    if ord_expr is not None:
        sel.append(ord_expr.alias("_ord"))
    sel.append(F.col(text_col))
    src = docs.select(*sel)
    carry = [f for f in src.schema.fields if f.name != text_col]
    out_schema = StructType(list(carry)
                            + [StructField("pos", IntegerType()),
                               StructField("_k", StringType())])
    carry_names = [f.name for f in carry]

    def gen(batches):
        for pdf in batches:
            counts, keys = [], []
            for t in pdf[text_col]:
                if t is None:
                    counts.append(0)
                    continue
                toks = word_tokens(t.lower())
                n = len(toks)
                if n < k:
                    counts.append(0)
                    continue
                keys.extend(" ".join(toks[i:i + k])
                            for i in range(n - k + 1))
                counts.append(n - k + 1)
            rep = np.repeat(np.arange(len(pdf)), counts)
            out = pdf.iloc[rep][carry_names].reset_index(drop=True)
            out["pos"] = np.concatenate(
                [np.arange(c, dtype="int32") for c in counts]) \
                if keys else np.array([], dtype="int32")
            out["_k"] = keys
            yield out

    return src.mapInPandas(gen, out_schema)


def _span_intervals(stream: DataFrame, id_col: str, k: int,
                    min_count: int, exempt_first: bool) -> DataFrame:
    """(id, [_ord,] pos, _k) stream -> (id, _spans array<struct<s,e>>):
    the merged maximal duplicated intervals per doc.  ``exempt_first``
    excludes each key's first occurrence — ordered by (_ord, id, pos) —
    from marking (the keep-one removal semantics); the summary treats
    every occurrence of a duplicated key as duplicated."""
    if exempt_first:
        key_stats = (
            stream.groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_c"),
                 F.min_by(F.struct(F.col(id_col).alias("i"),
                                   F.col("pos").alias("p")),
                          F.struct("_ord", id_col, "pos")).alias("_first"))
            .filter(F.col("_c") >= min_count)
            .select("_k", "_first")
        )
        marked = (
            stream.join(key_stats, on="_k", how="inner")
            .filter(~((F.col(id_col) == F.col("_first.i"))
                      & (F.col("pos") == F.col("_first.p"))))
        )
    else:
        dup_keys = (stream.groupBy("_k")
                    .agg(F.count(F.lit(1)).alias("_c"))
                    .filter(F.col("_c") >= min_count)
                    .select("_k"))
        marked = stream.join(dup_keys, on="_k", how="inner")

    marks = (marked.groupBy(id_col)
             .agg(F.array_sort(F.collect_list("pos")).alias("_marks")))

    # gaps-and-islands fold: merge overlapping/adjacent [p, p+K-1] windows
    # into maximal intervals.  state = (open_start, open_end, closed array);
    # finish flushes the open interval.  -1 sentinels = "none open yet".
    empty_spans = F.array().cast("array<struct<s:bigint,e:bigint>>")
    init = F.struct(F.lit(-1).cast("bigint").alias("s"),
                    F.lit(-1).cast("bigint").alias("e"),
                    empty_spans.alias("arr"))

    def step(acc, p):
        w_end = p + F.lit(k - 1)
        extend = p <= acc["e"] + 1
        closed = F.array(F.struct(acc["s"].alias("s"), acc["e"].alias("e")))
        return F.struct(
            F.when(acc["s"] < 0, p)
            .when(extend, acc["s"]).otherwise(p).alias("s"),
            F.when(acc["s"] < 0, w_end)
            .when(extend, F.greatest(acc["e"], w_end))
            .otherwise(w_end).alias("e"),
            F.when((acc["s"] >= 0) & ~extend,
                   F.concat(acc["arr"], closed))
            .otherwise(acc["arr"]).alias("arr"),
        )

    def finish(acc):
        last = F.array(F.struct(acc["s"].alias("s"), acc["e"].alias("e")))
        return F.when(acc["s"] >= 0, F.concat(acc["arr"], last)) \
            .otherwise(acc["arr"])

    return marks.select(
        id_col, F.aggregate("_marks", init, step, finish).alias("_spans"))


def repeated_spans(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 50,
                   key_fn=None, min_count: int = 2) -> DataFrame:
    """Per-doc duplicated-span summary:
    (id, n_tokens, n_spans, dup_token_count, dup_token_frac).

    A token index is *duplicated* when it lies inside some K-token window
    whose key occurs >= ``min_count`` times across the whole input
    (within-doc repeats count — a doc that repeats its own paragraph is
    flagged exactly like cross-doc copying, per ExactSubstr).  Every input
    doc appears exactly once (ids assumed unique, as elsewhere in the
    dedup family).

    Pinned stream (round 6, guide §2.4): the (id, pos, key) stream feeds
    BOTH sides of the duplicated-key detection (the groupBy and the marking
    probe), and Catalyst plans no ReusedExchange across those differently-
    shaped consumers — without materialization the tokenize + window-build
    subtree (the dominant per-row cost) evaluates once per branch.  A lazy
    ``localCheckpoint`` pins the slim stream so every consumer reads the
    blocks; measured at sf1.0 this took the registry query from ~20 s to
    ~7 s."""
    stream = _window_stream(docs, id_col, text_col, k)
    if key_fn is not None:
        stream = stream.withColumn("_k", key_fn(F.col("_k")))
    stream = stream.localCheckpoint(eager=False)
    spans = _span_intervals(stream, id_col, k, min_count,
                            exempt_first=False)

    # counts derive from the interval array — same fold as the removal path;
    # this branch prunes down to tokenize-only (no window build)
    n_tokens_df = docs.select(
        F.col(id_col),
        F.size(_tokens(F.col(text_col))).cast("bigint").alias("n_tokens"))
    n_spans = F.size("_spans").cast("bigint")
    dup_tokens = F.aggregate(
        "_spans", F.lit(0).cast("bigint"),
        lambda a, s: a + s["e"] - s["s"] + 1)
    return (
        n_tokens_df
        .join(spans, on=id_col, how="left")
        .select(
            id_col, "n_tokens",
            F.coalesce(n_spans, F.lit(0)).alias("n_spans"),
            F.coalesce(dup_tokens, F.lit(0)).alias("dup_token_count"),
            (F.coalesce(dup_tokens, F.lit(0)).cast("double")
             / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"))
            .alias("dup_token_frac"),
        )
    )


def remove_repeated_spans(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 50,
                          key_fn=None, min_count: int = 2,
                          order_col: str | None = None) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. §4.1 keep-one semantics, window-
    granular): for every duplicated K-window key, its FIRST occurrence —
    ordered by (order_col, id, pos); id order when order_col is None —
    is exempt; a token is removed iff covered by at least one non-exempt
    duplicated window.  Returns (id, cleaned_text, removed_token_count):
    docs with nothing to remove keep their ORIGINAL text byte-identical;
    docs with removals are rebuilt from the surviving tokens
    (single-space joined — token-level ops are whitespace-normalizing,
    same contract as the lower-cased window keys).

    Scale shape = repeated_spans plus one map-side-combinable min_by per
    key (the exemption) — still three slim shuffles, no corpus text
    through any of them; the text rides only the final join-back, keyed by
    the unique doc id.  A lazy localCheckpoint materializes the slim (id,
    ord, pos, key) stream once (see repeated_spans — the exemption shape
    consumes the stream twice, so the win is the same); the reassembly
    branch prunes to tokenize-only.
    """
    ord_expr = F.col(order_col) if order_col else F.col(id_col)
    # ORIGINAL-case tokens for reconstruction (keys lower-case only for
    # matching; lower() never changes whitespace, so indices line up)
    base = docs.select(F.col(id_col), F.col(text_col),
                       ord_expr.alias("_ord"),
                       _tokens(F.col(text_col), lower=False).alias("_toks"))

    stream = _window_stream(docs, id_col, text_col, k, ord_expr=ord_expr)
    if key_fn is not None:
        stream = stream.withColumn("_k", key_fn(F.col("_k")))
    stream = stream.localCheckpoint(eager=False)
    spans = _span_intervals(stream, id_col, k, min_count, exempt_first=True)

    joined = base.join(spans, on=id_col, how="left")
    sp = F.col("_spans")
    # kept tokens via the COMPLEMENT of the spans: the fold emits the spans
    # sorted, disjoint, gap >= 1 apart, so one O(n_spans) pass computes the
    # uncovered [s, e] gaps and one flatten-of-slices copies each surviving
    # token exactly once — O(n_tokens + n_spans) per doc, replacing the
    # round-4 per-token F.exists probe (O(n_tokens * n_spans), pathological
    # for many-span docs).  Property tests pin equivalence.
    n_toks = F.size(F.col("_toks")).cast("bigint")
    gap_init = F.struct(
        F.lit(-1).cast("bigint").alias("p"),                  # last covered idx
        F.array().cast("array<struct<s:bigint,e:bigint>>").alias("g"))

    def gap_step(acc, s):
        gap = F.array(F.struct((acc["p"] + 1).alias("s"),
                               (s["s"] - 1).alias("e")))
        return F.struct(
            s["e"].alias("p"),
            F.when(s["s"] > acc["p"] + 1, F.concat(acc["g"], gap))
            .otherwise(acc["g"]).alias("g"))

    def gap_finish(acc):
        last = F.array(F.struct((acc["p"] + 1).alias("s"),
                                (n_toks - 1).alias("e")))
        return F.when(n_toks - 1 > acc["p"], F.concat(acc["g"], last)) \
            .otherwise(acc["g"])

    gaps = F.aggregate(sp, gap_init, gap_step, gap_finish)
    kept = F.flatten(F.transform(
        gaps, lambda g: F.slice(F.col("_toks"), (g["s"] + 1).cast("int"),
                                (g["e"] - g["s"] + 1).cast("int"))))
    removed = F.size(F.col("_toks")) - F.size(kept)
    return joined.select(
        id_col,
        F.when(sp.isNull() | (F.size(sp) == 0), F.col(text_col))
        .otherwise(F.array_join(kept, " ")).alias("cleaned_text"),
        F.when(sp.isNull(), F.lit(0)).otherwise(removed)
        .cast("bigint").alias("removed_token_count"),
    )
