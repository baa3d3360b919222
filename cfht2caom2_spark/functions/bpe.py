"""BPE tokenizer training + encoding over the corpus.

Public technique: Sennrich, Haddow & Birch 2016, "Neural Machine Translation
of Rare Words with Subword Units" (ACL) — learn merge rules by repeatedly
joining the most frequent adjacent symbol pair in a word-frequency table,
then encode text by replaying merges in learned order.  This closes the
tokenizer-training loop the corpus vocab counts (q_vocab_counts) feed.

Reference analogue: the reference derives a reusable lookup artifact from a
full pass over its inputs and then applies it per record
(/root/reference/cfht2caom2/metadata.py:129-244 builds the offline metadata
cache once, main_app.py applies it per file); here the artifact is the
merge table, learned once from corpus counts and broadcast to every encoder
task.

Spark-first split of the work (the scale story):
  * The corpus-sized pass is ONE distributed map-side-combined wordcount —
    the same shuffle shape as q_vocab_counts, with the top-V prune applied
    as a TreeAggregate-style takeOrdered so the unbounded singleton tail
    never reaches the driver.
  * Merge LEARNING runs driver-side over the BOUNDED weighted vocab
    (classic BPE iterates over word TYPES, not the corpus: V entries, not
    10^12 docs — this is the textbook decomposition, not a shortcut).
  * ENCODING is an Arrow-batched pandas UDF with the merge ranks broadcast
    in the closure and a per-batch word cache (Zipf: a batch re-encodes few
    distinct words), i.e. the hot path never leaves the executor.

Determinism: ties in pair frequency break on the lexicographically smallest
pair; vocab truncation breaks count ties on the word.  Training the same
corpus twice yields byte-identical merge tables (pinned by tests).
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tokens import word_tokens

# marks the word boundary as its own symbol so merges cannot cross words and
# word-final subwords stay distinct from word-internal ones (Sennrich §3.2)
END_OF_WORD = "</w>"


# --------------------------------------------------------------------------
# corpus pass — distributed word counting (the only corpus-sized stage)
# --------------------------------------------------------------------------

def corpus_word_counts(docs: DataFrame, text_col: str = "text",
                       vocab_top_k: int = 50_000) -> list[tuple[str, int]]:
    """Top-V (word, count) from one map-side-combined wordcount, ordered by
    (count desc, word asc).  Tokenization matches q_vocab_counts: lowercased
    whitespace tokens.  The collect is bounded at vocab_top_k rows."""
    toks = word_tokens(F.lower(F.col(text_col)))
    counts = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    )
    top = (counts.orderBy(F.col("n").desc(), "word").limit(vocab_top_k)
           .collect())
    return [(r["word"], r["n"]) for r in top]


# --------------------------------------------------------------------------
# merge learning — pure python over the bounded weighted vocab
# --------------------------------------------------------------------------

def learn_merges(word_counts: list[tuple[str, int]],
                 n_merges: int) -> list[tuple[str, str]]:
    """Classic weighted BPE: each word is a symbol sequence (chars +
    END_OF_WORD); every round merges the globally most frequent adjacent
    pair (ties: lexicographically smallest pair).  Stops early when no pair
    occurs twice."""
    vocab: list[tuple[list[str], int]] = [
        (list(w) + [END_OF_WORD], c) for w, c in word_counts if w
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for sym, cnt in vocab:
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += cnt
        if not pairs:
            break
        best_n = max(pairs.values())
        if best_n < 2:
            break
        best = min(p for p, n in pairs.items() if n == best_n)
        merges.append(best)
        joined = best[0] + best[1]
        new_vocab = []
        for sym, cnt in vocab:
            out, i = [], 0
            while i < len(sym):
                if (i < len(sym) - 1 and sym[i] == best[0]
                        and sym[i + 1] == best[1]):
                    out.append(joined)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab.append((out, cnt))
        vocab = new_vocab
    return merges


def train_bpe(docs: DataFrame, text_col: str = "text",
              n_merges: int = 200,
              vocab_top_k: int = 50_000) -> list[tuple[str, str]]:
    """End-to-end: distributed wordcount -> driver-side merge learning."""
    return learn_merges(corpus_word_counts(docs, text_col, vocab_top_k),
                        n_merges)


# --------------------------------------------------------------------------
# encoding — merge replay per word, Arrow-batched over the corpus
# --------------------------------------------------------------------------

def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word by repeatedly applying the best-ranked (earliest
    learned) applicable merge — equivalent to replaying the merge list in
    order, but O(len * applicable) instead of O(len * n_merges)."""
    sym = list(word) + [END_OF_WORD]
    while len(sym) > 1:
        best_rank, best_i = None, -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def encode_text(text: str,
                ranks: dict[tuple[str, str], int],
                cache: dict[str, list[str]] | None = None) -> list[str]:
    """Whitespace-tokenize (lowercased — the training tokenization) and
    concatenate per-word encodings."""
    if cache is None:
        cache = {}
    out: list[str] = []
    for w in text.lower().split():
        enc = cache.get(w)
        if enc is None:
            enc = encode_word(w, ranks)
            cache[w] = enc
        out.extend(enc)
    return out


def with_bpe_tokens(df: DataFrame, merges: list[tuple[str, str]],
                    text_col: str = "text") -> DataFrame:
    """Append ``bpe_tokens: array<string>`` — the BPE encoding of
    ``text_col``.

    Iterator-form pandas UDF: the merge-rank dict is built ONCE per python
    worker (not per batch), and a per-task word cache collapses Zipf-repeated
    words to dict hits.  NULL text encodes to NULL (per-row isolation)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cache: dict[str, list[str]] = {}
        for s in batches:
            yield s.map(lambda t: None if t is None
                        else encode_text(t, ranks, cache))

    return df.withColumn("bpe_tokens", _encode(F.col(text_col)))


# --------------------------------------------------------------------------
# (de)serialization — the CLI artifact batch jobs can ship
# --------------------------------------------------------------------------

def merges_to_json(merges: list[tuple[str, str]]) -> str:
    return json.dumps([[a, b] for a, b in merges])


def merges_from_json(payload: str) -> list[tuple[str, str]]:
    return [(a, b) for a, b in json.loads(payload)]
