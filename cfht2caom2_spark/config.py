"""Versioned rule profile — the engine's single source of thresholds.

The reference drives every branch from per-instrument mapping classes chosen by
a factory (reference instruments.py:3578-3655) and repairs known-bad values
from a config table (instruments.py:222-266).  Here the same role is played by
ONE dataclass: a versioned, broadcastable profile of quality-rule thresholds,
stop-word tables and scrub patterns.  ``rule_versions()`` is recorded in every
lineage row (north_rule) so a resumed run can detect a profile change.

All rules are Gopher/C4-style heuristics (Rae et al. 2021 "Scaling Language
Models" appendix A; Raffel et al. 2020 C4 §2.2) — public knowledge.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- language resources -----------------------------------------------------
# Small, deterministic stop-word tables (top function words per language).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "a", "to", "in", "is", "that", "it", "for",
           "on", "was", "with", "as", "at", "by", "be", "this", "are", "or"),
    "fr": ("le", "la", "les", "de", "des", "du", "et", "un", "une", "est",
           "que", "qui", "dans", "pour", "sur", "avec", "au", "pas", "ce", "il"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den",
           "von", "mit", "auf", "für", "im", "nicht", "sich", "des", "dem",
           "auch", "es"),
    "es": ("el", "la", "los", "las", "de", "y", "que", "en", "un", "una",
           "es", "por", "con", "para", "del", "se", "no", "su", "al", "lo"),
}

# PII scrub patterns: (rule_id, java/RE2-compatible regex, replacement).
# Kept to the regex subset valid in BOTH Java regex (Spark) and RE2 (DuckDB
# oracle): no lookbehind, no backreferences.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("pii_email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # country code optional: must catch bare 555-123-4567 / (555) 123-4567
    ("pii_phone", r"(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    ("pii_ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("pii_ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)

# Placeholder toxicity lexicon (synthetic tokens used by fixtures; a real
# deployment swaps in a published blocklist via the same profile mechanism).
TOXICITY_WORDS: tuple[str, ...] = ("badword1", "badword2", "slur1", "slur2")


@dataclass(frozen=True)
class RuleProfile:
    """Thresholds for the keep/drop heuristics (rule ids are stable API)."""

    version: str = "2026.08.1"
    min_words: int = 50                  # rule: too_short
    max_words: int = 100_000             # rule: too_long
    min_mean_word_len: float = 3.0       # rule: word_len_low   (Gopher)
    max_mean_word_len: float = 10.0      # rule: word_len_high  (Gopher)
    max_symbol_ratio: float = 0.10       # rule: symbol_ratio   (Gopher #/ellipsis)
    min_stopword_frac: float = 0.01      # rule: stopword_frac  (C4 "bad" gate)
    min_alpha_word_frac: float = 0.80    # rule: alpha_frac     (Gopher 80% alpha)
    max_repeated_line_frac: float = 0.30 # rule: repeated_lines (Gopher dup lines)
    max_repeated_paragraph_frac: float = 0.30  # rule: repeated_paragraphs
                                         # (Gopher dup-paragraph gate — blank-
                                         # line-delimited blocks, the template/
                                         # spam signal lines alone miss)
    max_bullet_line_frac: float = 0.90   # rule: bullet_lines   (Gopher: >90%
                                         # bullet lines = nav/link-farm page)
    max_ellipsis_line_frac: float = 0.30 # rule: ellipsis_lines (Gopher: >30%
                                         # "..." lines = teaser/snippet page)
    min_terminal_punct_line_frac: float = 0.0  # rule: terminal_punct (C4 line
                                         # gate at doc granularity; 0.0 = off —
                                         # a frac is never < 0 — deployments
                                         # raise it to opt in)
    min_sentences: int = 0               # rule: too_few_sentences (C4 §2.2
                                         # "at least 3 sentences"; 0 = off — a
                                         # count is never < 0 — C4 deployments
                                         # set 3; the synthetic corpus is
                                         # punctuation-free prose)
    block_lorem_ipsum: bool = True       # rule: lorem_ipsum (C4 §2.2: any page
                                         # with the placeholder phrase is a
                                         # template shell)
    block_curly_brace: bool = True       # rule: curly_brace (C4 §2.2: '{' in
                                         # extracted text = leaked code/CSS)
    # Gopher dup-ngram ladder (Rae et al. 2021 Table A1), opt-in: it is the
    # costly tail of the repetition family (one more Arrow crossing of
    # (text, lang); on 4 cores a warm run_batch over 3,000 synthetic pages
    # took 3.7-4.3 s with it and 3.1-3.9 s without), and the
    # lines/paragraphs/2-gram gates above already catch the common template
    # spam.  Thresholds are the published Gopher values; rules fire as
    # dup_top_{n}gram / dup_{n}gram.
    gopher_repetition_gates: bool = False
    max_top_ngram_char_frac: tuple[tuple[int, float], ...] = (
        (2, 0.20), (3, 0.18), (4, 0.16))
    max_dup_ngram_char_frac: tuple[tuple[int, float], ...] = (
        (5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10))
    max_perplexity: float = 25.0         # rule: perplexity     (CCNet-style LM gate;
                                         # re-validated at the current model
                                         # sampling windows (langid 600 /
                                         # ppl 1000 chars): clean/pii classes
                                         # <=17, gibberish >=53, 0 violations
                                         # over 5k fixture rows)
    max_perplexity_zh: float = 600.0     # per-lang override: char-bigram ppl over
                                         # a ~170-char alphabet sits far above the
                                         # latin scale (P13 rule-profile dispatch)
    min_lang_conf: float = 0.30          # rule: lang_conf      (CCNet fastText gate)
    allowed_langs: tuple[str, ...] = ("en", "fr", "de", "es", "zh")
    max_toxicity_hits: int = 0           # rule: toxicity
    # MinHash dedup parameters (bands × rows_per_band permutations).
    # rows_per_band=4 makes band collisions P = J^4: boilerplate-only overlap
    # (J~0.03 across template-sharing pages) yields ~0 false candidates, while
    # true near-dups (J>=0.8) keep ~0.99 recall over 8 bands — the banding
    # precision dial that keeps the verify join linear at crawl scale.
    minhash_bands: int = 8
    minhash_rows_per_band: int = 4
    shingle_size: int = 3                # word 3-shingles
    dedup_jaccard: float = 0.8
    # "pairs": drop docs near-dup of ANY earlier doc (one-pass, fully lazy —
    # the production default).  "clusters": connected components over the
    # verified-pair graph, keep the earliest doc per component (more
    # aggressive on chains; runs star-contraction rounds eagerly).
    dedup_policy: str = "pairs"
    # Host-consensus language backfill (J4-J6 sibling backfill inside the
    # main visit, reference instruments.py:1951-2019): a low-confidence
    # prediction adopts its host's majority language and is thereby exempt
    # from the lang_conf gate (hosts are strongly monolingual in practice).
    host_lang_backfill: bool = False
    host_backfill_min_conf: float = 0.5   # votes counted above this conf
    host_backfill_adopt_below: float = 0.3  # rows below this conf adopt
    # Domain blocklist (UT1/adult-list style URL filtering, the standard
    # web-corpus source gate): a page whose url host equals a listed host —
    # or is a subdomain of one — fires `blocked_domain`.  Empty by default
    # (deployments broadcast their curated list via the profile); the match
    # is a bounded OR-chain over the list, evaluated JVM-side in the scan
    # stage (rule P-series: url identity drives filtering, not just
    # grouping).
    blocked_hosts: tuple[str, ...] = ()
    # URL canonicalization at pipeline ingress (identity.canonical_url):
    # campaign-link variants (UTM params, click ids, fragments) of the same
    # page collapse to ONE url identity before any dedup / host grouping /
    # resume keying.  Off by default: it rewrites the url column, and
    # stores keyed on raw urls must opt in knowingly.
    canonicalize_urls: bool = False
    # Cross-document boilerplate line removal (CCNet/RefinedWeb line dedup,
    # operators/boilerplate.py) inside the main visit: lines whose trimmed
    # form appears in >= boilerplate_min_df distinct docs of the run are
    # stripped from extracted_text BEFORE the heuristic stats and scrub, so
    # keep/drop and the stored artifact reflect trainable content only.
    # Model scores (langid/ppl) and dedup signatures stay computed on the
    # original extraction — one Arrow pass, and near-dup identity remains a
    # property of the page as crawled.
    boilerplate_removal: bool = False
    boilerplate_min_df: int = 3
    # ExactSubstr span removal (operators/spans.py) inside the main visit:
    # runs of >= span_k tokens occurring >= span_min_count times across the
    # run lose every occurrence but the first (keep-one, Lee et al. 2022
    # §4.1).  Runs AFTER boilerplate removal, BEFORE the heuristic stats /
    # scrub, with the same contract: keep/drop and the stored artifact
    # reflect trainable content; model scores and dedup signatures keep the
    # as-crawled extraction.  span_k=50 is the paper's choice — long enough
    # that legitimate reuse (idioms, quotes under ~50 tokens) never fires.
    span_removal: bool = False
    span_k: int = 50
    span_min_count: int = 2
    # Benchmark decontamination (operators/decontam.py): when the caller
    # hands build_pipeline an eval-suite DataFrame, a doc sharing >=
    # decontam_min_overlap distinct word decontam_k-grams with ANY suite doc
    # fires the `contaminated` rule (reference analogue: the rejected-cache
    # lookup consulted before processing, cfht_name.py:560-575).  k=13 is
    # the GPT-3 appendix-C choice, and it matters: shared template
    # boilerplate (footers, navs — ~8 tokens) can never span a 13-gram, so
    # a single collision is already a high-precision contamination signal;
    # at k=3 the common footer alone cross-matched every page (measured on
    # the synthetic corpus: 122/294 false flags).
    decontam_k: int = 13
    decontam_min_overlap: int = 1
    # Fuzzy decontamination tier (decontam.fuzzy_decontaminate): MinHash
    # signature agreement vs the eval suite catches paraphrased leakage the
    # exact k-gram pass misses (one edited token destroys every covering
    # 13-gram but barely moves shingle Jaccard — Lee et al. 2022 §6 two-tier
    # hygiene).  Opt-in: it adds a second corpus signature fold.
    decontam_fuzzy: bool = False
    decontam_fuzzy_min_jaccard: float = 0.5
    decontam_fuzzy_bands: int = 8
    decontam_fuzzy_rows: int = 2

    def rule_versions(self) -> dict[str, str]:
        """Per-rule version map recorded in lineage rows (north_rule)."""
        v = self.version
        return {r: v for r in RULE_IDS}


RULE_IDS: tuple[str, ...] = (
    "empty_payload", "too_short", "too_long", "word_len_low", "word_len_high",
    "symbol_ratio", "stopword_frac", "alpha_frac", "repeated_lines",
    "repeated_paragraphs", "bullet_lines", "ellipsis_lines", "terminal_punct",
    "too_few_sentences", "lorem_ipsum", "curly_brace",
    "dup_top_2gram", "dup_top_3gram", "dup_top_4gram",
    "dup_5gram", "dup_6gram", "dup_7gram", "dup_8gram", "dup_9gram",
    "dup_10gram",
    "perplexity", "lang_conf", "lang_blocked", "blocked_domain", "toxicity",
    "exact_duplicate", "near_duplicate", "contaminated",
    "contaminated_fuzzy",
)

DEFAULT_PROFILE = RuleProfile()
