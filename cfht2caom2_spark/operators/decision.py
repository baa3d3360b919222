"""Keep/drop decision assembly — the rejected.record analogue.

Reference analogue: per-file keep/drop bookkeeping with reason codes
(``track_invalid_date`` -> ``rejected.record``, reference
instruments.py:859-863; factory fallback NO_INSTRUMENT at :3649) and the
"repair when safe, reject with reason otherwise" split (instruments.py:222-266
vs :859-863).  Every fired rule is recorded; ``keep`` is simply "no drop-rule
fired".  Rules never raise — a row with a null payload gets ``empty_payload``,
not an exception.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import RuleProfile
from ..functions.quality import heuristic_rules


def model_rules(profile: RuleProfile) -> dict[str, Column]:
    """Rules over the model-score columns (lang_pred/lang_conf/ppl)."""
    ppl_threshold = F.when(F.col("lang_pred") == "zh",
                           F.lit(profile.max_perplexity_zh)) \
        .otherwise(F.lit(profile.max_perplexity))
    # gated on a non-null payload so an empty row fires ONLY empty_payload
    has_text = F.col("extracted_text").isNotNull()
    return {
        "perplexity": has_text & (F.col("ppl") > ppl_threshold),
        "lang_conf": has_text & (F.col("lang_conf") < profile.min_lang_conf),
        "lang_blocked": has_text & ~F.col("lang_pred").isin(*profile.allowed_langs),
    }


def assemble_rules(rule_map: dict[str, Column]) -> Column:
    """Sorted array<string> of fired rule ids (null-safe: an unevaluable rule
    — e.g. stat on a null payload — simply doesn't fire)."""
    entries = [
        F.when(cond.isNotNull() & cond, F.lit(rule_id)) for rule_id, cond in rule_map.items()
    ]
    return F.array_sort(F.filter(F.array(*entries), lambda x: x.isNotNull()))


def blocked_domain_rule(url: Column, blocked_hosts: tuple[str, ...]) -> Column:
    """True when the url's host IS a listed host or a subdomain of one
    (UT1-blocklist matching semantics).  Bounded OR-chain over the list —
    codegen'd into the scan stage, no join; a list too large to inline
    (>~10^3 entries) should instead broadcast-join on ``identity.host``.

    Hostnames are case-insensitive (RFC 4343) but ``parse_url`` preserves
    the URL's original case, so BOTH sides are lowercased — 'BadSite.com' /
    'WWW.BADSITE.COM' cannot bypass a 'badsite.com' entry.  UT1 lists are
    lowercase by convention; normalizing the entries here enforces it."""
    from ..functions.identity import host

    h = F.lower(host(url))
    fired = F.lit(False)
    for b in blocked_hosts:
        b = b.lower()
        fired = fired | (h == b) | h.endswith("." + b)
    return fired


def with_decision(df: DataFrame, profile: RuleProfile,
                  near_dup_col: str | None = None,
                  exact_dup_col: str | None = None,
                  contaminated_col: str | None = None,
                  contaminated_fuzzy_col: str | None = None) -> DataFrame:
    """Append ``rules array<string>`` + ``keep boolean``.

    Expects url, extracted_text, the quality-stat columns (from the fused
    pass, or functions.quality.with_quality_stats) and
    lang_pred/lang_conf/ppl.
    ``near_dup_col`` / ``exact_dup_col``: optional boolean columns marking
    MinHash losers / byte-identical-content losers.
    """
    rules = dict(heuristic_rules(profile))
    if profile.gopher_repetition_gates:
        from ..functions.quality import repetition_ladder_rules

        rules.update(repetition_ladder_rules(profile))
    if profile.blocked_hosts:
        rules["blocked_domain"] = blocked_domain_rule(
            F.col("url"), profile.blocked_hosts)
    # rule-profile dispatch (P13): word-length rules are meaningless for
    # space-free CJK where tokens are single characters — gate them off.
    not_zh = F.col("lang_pred") != "zh"
    for r in ("word_len_low", "word_len_high"):
        rules[r] = rules[r] & not_zh
    rules["empty_payload"] = (F.col("extracted_text").isNull()
                              | (F.length("extracted_text") == 0))
    rules.update(model_rules(profile))
    if near_dup_col is not None:
        rules["near_duplicate"] = F.col(near_dup_col)
    if exact_dup_col is not None:
        rules["exact_duplicate"] = F.col(exact_dup_col)
    if contaminated_col is not None:
        rules["contaminated"] = F.col(contaminated_col)
    if contaminated_fuzzy_col is not None:
        rules["contaminated_fuzzy"] = F.col(contaminated_fuzzy_col)

    # a null payload fires ONLY empty_payload: stats are null there, and
    # assemble_rules treats null conditions as not-fired.
    return df.withColumn("rules", assemble_rules(rules)).withColumn(
        "keep", F.size("rules") == 0
    )
