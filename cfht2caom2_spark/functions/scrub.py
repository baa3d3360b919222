"""PII / toxicity scrub pass — compiled-regex replacement chains, JVM-side.

Reference analogue: ``CFHTValueRepair`` — a table-driven canonicalization of
known-bad values applied to the finished record (reference
instruments.py:222-266, invoked at :830): *repair, don't reject, when safe;
record what was repaired*.  Here each PII pattern is one ``regexp_replace``
link in a chain (whole-stage-codegen'd, zero Python), and each pattern that
matched contributes a scrub-rule id so lineage can attribute every mutation.
The rule-id array drops its unmatched slots with ``filter``, a higher-order
function that Spark runs interpreted; it runs only on rows the one-scan
PII gate lets through.

Patterns live in config.PII_PATTERNS and are restricted to the regex subset
with identical semantics in Java regex and RE2 — so the DuckDB oracle can run
the very same patterns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import PII_PATTERNS

# Alternation of every pattern: one scan answering "could anything match?".
# Most web documents contain no PII-shaped substring, so the expensive
# replace chain (len(PII_PATTERNS) full-text passes) is gated behind this
# single pass — CASE WHEN branches are lazily evaluated in codegen, so clean
# rows pay exactly one regex scan.  regexp_replace is the identity when its
# pattern doesn't match, so gating cannot change any result byte.
_ANY_PII = "|".join(f"(?:{p})" for _rule, p, _repl in PII_PATTERNS)


def scrubbed(text: Column) -> Column:
    """The scrub chain: apply every pattern in declared order."""
    out = text
    for _rule, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return F.when(text.rlike(_ANY_PII), out).otherwise(text)


def scrub_rules_fired(text: Column) -> Column:
    """array<string> of scrub-rule ids whose pattern matched the input."""
    flags = [
        F.when(text.rlike(pattern), F.lit(rule))
        for rule, pattern, _repl in PII_PATTERNS
    ]
    arr = F.array_sort(F.filter(F.array(*flags), lambda x: x.isNotNull()))
    # same one-scan gate as `scrubbed`: per-pattern rlikes only run on rows
    # where the alternation found something PII-shaped
    return F.when(text.rlike(_ANY_PII), arr).otherwise(
        F.array().cast("array<string>"))
