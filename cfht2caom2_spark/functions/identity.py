"""URL identity columns — pure string projections.

Reference analogue: file-name identity parsing — ``remove_extensions``
normalizes the storage name before identity is assigned
(cfht_name.py:433-444).  Here the host (the skew/blocklist key) and the
canonical url are built-in Column expressions, so Catalyst folds/fuses them;
no Python crossing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def host(url: Column) -> Column:
    """Registered host of the url (the skew/salting key, SURVEY.md §4)."""
    return F.parse_url(url, F.lit("HOST"))


# The unambiguous tracking set only: campaign/click identifiers that never
# select content.  Bare "ref" is deliberately ABSENT — on many sites it is
# functional (?ref=<branch> on code hosts, ?ref=<page> pagination) and
# stripping it merges genuinely distinct pages before dedup.
TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "utm_term",
                   "utm_content", "gclid", "fbclid")


def canonical_url(url: Column) -> Column:
    """Canonical form for crawl identity: drop the fragment, strip the
    well-known tracking query params (UTM family, click ids — ALL
    occurrences), drop a then-empty query, and strip one trailing slash
    from a non-root PATH — the same URL fetched through different campaign
    links collapses to one identity.

    Decomposes on the first ``?`` and filters the split param LIST instead
    of regex-rewriting the whole URL (the round-4 review's failure cases:
    a literal ``&`` in the PATH must never be read as a param separator;
    repeated params must all go; ``/x/?page=2`` must collapse with
    ``/x?page=2``).  The query is extracted by the SAME first-``?`` string
    split as the base — NOT ``parse_url`` (java.net.URI rejects unencoded
    spaces/``|``/``[``/non-ASCII, common in crawl data, and would NULL out
    a legitimate query while the regex-derived base kept the path:
    ``/search?q=a b`` and ``/search?q=c`` must stay distinct identities).
    Four passes total, all codegen'd; the DuckDB oracle mirrors the same
    decomposition.  Reference analogue: ``remove_extensions`` normalizes
    the storage name before identity is assigned (cfht_name.py:433-444)."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    base = F.regexp_replace(no_frag, r"\?.*$", "")          # scheme+host+path
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)        # '' when no '?'
    tracking = "|".join(TRACKING_PARAMS)
    kept = F.filter(
        F.split(query, "&"),
        lambda kv: (kv != F.lit("")) & ~kv.rlike(f"^(?:{tracking})="))
    base = F.regexp_replace(base, r"(//[^/]+/.+?)/$", "$1")  # path slash
    return F.when(F.size(kept) > 0,
                  F.concat(base, F.lit("?"), F.array_join(kept, "&"))) \
        .otherwise(base)
