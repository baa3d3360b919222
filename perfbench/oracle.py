"""Correctness gate: the engine's decisions against the independent
pure-Python labeler in ``tests/reference_impl.py``.

The labeler costs about 3 ms per page.  ``run.py`` calls it after the
timed loop, once the Spark session has stopped, so it overlaps neither a
timed operation nor set-up.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

DEDUP_RULES = frozenset({"near_duplicate", "exact_duplicate"})
_PAGE_ID = re.compile(r"/p/(\d{9})")


def page_id(url: str) -> int:
    """Generator row id embedded in a synthetic url (re-sent copies carry
    the id of the page they copy)."""
    m = _PAGE_ID.search(url)
    if m is None:
        raise ValueError(f"not a synthetic page url: {url}")
    return int(m.group(1))


def reference(rows: int, seed: int) -> dict[int, tuple[str | None, frozenset]]:
    """Page id -> (extraction sha256, expected rules) for generator rows
    [0, rows)."""
    from tests.reference_impl import reference_labels

    return {page_id(url): (v["sha256"], frozenset(v["rules"]))
            for url, v in reference_labels(rows, seed).items()}


@dataclass
class Score:
    """Keep/drop agreement and extraction identity over compared rows."""

    compared: int = 0
    tp: int = 0
    fp: int = 0
    fn: int = 0
    sha_equal: int = 0

    @property
    def keep_mismatches(self) -> int:
        return self.fp + self.fn

    @property
    def keep_f1(self) -> float:
        if self.tp == 0 and self.keep_mismatches == 0:
            return 1.0
        return 2 * self.tp / (2 * self.tp + self.fp + self.fn)

    @property
    def extract_match(self) -> float:
        return self.sha_equal / max(self.compared, 1)

    def add(self, other: Score) -> None:
        self.compared += other.compared
        self.tp += other.tp
        self.fp += other.fp
        self.fn += other.fn
        self.sha_equal += other.sha_equal


def score(out_rows, ref: dict[int, tuple[str | None, frozenset]],
          ignore_dedup: bool, flip_one_keep: bool = False) -> Score:
    """Compare decisions rows (url, extracted_sha256, keep, rules) whose
    page id the reference covers.  With ``ignore_dedup`` both sides drop
    the dedup rules before deciding keep (ticks run with dedupe off, and
    history demotion is checked apart).  ``flip_one_keep`` inverts the
    first compared decision: a self-test that the gate catches one wrong
    row."""
    s = Score()
    for url, sha, keep, rules in out_rows:
        want = ref.get(page_id(url))
        if want is None:
            continue
        want_sha, want_rules = want
        if ignore_dedup:
            want_keep = not (want_rules - DEDUP_RULES)
            got_keep = not (set(rules or ()) - DEDUP_RULES)
        else:
            want_keep, got_keep = not want_rules, bool(keep)
        if flip_one_keep and s.compared == 0:
            got_keep = not got_keep
        s.compared += 1
        s.sha_equal += sha == want_sha
        s.tp += want_keep and got_keep
        s.fp += got_keep and not want_keep
        s.fn += want_keep and not got_keep
    return s

