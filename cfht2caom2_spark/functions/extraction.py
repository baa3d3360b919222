"""Deterministic HTML -> text extraction kernels.

Reference analogue: per-file header extraction cached by URI
(reference cfht_name.py:525-548 ``set_local_preconditions``) with the HDF5
attrs fallback (cfht_name.py:536-547).  Here: the fused stage
(functions/fused.py) sends rows with an ``html`` payload through
``extract_html``; rows without fall back to the pre-extracted ``text``
column — one vectorized branch inside the Arrow batch.

Byte-identical contract (north_rule): ``extract_html`` is a pure function of
the payload bytes built only on the Python stdlib (html.unescape + regexes with
pinned semantics), so the same url yields the same bytes on every executor,
every run.  Goldens pin sha256 per url (tests/test_extraction.py).

Why not lxml/selectolax: not in the container, and a C parser version bump is
exactly the non-determinism the contract forbids.  The stdlib path is slower
per byte but runs inside ``mapInPandas`` over Arrow batches, so the hot loop
cost is bounded and scales linearly with executors.
"""

from __future__ import annotations

import hashlib
import html as _html
import re

# Pinned regex pipeline.  Order matters and is part of the contract.
_RE_DROP_BLOCKS = re.compile(
    rb"(?is)<(script|style|noscript|template|head)\b.*?</\1\s*>"
)
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_RE_BLOCK_TAG = re.compile(
    rb"(?i)</?(p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|section|article|header|"
    rb"footer|nav|blockquote|pre|form)\b[^>]*>"
)
_RE_TAG = re.compile(rb"<[^>]*>")
_RE_CHARSET = re.compile(rb"(?i)charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)")
_RE_SPACES = re.compile(r"[ \t\r\f\v]+")
_RE_BLANK_LINES = re.compile(r"\n\s*\n+")
# C0 controls except \t\n\r, plus C1 (127-159) — the binary-junk classes
_RE_CTRL = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")


def detect_encoding(payload: bytes) -> str:
    """meta-charset sniff with utf-8 default — deterministic, no chardet."""
    m = _RE_CHARSET.search(payload[:2048])
    if m:
        enc = m.group(1).decode("ascii", "replace").lower()
        if enc in ("utf-8", "utf8", "latin-1", "latin1", "iso-8859-1", "ascii",
                   "windows-1252", "cp1252"):
            return "latin-1" if enc not in ("utf-8", "utf8", "ascii") else "utf-8"
    return "utf-8"


def extract_html(payload: bytes | None) -> str | None:
    """Pure bytes -> text.  Returns None for undecodable/empty payloads.

    Steps: drop script/style/head blocks and comments; turn block-level tags
    into newlines; strip remaining tags; decode (sniffed charset, utf-8 with
    strict errors first, latin-1 fallback); unescape entities; normalize
    whitespace (collapse runs, strip line edges, collapse blank lines).
    """
    if payload is None or len(payload) == 0:
        return None
    stripped = _RE_DROP_BLOCKS.sub(b" ", payload)
    stripped = _RE_COMMENT.sub(b" ", stripped)
    stripped = _RE_BLOCK_TAG.sub(b"\n", stripped)
    stripped = _RE_TAG.sub(b" ", stripped)
    enc = detect_encoding(payload)
    try:
        text = stripped.decode(enc)
    except UnicodeDecodeError:
        # latin-1 never raises; the binary-sanity check below is the real gate
        text = stripped.decode("latin-1")
    # binary junk: refuse rather than emit mojibake (the analogue of
    # Inst.UNSUPPORTED, reference cfht_name.py:516-520).  Real text has
    # near-zero C0/C1 control characters; random bytes decoded as latin-1
    # land there ~1/4 of the time.
    if text:
        sample = text[:4096]
        # same char class as the old per-char loop ((ord<32 and not \t\n\r)
        # or 127<=ord<160), counted by the regex engine — the python loop was
        # 85% of extraction time; real text has ~zero matches so findall is
        # allocation-free in the common case
        n_ctrl = len(_RE_CTRL.findall(sample))
        if n_ctrl / len(sample) > 0.05:
            return None
    text = _html.unescape(text)
    lines = []
    for line in text.split("\n"):
        line = _RE_SPACES.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines) if lines else None


def sha256_text(text: str | None) -> str | None:
    if text is None:
        return None
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
