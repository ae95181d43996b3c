"""HTML → text extraction — the north_star's per-row webtext invariant.

The input-hint pages table carries both ``html:binary`` and ``text:string``
and requires *byte-identical extracted text per url* end-to-end. This module
IS that extraction operator: a batched Arrow kernel (``pandas_udf`` over the
binary/string column — no per-row Python at the Spark API surface)
implementing a deterministic extraction contract (constructs are
recognized in POSITIONAL left-to-right order, tokenizer-style — a
``<script>`` opener inside a comment is comment content, a ``<!--``
inside a script is script content):

1. ``<script>`` / ``<style>`` / ``<template>`` elements drop with their
   contents (case-insensitive; raw-text scan to the first matching end tag,
   HTML5 CDATA-element semantics; unclosed → drop to end of input). A
   SELF-CLOSING raw tag (``<script/>``) is a startend tag — it never
   enters raw-content mode, matching the tokenizer.
2. Comments ``<!-- … -->``, CDATA sections, ``<!…>`` declarations and
   ``<?…>`` processing instructions drop; an unterminated comment/CDATA
   recovers exactly as CPython's HTMLParser does (literal data to the
   next ``>``).
3. Remaining well-formed tags are removed; BLOCK-level tags (open, close or
   self-closing) emit a newline separator, inline tags emit nothing. A ``<``
   that does not open well-formed markup is literal text (HTML5 tokenizer
   behavior). Quoted attribute values may contain ``>`` (the tag scanner is
   quote-aware).
4. Character references decode per WHATWG rules *per text node* (stdlib
   ``html.unescape`` — the spec table + legacy no-semicolon algorithm — is
   shared data between engine and oracle; the independence claim is the
   tokenizer, not the entity table). Entities never span tag boundaries.
5. Whitespace normalization: each run of ASCII whitespace
   ``[ \\t\\r\\n\\f\\v]`` collapses to ``"\\n"`` if the run contains a
   newline else ``" "``; leading/trailing whitespace strips. ``&nbsp;``
   (U+00A0) is NOT whitespace and survives literally.

The independent oracle (tools/make_golden.py:golden_q54) implements the same
contract on stdlib ``html.parser.HTMLParser`` — an event-driven tokenizer,
a different algorithm from this module's regex scanner. Byte-agreement on
the deterministic pages fixture and on adversarial handcrafted documents is
asserted in tests/test_html_text.py.

Reference parity: the reference ingests pre-extracted point CSVs
(load_pm25_data.R:9-14 reads cleaned station tables); the extraction
invariant itself is the graft's webtext axis (BASELINE.json input_hint),
so this operator has no reference-file twin.
"""

from __future__ import annotations

import re
from html import unescape

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Elements whose boundaries separate text blocks (HTML5 flow-level set plus
# table structure; &nbsp;-style entities inside them are text, not markup).
BLOCK_TAGS = frozenset("""
    address article aside blockquote body br caption center dd details dialog
    div dl dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 head
    header hgroup hr html li main menu nav ol option p pre section select
    summary table tbody td tfoot th thead title tr ul
""".split())

# Raw-text elements: contents dropped wholesale (scan to first end tag).
_RAW = ("script", "style", "template")

_ATTRS = r"(?:\"[^\"]*\"|'[^']*'|[^>\"'])*"  # quote-aware: '>' OK in quotes

# ONE left-to-right scanner: markup constructs are recognized in POSITIONAL
# order, exactly as an event tokenizer would — a `<script>` inside a
# comment is comment content, a `<!--` inside a script is script content.
# (The previous implementation ran ordered whole-string substitution
# passes, so whichever construct's pass ran first won regardless of
# position: '<!-- <script> -->rest' dropped everything to EOF while the
# stdlib-HTMLParser oracle kept 'rest' — ADVICE r3.)
_TOKEN_RE = re.compile(
    # raw-element open tag — but NOT a self-closing one ('<script/>' is a
    # startend tag per the tokenizer and never enters raw-content mode)
    rf"(?is)<(?P<raw>{'|'.join(_RAW)})\b{_ATTRS}(?<!/)>"
    r"|(?P<comment><!--)"                            # closure found in code
    r"|(?P<cdata><!\[CDATA\[)"                       # closure found in code
    rf"|<(/?)(?P<name>[a-zA-Z][a-zA-Z0-9:._-]*){_ATTRS}/?>"
    r"|<![^>]*>"                                     # declaration
    r"|<\?[^>]*>")                                   # processing instruction

_RAW_END = {n: re.compile(rf"(?is)</{n}\s*>") for n in _RAW}
# CPython markupbase closers: '--  >' and '] ] >' are valid terminators.
_COMMENT_END = re.compile(r"--\s*>")
_CDATA_END = re.compile(r"\]\s*\]\s*>")

_WS_RE = re.compile(r"[ \t\r\n\f\v]+")


def _norm_ws(s: str) -> str:
    return _WS_RE.sub(lambda m: "\n" if "\n" in m.group(0) else " ",
                      s).strip(" \t\r\n\f\v")


def _bogus_markup(s: str, start: int) -> tuple[str, int]:
    """Unterminated comment/CDATA recovery, byte-matching CPython
    HTMLParser's goahead() fallback: emit up to and including the next
    '>' as literal data; failing that, up to the next '<'; failing that,
    just the '<' — then resume tokenizing."""
    k = s.find(">", start + 1)
    if k >= 0:
        return s[start:k + 1], k + 1
    k = s.find("<", start + 1)
    if k >= 0:
        return s[start:k], k
    return s[start:start + 1], start + 1


def extract_text(html: str) -> str:
    """Extract visible text from one HTML document per the module contract."""
    s = html
    n = len(s)
    parts: list[str] = []
    pos = 0
    while pos < n:
        m = _TOKEN_RE.search(s, pos)
        if m is None:
            parts.append(unescape(s[pos:]))
            break
        if m.start() > pos:
            parts.append(unescape(s[pos:m.start()]))
        raw = m.group("raw")
        if raw is not None:
            end = _RAW_END[raw.lower()].search(s, m.end())
            pos = end.end() if end else n     # unclosed raw: drop to EOF
        elif m.group("comment") is not None:
            end = _COMMENT_END.search(s, m.end())
            if end:
                pos = end.end()
            else:
                # recovered bogus data IS entity-decoded: with
                # convert_charrefs the stdlib parser unescapes this
                # fallback's data like any other text node (r4 review)
                lit, pos = _bogus_markup(s, m.start())
                parts.append(unescape(lit))
        elif m.group("cdata") is not None:
            end = _CDATA_END.search(s, m.end())
            if end:
                pos = end.end()
            else:
                lit, pos = _bogus_markup(s, m.start())
                parts.append(unescape(lit))
        else:
            name = m.group("name")
            if name is not None and name.lower() in BLOCK_TAGS:
                parts.append("\n")
            pos = m.end()
    return _norm_ws("".join(parts))


def html_to_text(v: bytes | str | None) -> str | None:
    """``extract_text`` of one ``html`` value: bytes decode as UTF-8 with
    replacement, None stays None."""
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray, memoryview)):
        v = bytes(v).decode("utf-8", "replace")
    return extract_text(v)


@F.pandas_udf(T.StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched extraction over an ``html`` binary or string column."""
    return html.map(html_to_text)
