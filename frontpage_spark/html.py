"""HTML field extraction — the one pandas-UDF family in the engine
(SURVEY.md §2.7).

The reference parses ad HTML with BeautifulSoup selectors
(etl_process.py:31,71,132,144,155,166,177 — F4, F5, F7–F11). HTML
parsing is the single part of the scalar library not expressible as
native column expressions, so it rides in Arrow-batched pandas UDFs —
one vectorized regex pass per batch, never a per-row Python round trip.

Parity contract (matches bs4 ``getText()`` + the reference's cleanup,
etl_process.py:31-33, pinned by the independent-parser golden fixture,
tools/html_golden_gen.py):

- **Structure vs text are two layers.** Selector matching and element
  extent (depth-counted balanced scan) run against a *matching copy*
  of the document in which comments and script/style CDATA content are
  blanked to same-length spaces — a real HTML parser never matches
  elements there. Text extraction then slices the ORIGINAL document by
  position, dropping only comment spans and real-tag spans. So script/
  style text INSIDE a selected element is INCLUDED in its text (bs4's
  ``getText()`` includes script/style strings; so does the stdlib
  ``html.parser`` walker the golden fixture uses), while selector-shaped
  strings inside script/style never match and markup inside CDATA never
  perturbs depth counting.
- **Constructs are consumed LEFT-TO-RIGHT, like a real parser** (round
  9, closing the r8 ADVICE comment/CDATA-ordering finding): at each
  position the earliest of a comment open (``<!--``) or a script/style
  open wins and consumes its whole span before scanning resumes. So a
  ``<script>`` inside a comment never opens CDATA, a comment inside
  script/style content is plain CDATA text (the classic
  ``<script><!-- ... //--></script>`` hiding idiom — html.parser
  delivers it as data), CDATA content ends at the FIRST literal
  close tag even if that close tag sits inside such a comment, and an
  UNTERMINATED ``<!--`` is not a comment at all: html.parser's EOF
  flush emits it as data through the first ``>`` (or to
  end-of-document when no ``>`` remains), and the engine mirrors that
  exactly — the span is text, and nothing inside it matches.
- **Text nodes concatenate with NO separator** (``getText()`` default),
  then the reference's exact cleanup: drop ``\\r``/``\\n``, ascii-ignore,
  strip. No whitespace collapsing, no tags-as-spaces — ``abc<b>def``
  is ``abcdef``, and interior space runs survive verbatim.
- Matched-element extents include nested same-tag markup in full;
  unclosed elements extend to end-of-document (bs4-style leniency).
- **Entity decoding is IN contract (round 9 — full bs4 parity,
  closing the r8 carve-out)**: character/entity references in text
  nodes decode with ``html.unescape`` per text run exactly as
  html.parser's ``convert_charrefs`` does (HTML5 rules, so
  semicolon-less named refs like ``&amp`` decode too), EXCEPT inside
  script/style CDATA content, which a real parser delivers raw.
  Attribute values (the ``other_ads`` hrefs) also decode, matching
  ``parse_starttag``'s unconditional attribute unescape. Decoding runs
  per SLICE between dropped spans, so a reference interrupted by a tag
  (``&am<b>p;``) never falsely reassembles — the same boundaries at
  which html.parser chunks its data events.
"""

from __future__ import annotations

import re
from html import unescape as _unescape  # stdlib html, not this module

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

# Tag interior. A quote opens a quoted ATTRIBUTE VALUE only directly
# after '=' (plus optional whitespace) — that is where a real parser
# (html.parser's attrfind, bs4) allows '>' inside the value. A quote
# anywhere else (inside an UNQUOTED value: <div title=don't>,
# onclick=f("x")) is an ordinary character and must NOT start a scan to
# the next quote, which could overshoot the real '>' and mis-extend the
# tag (round-8 hardening; previously any quote opened a quoted section).
_TI = "(?:=\\s*\"[^\"]*\"|=\\s*'[^']*'|[^>])*?"
# Real tags only (start/end tags, markup declarations, processing
# instructions). A '<' not opening one of these is literal text to
# html.parser/bs4 ("a < b > c" stays text) and must survive extraction.
_TAG_RE = re.compile(rf"</?[a-zA-Z]{_TI}>|<![^>]*>|<\?[^>]*>")
# html.parser's _commentclose: a comment ends at '--' + optional
# whitespace + '>'
_COMMENT_CLOSE_RE = re.compile(r"--\s*>")
# script/style content is CDATA to a real parser — selector-shaped
# strings inside it must never MATCH (but its text is still part of
# getText(), see _Doc)
_CDATA_OPEN_RE = re.compile(rf"<(script|style)\b{_TI}>", re.S | re.I)
# html.parser's set_cdata_mode 'interesting': CDATA content ends at
# the first '</' + optional ws + name + optional ws + '>'
_CDATA_CLOSE = {
    t: re.compile(rf"</\s*{t}\s*>", re.I) for t in ("script", "style")
}


class _Doc:
    """One parsed-enough document: ``orig`` (raw bytes of truth for
    text), ``mc`` (same-length matching copy: comments blanked, script/
    style CONTENT blanked, their tags kept), the sorted spans to drop
    from any extracted text slice (comments + real tags), and the
    CDATA content spans (text kept RAW — no entity decode there).

    Comments and script/style openers are consumed in one left-to-
    right scan, earliest-construct-wins — the order html.parser
    consumes them — so each is inert inside the other (module
    docstring, bullet 2)."""

    __slots__ = ("orig", "mc", "_skips", "_cdata")

    def __init__(self, html: str):
        self.orig = html
        n = len(html)
        skips: list[tuple[int, int]] = []
        cdata: list[tuple[int, int]] = []
        buf: list[str] | None = None
        pos = 0
        while pos < n:
            ci = html.find("<!--", pos)
            sm = _CDATA_OPEN_RE.search(html, pos)
            if ci < 0 and sm is None:
                break
            if sm is None or (0 <= ci < sm.start()):
                cm = _COMMENT_CLOSE_RE.search(html, ci + 4)
                if buf is None:
                    buf = list(html)
                if cm:
                    e = cm.end()
                    buf[ci:e] = " " * (e - ci)
                    skips.append((ci, e))  # comments contribute no text
                    pos = e
                else:
                    # UNTERMINATED comment: html.parser's EOF flush
                    # emits '<!--' through the first '>' as DATA (to
                    # end-of-document if no '>' remains) and resumes
                    # after it — so the span is TEXT, blanked only in
                    # the matching copy (nothing inside may match).
                    # One '<' sentinel survives the blank: the span is
                    # its own data event, so a direct-text scan
                    # ([^<]* in the locations selector) must not read
                    # across it into the following data run.
                    gt = html.find(">", ci + 1)
                    e = gt + 1 if gt >= 0 else n
                    buf[ci:e] = " " * (e - ci)
                    buf[ci] = "<"
                    pos = e
            else:
                tag = sm.group(1).lower()
                cs = sm.end()
                cm = _CDATA_CLOSE[tag].search(html, cs)
                # content runs to the FIRST literal close tag —
                # comments inside are plain CDATA text, and a close
                # tag inside such a comment still ends the content.
                # UNTERMINATED script/style content is NOT text at
                # all: html.parser's EOF flush explicitly skips it
                # (`if end and i < n and not self.cdata_elem`), so the
                # span goes to the DROP list, not the cdata-text list.
                ce = cm.start() if cm else n
                if ce > cs:
                    if buf is None:
                        buf = list(html)
                    buf[cs:ce] = " " * (ce - cs)
                    if cm:
                        cdata.append((cs, ce))
                    else:
                        skips.append((cs, ce))
                pos = cm.end() if cm else n
        self.mc = "".join(buf) if buf is not None else html
        self._cdata = cdata
        for m in _TAG_RE.finditer(self.mc):
            skips.append(m.span())
        skips.sort()
        self._skips = skips

    def _piece(self, a: int, b: int) -> str:
        """One text node orig[a:b]: entity-decoded per run exactly as
        html.parser's convert_charrefs does — except CDATA content,
        which a real parser delivers raw."""
        t = self.orig[a:b]
        if "&" not in t:
            return t
        for s, e in self._cdata:
            if s <= a and b <= e:
                return t
        return _unescape(t)

    def text(self, a: int, b: int) -> str:
        """Concatenated text nodes of orig[a:b] — skip spans removed
        with NO separator (bs4 getText() default), each run entity-
        decoded per the module contract."""
        out: list[str] = []
        pos = a
        for s, e in self._skips:
            if e <= pos:
                continue
            if s >= b:
                break
            if s > pos:
                out.append(self._piece(pos, s))
            pos = e
            if pos >= b:
                break
        if pos < b:
            out.append(self._piece(pos, b))
        return "".join(out)


def _balanced_end(mc: str, open_end: int, tag: str) -> int:
    """End position (start of the matching close tag) of the element
    whose opening ``<tag ...>`` ends at ``open_end``, counting same-tag
    open/close pairs so nested elements are included in full. Unclosed
    elements extend to end-of-document (bs4-style leniency)."""
    pat = re.compile(rf"<{tag}\b{_TI}>|</{tag}\s*>", re.I | re.S)
    depth = 1
    for m in pat.finditer(mc, open_end):
        if m.group(0).startswith("</"):
            depth -= 1
            if depth == 0:
                return m.start()
        else:
            depth += 1
    return len(mc)


def _class_re(cls: str) -> str:
    """Regex fragment matching a class attribute that CONTAINS ``cls``
    under all three HTML attribute syntaxes bs4 accepts (reference
    parses with BeautifulSoup, etl_process.py:31): double-quoted,
    single-quoted, and unquoted (where the value is one token)."""
    c = re.escape(cls)
    return (
        rf'class\s*=\s*(?:"[^"]*\b{c}\b[^"]*"'
        rf"|'[^']*\b{c}\b[^']*'"
        rf"|{c}(?=[\s/>]))"
    )


def _id_re(elem_id: str) -> str:
    """Regex fragment matching an id attribute EQUAL to ``elem_id`` in
    double-quoted, single-quoted, or unquoted form."""
    i = re.escape(elem_id)
    return rf"id\s*=\s*(?:\"{i}\"|'{i}'|{i}(?=[\s/>]))"


def _div_by_class(d: _Doc, cls: str) -> str | None:
    m = re.search(rf"<div\b{_TI}{_class_re(cls)}{_TI}>", d.mc, re.S | re.I)
    return d.text(m.end(), _balanced_end(d.mc, m.end(), "div")) if m else None


def _elem_by_id(d: _Doc, elem_id: str) -> str | None:
    m = re.search(rf"<([a-z0-9]+)\b{_TI}{_id_re(elem_id)}{_TI}>", d.mc, re.S | re.I)
    return d.text(m.end(), _balanced_end(d.mc, m.end(), m.group(1))) if m else None


def _clean_text(s: str | None) -> str | None:
    """The reference's exact post-getText cleanup (etl_process.py:31-33):
    ascii-ignore, drop \\r and \\n, trim. Interior whitespace survives
    verbatim — no collapsing."""
    if s is None:
        return None
    txt = s.replace("\r", "").replace("\n", "")
    txt = txt.encode("ascii", "ignore").decode()
    return txt.strip()


def _extract(html: str | _Doc | None, field: str) -> str | None:
    if html is None:
        return None
    d = html if isinstance(html, _Doc) else _Doc(html)
    try:
        if field == "post_date_raw":  # F4: div.adInfo text minus 'Posted:'
            t = _clean_text(_div_by_class(d, "adInfo"))
            return t.replace("Posted:", "").strip() if t is not None else None
        if field == "post_title":  # F11: #postingTitle minus 'Report Ad'
            t = _clean_text(_elem_by_id(d, "postingTitle"))
            return t.replace("Report Ad", "").strip() if t is not None else None
        if field == "post_body":  # F9: div.postingBody text
            return _clean_text(_div_by_class(d, "postingBody"))
        if field == "poster_age":  # F10: p.metaInfoDisplay minus label
            m = re.search(
                rf"<p\b{_TI}{_class_re('metaInfoDisplay')}{_TI}>", d.mc, re.S | re.I
            )
            t = _clean_text(
                d.text(m.end(), _balanced_end(d.mc, m.end(), "p")) if m else None
            )
            return t.replace("Poster's age:", "").strip() if t is not None else None
        if field == "locations":  # F8: div whose direct text starts 'Location:'
            t = None
            for m in re.finditer(rf"<div\b{_TI}>(?=[^<]*Location:)", d.mc, re.S | re.I):
                t = _clean_text(d.text(m.end(), _balanced_end(d.mc, m.end(), "div")))
                break
            return t.replace("Location:", "").strip() if t is not None else None
        if field == "other_ads":  # F5: hrefs of div.cat under #OtherAdsByThisUser
            m = re.search(
                rf"<([a-z0-9]+)\b{_TI}{_id_re('OtherAdsByThisUser')}{_TI}>",
                d.mc,
                re.S | re.I,
            )
            if not m:
                return None
            # bound the anchor scan to the element's extent — bs4's
            # findAll walks DESCENDANTS only, so a div.cat after the
            # section closes must not contribute (round-8 hardening)
            seg = d.mc[m.end() : _balanced_end(d.mc, m.end(), m.group(1))]
            # attribute values entity-decode unconditionally in a real
            # parser (html.parser parse_starttag unescapes every value)
            hrefs = [
                _unescape(next(g for g in hm.groups() if g is not None))
                for hm in re.finditer(
                    rf"<div\b{_TI}{_class_re('cat')}{_TI}>.*?"
                    rf"<a\b{_TI}href\s*=\s*(?:\"([^\"]+)\"|'([^']+)'|([^\s>'\"][^\s>]*))",
                    seg,
                    re.S | re.I,
                )
            ]
            return ";".join(hrefs) if hrefs else None
    except Exception:
        return None
    return None


FIELDS = ("post_date_raw", "post_title", "post_body", "poster_age", "locations", "other_ads")

_extract_all_udf = None  # built lazily: pandas_udf with a DDL schema
# string needs an active SparkSession, which module import (esp. on
# executors unpickling this module) must not assume


def _get_extract_all():
    global _extract_all_udf
    if _extract_all_udf is None:
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType([StructField(f, StringType()) for f in FIELDS])

        @pandas_udf(schema)
        def _extract_all(html: pd.Series) -> pd.DataFrame:
            # all six HTML fields in ONE Arrow round trip — the HTML
            # column (by far the widest) crosses to Python once per
            # batch, not once per field; the matching copy + skip spans
            # are built once per DOCUMENT, shared by the six extracts
            def row(h):
                if h is None:
                    return (None,) * len(FIELDS)
                d = _Doc(h)
                return tuple(_extract(d, f) for f in FIELDS)

            return pd.DataFrame(
                html.map(row).tolist(), columns=list(FIELDS), index=html.index
            )

        _extract_all_udf = _extract_all
    return _extract_all_udf


def extract_fields(html: Column | str) -> Column:
    """struct(post_date_raw, post_title, post_body, poster_age,
    locations, other_ads) extracted from an HTML column."""
    return _get_extract_all()(F.col(html) if isinstance(html, str) else html)

