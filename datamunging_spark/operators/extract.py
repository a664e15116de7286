"""Spark-side main-content extraction operator (SPEC.md part II): HTML
boilerplate strip + PDF/layout parse as ONE ``mapInArrow`` pass over the
interleaved spans table (the Arrow boundary itself lives in ``stage.py``).

Independent implementation of the spec: ``oracle/extract.py`` builds a
DOM tree and walks it recursively; this operator consumes parser events
against a frame stack and never materializes a tree — O(depth) memory
per document instead of O(nodes), which is what you want when a single
monster HTML span holds tens of MB. pytest asserts span-sequence
equality between the two (tests/test_extract.py), so agreement is
evidence of correctness rather than shared code.

Plan shape: like the munge cascade, this is the ONLY Python stage in
its pipeline — scan, repartition and writes stay JVM-side; the batch
size cap in session.py bounds per-batch memory against skewed docs.
"""

from __future__ import annotations

import re

from html.parser import HTMLParser

from ..oracle.extract import (
    BLOCK_TAGS,
    EXTRACT_METRIC_FIELDS,
    HEADING_TAGS,
    MAX_LINK_DENSITY,
    MIN_BLOCK_CHARS,
    MIN_HEADING_CHARS,
    PRUNE_ATTR_TOKENS,
    PRUNE_TAGS,
    VOID_TAGS,
)
from .stage import doc_stage, output_schema, reassemble, route, span_rows, span_stage

EXTRACT_OUTPUT_SCHEMA = output_schema(EXTRACT_METRIC_FIELDS, "extract_us")

_WS_RE = re.compile(r"\s+")


class _Frame:
    __slots__ = ("tag", "block", "in_link", "pruned")

    def __init__(self, tag, block, in_link, pruned):
        self.tag = tag
        self.block = block
        self.in_link = in_link
        self.pruned = pruned


class _Blk:
    __slots__ = ("tag", "parts", "raw", "link")

    def __init__(self, tag):
        self.tag = tag
        self.parts = []
        self.raw = 0
        self.link = 0


class _StreamExtractor(HTMLParser):
    """Event-driven extractor: frames mirror the oracle's element stack
    (implied-close of p, pop-to-match end tags); pruning is a frame flag
    instead of a skipped subtree, text routes to the top frame's block."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        root = _Frame("#root", _Blk("body"), False, False)
        self.stack = [root]
        self.blocks: list[_Blk] = []

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        top = self.stack[-1]
        if tag in VOID_TAGS:
            if tag == "br":
                self._text(" ")
            return
        if tag in BLOCK_TAGS and top.tag == "p":
            self.stack.pop()
            top = self.stack[-1]
        pruned = top.pruned or self._prunable(tag, attrs)
        if not pruned and tag in BLOCK_TAGS:
            block = _Blk(tag)
        else:
            block = top.block
        self.stack.append(
            _Frame(tag, block, top.in_link or tag == "a", pruned)
        )

    def handle_endtag(self, tag):
        tag = tag.lower()
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self._text(data)

    def _text(self, data: str):
        top = self.stack[-1]
        if top.pruned:
            return
        blk = top.block
        if not blk.parts:
            self.blocks.append(blk)
        blk.parts.append(data)
        blk.raw += len(data)
        if top.in_link:
            blk.link += len(data)

    @staticmethod
    def _prunable(tag, attrs) -> bool:
        if tag in PRUNE_TAGS:
            return True
        return any(
            n in ("class", "id")
            and v
            and any(tok in v.lower() for tok in PRUNE_ATTR_TOKENS)
            for n, v in attrs
        )


from html import unescape


class _Bail(Exception):
    """Construct outside the fast scanner's verified subset."""


_cdata_close = {
    t: re.compile(r"</\s*%s" % t, re.I) for t in ("script", "style")
}
_starttagopen = re.compile("<[a-zA-Z]")
_commentclose = re.compile(r"--\s*>")
_tagfind = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_attrfind = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_locatestarttagend = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*
  (?:[\s/]*
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*
      (?:\s*=+\s*
        (?:'[^']*'
          |"[^"]*"
          |(?!['"])[^>\s]*
         )
        \s*
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*
""",
    re.VERBOSE,
)
_endtagfind = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_amp_tail = re.compile(r"[\s;]")
# zero-attr fast paths (the overwhelming majority of tags); each is a
# strict subset of the tolerant grammar, verified equivalent by the
# differential fuzz
_simple_start = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)>")
_simple_end = re.compile(r"</([a-zA-Z][-.a-zA-Z0-9:_]*)>")
# quoted-attr fast path: names/values that unescape() cannot change and
# the tolerant grammar parses identically
_attr_start = re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*)"
    r"((?:\s+[a-zA-Z_:][\-a-zA-Z0-9_:.]*=(?:\"[^\"&<]*\"|'[^'&<]*'))*)\s*>"
)
_attr_pair = re.compile(
    r"([a-zA-Z_:][\-a-zA-Z0-9_:.]*)=(?:\"([^\"&<]*)\"|'([^'&<]*)')"
)


def _fast_scan(rawdata: str, target) -> None:
    """Single-pass tokenizer emitting the exact event stream of
    ``HTMLParser(convert_charrefs=True).feed(rawdata)`` WITHOUT close()
    (incomplete trailing constructs are withheld, mirroring the
    stdlib's buffered-feed semantics), specialized for whole-document
    input: no incremental-feed bookkeeping, no line/column tracking —
    the stdlib spends ~80% of extraction CPU there. Uses the stdlib's
    own tolerant regexes so malformed input takes identical branches;
    raises _Bail on the one construct it does not implement (marked
    sections, "<![") so the caller can fall back to the stdlib parser.
    Behavioral twin-ship is enforced by a differential fuzz test."""
    handle_data = target.handle_data
    n = len(rawdata)
    i = 0
    cdata_elem = None
    while i < n:
        if cdata_elem is None:
            j = rawdata.find("<", i)
            if j < 0:
                # feed-without-close: withhold a possibly-split charref
                amppos = rawdata.rfind("&", max(i, n - 34))
                if amppos >= 0 and not _amp_tail.search(rawdata, amppos):
                    return
                handle_data(unescape(rawdata[i:]))
                return
            if i < j:
                handle_data(unescape(rawdata[i:j]))
        else:
            m = _cdata_close[cdata_elem].search(rawdata, i)
            if not m:
                return  # unterminated CDATA content stays buffered
            j = m.start()
            if i < j:
                handle_data(rawdata[i:j])
        i = j
        # rawdata[i] == '<' — dispatch exactly like goahead(end=0)
        if cdata_elem is None and (sm := _simple_start.match(rawdata, i)):
            tag = sm.group(1).lower()
            target.handle_starttag(tag, [])
            if tag in ("script", "style"):
                cdata_elem = tag
            i = sm.end()
            continue
        if cdata_elem is None and (em := _simple_end.match(rawdata, i)):
            target.handle_endtag(em.group(1).lower())
            i = em.end()
            continue
        if cdata_elem is None and (am := _attr_start.match(rawdata, i)):
            tag = am.group(1).lower()
            attrs = [
                (p.group(1).lower(), p.group(2) if p.group(2) is not None else p.group(3))
                for p in _attr_pair.finditer(am.group(2))
            ]
            target.handle_starttag(tag, attrs)
            if tag in ("script", "style"):
                cdata_elem = tag
            i = am.end()
            continue
        if _starttagopen.match(rawdata, i):
            k = _fast_starttag(rawdata, i, target)
            if k is None:
                return
            i, cdata_elem = k
        elif rawdata.startswith("</", i):
            k = _fast_endtag(rawdata, i, target, cdata_elem)
            if k is None:
                return
            i, cdata_elem = k
        elif rawdata.startswith("<!--", i):
            m = _commentclose.search(rawdata, i + 4)
            if not m:
                return
            i = m.end()
        elif rawdata.startswith("<?", i):
            pos = rawdata.find(">", i + 2)
            if pos < 0:
                return
            i = pos + 1
        elif rawdata.startswith("<!", i):
            # parse_html_declaration: doctype / bogus comment; marked
            # sections bail to the stdlib path
            if rawdata.startswith("<![", i):
                raise _Bail
            if rawdata[i : i + 9].lower() == "<!doctype":
                gtpos = rawdata.find(">", i + 9)
                if gtpos < 0:
                    return
                i = gtpos + 1
            else:
                pos = rawdata.find(">", i + 2)  # bogus comment
                if pos < 0:
                    return
                i = pos + 1
        elif i + 1 < n:
            handle_data("<")
            i += 1
        else:
            return  # lone '<' at EOF stays buffered


def _fast_starttag(rawdata, i, target):
    """Mirror of parse_starttag + check_for_whole_start_tag for full
    input. Returns (next_i, cdata_elem) or None for withheld-at-EOF."""
    m = _locatestarttagend.match(rawdata, i)
    j = m.end()
    nxt = rawdata[j : j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if rawdata.startswith("/>", j):
            endpos = j + 2
        else:
            return None  # trailing '/' at EOF
    elif nxt == "":
        return None
    elif nxt in (
        "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ):
        return None
    else:
        endpos = j if j > i else i + 1
    m = _tagfind.match(rawdata, i + 1)
    k = m.end()
    tag = m.group(1).lower()
    attrs = []
    while k < endpos:
        am = _attrfind.match(rawdata, k)
        if not am:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == "'" == attrvalue[-1:] or attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()
    end = rawdata[k:endpos].strip()
    if end not in (">", "/>"):
        target.handle_data(rawdata[i:endpos])
        return endpos, None
    if end.endswith("/>"):
        target.handle_starttag(tag, attrs)
        target.handle_endtag(tag)
        return endpos, None
    target.handle_starttag(tag, attrs)
    if tag in ("script", "style"):
        return endpos, tag
    return endpos, None


def _fast_endtag(rawdata, i, target, cdata_elem):
    """Mirror of parse_endtag. Returns (next_i, cdata_elem) or None."""
    gt = rawdata.find(">", i + 1)
    if gt < 0:
        return None
    gtpos = gt + 1
    m = _endtagfind.match(rawdata, i)
    if not m:
        if cdata_elem is not None:
            target.handle_data(rawdata[i:gtpos])
            return gtpos, cdata_elem
        nm = _tagfind.match(rawdata, i + 2)
        if not nm:
            if rawdata[i : i + 3] == "</>":
                return i + 3, None
            pos = rawdata.find(">", i + 2)  # bogus comment
            if pos < 0:
                return None
            return pos + 1, None
        tagname = nm.group(1).lower()
        gtpos = rawdata.find(">", nm.end()) + 1
        target.handle_endtag(tagname)
        return gtpos, cdata_elem
    elem = m.group(1).lower()
    if cdata_elem is not None and elem != cdata_elem:
        target.handle_data(rawdata[i:gtpos])
        return gtpos, cdata_elem
    target.handle_endtag(elem)
    return gtpos, None


def extract_html_stream(html: str) -> tuple[str, int, int]:
    p = _StreamExtractor()
    try:
        _fast_scan(html or "", p)
    except _Bail:
        p = _StreamExtractor()
        p.feed(html or "")
    kept_texts = []
    dropped = 0
    for b in p.blocks:
        text = _WS_RE.sub(" ", "".join(b.parts)).strip()
        floor = MIN_HEADING_CHARS if b.tag in HEADING_TAGS else MIN_BLOCK_CHARS
        if len(text) >= floor and b.link / b.raw <= MAX_LINK_DENSITY:
            kept_texts.append(text)
        else:
            dropped += 1
    return "\n\n".join(kept_texts), len(kept_texts), dropped


# ---------------------------------------------------------------------------
# layout parse (SPEC §9) — findall-based twin of the oracle's line loop
# ---------------------------------------------------------------------------

_BOX_RE = re.compile(
    r"^\s*(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)\|(.*)$",
    re.MULTILINE,
)


def parse_layout_stream(layout: str) -> tuple[str, int, int]:
    layout = layout or ""
    raw_lines = [ln for ln in layout.split("\n") if ln.strip()]
    matches = _BOX_RE.findall(layout)
    dropped = len(raw_lines) - len(matches)
    body = []
    for sx0, sy0, sx1, sy1, txt in matches:
        x0, y0, x1, y1 = float(sx0), float(sy0), float(sx1), float(sy1)
        if (y0 < 60 or y0 > 940) and len(txt) <= 40:
            dropped += 1
        else:
            body.append((x0, y0, x1, y1, txt))
    two_col = (
        body
        and sum(1 for b in body if b[2] < 520 or b[0] > 480) / len(body) >= 0.70
    )
    if two_col:
        ordered = sorted(
            (b for b in body if (b[0] + b[2]) / 2 < 500), key=lambda b: (b[1], b[0])
        ) + sorted(
            (b for b in body if (b[0] + b[2]) / 2 >= 500), key=lambda b: (b[1], b[0])
        )
    else:
        ordered = sorted(body, key=lambda b: (b[1], b[0]))
    out: list[str] = []
    for b in ordered:
        txt = b[4]
        if out and out[-1].endswith("-") and txt[:1].islower():
            out[-1] = out[-1][:-1] + txt
        else:
            out.append(txt)
    return "\n".join(out), len(ordered), dropped


# ---------------------------------------------------------------------------
# mapInArrow operator
# ---------------------------------------------------------------------------


def _extract_doc_stream(kinds, texts) -> tuple[list[str], dict]:
    m = {f: 0 for f in EXTRACT_METRIC_FIELDS}
    out_texts = list(texts)
    for i, kind in enumerate(kinds):
        if kind == "html":
            m["chars_in"] += len(texts[i] or "")
            text, kept, dropped = extract_html_stream(texts[i])
            out_texts[i] = text
            m["html_blocks_kept"] += kept
            m["html_blocks_dropped"] += dropped
            m["chars_out"] += len(text)
        elif kind == "pdf":
            m["chars_in"] += len(texts[i] or "")
            text, kept, dropped = parse_layout_stream(texts[i])
            out_texts[i] = text
            m["pdf_lines_kept"] += kept
            m["pdf_lines_dropped"] += dropped
            m["chars_out"] += len(text)
    return out_texts, m


def extract(df, spark=None):
    """DataFrame (doc_id, spans) -> (doc_id, spans', extraction metrics).

    No broadcast state needed (unlike munge's rulesets): the heuristics
    are compiled into the closure. ``spark`` accepted for signature
    symmetry with ``munge``."""
    return doc_stage(df, lambda: _extract_doc_stream, EXTRACT_METRIC_FIELDS, "extract_us")


# ---------------------------------------------------------------------------
# Span-level parallel variant for monster documents. Unlike the munge
# cascade (whose header/footer stage needs a ±2-page halo), extraction is
# strictly SPAN-LOCAL, so a monster doc can be exploded to one row per
# span, spread across the whole cluster, and reassembled byte-exactly —
# perfect skew elimination at the cost of two shuffles.
# ---------------------------------------------------------------------------


def extract_exploded(df, spark=None, partitions=None):
    """(doc_id, spans) -> EXTRACT_OUTPUT_SCHEMA via span-level
    parallelism: explode → per-span extraction → reassembly. Byte-equal
    to ``extract`` (pytest-asserted), including docs whose spans array is
    empty or NULL."""
    par = partitions or df.sparkSession.sparkContext.defaultParallelism * 4
    rows = span_rows(df).repartition(par, "doc_id", "pos")
    done = span_stage(rows, lambda: _extract_doc_stream, EXTRACT_METRIC_FIELDS, "extract_us")
    return reassemble(done, EXTRACT_METRIC_FIELDS, "extract_us")


def extract_auto(df, spark=None, monster_threshold: int = 256):
    """Route: normal docs through the single-pass operator, monsters
    (> monster_threshold spans) through span-level explosion."""
    small, big = route(df, monster_threshold)
    return extract(small, spark).unionByName(extract_exploded(big, spark))
