"""Spark-side munge operator: the whole correction cascade as ONE
``mapInArrow`` pass (the Arrow boundary itself lives in ``stage.py``).

Independent implementation of SPEC.md (the oracle in ``oracle/munge.py``
is the executable spec; pytest asserts span-sequence equality between the
two). Regex-based where the oracle is loop-based, so agreement between
them is evidence of correctness rather than shared code.

At cluster scale: this node is the only Python stage in the plan; the
scan, resume anti-join, repartition, and writes around it stay JVM-side
(see pipeline.py and its .explain notes).
"""

from __future__ import annotations

import re

from ..rulesets.loader import PUNCT, Rulesets
# INPUT_SCHEMA is the spans table contract; callers import it from here
from .stage import INPUT_SCHEMA, doc_stage, output_schema  # noqa: F401

METRIC_FIELDS = [
    "pages",
    "tokens_total",
    "tokens_in_dict",
    "tokens_corrected",
    "header_lines_removed",
    "pagenum_lines_removed",
]

OUTPUT_SCHEMA = output_schema(METRIC_FIELDS, "munge_us")

_PUNCT_RE = re.escape(PUNCT)
_TOKEN_SPLIT_RE = re.compile(rf"^([{_PUNCT_RE}]*)(.*?)([{_PUNCT_RE}]*)$", re.DOTALL)
_NON_ALNUM_RE = re.compile(r"[^0-9a-z]+")
_DIGIT_RE = re.compile(r"[0-9]+")
_ALNUM_ONLY_RE = re.compile(r"[^0-9A-Za-z]+")
# any ASCII alphabetic char OUTSIDE the roman-numeral alphabet (ivxlcdm)
# disqualifies a line from being a page number before the (allocating)
# residue path runs — a pure fast path: a residue containing such a char
# can be neither all-digits nor a roman-numeral string, so the slow path
# reaches the same False. re.ASCII is load-bearing (ADVICE r3): without
# it IGNORECASE folds Unicode chars (KELVIN SIGN U+212A → 'k', LONG S
# U+017F → 's') into this class and the fast path would answer for
# characters the residue logic treats differently.
_NON_ROMAN_ALPHA_RE = re.compile(r"[a-be-hj-kn-uwy-z]", re.IGNORECASE | re.ASCII)


def _split_token(tok: str) -> tuple[str, str, str]:
    # lstrip/rstrip with a char-set == maximal punctuation runs (C-speed;
    # ~4x the regex this replaced — see git history)
    body = tok.lstrip(PUNCT)
    pre = tok[: len(tok) - len(body)]
    core = body.rstrip(PUNCT)
    return pre, core, body[len(core) :]


def _case_like(orig: str, repl: str) -> str:
    if not orig or not repl:
        return repl
    if len(orig) > 1 and orig.isupper():
        return repl.upper()
    if orig[0].isupper():
        return repl[0].upper() + repl[1:]
    return repl


class _Munger:
    """Per-executor compiled view of the broadcast rulesets."""

    def __init__(self, rs: Rulesets):
        self.rs = rs
        # header-normalization: lowercase → kill digits → non-alnum → space
        self._roman = rs.roman_numerals
        self._dict = rs.main_dictionary
        # fast path: dictionary words that no rule table can touch — the
        # overwhelming majority of tokens in real text skip the cascade
        self._hot_skip = frozenset(
            rs.main_dictionary
            - set(rs.syncope_rules)
            - set(rs.correction_rules)
            - set(rs.variant_spellings)
            - set(rs.context_rules)
        )

    # ---- R3 -------------------------------------------------------------
    def _header_key(self, line: str) -> frozenset[str]:
        # ASCII fast path (real OCR zone lines are overwhelmingly ASCII
        # after R5 translation): the two C-speed regex subs are exactly
        # the oracle's per-char lower/digit-drop/alnum-split on ASCII.
        # Non-ASCII lines take the oracle's own Unicode path — same
        # divergence family as is_pagenum (r4 property-test find: 'Å'
        # is isalnum-true but outside [0-9a-z], so the regex key went
        # empty and a repeated 'Å' header was never stripped).
        if line.isascii():
            s = _DIGIT_RE.sub("", line.lower())
            toks = _NON_ALNUM_RE.sub(" ", s).split()
        else:
            s = line.lower()
            s = "".join(c for c in s if not c.isdigit())
            toks = "".join(c if c.isalnum() else " " for c in s).split()
        return frozenset(t for t in toks if t not in self._roman)

    @staticmethod
    def _match(a: frozenset, b: frozenset) -> bool:
        return bool(a) and bool(b) and len(a & b) / max(len(a), len(b)) >= 0.6

    def strip_headers(
        self, pages: list[list[str]]
    ) -> tuple[list[list[str]], list[int]]:
        """Returns (stripped pages, per-page removed-line counts)."""
        n = len(pages)
        zones = []
        for lines in pages:
            head = range(min(2, len(lines)))
            tail = [i for i in range(max(len(lines) - 2, 0), len(lines)) if i >= 2]
            keys = {i: self._header_key(lines[i]) for i in [*head, *tail]}
            zones.append((list(head), tail, keys))
        removed = [0] * n
        out = []
        for p in range(n):
            head, tail, keys = zones[p]
            kill = set()
            for zi, mine_zone in ((0, head), (1, tail)):
                for i in mine_zone:
                    k = keys[i]
                    for q in (p - 2, p - 1, p + 1, p + 2):
                        if 0 <= q < n and any(
                            self._match(k, zones[q][2][j]) for j in zones[q][zi]
                        ):
                            kill.add(i)
                            break
            removed[p] = len(kill)
            out.append([ln for i, ln in enumerate(pages[p]) if i not in kill])
        return out, removed

    # ---- R4 -------------------------------------------------------------
    def is_pagenum(self, line: str) -> bool:
        if _NON_ROMAN_ALPHA_RE.search(line):
            return False  # same verdict the residue path would reach
        # exact oracle semantics (oracle/munge.py:_is_pagenum_line):
        # Unicode-alnum residue, NOT the ASCII [0-9A-Za-z] regex this
        # used to be — '12' + KELVIN SIGN must stay "12K"-like and fail
        # isdigit(), matching the spec (r3 ADVICE divergence, fixed at
        # the root). Per-char join is fine here: lines with ordinary
        # letters already exited via the fast path above.
        r = "".join(c for c in line if c.isalnum())
        return bool(r) and (r.isdigit() or r.lower() in self._roman)

    # ---- R6 -------------------------------------------------------------
    def rejoin(self, lines: list[str]) -> list[str]:
        for i in range(len(lines) - 1):
            cur = lines[i].rstrip()
            if not cur.endswith("-"):
                continue
            head, _, last = cur[:-1].rpartition(" ") if " " in cur[:-1] else ("", "", cur[:-1])
            pre, c1, _ = _split_token(last)
            nxt = lines[i + 1].split()
            if not nxt:
                continue
            _, c2, suf = _split_token(nxt[0])
            if c1 and c2 and c1.isalpha() and c2.isalpha() and (c1 + c2).lower() in self._dict:
                fused = pre + c1 + c2 + suf
                lines[i] = (" ".join(cur[:-1].split()[:-1] + [fused]))
                lines[i + 1] = " ".join(nxt[1:])
        return lines

    # ---- R7-R14 ---------------------------------------------------------
    def correct_line(self, line: str, m: dict) -> str:
        rs = self.rs
        toks = line.split()
        hot = self._hot_skip
        # whole-line fast path: clean lowercase dictionary text (the
        # common case in real OCR output) costs one set probe per token
        # and zero per-token bookkeeping; " ".join matches the token
        # loop's whitespace normalization exactly
        for tok in toks:
            if tok not in hot:
                break
        else:
            n = len(toks)
            m["tokens_total"] += n
            m["tokens_in_dict"] += n
            return " ".join(toks)
        out: list[str] = []
        # local counters: three dict increments per token add up at
        # ~600k tokens/page-batch; fold into m once per line
        n_total = n_dict = n_corr = 0
        syncope = rs.syncope_rules
        for i, tok in enumerate(toks):
            # `hot` holds only lowercase alphabetic words, so a direct
            # probe (no .lower() allocation) is exact for the majority
            # lowercase case; mixed-case falls through to the full check
            if tok in hot or (tok.isalpha() and tok.lower() in hot):
                n_total += 1
                n_dict += 1
                out.append(tok)
                continue
            pre, core, suf = _split_token(tok)
            if not core:
                out.append(tok)
                continue
            orig = core
            low = core.lower()
            # with no punctuation prefix, (pre+core).lower() == low — one
            # probe covers both rule positions
            syn = syncope.get((pre + core).lower()) if pre else syncope.get(low)
            if syn is not None:
                core = _case_like(core, syn)
                pre = ""
                low = core.lower()
            elif pre:
                syn = syncope.get(low)
                if syn is not None:
                    core = _case_like(core, syn)
                    low = core.lower()
            for table in (rs.correction_rules, rs.variant_spellings):
                hit = table.get(low)
                if hit is not None:
                    core = _case_like(core, hit)
                    low = core.lower()
            ctx = rs.context_rules.get(low)
            if ctx:
                prev_low = _split_token(out[-1].split()[-1])[1].lower() if out else None
                next_low = (
                    _split_token(toks[i + 1])[1].lower() if i + 1 < len(toks) else None
                )
                res = next(
                    (r for nb, r in ctx if prev_low is not None and prev_low == nb),
                    None,
                ) or next(
                    (r for nb, r in ctx if next_low is not None and next_low == nb),
                    None,
                )
                if res is not None:
                    core = _case_like(core, res)
                    low = core.lower()
            if low not in self._dict and "f" in low and core.isalpha():
                fpos = [j for j, c in enumerate(core) if c in "fF"]
                cands = [
                    core[:j] + ("s" if core[j] == "f" else "S") + core[j + 1 :]
                    for j in fpos
                ]
                if len(fpos) > 1:
                    cands.append(core.replace("f", "s").replace("F", "S"))
                for cand in cands:
                    if cand.lower() in self._dict:
                        core = cand
                        low = core.lower()
                        break
            n_total += 1
            if low in self._dict:
                n_dict += 1
            if core != orig:
                n_corr += 1
            out.append(pre + core + suf)
        m["tokens_total"] += n_total
        m["tokens_in_dict"] += n_dict
        m["tokens_corrected"] += n_corr
        return " ".join(out)

    # ---- page sequences ---------------------------------------------------
    def munge_pages(
        self, page_texts: list[str], owned: list[bool] | None = None
    ) -> tuple[list[str], list[dict]]:
        """Run the cascade over a contiguous page sequence.

        ``owned[i] = False`` marks halo pages: they participate in the
        ±2-page header/footer comparison (R3 is the ONLY cross-page
        stage; everything later is page-local) but produce no output —
        this is what makes monster-doc chunking (operators/chunked.py)
        byte-exact vs whole-document processing.

        Returns (corrected texts, per-page metric dicts) for owned pages
        only, in order.
        """
        n = len(page_texts)
        if owned is None:
            owned = [True] * n
        pages = [self.rs.translate(t).split("\n") for t in page_texts]
        pages, removed = self.strip_headers(pages)
        out_texts: list[str] = []
        out_metrics: list[dict] = []
        for i in range(n):
            if not owned[i]:
                continue
            pm = {f: 0 for f in METRIC_FIELDS}
            pm["pages"] = 1
            pm["header_lines_removed"] = removed[i]
            kept = []
            for ln in pages[i]:
                if self.is_pagenum(ln):
                    pm["pagenum_lines_removed"] += 1
                else:
                    kept.append(ln)
            lines = self.rejoin(kept)
            out_texts.append("\n".join(self.correct_line(ln, pm) for ln in lines))
            out_metrics.append(pm)
        return out_texts, out_metrics

    # ---- whole document -------------------------------------------------
    def munge_doc(self, kinds: list, texts: list) -> tuple[list, dict]:
        """One document's span kinds and texts -> (its span texts with
        every page corrected, summed metrics). Media spans pass through."""
        page_idx = [k for k, kind in enumerate(kinds) if kind == "page"]
        new, per_page = self.munge_pages([texts[k] for k in page_idx])
        out = list(texts)
        for k, text in zip(page_idx, new):
            out[k] = text
        return out, {f: sum(pm[f] for pm in per_page) for f in METRIC_FIELDS}


def munge(df, spark, rulesets_bc=None):
    """DataFrame (doc_id, spans) -> (doc_id, spans', metrics...)."""
    from ..rulesets.loader import broadcast_rulesets

    bc = rulesets_bc or broadcast_rulesets(spark)
    return doc_stage(df, lambda: _Munger(bc.value).munge_doc, METRIC_FIELDS, "munge_us")
