"""Property tests: the two independent implementations of SPEC.md (the
pure-Python oracle and the Spark-side _Munger) must agree on ARBITRARY
input — hypothesis explores the text space far beyond the fixture
corpus (ligatures, stray punctuation, hyphens at weird places, empty
lines, roman numerals, unicode quotes...). Runs the executor-side class
directly (no Spark session) so hundreds of examples are cheap; the
Spark integration path is covered by tests/test_munge_spark.py."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from datamunging_spark.operators.munge import METRIC_FIELDS, _Munger
from datamunging_spark.oracle.munge import Span, munge_document
from datamunging_spark.rulesets.loader import load_rulesets

RS = load_rulesets()
MUNGER = _Munger(RS)

ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789"
    " \n-.,;:'\"!?()[]"
    "ﬁﬂﬀſæœ“”‘’—–…"
    # adversarial case-folding chars (r3 ADVICE): KELVIN SIGN folds to
    # 'k', ANGSTROM to 'å', SUPERSCRIPT TWO is isdigit()-true
    # but isdecimal()-false — all probe the is_pagenum fast-path/residue split
    "KÅ²ª"
)

WORDS = st.sampled_from(
    "the tbe beft moft fame fail mufick musick join'd 'tis under- standing "
    "remark- able qux- zort ix xii 42 Johnson London ﬁre ſame cæsar "
    "UPPER Mixed lower don't it's end. (paren) [brack] \"quoted\" -- - "
    "a I of and history power".split()
)

line_st = st.one_of(
    st.text(alphabet=ALPHABET, min_size=0, max_size=60),
    st.lists(WORDS, min_size=0, max_size=12).map(" ".join),
)
page_st = st.lists(line_st, min_size=0, max_size=8).map("\n".join)


def doc_strategy():
    def build(parts):
        spans = []
        for i, (is_page, text) in enumerate(parts):
            if is_page:
                spans.append(Span("page", text, "", i))
            else:
                spans.append(Span("image", "", f"m/{i}", i))
        return spans

    return st.lists(
        st.tuples(st.booleans(), page_st), min_size=0, max_size=6
    ).map(build)


@settings(max_examples=300, deadline=None)
@given(doc_strategy())
def test_implementations_agree(spans):
    golden, m = munge_document("d", list(spans), RS)
    got_texts, got_m = MUNGER.munge_doc(
        [s.kind for s in spans], [s.text for s in spans]
    )
    # munge_doc rewrites texts only; kind/media_ref/offset pass through
    assert [
        (s.kind, text, s.media_ref, s.offset) for s, text in zip(spans, got_texts, strict=True)
    ] == [tuple(s) for s in golden]
    oracle_metrics = {
        "pages": m.pages,
        "tokens_total": m.tokens_total,
        "tokens_in_dict": m.tokens_in_dict,
        "tokens_corrected": m.tokens_corrected,
        "header_lines_removed": m.header_lines_removed,
        "pagenum_lines_removed": m.pagenum_lines_removed,
    }
    assert {f: got_m[f] for f in METRIC_FIELDS} == oracle_metrics


@settings(max_examples=100, deadline=None)
@given(doc_strategy())
def test_media_pass_through_property(spans):
    golden, _ = munge_document("d", list(spans), RS)
    for before, after in zip(spans, golden):
        if before.kind != "page":
            assert after == before
        assert after.offset == before.offset
        assert after.kind == before.kind


@settings(max_examples=150, deadline=None)
@given(st.lists(page_st, min_size=1, max_size=14), st.integers(2, 5))
def test_halo_chunking_invariant(pages, chunk_pages):
    """The chunking theorem operators/chunked.py relies on: processing
    pages in chunks of `chunk_pages` with a ±2-page halo yields exactly
    the whole-document result, for ANY page content and chunk size ≥ 2
    (the halo must be ≥ the R3 window, and chunk boundaries are where
    bugs would live)."""
    whole_texts, whole_metrics = MUNGER.munge_pages(pages)

    got_texts, got_metrics = [], []
    n = len(pages)
    for start in range(0, n, chunk_pages):
        end = min(start + chunk_pages, n)
        lo = max(0, start - 2)
        hi = min(n, end + 2)
        window = pages[lo:hi]
        owned = [lo + i >= start and lo + i < end for i in range(hi - lo)]
        texts, metrics = MUNGER.munge_pages(window, owned=owned)
        got_texts.extend(texts)
        got_metrics.extend(metrics)

    assert got_texts == whole_texts
    assert got_metrics == whole_metrics
