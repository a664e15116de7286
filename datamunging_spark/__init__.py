"""datamunging_spark — a PySpark-native OCR-munging / extraction engine.

A brand-new implementation (NOT a port) of the capabilities of the public
reference repo ``tedunderwood/DataMunging`` (HathiTrust OCR correction:
Correct.py / NormalizeVolume / runningheaders.HeaderFinder semantics as
specified in ``/root/repo/BASELINE.json`` — the reference mount at
``/root/reference`` was empty at build time, see SURVEY.md §0).

Architecture (Spark-first):

- The corpus is an interleaved text+media span table
  ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
  read as a DataFrame (parquet locally; Iceberg on a real cluster via the
  ``catalog`` seam).
- The whole per-document correction cascade (header strip, ligature/long-s
  normalization, hyphen rejoin, dictionary/variant/correction lookups,
  f/s disambiguation) runs inside ONE ``mapInArrow`` stage
  (``operators.munge`` over ``operators.stage``): JVM<->Python crossing
  happens once, in Arrow record batches, never per row.
- Rulesets are broadcast once per application (``rulesets.loader``).
- Resumability is a left-anti join against a state table plus per-partition
  lineage appends (``pipeline``).
- Everything relational (joins, aggregation, windows, dedup, similarity
  search, text analytics) is plain DataFrame API so Catalyst does pushdown,
  pruning, broadcast selection and AQE for free.
"""

__version__ = "0.1.0"


def correct_text(text: str) -> str:
    """Single-stream corrector — the ``Correct.py`` equivalent of the
    reference (BASELINE.json:6 names it as a golden source): apply the
    full cascade to one raw text (treated as one page), no Spark, no
    pairtree bookkeeping. For corpora use the distributed path
    (``operators.munge`` / ``pipeline``), which runs the identical
    semantics (oracle-equality-tested) inside one Arrow stage."""
    from .oracle.munge import Span, munge_document
    from .rulesets.loader import load_rulesets

    spans = [Span(kind="page", text=text, media_ref="", offset=0)]
    out, _metrics = munge_document("stream", spans, load_rulesets())
    return out[0].text
