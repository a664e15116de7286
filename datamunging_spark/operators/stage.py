"""The one Arrow boundary every pipeline Python stage crosses.

A pipeline stage reads the spans table ``(doc_id, spans array<struct<kind,
text,media_ref,offset>>)`` and writes it back with rewritten span texts
plus one int64 column per metric and a per-doc wall-time column. Only the
texts change; kind, media_ref, offset and the list offsets pass through as
the Arrow arrays they arrived in.

Why ``mapInArrow`` and not a pandas UDF: converting a ``list<struct>``
column to pandas materializes one Python dict PER SPAN in each direction,
which is memory-bandwidth-bound and anti-scales past ~8 cores. Reading
the flat child arrays and rebuilding the ListArray over the same offsets
creates no Python objects beyond the strings the stage needs anyway, and
one document row yields both its rewritten spans and its metrics in one
JVM<->Python crossing per Arrow batch. The batch size is capped by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (session.py) so skewed
monster documents cannot blow executor memory.

Monster documents (a single row with thousands of spans) are skew inside
one task, which AQE cannot split. Their paths explode the spans to one
row each (``span_rows``), process the rows in many tasks, and put every
document back together JVM-side (``reassemble``); ``route`` picks the
documents that take that path. Scans, repartitions and writes around a
stage stay JVM-side.
"""

from __future__ import annotations

import time
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, functions as F, types as T

from .worker import pin_spark_home_zips

SPAN_FIELDS = ["kind", "text", "media_ref", "offset"]
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# doc_fn(kinds, texts) -> (rewritten texts, {metric: int}) for one document
DocFn = Callable[[list, list], tuple[list, dict]]


def metric_columns(metric_fields: list[str], us_col: str) -> list[T.StructField]:
    """The int64 columns a stage appends: one per metric, then the
    microseconds spent on the doc (skew telemetry, not an oracle metric)."""
    return [T.StructField(f, T.LongType(), True) for f in [*metric_fields, us_col]]


def output_schema(metric_fields: list[str], us_col: str) -> T.StructType:
    return T.StructType(list(INPUT_SCHEMA.fields) + metric_columns(metric_fields, us_col))


def span_rows_schema(metric_fields: list[str], us_col: str) -> T.StructType:
    """One processed span per row: ``span_rows`` plus the metric columns."""
    return T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("pos", T.IntegerType())]
        + list(SPAN_STRUCT.fields)
        + metric_columns(metric_fields, us_col)
    )


def _run_docs(doc_fn: DocFn, kinds, texts, bounds: Iterable, metric_fields, us_col):
    """Calls ``doc_fn`` on each ``[lo, hi)`` slice of the flat span lists.
    Returns the rewritten flat texts and one int64 array per metric column."""
    import pyarrow as pa

    new_texts = list(texts)
    cols: dict[str, list[int]] = {f: [] for f in [*metric_fields, us_col]}
    for lo, hi in bounds:
        t0 = time.monotonic()
        out, m = doc_fn(kinds[lo:hi], texts[lo:hi])
        cols[us_col].append(int((time.monotonic() - t0) * 1e6))
        new_texts[lo:hi] = out
        for f in metric_fields:
            cols[f].append(m[f])
    return pa.array(new_texts, type=pa.string()), [
        pa.array(v, type=pa.int64()) for v in cols.values()
    ]


def doc_stage(
    df: DataFrame, make_doc_fn: Callable[[], DocFn], metric_fields: list[str], us_col: str
) -> DataFrame:
    """(doc_id, spans) -> ``output_schema(metric_fields, us_col)`` in one
    ``mapInArrow`` pass. ``make_doc_fn()`` runs once per task (after the
    worker set-up); its result is called once per document."""
    schema = output_schema(metric_fields, us_col)

    def stage(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        pin_spark_home_zips()
        doc_fn = make_doc_fn()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            spans = batch.column(1)
            # offsets are ABSOLUTE positions into the full child array (a
            # sliced ListArray keeps them absolute), so index the flat
            # lists directly and rebuild the list over the same offsets
            offsets = spans.offsets
            bounds = offsets.to_pylist()
            flat = spans.values
            texts, metrics = _run_docs(
                doc_fn,
                flat.field("kind").to_pylist(),
                flat.field("text").to_pylist(),
                zip(bounds, bounds[1:]),
                metric_fields,
                us_col,
            )
            children = [flat.field(f) for f in SPAN_FIELDS]
            children[SPAN_FIELDS.index("text")] = texts
            spans_out = pa.ListArray.from_arrays(
                offsets, pa.StructArray.from_arrays(children, names=SPAN_FIELDS)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), spans_out, *metrics], names=schema.names
            )

    # plans and event logs name the stage after its caller: munge_arrow, extract_arrow
    stage.__name__ = us_col.removesuffix("_us") + "_arrow"
    return df.mapInArrow(stage, schema=schema)


def span_stage(
    rows: DataFrame, make_doc_fn: Callable[[], DocFn], metric_fields: list[str], us_col: str
) -> DataFrame:
    """``span_rows`` -> ``span_rows_schema``: ``doc_fn`` on every span as
    a one-span document. For stages that are span-local."""
    schema = span_rows_schema(metric_fields, us_col)

    def stage(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        pin_spark_home_zips()
        doc_fn = make_doc_fn()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            texts, metrics = _run_docs(
                doc_fn,
                batch.column("kind").to_pylist(),
                batch.column("text").to_pylist(),
                ((i, i + 1) for i in range(batch.num_rows)),
                metric_fields,
                us_col,
            )
            arrays = [batch.column(c) for c in ["doc_id", "pos", *SPAN_FIELDS]]
            arrays[2 + SPAN_FIELDS.index("text")] = texts
            yield pa.RecordBatch.from_arrays(arrays + metrics, names=schema.names)

    return rows.mapInArrow(stage, schema=schema)


def span_rows(df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> one row per span: (doc_id, pos, kind, text,
    media_ref, offset). A doc with empty or NULL spans keeps one row with
    NULL pos and span fields, so ``reassemble`` gives it back with empty
    spans instead of dropping it."""
    return df.select("doc_id", F.posexplode_outer("spans").alias("pos", "s")).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        *[F.col(f"s.{f}").alias(f) for f in SPAN_FIELDS],
    )


def reassemble(done: DataFrame, metric_fields: list[str], us_col: str) -> DataFrame:
    """Processed span rows -> ``output_schema``: spans back in ``pos``
    order, metrics summed per doc (all JVM-side)."""
    span = F.struct(F.col("pos"), F.struct(*SPAN_FIELDS).alias("s"))
    # collect_list skips NULLs: the placeholder row of an empty doc adds no span
    spans = F.collect_list(F.when(F.col("pos").isNotNull(), span))
    agg = done.groupBy("doc_id").agg(
        F.transform(F.array_sort(spans), lambda x: x["s"]).alias("spans"),
        *[F.sum(c.name).alias(c.name) for c in metric_columns(metric_fields, us_col)],
    )
    return agg.select(output_schema(metric_fields, us_col).names)


def route(df: DataFrame, monster_threshold: int) -> tuple[DataFrame, DataFrame]:
    """(normal docs, monster docs) by span count. NULL spans count as
    size 0: under ANSI mode ``size(NULL)`` is NULL, which would drop the
    row from BOTH sides."""
    size = F.coalesce(F.size("spans"), F.lit(0))
    return df.where(size <= monster_threshold), df.where(size > monster_threshold)
