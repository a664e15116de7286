"""Monster-document chunking (SURVEY.md §4 item 1 / §7 hard part 3).

A single document row with 10^4+ spans is DATA skew inside one task —
AQE cannot split a row, so one straggler task pins a whole stage. This
operator processes oversized documents in bounded chunks with byte-exact
whole-document semantics:

- spans are exploded (JVM-side, ``stage.span_rows``) and assigned to
  chunks of ``chunk_pages`` pages; media spans ride with their preceding
  page;
- each chunk also receives a ±2-page HALO from its neighbors — the
  header/footer detector (R3) is the only cross-page stage and its
  window is exactly ±2, so halo pages give every owned page its full
  comparison context; halo pages emit no output;
- chunks are processed by the same ``_Munger.munge_pages`` the
  whole-doc operator uses, via grouped ``applyInArrow`` on
  (doc_id, chunk) — so a 10^5-span monster becomes many independent
  tasks;
- ``stage.reassemble`` puts the spans back in order and sums the
  per-page metrics (JVM-side).

``munge_auto`` routes: normal docs take the single-pass mapInArrow
operator; only docs above ``monster_threshold`` spans pay the two extra
shuffles. Equality of the two paths is pytest-asserted on monster docs.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..rulesets.loader import broadcast_rulesets
from .munge import METRIC_FIELDS, _Munger, munge
from .stage import SPAN_FIELDS, reassemble, route, span_rows, span_rows_schema
from .worker import pin_spark_home_zips

HALO = 2  # must equal the R3 comparison window (SPEC.md §3)

_CHUNK_ROWS_SCHEMA = span_rows_schema(METRIC_FIELDS, "munge_us")


def _make_chunk_fn(rulesets_bc):
    import pyarrow as pa

    def chunk_fn(table: "pa.Table") -> "pa.Table":
        pin_spark_home_zips()
        munger = _Munger(rulesets_bc.value)
        table = table.sort_by("pos")
        kinds = table.column("kind").to_pylist()
        texts = table.column("text").to_pylist()
        halo = table.column("is_halo").to_pylist()
        pages = [i for i, kind in enumerate(kinds) if kind == "page"]
        t0 = time.monotonic()
        new, per_page = munger.munge_pages(
            [texts[i] for i in pages], owned=[not halo[i] for i in pages]
        )
        elapsed_us = int((time.monotonic() - t0) * 1e6)

        # each owned page row carries its own text and metrics; the doc's
        # totals are summed on reassembly
        metrics = {f: [0] * len(kinds) for f in METRIC_FIELDS}
        for i, text, pm in zip([i for i in pages if not halo[i]], new, per_page):
            texts[i] = text
            for f in METRIC_FIELDS:
                metrics[f][i] = pm[f]
        arrays = [table.column(c) for c in ["doc_id", "pos", *SPAN_FIELDS]]
        arrays[2 + SPAN_FIELDS.index("text")] = pa.array(texts, type=pa.string())
        arrays += [pa.array(metrics[f], type=pa.int64()) for f in METRIC_FIELDS]
        out = pa.Table.from_arrays(arrays, names=_CHUNK_ROWS_SCHEMA.names[:-1])
        out = out.filter(pa.array([not h for h in halo]))
        # attribute chunk wall time to its first owned row (sums per doc)
        us = [elapsed_us] + [0] * (out.num_rows - 1) if out.num_rows else []
        return out.append_column("munge_us", pa.array(us, type=pa.int64()))

    return chunk_fn


def munge_chunked(
    df: DataFrame,
    spark: SparkSession,
    chunk_pages: int = 64,
    rulesets_bc=None,
) -> DataFrame:
    """(doc_id, spans) -> OUTPUT_SCHEMA with bounded per-task page counts."""
    bc = rulesets_bc or broadcast_rulesets(spark)

    w = W.partitionBy("doc_id").orderBy("pos")
    # media before the first page belongs to chunk 0 (greatest skips the
    # NULL of an empty doc's placeholder row, too)
    page_idx = F.greatest(
        F.sum((F.col("kind") == "page").cast("int")).over(w) - F.lit(1), F.lit(0)
    )
    rows = span_rows(df).withColumn("page_idx", page_idx)
    rows = rows.withColumn("chunk", (F.col("page_idx") / chunk_pages).cast("int"))

    cp = chunk_pages
    is_page = F.col("kind") == "page"
    in_low_halo = is_page & (F.col("chunk") > 0) & (F.col("page_idx") % cp < HALO)
    in_high_halo = is_page & (F.col("page_idx") % cp >= cp - HALO)
    assignments = F.filter(
        F.array(
            F.struct(
                F.col("chunk").alias("c"), F.lit(False).alias("halo"), F.lit(True).alias("ok")
            ),
            F.struct(
                (F.col("chunk") - 1).alias("c"), F.lit(True).alias("halo"), in_low_halo.alias("ok")
            ),
            F.struct(
                (F.col("chunk") + 1).alias("c"), F.lit(True).alias("halo"), in_high_halo.alias("ok")
            ),
        ),
        lambda a: a["ok"],
    )
    exploded = rows.select(
        "doc_id", "pos", *SPAN_FIELDS, F.explode(assignments).alias("a")
    ).select(
        "doc_id", "pos", *SPAN_FIELDS,
        F.col("a.c").alias("chunk"),
        F.col("a.halo").alias("is_halo"),
    )

    # Explicit repartition on the group keys: chunk rows are few BYTES
    # but huge CPU, and AQE coalesces exchanges by byte size — left to
    # itself it folds every chunk of a monster into one task, undoing
    # the whole point. A user repartition is never coalesced, and
    # applyInArrow reuses the co-partitioning (no second exchange).
    par = spark.sparkContext.defaultParallelism * 2
    chunked = (
        exploded.repartition(par, "doc_id", "chunk")
        .groupBy("doc_id", "chunk")
        .applyInArrow(_make_chunk_fn(bc), schema=_CHUNK_ROWS_SCHEMA)
    )
    return reassemble(chunked, METRIC_FIELDS, "munge_us")


def munge_auto(
    df: DataFrame,
    spark: SparkSession,
    monster_threshold: int = 256,
    chunk_pages: int = 64,
) -> DataFrame:
    """Route: normal docs through the single-pass operator, monsters
    through chunking (``stage.route``)."""
    bc = broadcast_rulesets(spark)
    small, big = route(df, monster_threshold)
    return munge(small, spark, rulesets_bc=bc).unionByName(
        munge_chunked(big, spark, chunk_pages=chunk_pages, rulesets_bc=bc)
    )
