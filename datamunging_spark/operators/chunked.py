"""Monster-document chunking (SURVEY.md §4 item 1 / §7 hard part 3).

A single document row with 10^4+ spans is DATA skew inside one task —
AQE cannot split a row, so one straggler task pins a whole stage. This
operator processes oversized documents in bounded chunks with byte-exact
whole-document semantics:

- spans are exploded (JVM-side) and assigned to chunks of
  ``chunk_pages`` pages; media spans ride with their preceding page;
- each chunk also receives a ±2-page HALO from its neighbors — the
  header/footer detector (R3) is the only cross-page stage and its
  window is exactly ±2, so halo pages give every owned page its full
  comparison context; halo pages emit no output;
- chunks are processed by the same ``_Munger.munge_pages`` the
  whole-doc operator uses, via ``applyInPandas`` grouped on
  (doc_id, chunk) — so a 10^5-span monster becomes many independent
  tasks;
- results are reassembled with ``array_sort(collect_list(struct(...)))``
  (JVM-side) and per-chunk metrics are summed.

``munge_auto`` routes: normal docs take the single-pass mapInArrow
operator; only docs above ``monster_threshold`` spans pay the two extra
shuffles. Equality of the two paths is pytest-asserted on monster docs.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window as W

from ..rulesets.loader import broadcast_rulesets
from .munge import METRIC_FIELDS, OUTPUT_SCHEMA, _Munger, munge
from .worker import pin_spark_home_zips

HALO = 2  # must equal the R3 comparison window (SPEC.md §3)

_CHUNK_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
    + [T.StructField(f, T.LongType()) for f in METRIC_FIELDS]
    + [T.StructField("munge_us", T.LongType())]
)


def _make_chunk_fn(rulesets_bc):
    def chunk_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pin_spark_home_zips()
        munger = _Munger(rulesets_bc.value)
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        t0 = time.monotonic()
        is_page = pdf["kind"] == "page"
        page_rows = pdf[is_page]
        owned_mask = [not h for h in page_rows["is_halo"]]
        texts, per_page = munger.munge_pages(
            list(page_rows["text"]), owned=owned_mask
        )
        elapsed_us = int((time.monotonic() - t0) * 1e6)

        out = pdf[~pdf["is_halo"]].copy()
        # rewrite owned page texts in order
        owned_page_pos = page_rows[~page_rows["is_halo"]]["pos"].tolist()
        text_by_pos = dict(zip(owned_page_pos, texts))
        metrics_by_pos = dict(zip(owned_page_pos, per_page))
        out["text"] = [
            text_by_pos.get(p, txt) for p, txt in zip(out["pos"], out["text"])
        ]
        n = len(out)
        for f in METRIC_FIELDS:
            out[f] = pd.Series(
                [metrics_by_pos.get(p, {}).get(f, 0) for p in out["pos"]],
                index=out.index,
                dtype="int64",
            )
        # attribute chunk wall time to its first owned row (sums per doc)
        out["munge_us"] = pd.Series(
            [elapsed_us] + [0] * (n - 1) if n else [], index=out.index, dtype="int64"
        )
        return out.drop(columns=["chunk", "is_halo", "page_idx"])

    return chunk_fn


def munge_chunked(
    df: DataFrame,
    spark: SparkSession,
    chunk_pages: int = 64,
    rulesets_bc=None,
) -> DataFrame:
    """(doc_id, spans) -> OUTPUT_SCHEMA with bounded per-task page counts."""
    bc = rulesets_bc or broadcast_rulesets(spark)

    rows = df.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    rows = rows.withColumn(
        "page_idx",
        F.sum((F.col("kind") == "page").cast("int")).over(w) - F.lit(1),
    )
    # media before the first page belongs to chunk 0
    eff = F.greatest(F.col("page_idx"), F.lit(0))
    rows = rows.withColumn("chunk", (eff / chunk_pages).cast("int"))

    cp = chunk_pages
    is_page = F.col("kind") == "page"
    in_low_halo = is_page & (F.col("chunk") > 0) & (eff % cp < HALO)
    in_high_halo = is_page & (eff % cp >= cp - HALO)
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
        "doc_id", "pos", "kind", "text", "media_ref", "offset", "page_idx",
        F.explode(assignments).alias("a"),
    ).select(
        "doc_id", "pos", "kind", "text", "media_ref", "offset", "page_idx",
        F.col("a.c").alias("chunk"),
        F.col("a.halo").alias("is_halo"),
    )

    # Explicit repartition on the group keys: chunk rows are few BYTES
    # but huge CPU, and AQE coalesces exchanges by byte size — left to
    # itself it folds every chunk of a monster into one task, undoing
    # the whole point. A user repartition is never coalesced, and
    # applyInPandas reuses the co-partitioning (no second exchange).
    par = spark.sparkContext.defaultParallelism * 2
    chunked = (
        exploded.repartition(par, "doc_id", "chunk")
        .groupBy("doc_id", "chunk")
        .applyInPandas(_make_chunk_fn(bc), schema=_CHUNK_ROWS_SCHEMA)
    )

    # reassemble: spans in pos order + metric sums (JVM-side)
    span_struct = F.struct(
        F.col("pos"),
        F.struct("kind", "text", "media_ref", "offset").alias("s"),
    )
    agg = chunked.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(span_struct)), lambda x: x["s"]
        ).alias("spans"),
        *[F.sum(f).alias(f) for f in METRIC_FIELDS],
        F.sum("munge_us").alias("munge_us"),
    )
    return agg.select([f.name for f in OUTPUT_SCHEMA.fields])


def munge_auto(
    df: DataFrame,
    spark: SparkSession,
    monster_threshold: int = 256,
    chunk_pages: int = 64,
) -> DataFrame:
    """Route: normal docs through the single-pass operator, monsters
    through chunking. The size predicate is JVM-side (`size(spans)`)."""
    bc = broadcast_rulesets(spark)
    small = df.where(F.size("spans") <= monster_threshold)
    big = df.where(F.size("spans") > monster_threshold)
    return munge(small, spark, rulesets_bc=bc).unionByName(
        munge_chunked(big, spark, chunk_pages=chunk_pages, rulesets_bc=bc)
    )
