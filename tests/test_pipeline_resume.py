"""Pipeline-level tests: resume (kill/rerun) equivalence, no double
processing, lineage table, dedupe on read (FIXTURES.md §4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datamunging_spark.generator import corpus_to_rows, generate_corpus
from datamunging_spark.operators.munge import INPUT_SCHEMA
from datamunging_spark.pipeline import (
    read_output,
    read_state,
    rebuild_state,
    run_pipeline,
)


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = corpus_to_rows(generate_corpus(seed=42, n_docs=20))
    return spark.createDataFrame(rows, schema=INPUT_SCHEMA)


def test_full_run_then_rerun_is_noop(spark, corpus_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe") / "out")
    r1 = run_pipeline(spark, corpus_df, out, run_id="r1", partitions=8)
    assert r1.docs_processed == 20
    r2 = run_pipeline(spark, corpus_df, out, run_id="r2", partitions=8)
    assert r2.docs_processed == 0  # everything already done
    assert read_output(spark, out).count() == 20


def test_resume_after_partial_run(spark, corpus_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe") / "out")
    # simulate a killed run: only half the docs made it to the output table
    half_ids = [r.doc_id for r in corpus_df.select("doc_id").collect()][:10]
    partial = corpus_df.where(F.col("doc_id").isin(half_ids))
    run_pipeline(spark, partial, out, run_id="r1", partitions=4)

    # resume with the FULL input
    r2 = run_pipeline(spark, corpus_df, out, run_id="r2", partitions=4)
    assert r2.docs_processed == 10  # only the complement was processed

    final = read_output(spark, out)
    assert final.count() == 20
    # no doc processed twice: raw row count equals distinct doc count
    raw = spark.read.parquet(out)
    assert raw.count() == raw.select("doc_id").distinct().count()

    # resumed result identical to an uninterrupted run
    clean_out = str(tmp_path_factory.mktemp("pipe") / "clean")
    run_pipeline(spark, corpus_df, clean_out, run_id="c", partitions=4)
    a = {r.doc_id: [tuple(s) for s in r.spans] for r in final.collect()}
    b = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in read_output(spark, clean_out).collect()
    }
    assert a == b


def test_lineage_state_table(spark, corpus_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe") / "out")
    run_pipeline(spark, corpus_df, out, run_id="r1", partitions=4)
    state = read_state(spark, out)
    rows = state.collect()
    assert sum(r.docs for r in rows) == 20
    assert all(r.run_id == "r1" for r in rows)
    assert {"run_id", "partition_id", "docs", "pages", "tokens_total",
            "tokens_corrected", "wall_ms"} == set(state.columns)
    # rebuild from output must agree on totals
    rebuild_state(spark, out)
    rebuilt = read_state(spark, out)
    assert sum(r.docs for r in rebuilt.collect()) == 20


def test_salted_partitioning_spreads_docs(spark, corpus_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe") / "out")
    run_pipeline(spark, corpus_df, out, run_id="r1", partitions=16)
    per_part = (
        spark.read.parquet(out)
        .groupBy("partition_id")
        .count()
        .collect()
    )
    # 20 docs into 16 partitions: no partition may hoard them
    assert max(r["count"] for r in per_part) <= 5


# ---- extraction pipeline shares the resume protocol ----------------------

from datamunging_spark.generator_web import generate_web_corpus  # noqa: E402
from datamunging_spark.pipeline import run_extract_pipeline  # noqa: E402


@pytest.fixture(scope="module")
def web_corpus_df(spark):
    rows = corpus_to_rows(generate_web_corpus(seed=31, n_docs=20))
    return spark.createDataFrame(rows, schema=INPUT_SCHEMA).cache()


def test_extract_rerun_is_noop(spark, web_corpus_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ex") / "out")
    r1 = run_extract_pipeline(spark, web_corpus_df, out, run_id="e1", partitions=8)
    assert r1.docs_processed == 20
    r2 = run_extract_pipeline(spark, web_corpus_df, out, run_id="e2", partitions=8)
    assert r2.docs_processed == 0
    assert read_output(spark, out).count() == 20


def test_extract_resume_matches_clean_run(spark, web_corpus_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("ex2")
    out, clean_out = str(base / "out"), str(base / "clean")
    partial = web_corpus_df.where(F.col("doc_id") < "web.00000010")
    run_extract_pipeline(spark, partial, out, run_id="e1", partitions=4)
    r2 = run_extract_pipeline(spark, web_corpus_df, out, run_id="e2", partitions=4)
    assert r2.docs_processed == 10
    run_extract_pipeline(spark, web_corpus_df, clean_out, run_id="c", partitions=4)
    a = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in read_output(spark, out).collect()
    }
    b = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in read_output(spark, clean_out).collect()
    }
    assert a == b
    state = read_state(spark, out)
    assert {r.run_id for r in state.collect()} == {"e1", "e2"}
    assert state.agg(F.sum("docs")).collect()[0][0] == 20


@pytest.mark.parametrize("pipeline", ["munge", "extract"])
def test_rebuild_state_reproduces_lineage(
    spark, corpus_df, web_corpus_df, tmp_path_factory, pipeline
):
    df, run = {
        "munge": (corpus_df, run_pipeline),
        "extract": (web_corpus_df, run_extract_pipeline),
    }[pipeline]
    out = str(tmp_path_factory.mktemp("rebuild") / "out")
    half = [r.doc_id for r in df.select("doc_id").collect()][:10]
    run(spark, df.where(F.col("doc_id").isin(half)), out, run_id="a", partitions=4)
    run(spark, df, out, run_id="b", partitions=4)

    def lineage_rows():
        state = read_state(spark, out)
        return state.columns, sorted(tuple(r) for r in state.collect())

    written = lineage_rows()
    assert {r[0] for r in written[1]} == {"a", "b"}
    rebuild_state(spark, out)
    assert lineage_rows() == written
