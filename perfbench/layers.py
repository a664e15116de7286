"""The traced run: per-layer numbers for one workload.

Every number is taken from the benchmark's side of a public call (each
layer's function is called on its own and timed into the ``noop`` sink),
from the Spark event log (enabled only in this run) or from /proc. A
layer the workload does not exercise reports 0. Nothing inside
``datamunging_spark`` is instrumented.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import functions as F

from datamunging_spark.operators.chunked import munge_chunked
from datamunging_spark.operators.extract import (
    extract,
    extract_html_stream,
    parse_layout_stream,
)
from datamunging_spark.operators.munge import _Munger, munge
from datamunging_spark.pipeline import read_output, rebuild_state
from datamunging_spark.rulesets.loader import broadcast_rulesets, load_rulesets
from datamunging_spark.session import get_spark

import probes
from inputs import MONSTER_THRESHOLD
from workloads import check, measure_calls, spark_conf, timed, warm_up_calls

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "rulesets.load_s": "s",
    "cascade.r5_translate_us_per_page": "us",
    "cascade.r3_headers_us_per_page": "us",
    "cascade.r4_pagenum_us_per_page": "us",
    "cascade.r6_rejoin_us_per_page": "us",
    "cascade.r7_14_tokens_us_per_page": "us",
    "cascade.hot_skip_ratio": "ratio",
    "munge.op_s": "s",
    "munge.arrow_identity_s": "s",
    "munge.doc_us_p50": "us",
    "munge.doc_us_p99": "us",
    "munge.doc_us_max": "us",
    "chunked.op_s": "s",
    "chunked.single_pass_s": "s",
    "chunked.docs": "count",
    "extract.op_s": "s",
    "extract.arrow_identity_s": "s",
    "extract.html_us_per_span": "us",
    "extract.pdf_us_per_span": "us",
    "extract.doc_us_p50": "us",
    "extract.doc_us_p99": "us",
    "catalog.scan_s": "s",
    "catalog.output_bytes": "bytes",
    "catalog.output_files": "count",
    "pipeline.repartition_s": "s",
    "pipeline.resume_antijoin_s": "s",
    "pipeline.resume_noop_s": "s",
    "pipeline.lineage_rebuild_s": "s",
    "pipeline.read_output_s": "s",
    "pipeline.docs_skipped": "count",
    "pipeline.docs_processed": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_write_s": "s",
    "spark.gc_s": "s",
    "spark.python_sent_bytes": "bytes",
    "spark.python_received_bytes": "bytes",
    "host.calib_alu_s": "s",
    "host.calib_spark_s": "s",
    "host.foreign_busy_cores": "cores",
    "host.steal_cores": "cores",
    "scaling.efficiency_1to4": "ratio",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
}

SAMPLE_PAGES = 400  # in-process cascade sample
SAMPLE_SPANS = 300  # in-process extractor sample
PHASES = {
    "r5": "r5_translate",
    "r3": "r3_headers",
    "r4": "r4_pagenum",
    "r6": "r6_rejoin",
    "r7_14": "r7_14_tokens",
}


def _noop(df) -> float:
    return timed(lambda: df.write.format("noop").mode("overwrite").save())[1]


def _salted(df, spark):
    # the same salted hash repartition pipeline._run_stage applies
    parts = spark.sparkContext.defaultParallelism * 4
    return df.repartition(parts, F.xxhash64(F.col("doc_id"), F.lit(0)))


def _pct(values: list[int], q: float) -> float:
    s = sorted(values)
    return float(s[min(len(s) - 1, int(q * len(s)))]) if s else 0.0


def cascade_phases(corpus, seed: int) -> dict:
    """µs per page of each cascade phase, over a seeded sample of docs,
    through the same ``Rulesets.translate`` and ``_Munger`` phase methods
    the operator calls."""
    rs = load_rulesets()
    m = _Munger(rs)
    docs = [d for d in corpus.docs if len(d[1]) <= MONSTER_THRESHOLD]
    random.Random(seed).shuffle(docs)
    t = dict.fromkeys(("r5", "r3", "r4", "r6", "r7_14"), 0.0)
    pages = tokens = hot = 0
    clock = time.perf_counter
    for _, spans in docs:
        texts = [s.text for s in spans if s.kind == "page"]
        if not texts:
            continue
        t0 = clock()
        lines = [rs.translate(x).split("\n") for x in texts]
        t1 = clock()
        lines, _ = m.strip_headers(lines)
        t2 = clock()
        lines = [[ln for ln in page if not m.is_pagenum(ln)] for page in lines]
        t3 = clock()
        lines = [m.rejoin(page) for page in lines]
        t4 = clock()
        metrics = dict.fromkeys(("tokens_total", "tokens_in_dict", "tokens_corrected"), 0)
        for page in lines:
            for ln in page:
                m.correct_line(ln, metrics)
        t5 = clock()
        for k, a, b in (("r5", t0, t1), ("r3", t1, t2), ("r4", t2, t3),
                        ("r6", t3, t4), ("r7_14", t4, t5)):
            t[k] += b - a
        for page in lines:
            for ln in page:
                toks = ln.split()
                tokens += len(toks)
                hot += sum(1 for x in toks if x in m._hot_skip)
        pages += len(texts)
        if pages >= SAMPLE_PAGES:
            break
    out = {f"cascade.{PHASES[k]}_us_per_page": v / pages * 1e6 for k, v in t.items()}
    out["cascade.hot_skip_ratio"] = hot / tokens
    return out


def extractor_spans(corpus, seed: int) -> dict:
    spans = [s for _, ss in corpus.docs for s in ss if s.kind in ("html", "pdf")]
    random.Random(seed).shuffle(spans)
    out = {}
    for kind, fn in (("html", extract_html_stream), ("pdf", parse_layout_stream)):
        sample = [s.text for s in spans if s.kind == kind][:SAMPLE_SPANS]
        t0 = time.perf_counter()
        for text in sample:
            fn(text)
        out[f"extract.{kind}_us_per_span"] = (time.perf_counter() - t0) / len(sample) * 1e6
    return out


def operator_layers(spark, wl) -> dict:
    """Each operator called on its own over the salted input of the docs a
    call processes, into the noop sink, next to an identity
    ``mapInArrow`` over the same rows (the boundary's own cost)."""
    out = {}
    todo = wl.input_df(spark).where(F.col("doc_id").isin(wl.call_docs))
    salted = _salted(todo, spark)
    small = salted.where(F.size("spans") <= MONSTER_THRESHOLD)
    spark.sparkContext.setJobGroup("layers", "operator layers")
    identity = _noop(small.mapInArrow(lambda it: it, small.schema))
    if wl.kind == "munge":
        bc = broadcast_rulesets(spark)
        out["munge.op_s"] = _noop(munge(small, spark, rulesets_bc=bc))
        out["munge.arrow_identity_s"] = identity
        big = salted.where(F.size("spans") > MONSTER_THRESHOLD)
        n_big = len([d for d in wl.corpus.long_doc_ids() if d in set(wl.call_docs)])
        if n_big:
            out["chunked.op_s"] = _noop(munge_chunked(big, spark, rulesets_bc=bc))
            out["chunked.single_pass_s"] = _noop(munge(big, spark, rulesets_bc=bc))
        out["chunked.docs"] = n_big
    else:
        out["extract.op_s"] = _noop(extract(small, spark))
        out["extract.arrow_identity_s"] = identity
    return out


def table_layers(spark, wl, last_call: dict) -> dict:
    """Scan, repartition and the pipeline's table reads and resume path,
    each on its own, against the output table the last call left."""
    spark.sparkContext.setJobGroup("layers", "table layers")
    inp = wl.input_df(spark)
    path = str(wl.out)
    done = spark.read.parquet(path).select("doc_id").distinct()
    out = {
        "catalog.scan_s": _noop(inp),
        "catalog.output_bytes": last_call["written_bytes"],
        "catalog.output_files": last_call["written_files"],
        "pipeline.repartition_s": _noop(_salted(inp, spark)),
        "pipeline.read_output_s": _noop(read_output(spark, path)),
        "pipeline.resume_antijoin_s": _noop(inp.join(done, "doc_id", "left_anti")),
        "pipeline.docs_processed": last_call["totals"]["docs_processed"],
    }
    us = "munge_us" if wl.kind == "munge" else "extract_us"
    doc_us = [
        r[us]
        for r in read_output(spark, path)
        .where(F.col("run_id") == last_call["run_id"])
        .select(us)
        .collect()
    ]
    p = wl.kind
    out[f"{p}.doc_us_p50"] = _pct(doc_us, 0.50)
    out[f"{p}.doc_us_p99"] = _pct(doc_us, 0.99)
    if p == "munge":
        out["munge.doc_us_max"] = float(max(doc_us))
        out["pipeline.lineage_rebuild_s"] = timed(rebuild_state, spark, path)[1]
    # a rerun over the complete output table: resume skips every doc
    rerun, out["pipeline.resume_noop_s"] = timed(wl.entry, spark, "rerun")
    out["pipeline.docs_skipped"] = len(wl.corpus.docs) - rerun.docs_processed
    return out


def _session(ctx, master=None, event_log=None):
    return get_spark(master=master, extra_conf=spark_conf(ctx["work"], event_log))


def traced(ctx) -> tuple[dict, dict]:
    wl, seconds, seed = ctx["wl"], ctx["seconds"], ctx["report"]["seed"]
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    alu = [probes.calib_alu_s()]

    # a cold session, warmed up, then calls with tracing off
    spark, metrics["session.start_s"] = timed(_session, ctx)
    if wl.kind == "munge":
        metrics["rulesets.load_s"] = timed(broadcast_rulesets, spark, load_rulesets())[1]
    metrics["session.warm_s"] = timed(wl.warm_up, spark)[1]
    warm_up_calls(spark, wl)
    plain = measure_calls(spark, wl, seconds / 2, prefix="plain")
    spark.stop()

    # the same calls in a second session of the warmed JVM, with the
    # Spark event log on, then each layer on its own
    log_dir = ctx["work"] / "events"
    spark = _session(ctx, event_log=log_dir)
    wl.setup(spark)
    wl.reset()
    wl.entry(spark, "warm")  # the new session's first call, untimed as above
    host = probes.HostWindow()
    calib = [probes.calib_spark_s(spark)]
    calls = measure_calls(spark, wl, seconds)
    spark.sparkContext.setJobGroup("check", "output check")
    verdict = check(spark, wl, calls)
    metrics.update(table_layers(spark, wl, calls[-1]))
    metrics.update(operator_layers(spark, wl))
    calib.append(probes.calib_spark_s(spark))
    h = host.close()  # before stop: stopping orphans the Python workers
    spark.stop()  # flushes the event log
    for k, v in probes.event_log_totals(log_dir).get("call", {}).items():
        metrics[f"spark.{k}"] = v / len(calls)
    metrics["trace.run_s"] = statistics.median(c["run_s"] for c in calls)
    metrics["trace.untraced_run_s"] = statistics.median(c["run_s"] for c in plain)
    metrics["trace.overhead_s"] = metrics["trace.run_s"] - metrics["trace.untraced_run_s"]

    if wl.kind == "munge":
        metrics.update(cascade_phases(wl.corpus, seed))
    else:
        metrics.update(extractor_spans(wl.corpus, seed))

    if wl.name == "munge_corpus":
        # 1 -> nproc scaling: one call on a single core
        spark = _session(ctx, master="local[1]")
        wl.setup(spark)
        one = measure_calls(spark, wl, 0, prefix="one", min_calls=1)[0]["run_s"]
        spark.stop()
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        metrics["scaling.efficiency_1to4"] = one / (cores * metrics["trace.untraced_run_s"])

    alu.append(probes.calib_alu_s())
    metrics["host.calib_alu_s"] = max(alu)
    metrics["host.calib_spark_s"] = max(calib)
    metrics["host.foreign_busy_cores"] = h["foreign_busy_cores"]
    metrics["host.steal_cores"] = h["steal_cores"]
    ctx["report"].update(calls=calls, plain_calls=plain)
    return metrics, verdict
