"""The benchmark's workloads: each drives one public pipeline entry point
over a seeded corpus and checks the output table against the oracle.

- ``munge_corpus``: a fresh ``run_pipeline`` over generator volumes plus
  a tail of long volumes above the 512-span monster threshold, so both
  the single-pass ``mapInArrow`` operator and ``operators/chunked.py``
  run. The cascade and the Python boundary do most of the work.
- ``extract_web``: a fresh ``run_extract_pipeline`` over
  ``generate_web_corpus`` documents. Same stage shell (scan, salted
  repartition, output and lineage writes), but the HTML/PDF extractor
  does the work; rulesets, cascade and chunked path are idle.
- ``munge_resume``: ``run_pipeline`` on the ``munge_corpus`` input
  against an output table that already holds ~95% of the docs (built
  once per run, restored before every call). Only short volumes remain,
  so the done-set read, the left-anti join and the lineage read-back,
  i.e. fixed cost, dominate.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from pyspark.sql import functions as F

from datamunging_spark.operators.extract import extract
from datamunging_spark.operators.munge import METRIC_FIELDS, munge
from datamunging_spark.oracle.extract import EXTRACT_METRIC_FIELDS
from datamunging_spark.pipeline import (
    STATE_SUFFIX,
    read_output,
    run_extract_pipeline,
    run_pipeline,
)
from datamunging_spark.rulesets.loader import broadcast_rulesets

from inputs import Corpus
from probes import tree_cpu_s

WARMUP_DOCS = 8
MIN_CALLS = 2
WARM_CALLS = 3


def dir_bytes(*dirs: Path) -> tuple[int, int]:
    """(bytes, files) of the data files under the given table dirs."""
    files = [p for d in dirs if d.is_dir() for p in d.rglob("*") if p.is_file()]
    data = [p for p in files if not p.name.startswith((".", "_"))]
    return sum(p.stat().st_size for p in data), len(data)


class Pipeline:
    """A fresh pipeline call into an empty output table."""

    name = ""
    kind = ""  # "munge" or "extract"

    def __init__(self, corpus: Corpus, expected: dict, work: Path):
        self.corpus = corpus
        self.expected = expected  # doc_id -> the oracle's (spans, metrics)
        self.out = work / "out"
        self.state = work / ("out" + STATE_SUFFIX)
        self.call_docs = [d for d, _ in corpus.docs]

    # ---- set-up ---------------------------------------------------------
    def input_df(self, spark):
        return spark.read.parquet(str(self.corpus.path))

    def warm_up(self, spark) -> None:
        """Boot the Python workers and load the operator in each of them,
        on a few short docs spread over every core."""
        ids = [d for d, s in self.corpus.docs if len(s) <= 10][:WARMUP_DOCS]
        tiny = self.input_df(spark).where(F.col("doc_id").isin(ids))
        tiny = tiny.repartition(spark.sparkContext.defaultParallelism)
        op = munge if self.kind == "munge" else extract
        op(tiny, spark).write.format("noop").mode("overwrite").save()

    def setup(self, spark) -> None:
        """What a user pays on every job besides ``get_spark``."""
        if self.kind == "munge":
            broadcast_rulesets(spark)
        self.warm_up(spark)

    def prepare(self, spark) -> None:
        """Untimed state the calls start from (none for a fresh call)."""

    def reset(self) -> None:
        for d in (self.out, self.state):
            shutil.rmtree(d, ignore_errors=True)

    # ---- the measured call ----------------------------------------------
    def _call(self, spark, df, out: Path, run_id: str):
        run = run_pipeline if self.kind == "munge" else run_extract_pipeline
        return run(spark, df, str(out), run_id)

    def entry(self, spark, run_id: str):
        return self._call(spark, self.input_df(spark), self.out, run_id)

    def units(self, result) -> int:
        """Pages processed: page spans for munge, html+pdf spans for
        extraction."""
        if self.kind == "munge":
            return result.pages
        kinds = ("html", "pdf")
        todo = set(self.call_docs)
        return sum(
            1 for d, spans in self.corpus.docs if d in todo for s in spans if s.kind in kinds
        )

    def written(self) -> tuple[int, int]:
        return dir_bytes(self.out, self.state)

    # ---- checks ---------------------------------------------------------
    def expected_totals(self) -> dict:
        ms = [self.expected[d][1] for d in self.call_docs]
        if self.kind == "munge":
            fields = ("pages", "tokens_corrected")
        else:
            fields = ("html_blocks_kept", "pdf_lines_kept", "chars_out")
        out = {f: sum(m[f] for m in ms) for f in fields}
        out["docs_processed"] = len(ms)
        return out

    def result_totals(self, result) -> dict:
        return {f: getattr(result, f) for f in self.expected_totals()}

    def check_output(self, spark) -> tuple[int, list[str]]:
        """(docs attempted, failures): each expected doc must appear once
        in ``read_output`` with the oracle's spans and metrics."""
        fields = METRIC_FIELDS if self.kind == "munge" else EXTRACT_METRIC_FIELDS
        cols = ["doc_id", "spans", *fields]
        rows = read_output(spark, str(self.out)).select(cols).toArrow().to_pylist()
        seen: dict[str, int] = {}
        failures = []
        for r in rows:
            d = r["doc_id"]
            seen[d] = seen.get(d, 0) + 1
            if d not in self.expected:
                failures.append(f"{d}: not in the input")
                continue
            spans, metrics = self.expected[d]
            got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            if got != spans:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(got, spans)) if a != b),
                    min(len(got), len(spans)),
                )
                failures.append(f"{d}: spans differ from the oracle at span {diff}")
            bad = [f for f in fields if r[f] != metrics[f]]
            if bad:
                failures.append(f"{d}: metrics differ from the oracle: {bad}")
        failures += [f"{d}: {n} rows after read_output" for d, n in seen.items() if n > 1]
        failures += [f"{d}: missing" for d in self.expected if d not in seen]
        return len(self.expected), failures


class MungeCorpus(Pipeline):
    name = "munge_corpus"
    kind = "munge"


class ExtractWeb(Pipeline):
    name = "extract_web"
    kind = "extract"


class MungeResume(Pipeline):
    name = "munge_resume"
    kind = "munge"

    def __init__(self, corpus: Corpus, expected: dict, work: Path):
        super().__init__(corpus, expected, work)
        self.done_docs, self.call_docs = corpus.resume_split()
        self.prepared = work / "prepared"

    def prepare(self, spark) -> None:
        if self.prepared.is_dir():
            return
        super().reset()
        done = self.input_df(spark).where(F.col("doc_id").isin(self.done_docs))
        self._call(spark, done, self.out, "prepared")
        shutil.rmtree(self.prepared, ignore_errors=True)
        self.prepared.mkdir(parents=True)
        shutil.move(str(self.out), self.prepared / self.out.name)
        shutil.move(str(self.state), self.prepared / self.state.name)

    def reset(self) -> None:
        super().reset()
        shutil.copytree(self.prepared / self.out.name, self.out)
        shutil.copytree(self.prepared / self.state.name, self.state)

    def written(self) -> tuple[int, int]:
        b, n = super().written()
        b0, n0 = dir_bytes(self.prepared)
        return b - b0, n - n0


def spark_conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def warm_up_calls(spark, wl) -> None:
    """Untimed: the workload's prepared state, then WARM_CALLS calls of
    its entry point. The JVM takes about three full calls to finish
    JIT-compiling the pipeline's hot paths; until then a call runs ~25%
    slower and uses ~40% more CPU."""
    wl.prepare(spark)
    for i in range(WARM_CALLS):
        wl.reset()
        wl.entry(spark, f"warm{i}")


def measure_calls(
    spark, wl, seconds: float, prefix: str = "call", min_calls: int = MIN_CALLS
) -> list[dict]:
    """Call the workload's entry point back to back for ``seconds``, and
    at least ``min_calls`` times. Resetting the output table sits outside
    the timing."""
    expected = wl.expected_totals()
    calls = []
    deadline = time.monotonic() + seconds
    while True:
        wl.reset()
        run_id = f"{prefix}{len(calls)}"
        spark.sparkContext.setJobGroup(prefix, run_id)
        cpu0 = tree_cpu_s()
        result, run_s = timed(wl.entry, spark, run_id)
        cpu_s = tree_cpu_s() - cpu0
        written, files = wl.written()
        totals = wl.result_totals(result)
        calls.append(
            {
                "run_id": run_id,
                "run_s": run_s,
                "cpu_s": cpu_s,
                "units": wl.units(result),
                "written_bytes": written,
                "written_files": files,
                "totals": totals,
                "totals_ok": totals == expected,
            }
        )
        if time.monotonic() >= deadline and len(calls) >= min_calls:
            return calls


def check(spark, wl, calls: list[dict]) -> dict:
    """Outside any timed region: the last call's whole output table, doc
    by doc, and every call's run totals."""
    attempted, failures = wl.check_output(spark)
    failed_docs = {f.split(":", 1)[0] for f in failures}
    for c in calls:
        if not c["totals_ok"]:
            failures.append(
                f"{c['run_id']}: run totals {c['totals']} != oracle {wl.expected_totals()}"
            )
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failed_docs),
        "failures": failures,
    }


WORKLOADS = {w.name: w for w in (MungeCorpus, ExtractWeb, MungeResume)}
