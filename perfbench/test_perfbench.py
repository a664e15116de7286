"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCALE = "0.02"


def _bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,section", [
    ("extract_web", 0, "end_to_end"),
    ("munge_corpus", 1, "per_layer"),
    ("munge_resume", 0, "end_to_end"),  # runnable, not in BENCHMARK.json
])
def test_printed_metrics_are_declared(workload, trace, section):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec[section]}
    result = _bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(declared)
    for name, m in result["metrics"].items():
        assert m["unit"] == declared[name], name
        assert isinstance(m["value"], (int, float)), name


def test_declared_workloads_exist():
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_refuses_a_directory_without_the_engine(tmp_path):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "munge_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    sys.path[:0] = [str(ROOT), str(HERE)]
    from run import pin_environment

    pin_environment(work)
    from datamunging_spark.session import get_spark
    from workloads import spark_conf

    spark = get_spark(master="local[2]", extra_conf=spark_conf(work))
    yield spark, work
    spark.stop()


def _corrupt(table_dir: Path, edit) -> None:
    """Rewrite a parquet table in place with ``edit`` applied to its rows."""
    files = sorted(p for p in table_dir.glob("*.parquet"))
    table = pq.read_table(files)
    rows = edit(table.to_pylist())
    for p in files:
        os.remove(p)
    pq.write_table(table.from_pylist(rows, schema=table.schema), table_dir / "part-0.parquet")


@pytest.mark.parametrize("workload", ["munge_corpus", "extract_web"])
def test_check_catches_a_corrupted_output(spark_env, workload):
    spark, work = spark_env
    import inputs
    from workloads import WORKLOADS, check, measure_calls

    kind = WORKLOADS[workload].kind
    corpus = inputs.load_corpus(kind, 3, float(SCALE), ROOT, work / "cache")
    wl = WORKLOADS[workload](corpus, inputs.expected_outputs(corpus, 2), work / workload)
    calls = measure_calls(spark, wl, 0, min_calls=1)
    assert check(spark, wl, calls)["correct"]

    ids = sorted(wl.expected)
    altered, dropped = ids[0], ids[1]

    def edit(rows):
        for r in rows:
            if r["doc_id"] == altered:
                r["spans"][0]["text"] += " x"
        return [r for r in rows if r["doc_id"] != dropped]

    _corrupt(wl.out, edit)
    verdict = check(spark, wl, calls)
    assert not verdict["correct"]
    assert verdict["failed"] == 2
    assert any(f.startswith(f"{altered}: spans differ") for f in verdict["failures"])
    assert f"{dropped}: missing" in verdict["failures"]
