"""Seeded benchmark inputs and the oracle's expected outputs.

Inputs are a pure function of (kind, seed, scale) and of the generator
sources, so they are cached on disk under that key: a later run with the
same seed reads the parquet back instead of regenerating it. The engine
only ever sees the parquet files.

Expected outputs come from ``datamunging_spark.oracle`` (the executable
spec), computed fresh in every run in a small process pool.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from datamunging_spark.generator import generate_corpus, make_volume
from datamunging_spark.generator_web import generate_web_corpus
from datamunging_spark.oracle.munge import Span

# Sizes at scale 1, chosen so one pipeline call takes a few seconds on
# 4 cores and several calls fit in one measurement window.
MUNGE_PAGES = 4500  # pages drawn from generate_corpus volumes
LONG_VOLUMES = 3  # concatenated volumes above the monster threshold
LONG_SPANS = (600, 780)
MONSTER_THRESHOLD = 512  # run_pipeline's default routing threshold
WEB_DOCS = 2500
RESUME_TODO_SHARE = 0.05  # share of docs the resume workload still has to do
PARQUET_FILES = 8

SPANS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

TEXT_KINDS = {"munge": ("page",), "extract": ("html", "pdf")}


@dataclass
class Corpus:
    kind: str  # "munge" or "extract"
    path: Path  # directory of parquet files
    docs: list[tuple[str, list[Span]]]
    input_bytes: int

    @property
    def text_spans(self) -> int:
        kinds = TEXT_KINDS[self.kind]
        return sum(1 for _, spans in self.docs for s in spans if s.kind in kinds)

    def long_doc_ids(self) -> list[str]:
        return [d for d, spans in self.docs if len(spans) > MONSTER_THRESHOLD]

    def resume_split(self) -> tuple[list[str], list[str]]:
        """(done, todo) doc ids for the resume workload: the last short
        volumes, in doc order, are left to do."""
        short = [d for d, spans in self.docs if len(spans) <= 10]
        todo = set(short[-max(1, round(len(self.docs) * RESUME_TODO_SHARE)) :])
        done = [d for d, _ in self.docs if d not in todo]
        return done, [d for d, _ in self.docs if d in todo]


def _source_hash(root: Path) -> str:
    h = hashlib.sha256()
    for rel in (
        "datamunging_spark/generator.py",
        "datamunging_spark/generator_web.py",
        "datamunging_spark/oracle/munge.py",
    ):
        h.update((root / rel).read_bytes())
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()[:12]


def _long_volumes(seed: int, n: int) -> list[tuple[str, list[Span]]]:
    """Volumes above the monster threshold, each the concatenation of
    generator monster volumes, cut to a seeded length in LONG_SPANS."""
    rng = random.Random(seed ^ 0x5EED)
    out = []
    for i in range(n):
        doc_id = f"mdp.3902{i:010d}"
        target = rng.randint(*LONG_SPANS)
        spans: list[Span] = []
        while len(spans) < target:
            for s in make_volume(rng, i, monster=True)[1]:
                off = len(spans)
                ref = f"{doc_id}/media/{off:05d}.bin" if s.media_ref else ""
                spans.append(Span(s.kind, s.text, ref, off))
        out.append((doc_id, spans[:target]))
    return out


def _munge_docs(seed: int, scale: float) -> list[tuple[str, list[Span]]]:
    target = max(1, int(MUNGE_PAGES * scale))
    # ~15 pages per generated volume; draw a surplus, shuffle, and keep
    # the prefix that reaches the page target, so every seed carries the
    # same amount of cascade work
    pool = generate_corpus(seed=seed, n_docs=max(10, target // 12))
    random.Random(seed).shuffle(pool)
    docs, pages = [], 0
    for doc in pool:
        if pages >= target:
            break
        docs.append(doc)
        pages += sum(1 for s in doc[1] if s.kind == "page")
    docs.sort(key=lambda d: d[0])
    return docs + _long_volumes(seed, max(1, round(LONG_VOLUMES * min(scale, 1.0))))


def _rows(docs) -> list[dict]:
    return [{"doc_id": d, "spans": [s._asdict() for s in spans]} for d, spans in docs]


def _write(docs, path: Path) -> None:
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    n = max(1, min(PARQUET_FILES, len(docs)))
    for i in range(n):
        part = docs[i * len(docs) // n : (i + 1) * len(docs) // n]
        pq.write_table(
            pa.Table.from_pylist(_rows(part), schema=SPANS_SCHEMA),
            tmp / f"part-{i:03d}.parquet",
        )
    try:
        tmp.rename(path)
    except OSError:  # a concurrent run with the same key got there first
        shutil.rmtree(tmp, ignore_errors=True)


def _read(path: Path) -> list[tuple[str, list[Span]]]:
    rows = pq.read_table(path, schema=SPANS_SCHEMA).to_pylist()
    return [(r["doc_id"], [Span(**s) for s in r["spans"]]) for r in rows]


def load_corpus(kind: str, seed: int, scale: float, root: Path, cache: Path) -> Corpus:
    key = f"{kind}-s{seed}-x{scale:g}-{_source_hash(root)}"
    path = cache / key
    if path.is_dir():
        docs = _read(path)
    else:
        if kind == "munge":
            docs = _munge_docs(seed, scale)
        else:
            docs = generate_web_corpus(seed=seed, n_docs=max(4, int(WEB_DOCS * scale)))
        cache.mkdir(parents=True, exist_ok=True)
        _write(docs, path)
    size = sum(f.stat().st_size for f in path.glob("*.parquet"))
    return Corpus(kind, path, docs, size)


# ---------------------------------------------------------------- oracle


def _oracle_chunk(kind: str, docs) -> dict:
    if kind == "munge":
        from datamunging_spark.oracle.munge import munge_document
        from datamunging_spark.rulesets.loader import load_rulesets

        rs = load_rulesets()
        out = {}
        for doc_id, spans in docs:
            spans_out, m = munge_document(doc_id, spans, rs)
            out[doc_id] = ([tuple(s) for s in spans_out], dict(vars(m)))
        return out
    from datamunging_spark.oracle.extract import extract_doc

    out = {}
    for doc_id, spans in docs:
        spans_out, m = extract_doc([s._asdict() for s in spans])
        out[doc_id] = (
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans_out],
            m,
        )
    return out


def expected_outputs(corpus: Corpus, workers: int) -> dict:
    """doc_id -> (span tuples, metric dict), from the oracle, in a spawned
    process pool (before Spark starts, so nothing else competes)."""
    n = workers * 2
    chunks = [(corpus.kind, corpus.docs[i::n]) for i in range(n)]
    with multiprocessing.get_context("spawn").Pool(workers) as pool:
        parts = pool.starmap(_oracle_chunk, chunks)
    out = {}
    for p in parts:
        out.update(p)
    return out


def describe(corpus: Corpus) -> dict:
    return {
        "docs": len(corpus.docs),
        "text_spans": corpus.text_spans,
        "long_docs": len(corpus.long_doc_ids()),
        "max_spans": max(len(s) for _, s in corpus.docs),
        "input_bytes": corpus.input_bytes,
        "cache_key": corpus.path.name,
    }
