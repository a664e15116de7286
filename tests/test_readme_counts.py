"""The catalog counts quoted in README.md match the query registries."""

from __future__ import annotations

import re
from pathlib import Path

from datamunging_spark.ml_ops import ML_QUERIES
from datamunging_spark.queries import RELATIONAL_QUERIES

README = Path(__file__).resolve().parent.parent / "README.md"

# every README site that quotes (total, oracle-checked)
SITES = [
    r"(\d+) queries \((\d+)\s+oracle-checked\)",
    r"\((\d+) total with ml_ops\.py; (\d+) fully oracle-checked\)",
]


def test_readme_catalog_counts():
    catalog = {**RELATIONAL_QUERIES, **ML_QUERIES}
    expected = (len(catalog), sum(sql is not None for _fn, sql in catalog.values()))
    text = README.read_text()
    for site in SITES:
        found = [tuple(map(int, m)) for m in re.findall(site, text)]
        assert found == [expected], (site, found, expected)
