"""Output check for one registry key, run outside the timed region.

Keys with a DuckDB oracle are compared with the exact rules of
`tests/oracle.py` (same column set, same pandas-dtype tags, same row count,
same order-insensitive multiset of type-tagged values — no float tolerance).
Keys without an oracle are compared with the stored schema-and-row-count
expectation in `expected.json`.
"""

from __future__ import annotations

import json
import os

from tests.oracle import (
    _DUCK_DTYPE,
    _SPARK_DTYPE,
    _dtype_tags,
    _normalize,
    duck_connection,
)

_EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


class OutputChecker:
    """Checks DataFrames against their oracle over one input directory."""

    def __init__(self, sf_dir: str, registry: dict):
        self.sf_dir = sf_dir
        self.registry = registry
        self._con = duck_connection(sf_dir)
        with open(_EXPECTED_PATH) as f:
            self.expected = json.load(f)

    def close(self) -> None:
        self._con.close()

    def check(self, key: str, sdf) -> str | None:
        """Return None when `sdf` (the key's output) is correct, else why not."""
        oracle = self.registry[key].oracle
        s_cols = list(sdf.columns)
        s_types = [f.dataType.simpleString() for f in sdf.schema]
        s_rows = [tuple(r) for r in sdf.collect()]
        if oracle is None:
            return self._check_expected(key, s_cols, s_types, len(s_rows))

        res = self._con.sql(oracle)
        d_cols = list(res.columns)
        d_types = [str(t) for t in res.types]
        d_rows = res.fetchall()
        if sorted(s_cols) != sorted(d_cols):
            return f"columns spark={sorted(s_cols)} oracle={sorted(d_cols)}"
        s_tags = _dtype_tags(s_cols, s_types, _SPARK_DTYPE)
        d_tags = _dtype_tags(d_cols, d_types, _DUCK_DTYPE)
        bad = {c: (s_tags[c], d_tags[c]) for c in s_tags if s_tags[c] != d_tags[c]}
        if bad:
            return f"dtype tags (spark, oracle) {bad}"
        if len(s_rows) != len(d_rows):
            return f"rows spark={len(s_rows)} oracle={len(d_rows)}"
        sn = _normalize(s_rows, s_cols)
        dn = _normalize(d_rows, d_cols)
        if sn != dn:
            diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            return f"values differ; first diffs {diffs}"
        return None

    def _check_expected(self, key, cols, types, n_rows) -> str | None:
        schema = dict(zip(cols, types))
        exp = self.expected.get(key)
        if exp is None:
            return f"no oracle and no stored expectation (schema {schema}, {n_rows} rows)"
        if schema != exp["schema"]:
            return f"schema {schema} != expected {exp['schema']}"
        if n_rows != exp["rows"]:
            return f"rows {n_rows} != expected {exp['rows']}"
        return None
