"""Declared correctness queries for the ext/ operators (dedup, similarity,
text analysis, multimodal plumbing, analytics, statistics, governance)
over the TPC-H-ish + documents/embeddings tables.

SQL-expressible operators carry a DuckDB oracle; the LSH-based ones
(minhash, simhash, hyperplane buckets) are algorithm-specific and get the
weaker rows-only check plus recall tests in tests/test_ext.py.

This module is the AGGREGATOR for the per-wave modules the former
16.7k-line monolith was split into (queries_w01..w50): importing it
imports every wave in historical order (filling the shared
EXT_QUERIES/EXT_ORACLES registries with identical content and insertion
order) and re-exports every wave-module name, so existing imports —
`from aircan_spark.ext.queries import ext_foo` — keep working unchanged.
"""

from __future__ import annotations

import importlib

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import (  # noqa: F401
    EXT_ORACLES,
    EXT_QUERIES,
    _load,
    _t,
)

for _i in range(1, 51):
    _m = importlib.import_module(f"aircan_spark.ext.queries_w{_i:02d}")
    globals().update(
        {_k: _v for _k, _v in vars(_m).items() if not _k.startswith("__")}
    )
del _i, _m
