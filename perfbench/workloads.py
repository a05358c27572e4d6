"""The three workloads: what one operation is, how inputs are prepared,
and how each output is checked.

Every workload exposes the same small interface to ``run.py``
(``Workload`` holds the defaults):

- ``prepare(work)``: generate the inputs into a fresh directory. ``run.py``
  times this several times and takes the median for ``setup_s``.
- ``load()``: load the base tables, once; part of ``setup_s``.
- ``warmup()``: the warm-up operations, also part of ``setup_s``.
- ``rotation()``: one fixed sequence of operations, as zero-argument
  builders; ``run.py`` calls each builder just before the operation, so
  per-operation inputs are generated outside the timed region. The run
  measures whole rotations until ``--seconds`` have been spent in
  operations, so every run holds the same mix of operation types.
- ``stored()``: bytes and rows of the live snapshots, or ``None``.
- ``written_dirs()``: directories whose new files count as written by a
  layer (``table``, ``bucketed``, ``export``).

An operation is an ``Op``: ``run()`` is the timed call into the engine's
public API, ``check(result)`` runs afterwards, outside the timed region,
and returns the list of problems found (empty when the output is right).
Only the query-mix warm-up pass, which is not measured, goes unchecked.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np

import inputs
import model

# Formats of the bulk-load rotation: (format, declared descriptor, validate)
BULK_FORMATS = [("csv", True, True), ("csv.gz", False, False), ("ndjson", True, True), ("parquet", False, False)]
BULK_ROWS = 15_000
ORDERS_ROWS = 25_000
BATCH_ROWS = 1_000
UPSERT_EXISTING_SHARE = 0.7
NUM_BUCKETS = 16
# a merge rotation runs the three op types twice, so the median sees two
# operations of each type (with one cycle it rests on a single flat upsert)
MERGE_CYCLES = 2
QUERY_SF = "sf0.01"
EXT_KEYS_PER_RUN = 3
REGISTRY_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]] | None  # None: output not checked
    rows: int = 0
    bytes: int = 0


class Workload:
    """Defaults: no base tables, the warm-up is one rotation, nothing stored."""

    def load(self) -> None:
        pass

    def warmup(self) -> list[Callable[[], Op]]:
        return self.rotation()

    def stored(self):
        return None

    def written_dirs(self) -> dict[str, list[str]]:
        return {}


class BulkLoad(Workload):
    """Full overwrite of a lineitem slice plus an ordered CSV export; the
    source format rotates through CSV (declared, validated), CSV.gz
    (inferred), NDJSON (declared, validated) and Parquet (inferred)."""

    name = "bulk-load"

    def __init__(self, ctx):
        self.ctx = ctx
        self.con = duckdb.connect()

    def prepare(self, work: str) -> list[dict]:
        self.work = work
        self.warehouse = os.path.join(work, "warehouse")
        self.export_dir = os.path.join(work, "export")
        src = os.path.join(work, "inputs")
        os.makedirs(src)
        formats = [f for f, _, _ in BULK_FORMATS]
        self.inputs, self.tables = inputs.lineitem_variants(
            self.ctx.data_dir, src, self.ctx.seed, BULK_ROWS, formats
        )

        self.model = model.TableModel(self.con, "lineitem", self.tables[0].schema, ["l_rowkey"])
        self.descriptor = inputs.descriptor(self.tables[0].schema)
        return self.inputs

    def _op(self, i: int) -> Op:
        fmt, declared, validate = BULK_FORMATS[i]
        res, tbl = self.inputs[i], self.tables[i]
        config = {
            "resource_path": res["path"],
            "resource_format": "csv" if fmt == "csv.gz" else fmt,
            "table_name": "lineitem",
            "warehouse": self.warehouse,
            "method": "overwrite",
            "validate": validate,
            "export": {"path": self.export_dir, "format": "csv"},
        }
        if declared:
            config["schema_descriptor"] = self.descriptor

        def check(report: dict) -> list[str]:
            self.model.overwrite(tbl)
            errors = self.model.check(model.table_files(report["table"]))
            return errors + model.check_export(report["export"], res["rows"])

        return Op(f"overwrite-{fmt}", "overwrite", lambda: self.ctx.pipeline.run(self.ctx.spark, config),
                  check, res["rows"], res["bytes"])

    def rotation(self) -> list[Callable[[], Op]]:
        return [functools.partial(self._op, i) for i in range(len(BULK_FORMATS))]

    def stored(self):
        return _stored(self.con, [os.path.join(self.warehouse, "lineitem")])

    def written_dirs(self) -> dict[str, list[str]]:
        return {"table": [self.warehouse], "export": [self.export_dir]}


class IncrementalMerge(Workload):
    """Small writes into loaded orders tables: flat upsert, bucketed upsert
    and append, in that rotation, each of a seeded ~1k-row batch."""

    name = "incremental-merge"
    kinds = ["upsert", "bucketed_upsert", "append"]

    def __init__(self, ctx):
        self.ctx = ctx
        self.con = duckdb.connect()

    def _config(self, path: str, table: str, method: str) -> dict:
        config = {"resource_path": path, "table_name": table, "warehouse": self.warehouse,
                  "method": method, "unique_keys": ["o_orderkey"]}
        if table == "orders_bucketed":
            config["num_buckets"] = NUM_BUCKETS
        return config

    def prepare(self, work: str) -> list[dict]:
        self.work = work
        self.warehouse = os.path.join(work, "warehouse")
        src = os.path.join(work, "inputs")
        os.makedirs(src)
        self.base, self.base_tbl = inputs.orders_base(self.ctx.data_dir, src, self.ctx.seed, ORDERS_ROWS)
        self.batches = inputs.OrdersBatches(self.base_tbl, src, self.ctx.seed, BATCH_ROWS, UPSERT_EXISTING_SHARE)
        self.n_batches = 0
        return [self.base]

    def load(self) -> None:
        """Overwrite-load the base slice into the flat and bucketed tables."""
        self.models = {}
        for name in ("orders_flat", "orders_bucketed"):
            report = self.ctx.pipeline.run(self.ctx.spark, self._config(self.base["path"], name, "overwrite"))
            self.models[name] = model.TableModel(self.con, name, self.base_tbl.schema, ["o_orderkey"])
            self.models[name].overwrite(self.base_tbl)
            errors = self.models[name].check(model.table_files(report["table"]))
            if errors:
                raise RuntimeError(f"base load of {name}: {'; '.join(errors)}")

    def _op(self, kind: str) -> Op:
        method = "append" if kind == "append" else "upsert"
        table = "orders_bucketed" if kind == "bucketed_upsert" else "orders_flat"
        res, tbl = self.batches.batch(self.n_batches, method)
        self.n_batches += 1
        config = self._config(res["path"], table, method)

        def check(report: dict) -> list[str]:
            getattr(self.models[table], method)(tbl)
            return self.models[table].check(model.table_files(report["table"]))

        return Op(f"{kind}-{self.n_batches - 1:04d}", kind,
                  lambda: self.ctx.pipeline.run(self.ctx.spark, config), check, res["rows"], res["bytes"])

    def warmup(self) -> list[Callable[[], Op]]:
        return [functools.partial(self._op, kind) for kind in self.kinds]

    def rotation(self) -> list[Callable[[], Op]]:
        return [functools.partial(self._op, kind) for kind in self.kinds * MERGE_CYCLES]

    def stored(self):
        return _stored(self.con, [os.path.join(self.warehouse, t) for t in self.models])

    def written_dirs(self) -> dict[str, list[str]]:
        return {"table": [os.path.join(self.warehouse, "orders_flat")],
                "bucketed": [os.path.join(self.warehouse, "orders_bucketed")]}


class QueryMix(Workload):
    """Registry queries one after another: q01-q17 plus ext keys drawn with
    the seed, each timed as construct (``fn()``) plus execute (noop write)."""

    name = "query-mix"

    def __init__(self, ctx):
        from aircan_spark.queries import ORACLES, QUERIES

        self.ctx, self.queries, self.oracles = ctx, QUERIES, ORACLES
        core = [k for k in QUERIES if k[0] == "q"]
        pool = sorted(k for k in QUERIES if k.startswith("ext_") and k in ORACLES and k in EXT_POOL)
        rng = np.random.default_rng([ctx.seed, 3000])
        self.keys = core + [pool[j] for j in sorted(rng.choice(len(pool), EXT_KEYS_PER_RUN, replace=False))]

    def prepare(self, work: str) -> list[dict]:
        self.sf_dir = os.path.join(work, QUERY_SF)
        copied = inputs.copy_tables(os.path.join(self.ctx.data_root, QUERY_SF), self.sf_dir, REGISTRY_TABLES)
        self.oracle = duckdb.connect()
        for t in REGISTRY_TABLES:
            self.oracle.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'")
        return copied

    def _op(self, key: str, checked: bool = True) -> Op:
        fn, rec, spark, sf_dir = self.queries[key], self.ctx.rec, self.ctx.spark, self.sf_dir

        def run():
            with rec.span(f"construct {key}", "queries.construct"):
                df = fn(spark, sf_dir)
            with rec.span(f"execute {key}", "queries.execute"):
                df.write.format("noop").mode("overwrite").save()
            return df

        def check(df) -> list[str]:
            got = df.toPandas()
            sql = self.oracles.get(key)
            return model.check_query(got, self.oracle, sql, len(got) if sql else df.count())

        return Op(key, "query", run, check if checked else None)

    def warmup(self) -> list[Callable[[], Op]]:
        # the warm-up pass is not measured; collecting and comparing its
        # results would add seconds of set-up to every run
        return [functools.partial(self._op, k, False) for k in self.keys]

    def rotation(self) -> list[Callable[[], Op]]:
        return [functools.partial(self._op, k) for k in self.keys]


def _stored(con: duckdb.DuckDBPyConnection, tables: list[str]):
    files = [f for t in tables for f in model.table_files(t)]
    size = sum(os.path.getsize(f) for f in files)
    rows = con.execute(
        "SELECT count(*) FROM read_parquet([" + ", ".join(f"'{f}'" for f in files) + "], union_by_name=true)"
    ).fetchone()[0]
    return size, rows


# The query-mix draws its ext keys from this pool: ext keys with a DuckDB
# oracle that matched it and ran (construct plus execute, warm) in 0.3 to
# 0.6 s at sf0.01 on a 4-core host, out of a probe of about 100 of the
# registry's ext keys. Keys close in cost keep the seed's draw from moving
# a run's median.
EXT_POOL = {
    "ext_ab_test", "ext_argminmax", "ext_average_precision", "ext_benford_audit",
    "ext_competing_risks", "ext_cross_lang_dupes", "ext_curation_funnel",
    "ext_dispersion_index", "ext_dup_rate_by_source", "ext_embedding_anisotropy",
    "ext_event_features", "ext_event_sequences", "ext_forward_fill", "ext_integrity_checksums",
    "ext_iqr_outliers", "ext_jarque_bera", "ext_join_audit", "ext_kendall_w",
    "ext_large_orders", "ext_late_orders", "ext_mode_by_group", "ext_moving_avg",
    "ext_ordering_audit", "ext_pacf", "ext_page_trend", "ext_palma_ratio",
    "ext_pearson_residuals", "ext_periodogram", "ext_poisson_gof", "ext_pricing_summary",
    "ext_pvm_decomposition", "ext_quantile_buckets", "ext_receivables_aging", "ext_reconcile",
    "ext_repetition_stats", "ext_ri_check", "ext_rolling_distinct", "ext_running_revenue",
    "ext_sessionize", "ext_set_ops", "ext_skew_audit", "ext_sourcing_risk",
    "ext_spectral_flatness", "ext_sqltext_rollup_grouping", "ext_stream_enrich",
    "ext_supplier_volume", "ext_taylors_law", "ext_top_customers", "ext_transitions",
    "ext_trending_topk", "ext_truncation_loss", "ext_vif", "ext_western_electric",
    "ext_wilcoxon_signed_rank", "ext_zipf_fit",
}

WORKLOADS = {w.name: w for w in (BulkLoad, IncrementalMerge, QueryMix)}
