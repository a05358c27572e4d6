"""Seeded input generator.

Turns the TPC-H-shaped parquet tables of a testdata scale-factor directory
into the resources the workloads ingest, all under the run's own work
directory: nothing is written next to the source data, nothing is
downloaded. The same seed gives byte-identical files. Every input records
its row count and file size; the size is what ``sources.scan_ratio``
divides by.
"""

from __future__ import annotations

import gzip
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

_FRICTIONLESS = {"int": "integer", "double": "number", "string": "string", "timestamp": "datetime"}


def descriptor(schema: pa.Schema) -> dict:
    """Frictionless table-schema descriptor for an arrow schema."""
    return {"fields": [
        {"name": f.name, "type": next(v for k, v in _FRICTIONLESS.items() if str(f.type).startswith(k))}
        for f in schema
    ]}


def load(data_dir: str, table: str) -> pa.Table:
    return pq.read_table(os.path.join(data_dir, f"{table}.parquet")).replace_schema_metadata(None)


def _write(tbl: pa.Table, path: str, fmt: str) -> dict:
    if fmt == "parquet":
        pq.write_table(tbl, path)
    elif fmt == "csv":
        pcsv.write_csv(tbl, path)
    elif fmt == "csv.gz":
        raw = path[: -len(".gz")]
        pcsv.write_csv(tbl, raw)
        with open(raw, "rb") as src, gzip.open(path, "wb", compresslevel=1) as dst:
            shutil.copyfileobj(src, dst)
        os.remove(raw)
    elif fmt == "ndjson":
        # ISO 'T' timestamps: the form Spark's JSON reader parses by default
        cols = [
            pc.strftime(c, "%Y-%m-%dT%H:%M:%S") if pa.types.is_timestamp(c.type) else c
            for c in tbl.columns
        ]
        con = duckdb.connect()
        con.register("batch", pa.table(cols, names=tbl.column_names))
        con.execute(f"COPY batch TO '{path}' (FORMAT JSON)")
        con.close()
    else:
        raise ValueError(fmt)
    return {"path": path, "format": fmt, "rows": tbl.num_rows, "bytes": os.path.getsize(path)}


def lineitem_variants(data_dir: str, out_dir: str, seed: int, rows: int, formats: list[str]):
    """One seeded lineitem slice per format: rows drawn and shuffled by the
    seed, quantity and price jittered. ``(l_orderkey, l_linenumber)`` is not
    unique in the source tables, so each row carries ``l_rowkey``, its
    position in the source table, as the key. Returns ``(inputs, tables)``
    where ``tables[i]`` is the arrow table behind ``inputs[i]``."""
    base = load(data_dir, "lineitem")
    base = base.append_column("l_rowkey", pa.array(np.arange(base.num_rows, dtype=np.int64)))
    inputs, tables = [], []
    for i, fmt in enumerate(formats):
        rng = np.random.default_rng([seed, i])
        take = rng.choice(base.num_rows, size=rows, replace=False)
        tbl = base.take(pa.array(take))
        qty = tbl["l_quantity"].to_numpy() + rng.integers(0, 3, rows)
        price = np.round(tbl["l_extendedprice"].to_numpy() * rng.uniform(0.99, 1.01, rows), 2)
        tbl = tbl.set_column(tbl.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty, pa.float64()))
        tbl = tbl.set_column(
            tbl.schema.get_field_index("l_extendedprice"), "l_extendedprice", pa.array(price)
        )
        inputs.append(_write(tbl, os.path.join(out_dir, f"lineitem_{i}.{fmt}"), fmt))
        tables.append(tbl)
    return inputs, tables


def orders_base(data_dir: str, out_dir: str, seed: int, rows: int):
    """Seeded orders slice for the merge tables' initial load."""
    base = load(data_dir, "orders")
    rng = np.random.default_rng([seed, 1000])
    tbl = base.take(pa.array(np.sort(rng.choice(base.num_rows, size=rows, replace=False))))
    return _write(tbl, os.path.join(out_dir, "orders_base.parquet"), "parquet"), tbl


class OrdersBatches:
    """Seeded 1k-row orders batches for the merge rotation.

    Upsert batches hold ``existing_share`` of keys already in the base
    load, with a changed price and priority, and fresh keys for the rest;
    append batches hold fresh keys only. Fresh keys come from one counter
    above the base key range, so no two batches share a fresh key."""

    PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

    def __init__(self, base: pa.Table, out_dir: str, seed: int, size: int, existing_share: float):
        self.base, self.out_dir, self.seed = base, out_dir, seed
        self.size, self.existing = size, int(round(size * existing_share))
        self.next_key = int(pc.max(base["o_orderkey"]).as_py()) + 1

    def batch(self, index: int, kind: str):
        rng = np.random.default_rng([self.seed, 2000 + index])
        n_old = self.existing if kind == "upsert" else 0
        n_new = self.size - n_old
        old = self.base.take(pa.array(rng.choice(self.base.num_rows, size=n_old, replace=False)))
        new = self.base.take(pa.array(rng.choice(self.base.num_rows, size=n_new, replace=False)))
        keys = np.arange(self.next_key, self.next_key + n_new, dtype=np.int64)
        self.next_key += n_new
        new = new.set_column(0, "o_orderkey", pa.array(keys))
        tbl = pa.concat_tables([old, new])
        price = np.round(tbl["o_totalprice"].to_numpy() * rng.uniform(1.01, 1.2, tbl.num_rows), 2)
        prio = pa.array(rng.choice(self.PRIORITIES, tbl.num_rows))
        tbl = tbl.set_column(tbl.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price))
        tbl = tbl.set_column(tbl.schema.get_field_index("o_orderpriority"), "o_orderpriority", prio)
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        path = os.path.join(self.out_dir, f"orders_batch_{index:04d}.parquet")
        return _write(tbl, path, "parquet"), tbl


def copy_tables(data_dir: str, out_dir: str, tables: list[str]) -> list[dict]:
    """Copy the registry's tables so the engine reads only run-local files."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for t in tables:
        src = os.path.join(data_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        shutil.copyfile(src, dst)
        out.append({"path": dst, "format": "parquet", "rows": pq.ParquetFile(dst).metadata.num_rows,
                    "bytes": os.path.getsize(dst)})
    return out
