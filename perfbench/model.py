"""DuckDB reference model and output checks.

The model applies overwrite, append and upsert to the same generated
inputs the engine ingests, and keeps the ``_id`` of every key once the
engine has assigned it. After each operation (outside the timed region)
DuckDB reads the live snapshot's parquet files and compares:

- the row count and the key set;
- a checksum over every data column, canonicalized per type so a CSV,
  NDJSON or parquet round trip compares equal;
- the ``_id`` invariants: keys whose ``_id`` is known keep it (matched
  upsert keys, earlier rows under append), and the keys this operation
  added carry exactly ``max + 1 .. max + n``, so numbering stays
  contiguous after overwrite and append.

Exports are checked for row count and ``_id`` order, and registry queries
against their DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pcsv

ROW_ID = "_id"


def _canon(col: str, typ: pa.DataType, alias: str) -> str:
    ref = f'{alias}."{col}"'
    if pa.types.is_integer(typ):
        return f"CAST({ref} AS BIGINT)"
    if pa.types.is_floating(typ):
        return f"ROUND(CAST({ref} AS DOUBLE), 6)"
    if pa.types.is_timestamp(typ):
        return f"epoch_us({ref})"
    return f"CAST({ref} AS VARCHAR)"


class TableModel:
    """Expected state of one engine table, kept in DuckDB."""

    def __init__(self, con: duckdb.DuckDBPyConnection, name: str, schema: pa.Schema, keys: list[str]):
        self.con, self.name, self.schema, self.keys = con, f"model_{name}", schema, keys
        self.cols = schema.names

    def _on(self, a: str, b: str) -> str:
        return " AND ".join(f'{a}."{k}" = {b}."{k}"' for k in self.keys)

    def overwrite(self, tbl: pa.Table) -> None:
        self.con.register("incoming", tbl)
        self.con.execute(f"CREATE OR REPLACE TABLE {self.name} AS SELECT *, NULL::BIGINT AS {ROW_ID} FROM incoming")

    def append(self, tbl: pa.Table) -> None:
        self.con.register("incoming", tbl)
        self.con.execute(f"INSERT INTO {self.name} SELECT *, NULL::BIGINT FROM incoming")

    def upsert(self, tbl: pa.Table) -> None:
        self.con.register("incoming", tbl)
        data = [c for c in self.cols if c not in self.keys]
        sets = ", ".join(f'"{c}" = b."{c}"' for c in data)
        self.con.execute(f"UPDATE {self.name} AS m SET {sets} FROM incoming b WHERE {self._on('m', 'b')}")
        self.con.execute(
            f"INSERT INTO {self.name} SELECT *, NULL::BIGINT FROM incoming b "
            f"WHERE NOT EXISTS (SELECT 1 FROM {self.name} m WHERE {self._on('m', 'b')})"
        )

    def check(self, files: list[str]) -> list[str]:
        """Compare the model with the snapshot made of ``files``; adopt the
        engine's ``_id`` for keys added by this operation. Returns the list
        of violated invariants (empty when the snapshot is correct)."""
        con, m = self.con, self.name
        if not files:
            return ["snapshot has no parquet files"]
        paths = "[" + ", ".join(f"'{f}'" for f in files) + "]"
        con.execute(f"CREATE OR REPLACE TEMP VIEW actual AS SELECT * FROM read_parquet({paths}, union_by_name=true)")
        errors = []
        n_model = con.execute(f"SELECT count(*) FROM {m}").fetchone()[0]
        n_actual = con.execute("SELECT count(*) FROM actual").fetchone()[0]
        if n_model != n_actual:
            errors.append(f"row count {n_actual} != expected {n_model}")
        k0 = self.keys[0]
        missing, extra = con.execute(
            f'SELECT count(*) FILTER (WHERE a."{k0}" IS NULL), count(*) FILTER (WHERE m."{k0}" IS NULL) '
            f"FROM {m} m FULL OUTER JOIN actual a ON {self._on('m', 'a')}"
        ).fetchone()
        if missing or extra:
            errors.append(f"key set differs: {missing} missing, {extra} unexpected")
        digest = {}
        for alias, rel in (("m", m), ("a", "actual")):
            expr = ", ".join(_canon(c, f.type, alias) for c, f in zip(self.cols, self.schema))
            digest[alias] = con.execute(f"SELECT sum(hash({expr})) FROM {rel} {alias}").fetchone()[0]
        if digest["m"] != digest["a"]:
            errors.append("value checksum differs")
        moved = con.execute(
            f"SELECT count(*) FROM {m} m JOIN actual a ON {self._on('m', 'a')} "
            f"WHERE m.{ROW_ID} IS NOT NULL AND m.{ROW_ID} <> a.{ROW_ID}"
        ).fetchone()[0]
        if moved:
            errors.append(f"{moved} existing keys changed {ROW_ID}")
        prev_max = con.execute(f"SELECT coalesce(max({ROW_ID}), 0) FROM {m}").fetchone()[0]
        lo, hi, distinct, n_new = con.execute(
            f"SELECT min(a.{ROW_ID}), max(a.{ROW_ID}), count(DISTINCT a.{ROW_ID}), count(*) "
            f"FROM {m} m JOIN actual a ON {self._on('m', 'a')} WHERE m.{ROW_ID} IS NULL"
        ).fetchone()
        if n_new and (lo, hi, distinct) != (prev_max + 1, prev_max + n_new, n_new):
            errors.append(
                f"new {ROW_ID} not contiguous: got {lo}..{hi} ({distinct} distinct) "
                f"for {n_new} rows after max {prev_max}"
            )
        con.execute(
            f"UPDATE {m} AS m SET {ROW_ID} = a.{ROW_ID} FROM actual a "
            f"WHERE m.{ROW_ID} IS NULL AND {self._on('m', 'a')}"
        )
        return errors


def table_files(path: str) -> list[str]:
    """Live parquet files of an engine table: the current snapshot of a
    ``ParquetTable``, or every directory the manifest of a
    ``BucketedParquetTable`` lists."""
    from aircan_spark.bucketed import _MANIFEST
    from aircan_spark.table import _VERSION_FILE

    manifest = os.path.join(path, _MANIFEST)
    if os.path.exists(manifest):
        with open(manifest) as fh:
            dirs = [d for ds in json.load(fh)["buckets"].values() for d in ds]
        return sorted(f for d in dirs for f in glob.glob(os.path.join(path, d, "*.parquet")))
    with open(os.path.join(path, _VERSION_FILE)) as fh:
        version = int(fh.read().strip())
    return sorted(glob.glob(os.path.join(path, f"v{version}", "*.parquet")))


def check_export(path: str, rows: int) -> list[str]:
    """An ordered CSV export: ``rows`` rows whose ``_id`` strictly increases
    across the part files in name order."""
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    ids = [
        pcsv.read_csv(p, convert_options=pcsv.ConvertOptions(include_columns=[ROW_ID]))[ROW_ID]
        for p in parts
    ]
    ids = pa.chunked_array(ids, pa.int64()).to_numpy() if ids else []
    errors = []
    if len(ids) != rows:
        errors.append(f"export has {len(ids)} rows, table has {rows}")
    if len(ids) > 1 and not (ids[1:] > ids[:-1]).all():
        errors.append(f"export not ordered by {ROW_ID}")
    return errors


def canonical_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns and rows; dates and datetimes as ISO text."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%dT%H:%M:%S")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: pd.Timestamp(v).strftime("%Y-%m-%dT%H:%M:%S") if hasattr(v, "toordinal") else str(v)
            )
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_query(got: pd.DataFrame, oracle: duckdb.DuckDBPyConnection, sql: str | None, recount: int) -> list[str]:
    """A registry result against its DuckDB oracle: columns, rows and
    values (floats to 1e-9). Without an oracle only the row count is
    checked: the collected rows must match a separate ``count()``."""
    if sql is None:
        return [] if len(got) == recount else [f"collected {len(got)} rows, count() gave {recount}"]
    want = oracle.sql(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != oracle {len(want)}"]
    try:
        pd.testing.assert_frame_equal(
            canonical_frame(got), canonical_frame(want), check_dtype=False, check_exact=False, rtol=0, atol=1e-9
        )
    except AssertionError as exc:
        return ["values differ from oracle: " + str(exc).splitlines()[0]]
    return []
