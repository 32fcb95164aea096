"""Result checks: DuckDB oracle verification and Spark-side fingerprints.

Each request is verified once per input (untimed) against its
``oracle_sql()`` twin with ``tools/oracle_check.py``'s ``canon`` (row
count + column names + order-insensitive value hash). The verified
output's Spark-side fingerprint is then recorded, and every timed
execution of the request must reproduce it.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import Column, DataFrame, functions as F, types as T


def content_key(paths: list[str]) -> str:
    """sha256 over the bytes of every file under ``paths`` (files or
    directories), with their relative names — the identity of an
    input, or of the engine's source tree."""
    h = hashlib.sha256()
    for top in sorted(paths):
        files = [top]
        if os.path.isdir(top):
            files = sorted(
                os.path.join(d, f)
                for d, _, fs in os.walk(top)
                for f in fs
                if not f.endswith((".pyc", ".crc"))
            )
        for f in files:
            h.update(os.path.relpath(f, os.path.dirname(top)).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class JsonCache:
    """A small JSON dict persisted in one file."""

    def __init__(self, path: str):
        self.path = path
        self.data: dict = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.data = json.load(fh)

    def get(self, key):
        return self.data.get(key)

    def put(self, key, value) -> None:
        self.data[key] = value
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.data, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def oracle_canon(root: str, data_dir: str, names: list[str]) -> dict:
    """DuckDB oracle ``canon`` for each request name over ``data_dir``:
    {name: [rows, columns, value_hash]}."""
    import duckdb

    import __spark_entry__ as E
    from tools.oracle_check import canon

    sqls = E.oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(data_dir, f)
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.sql(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{src}')"
            )
        return {n: list(canon(con.sql(sqls[n]).df())) for n in names}
    finally:
        con.close()


def matches_oracle(pdf, expected) -> bool:
    """Does a collected pandas result reproduce the oracle's canon?"""
    from tools.oracle_check import canon

    return list(canon(pdf)) == list(expected)


def _float_type(dt: T.DataType) -> T.DataType:
    """``dt`` with every DoubleType narrowed to FloatType: last-bit
    differences from summation order must not change a fingerprint."""
    if isinstance(dt, T.DoubleType):
        return T.FloatType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_float_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _float_type(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _float_type(dt.keyType),
            _float_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _hashable(name: str, dt: T.DataType) -> Column:
    c = F.col(f"`{name}`")
    if isinstance(dt, T.MapType):
        # maps cannot be hashed; their sorted entries can
        return F.array_sort(F.map_entries(c.cast(_float_type(dt))))
    return c.cast(_float_type(dt))


def fingerprint_df(df: DataFrame) -> DataFrame:
    """One-row aggregate that forces the whole result and summarises
    it order-insensitively: row count and the sum of per-row
    xxhash64 values (mod 2^31-1) over all columns in name order."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_hashable(f.name, f.dataType) for f in fields])
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod("h", F.lit(2147483647))), F.lit(0)).alias("s"),
    )


def fingerprint(row, columns: list[str]) -> str:
    """The fingerprint string of a collected ``fingerprint_df`` row."""
    return f"{row['n']}:{row['s']}:{','.join(sorted(columns))}"
