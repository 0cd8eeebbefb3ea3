"""Output check: each query's Spark output against its DuckDB oracle.

The comparison is the exact, order-insensitive one of `dev/check.py`:
columns sorted by name, equal row counts, then the rows stringified and
sorted must be identical. The oracle side depends only on the SQL text
and the input bytes, so its stringified rows are cached on both.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(map(tuple, df.astype(str).values.tolist()))


def _spark_rows(path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        raise ValueError("no spark output")
    return _rows(pd.read_parquet(path))


def _compare(got, exp):
    (gc, gs), (ec, es) = got, exp
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if len(gs) != len(es):
        return f"rows {len(gs)} vs {len(es)}"
    if gs != es:
        bad = [(g, e) for g, e in zip(gs, es) if g != e][:3]
        return f"value mismatch, first diffs: {bad}"
    return None


class OracleCheck:
    def __init__(self, data_dir, cache_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        self.digest = data_digest(data_dir)
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def _oracle_rows(self, sql):
        key = hashlib.sha256((sql + "\0" + self.digest).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [tuple(r) for r in rows]
        cols, rows = _rows(self.con.execute(sql).df())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump([cols, rows], f)
        os.replace(tmp, path)
        return cols, rows

    def against_oracle(self, spark_out, sql):
        """None when the output matches, else what differs."""
        try:
            got = _spark_rows(spark_out)
            exp = self._oracle_rows(sql)
        except Exception as e:  # noqa: BLE001 - every failure is a finding
            return f"{type(e).__name__}: {e}"
        return _compare(got, exp)


def against_expected(spark_out, expected_out):
    """Row-for-row comparison of two Spark outputs."""
    try:
        return _compare(_spark_rows(spark_out), _spark_rows(expected_out))
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
