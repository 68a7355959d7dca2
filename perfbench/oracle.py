"""Order-insensitive result hashes and the DuckDB oracle that checks them.

Both engines' results are reduced to the same canonical form before
hashing: column names lower-cased, numbers rendered so that an integral
float equals the integer (DuckDB ``sum`` of a BIGINT comes back as a
HUGEINT, Spark's as a ``long``), other floats rounded to 9 places,
timestamps as ISO strings, and rows sorted. Two results hash equal iff
they hold the same multiset of rows under the same column names.

The oracle runs in a helper process (``python3 oracle.py``) speaking
JSON lines on stdin/stdout, so DuckDB adds nothing to the measured
driver's memory. It hashes a query's result over the benchmark's tables
(``data/sf<sf>/``), with a cache on disk in ``.cache/``: the tables are
fixed files, so an expensive oracle (a recursive closure, a
generated-literal replica) is evaluated once per checkout rather than
once per run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys

_EXACT_INT = 2 ** 53


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < _EXACT_INT:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _cell(v.tolist())
    return str(v)


def result_hash(columns, rows) -> str:
    """Hash of a result given its column names and an iterable of rows."""
    canon = sorted("\x1f".join(_cell(v) for v in r) for r in rows)
    h = hashlib.sha256("\x1e".join(c.lower() for c in columns).encode())
    for line in canon:
        h.update(b"\x1d")
        h.update(line.encode())
    return h.hexdigest()


def pandas_hash(pdf) -> str:
    """Hash of a pandas result; NaN/NaT cells hash as NULL."""
    rows = pdf.astype(object).where(pdf.notna(), None).itertuples(
        index=False, name=None)
    return result_hash(list(pdf.columns), rows)


class OracleClient:
    """Driver-side handle on the helper process."""

    def __init__(self, cache_root: str, sf: str):
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), cache_root, sf],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        ready = self._read()
        self.data_dir: str = ready["data_dir"]
        self.table_rows: dict[str, int] = ready["table_rows"]

    def _read(self) -> dict:
        line = self._proc.stdout.readline()
        if not line:
            raise RuntimeError("oracle helper exited")
        msg = json.loads(line)
        if "error" in msg:
            raise RuntimeError(f"oracle helper: {msg['error']}")
        return msg

    def _ask(self, **req) -> dict:
        self._proc.stdin.write(json.dumps(req) + "\n")
        self._proc.stdin.flush()
        return self._read()

    def hash(self, sql: str) -> str:
        return self._ask(sql=sql)["hash"]

    def parquet_hash(self, path: str) -> str:
        return self._ask(parquet=path)["hash"]

    def count(self, sql: str) -> int:
        return self._ask(count=sql)["count"]

    def close(self) -> None:
        if self._proc.poll() is None:
            self._proc.stdin.close()
            self._proc.wait(timeout=60)
        self._proc.stdout.close()


def data_dir(sf: str) -> str:
    """The directory holding the benchmark's tables at scale factor ``sf``
    (a copy of the reference test data, one parquet file per table)."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        f"sf{sf}")


def _serve(cache_root: str, sf: str) -> None:
    import duckdb
    import pyarrow.parquet as pq

    tables_dir = data_dir(sf)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    rows = {}
    for f in sorted(os.listdir(tables_dir)):
        t, ext = os.path.splitext(f)
        if ext != ".parquet":
            continue
        path = os.path.join(tables_dir, f)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        rows[t] = pq.ParquetFile(path).metadata.num_rows
    os.makedirs(cache_root, exist_ok=True)
    cache_path = os.path.join(cache_root, f"oracle_hashes_sf{sf}.json")
    try:
        with open(cache_path) as f:
            cache: dict[str, str] = json.load(f)
    except FileNotFoundError:
        cache = {}
    n_cached = len(cache)

    def out(msg: dict) -> None:
        sys.stdout.write(json.dumps(msg) + "\n")
        sys.stdout.flush()

    def run(sql: str) -> str:
        res = con.execute(sql)
        return result_hash([d[0] for d in res.description], res.fetchall())

    out({"data_dir": tables_dir, "table_rows": rows})
    try:
        for line in sys.stdin:
            req = json.loads(line)
            try:
                if "sql" in req:
                    key = hashlib.sha256(req["sql"].encode()).hexdigest()
                    if key not in cache:
                        cache[key] = run(req["sql"])
                    out({"hash": cache[key]})
                elif "parquet" in req:
                    out({"hash": run("SELECT * FROM read_parquet("
                                     f"'{req['parquet']}/*.parquet')")})
                else:
                    n = con.execute(
                        f"SELECT count(*) FROM ({req['count']})").fetchone()
                    out({"count": n[0]})
            except duckdb.Error as exc:
                out({"error": f"{type(exc).__name__}: {exc}"})
    finally:
        if len(cache) > n_cached:
            tmp = cache_path + f".{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, cache_path)
        con.close()


if __name__ == "__main__":
    _serve(sys.argv[1], sys.argv[2])
