"""Correctness expectations, computed outside every timed window.

- Query ops: the registry's DuckDB ``oracle_sql()`` twin over the same
  parquet tables, normalized with ``tools/check_oracle.py``'s own
  ``norm_rows`` (an order-insensitive multiset of normalized rows, exact
  values), so a benchmark pass is held to the correctness gate's rule.
- MapReduce ops: the plugin's own ``f_map``/``f_reduce`` run in plain
  Python with the reference's first-byte partitioner and a byte-order
  pair sort, giving the exact bytes of every reducer file.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys
from collections import Counter
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import TABLES, norm_rows  # noqa: E402

# DuckDB answers for the query ops are cached here between runs: each run
# of the query workload would otherwise repeat the same ~5 s of oracle work
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")


@dataclass
class QueryExpectation:
    cols: list[str]
    rows: Counter


def _oracle_key(names: list[str], oracles: dict[str, str], sf_dir: str) -> str:
    """Changes with any query's SQL, any table file, DuckDB's version or
    the normalization code."""
    import duckdb

    h = hashlib.sha256(duckdb.__version__.encode())
    with open(os.path.join(ROOT, "tools", "check_oracle.py"), "rb") as fh:
        h.update(fh.read())
    for name in names:
        h.update(f"\0{name}\0{oracles[name]}".encode())
    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f"\0{t}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:32]


def query_expectations(names: list[str], oracles: dict[str, str], sf_dir: str):
    """{name: QueryExpectation}, from the cache or else from DuckDB."""
    path = os.path.join(CACHE_DIR, f"oracle-{_oracle_key(names, oracles, sf_dir)}.pickle")
    try:
        with open(path, "rb") as fh:
            return pickle.load(fh)
    except FileNotFoundError:
        pass
    out = _duckdb_expectations(names, oracles, sf_dir)
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(out, fh)
    os.replace(tmp, path)
    return out


def _duckdb_expectations(names: list[str], oracles: dict[str, str], sf_dir: str):
    """Results are fetched through Arrow, as the correctness gate does, so
    DuckDB types reach ``norm_rows`` exactly as the gate sees them."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        out = {}
        for name in names:
            tbl = con.sql(oracles[name]).arrow()
            cols = list(tbl.column_names)
            cells = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            out[name] = QueryExpectation(cols, norm_rows(cols, list(zip(*cells))))
        return out
    finally:
        con.close()


def check_query(want: QueryExpectation, cols: list[str], rows: list) -> str | None:
    """None when the Spark result equals the oracle, else a reason."""
    if sorted(cols) != sorted(want.cols):
        return f"columns {sorted(cols)} != {sorted(want.cols)}"
    got = norm_rows(cols, rows)
    if got != want.rows:
        n_got, n_want = sum(got.values()), sum(want.rows.values())
        return f"values differ ({n_got} rows vs {n_want} expected)"
    return None


def reference_partition(key: str, r: int) -> int:
    """The reference's reducer choice: the key's first byte, ASCII
    lowercased; any non-ASCII lead byte routes as 0xEF (the U+FFFD that
    Go substitutes for a split rune); an empty key goes to 0."""
    if not key:
        return 0
    b = key.encode("utf-8")[0]
    if 65 <= b <= 90:
        b += 32
    elif b > 127:
        b = 239
    return b % r


def _pairs(out: list) -> list[tuple[str, str]]:
    """The plugin's flat [k, v, k, v, ...] output as pairs (the plugins
    used here always emit an even count)."""
    flat = [str(x).rstrip("\n") for x in out]
    return list(zip(flat[0::2], flat[1::2]))


def mr_expected(records, f_map, f_reduce, r: int) -> dict[str, bytes]:
    """{reducer file name: bytes} for ``records`` of (file, line_number,
    line). Reducers that emit nothing write no file."""
    parts: dict[int, list[tuple[str, str]]] = {}
    for file, line_number, line in records:
        out: list = []
        f_map(file, line_number, line, out)
        for k, v in _pairs(out):
            parts.setdefault(reference_partition(k, r), []).append((k, v))
    files = {}
    for r_id, pairs in parts.items():
        pairs.sort(key=lambda kv: (kv[0].encode(), kv[1].encode()))
        lines: list[str] = []
        f_reduce([k for k, _ in pairs], [v for _, v in pairs], lines)
        if lines:
            files[f"r{r_id}"] = "".join(line + "\n" for line in lines).encode()
    return files


def text_lines(data: bytes) -> list[str]:
    """Lines of a newline-terminated text file (no trailing empty line)."""
    lines = data.decode("utf-8").split("\n")
    return lines[:-1] if lines and lines[-1] == "" else lines
