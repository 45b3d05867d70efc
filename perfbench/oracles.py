"""Result hashes of the DuckDB oracles over the benchmark's data.

Some oracles take minutes in DuckDB (the IVF-PQ and MMR ones replay a
whole k-means training in SQL), far more than one benchmark run may
spend, so their hashes are computed once and stored in
``oracle_hashes.json`` next to the MD5 of the oracle SQL they came from.
A run compares each op's result hash with the stored one; when the
registered oracle SQL no longer matches the stored MD5 the run
recomputes that oracle in DuckDB instead of trusting a stale hash.

Refresh the file (from the repository root) with::

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
HASHES = HERE / "oracle_hashes.json"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def frame_hash(pdf) -> tuple[str, int]:
    """Order-insensitive hash of a pandas frame: columns by name, rows
    by their repr (NaN-safe, unlike tuple equality)."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(t) for t in pdf[cols].itertuples(index=False))
    h = hashlib.md5(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def sql_md5(sql: str) -> str:
    return hashlib.md5(sql.encode()).hexdigest()


def duckdb_hash(sql: str, sf_dir: str) -> tuple[str, int]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    try:
        return frame_hash(con.execute(sql).fetchdf())
    finally:
        con.close()


def load() -> dict:
    try:
        return json.loads(HASHES.read_text())["queries"]
    except (OSError, ValueError, KeyError):
        return {}


def expected(name: str, oracle_sql: str, sf_dir: str, stored: dict) -> tuple[str, int]:
    """The oracle's result hash: the stored one while its SQL is
    unchanged, else recomputed in DuckDB."""
    entry = stored.get(name)
    if entry and entry["oracle_md5"] == sql_md5(oracle_sql):
        return entry["hash"], entry["rows"]
    return duckdb_hash(oracle_sql, sf_dir)


def main() -> None:
    root = HERE.parent
    sys.path.insert(0, str(root))
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS, check_registered

    from bigdatafinalproject_spark import registry

    sf_dir = str(HERE / "data" / "sf0.01")
    names = sorted(
        {n for ops in WORKLOADS.values() for n in check_registered(ops, set(registry.QUERIES))}
    )
    out = {}
    for name in names:
        sql = registry.ORACLES[name]
        h, rows = duckdb_hash(sql, sf_dir)
        out[name] = {"oracle_md5": sql_md5(sql), "hash": h, "rows": rows}
        print(name, rows, h, flush=True)
    HASHES.write_text(
        json.dumps({"sf_dir": "perfbench/data/sf0.01", "queries": out}, indent=1, sort_keys=True)
        + "\n"
    )


if __name__ == "__main__":
    main()
