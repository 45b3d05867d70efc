"""Check every registered query against its DuckDB oracle, at two scales.

Usage: python scripts/oracle_sweep.py

Drives ``__spark_entry__.py`` the way the driver does: the file is
loaded by path, the session is a vanilla ``local[4]`` one with no engine
configs, ``entry()`` runs first, then every query of ``queries()`` in
its order, each compared with its ``oracle_sql()`` through DuckDB views
over the same parquet files. It runs at the test suite's two scales
(sf0.001 and sf0.01). The comparer is the test suite's
``assert_frames_match`` and the value hash is perfbench's
``frame_hash``, so the sweep, the tests and the benchmark agree on what
a match is.

Writes ``CORRECTNESS_FULL.json``: one row per (query, scale) with rows,
Spark schema, the value hash of the Spark result, and a status of
``match``, ``rows-only`` (no oracle), ``mismatch`` or ``error`` with the
exception text, plus the wall time of each scale. Per-query seconds go
to stdout only, so the file changes only when a result does. Each
failure is printed by name. Exits 1 if any query is neither ``match``
nor ``rows-only``.
"""
import importlib.util
import json
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench.oracles import frame_hash  # noqa: E402
from tests.conftest import (  # noqa: E402
    SF_DIR,
    SF_DIR_MID,
    assert_frames_match,
    duck_views,
)

OUT = REPO / "CORRECTNESS_FULL.json"
OK = ("match", "rows-only")


def check(spark, con, fn, sql, sf_dir: str) -> tuple[dict, str]:
    """One query at one scale: its result row and a timing note."""
    row: dict = {"rows": None, "schema": None, "hash": None}
    t0 = time.perf_counter()
    note = ""
    try:
        df = fn(spark, sf_dir)
        row["schema"] = df.schema.simpleString()
        sdf = df.toPandas()
        row["hash"], row["rows"] = frame_hash(sdf)
        note = f"spark={time.perf_counter() - t0:.2f}s"
        if sql is None:
            row["status"] = "rows-only"
        else:
            t0 = time.perf_counter()
            ddf = con.execute(sql).fetchdf()
            note += f" oracle={time.perf_counter() - t0:.2f}s"
            try:
                assert_frames_match(sdf, ddf)
                row["status"] = "match"
            except AssertionError as e:
                row["status"], row["error"] = "mismatch", str(e)[:2000]
    except Exception:
        row["status"] = "error"
        row["error"] = traceback.format_exc(limit=-3)[-4000:]
    return row, note


def main() -> int:
    if not __debug__:
        sys.exit("the comparer is built on assert: run without -O")

    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    queries, oracles = mod.queries(), mod.oracle_sql()
    meta = {"entry_rows": len(mod.entry(spark).collect()), "wall_s": {}}
    results = []
    for sf_dir in (SF_DIR, SF_DIR_MID):
        sf = Path(sf_dir).name
        con = duck_views(sf_dir)
        t0 = time.perf_counter()
        for name, fn in queries.items():
            row, note = check(spark, con, fn, oracles.get(name), sf_dir)
            results.append({"query": name, "sf": sf, **row})
            print(f"{sf} {name} {row['status']} rows={row['rows']} {note}", flush=True)
            if row["status"] not in OK:
                print(row["error"], flush=True)
        meta["wall_s"][sf] = round(time.perf_counter() - t0, 1)
        con.close()
    counts: dict[str, dict[str, int]] = {}
    for r in results:
        per = counts.setdefault(r["sf"], {})
        per[r["status"]] = per.get(r["status"], 0) + 1
    meta["counts"] = counts
    failed = [f"{r['sf']}/{r['query']}" for r in results if r["status"] not in OK]
    meta["failed"] = failed
    OUT.write_text(json.dumps({"meta": meta, "results": results}, indent=1) + "\n")
    print(json.dumps(meta))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
