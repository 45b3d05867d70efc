"""The local Python-worker daemon (``bigdatafinalproject_spark.worker_daemon``):
archives are re-read only when they change, new zips still import, and
a session works from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from bigdatafinalproject_spark import worker_daemon as wd
from tests.conftest import REPO


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"bdfp_zip_a": "A = 1\n"})
    zi = zipimport.zipimporter(str(archive))
    key = str(archive)
    wd._invalidate_if_changed(zi)
    reads = wd.directory_reads[key]
    for _ in range(3):
        wd._invalidate_if_changed(zi)
    assert wd.directory_reads[key] == reads
    # a rewritten archive (new inode, size and mtime) is re-read and
    # its new module becomes importable
    archive.unlink()
    _write_zip(archive, {"bdfp_zip_a": "A = 1\n", "bdfp_zip_b": "B = 2\n"})
    wd._invalidate_if_changed(zi)
    assert wd.directory_reads[key] == reads + 1
    assert zi.find_spec("bdfp_zip_b") is not None


def _require_daemon(spark):
    if spark.conf.get("spark.python.daemon.module", None) != wd.__name__:
        pytest.skip("session was not started with the engine's worker daemon")


def test_warm_worker_does_not_reread_pyspark_zip(spark):
    _require_daemon(spark)

    def probe(it):
        import os

        import pyarrow as pa
        import pyspark

        from bigdatafinalproject_spark import worker_daemon

        archive = getattr(pyspark.__spec__.loader, "archive", None)
        reads = worker_daemon.directory_reads.get(archive, 0)
        for _ in it:
            yield pa.RecordBatch.from_arrays(
                [pa.array([os.getpid()]), pa.array([archive]),
                 pa.array([reads])],
                ["pid", "archive", "reads"],
            )

    def run():
        rows = (
            spark.range(16).repartition(4)
            .mapInArrow(probe, "pid long, archive string, reads long")
            .collect()
        )
        return {(r.pid, r.archive, r.reads) for r in rows}

    first = run()
    if any(archive is None for _, archive, _ in first):
        pytest.skip("workers do not import pyspark from a zip")
    second = run()
    # the daemon reads each archive once before forking; a task in a
    # warm worker reuses that read, however many tasks ran before it
    assert {reads for _, _, reads in first | second} == {1}


def test_zip_added_after_warmup_imports_in_kernel(spark, tmp_path):
    _require_daemon(spark)

    def warm(it):
        yield from it

    spark.range(8).repartition(4).mapInArrow(warm, "id long").collect()
    name = f"bdfp_late_{os.getpid()}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use(it):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for b in it:
            yield pa.RecordBatch.from_arrays(
                [pa.array([value] * b.num_rows)], ["v"]
            )

    rows = spark.range(8).repartition(4).mapInArrow(use, "v long").collect()
    assert {r.v for r in rows} == {42}


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from bigdatafinalproject_spark.session import get_spark
from bigdatafinalproject_spark.operators.arrow_kernels import norms_arrow
spark = get_spark(app_name="bdfp-foreign-cwd")
assert spark.conf.get("spark.python.daemon.module").endswith("worker_daemon")
df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [6.0, 8.0])],
                           "id bigint, v array<double>")
print(sorted((r.id, r.n) for r in norms_arrow(df, "id", "v", "n").collect()))
spark.stop()
"""


def test_session_from_foreign_cwd_runs_arrow_kernel(tmp_path):
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")
    }
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT.format(repo=str(REPO))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[(1, 5.0), (2, 10.0)]"
