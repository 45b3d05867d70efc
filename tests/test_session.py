"""``session.get_spark`` on a local master: the JVM and the Python
workers talk over Unix domain sockets, in a per-process directory
whose socket paths always fit and which is gone after the process
exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from bigdatafinalproject_spark import session
from tests.conftest import REPO

# the longest AF_UNIX path, and Spark's socket name after the directory
_SOCK_PATH_MAX = 107
_SOCK_NAME = len(f"/.{'0' * 36}.sock")


def test_local_session_uses_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert sock_dir == session._socket_dir()
    assert os.path.isdir(sock_dir)
    assert len(os.fsencode(sock_dir)) + _SOCK_NAME <= _SOCK_PATH_MAX


@pytest.mark.skipif(
    not os.path.isdir("/proc/self/fd"), reason="needs /proc/self/fd"
)
def test_kernel_worker_connects_over_af_unix(spark):
    def families(it):
        import os
        import socket

        import pyarrow as pa

        found = set()
        for fd in os.listdir("/proc/self/fd"):
            try:
                if os.readlink(f"/proc/self/fd/{fd}").startswith("socket:"):
                    with socket.socket(fileno=os.dup(int(fd))) as s:
                        found.add(s.family.name)
            except OSError:
                pass
        for _ in it:
            yield pa.RecordBatch.from_arrays(
                [pa.array([",".join(sorted(found))])], ["families"]
            )

    rows = (
        spark.range(55).coalesce(1)
        .mapInArrow(families, "families string").collect()
    )
    found = set().union(*(r.families.split(",") for r in rows))
    assert "AF_UNIX" in found
    assert not found & {"AF_INET", "AF_INET6"}, found


_CHILD = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from bigdatafinalproject_spark.session import get_spark

    def ident(it):
        yield from it

    spark = get_spark(app_name="bdfp-session-child")
    conf = spark.sparkContext.getConf()
    rows = spark.range(55).coalesce(1).mapInArrow(ident, "id long").collect()
    print(json.dumps({{
        "enabled": conf.get("spark.python.unix.domain.socket.enabled"),
        "dir": conf.get("spark.python.unix.domain.socket.dir"),
        "id_sum": sum(r.id for r in rows),
    }}))
    if {stop}:
        spark.stop()
    """
)


@pytest.mark.parametrize("stop", [True, False], ids=["stopped", "not_stopped"])
def test_long_tmpdir_child_runs_kernel_and_leaves_no_socket(tmp_path, stop):
    """With a 96-character ``TMPDIR`` and ``java.io.tmpdir`` a socket
    path under them would not fit; the session still starts and runs a
    ``mapInArrow``. After the child exits, with or without
    ``spark.stop()``, its socket directory is gone and no socket file
    is left under its temporary directory."""
    base = str(tmp_path / "t")
    if len(base) > 96:
        pytest.skip("the temporary directory alone is longer than 96 bytes")
    long_tmp = base + "x" * (96 - len(base))
    os.makedirs(long_tmp)
    env = dict(
        os.environ,
        TMPDIR=long_tmp,
        SPARK_LOCAL_DIRS=long_tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={long_tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=str(REPO), stop=stop)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["enabled"] == "true"
    assert out["id_sum"] == sum(range(55))
    assert len(os.fsencode(out["dir"])) + _SOCK_NAME <= _SOCK_PATH_MAX
    assert not os.path.exists(out["dir"])
    left = [
        os.path.join(d, n)
        for d, _, names in os.walk(long_tmp)
        for n in names
        if n.endswith(".sock")
    ]
    assert left == []
