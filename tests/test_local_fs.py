"""The fork-free local filesystem (``jvm/NioLocalFileSystem.java``).

Without the native Hadoop library, Hadoop's local filesystem forks a
``chmod`` for every file, ``.crc`` file and directory it creates.  The
engine session serves ``file:`` with a ``LocalFileSystem`` whose raw
layer sets the same mode bits through ``java.nio``.  These tests pin
that micro-batches fork nothing, that every mode and ``.crc`` file is
what stock Hadoop gives, that the committed jar is built from the
committed source, and that a JVM without the jar is left alone.
"""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest

from flink_s3_read_write_spark import session
from tools import build_jvm

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RAW_CLASS = session.NIO_FS_CLASS + "$NioRawLocalFileSystem"


def _run_child(code: str, tmp_path, *args: str, env: dict | None = None,
               launcher: tuple[str, ...] = (sys.executable,)) -> subprocess.CompletedProcess:
    """Run ``code`` as a script in a new process (and a new JVM) with
    ``tmp_path / "work"`` and ``args`` as its arguments."""
    script = tmp_path / "child.py"
    script.write_text(textwrap.dedent(code))
    (tmp_path / "work").mkdir()
    pythonpath = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    out = subprocess.run(
        [*launcher, str(script), str(tmp_path / "work"), *args],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g", "PYTHONPATH": pythonpath,
             "PYSPARK_PYTHON": sys.executable, **(env or {})},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out


def test_committed_jar_is_built_from_committed_source():
    """The jar's manifest records the sha256 of the source it was built
    from; rebuild with ``python tools/build_jvm.py`` after any edit."""
    assert build_jvm.jar_digest() == build_jvm.source_digest()
    with zipfile.ZipFile(session.NIO_FS_JAR) as zf:
        names = set(zf.namelist())
    for cls in (session.NIO_FS_CLASS, RAW_CLASS):
        assert cls.replace(".", "/") + ".class" in names


_FORK_CHILD = """
    import os, sys
    from flink_s3_read_write_spark.session import build_session
    from flink_s3_read_write_spark.sources.io import start_text_stream_sink
    from flink_s3_read_write_spark.streaming import jobs

    root, log = sys.argv[1], os.environ["CHMOD_LOG"]

    def mark(tag):
        with open(log, "a") as fh:
            fh.write(f"--- {tag}\\n")

    # Stop and rebuild in one JVM, as a long-lived driver does.
    build_session("forks", cpus=2).stop()
    spark = build_session("forks", cpus=1)
    spark.sparkContext.setLogLevel("ERROR")
    mark("streams")
    src, stage = os.path.join(root, "in"), os.path.join(root, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    q1 = start_text_stream_sink(
        jobs.uppercase_stream(spark, src), os.path.join(root, "j1_out"),
        os.path.join(root, "j1_ckpt"), trigger_seconds=0)
    q3 = jobs.start_materialized_view(
        jobs.avg_by_key_update_stream(spark, src), os.path.join(root, "j3_view"),
        os.path.join(root, "j3_ckpt"), trigger_seconds=0)
    for b in range(3):
        name = f"part{b}.csv"
        with open(os.path.join(stage, name), "w") as fh:
            fh.writelines(f"{b}{i},Emp{i},30,City{i % 4},{50000 + i}.0\\n" for i in range(20))
        os.rename(os.path.join(stage, name), os.path.join(src, name))
        q1.processAllAvailable()
        q3.processAllAvailable()
    q1.stop()
    q3.stop()
    mark("control")
    # Stock Hadoop on the same JVM and PATH must hit the stub.
    jvm = spark._jvm
    raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    raw.setPermission(jvm.org.apache.hadoop.fs.Path(os.path.join(src, "part0.csv")),
                      jvm.org.apache.hadoop.fs.permission.FsPermission("644"))
    spark.stop()
"""


def test_micro_batches_fork_no_chmod(tmp_path):
    """Three micro-batches each of job 1's text sink and job 3's view,
    run in a child whose PATH starts with a logging ``chmod`` stub: the
    stub logs nothing once the session is up, yet logs the stock raw
    filesystem's ``setPermission`` in the same JVM, and every committed
    data and log file still has its ``.crc`` sibling."""
    stub_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    stub_dir.mkdir()
    stub = stub_dir / "chmod"
    stub.write_text('#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec /bin/chmod "$@"\n')
    stub.chmod(0o755)
    _run_child(_FORK_CHILD, tmp_path, env={
        "CHMOD_LOG": str(log), "PATH": f"{stub_dir}{os.pathsep}{os.environ['PATH']}",
    })
    work = tmp_path / "work"

    lines = log.read_text().splitlines()
    streams, control = lines.index("--- streams"), lines.index("--- control")
    assert lines[streams + 1:control] == []
    assert len(lines) > control + 1, "the chmod stub never ran: the test proves nothing"

    for ckpt in ("j1_ckpt", "j3_ckpt"):
        commits = os.listdir(work / ckpt / "commits")
        assert sorted(f for f in commits if not f.startswith(".")) == ["0", "1", "2"]
    checked = 0
    for top in ("j1_out", "j1_ckpt", "j3_view", "j3_ckpt"):
        for d, _, files in os.walk(work / top):
            for f in files:
                if not f.startswith("."):
                    assert f".{f}.crc" in files, os.path.join(d, f)
                    checked += 1
    assert checked >= 20


def _modes(spark, fs, root: str, modes: list[str]) -> dict:
    """``os.stat`` modes of a file and its ``.crc`` and of a dir that
    ``fs`` creates with each permission (both under the umask), and of
    a dir it then sets to that permission (not masked)."""
    jvm = spark._jvm
    Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    got = {}
    for m in modes:
        f, crc = os.path.join(root, f"f{m}"), os.path.join(root, f".f{m}.crc")
        d, s = os.path.join(root, f"d{m}"), os.path.join(root, f"s{m}")
        out = fs.create(Path(f), FsPermission(m), True, 4096, 1, 1 << 20, None)
        out.write(b"x")
        out.close()
        assert fs.mkdirs(Path(d), FsPermission(m))
        assert fs.mkdirs(Path(s))
        fs.setPermission(Path(s), FsPermission(m))
        got[m] = tuple(stat.S_IMODE(os.stat(p).st_mode) for p in (f, crc, d, s))
    return got


def test_nio_permissions_match_stock_local_fs(spark, tmp_path):
    """The engine session's ``file:`` filesystem is a checksummed
    ``LocalFileSystem`` over the shim, and every file, ``.crc`` file and
    directory it creates or chmods gets the mode stock Hadoop gives for
    the same call; a sticky ``1777`` goes through the stock fallback."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    assert jvm.java.lang.Class.forName("org.apache.hadoop.fs.ChecksumFileSystem").isInstance(fs)
    assert fs.getRawFileSystem().getClass().getName() == RAW_CLASS

    modes = ["644", "600", "640", "755", "700", "777", "1777"]
    (tmp_path / "nio").mkdir()
    (tmp_path / "stock").mkdir()
    nio = _modes(spark, fs, str(tmp_path / "nio"), modes)
    stock_fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock_fs.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    stock = _modes(spark, stock_fs, str(tmp_path / "stock"), modes)
    assert nio == stock
    # Hadoop's default umask (022) keeps these exact.
    assert nio["600"][:2] == (0o600, 0o600) and nio["777"][2:] == (0o755, 0o777)
    assert nio["1777"][3] == 0o1777


def test_nio_conf_for_new_and_running_jvms(spark, monkeypatch):
    """A JVM ``build_session`` launches gets the jar appended to the
    caller's class path; a running JVM that loads the class gets only
    ``fs.file.impl``; a caller's own ``fs.file.impl`` wins."""
    from pyspark import SparkContext

    impl = "spark.hadoop.fs.file.impl"
    assert session._nio_local_fs_conf({}) == {impl: session.NIO_FS_CLASS}
    assert session._nio_local_fs_conf({impl: "x.Fs"}) == {}

    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf = session._nio_local_fs_conf({"spark.driver.extraClassPath": "/opt/a.jar"})
    assert conf == {
        "spark.driver.extraClassPath": f"/opt/a.jar{os.pathsep}{session.NIO_FS_JAR}",
        impl: session.NIO_FS_CLASS,
    }


_NO_JAR_CHILD = """
    import os, sys
    from pyspark.sql import SparkSession
    from flink_s3_read_write_spark.session import NIO_FS_CLASS, build_session

    root, launch = sys.argv[1], sys.argv[2]
    if launch == "plain-session":
        SparkSession.builder.master("local[1]").config("spark.driver.memory", "1g").getOrCreate()

    def roundtrip(spark, name):
        # An uncached filesystem: a cached one would hide a missing class.
        jvm = spark._jvm
        for conf in (spark.sparkContext._jsc.hadoopConfiguration(),
                     spark._jsparkSession.sessionState().newHadoopConf()):
            fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
            assert fs.getClass().getName() != NIO_FS_CLASS
            fs.close()
        path = os.path.join(root, name)
        spark.range(5).write.parquet(path)
        assert spark.read.parquet(path).count() == 5

    spark = build_session("no-jar", cpus=1)
    roundtrip(spark, "first")
    spark.stop()
    roundtrip(build_session("no-jar", cpus=1), "rebuilt")
    print("ok")
"""


@pytest.mark.parametrize("launch", ["plain-session", "spark-submit"])
def test_build_session_in_jvm_without_the_jar(tmp_path, launch):
    """The JVM was launched without the shim on its class path, by a
    plain session or by spark-submit: ``build_session`` on it, and a
    rebuilt session in the same JVM, must leave ``fs.file.impl`` alone
    and local IO must work."""
    import pyspark

    launcher = (sys.executable,)
    if launch == "spark-submit":
        submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
        launcher = (submit, "--master", "local[1]", "--driver-memory", "1g")
    out = _run_child(_NO_JAR_CHILD, tmp_path, launch, launcher=launcher)
    assert out.stdout.strip().splitlines()[-1] == "ok"
