"""Rebuild the engine's JVM shim jar from its committed Java source.

    python tools/build_jvm.py

Compiles ``flink_s3_read_write_spark/jvm/NioLocalFileSystem.java`` with
``javac --release 17`` against pyspark's bundled jars and writes
``flink_s3_read_write_spark/jvm/nio-local-fs.jar`` next to it.  The jar
is reproducible: its entries are sorted and carry a fixed timestamp,
and its manifest records the sha256 of the source it was built from
(``Source-SHA256``), which a tier-1 test compares with the committed
source so a stale jar cannot go unnoticed.  Run it after every edit of
the Java source and commit both files.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_s3_read_write_spark.session import NIO_FS_JAR, NIO_FS_SOURCE  # noqa: E402

DIGEST_KEY = "Source-SHA256"
_EPOCH = (1980, 1, 1, 0, 0, 0)  # the earliest time a zip entry can carry


def source_digest() -> str:
    with open(NIO_FS_SOURCE, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def jar_digest() -> str | None:
    """The source digest recorded in the jar's manifest, or None."""
    with zipfile.ZipFile(NIO_FS_JAR) as zf:
        manifest = zf.read("META-INF/MANIFEST.MF").decode()
    for line in manifest.splitlines():
        key, _, value = line.partition(": ")
        if key == DIGEST_KEY:
            return value.strip()
    return None


def _entry(name: str) -> zipfile.ZipInfo:
    info = zipfile.ZipInfo(name, _EPOCH)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    return info


def build() -> None:
    import pyspark

    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-Xlint:all,-path", "-Werror",
             "-cp", classpath, "-d", out, NIO_FS_SOURCE],
            check=True,
        )
        classes = sorted(
            os.path.relpath(p, out).replace(os.sep, "/")
            for p in glob.glob(os.path.join(out, "**", "*.class"), recursive=True)
        )
        manifest = f"Manifest-Version: 1.0\r\n{DIGEST_KEY}: {source_digest()}\r\n\r\n"
        with zipfile.ZipFile(NIO_FS_JAR, "w") as zf:
            zf.writestr(_entry("META-INF/MANIFEST.MF"), manifest)
            for name in classes:
                with open(os.path.join(out, name), "rb") as fh:
                    zf.writestr(_entry(name), fh.read())
    print(f"wrote {os.path.relpath(NIO_FS_JAR, ROOT)}: {', '.join(classes)}")


if __name__ == "__main__":
    build()
