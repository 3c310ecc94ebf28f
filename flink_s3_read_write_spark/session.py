"""SparkSession factory with local + cluster-ready (S3A) profiles.

The reference drives everything through a
``StreamExecutionEnvironment`` (``S3ReadWriteExample.java:16``); our
equivalent is a ``SparkSession`` configured once.  Scale posture:

- AQE on (runtime coalescing, skew-join splitting) so plans tuned at
  sf0.1 survive a 100x scale-up without re-tuning shuffle counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE's coalescing makes the initial number mostly
  a ceiling, so a few x total-cores is the right cluster setting.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
- S3A settings are applied only when requested: on a real deployment
  the magic committer removes the rename bottleneck on S3 writes,
  which is the single biggest S3-write scale trap.
- Streaming conf is per query, not session-wide: the engine's stream
  starters (``sources.io._start_stream``) give local-filesystem
  checkpoints Spark's FileSystem-based checkpoint manager — the
  default FileContext one forks `readlink` processes per rename
  without the native Hadoop library — and run the complete-mode
  materialized view on one state partition, since it rewrites its
  whole state every trigger anyway.  Batch queries are unaffected.
- Local file creates fork nothing: without the native Hadoop library,
  Hadoop's local filesystem sets the mode of every file, ``.crc`` file
  and directory it creates by forking ``chmod`` (about 3.7 ms each; 10
  per job-1 or job-2 trigger, 19 per job-3 trigger).  On a local master
  the ``file:`` scheme is served by ``jvm/NioLocalFileSystem.java``, a
  ``LocalFileSystem`` whose raw layer overrides only ``setPermission``
  to make the same ``chmod(2)`` call through ``java.nio``.  Checksums
  (``.crc``), file modes, state checksums and commit validation are
  Hadoop's and Spark's own; the sticky bit goes to the stock forked
  path.  Clusters, HDFS and S3A are untouched.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
NIO_FS_SOURCE = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
NIO_FS_JAR = os.path.join(_JVM_DIR, "nio-local-fs.jar")  # tools/build_jvm.py
NIO_FS_CLASS = "flink_s3_read_write_spark.jvm.NioLocalFileSystem"

# S3A options that matter at 100 TB; harmless locally but only applied
# for s3 profiles so local tests don't need hadoop-aws on the classpath.
_S3A_CONF = {
    "spark.hadoop.fs.s3a.aws.credentials.provider": (
        "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider,"
        "com.amazonaws.auth.EnvironmentVariableCredentialsProvider"
    ),
    # Magic committer: task commits write directly to the final
    # destination via multipart-upload completion — no O(files) rename
    # storm at job commit (the classic S3 output-committer bottleneck).
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    "spark.hadoop.fs.s3a.connection.maximum": "200",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    "spark.hadoop.fs.s3a.block.size": "128M",
    # Vectored / random IO for parquet range reads.
    "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
}


def build_session(
    app_name: str = "flink_s3_read_write_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    s3: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    On a cluster, the caller supplies master/deploy config externally
    (spark-submit); everything here is master-agnostic except the
    local[] fallback.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    # Only set master when not already launched under a cluster manager.
    if "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g")
        )
        extra_conf = {**(extra_conf or {}), **_nio_local_fs_conf(extra_conf or {})}
    if s3:
        for k, v in _S3A_CONF.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _nio_local_fs_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """Conf that serves ``file:`` with the fork-free shim, if the JVM can.

    A JVM this call launches gets the shim jar on its class path (after
    any caller-supplied ``spark.driver.extraClassPath``).  A JVM that is
    already running, launched by an earlier ``build_session``, a plain
    session or spark-submit, only gets ``fs.file.impl`` when it can load
    the shim: naming a missing class there would fail every local read.
    A caller-supplied ``spark.hadoop.fs.file.impl`` wins.
    """
    if "spark.hadoop.fs.file.impl" in extra_conf:
        return {}
    if SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        if not os.path.exists(NIO_FS_JAR):
            return {}
        cp = extra_conf.get("spark.driver.extraClassPath")
        return {
            "spark.driver.extraClassPath": os.pathsep.join(filter(None, [cp, NIO_FS_JAR])),
            "spark.hadoop.fs.file.impl": NIO_FS_CLASS,
        }
    SparkContext._ensure_initialized()  # connects to a running JVM
    jvm = SparkContext._jvm
    try:
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        jvm.java.lang.Class.forName(NIO_FS_CLASS, False, loader)
    except Py4JJavaError:  # ClassNotFoundException
        return {}
    return {"spark.hadoop.fs.file.impl": NIO_FS_CLASS}


def reset_plan_memos() -> None:
    """Clear the Python-side plan-keyed memos (fan_out split counts,
    IVF centroids, shared-builder DataFrame handles).

    ``spark.catalog.clearCache()`` only unpersists JVM-side cached
    relations; these module dicts live in the driver's Python
    process and would otherwise survive a cache reset (ADVICE r09).
    All are perf-or-recall-only (fan_out: partition-count guard; IVF:
    trained centroids; builder memo: analyzed plan HANDLES, r16 — the
    plans reference paths, not file contents), so clearing is always
    safe and needed only when files under an already-read path were
    rewritten in place mid-session.
    """
    from flink_s3_read_write_spark import sql
    from flink_s3_read_write_spark.operators import similarity
    from flink_s3_read_write_spark.sources import io

    io._FAN_OUT_SPLITS.clear()
    io._BUILDER_MEMO.clear()
    io._TABLE_MEMO.clear()
    sql._VIEWS_REGISTERED.clear()
    similarity._IVF_CENTROIDS.clear()


def release_shared_builders(spark: SparkSession) -> None:
    """Release every session-lifetime shared materialization at once.

    The shared builders (doc_tokens / doc_shingle_sets /
    doc_token_sets / doc_simhash / minhash_candidates /
    ring_candidates / ring_verify_scores / star2_candidates in
    queries_llmdata,
    customer_parts / basket_po / basket_pairs / purchase_edges in
    queries_graph)
    ``.cache()`` per call and rely on the plan-keyed CacheManager to
    dedupe — they deliberately have no per-builder unpersist, because
    mid-session eviction would silently double-execute every
    downstream consumer.  This helper is the callable form of the
    cache-lifetime contract (queries_llmdata NOTE): a long-lived
    session that walks many sf_dirs calls it between dirs, dropping
    JVM cache storage to zero AND resetting the Python-side memos
    that ``clearCache()`` cannot see.  Builders lazily re-materialize
    on next use, so this is always safe.
    """
    spark.catalog.clearCache()
    reset_plan_memos()
