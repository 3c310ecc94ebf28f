"""Sources and sinks: local or S3 paths, batch and streaming.

Reference surface being re-expressed (SURVEY.md §2 Tier A):

- A1/A2 — ``env.readTextFile`` / ``env.readFile(TextInputFormat, ...)``
  with the default hidden-file filter
  (``S3ReadWriteExample.java:22-23``,
  ``S3FlinkFilterJacksonville.java:27-31``).  Spark's file source
  already skips ``_``/``.``-prefixed files, matching Flink's
  ``FilePathFilter.createDefaultFilter()``.
- A12 — ``StreamingFileSink.forRowFormat`` with a rolling policy
  (15 min rollover / 5 min inactivity / 128 MB–1 GB part cap,
  ``S3ReadWriteExample.java:30-38``).  Spark equivalent: batch
  ``df.write.text`` with ``maxRecordsPerFile`` as the part-size cap
  (record-count based), streaming ``writeStream`` with a processing
  trigger as the time-based roll.  Byte-exact rolling is declared
  out of scope (SURVEY.md §4.1).

Scale posture: everything reads/writes through Spark's FileFormat
data sources, so partition pruning, predicate pushdown and column
pruning apply; paths may be ``s3a://`` URIs unchanged.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    """Path of one synthetic table (local dir or s3a:// prefix)."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table.

    Parquet → Catalyst gets predicate pushdown + column pruning for
    free; at cluster scale the same call works on ``s3a://`` dirs with
    partition pruning when the layout is hive-partitioned.

    The ``events`` table is written with nanosecond timestamps, which
    Spark's parquet reader rejects by default; we read them as int64
    nanos (legacy flag, set at runtime so it works in any session) and
    convert to ``timestamp`` at microsecond precision with integer
    ``div`` (double division would lose precision above 2^53 ns).

    SIDE EFFECT: the nanosAsLong flag stays set on the session (it
    must remain active when the lazy plan later re-reads footers at
    action time), so any later read of third-party nanos parquet in
    the same session also decodes as bigint rather than erroring.

    The resolved DataFrame HANDLE is memoized per (applicationId,
    sf_dir, name) — r16: ``spark.read.parquet`` lists files and reads
    a footer for schema on EVERY call, tens of ms per table per query
    that add up across a 212-query session.  Same plan-memo
    discipline and caveat as ``_FAN_OUT_SPLITS``/``_BUILDER_MEMO``:
    identical plan by construction, rewrites-in-place under an
    already-read path need ``session.reset_plan_memos``.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        return _load_table_fresh(spark, sf_dir, name)
    key = (app, sf_dir, name)
    df = _TABLE_MEMO.get(key)
    if df is None:
        df = _load_table_fresh(spark, sf_dir, name)
        if len(_TABLE_MEMO) >= 4096:
            _evict_other_apps(_TABLE_MEMO, app)
        _TABLE_MEMO[key] = df
    elif name == "events":
        # keep the documented side effect alive even on memo hits (a
        # caller may have unset it; the lazy plan needs it at action)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return df


# (applicationId, sf_dir, table) -> resolved scan DataFrame handle.
# ASSUMPTION (shared by _BUILDER_MEMO and sql._VIEWS_REGISTERED): one
# SparkSession per application.  ``spark.newSession()`` clones share
# the applicationId but have separate catalogs/conf, so a memoized
# handle bound to a sibling session would leak across them (ADVICE
# r16).  Nothing in this repo uses newSession(); a caller that does
# must call ``session.reset_plan_memos`` when switching sessions.
_TABLE_MEMO: dict = {}


def _load_table_fresh(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Micros-precision parquet infers as TIMESTAMP_NTZ, on which
            # unix_micros()/epoch casts are illegal.  Normalize to TIMESTAMP
            # with epoch micros == the parquet-stored micros, independent of
            # the session timezone: the cast interprets the NTZ wall clock
            # in the session zone (epoch = wall - offset), and
            # from_utc_timestamp adds that same zone's offset back, so the
            # result's epoch equals the stored wall-clock micros whatever
            # the session zone.  (Residual caveat: wall clocks falling in a
            # DST "spring forward" gap of the session zone are unrepresent-
            # able in the intermediate cast; the driver corpus is UTC-
            # generated so none occur.)
            df = df.withColumn(
                "ts",
                F.from_utc_timestamp(
                    F.col("ts").cast("timestamp"), F.expr("current_timezone()")
                ),
            )
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Spread a CPU-heavy per-row stage across the session's cores
    when the upstream scan under-splits.

    Spark's map-side parallelism is bounded by the SCAN's split count
    (files × row groups), not by the cluster: a single-row-group
    parquet file is one task, so an expensive projection chained on it
    (interpreted higher-order functions, md5-per-gram hashing,
    Arrow-batched mapInPandas) runs on one core while the rest idle.
    At 100 TB this never happens — splits outnumber cores by orders of
    magnitude and this guard is a NO-OP (the condition is false, no
    exchange is added to the plan).  On few-split inputs it
    round-robins the rows once, so the repartition cost is the small
    input itself, repaid many times over by the parallel heavy stage.

    Use it between the scan and a CPU-bound projection, never before a
    key-partitioned shuffle (the shuffle already re-spreads).  Value-
    neutral by construction: round-robin repartitioning changes only
    WHERE rows are computed; every consumer here is per-row or
    order-insensitive-aggregate logic.

    The split-count probe (``df.rdd.getNumPartitions()``) forces full
    physical planning on the driver, so it is memoized per analyzed
    plan (``semanticHash``): the builders call fan_out with identical
    plans many times per session and only the first call pays the
    planning round-trip (ADVICE r08).  Streaming DataFrames pass
    through untouched — ``.rdd`` would raise on them, and a streaming
    micro-batch's parallelism is the source's to decide.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    try:
        target = target or spark.sparkContext.defaultParallelism
        # applicationId is unique per session lifetime (never recycled
        # the way id(spark) could be after GC), so a new session can't
        # inherit a dead session's memoized split counts.  Caveat: a
        # path rewritten with a different split count inside ONE
        # session keeps the stale memo — acceptable, fan_out is a
        # perf guard, and the correctness of the plan never depends
        # on it.
        key = (
            spark.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        # Non-JVM backends (Spark Connect): no sparkContext and no
        # .rdd either — pass through unchanged (the no-op-at-scale
        # posture; Connect deployments run against real clusters
        # where scans out-split cores anyway).
        return df
    n = _FAN_OUT_SPLITS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_FAN_OUT_SPLITS) >= 4096:  # bound a pathological session
            _evict_other_apps(_FAN_OUT_SPLITS, key[0])
        _FAN_OUT_SPLITS[key] = n
    if n < target:
        return df.repartition(target)
    return df


# (applicationId, analyzed-plan semanticHash) -> split count; a few
# dozen entries per session in practice, cleared at 4096.
_FAN_OUT_SPLITS: dict[tuple[str, int], int] = {}


def shared_builder(fn):
    """Memoize a shared-cached-builder's DataFrame HANDLE per
    (session, sf_dir, knobs) — a plan memo, never a result memo (r16).

    The builders construct large expression trees (SWAR vote lanes,
    md5 banding, LSH splits) and PySpark analyzes the growing tree
    eagerly on every transformation, so merely RE-CONSTRUCTING a
    builder costs driver time on every consumer call of every
    execution (measured 1.3-1.4 s per doc_simhash reconstruction at
    any SF — it is plan-size-, not data-, dependent; guide §7.3's
    planning-time trap).  Returning the one analyzed DataFrame makes
    later calls free while changing nothing the engine executes: the
    plan is identical by construction (the plan-keyed CacheManager
    already deduped the materialization; this dedupes the analysis).

    Keyed by ``applicationId`` like ``_FAN_OUT_SPLITS`` above, so a
    new session can never see a dead session's handles; cleared by
    ``session.reset_plan_memos`` alongside the other plan memos.
    Execution semantics are untouched: ``spark.catalog.clearCache()``
    unpersists the JVM-side data and the memoized handle simply
    re-materializes from parquet on next use.
    """
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf_dir, *args, **kwargs):
        try:
            app = spark.sparkContext.applicationId
        except Exception:
            return fn(spark, sf_dir, *args, **kwargs)
        key = (app, fn.__module__, fn.__qualname__, sf_dir, args,
               tuple(sorted(kwargs.items())))
        df = _BUILDER_MEMO.get(key)
        if df is None:
            df = fn(spark, sf_dir, *args, **kwargs)
            if len(_BUILDER_MEMO) >= 4096:
                _evict_other_apps(_BUILDER_MEMO, app)
            _BUILDER_MEMO[key] = df
        else:
            # A bare ``spark.catalog.clearCache()`` (check.py's
            # per-query isolation, plan_budget's cold derivation,
            # several tests) drops the CacheManager entries; before the
            # memo existed every builder call re-ran its body and so
            # re-registered its own cache AND its nested builders'
            # (doc_token_sets→doc_tokens, basket_pairs→basket_po).  A
            # shallow re-``.cache()`` of the outer handle would leave
            # the inner ones unregistered and change the cold plan
            # shapes plan_budget pins — so when the handle is found
            # uncached, re-run the body: the nested wrappers cascade
            # the same check.  Steady state (no clearCache — the bench)
            # pays one CacheManager lookup, never a reconstruction.
            lvl = df.storageLevel
            if not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap):
                df = fn(spark, sf_dir, *args, **kwargs)
                _BUILDER_MEMO[key] = df
        return df
    return wrapper


# (applicationId, module, builder, sf_dir, knobs) -> DataFrame handle.
_BUILDER_MEMO: dict = {}


def _evict_other_apps(memo: dict, app: str) -> None:
    """Overflow eviction for the plan memos: drop only entries from
    OTHER applicationIds (dead sessions), keeping the live session's
    handles hot (ADVICE r16 — a wholesale clear() silently re-paid
    full re-resolution for every live entry).  If the live session
    alone has grown pathological, fall back to clearing it too."""
    dead = [k for k in memo if k[0] != app]
    for k in dead:
        del memo[k]
    if len(memo) >= 4096:
        memo.clear()


def read_text_lines(spark: SparkSession, path: str, *, streaming: bool = False) -> DataFrame:
    """A1/A2: one row per line, single ``value: string`` column.

    ``streaming=True`` returns an unbounded file-source stream (new
    files under ``path`` are discovered per micro-batch), the direct
    twin of Flink's file monitoring source.
    """
    if streaming:
        return spark.readStream.format("text").load(path)
    return spark.read.text(path)


def read_raw_csv_lines(spark: SparkSession, path: str, *, streaming: bool = False) -> DataFrame:
    """The reference's "CSV" read is a raw line read (no quoting/
    escaping — parsing happens in the pipeline via split(','),
    ``S3FlinkFilterJacksonville.java:61``), so this is an alias of the
    text source kept for intent."""
    return read_text_lines(spark, path, streaming=streaming)


def _estimate_text_row_bytes(df: DataFrame, sample_rows: int = 10_000) -> float:
    """Average on-disk bytes per line (+1 for the newline) from a
    bounded prefix sample.  One small job over ``limit(sample_rows)``
    — never a full scan, so the estimate stays O(sample) even when
    ``df`` is 100 TB.  Uses the first column (text sinks are single-
    column by contract)."""
    row = (
        df.limit(sample_rows)
        .agg(F.avg(F.length(F.col(df.columns[0])) + 1).alias("b"))
        .collect()[0]
    )
    return float(row["b"] or 1.0)


def write_text(
    df: DataFrame,
    path: str,
    *,
    single_file: bool = False,
    max_records_per_file: int | None = None,
    max_part_bytes: int | None = None,
    mode: str = "overwrite",
) -> None:
    """A12 batch sink: newline-delimited text parts.

    ``single_file`` reproduces the reference's ``setParallelism(1)``
    output shape (``S3ReadWriteExample.java:19``); default is one part
    per partition, which is the scalable path.

    ``max_part_bytes`` is the byte-size rolling policy of the
    reference's ``withMaxPartSize`` (128 MB at
    ``S3ReadWriteExample.java:36``, 1 GB at
    ``S3FlinkFilterJacksonville.java:46``).  Spark's writer rolls on
    record count only, so the byte cap is converted to
    ``maxRecordsPerFile`` via a sampled average row size — parts land
    within sampling error (±~20%) of the byte target, matching the
    reference's best-effort roll (Flink, too, only checks the size
    cap at record boundaries).  ``max_records_per_file`` passes a
    record cap through directly and wins if both are given.
    """
    out = df.coalesce(1) if single_file else df
    if max_records_per_file is None and max_part_bytes is not None:
        avg = _estimate_text_row_bytes(out)
        max_records_per_file = max(1, int(max_part_bytes / avg))
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.text(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink.  ``sort_by`` sorts within each output partition
    before writing: parquet row groups then carry tight min/max stats
    on those columns, so later range/point filters skip whole row
    groups at the scan — the poor man's clustered index, and at 100 TB
    often the difference between reading 1% and 100% of a table."""
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    out = df.write.mode(mode)
    if partition_by:
        out = out.partitionBy(*partition_by)
    out.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    *,
    header: bool = True,
    streaming: bool = False,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Typed CSV source (quoting/escaping per RFC — the *schema-full*
    path; the reference's split(',') path is ``read_raw_csv_lines``).
    With an explicit schema the reader skips inference (mandatory for
    streaming, and the scalable choice in batch: inference scans data).
    ``corrupt_col`` enables the same PERMISSIVE dead-letter quarantine
    as :func:`read_json` (requires ``schema``).
    """
    reader = spark.readStream if streaming else spark.read
    r = reader.format("csv").option("header", header)
    if corrupt_col is not None:
        if not schema:
            raise ValueError("corrupt_col requires an explicit schema")
        schema = f"{schema}, {corrupt_col} string"
        r = (
            r.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
        )
    if schema:
        r = r.schema(schema)
    elif not streaming:
        r = r.option("inferSchema", True)
    return r.load(path)


def read_json(
    spark: SparkSession, path: str, schema: str | None = None, *,
    streaming: bool = False, corrupt_col: str | None = None,
) -> DataFrame:
    """Newline-delimited JSON source; explicit schema avoids inference.

    ``corrupt_col`` turns on quarantine-don't-crash semantics for a
    100 TB lake: malformed lines land whole in that string column
    (PERMISSIVE mode) with every schema field NULL, instead of
    failing the task or being silently dropped — downstream filters
    split clean rows from a dead-letter sink.  Requires ``schema``
    (the corrupt column must be part of the declared schema)."""
    reader = spark.readStream if streaming else spark.read
    r = reader.format("json")
    if corrupt_col is not None:
        if not schema:
            raise ValueError("corrupt_col requires an explicit schema")
        schema = f"{schema}, {corrupt_col} string"
        r = (
            r.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
        )
    if schema:
        r = r.schema(schema)
    return r.load(path)


def read_orc(spark: SparkSession, path: str, *, streaming: bool = False) -> DataFrame:
    """ORC columnar source — pushdown/pruning like parquet."""
    reader = spark.readStream if streaming else spark.read
    return reader.format("orc").load(path)


def compact_parquet(
    spark: SparkSession, src: str, dst: str, *, target_file_mb: int = 256
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_mb``.

    The S3 small-file problem is the classic silent killer of 100 TB
    pipelines — streaming sinks and over-parallel writes leave
    thousands of KB-scale objects, and every downstream scan pays a
    per-file open/list cost.  Partition count is sized from the actual
    on-disk bytes (Hadoop FS API, so it works for s3a:// too).
    Returns the number of output partitions.
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src)
    fs = path.getFileSystem(hconf)
    total_bytes = fs.getContentSummary(path).getLength()
    chunk = target_file_mb * 1024 * 1024
    n = max(1, -(-total_bytes // chunk))  # ceiling division
    spark.read.parquet(src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


def file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-file diagnostics for a table directory: rows per file (one
    column-pruned scan grouped on ``input_file_name``) joined to bytes
    per file from the filesystem listing (works for s3a:// too).

    The triage tool behind :func:`compact_parquet`: a healthy table
    shows few, large, evenly-sized files; thousands of KB-scale rows
    here mean every downstream scan pays per-object open/list cost."""
    from pyspark.sql import functions as F

    # input_file_name() and the FS listing render the scheme
    # differently (file:///p vs file:/p); normalize to a bare path.
    norm = lambda c: F.regexp_replace(c, "^[a-z0-9.+-]+:/+", "/")
    rows = (
        spark.read.parquet(path)
        .select(norm(F.input_file_name()).alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    it = fs.listFiles(jpath, True)
    sizes = []
    while it.hasNext():
        f = it.next()
        name = f.getPath().toString()
        if name.endswith(".parquet"):
            sizes.append((name, int(f.getLen())))
    sz = spark.createDataFrame(sizes, "file string, bytes long").select(
        norm(F.col("file")).alias("file"), "bytes"
    )
    return rows.join(sz, "file", "outer").select("file", "n_rows", "bytes")


def read_jdbc(
    spark: SparkSession, url: str, table: str, *,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC source with parallel partitioned reads.

    Without ``partition_column`` a JDBC read is a SINGLE connection —
    never acceptable at scale; with it, Spark issues
    ``num_partitions`` range-bounded queries in parallel.  Requires the
    driver jar on the classpath (not bundled in this environment —
    fails with a clear error otherwise)."""
    if partition_column is not None and (lower_bound is None or upper_bound is None):
        raise ValueError("partitioned JDBC read needs lower_bound and upper_bound")
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame, url: str, table: str, *,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink.  Each task opens its own connection and writes its
    partition — parallelism is the frame's partition count, so
    ``repartition(n)`` first to bound connection fan-in against the
    target database at scale."""
    writer = df.write.format("jdbc").mode(mode).option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def kafka_options(
    bootstrap_servers: str, topic: str, *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """The Kafka source option set, assembled separately so it is
    unit-testable without a broker or the spark-sql-kafka jar.
    ``max_offsets_per_trigger`` bounds per-micro-batch intake — the
    backpressure knob that keeps a 1000-executor streaming job from
    swallowing a week of backlog in one batch after downtime."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka(
    spark: SparkSession, bootstrap_servers: str, topic: str, *,
    streaming: bool = True, starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source (key/value binary + topic/partition/offset/ts).

    Requires the spark-sql-kafka package on the classpath (not bundled
    in this environment — fails with a clear error otherwise).  The
    returned frame is the raw Kafka schema; parse ``value`` with
    ``from_json``/``from_csv`` downstream."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("kafka")
    for k, v in kafka_options(
        bootstrap_servers, topic,
        starting_offsets=starting_offsets,
        max_offsets_per_trigger=max_offsets_per_trigger,
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def write_csv(df: DataFrame, path: str, *, header: bool = True, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def start_text_stream_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    trigger_seconds: int = 60,
    max_records_per_file: int | None = None,
):
    """A12 streaming sink: rolling text parts.

    The processing-time trigger is the analogue of the reference's
    15-minute rollover interval; every micro-batch closes its part
    files, and ``checkpointLocation`` gives exactly-once file commits —
    strictly stronger than the reference, which never enables
    checkpointing (SURVEY.md §2.2 checkpointing row).
    """
    writer = (
        df.writeStream.format("text")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    return _start_stream(df.sparkSession, writer, checkpoint)


# Spark's default checkpoint manager renames through Hadoop's
# FileContext; without the native libhadoop, the local filesystem forks
# `readlink` processes on every such rename (4-8 per commit, tens of ms
# each).  The FileSystem-based manager renames with an existence check
# plus a plain File.renameTo — the same no-overwrite guarantee, since
# Hadoop's local AbstractFileSystem.renameInternal also only checks for
# the target first.  HDFS and S3A keep Spark's default manager.
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_START_LOCK = threading.Lock()
_INIT_TIMEOUT_MS = 60_000


def _checkpoint_scheme(spark: SparkSession, checkpoint: str) -> str:
    """Filesystem scheme a checkpoint path resolves to; a path without
    one resolves against Hadoop's ``fs.defaultFS`` like Spark does."""
    scheme = urlparse(checkpoint).scheme
    if not scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        scheme = urlparse(default_fs or "file:///").scheme
    return scheme.lower()


def _start_stream(
    spark: SparkSession, writer, checkpoint: str, conf: dict[str, str] | None = None
):
    """``writer.start()`` with per-query SQL conf set on the session
    only until the query has initialized: ``conf``, plus the fork-free
    checkpoint manager when ``checkpoint`` is on the local filesystem.

    Scoping works because Spark clones the session in the
    StreamExecution constructor (inside ``start()``) and opens the
    offset, commit and sink logs there too; the state store and every
    batch run on the clone.  The sources and their metadata logs are
    created from the caller's session on the stream thread after
    ``start()`` returns, so the overrides stay until the query signals
    initialization.  ``spark.sql.shuffle.partitions`` is also recorded
    in the checkpoint's offset metadata, so a restarted query keeps the
    count it was created with whatever is passed here.  The lock
    serializes starts through this helper; another thread planning a
    query on the same session during a start sees the overrides.
    """
    overrides = dict(conf or {})
    if _checkpoint_scheme(spark, checkpoint) == "file":
        overrides[_CHECKPOINT_MANAGER_KEY] = _FS_CHECKPOINT_MANAGER
    with _START_LOCK:
        saved = {k: spark.conf.get(k, None) for k in overrides}
        try:
            for k, v in overrides.items():
                spark.conf.set(k, v)
            query = writer.start()
            try:
                query._jsq.streamingQuery().awaitInitialization(_INIT_TIMEOUT_MS)
            except Py4JJavaError:
                pass  # died initializing: query.exception() reports it
            return query
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row") -> DataFrame:
    """XML source (Spark 4 native reader): one row per ``row_tag``
    element, schema inferred from elements/attributes.  Rounds out the
    text-format source surface (CSV/JSON/text/XML) for feeds that
    still ship XML (sitemaps, legacy enterprise exports, arXiv dumps).
    """
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """XML sink (Spark 4 native writer), one ``row_tag`` element per row."""
    df.write.format("xml").option("rowTag", row_tag).mode("overwrite").save(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file source (``binaryFile`` format): one row per file
    with (path, modificationTime, length, content: binary) — the
    ingestion path a multimodal pipeline uses to land raw image/audio
    bytes next to typed metadata before the mapInPandas decode/feature
    operators (operators/multimodal.py) take over.  ``glob`` filters
    by pathname (e.g. ``*.png``).  At 100 TB the listing parallelizes
    across executors and ``spark.sql.files.maxPartitionBytes`` bounds
    per-task bytes exactly as for parquet scans.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def avro_available(spark: SparkSession) -> bool:
    """True when the external ``spark-avro`` DataSource module is on
    the session's JVM classpath.

    Spark ships Avro support as an EXTERNAL module
    (``org.apache.spark:spark-avro_2.13``): the pip ``pyspark``
    distribution carries ``avro-*.jar`` (the Avro runtime library,
    used internally for shuffle/scheduler serialization) but NOT the
    DataSource, so ``format("avro")`` fails to resolve there.  The
    probe runs the EXACT resolution ``format("avro")`` performs —
    Spark's ``DataSource.lookupDataSource`` — rather than a
    ``Class.forName`` (the pip build half-ships avro classes without
    registering the provider, so a class probe false-positives).
    """
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(  # noqa: SLF001
            "avro", spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        )
        return True
    except Exception:  # noqa: BLE001 — AnalysisException when unregistered
        return False


def _require_avro(spark: SparkSession) -> None:
    if not avro_available(spark):
        raise NotImplementedError(
            "Avro source/sink needs the external spark-avro DataSource "
            "(org.apache.spark:spark-avro_2.13, version-matched to Spark) "
            "on the classpath; this environment ships only the Avro "
            "runtime library.  Launch with --packages "
            "org.apache.spark:spark-avro_2.13:<spark-version> or drop the "
            "jar into $SPARK_HOME/jars — read_avro/write_avro then work "
            "unchanged (the gate self-heals: tests/test_io.py switches "
            "from asserting this error to running the full round-trip)."
        )


def read_avro(spark: SparkSession, path: str, *, streaming: bool = False) -> DataFrame:
    """Avro source (batch or streaming).

    Gated on the external spark-avro module — see ``avro_available``.
    Schema comes from the file; pass nothing else for the common case.
    At scale Avro is a ROW format: fine as a landing/interchange
    format (Kafka payloads, CDC feeds), wrong as the analytical store
    — pipelines here read Avro once and rewrite to parquet
    (``write_parquet``) so later scans get pushdown + column pruning.
    """
    _require_avro(spark)
    reader = spark.readStream if streaming else spark.read
    return reader.format("avro").load(path)


def write_avro(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Avro sink (gated on the external spark-avro module)."""
    _require_avro(df.sparkSession)
    df.write.format("avro").mode(mode).save(path)
